"""Output checks. Each takes plain pandas/Python values and returns a
list of problems (empty = pass), so the benchmark's own tests can feed
them deliberately wrong results. Expected values come from the oracles
in ``tests/oracle.py``; they are imported, never copied."""

from __future__ import annotations

import importlib.util
import math
import os

import numpy as np
import pandas as pd

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_oracle():
    spec = importlib.util.spec_from_file_location(
        "oracle", os.path.join(_ROOT, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


oracle = _load_oracle()

TOL = 1e-6  # metres / GVI fraction; engine and oracle differ by float rounding only


def _none(v):
    return None if v is None or (isinstance(v, float) and math.isnan(v)) else v


def _close(a, b) -> bool:
    """Equal within TOL; None and NaN (a missing value) equal each other."""
    a, b = _none(a), _none(b)
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= TOL


def equals(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got}, want {want}"]


def points_match_oracle(points: pd.DataFrame, roads: pd.DataFrame, spacing: int) -> list[str]:
    want = oracle.oracle_sample_points(roads, spacing)
    got = points.sort_values("point_id").reset_index(drop=True)
    if len(got) != len(want):
        return [f"sample points: got {len(got)} rows, want {len(want)}"]
    problems = []
    for col in ("point_id", "road_id", "offset_m"):
        bad = int((got[col].to_numpy() != want[col].to_numpy()).sum())
        if bad:
            problems.append(f"sample points: {bad} rows differ in {col}")
    for col in ("x", "y"):
        err = float(np.max(np.abs(got[col].to_numpy() - want[col].to_numpy())))
        if err > TOL:
            problems.append(f"sample points: {col} off by up to {err:.3g} m")
    return problems


def gvi_matches_oracle(rows: pd.DataFrame, pages: pd.DataFrame) -> list[str]:
    """Scored hit rows (page_url, gvi, is_panoramic, missing, error) vs
    ``oracle_gvi_score`` on the generated page text and panorama flag."""
    by_url = pages.set_index("url")
    problems = []
    for r in rows.itertuples(index=False):
        page = by_url.loc[r.page_url]
        gvi, pano, missing, error = oracle.oracle_gvi_score(page["text"], bool(page["is_panoramic"]))
        if not (
            _close(r.gvi, gvi)
            and bool(r.is_panoramic) == pano
            and bool(r.missing) == missing
            and bool(r.error) == error
        ):
            problems.append(
                f"point {r.point_id}: got ({r.gvi}, {r.is_panoramic}, {r.missing}, {r.error}), "
                f"want ({gvi}, {pano}, {missing}, {error})"
            )
    return problems


def per_road_total(per_road: pd.DataFrame, n_points: int) -> list[str]:
    return equals("sum of gvi_per_road.total_points", int(per_road["total_points"].sum()), n_points)


def funnel_drops(docs: pd.DataFrame, n_quality: int, near_ids: list) -> list[str]:
    """Planted junk fails the quality gate, every planted near-dup is
    dropped, and every normal doc (near-dup originals included)
    survives near-dedup."""
    problems = equals("docs passing the quality gate", n_quality, int((docs["kind"] != "junk").sum()))
    kept = set(int(i) for i in near_ids)
    want = set(docs.loc[docs["kind"] == "normal", "doc_id"].astype(int))
    for label, ids in (("kept junk", kept & set(docs.loc[docs["kind"] == "junk", "doc_id"])),
                       ("kept near-dups", kept & set(docs.loc[docs["kind"] == "near_dup", "doc_id"])),
                       ("dropped normal docs", want - kept)):
        if ids:
            problems.append(f"{label}: {len(ids)} (e.g. {sorted(ids)[:5]})")
    return problems


def lsh_nothing_dropped(metrics: dict) -> list[str]:
    return [f"lsh_{k} = {metrics[k]}" for k in ("dropped_buckets", "dropped_members") if metrics[k] != 0]


def semdedup_drops(docs: pd.DataFrame, dropped: list) -> list[str]:
    missed = set(docs.loc[docs["kind"] == "near_dup", "doc_id"].astype(int)) - set(int(i) for i in dropped)
    return [f"planted semantic dups kept: {len(missed)} (e.g. {sorted(missed)[:5]})"] if missed else []


def pack_matches_oracle(docs: pd.DataFrame, packed: pd.DataFrame, budget: int) -> list[str]:
    """Packed rows (bin_id, n_docs, n_tokens) equal the bins of
    ``duckdb_pack_assignments`` over the pack input, and the bin count is
    ⌈tokens/budget⌉ counted up to the last doc's first token: a doc opens
    the bin its first token falls in, so the rest of the last doc adds no
    bin."""
    want = oracle.duckdb_pack_assignments(docs, budget)
    bins = (
        want.groupby("bin_id").agg(n_docs=("doc_id", "size"), n_tokens=("n_tokens", "sum"))
        .reset_index().astype("int64")
    )
    got = packed.sort_values("bin_id").reset_index(drop=True)[["bin_id", "n_docs", "n_tokens"]].astype("int64")
    problems = [] if got.equals(bins) else [f"packed rows differ from the oracle ({len(got)} vs {len(bins)} bins)"]
    tokens_before_last = int(want["n_tokens"].sum()) - int(want["n_tokens"].iloc[-1])
    return problems + equals("bins", len(got), -(-(tokens_before_last + 1) // budget))

