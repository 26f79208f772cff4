"""Each output check passes on the right result and fails on a
deliberately wrong one; the seeded generators are deterministic.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import checks  # noqa: E402
import inputs  # noqa: E402
from streetview_naturevisibility_spark.fixtures.generate import gen_roads  # noqa: E402


@pytest.fixture(scope="module")
def roads():
    return gen_roads(20, seed=3)


@pytest.fixture(scope="module")
def docs():
    return inputs.docs_frame(2_000, seed=5)


def test_points_check(roads):
    good = checks.oracle.oracle_sample_points(roads, 50)
    assert checks.points_match_oracle(good.sample(frac=1.0, random_state=0), roads, 50) == []
    moved = good.copy()
    moved.loc[3, "x"] += 0.01
    assert checks.points_match_oracle(moved, roads, 50)
    relabelled = good.copy()
    relabelled.loc[0, "road_id"] = "r9999"
    assert checks.points_match_oracle(relabelled, roads, 50)
    assert checks.points_match_oracle(good.iloc[1:], roads, 50)


def test_gvi_check():
    _, pages = inputs.pages_table(30, seed=2)
    rows = []
    for i, p in pages.iterrows():
        gvi, pano, missing, error = checks.oracle.oracle_gvi_score(p["text"], bool(p["is_panoramic"]))
        rows.append({"point_id": i, "page_url": p["url"], "gvi": gvi, "is_panoramic": pano,
                     "missing": missing, "error": error})
    import pandas as pd

    good = pd.DataFrame(rows)
    assert checks.gvi_matches_oracle(good, pages) == []
    scored = good[good["gvi"].notna()].index[0]
    wrong = good.copy()
    wrong.loc[scored, "gvi"] += 0.01
    assert checks.gvi_matches_oracle(wrong, pages)
    wrong = good.copy()
    wrong.loc[0, "missing"] = not wrong.loc[0, "missing"]
    assert checks.gvi_matches_oracle(wrong, pages)


def test_per_road_total_check():
    import pandas as pd

    per_road = pd.DataFrame({"road_id": ["a", "b"], "total_points": [3, 4]})
    assert checks.per_road_total(per_road, 7) == []
    assert checks.per_road_total(per_road, 8)


def test_funnel_check(docs):
    normal = docs.loc[docs["kind"] == "normal", "doc_id"].tolist()
    n_quality = int((docs["kind"] != "junk").sum())
    assert checks.funnel_drops(docs, n_quality, normal) == []
    dup = int(docs.loc[docs["kind"] == "near_dup", "doc_id"].iloc[0])
    junk = int(docs.loc[docs["kind"] == "junk", "doc_id"].iloc[0])
    assert checks.funnel_drops(docs, n_quality, normal + [dup])
    assert checks.funnel_drops(docs, n_quality, normal + [junk])
    assert checks.funnel_drops(docs, n_quality, normal[1:])
    assert checks.funnel_drops(docs, n_quality + 1, normal)


def test_lsh_check():
    assert checks.lsh_nothing_dropped({"n_buckets": 9, "dropped_buckets": 0, "dropped_members": 0}) == []
    assert checks.lsh_nothing_dropped({"n_buckets": 9, "dropped_buckets": 1, "dropped_members": 12000})


def test_semdedup_check(docs):
    dups = docs.loc[docs["kind"] == "near_dup", "doc_id"].tolist()
    assert checks.semdedup_drops(docs, dups + [1, 2]) == []
    assert checks.semdedup_drops(docs, dups[1:])


def test_pack_check(docs):
    sample = docs[["doc_id", "text"]].iloc[:300]
    bins = checks.oracle.duckdb_pack_assignments(sample, 2_048)
    packed = bins.groupby("bin_id").agg(n_docs=("doc_id", "size"), n_tokens=("n_tokens", "sum")).reset_index()
    assert len(packed) > 3
    assert checks.pack_matches_oracle(sample, packed, 2_048) == []
    assert checks.pack_matches_oracle(sample, packed.iloc[:-1], 2_048)  # a bin lost
    merged = packed.copy()
    merged.loc[0, "n_docs"] += 1
    merged.loc[1, "n_docs"] -= 1  # a doc packed into the wrong bin
    assert checks.pack_matches_oracle(sample, merged, 2_048)


def test_equals_check():
    assert checks.equals("kept", 5, 5) == []
    assert checks.equals("kept", 4, 5)


def test_docs_are_seeded_and_planted(docs):
    again = inputs.docs_frame(2_000, seed=5)
    assert docs.equals(again)
    assert not docs["text"].equals(inputs.docs_frame(2_000, seed=6)["text"])
    share = docs["kind"].value_counts(normalize=True)
    assert 0.03 < share["junk"] < 0.07 and 0.004 < share["near_dup"] < 0.02
    for r in docs[docs["kind"] == "near_dup"].itertuples():
        assert r.dup_of < r.doc_id and docs.loc[r.dup_of, "kind"] == "normal"
        assert r.text.startswith(docs.loc[r.dup_of, "text"] + " ")


def test_planted_embeddings_have_cosine_one(docs):
    emb = inputs.embeddings_frame(docs, seed=5)
    r = docs[docs["kind"] == "near_dup"].iloc[0]
    a = emb["embedding"][r.dup_of].astype(np.float64)
    b = emb["embedding"][r.doc_id].astype(np.float64)
    assert a @ b / np.sqrt((a @ a) * (b @ b)) == pytest.approx(1.0, abs=1e-12)


def test_page_coordinates_round_trip_through_html():
    table, truth = inputs.pages_table(20, seed=4)
    from streetview_naturevisibility_spark.geo.utm import lonlat_to_utm

    for html, x, y in zip(table.column("html").to_pylist(), truth["x"], truth["y"]):
        lat, lon = (float(v) for v in re.search(rb"data-lat='([^']*)' data-lon='([^']*)'", html).groups())
        px, py = lonlat_to_utm(np.array([lon]), np.array([lat]), 31)
        assert abs(px[0] - x) < 1e-6 and abs(py[0] - y) < 1e-6
    assert inputs.pages_table(20, seed=4)[0].equals(table)
