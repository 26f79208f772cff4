"""One sizing policy: every broadcast-or-shuffle and collect-to-driver
decision reads the bytes ``session.materialize`` stored
(``session.fits``). Each guarded site runs with the budget forced to 0
(shuffle / distributed side) and at its default (broadcast / driver
side) and must give identical output; the LSH verify must never
broadcast a shingle-carrying frame that did not fit."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from streetview_naturevisibility_spark import session
from streetview_naturevisibility_spark.operators.corpus import (
    dedup_keep_canonical,
)
from streetview_naturevisibility_spark.operators.dedup import minhash_lsh_pairs
from streetview_naturevisibility_spark.operators.similarity import semantic_dedup
from streetview_naturevisibility_spark.session import fits, materialize


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def broadcast_columns(df) -> list[list[str]]:
    """Output column names of every BroadcastExchange in ``df``'s
    executed plan (call after an action on ``df``)."""
    found, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "BroadcastExchangeExec":
            found.append([a.name() for a in _seq(node.output())])
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        stack.extend(_seq(node.children()))
    return found


def _record_sizes(monkeypatch) -> list[int]:
    sizes: list[int] = []
    measure = session._stored_bytes

    def recording(df):
        n = measure(df)
        sizes.append(n)
        return n

    monkeypatch.setattr(session, "_stored_bytes", recording)
    return sizes


# ------------------------------------------------------------------
# fits
# ------------------------------------------------------------------
def test_fits_measures_stored_bytes(spark, monkeypatch):
    n_rows, width = 2000, 50
    arrays = materialize(
        spark.range(0, n_rows, 1, 4).select(
            "id", F.array_repeat(F.col("id"), width).alias("a")
        )
    )
    stored = session._stored_bytes(arrays)
    # the payload alone is n_rows x width longs; the plan estimate
    # counts one element per array and would be far below it
    assert stored >= n_rows * width * 8
    assert fits(arrays)
    monkeypatch.setattr(session, "_DRIVER_MAX_BYTES", stored)
    assert fits(arrays)
    monkeypatch.setattr(session, "_DRIVER_MAX_BYTES", stored - 1)
    assert not fits(arrays)

    # a frame with partitions but no rows still stores its blocks
    empty = materialize(spark.range(0, 10, 1, 2).where(F.col("id") < 0))
    monkeypatch.setattr(session, "_DRIVER_MAX_BYTES", 0)
    assert not fits(empty)

    # only frames returned by materialize are measured, never guessed
    for unmaterialized in (
        spark.range(10),
        arrays.select("id"),
        spark.createDataFrame(spark.sparkContext.parallelize([(1,)]), "a long"),
    ):
        with pytest.raises(TypeError, match="materialize"):
            fits(unmaterialized)


# ------------------------------------------------------------------
# LSH verify
# ------------------------------------------------------------------
def _near_dup_docs(spark):
    """40 base docs, each with three one-word variants: every doc sits
    in several candidate pairs, so the pair frame carrying shingle
    arrays is far larger than the ids-only candidate frame."""
    rng = np.random.RandomState(3)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    for b in range(40):
        words = [vocab[j] for j in rng.randint(0, len(vocab), size=40)]
        for v in range(4):
            w = list(words)
            if v:
                w[rng.randint(0, len(w))] = f"x{b}_{v}"
            rows.append((b * 4 + v, " ".join(w)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs(df) -> list[tuple]:
    return sorted((r.id_a, r.id_b, r.jaccard) for r in df.collect())


def test_lsh_verify_never_broadcasts_unmeasured_shingles(spark, monkeypatch):
    docs = _near_dup_docs(spark)
    sizes = _record_sizes(monkeypatch)
    want = _pairs(minhash_lsh_pairs(docs))
    assert len(want) > 100
    cand_bytes, j1_bytes = sizes
    assert cand_bytes < j1_bytes

    # the ids-only candidate frame fits, the shingle-carrying one does not
    sizes.clear()
    monkeypatch.setattr(session, "_DRIVER_MAX_BYTES", cand_bytes)
    out = minhash_lsh_pairs(docs)
    assert _pairs(out) == want
    assert sizes == [cand_bytes, j1_bytes]
    carried = [
        c for cols in broadcast_columns(out) for c in cols if c.startswith("sh_")
    ]
    assert not carried, f"broadcast shingle columns {carried}"


@pytest.mark.parametrize("budget", [0, None])
def test_lsh_verify_both_sides_identical(spark, monkeypatch, budget):
    docs = _near_dup_docs(spark)
    want = _pairs(minhash_lsh_pairs(docs))
    if budget is not None:
        monkeypatch.setattr(session, "_DRIVER_MAX_BYTES", budget)
    out = minhash_lsh_pairs(docs)
    assert _pairs(out) == want
    assert bool(broadcast_columns(out)) == (budget is None)


# ------------------------------------------------------------------
# semantic dedup kept-flag attach
# ------------------------------------------------------------------
def test_semantic_dedup_dup_flag_both_sides_identical(spark, monkeypatch):
    rng = np.random.RandomState(11)
    dim, rows = 16, []
    for g in range(30):
        base = rng.randn(dim)
        for v in range(3):
            vec = base + (0.01 * rng.randn(dim) if v else 0.0)
            rows.append((g * 3 + v, [float(x) for x in vec / np.linalg.norm(vec)]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def run():
        out = semantic_dedup(emb, n_lists=4, dim=dim, assign="udf", pairs="local")
        got = sorted(
            (r.vec_id, r.list_id, r.centroid_cos, r.kept) for r in out.collect()
        )
        flag_broadcast = any("_dup" in cols for cols in broadcast_columns(out))
        return got, flag_broadcast

    want, broadcast = run()
    assert broadcast and not all(k for *_, k in want)
    monkeypatch.setattr(session, "_DRIVER_MAX_BYTES", 0)
    got, broadcast = run()
    assert got == want and not broadcast


# ------------------------------------------------------------------
# dedup_keep_canonical
# ------------------------------------------------------------------
def test_keep_canonical_both_sides_identical(spark, monkeypatch):
    docs = spark.range(0, 200).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    clusters = spark.createDataFrame(
        [(i, (i // 5) * 5, 5) for i in range(0, 100)],
        "doc_id long, cluster_id long, cluster_size long",
    )

    def run():
        out = dedup_keep_canonical(docs, clusters)
        got = sorted(r.doc_id for r in out.collect())
        return got, bool(broadcast_columns(out))

    want, broadcast = run()
    assert broadcast
    assert want == [i for i in range(200) if i >= 100 or i % 5 == 0]
    monkeypatch.setattr(session, "_DRIVER_MAX_BYTES", 0)
    got, broadcast = run()
    assert got == want and not broadcast
