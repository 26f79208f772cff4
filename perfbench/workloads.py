"""The benchmark workloads.

Each workload stages seeded parquet inputs, runs one iteration of its
operator chain through ``Tracer.call`` (one span and Spark job group per
public operator call), and checks the last iteration's outputs against
the oracles in ``tests/oracle.py`` (via ``checks``).

Sizes are fixed per workload (see README.md for how they were chosen);
only the seed varies between runs.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import functions as F

import checks
import inputs
from streetview_naturevisibility_spark.fixtures.generate import gen_ndvi_grid, gen_roads
from streetview_naturevisibility_spark.geo.cells import neighbor_cells_col
from streetview_naturevisibility_spark.operators.aggregates import (
    availability_score,
    build_intersection,
    gvi_per_road,
    missing_images_metrics,
    panoramic_images_metrics,
    roads_with_avg_gvi,
    top5_highways,
    unavailable_images_per_highway,
    usability_score,
)
from streetview_naturevisibility_spark.operators.corpus import (
    dedup_keep_canonical,
    duplicate_clusters,
    pack_rows,
    stratified_sample,
)
from streetview_naturevisibility_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
from streetview_naturevisibility_spark.operators.gvi import score_snapped_points
from streetview_naturevisibility_spark.operators.knn import knn_snap
from streetview_naturevisibility_spark.operators.pip import pip_join
from streetview_naturevisibility_spark.operators.regression import (
    gap_fill_cv_metrics,
    gap_fill_linear,
)
from streetview_naturevisibility_spark.operators.resume import run_stage
from streetview_naturevisibility_spark.operators.sampling import sample_points
from streetview_naturevisibility_spark.operators.similarity import semantic_dedup
from streetview_naturevisibility_spark.operators.textops import analyze_documents, dsir_select
from streetview_naturevisibility_spark.operators.tiling import prepare_pages
from streetview_naturevisibility_spark.operators.zonal import zonal_mean

SNAP_RADIUS = 25.0  # the reference's snap radius: max_distance / 2
N_CHECK = 100  # seeded subsample size for row-level oracle checks
WARM_FRACTION = 10  # the warm-up pass runs on 1/10 of the inputs: same plans, less data


def _row_group(n: int, parts: int) -> int:
    """Row-group size giving ``parts`` splits, so the parquet scan
    feeds every core."""
    return max(1_000, -(-n // parts))


class Workload:
    name = ""
    # items (pages or docs) one iteration processes
    items = 0

    def __init__(self, spark, seed: int, cpus: int):
        self.spark = spark
        self.seed = seed
        self.parts = 4 * cpus

    def stage(self, root: str) -> None:
        """Write the seeded inputs under ``root`` (``self.full``) and a
        1/WARM_FRACTION slice for the warm-up pass (``self.warm``)."""
        self.full = self._open(self._stage(root, self.items, keep_truth=True))
        warm = self._stage(os.path.join(root, "warm"), self.items // WARM_FRACTION, keep_truth=False)
        self.warm = self._open(warm)

    def _open(self, paths: dict[str, str]) -> dict:
        """One DataFrame per staged file, opened once per run so that file
        listing is paid in set-up; every iteration still scans the data."""
        return {name: self.spark.read.parquet(path) for name, path in paths.items()}

    def _stage(self, root: str, n: int, keep_truth: bool) -> dict[str, str]:
        raise NotImplementedError

    def run(self, tr, out: str, data: dict) -> dict:
        """One iteration over the staged inputs ``data``; returns what the
        checks need."""
        raise NotImplementedError

    def check(self, res: dict) -> list[tuple[str, list[str]]]:
        """[(check name, problems)] over one iteration's result."""
        raise NotImplementedError

    def useful_counts(self, res: dict) -> dict[str, int]:
        """Counts for the traced waste ratios that the event log cannot
        give, taken from the iteration's inputs and outputs after its
        wall time is recorded."""
        return {}

    def _write(self, root: str, name: str, df) -> str:
        os.makedirs(root, exist_ok=True)
        return inputs.write_parquet(df, os.path.join(root, f"{name}.parquet"), _row_group(len(df), self.parts))


class CityGvi(Workload):
    """The CLI chain at its defaults (`cli pipeline` -> `cli metrics` ->
    `cli gap-fill`) plus pip_join, over a fixture-style road network:
    dense z14 snap candidates, every geo layer busy, checkpoint writes
    beside reads."""

    name = "city_gvi"
    items = 10_000  # long-text pages
    N_ROADS = 300
    N_BUFFERS = 30

    def _stage(self, root, n, keep_truth):
        table, truth = inputs.pages_table(n, self.seed)
        roads = gen_roads(self.N_ROADS, self.seed)
        if keep_truth:
            self.truth, self.roads = truth, roads
        return {
            "pages": self._write(root, "pages", table),
            "roads": self._write(root, "roads", roads),
            "polygons": self._write(root, "polygons", inputs.polygons_frame(roads, self.N_BUFFERS)),
            "ndvi": self._write(root, "ndvi", gen_ndvi_grid()),
        }

    def run(self, tr, out, data):
        spark = self.spark
        roads, pages_raw = data["roads"], data["pages"]
        ckpt = os.path.join(out, "_ckpt")

        def write(name, order_by=None):
            def sink(df):
                (df.orderBy(order_by) if order_by else df).write.mode("overwrite").parquet(os.path.join(out, name))
            return sink

        def collect(df):
            df.collect()

        def stage(name, layer_call, then=None):
            return tr.call("resume.run_stage", run_stage, spark, ckpt, name, layer_call, then=then)

        # `cli pipeline`
        points = stage("sample_points", lambda: tr.call("sampling.sample_points", sample_points, roads, 50))
        pages = stage("pages_prepared", lambda: tr.call("tiling.prepare_pages", prepare_pages, pages_raw))
        snapped = stage(
            "snapped", lambda: tr.call("knn.knn_snap", knn_snap, points, pages, max_distance=2 * SNAP_RADIUS)
        )
        gvi = stage(
            "gvi_points", lambda: tr.call("gvi.score_snapped_points", score_snapped_points, snapped, pages, False),
            then=write("gvi_points", "point_id"),
        )
        inter = tr.call("aggregates.build_intersection", build_intersection, gvi, points, roads)
        per_road = tr.call("aggregates.gvi_per_road", gvi_per_road, inter, then=write("gvi_per_road", "road_id"))

        # `cli metrics`: each report collected
        tr.call("aggregates.roads_with_avg_gvi", roads_with_avg_gvi, roads, per_road, then=collect)
        for report in (missing_images_metrics, panoramic_images_metrics, availability_score, usability_score):
            tr.call(f"aggregates.{report.__name__}", report, inter, then=collect)
        per_highway = tr.call("aggregates.unavailable_images_per_highway", unavailable_images_per_highway, inter)
        tr.call("aggregates.top5_highways", top5_highways, per_highway, then=collect)

        # `cli gap-fill`
        ndvi = tr.call("zonal.zonal_mean", zonal_mean, points, data["ndvi"], radius=SNAP_RADIUS)
        known = (
            gvi.join(ndvi, "point_id", "left").withColumnRenamed("mean_ndvi", "ndvi")
            .where(F.col("ndvi").isNotNull())
        )
        tr.call("regression.gap_fill_cv_metrics", gap_fill_cv_metrics, known, feature="ndvi", target="gvi",
                then=collect)
        tr.call("regression.gap_fill_linear", gap_fill_linear, known, feature="ndvi", target="gvi",
                then=write("gvi_filled", "point_id"))

        tr.call("pip.pip_join", pip_join, pages, data["polygons"], then=write("pip_members"))
        return {"out": out, "snapped": snapped, "points": points, "pages": pages, "ndvi": data["ndvi"]}

    def check(self, res):
        spark, out = self.spark, res["out"]
        points = spark.read.parquet(os.path.join(out, "_ckpt", "sample_points", "data")).toPandas()
        gvi = spark.read.parquet(os.path.join(out, "gvi_points"))
        per_road = spark.read.parquet(os.path.join(out, "gvi_per_road")).toPandas()
        hits = (
            gvi.where(F.col("page_url") != "")
            .select("point_id", "page_url", "gvi", "is_panoramic", "missing", "error")
            .toPandas().sort_values("point_id")
        )
        rng = np.random.default_rng([self.seed, 11])
        sample = hits.iloc[np.sort(rng.choice(len(hits), size=min(N_CHECK, len(hits)), replace=False))]
        return [
            ("sample_points_vs_oracle", checks.points_match_oracle(points, self.roads, 50)),
            ("gvi_vs_oracle", checks.gvi_matches_oracle(sample, self.truth)),
            ("per_road_total_points", checks.per_road_total(per_road, len(points))),
        ]

    def useful_counts(self, res):
        """knn: snapped points and the pairs the 3x3 cell ring offers
        (z14, the cli default); zonal: the pairs the radius-sized 3x3 bin
        join offers."""
        points, pages, ndvi = res["points"], res["pages"], res["ndvi"]

        def pair_count(left, right, keys):
            lc = left.groupBy(*keys).agg(F.count(F.lit(1)).alias("_l"))
            rc = right.groupBy(*keys).agg(F.count(F.lit(1)).alias("_r"))
            return lc.join(rc, keys).agg(F.sum(F.col("_l") * F.col("_r"))).collect()[0][0] or 0

        ring = points.select(F.explode(neighbor_cells_col(F.col("tile_x"), F.col("tile_y"), 14)).alias("cell_id"))
        bins = points.select(
            F.explode(F.array(*[
                F.struct((F.floor(F.col("x") / SNAP_RADIUS) + dx).alias("bx"),
                         (F.floor(F.col("y") / SNAP_RADIUS) + dy).alias("by"))
                for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            ])).alias("b")
        ).select("b.bx", "b.by")
        cells = ndvi.select(F.floor(F.col("cx") / SNAP_RADIUS).alias("bx"), F.floor(F.col("cy") / SNAP_RADIUS).alias("by"))
        return {
            "knn_hits": res["snapped"].where(F.col("snap_distance").isNotNull()).count(),
            "knn_candidates": pair_count(pages.select("cell_id"), ring, ["cell_id"]),
            "zonal_candidates": pair_count(cells, bins, ["bx", "by"]),
        }


class CurateFunnel(Workload):
    """`cli curate --semdedup --dsir-target --pack-tokens` at its defaults:
    quality gate -> exact md5 dedup -> MinHash-LSH pairs -> clusters ->
    keep canonical -> SemDeDup over the doc embeddings -> DSIR selection
    -> stratified sample -> token packing, written out. No geo layer."""

    name = "curate_funnel"
    items = 10_000  # docs
    MIN_QUALITY = 0.5  # cli curate defaults
    JACCARD = 0.5
    MAX_BUCKET = 10_000
    # --semdedup-lists 64 --semdedup-dim 16: more than 32 lists takes the
    # cli's Arrow-assign / local-pairs path
    SEM_LISTS = 64
    DSIR_KEEP = 5_000  # --dsir-keep; --dsir-buckets stays at 10,000
    RATES = {"en": 0.5}  # --sample en=0.5 --default-rate 0.5
    DEFAULT_RATE = 0.5
    PACK_TOKENS = 2_048  # --pack-tokens

    def _stage(self, root, n, keep_truth):
        docs = inputs.docs_frame(n, self.seed)
        if keep_truth:
            self.truth = docs
        return {
            "docs": self._write(root, "docs", docs[["doc_id", "text", "lang"]]),
            "emb": self._write(root, "emb", inputs.embeddings_frame(docs, self.seed)),
            "target": self._write(root, "target", inputs.target_frame(n // 20, self.seed)),
        }

    def run(self, tr, out, data):
        scored = tr.call("textops.analyze_documents", analyze_documents, data["docs"], keep_input_cols=True)
        kept_q = scored.where(F.col("quality_score") >= F.lit(self.MIN_QUALITY))

        def exact_md5(df):
            keepers = exact_dedup(df).select(F.col("keeper").alias("doc_id"))
            return df.join(keepers, "doc_id", "left_semi")

        exact = tr.call("dedup.exact_dedup", exact_md5, kept_q)
        pairs, lsh = tr.call(
            "dedup.minhash_lsh_pairs", minhash_lsh_pairs, exact,
            jaccard_threshold=self.JACCARD, max_bucket=self.MAX_BUCKET, return_metrics=True,
        )
        clusters = tr.call("corpus.duplicate_clusters", duplicate_clusters, pairs)
        near = tr.call("corpus.dedup_keep_canonical", dedup_keep_canonical, exact, clusters)
        sem = tr.call(
            "similarity.semantic_dedup", semantic_dedup, data["emb"],
            threshold=0.92, n_lists=self.SEM_LISTS, dim=inputs.EMB_DIM, assign="udf", pairs="local",
        )
        pool = near.join(sem.where(~F.col("kept")).select(F.col("vec_id").alias("doc_id")), "doc_id", "left_anti")
        selected = tr.call("textops.dsir_select", dsir_select, pool, data["target"], n=self.DSIR_KEEP)
        sampled = tr.call(
            "corpus.stratified_sample", stratified_sample, selected.drop("dsir_logweight"), "lang_pred",
            self.RATES, "doc_id", default_rate=self.DEFAULT_RATE,
        )
        tr.call("corpus.pack_rows", pack_rows, sampled, self.PACK_TOKENS, tokens_col="n_tokens",
                then=lambda df: df.write.mode("overwrite").parquet(os.path.join(out, "curated")))
        return {"out": out, "kept_q": kept_q, "near": near, "lsh": lsh, "sem": sem,
                "selected": selected, "sampled": sampled}

    def check(self, res):
        # Cache each stage before reading it, upstream first: every later
        # read reuses the cached plans instead of recomputing the chain.
        staged = [res[k].cache() for k in ("kept_q", "near", "sem", "selected", "sampled")]
        try:
            n_quality = res["kept_q"].count()
            near_ids = [r.doc_id for r in res["near"].select("doc_id").collect()]
            dropped = [r.vec_id for r in res["sem"].where(~F.col("kept")).select("vec_id").collect()]
            # the pool (~94% of the docs are normal) always exceeds DSIR_KEEP
            n_selected = res["selected"].count()
            pack_input = res["sampled"].select("doc_id", "text").toPandas()
        finally:
            for df in staged:
                df.unpersist()
        packed = self.spark.read.parquet(os.path.join(res["out"], "curated"))
        return [
            ("planted_drops", checks.funnel_drops(self.truth, n_quality, near_ids)),
            ("lsh_nothing_dropped", checks.lsh_nothing_dropped(res["lsh"].collect()[0].asDict())),
            ("semdedup_planted", checks.semdedup_drops(self.truth, dropped)),
            ("dsir_kept", checks.equals("docs kept by dsir_select", n_selected, self.DSIR_KEEP)),
            ("pack_vs_oracle", checks.pack_matches_oracle(
                pack_input, packed.select("bin_id", "n_docs", "n_tokens").toPandas(), self.PACK_TOKENS)),
        ]


WORKLOADS = {w.name: w for w in (CityGvi, CurateFunnel)}


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
