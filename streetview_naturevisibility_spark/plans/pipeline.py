"""The flagship pipeline — reference ``main_script.py`` end-to-end as a
single declarative DAG (SURVEY.md §3.1):

  roads -> sample points (explode+interpolate, dedup, ids)
  pages -> extract text -> coords -> UTM -> cell ids          (no shuffle)
  kNN snap (broadcast points, min-struct reduce)              (1 bounded shuffle)
  GVI scoring (Arrow UDF over the joined text payload)
  per-road aggregation                                        (1 bounded shuffle)

The 100 TB pages table is scanned exactly once and never shuffled:
both joins broadcast the bounded points side, and the two shuffles that
exist carry only per-point/per-road aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import build_intersection, gvi_per_road
from ..operators.gvi import score_snapped_points
from ..operators.knn import knn_snap
from ..operators.sampling import sample_points
from ..operators.tiling import prepare_pages


def run_pipeline(
    roads: DataFrame,
    pages_raw: DataFrame,
    spacing: int = 50,
    max_distance: float = 50.0,
    zoom: int = 14,
    utm_zone: int = 31,
    cut_by_road_centres: bool = False,
) -> dict[str, DataFrame]:
    """Returns the pipeline's named stage outputs (lazy DataFrames)."""
    points = sample_points(roads, spacing=spacing, zoom=zoom, utm_zone=utm_zone)
    pages = prepare_pages(pages_raw, zoom=zoom, utm_zone=utm_zone, keep_text=True)
    snapped = knn_snap(points, pages, max_distance=max_distance, zoom=zoom)
    gvi_points = score_snapped_points(snapped, pages, cut_by_road_centres)
    intersection = build_intersection(gvi_points, points, roads)
    per_road = gvi_per_road(intersection)
    return {
        "points": points,
        "pages": pages,
        "snapped": snapped,
        "gvi_points": gvi_points,
        "intersection": intersection,
        "gvi_per_road": per_road.orderBy("road_id"),
    }
