"""Engine operators: sampling, tiling, kNN snap join, PIP join, zonal
stats, GVI scoring, aggregation/metrics, dedup, similarity, gap-fill,
resume/lineage."""
