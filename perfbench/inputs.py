"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed gives
the same parquet bytes. Inputs are built driver-side with NumPy and
written with pyarrow, so staging never runs engine operators; the
program under test only ever reads the staged parquet files. Roads and
the NDVI grid come from ``fixtures.generate`` as they are.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from streetview_naturevisibility_spark.fixtures.generate import (
    BBOX,
    HOT_SPOTS,
    UTM_ZONE,
    VOCAB,
    boundary_polygon,
)
from streetview_naturevisibility_spark.geo.polygon import coords_to_wkt
from streetview_naturevisibility_spark.geo.utm import utm_to_lonlat

# Stable sub-seeds so that adding a generator never shifts another's stream.
_PAGES, _TEXT, _DOCS, _EMB, _TARGET, _PAGE_ATTRS = 1, 2, 3, 4, 5, 6

# planted-corpus layout (curate_funnel)
NEAR_DUP_FRAC = 0.01
JUNK_FRAC = 0.05
EMB_DIM = 16


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def write_parquet(df: pd.DataFrame | pa.Table, path: str, row_group: int) -> str:
    table = df if isinstance(df, pa.Table) else pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, row_group_size=row_group)
    return path


def place_pages(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """UTM (x, y) of ``n`` pages in the fixture placement classes
    (``fixtures.generate.gen_web_pages``): 80% uniform inside the bbox,
    15% Gaussian (40 m) around the hot spots, 5% east of the bbox."""
    rng = _rng(seed, _PAGES)
    x0, y0, x1, y1 = BBOX
    u = rng.random(n)
    xs = np.empty(n)
    ys = np.empty(n)
    uniform = u < 0.80
    hot = (u >= 0.80) & (u < 0.95)
    outside = u >= 0.95
    k = int(uniform.sum())
    xs[uniform] = x0 + rng.random(k) * (x1 - x0)
    ys[uniform] = y0 + rng.random(k) * (y1 - y0)
    k = int(hot.sum())
    spots = np.array(HOT_SPOTS)[rng.integers(0, len(HOT_SPOTS), size=k)]
    xs[hot] = spots[:, 0] + rng.standard_normal(k) * 40.0
    ys[hot] = spots[:, 1] + rng.standard_normal(k) * 40.0
    k = int(outside.sum())
    xs[outside] = x1 + 500.0 + rng.random(k) * 1000.0
    ys[outside] = y0 + rng.random(k) * (y1 - y0)
    return xs, ys


def long_texts(n: int, seed: int) -> list[str]:
    """``n`` texts of 50..500 words over the fixture vocabulary."""
    rng = _rng(seed, _TEXT)
    lens = rng.integers(50, 501, size=n)
    words = np.array(VOCAB, dtype=object)
    idx = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    ends = np.cumsum(lens)
    starts = ends - lens
    return [" ".join(words[idx[s:e]]) for s, e in zip(starts, ends)]


def pages_table(n: int, seed: int) -> tuple[pa.Table, pd.DataFrame]:
    """Crawl pages in the engine's input schema (doc_id, url, warc_ts,
    html, lang, is_panoramic) plus the generator's own view of each page
    (doc_id, url, x, y, is_panoramic, text) for the output checks.

    Coordinates are written into the html with full float64 precision,
    so the program parses back exactly the lon/lat generated here."""
    rng = _rng(seed, _PAGE_ATTRS)
    xs, ys = place_pages(n, seed)
    lon, lat = utm_to_lonlat(xs, ys, UTM_ZONE)
    doc_id = np.arange(n, dtype=np.int64)
    ids = pa.array(doc_id).cast(pa.string())
    url = pc.binary_join_element_wise(
        "https://site", pa.array(doc_id % 50).cast(pa.string()), ".example.org/p/", ids, ""
    )
    text = pa.array(long_texts(n, seed), pa.string())
    html = pc.binary_join_element_wise(
        "<html><head><title>t", ids, "</title></head><body><p>", text,
        "</p><span class='geo' data-lat='", pa.array(lat).cast(pa.string()),
        "' data-lon='", pa.array(lon).cast(pa.string()), "'></span></body></html>", "",
    ).cast(pa.binary())
    pano = rng.random(n) < 0.2
    ts = pd.Timestamp("2023-01-01") + pd.to_timedelta(rng.integers(0, 31_536_000, size=n), unit="s")
    langs = np.array(["en", "nl", "de", "fr"], dtype=object)[rng.integers(0, 4, size=n)]
    table = pa.table(
        {
            "doc_id": doc_id,
            "url": url,
            "warc_ts": pa.array(ts.values.astype("datetime64[us]")),
            "html": html,
            "lang": pa.array(langs, pa.string()),
            "is_panoramic": pano,
        }
    )
    truth = pd.DataFrame(
        {"doc_id": doc_id, "url": url.to_pandas(), "x": xs, "y": ys,
         "is_panoramic": pano, "text": text.to_pandas()}
    )
    return table, truth


def polygons_frame(roads: pd.DataFrame, n_buffers: int) -> pd.DataFrame:
    """The city boundary plus 25 m buffers around the first
    ``n_buffers`` roads (the ``fixtures.generate.gen_polygons`` shape)."""
    rows = [{"polygon_id": "boundary", "kind": "city_boundary",
             "geometry_wkt": coords_to_wkt(boundary_polygon(), "POLYGON"), "radius": None}]
    for r in roads.head(n_buffers).itertuples(index=False):
        rows.append({"polygon_id": f"buf_{r.road_id}", "kind": "road_buffer",
                     "geometry_wkt": r.geometry_wkt, "radius": 25.0})
    return pd.DataFrame(rows)


def _word_vocab(n_words: int = 20_000) -> np.ndarray:
    """Seed-independent pronounceable words (3-4 syllables of
    consonant+vowel), so normal docs pass the alpha-ratio and
    mean-token-length quality features."""
    cons = np.array(list("bcdfghjklmnprstvz"))
    vows = np.array(list("aeiou"))
    i = np.arange(n_words)
    parts = []
    r = i.copy()
    for _ in range(4):
        parts.append(cons[r % len(cons)])
        r //= len(cons)
        parts.append(vows[r % len(vows)])
        r //= len(vows)
    return np.array(["".join(p) for p in zip(*parts)], dtype=object)


_VOCAB_DOCS = _word_vocab()


def docs_frame(n: int, seed: int) -> pd.DataFrame:
    """Curation corpus (doc_id, text, lang) with planted structure:

    - ``kind == "junk"`` (~5%): 20-40 all-digit 16-char tokens, quality
      score 0.1 — below the CLI's 0.5 gate;
    - ``kind == "near_dup"`` (~1%): an earlier normal doc's text plus one
      extra word (3-shingle Jaccard > 0.9); ``dup_of`` names it;
    - ``kind == "normal"``: 60-200 uniformly drawn vocabulary words.
    """
    rng = _rng(seed, _DOCS)
    kind = np.full(n, "normal", dtype=object)
    u = rng.random(n)
    kind[u < JUNK_FRAC] = "junk"
    dup_ids = np.flatnonzero((u >= JUNK_FRAC) & (u < JUNK_FRAC + NEAR_DUP_FRAC))
    dup_ids = dup_ids[dup_ids > 0]
    kind[dup_ids] = "near_dup"
    lens = rng.integers(60, 201, size=n)
    words = _VOCAB_DOCS[rng.integers(0, len(_VOCAB_DOCS), size=int(lens.sum()))]
    ends = np.cumsum(lens)
    text = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    dup_of = np.full(n, -1, dtype=np.int64)
    for i in dup_ids:
        originals = np.flatnonzero(kind[:i] == "normal")
        if not len(originals):
            kind[i] = "normal"
            continue
        j = dup_of[i] = int(originals[rng.integers(0, len(originals))])
        text[i] = text[j] + " " + _VOCAB_DOCS[int(rng.integers(0, len(_VOCAB_DOCS)))]
    for i in np.flatnonzero(kind == "junk"):
        k = int(rng.integers(20, 41))
        text[i] = " ".join(f"{v:016d}" for v in rng.integers(0, 10**16, size=k))
    langs = np.array(["en", "de", "fr", "es", "zh"], dtype=object)[rng.integers(0, 5, size=n)]
    return pd.DataFrame(
        {"doc_id": np.arange(n, dtype=np.int64), "text": text, "lang": langs,
         "kind": kind, "dup_of": dup_of}
    )


def embeddings_frame(docs: pd.DataFrame, seed: int) -> pd.DataFrame:
    """One float32 embedding per doc (vec_id == doc_id). Each planted
    near-dup's vector is its original's scaled by 2.0 — a power of two,
    so the pair's cosine is exactly 1.0."""
    rng = _rng(seed, _EMB)
    vecs = rng.standard_normal((len(docs), EMB_DIM)).astype(np.float32)
    dups = docs.index[docs["kind"] == "near_dup"].to_numpy()
    vecs[dups] = vecs[docs["dup_of"].to_numpy()[dups]] * np.float32(2.0)
    return pd.DataFrame({"vec_id": docs["doc_id"].to_numpy(), "embedding": list(vecs)})


def target_frame(n: int, seed: int) -> pd.DataFrame:
    """DSIR target domain: texts over a 2,000-word slice of the doc
    vocabulary, so pool docs that lean on it rank first."""
    rng = _rng(seed, _TARGET)
    lens = rng.integers(60, 201, size=n)
    words = _VOCAB_DOCS[rng.integers(0, 2_000, size=int(lens.sum()))]
    ends = np.cumsum(lens)
    return pd.DataFrame({"text": [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]})

