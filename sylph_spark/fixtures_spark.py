"""Distributed deterministic corpus generator (the S1 "source" at scale).

``generate_corpus`` in fixtures.py builds the corpus single-threaded on one
RNG stream — fine for 1k-10k rows, hours at 10^6+. This module generates the
same *kind* of corpus as a pure per-row function of a plan row
(kind, base_idx, variant_seed), so Spark executors generate partitions
independently:  spark.range(n_rows) → plan (driver arithmetic, no content) →
mapInArrow(content). Content differs from fixtures.generate_corpus (different
RNG consumption order) but has identical statistics and the same ground-truth
structure; used for throughput/scaling benches, not oracle tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codecs, fixtures
from .sources.images import IMAGES_SCHEMA

# per-1000-base row-class layout mirroring fixtures.generate_corpus
_CLASSES = [
    ("base", 1.0),
    ("exact", 0.10),
    ("reencode", 0.15),
    ("near_image", 0.15),
    ("near_caption", 0.10),
    ("negative", 0.10),
]


def _rng(seed: int, *streams: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *streams]))


def _base_content(seed: int, base_idx: int, px: int = 64):
    rng = _rng(seed, 0, base_idx)
    img = fixtures._make_image(rng, px)
    caption = fixtures._make_caption(rng)
    fmt = fixtures.FMTS[int(rng.integers(len(fixtures.FMTS)))]
    return img, caption, fmt


def _row_content(seed: int, kind: str, base_idx: int, variant: int, px: int = 64):
    img, caption, fmt = _base_content(seed, base_idx, px)
    if kind in ("base", "exact"):
        return img, caption, fmt
    rng = _rng(seed, 1, base_idx, variant)
    if kind == "reencode":
        other = [f for f in fixtures.FMTS if f != fmt]
        return img, caption, other[int(rng.integers(len(other)))]
    if kind == "near_image":
        return fixtures._perturb_image(rng, img), caption, fmt
    if kind == "near_caption":
        return img, fixtures._perturb_caption(rng, caption), fmt
    if kind == "negative":
        if rng.integers(2) == 0:
            return fixtures._make_image(rng, img.shape[0]), caption, fmt
        heavy = np.clip(img.astype(np.float64) * 1.25 + 15, 0, 255).astype(np.uint8)
        return heavy, fixtures._make_alt_caption(rng), fmt
    raise ValueError(kind)


def _plan(n_base: int) -> list[tuple[str, int]]:
    """(kind, base_idx) per output row; deterministic, seed-free layout."""
    rows: list[tuple[str, int]] = [("base", i) for i in range(n_base)]
    for kind, frac in _CLASSES[1:]:
        k = int(round(n_base * frac))
        # deterministic stride-spread base picks (no RNG needed in the plan)
        stride = max(1, n_base // max(k, 1))
        offset = sum(map(ord, kind)) % stride  # str hash() is seed-randomized
        rows.extend((kind, (i * stride + offset) % n_base) for i in range(k))
    return rows


def generate_corpus_df(
    spark: SparkSession,
    n_base: int,
    seed: int = 42,
    partitions: int | None = None,
    px: int = 64,
) -> DataFrame:
    """Distributed corpus as a DataFrame in the canonical images schema.

    ``px`` is the base image edge; 256 yields ~100 KB lossy payloads with
    ~8× the 64-px decode+shingle cost — the compute regime of a real web
    corpus (used for scaling-efficiency evidence)."""
    plan = _plan(n_base)
    plan_rows = [
        (i, kind, base_idx) for i, (kind, base_idx) in enumerate(plan)
    ]
    parts = partitions or spark.sparkContext.defaultParallelism * 3
    plan_df = spark.createDataFrame(
        plan_rows, "row_idx long, kind string, base_idx long"
    ).repartition(parts, "row_idx")

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            idxs = batch.column(0).to_pylist()
            kinds = batch.column(1).to_pylist()
            bases = batch.column(2).to_pylist()
            ids, blobs, ws, hs, fmts_o, caps, phs = [], [], [], [], [], [], []
            for row_idx, kind, base_idx in zip(idxs, kinds, bases):
                img, caption, fmt = _row_content(
                    seed, kind, int(base_idx), row_idx, px
                )
                ids.append(f"img{row_idx:010d}")
                blobs.append(codecs.encode_image(img, fmt))
                hs.append(img.shape[0])
                ws.append(img.shape[1])
                fmts_o.append(fmt)
                caps.append(caption)
                phs.append(codecs.average_phash(codecs.to_gray(img)))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.string()),
                    pa.array(blobs, pa.binary()),
                    pa.array(np.array(ws, dtype=np.int32)),
                    pa.array(np.array(hs, dtype=np.int32)),
                    pa.array(fmts_o, pa.string()),
                    pa.array(caps, pa.string()),
                    pa.array(np.array(phs, dtype=np.int64)),
                ],
                names=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"],
            )

    return plan_df.mapInArrow(gen, schema=IMAGES_SCHEMA)


def write_corpus(
    spark: SparkSession, n_base: int, path: str, seed: int = 42, px: int = 64
) -> int:
    df = generate_corpus_df(spark, n_base, seed, px=px)
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).count()
