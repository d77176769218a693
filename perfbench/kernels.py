"""Per-core throughput of the Python kernels, on the workload's own data.

Each kernel factory from ``sylph_spark.udfs`` is called in this process (one
core) on Arrow batches read from the workload's corpus and from the stage
tables its committed run left in the catalog — the inputs Spark would hand
the UDF, minus the JVM↔Python transfer. Comparing these rates with the
stage's task time separates the cost of the boundary from the kernel.
"""

from __future__ import annotations

import os
import time
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

MIN_TIME_S = 0.3


def _rate(fn, rows: int) -> float:
    """Rows per second of ``fn()`` on one core: one untimed call, then
    repeated calls until MIN_TIME_S has passed."""
    fn()
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= MIN_TIME_S:
            return rows * n / dt


def _table(catalog_root: str, stage: str, columns: list[str]) -> pa.Table:
    return ds.dataset(os.path.join(catalog_root, stage, "data"), format="parquet").to_table(
        columns=columns
    )


def _hamming(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    x = np.bitwise_xor(a.astype(np.int64), b.astype(np.int64)).view(np.uint8)
    return np.unpackbits(x.reshape(-1, 8), axis=1).sum(axis=1)


def kernel_rates(corpus_path: str, catalog_root: str, cfg, spans, rows: int = 512) -> dict:
    from sylph_spark import udfs

    out = {}

    # sketch: the image-bytes batches of the sketch stage (512 rows is the
    # heavy-payload batch size the pipeline scopes to this stage)
    img = ds.dataset(corpus_path, format="parquet").head(
        rows, columns=["image_id", "bytes", "fmt", "caption"]
    )
    batch = img.combine_chunks().to_batches()[0]
    sketch = udfs.make_sketch_arrow_fn(cfg)
    with spans.span("udfs.make_sketch_arrow_fn"):
        out["udfs.sketch_rows_per_core_s"] = _rate(
            lambda: list(sketch(iter([batch]))), batch.num_rows
        )

    # banding: committed sketch rows + the rare-shingle vocabulary the
    # candidates stage broadcasts (df ≤ the stop-shingle limit, computed as
    # DedupPipeline._band_df_limit does)
    sk = _table(catalog_root, "sketches", ["image_id", "img_shingles", "cap_shingles", "simhash", "caption"])
    counts = _table(catalog_root, "shingle_counts", ["shingle", "cnt"])
    limit = max(cfg.band_max_df_min, int(cfg.band_max_df_frac * sk.num_rows))
    if cfg.band_max_df_abs is not None:
        limit = min(limit, cfg.band_max_df_abs)
    cnt = counts.column("cnt").to_numpy()
    rare = np.sort(counts.column("shingle").to_numpy()[cnt <= limit])
    band_batch = sk.select(["image_id", "img_shingles", "cap_shingles"]).slice(0, rows)
    band_batch = band_batch.combine_chunks().to_batches()[0]
    band = udfs.make_multi_band_fn(cfg, SimpleNamespace(value=rare))
    with spans.span("udfs.make_multi_band_fn"):
        out["udfs.band_rows_per_core_s"] = _rate(
            lambda: list(band(iter([band_batch]))), band_batch.num_rows
        )

    # scoring: committed pair_shingles rows in the scored stage's input shape
    ps = _table(catalog_root, "pair_shingles", ["id_a", "id_b", "total_kmers", "inter_cnt"])
    ps = ps.slice(0, 4 * rows).combine_chunks()
    inter = ps.column("inter_cnt").chunk(0)
    covs = pa.ListArray.from_arrays(inter.offsets, inter.values.field("cnt"))
    score_batch = pa.RecordBatch.from_arrays(
        [ps.column("id_a").chunk(0), ps.column("id_b").chunk(0), ps.column("total_kmers").chunk(0), covs],
        names=["id_a", "id_b", "total_kmers", "covs"],
    )
    score = udfs.make_score_arrow_fn(cfg)
    with spans.span("udfs.make_score_arrow_fn"):
        out["udfs.score_pairs_per_core_s"] = _rate(
            lambda: list(score(iter([score_batch]))), score_batch.num_rows
        )

    # LCS gate: the pairs that reach it — scored ≥ tau, SimHash within the
    # hamming limit — with both captions attached
    sc = _table(catalog_root, "scored", ["id_a", "id_b", "adj_sim"]).to_pandas()
    sc = sc[sc["adj_sim"] >= cfg.tau]
    prof = sk.select(["image_id", "simhash", "caption"]).to_pandas().set_index("image_id")
    a, b = prof.loc[sc["id_a"]], prof.loc[sc["id_b"]]
    keep = _hamming(a["simhash"].to_numpy(), b["simhash"].to_numpy()) <= cfg.simhash_max_hamming
    cap_a = pd.Series(a["caption"].to_numpy()[keep][: 4 * rows])
    cap_b = pd.Series(b["caption"].to_numpy()[keep][: 4 * rows])
    lcs = udfs.make_lcs_fn()
    with spans.span("udfs.make_lcs_fn"):
        out["udfs.lcs_pairs_per_core_s"] = _rate(lambda: lcs(cap_a, cap_b), len(cap_a))
    return out
