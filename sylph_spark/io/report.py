"""Report sinks — the S7 TSV sink analog (/root/reference/src/
contain.rs:18-94,461-480: header + formatted rows, single ordered output).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame


def write_tsv(
    df: DataFrame,
    path: str,
    order_by: list[str] | None = None,
    single_file_max_rows: int = 1_000_000,
    known_rows: int | None = None,
) -> dict:
    """Ordered TSV sink with header — the reference's mutex-batched ordered
    writer (contain.rs:261,336-339).

    Two modes, picked by a bounded row probe (``limit(t+1).count()`` — an
    early-stopping CollectLimit, not a full scan):

    - ``single`` (≤ ``single_file_max_rows``): orderBy + coalesce(1), one
      globally ordered file — the reference's exact output shape.
    - ``partitioned`` (above the threshold — the 100×-scale path, where a
      coalesce(1) would serialize the whole result through one task):
      ``repartitionByRange(order_by) + sortWithinPartitions`` writes many
      part files whose RANGE ORDER follows their part index, so reading the
      manifest's file list in order yields the globally sorted result
      without any single-task bottleneck. Each part file carries its own
      header row (``header_per_file`` in the manifest).

    Returns the manifest (also written to ``<path>/_tsv_manifest.json``):
    mode, ordered file list, order keys. The file listing uses the local
    filesystem (this harness runs local-mode); an HDFS/S3 deployment would
    list via the Hadoop FileSystem API — the part-index ordering guarantee
    is identical.

    ``known_rows`` (e.g. from a stage manifest the caller already holds)
    skips the probe entirely. Without it the input is persisted across
    probe + write so the plan executes ONCE — previously both the probe and
    the write recomputed it, doubling the cost of an expensive input and
    letting a nondeterministic input diverge between the mode decision and
    the rows written (ADVICE r5). The persist is scoped to this call and
    released before returning — not a cross-run cache."""
    persisted = False
    if known_rows is not None:
        probe = known_rows
    else:
        df = df.persist()
        persisted = True
        probe = df.limit(single_file_max_rows + 1).count()
    writer_opts = {"sep": "\t", "header": "true"}
    if probe <= single_file_max_rows:
        mode = "single"
        out = df.orderBy(*order_by) if order_by else df
        out = out.coalesce(1)
    else:
        mode = "partitioned"
        out = df
        if order_by:
            # explicit partition count: user-specified numPartitions is
            # exempt from AQE coalescing, which would otherwise collapse a
            # small-looking shuffle back into the single-file bottleneck
            # this mode exists to avoid
            n_parts = max(2, df.sparkSession.sparkContext.defaultParallelism)
            out = df.repartitionByRange(n_parts, *order_by).sortWithinPartitions(
                *order_by
            )
    out.write.mode("overwrite").options(**writer_opts).csv(path)
    if persisted:
        df.unpersist()
    files = sorted(
        f
        for f in os.listdir(path)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    manifest = {
        "mode": mode,
        "files": files,
        "order_by": order_by or [],
        "header_per_file": True,
    }
    with open(os.path.join(path, "_tsv_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest

