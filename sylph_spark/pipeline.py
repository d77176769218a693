"""The staged Spark dedup pipeline (SURVEY.md §3 graft lifecycle).

The stages are declared once, as data (``GRAPH``: name, inputs, builder
``_stage_<name>``, volatile materialization), plus two row-count nodes
(``n_items``, ``n_vocab``). One runner (``DedupPipeline.run_graph``) starts
every node as soon as its inputs are ready and runs its jobs under job
group ``stage.<name>``. Two materializers drive it:

- commit (``DedupPipeline.run``): each stage is written to the
  StageCatalog and read back; row counts come from the manifests. A killed
  job resumes at the stages without a committed manifest for the current
  config hash and input fingerprint.
- volatile (``run_volatile``): localCheckpoint barriers or lazy stages, no
  catalog; row counts come from count().

Stages:

  1. sketches       images → per-item shingle sets + SimHash  (sketch.rs:276-475 analog)
  2. shingle_counts corpus-wide shingle multiplicities        (A1, sketch.rs:690-731)
  3. candidates     MinHash/LSH banding → candidate pairs     (replaces all-pairs contain.rs:266-292)
  4. pair_shingles  pair → intersecting shingles + corpus multiplicities (J1, contain.rs:632-652)
  5. scored         corrected-containment scoring             (E1/E6/E7, contain.rs:601-745)
  6. gated          tau + SimHash hamming + suffix-array LCS  (north-rule verification; cluster edges)
  7. rescored       winner-table shingle reassignment + derep (contain.rs:410-459,637-645,353-375)
  8. verified       rescored ∩ gated — the report table       (second-pass results, contain.rs:637-645)
  9. clusters       iterative connected components over GATED edges
 10. survivors      argmax representative per cluster         (winner argmax, contain.rs:410-459)

Clustering uses first-pass gated edges, not rescored ones: sylph's winner
pass reattributes k-mers WITHIN one sample's result set — it refines
attribution and which rows get reported, never which reads belong to the
sample. The dedup analog: reassignment refines per-pair scores, kmers_lost
and the surviving representative inside a cluster, but a pair whose content
is explained by a same-cluster winner is still a duplicate pair — dropping
its edge would split true clusters and break dedup idempotence.

Scale design notes (for the 10^12-row cluster, tested at local[*]):
- joins on (image_id, shingle) / (band, band_hash) are plain shuffle hash
  joins; AQE + skew-join splitting enabled in session.py;
- LSH buckets are pair-generated in CHUNKS keyed (band, hash, ci, cj) so a
  single hot bucket fans out across ~(size/chunk)² tasks instead of one —
  the salted-key skew mitigation required by the north rule;
- shingle_counts is a map-side-combined hash aggregate, broadcast-joined
  into scoring when small enough (Spark decides via AQE);
- every stage is a materialized columnar table: column pruning means later
  stages never reread ``bytes``.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import nullcontext
from typing import Any, NamedTuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from . import udfs
from .cc import component_labels, connected_components
from .config import SketchConfig
from .io.catalog import StageCatalog
from .session import heavy_payload_batches
from .sources.images import IMAGES_SCHEMA


def input_fingerprint(images: DataFrame) -> str:
    """Cheap identity of the input table for checkpoint validity.

    File-backed inputs (the production case — Iceberg/parquet snapshots)
    fingerprint by their sorted file list plus each file's length and
    modification time from the Hadoop FileSystem status (any URI scheme):
    zero data scan, any new snapshot/compaction changes the set, and a file
    rewritten in place under the same name changes its status. Non-file
    inputs (test DataFrames) fall back to an order-insensitive CONTENT probe
    (count + bit_xor of a row hash over id, payload bytes, caption and
    phash — one pass, no overflow under ANSI mode): regenerated fixtures
    with the same ids but different bytes/captions must invalidate the
    checkpoint, not revalidate it. The payload hashes by VALUE (xxhash64
    over the binary) — the earlier length(bytes) proxy let a same-length
    byte edit revalidate a stale checkpoint; the full hash costs one extra
    scan of a test-sized input only (file-backed inputs never take this
    path)."""
    import hashlib
    import json

    files = sorted(images.inputFiles())
    if files:
        spark = images.sparkSession
        hadoop_path = spark._jvm.org.apache.hadoop.fs.Path  # one class lookup
        conf = spark._jsc.hadoopConfiguration()
        status = []
        for f in files:
            path = hadoop_path(f)
            st = path.getFileSystem(conf).getFileStatus(path)
            status.append((f, st.getLen(), st.getModificationTime()))
        token = json.dumps(status)
    else:
        row = images.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "bit_xor(xxhash64(image_id, bytes, caption, phash))"
            ).alias("x"),
        ).collect()[0]
        token = f"{row['n']}:{row['x']}"
    return hashlib.sha256(token.encode()).hexdigest()[:16]


def lcs_prefilter_stats(
    spark: SparkSession, scored: DataFrame, sketches: DataFrame, cfg: SketchConfig
) -> dict:
    """Pair volume entering the LCS gate vs actually reaching the Python
    suffix automaton (after the in-UDF equal-caption short-circuit) — ONE
    aggregation, no UDF run (the bench counter for the short-circuit's
    effectiveness)."""
    automaton = F.col("cap_a") != F.col("cap_b")
    base = DedupPipeline(spark, cfg)._gate_base(scored, sketches)
    row = (
        base.agg(
            F.count(F.lit(1)).alias("hamming_pairs"),
            F.sum(automaton.cast("long")).alias("lcs_udf_pairs"),
        )
        .collect()[0]
    )
    h = row["hamming_pairs"]
    u = row["lcs_udf_pairs"] or 0
    return {
        "hamming_pairs": h,
        "lcs_udf_pairs": u,
        "lcs_udf_skipped_frac": round(1.0 - u / h, 4) if h else 0.0,
    }


class Node(NamedTuple):
    """One vertex of the stage graph.

    ``inputs`` are passed positionally to the builder ``_stage_<name>``
    (``images`` is the run's input table). ``mode`` is the volatile
    materialization: ``checkpoint`` (localCheckpoint), ``lazy`` (fused by
    Catalyst into the consumer's barrier) or ``count`` (row count of the one
    input; the committed path reads it from that stage's manifest).
    ``timer`` is the run_volatile stage_times key. ``heavy`` scopes the node
    in heavy_payload_batches — session-global confs, safe only for a node
    that every other node depends on, so nothing overlaps it."""

    name: str
    inputs: tuple[str, ...]
    mode: str = "lazy"
    timer: str | None = None
    heavy: bool = False


GRAPH = (
    Node("sketches", ("images",), "checkpoint", "sketches", heavy=True),
    Node("shingle_counts", ("sketches",), "checkpoint", "shingle_counts"),
    Node("n_items", ("sketches",), "count", "counts(2)"),
    Node("n_vocab", ("shingle_counts",), "count", "counts(2)"),
    Node("candidates", ("sketches", "shingle_counts", "n_items", "n_vocab")),
    # pair_shingles feeds both scoring passes; scored feeds gated + rescored
    Node(
        "pair_shingles",
        ("candidates", "sketches", "shingle_counts"),
        "checkpoint",
        "cands+pair_shingles",
    ),
    Node("scored", ("pair_shingles",), "checkpoint", "scored"),
    Node("gated", ("scored", "sketches"), "checkpoint", "gated"),
    Node(
        "rescored",
        ("scored", "pair_shingles", "sketches", "shingle_counts", "n_items"),
        "checkpoint",
        "rescored",
    ),
    # lazy: survivors references it once and both join inputs are barriers
    Node("verified", ("rescored", "gated")),
    # the CC driver loop materializes the gated edge chain itself
    Node("clusters", ("sketches", "gated"), timer="clusters(cc)"),
    Node("survivors", ("clusters", "verified")),
)

# the ten table stages, in dependency order
STAGES = [n.name for n in GRAPH if n.mode != "count"]

_JOB_GROUP_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


class DedupPipeline:
    def __init__(
        self, spark: SparkSession, cfg: SketchConfig, workdir: str | None = None
    ):
        """``workdir`` holds the stage catalog that ``run`` commits to;
        without one only the volatile materializer and the stage builders
        are usable."""
        self.spark = spark
        self.cfg = cfg
        self.catalog = StageCatalog(spark, workdir) if workdir is not None else None
        self.h = cfg.config_hash()

    # -- stage bodies ------------------------------------------------------

    def _stage_sketches(self, images: DataFrame) -> DataFrame:
        # explicit repartition: input tables often arrive as few large files;
        # decode+shingle is CPU-bound, so spread it across all cores
        # (north-rule explicit repartitioning; sized to cluster parallelism)
        par = self.spark.sparkContext.defaultParallelism
        src = images.select("image_id", "bytes", "fmt", "caption")
        # only shuffle when the input arrives under-partitioned. File count
        # is a plan-only proxy (no RDD conversion, no job): it can undercount
        # when one big file splits by maxPartitionBytes, in which case we pay
        # one extra shuffle before a CPU-bound stage — cheap insurance. The
        # RDD probe only runs for non-file sources (test DataFrames).
        files = images.inputFiles()
        n_parts = len(files) if files else images.rdd.getNumPartitions()
        if n_parts < par:
            src = src.repartition(par * 2, "image_id")
        return src.mapInArrow(
            udfs.make_sketch_arrow_fn(self.cfg), schema=udfs.SKETCH_SCHEMA
        )

    def _stage_shingle_counts(self, sketches: DataFrame) -> DataFrame:
        return (
            sketches.select(F.explode("shingles").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).cast("int").alias("cnt"))
        )

    def _band_df_limit(self, n_items: int) -> int:
        """Relative informative-shingle df limit (see config.band_max_df_abs
        for why a fixed absolute cap decays recall as the corpus grows)."""
        cfg = self.cfg
        limit = max(cfg.band_max_df_min, int(cfg.band_max_df_frac * n_items))
        if cfg.band_max_df_abs is not None:
            limit = min(limit, cfg.band_max_df_abs)
        return limit

    def _stage_candidates(
        self,
        sketches: DataFrame,
        counts: DataFrame,
        n_items: int,
        n_vocab: int,
    ) -> DataFrame:
        """``n_items`` (sketch rows) and ``n_vocab`` (distinct shingles) are
        threaded in from the stage manifests — re-counting here would be a
        full extra pass over each table per run. ``n_vocab`` gates the
        broadcast-banding path up front: when the vocabulary exceeds the
        broadcast cap, collecting cap+1 rows just to discard them wastes a
        driver round-trip (serial time) at exactly the scale where it
        hurts."""
        cfg = self.cfg
        # stop-shingle masking (corpus analog of sylph's repeat masking,
        # sketch.rs:590-600): drop shingles with document frequency above the
        # limit from BANDING input — boilerplate shingles otherwise create
        # dense buckets and quadratic candidate growth. Scoring still uses
        # the full sets.
        limit = self._band_df_limit(n_items)
        rare = counts.filter(F.col("cnt") <= limit).select("shingle")
        # three LSH families (source-aware banding): combined wide/shallow
        # for cross-modal partial similarity; per-modality narrow/deep for
        # near-identical-in-that-family pairs (see SketchConfig), all banded
        # by one multi-family UDF over (image_id, img_shingles, cap_shingles)
        if n_vocab <= cfg.broadcast_rare_max:
            # broadcast the rare vocabulary; the UDF filters in-task: no
            # explode, no re-aggregation shuffle. toArrow() lands the column
            # as a numpy-backed buffer (no Python-object loop);
            # |rare| <= n_vocab <= cap bounds the driver transfer, and the
            # sc.broadcast ships it once per executor (not once per task)
            import numpy as np

            rare_arr = np.sort(rare.toArrow().column("shingle").to_numpy())
            rare_bc = self.spark.sparkContext.broadcast(rare_arr)
            band_input = sketches.select("image_id", "img_shingles", "cap_shingles")
        else:
            # vocabulary too large to broadcast: filter by a join instead —
            # one explode of both modalities (tagged), one join with the
            # rare set, one per-item regroup (collect_list skips the other
            # modality's nulls). Items left with no rare shingle drop out,
            # as they emit no band rows on the broadcast path either.
            rare_bc = None
            tagged = (
                "concat(transform(img_shingles, s -> "
                "named_struct('img', true, 'shingle', s)), "
                "transform(cap_shingles, s -> "
                "named_struct('img', false, 'shingle', s)))"
            )
            band_input = (
                sketches.select("image_id", F.inline(F.expr(tagged)))
                .join(rare, "shingle")
                .groupBy("image_id")
                .agg(
                    F.expr("collect_list(IF(img, shingle, NULL))").alias(
                        "img_shingles"
                    ),
                    F.expr("collect_list(IF(img, NULL, shingle))").alias(
                        "cap_shingles"
                    ),
                )
            )
        bands = band_input.mapInArrow(
            udfs.make_multi_band_fn(cfg, rare_bc), schema=udfs.BAND_SCHEMA
        )
        # Bucketize in ONE hash aggregate (no window: the previous
        # row_number/count-over pair forced a full sort-shuffle of the band
        # rows and recomputed it for both join sides). sort_array makes the
        # bucket order deterministic regardless of task scheduling.
        #
        # Then collapse buckets with IDENTICAL member lists before any pair
        # generation: near-identical items collide in MANY of the bands (an
        # exact-dup pair collides in all of them), so the same id list shows
        # up once per colliding (band, hash) key and would generate the same
        # pairs each time, all discarded by the final distinct. Measured at
        # bench scale: 196k buckets → 11k distinct member lists (and raw
        # pair volume 255k → 15k) for one extra exchange of the (small)
        # bucket rows — the pair-explode + distinct shuffle shrinks ~17×.
        # The generated pair SET is unchanged: identical ids ⇒ identical
        # chunked pairs, and union-of-buckets feeds a distinct anyway.
        chunk = cfg.pair_chunk
        buckets = (
            bands.groupBy("band", "band_hash")
            .agg(F.sort_array(F.collect_list("image_id")).alias("ids"))
            .filter(F.size("ids") >= 2)
            .select("ids")
            .distinct()
            .withColumn("nc", F.ceil(F.size("ids") / chunk).cast("int"))
            .withColumn(
                "dense", F.size("ids") > F.lit(cfg.bucket_degrade_size)
            )
        )
        # chunked pair generation (salted-key skew mitigation, north rule):
        # one row per (ci <= cj) chunk pair carrying only the two id slices,
        # so a bucket of size s becomes ~ceil(s/chunk)² bounded work items.
        # DENSE buckets (> cfg.bucket_degrade_size members — degenerate
        # boilerplate buckets, possible once the df limit scales with n)
        # degrade to banded tri-diagonal pairing (cj ≤ ci+1): candidate
        # volume drops from s²/2 to ~1.5·chunk·s, linear in s, while every
        # member still pairs with ≥ chunk bucket neighbors so the bucket
        # clusters via CC chaining rather than needing every pairwise edge.
        chunks = buckets.select(
            "ids",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, nc - 1), ci -> "
                    "transform(sequence(ci, IF(dense, least(ci + 1, nc - 1), nc - 1)), cj -> "
                    "named_struct('ci', ci, 'cj', cj))))"
                )
            ).alias("cc"),
        ).select(
            F.slice("ids", F.col("cc.ci") * chunk + 1, chunk).alias("ids_i"),
            F.slice("ids", F.col("cc.cj") * chunk + 1, chunk).alias("ids_j"),
            (F.col("cc.ci") == F.col("cc.cj")).alias("diag"),
        )
        # the explode above happens inside the bucket's own partition: spread
        # the quadratic in-task pair generation of a hot bucket across the
        # cluster by round-robin shuffling the (small) chunk rows first
        chunks = chunks.repartition(
            self.spark.sparkContext.defaultParallelism * 2
        )
        # ids are bucket-sorted and chunks are contiguous ranges: off-diagonal
        # (ci < cj) pairs are ordered by construction; diagonal chunks pair
        # each element with its strict successors only
        pair_expr = (
            "explode(flatten(transform(ids_i, (x, i) -> transform("
            "CASE WHEN diag THEN slice(ids_j, i + 2, size(ids_j)) ELSE ids_j END, "
            "y -> named_struct('id_a', x, 'id_b', y)))))"
        )
        return (
            chunks.select(F.expr(pair_expr).alias("p"))
            .select("p.id_a", "p.id_b")
            .distinct()
        )

    def _pair_intersections(self, pairs: DataFrame, sketches: DataFrame) -> DataFrame:
        """(id_a, id_b) → (id_a, id_b, total_kmers, inter) by joining the
        pair table with the shingle ARRAYS (shuffles pairs, not pair×shingle
        rows) and intersecting in-task with array_intersect — the probe-join
        J1 (contain.rs:632-652) without a 10⁹-row exchange."""
        prof = sketches.select("image_id", "n_shingles", "shingles")
        return (
            pairs.join(
                prof.select(
                    F.col("image_id").alias("id_a"),
                    F.col("n_shingles").alias("n_a"),
                    F.col("shingles").alias("sh_a"),
                ),
                "id_a",
            )
            .join(
                prof.select(
                    F.col("image_id").alias("id_b"),
                    F.col("n_shingles").alias("n_b"),
                    F.col("shingles").alias("sh_b"),
                ),
                "id_b",
            )
            .withColumn("total_kmers", F.least("n_a", "n_b"))
            .select(
                "id_a",
                "id_b",
                "total_kmers",
                F.array_intersect("sh_a", "sh_b").alias("inter"),
            )
        )

    def _stage_pair_shingles(
        self, candidates: DataFrame, sketches: DataFrame, counts: DataFrame
    ) -> DataFrame:
        """(id_a, id_b) → (id_a, id_b, total_kmers, inter_cnt) where
        inter_cnt pairs every intersecting shingle with its corpus
        multiplicity. Materialized ONCE and consumed by BOTH scoring passes:
        the round-2 plan re-derived the pair intersections in the rescore
        stage (two extra sketch joins + an explode + a counts join that
        _stage_scored had already paid)."""
        cand = self._pair_intersections(candidates, sketches).filter(
            # early prefilter on raw intersection size (min-ANI analog,
            # contain.rs:746-764) before exploding anything
            F.size("inter")
            >= self.cfg.score_min_contain * F.col("total_kmers")
        )
        inter = cand.select(
            "id_a", "id_b", "total_kmers", F.explode("inter").alias("shingle")
        )
        # every intersecting shingle occurs in BOTH pair members, so its
        # corpus count is ≥ 2 by construction — joining against the cnt ≥ 2
        # slice is lossless and shrinks the join's build side from the full
        # vocabulary (dominated by df=1 singletons) to the shared tail,
        # usually under the AQE broadcast threshold: the exploded pair-side
        # then never shuffles by shingle at all
        return (
            inter.join(counts.filter(F.col("cnt") >= 2), "shingle")
            .groupBy("id_a", "id_b", "total_kmers")
            .agg(F.collect_list(F.struct("shingle", "cnt")).alias("inter_cnt"))
        )

    def _stage_scored(self, pair_shingles: DataFrame) -> DataFrame:
        covs = pair_shingles.select(
            "id_a",
            "id_b",
            "total_kmers",
            F.expr("transform(inter_cnt, e -> e.cnt)").alias("covs"),
        )
        return covs.mapInArrow(
            udfs.make_score_arrow_fn(self.cfg), schema=udfs.SCORE_SCHEMA
        )

    def _stage_rescored(
        self,
        scored: DataFrame,
        pair_shingles: DataFrame,
        sketches: DataFrame,
        counts: DataFrame,
        n_items: int,
    ) -> DataFrame:
        """Two-pass winner-table rescoring (contain.rs:410-459 winner table,
        consumption at contain.rs:637-645, derep at contain.rs:353-375).

        Each INFORMATIVE shingle (corpus df ≤ the banding stop-shingle
        limit) is owned, WITHIN each preliminary cluster, by the
        highest-scoring first-pass item that contains it (ties break toward
        the larger image_id — the reference breaks by result iteration
        order, which has no distributed analog); every first-pass pair is
        rescored counting only shingles it still owns; ``kmers_lost``
        counts the reassigned ones, and pairs whose reassignment reaches
        tau^ani_k · total_kmers are dropped.

        Two scoping rules keep the graft faithful AND recall-safe at corpus
        scale: (1) competition runs inside the pair's own preliminary
        cluster (CC over first-pass edges) — sylph's winner table
        arbitrates among genomes claimed present in the SAME sample
        (contain.rs:410), and the sample analog is the duplicate cluster,
        so unrelated clusters never steal a pair's shingles; (2) shingles
        above the banding df limit never compete — the corpus analog of
        removing repeat k-mers from genome sketches BEFORE the winner
        table sees them (sketch.rs:595-600).

        Scale shape: the winner table is shingle-keyed (same cardinality as
        shingle_counts — one shuffle over item-shingle rows of first-pass
        survivors only), and the rescore reads the pair intersections (with
        multiplicities) straight from the materialized pair_shingles table
        for the first-pass pair set (≪ candidates). No driver-side state."""
        cfg = self.cfg
        if not cfg.winner_rescore:
            return scored
        first = scored.filter(F.col("adj_sim") >= cfg.tau)
        # item score = best first-pass similarity the item participates in
        # (the AniResult.final_est_ani analog of the genome's result row)
        item_score = (
            first.select(F.col("id_a").alias("image_id"), "adj_sim")
            .unionByName(first.select(F.col("id_b").alias("image_id"), "adj_sim"))
            .groupBy("image_id")
            .agg(F.max("adj_sim").alias("item_score"))
        )
        # Only shingles that occur in a FIRST-PASS pair intersection can
        # arbitrate a rescore (`owned` left-joins the winner table onto ex;
        # winners for any other shingle are dead rows). pair_shingles already
        # carries each intersecting shingle WITH its corpus count, so the
        # repeat mask (cnt ≤ banding df limit — boilerplate never competes,
        # sketch.rs:595-600) needs no join against the vocabulary-sized rare
        # table: filter on the carried cnt and dedupe. |needed| ≈ shared
        # shingles of first-pass pairs ≪ |rare| ≈ the whole vocabulary, so
        # the winner-table semi-join broadcasts where the old rare join was
        # a two-sided vocab-scale sort-merge — the stage attribution's
        # worst-scaling heavy barrier (BENCH/BASELINE.md per-stage table).
        limit = self._band_df_limit(n_items)
        # preliminary clusters = competition scope (first-pass edges only).
        # component_labels returns BOTH the per-pair and the per-node
        # label tables out of one driver CC pass below the edge threshold:
        # no label join onto `first`, no pre/bigp localCheckpoint barriers
        # (each was a core-count-invariant eager job — the rescore stage's
        # measured serial floor, BENCH/BASELINE.md per-stage attribution).
        # The whole rescore DAG now materializes lazily in the verified
        # barrier as one job.
        pair_lab, node_lab = component_labels(first)
        # 2-item-cluster bypass: a winner for shingle s is, by the max_by
        # construction, an item CONTAINING s within the pair's cluster — in
        # a cluster of exactly {a, b} that is always a or b, so every
        # intersection shingle is kept, kmers_lost = 0, and the rescore
        # recomputes the first-pass score from the identical covs vector.
        # Those pairs (the dominant class: most duplicate groups are pairs)
        # pass through as their first-pass rows verbatim; the winner table,
        # the pair-shingle explode, and the re-aggregation run ONLY over
        # clusters with >= 3 members, where competition can actually
        # reassign a shingle. Shrinks the stage's shuffled volume by the
        # 2-cluster pair fraction (~2/3 on the bench corpus) at any scale.
        small = first.join(
            pair_lab.filter(F.col("csize") == 2).select("id_a", "id_b"),
            ["id_a", "id_b"],
        )
        # bigp feeds both the needed-shingle derivation and the pair explode
        # (a small local/broadcast table — no eager checkpoint needed)
        bigp = pair_lab.filter(F.col("csize") >= 3).select(
            "id_a", "id_b", "pre_cluster"
        )
        needed = (
            pair_shingles.join(bigp.select("id_a", "id_b"), ["id_a", "id_b"])
            .select(F.explode("inter_cnt").alias("e"))
            .filter(F.col("e.cnt") <= limit)
            .select(F.col("e.shingle").alias("shingle"))
            .distinct()
        )
        winner = (
            sketches.join(item_score, "image_id")
            .join(
                node_lab.filter(F.col("csize") >= 3).select(
                    "image_id", "pre_cluster"
                ),
                "image_id",
            )
            .select(
                "image_id",
                "pre_cluster",
                "item_score",
                F.explode("shingles").alias("shingle"),
            )
            .join(needed, "shingle")
            .groupBy("pre_cluster", "shingle")
            .agg(
                F.expr("max_by(image_id, struct(item_score, image_id))").alias(
                    "win_id"
                )
            )
        )
        # pair intersections come straight from the materialized
        # pair_shingles table (multiplicities included) — no sketch joins,
        # no array_intersect, no counts join in this pass; bigp already
        # carries the pair's cluster label, so no second pre join either
        ex = (
            pair_shingles.join(bigp, ["id_a", "id_b"])
            .select(
                "id_a",
                "id_b",
                "pre_cluster",
                "total_kmers",
                F.explode("inter_cnt").alias("e"),
            )
            .select(
                "id_a",
                "id_b",
                "pre_cluster",
                "total_kmers",
                F.col("e.shingle").alias("shingle"),
                F.col("e.cnt").alias("cnt"),
            )
        )
        owned = ex.join(winner, ["pre_cluster", "shingle"], "left").withColumn(
            "kept",
            F.col("win_id").isNull()
            | (F.col("win_id") == F.col("id_a"))
            | (F.col("win_id") == F.col("id_b")),
        )
        # ONE aggregation yields both the surviving coverage vector
        # (collect_list skips the nulled-out lost shingles) and kmers_lost
        res = owned.groupBy("id_a", "id_b", "total_kmers").agg(
            F.collect_list(F.when(F.col("kept"), F.col("cnt"))).alias("covs"),
            F.sum((~F.col("kept")).cast("int")).cast("int").alias("kmers_lost"),
        )
        # derep anti-filter (contain.rs:353-375): num_kmer_reassign must stay
        # under ani_thresh^k · total — here tau^ani_k · total_kmers
        res = res.filter(
            F.col("kmers_lost")
            < F.pow(F.lit(cfg.tau), F.lit(cfg.ani_k)) * F.col("total_kmers")
        )
        rescored_big = res.mapInArrow(
            udfs.make_score_arrow_fn(self.cfg), schema=udfs.SCORE_SCHEMA
        )
        # 2-cluster pairs re-enter with their first-pass rows (kmers_lost is
        # already 0 on the scored path — see make_score_arrow_fn)
        return rescored_big.unionByName(small)

    def _gate_base(self, scored: DataFrame, sketches: DataFrame) -> DataFrame:
        """tau + SimHash-hamming gate with captions attached — the input to
        the LCS confirmation (split out so the prefilter counter can measure
        the UDF's pair volume without running it)."""
        cfg = self.cfg
        prof = sketches.select("image_id", "simhash", "caption")
        return (
            scored.filter(F.col("adj_sim") >= cfg.tau)
            .join(
                prof.select(
                    F.col("image_id").alias("id_a"),
                    F.col("simhash").alias("sh_a"),
                    F.col("caption").alias("cap_a"),
                ),
                "id_a",
            )
            .join(
                prof.select(
                    F.col("image_id").alias("id_b"),
                    F.col("simhash").alias("sh_b"),
                    F.col("caption").alias("cap_b"),
                ),
                "id_b",
            )
            .withColumn(
                "hamming",
                F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))),
            )
            .filter(F.col("hamming") <= cfg.simhash_max_hamming)
            .withColumn("min_len", F.least(F.length("cap_a"), F.length("cap_b")))
        )

    def _stage_gated(self, scored: DataFrame, sketches: DataFrame) -> DataFrame:
        """First-pass tau + the two score-independent confirmation gates
        (SimHash hamming, suffix-array LCS on captions) — the north-rule
        verification. These edges drive CLUSTERING; the winner rescore
        refines attribution within them (see module docstring).

        The LCS suffix-automaton call is the only per-pair Python left in
        the hot pipeline; its volume is bounded INSIDE the vectorized UDF
        (udfs.make_lcs_fn): equal-caption pairs — the dominant duplicate
        class — short-circuit to lcs = len via one whole-batch pandas
        comparison, so only unequal-caption survivors pay the automaton.
        (A JVM k-gram arrays_overlap prefilter and a DataFrame-level
        eq/ne branch split were both measured SLOWER than the plain path
        — gram construction costs ~3.6× the automaton call it avoids, and
        the branch split doubles the gate's join work.)"""
        cfg = self.cfg
        df = self._gate_base(scored, sketches)
        lcs_udf = F.pandas_udf(udfs.make_lcs_fn(), T.LongType())
        df = df.withColumn("lcs", lcs_udf(F.col("cap_a"), F.col("cap_b"))).filter(
            (F.col("min_len") == 0)
            | (
                (F.col("lcs") >= F.least(F.lit(cfg.lcs_min_len), F.col("min_len")))
                & (F.col("lcs") >= cfg.lcs_min_frac * F.col("min_len"))
            )
        )
        return df.select("id_a", "id_b", "hamming", "lcs")

    def _stage_verified(self, rescored: DataFrame, gated: DataFrame) -> DataFrame:
        """Second-pass report table (contain.rs:637-645 re-filtered results):
        winner-rescored pairs that still clear tau AND passed the gates."""
        return rescored.filter(F.col("adj_sim") >= self.cfg.tau).join(
            gated, ["id_a", "id_b"]
        )

    def _stage_clusters(self, sketches: DataFrame, gated: DataFrame) -> DataFrame:
        return connected_components(sketches, gated)

    def _stage_survivors(self, clusters: DataFrame, verified: DataFrame) -> DataFrame:
        """One representative per cluster = argmax by mean verified
        similarity (the winner-table argmax, contain.rs:410-459), ties and
        singleton clusters falling back to the min image_id."""
        # one reference to `verified` instead of a two-branch union (explode
        # of the 2-element id array emits the identical (image_id, adj_sim)
        # multiset) — with a single subtree reference the verified stage can
        # stay LAZY in run_volatile (no checkpoint barrier) without its join
        # being recomputed per branch
        contrib = verified.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("image_id"),
            "adj_sim",
        )
        rep_score = contrib.groupBy("image_id").agg(
            (F.sum("adj_sim") / F.count(F.lit(1))).alias("rep_score")
        )
        return (
            clusters.join(rep_score, "image_id", "left")
            .withColumn("rep_score", F.coalesce("rep_score", F.lit(0.0)))
            .groupBy("cluster_id")
            .agg(
                F.expr(
                    "min_by(image_id, struct(-rep_score, image_id))"
                ).alias("image_id")
            )
            .select("image_id", "cluster_id")
        )

    # -- orchestration -----------------------------------------------------

    def run_graph(
        self,
        images: DataFrame,
        materialize: Callable[[Node, Callable[[], Any]], Any],
        stage_times: dict | None = None,
    ) -> dict[str, DataFrame]:
        """Run GRAPH once: every node is a future that waits on its inputs'
        futures, in a pool as wide as the graph, so each node starts as soon
        as its inputs are ready (shingle_counts ∥ n_items, gated ∥ rescored,
        clusters ∥ the rescored tail — guide §2.6).

        ``materialize(node, build)`` turns the node's builder thunk into its
        value. Each node's jobs run under job group ``stage.<name>``, set on
        the thread that materializes it; the inherited group is restored on
        return. ``stage_times`` accumulates build + materialize wall seconds
        per ``node.timer``; timed nodes overlap on the wall clock."""
        sc = self.spark.sparkContext
        lock = threading.Lock()
        futs: dict[str, Future] = {}

        def run_node(node: Node) -> Any:
            args = [images if i == "images" else futs[i].result() for i in node.inputs]
            if node.mode == "count":
                builder = lambda df: df  # noqa: E731 - the materializer counts
            else:
                builder = getattr(self, f"_stage_{node.name}")
            prev = {k: sc.getLocalProperty(k) for k in _JOB_GROUP_PROPS}
            sc.setJobGroup(f"stage.{node.name}", node.name)
            try:
                with heavy_payload_batches(self.spark) if node.heavy else nullcontext():
                    t0 = time.perf_counter()
                    out = materialize(node, lambda: builder(*args))
                    dt = time.perf_counter() - t0
            finally:
                for k, v in prev.items():
                    sc.setLocalProperty(k, v)
            if stage_times is not None and node.timer:
                with lock:
                    stage_times[node.timer] = round(
                        stage_times.get(node.timer, 0.0) + dt, 3
                    )
            return out

        with ThreadPoolExecutor(max_workers=len(GRAPH)) as pool:
            for node in GRAPH:  # topological: every input is submitted first
                target = inheritable_thread_target(self.spark)(run_node)
                futs[node.name] = pool.submit(target, node)
            return {s: futs[s].result() for s in STAGES}

    def run(self, images: DataFrame, force: bool = False) -> dict[str, DataFrame]:
        """Run all stages, skipping any whose committed manifest matches the
        current config hash AND input fingerprint (checkpoint/resume, north
        rule; the input side mirrors contain.rs:503-516 compatibility)."""
        cat, h = self.catalog, self.h
        fp = input_fingerprint(images)

        def commit(node: Node, build: Callable[[], Any]) -> Any:
            if node.mode == "count":  # no re-count: the manifest has the rows
                return cat.manifest(node.inputs[0]).rows
            if force or not cat.has_valid(node.name, h, fp):
                cat.write(build(), node.name, h, extra={"input_fp": fp})
            return cat.read(node.name)

        return self.run_graph(images, commit)


def _materialize_volatile(node: Node, build: Callable[[], Any]) -> Any:
    """In-memory materialization: localCheckpoint, lazy, or a count()."""
    out = build()
    if node.mode == "checkpoint":
        return out.localCheckpoint()
    return out.count() if node.mode == "count" else out


def run_volatile(
    spark: SparkSession,
    images: DataFrame,
    cfg: SketchConfig,
    stage_times: dict | None = None,
) -> dict[str, DataFrame]:
    """Run all stages in-memory (no catalog). For tests/smoke runs;
    production runs use DedupPipeline.run (resumable).

    ``stage_times``: optional dict filled with the wall seconds each EAGER
    barrier took (localCheckpoint / count / the CC driver loop) — the
    per-stage attribution behind the scaling-efficiency evidence
    (BENCH/BASELINE.md). Lazy stages (candidates, verified, survivors) are
    fused by Catalyst into the next barrier and show up there."""
    return DedupPipeline(spark, cfg).run_graph(
        images, _materialize_volatile, stage_times
    )


def images_df_from_pandas(spark: SparkSession, images: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(images, schema=IMAGES_SCHEMA)
