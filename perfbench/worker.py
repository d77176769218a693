"""Measurement process of the dedup engine benchmark.

Started by ``perfbench/run.py`` in a fresh process (so ``setup_s`` is a
cold ``build_spark``) with the benchmark's work directory as its cwd. It
writes one result JSON to ``--out`` and stops every process it started.

Each workload times one production shape of the engine on its own corpus:
``run_volatile`` (localCheckpoint barriers, in-memory), or ``DedupPipeline.run``
resuming over the ``StageCatalog`` that its first, committed run wrote. The
traced run adds a plain committed run and the other shape once, so both
shapes' outputs are compared and every per-layer metric is measured on every
workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

from perfbench import corpus
from perfbench.trace import RssSampler, Spans, descendants, fold_event_log, spin_mops, tree_cpu_s

# corpus size (base images; rows = 1.6 × n_base), the engine shape each
# workload times, how many warm-up runs may separate the first run from the
# timed window, and the fewest timed runs. Warm-up stops early once a run
# agrees with the one before it (WARM_AGREE). The caps keep one run near a
# minute, the benchmark's budget per run (48 runs to a session of under an
# hour), which a cold build_spark (~20 s) already halves; resumes take ~1 s,
# so catalog_resume affords more of them.
#   volatile: first run and timed runs are run_volatile
#   catalog:  first run is DedupPipeline.run committing all ten stages into
#             a wiped workdir; timed runs resume over that workdir
WORKLOADS = {
    "dup_dense": {"n_base": 1000, "shape": "volatile", "max_warm": 1, "min_window": 1},
    "catalog_resume": {"n_base": 600, "shape": "catalog", "max_warm": 2, "min_window": 8},
}
PX = 64
WARM_AGREE = 0.10
RECALL_TARGET = 0.99
# run_volatile's stage_times keys → metric-name-safe barrier names
BARRIERS = {
    "sketches": "sketches",
    "shingle_counts": "shingle_counts",
    "counts(2)": "counts_2",
    "cands+pair_shingles": "cands_pair_shingles",
    "scored": "scored",
    "gated": "gated",
    "rescored": "rescored",
    "clusters(cc)": "clusters_cc",
    "survivors": "survivors",
}
STAGE_FIELDS = (
    "wall_s",
    "cpu_s",
    "jvm_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "tasks",
    "skew",
    "rows",
)

now = time.perf_counter


class RunFailed(Exception):
    pass


class Bench:
    def __init__(self, spark, corpus_path: str, truth: corpus.Truth, spans: Spans):
        from sylph_spark.config import SketchConfig
        from sylph_spark.sources.images import read_images

        self.spark, self.truth, self.spans = spark, truth, spans
        self.sc = spark.sparkContext
        self.cfg = SketchConfig()
        self.workdir = os.path.join(os.getcwd(), "catalog")
        with spans.span("sources.read_images"):
            self.images = read_images(spark, corpus_path)
        self.runs: list[dict] = []
        self.ref_digest: str | None = None
        self.quality: dict | None = None
        self.stage_rec: dict[str, dict] = {}
        self.rss = RssSampler(os.getpid())

    # -- one run of each path ---------------------------------------------

    def _record(self, kind: str, phase: str, fn) -> float | None:
        """Run ``fn`` (returns (wall, extra)), check its output, and log it.
        An exception or a failed check marks the run failed."""
        rec = {"kind": kind, "phase": phase, "host_mops": spin_mops()}
        try:
            if self.sc._jsc.getPersistentRDDs().size() != 0:
                raise RunFailed("persistent RDDs carried into a timed run")
            wall, extra = fn()
            rec.update(wall_s=wall, ok=True, **extra)
        except Exception as e:  # a failed run is a measured outcome
            traceback.print_exc()
            rec.update(ok=False, error=f"{type(e).__name__}: {e}")
        finally:
            self._release()
        self.runs.append(rec)
        print(json.dumps(rec), file=sys.stderr, flush=True)
        return rec["wall_s"] if rec["ok"] else None

    def _release(self) -> None:
        """Unpersist every cached RDD (the run's localCheckpoints): they are
        otherwise freed only when the driver-side objects are collected."""
        for rdd in self.sc._jsc.getPersistentRDDs().values():
            rdd.unpersist()

    def _check(self, out: dict) -> dict:
        """Correctness gate: every planned id clustered, one survivor per
        cluster drawn from it, recall at target, and clusters/survivors
        identical to the first run of this process."""
        import hashlib

        cl = out["clusters"].select("image_id", "cluster_id").toArrow().to_pandas()
        sv = out["survivors"].select("image_id", "cluster_id").toArrow().to_pandas()
        if cl["image_id"].duplicated().any() or len(cl) != len(self.truth.ids):
            raise RunFailed(f"clusters has {len(cl)} rows for {len(self.truth.ids)} planned ids")
        labels = dict(zip(cl["image_id"], cl["cluster_id"]))
        q = self.truth.score(labels)
        if sv["cluster_id"].nunique() != len(sv) or len(sv) != cl["cluster_id"].nunique():
            raise RunFailed("survivors are not one per cluster")
        if any(labels.get(i) != c for i, c in zip(sv["image_id"], sv["cluster_id"])):
            raise RunFailed("a survivor is not a member of its cluster")
        if q["dup_recall"] < RECALL_TARGET:
            raise RunFailed(f"dup_recall {q['dup_recall']:.4f} < {RECALL_TARGET}")
        h = hashlib.sha256()
        for df in (cl.sort_values("image_id"), sv.sort_values("image_id")):
            h.update(df.to_csv(index=False).encode())
        digest = h.hexdigest()
        if self.ref_digest is None:
            self.ref_digest, self.quality = digest, q
        elif digest != self.ref_digest:
            raise RunFailed("clusters/survivors differ from this process's first run")
        return {"survivors": len(sv), "digest": digest[:12]}

    def volatile(self, phase: str) -> float | None:
        from sylph_spark.pipeline import run_volatile

        def go():
            st: dict = {}
            with self.rss.timed(), self.spans.span("pipeline.run_volatile"):
                t0 = now()
                out = run_volatile(self.spark, self.images, self.cfg, stage_times=st)
                with self.spans.span("barrier.survivors"):
                    t1 = now()
                    out["survivors"].count()
                    t2 = now()
            st["survivors"] = t2 - t1
            extra = {
                "rss_mb": self.rss.run_peak / 2**20,
                "barriers": {BARRIERS.get(k, k): v for k, v in st.items()},
            }
            return t2 - t0, {**extra, **self._check(out)}

        return self._record("volatile", phase, go)

    def catalog(self, phase: str, force: bool, probe: bool = False) -> float | None:
        from sylph_spark.pipeline import DedupPipeline

        def go():
            if force:  # wipe outside the timed window
                shutil.rmtree(self.workdir, ignore_errors=True)
            pipe = DedupPipeline(self.spark, self.cfg, self.workdir)
            name = "pipeline.DedupPipeline.run" + ("" if force else ".resume")
            with self.rss.timed(), self.spans.span(name):
                t0 = now()
                if probe:
                    StageProbe(self, pipe.catalog, groups=force)
                out = pipe.run(self.images, force=force)
                out["survivors"].count()
                wall = now() - t0
            return wall, {"rss_mb": self.rss.run_peak / 2**20, **self._check(out)}

        return self._record("commit" if force else "resume", phase, go)

    def commit(self, phase: str, probe: bool = False) -> float | None:
        return self.catalog(phase, force=True, probe=probe)

    def resume(self, phase: str, probe: bool = False) -> float | None:
        return self.catalog(phase, force=False, probe=probe)

    # -- protocol -----------------------------------------------------------

    def measure(self, workload: str, seconds: float, trace: bool) -> None:
        """First run, warm-up runs until two consecutive runs agree (capped),
        then a closed loop of timed runs for ``seconds`` (at least
        ``min_window``). The traced run then adds the other shape once."""
        wl = WORKLOADS[workload]
        volatile = wl["shape"] == "volatile"
        self.kind = "volatile" if volatile else "resume"
        repeat = self.volatile if volatile else self.resume
        prev = (self.volatile if volatile else self.commit)("first")
        self.warm_runs = 0
        while self.warm_runs < wl["max_warm"]:
            w = repeat("warm")
            self.warm_runs += 1
            if prev and w and abs(w - prev) <= WARM_AGREE * min(w, prev):
                break
            prev = w
        t_end, n = now() + seconds, 0
        while n < wl["min_window"] or now() < t_end:
            repeat("window")
            n += 1
        if not trace:
            return
        # a plain committed run (the probed run's baseline) and the other
        # shape; clusters and survivors must equal the first run's
        self.commit("extra")
        if volatile:
            self.resume("extra")
        else:
            self.volatile("extra")

    def timed_runs(self, kind: str) -> list[dict]:
        return [
            r
            for r in self.runs
            if r["kind"] == kind and r["ok"] and r["phase"] in ("window", "extra")
        ]

    def walls(self, kind: str) -> list[float]:
        return [r["wall_s"] for r in self.timed_runs(kind)]

    def end_to_end(self, setup_s: float) -> dict:
        first = next(r for r in self.runs if r["phase"] == "first")
        steady = statistics.median(self.walls(self.kind))
        q = self.quality
        ok = sum(r["ok"] for r in self.runs)
        return {
            "setup_s": setup_s,
            "first_run_s": first["wall_s"],
            "steady_run_s": steady,
            "images_per_s": len(self.truth.ids) / steady,
            "peak_rss_mb": statistics.median(r["rss_mb"] for r in self.timed_runs(self.kind)),
            "dup_recall": q["dup_recall"],
            "neg_separated": 1.0 - q["neg_merged"] / q["neg_total"],
            "runs_ok_frac": ok / len(self.runs),
        }

    # -- traced attribution ---------------------------------------------------

    def attribute(self) -> dict:
        """Per-layer numbers: one probed committed run (job group per stage),
        one probed resume, the input fingerprint, the LCS pre-filter counter
        and the barrier table of the volatile runs."""
        from sylph_spark.pipeline import STAGES, input_fingerprint, lcs_prefilter_stats
        from sylph_spark.io.catalog import StageCatalog

        m: dict = {
            "catalog.commit_run_s": statistics.median(self.walls("commit")),
            "catalog.resume_s": statistics.median(self.walls("resume")),
        }
        plain = m["catalog.commit_run_s"]
        probed = self.commit("probe", probe=True)
        self.resume("probe", probe=True)
        if probed is None:
            raise RunFailed("probed committed run failed")
        m["trace.overhead_s"] = probed - plain
        run = self.spans.last("pipeline.DedupPipeline.run")
        stage_sum = sum(self.spans.dur(c) for c in self.spans.children(run, "stage."))
        read_sum = sum(self.spans.dur(c) for c in self.spans.children(run, "catalog.read."))
        m["catalog.commit_self_s"] = self.spans.self_time(run)
        self.accounting = {
            "run_s": self.spans.dur(run),
            "stage_sum_s": stage_sum,
            "read_sum_s": read_sum,
            "self_s": m["catalog.commit_self_s"],
        }
        resume = self.spans.last("pipeline.DedupPipeline.run.resume")
        m["catalog.read_s"] = sum(
            self.spans.dur(c) for c in self.spans.children(resume, "catalog.read.")
        )
        fp = []
        for _ in range(3):
            with self.spans.span("pipeline.input_fingerprint"):
                t0 = now()
                input_fingerprint(self.images)
                fp.append(now() - t0)
        m["catalog.fingerprint_s"] = statistics.median(fp)

        cat = StageCatalog(self.spark, self.workdir)
        rows = {s: cat.manifest(s).rows for s in STAGES}
        for s in STAGES:
            self.stage_rec[s]["rows"] = rows[s]
        m["pipeline.prefilter_pass"] = rows["pair_shingles"] / rows["candidates"]
        m["pipeline.candidate_yield"] = rows["gated"] / rows["candidates"]
        m["cc.edges"] = rows["gated"]
        with self.spans.span("pipeline.lcs_prefilter_stats"):
            lcs = lcs_prefilter_stats(self.spark, cat.read("scored"), cat.read("sketches"), self.cfg)
        m["udfs.lcs_skipped_frac"] = lcs["lcs_udf_skipped_frac"]
        self._release()

        bars = [
            r["barriers"]
            for r in self.runs
            if r["kind"] == "volatile" and r["ok"] and r["phase"] in ("window", "extra")
        ]
        for b in BARRIERS.values():  # a barrier run_volatile no longer has reads 0
            m[f"barrier.{b}.wall_s"] = statistics.median(x.get(b, 0.0) for x in bars)
        pipeline_s = statistics.median(self.walls("volatile"))
        m["barrier.overlap_s"] = sum(m[f"barrier.{b}.wall_s"] for b in BARRIERS.values()) - pipeline_s
        m["pipeline.warmup_runs"] = self.warm_runs
        m["host.cpu_mops"] = statistics.median(r["host_mops"] for r in self.runs)
        return m


class StageProbe:
    """Wraps ``write``/``read`` of one ``StageCatalog`` so that each stage's
    Spark jobs run under job group ``stage.<name>`` and its wall and
    process-tree CPU are recorded (``groups=False``: reads are only timed).
    A stage spans from the end of the previous stage's read (or the run
    start) to the end of its own write: jobs a stage runs while its DataFrame
    is built (broadcast collects, the driver-side CC) fall in its group too. ``DedupPipeline.run`` is serial,
    so the attribution is exact."""

    def __init__(self, bench: Bench, cat, groups: bool):
        from sylph_spark.pipeline import STAGES

        self.b, self.stages, self.groups = bench, STAGES, groups
        self.pid = os.getpid()
        self._write, self._read = cat.write, cat.read
        cat.write, cat.read = self.write, self.read
        self._open(0)

    def _open(self, i: int) -> None:
        if self.groups and i < len(self.stages):
            self.b.sc.setJobGroup(f"stage.{self.stages[i]}", self.stages[i])
        else:
            self.b.sc._jsc.clearJobGroup()
        self.t0, self.cpu0 = now(), tree_cpu_s(self.pid)

    def write(self, df, name, *a, **k):
        m = self._write(df, name, *a, **k)
        t1 = now()
        self.b.spans.add(f"stage.{name}", self.t0, t1)
        self.b.stage_rec[name] = {"wall_s": t1 - self.t0, "cpu_s": tree_cpu_s(self.pid) - self.cpu0}
        return m

    def read(self, name):
        t0 = now()
        df = self._read(name)
        self.b.spans.add(f"catalog.read.{name}", t0, now())
        self._open(self.stages.index(name) + 1)
        return df


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until every process the
    session started (JVM, Python daemon, workers) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    jvm = gw.proc
    started = [jvm.pid, *descendants(jvm.pid)]
    spark.stop()
    gw.shutdown()
    jvm.stdin.close()  # the gateway JVM exits on stdin EOF
    jvm.wait(timeout=60)
    deadline = now() + 30
    while (left := [p for p in started if _alive(p)]) and now() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-base", type=int, default=0)
    args = ap.parse_args()

    t_start = now()
    wl = WORKLOADS[args.workload]
    n_base = args.n_base or wl["n_base"]
    work = os.getcwd()
    ncpu = len(os.sched_getaffinity(0))
    corpus_path = corpus.ensure_corpus(os.path.join(work, "corpus"), n_base, args.seed, PX, ncpu)
    corpus.preread(corpus_path)
    truth = corpus.Truth(n_base)
    spans = Spans(bool(args.trace))
    timeline = {"corpus_s": now() - t_start}

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # fixed heap: build_spark sets -Xmx from SYLPH_DRIVER_MEM (see run.py)
        "spark.driver.extraJavaOptions": "-Xms" + os.environ["SYLPH_DRIVER_MEM"],
    }
    evdir = os.path.join(work, "eventlog")
    if args.trace:
        shutil.rmtree(evdir, ignore_errors=True)
        os.makedirs(evdir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from sylph_spark.session import build_spark

    t0 = now()
    with spans.span("session.build_spark"):
        spark = build_spark("perfbench", master=f"local[{ncpu}]", extra_conf=conf)
    setup_s = now() - t0
    try:
        warmup_jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup())
        b = Bench(spark, corpus_path, truth, spans)
        with b.rss:
            b.measure(args.workload, args.seconds, bool(args.trace))
            if args.trace:
                layer = b.attribute()
        app_id = spark.sparkContext.applicationId
        timeline["measure_s"] = now() - t0 - setup_s
    finally:
        t1 = now()
        stop_spark(spark)
        timeline["stop_s"] = now() - t1

    failed = sum(not r["ok"] for r in b.runs)
    correct = failed == 0 and b.quality is not None
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "images": len(truth.ids),
        "quality": b.quality,
        "warmup_runs": b.warm_runs,
        "timeline": timeline,
        "runs": b.runs,
    }
    if args.trace:
        groups = fold_event_log(os.path.join(evdir, app_id))
        from perfbench.kernels import kernel_rates

        layer.update(kernel_rates(corpus_path, b.workdir, b.cfg, spans))
        layer["session.warmup_jobs"] = warmup_jobs
        commits = [g for n, g in groups.items() if n.startswith("stage.")]
        layer["catalog.jobs_per_write"] = sum(g["jobs"] for g in commits) / len(commits)
        layer["catalog.bytes_written"] = sum(g["output_bytes"] for g in commits)
        for s, rec in b.stage_rec.items():
            rec.update({k: v for k, v in groups[f"stage.{s}"].items() if k in STAGE_FIELDS})
            for k in STAGE_FIELDS:
                layer[f"stage.{s}.{k}"] = rec[k]
        spans.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"))
        detail["commit_accounting"] = b.accounting
        metrics = layer
        shutil.rmtree(evdir, ignore_errors=True)
    else:
        # failed runs still leave the others' numbers (runs_ok_frac < 1);
        # correct=False already marks the result
        measured = b.runs[0]["ok"] and b.walls(b.kind)
        metrics = b.end_to_end(setup_s) if measured else {}
    with open(args.out, "w") as f:
        json.dump(
            {
                "correct": correct,
                "attempted": len(b.runs),
                "failed": failed,
                "metrics": metrics,
                "detail": detail,
            },
            f,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
