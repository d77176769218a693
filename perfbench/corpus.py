"""Seeded benchmark corpus and its ground truth.

The corpus is the ``sylph_spark.fixtures_spark`` image+caption corpus: the
same plan layout (per base image 0.5 duplicate variants and 0.1 hard
negatives) and the same per-row content function, generated here by a few
plain subprocesses instead of a Spark job, so that the session under test
sees only finished parquet files and its first run stays a first run.

    python3 -m perfbench.corpus <dir> <n_base> <seed> <px> <k> <procs>

writes the part files k, k + procs, ... of one corpus (used by
``ensure_corpus``).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the program's own generator writes defaultParallelism * 3 partitions; a
# fixed count keeps the input layout independent of the host
N_FILES = 12
# corpora kept for reuse by later runs with the same seed (~10-20 MB each)
KEEP = 8

SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)


def image_id(row_idx: int) -> str:
    return f"img{row_idx:010d}"


def _gen_rows(seed: int, px: int, rows: list[tuple[int, str, int]]) -> pa.Table:
    from sylph_spark import codecs, fixtures_spark

    cols = {f.name: [] for f in SCHEMA}
    for row_idx, kind, base_idx in rows:
        img, caption, fmt = fixtures_spark._row_content(seed, kind, base_idx, row_idx, px)
        cols["image_id"].append(image_id(row_idx))
        cols["bytes"].append(codecs.encode_image(img, fmt))
        cols["h"].append(img.shape[0])
        cols["w"].append(img.shape[1])
        cols["fmt"].append(fmt)
        cols["caption"].append(caption)
        cols["phash"].append(codecs.average_phash(codecs.to_gray(img)))
    return pa.table(cols, schema=SCHEMA)


def ensure_corpus(root: str, n_base: int, seed: int, px: int, procs: int) -> str:
    """Parquet directory of the corpus for (n_base, seed, px), generated once
    and kept among the KEEP most recently used corpora under ``root``."""
    from sylph_spark import fixtures_spark

    path = os.path.join(root, f"images_{n_base}_{seed}_{px}")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        os.utime(done)
        return path
    os.makedirs(root, exist_ok=True)

    def last_used(d: str) -> float:
        p = os.path.join(root, d, "_DONE")
        return os.path.getmtime(p) if os.path.exists(p) else 0.0

    for d in sorted(os.listdir(root), key=last_used)[: -(KEEP - 1) or None]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)  # left by an interrupted run
    os.makedirs(path)
    args = [path, n_base, seed, px]
    workers = [
        subprocess.Popen([sys.executable, "-m", "perfbench.corpus", *map(str, args + [k, procs])])
        for k in range(procs)
    ]
    if any(w.wait() != 0 for w in workers):
        raise RuntimeError(f"corpus generation failed for {path}")
    open(done, "w").close()
    return path


def write_parts(path: str, n_base: int, seed: int, px: int, k: int, procs: int) -> None:
    """Part files k, k + procs, ... of the corpus; rows go to file row % N_FILES."""
    from sylph_spark import fixtures_spark

    plan = fixtures_spark._plan(n_base)
    for f in range(k, N_FILES, procs):
        rows = [(i, kind, b) for i, (kind, b) in enumerate(plan) if i % N_FILES == f]
        pq.write_table(_gen_rows(seed, px, rows), os.path.join(path, f"part-{f:05d}.parquet"))


def preread(path: str) -> int:
    """Read every corpus file once so timed runs start from the page cache."""
    total = 0
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            while chunk := f.read(1 << 20):
                total += len(chunk)
    return total


class Truth:
    """Planned duplicate and negative pairs (row id, base id) of a corpus."""

    def __init__(self, n_base: int):
        from sylph_spark import fixtures_spark

        plan = fixtures_spark._plan(n_base)
        self.ids = np.array([image_id(i) for i in range(len(plan))])
        dup, neg = [], []
        for i, (kind, base) in enumerate(plan):
            if kind != "base":
                (neg if kind == "negative" else dup).append((i, base))
        self.dup = np.array(dup, dtype=np.int64).reshape(-1, 2)
        self.neg = np.array(neg, dtype=np.int64).reshape(-1, 2)

    def score(self, labels: dict[str, str]) -> dict:
        """Recall of planned duplicates and count of merged negatives. Every
        planned id must carry a label; a missing one is an error, not a
        silent miss or hit."""
        missing = [i for i in self.ids if i not in labels]
        if missing:
            raise ValueError(f"{len(missing)} planned ids unlabelled, e.g. {missing[:3]}")
        lab = np.array([labels[i] for i in self.ids])
        dup_hit = lab[self.dup[:, 0]] == lab[self.dup[:, 1]]
        neg_hit = lab[self.neg[:, 0]] == lab[self.neg[:, 1]]
        return {
            "dup_recall": float(dup_hit.mean()),
            "dup_total": int(len(self.dup)),
            "neg_merged": int(neg_hit.sum()),
            "neg_total": int(len(self.neg)),
        }


if __name__ == "__main__":
    write_parts(sys.argv[1], *map(int, sys.argv[2:]))
