"""Stat-based corpus keys for every artifact derived from the corpus.

``corpus_key`` is the one corpus fingerprint: anything built from a
source parquet table must key on WHAT the source currently is, not
just where it lives, or it serves stale state after the source
regenerates in place. The key hashes name+size+mtime_ns of every part
file, walking into directory-style parquet, so replacing a part file
without touching the directory entry still changes it.
``pypiper_spark.artifacts`` is the single store built on it (naming,
atomic publish, in-process memo); the tableformat demo roots in
``queries/snapshots.py`` use it directly.
"""

from __future__ import annotations

import hashlib
import os


def _table_fingerprint(sf_dir: str, table: str) -> str:
    """Raw stat fingerprint of one table's parquet file/directory."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        parts = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(path)
            for f in fs
            if not f.startswith((".", "_"))
        )
        return "|".join(
            f"{os.path.basename(p)}:{os.stat(p).st_size}:{os.stat(p).st_mtime_ns}"
            for p in parts
        )
    st = os.stat(path)
    return f"{st.st_size}:{st.st_mtime_ns}"


def table_num_rows(sf_dir: str, table: str) -> int:
    """Exact row count of one table from parquet FOOTERS only (no
    scan) — the input to every size-adaptive geometry decision
    (simhash band width, IVFPQ nprobe, PQ shortlist). Handles
    directory-style parquet (sum over part-file footers), which
    spark.read.parquet and corpus_key both support: ADVICE r10
    found the single-file-only version swallowed IsADirectoryError
    into n=0 and silently selected the small-corpus geometry at any
    scale — reintroducing the corpus-quadratic band self-join the
    adaptive geometry exists to prevent. Returns 0 only for a truly
    missing/unreadable table."""
    import pyarrow as pa_
    import pyarrow.parquet as pq_

    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):
            return sum(
                pq_.ParquetFile(os.path.join(dp, f)).metadata.num_rows
                for dp, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet") and not f.startswith((".", "_"))
            )
        return pq_.ParquetFile(path).metadata.num_rows
    except (OSError, pa_.ArrowException):
        # pyarrow raises ArrowInvalid (not OSError) for a zero-byte or
        # corrupt part file — same "unreadable table" contract (ADVICE r11)
        return 0


def corpus_key(sf_dir: str, label: str, tables: tuple = ("documents",)) -> str:
    """Short stable key for (corpus contents, purpose): md5 over the
    sf_dir path, a purpose label, and each source table's stat
    fingerprint. Regenerating any source table in place changes the
    key, so long-lived processes and on-disk demo/index roots can't
    serve stale state."""
    blob = "\x1f".join(
        [sf_dir, label, *(_table_fingerprint(sf_dir, t) for t in tables)]
    )
    return hashlib.md5(blob.encode()).hexdigest()[:12]
