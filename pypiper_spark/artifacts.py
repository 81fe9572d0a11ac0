"""The one store for build-once artifacts derived from the corpus.

An artifact is a file or directory that is a pure function of (source
tables, build parameters): ANN centroids and codebooks, the HNSW
graph, exact anchor and truth-pair frames, trained model tables,
staged stream replays, pristine base tables. Every one of them goes
through three pieces here:

- ``path_for`` names it. The name carries ``fingerprint.corpus_key``
  over the source tables and the parameters, so a table rewritten in
  place (directory-style parquet included) or a changed parameter
  lands on a new path instead of a stale hit. Roots stay where the
  artifact always lived: ``index_dir()`` for index artifacts, the temp
  dir for artifacts that must share a filesystem with per-call scratch
  (hardlink clones, stream replays).
- ``publish`` builds it into a temp sibling of that path and renames
  it into place, so no reader ever sees a half-written artifact.
- ``memo`` holds the in-process value decoded from it, keyed by the
  full path (root, kind and key), so neither a changed corpus nor a
  different ``SPARK_GRAFT_INDEX_DIR`` can hit a stale entry.

A hit (the path exists, or the memo holds it) writes nothing.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable
from typing import TypeVar

from pypiper_spark.fingerprint import corpus_key

T = TypeVar("T")

_MEMO: dict[str, object] = {}


class IncompleteArtifact(RuntimeError):
    """A concurrent writer's artifact sits at the path but is incomplete."""


def index_dir() -> str:
    """Root for persisted index artifacts: ``SPARK_GRAFT_INDEX_DIR``,
    else the repo-local ``.ann_index`` (a real deployment points it at
    the object store next to the corpus)."""
    return os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), ".ann_index"),
    )


def path_for(
    kind: str,
    sf_dir: str,
    tables: tuple,
    params: str = "",
    *,
    root: str | None = None,
    suffix: str = ".parquet",
) -> str:
    """Path of the ``kind`` artifact built from ``tables`` of ``sf_dir``
    with ``params``, under ``root`` (default ``index_dir()``)."""
    key = corpus_key(sf_dir, f"{kind}:{params}", tables)
    return os.path.join(root or index_dir(), f"{kind}_{key}{suffix}")


def publish(
    path: str,
    write: Callable[[str], None],
    complete: Callable[[str], bool] = os.path.exists,
) -> str:
    """Build an artifact with ``write(tmp)`` into a temp sibling of
    ``path``, rename it into place and return ``path``.

    A file rename replaces whatever is there with a complete build. A
    directory rename that finds a concurrent writer's artifact in place
    keeps that winner only if ``complete(winner)`` holds; otherwise it
    raises IncompleteArtifact rather than let anyone read a torn
    artifact. A crash mid-build leaves only a hidden temp sibling
    behind."""
    parent, name = os.path.split(path)
    os.makedirs(parent, exist_ok=True)
    scratch = tempfile.mkdtemp(dir=parent, prefix=f".tmp_{name}_")
    try:
        out = os.path.join(scratch, name)
        write(out)
        try:
            os.rename(out, path)
        except OSError:
            if not os.path.exists(path):
                raise
            if not complete(path):
                raise IncompleteArtifact(
                    f"{path} exists but is incomplete; remove it to rebuild"
                ) from None
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return path


def publish_table(table, path: str) -> str:
    """Publish a pyarrow table as one parquet file."""
    import pyarrow.parquet as pq

    return publish(path, lambda out: pq.write_table(table, out))


def publish_df(df, path: str) -> str:
    """Publish a DataFrame as directory-style parquet written by the
    executors: a corpus-sized artifact never lands on the driver."""
    return publish(path, lambda out: df.write.parquet(out))


def memo(path: str, load: Callable[[], T]) -> T:
    """In-process value of the artifact at ``path``: ``load()`` runs
    once per path per process. A value that is never persisted (a
    cheap model kept in memory only) is keyed by the path its artifact
    would have, so it follows the same corpus key."""
    try:
        return _MEMO[path]  # type: ignore[return-value]
    except KeyError:
        value = _MEMO[path] = load()
        return value
