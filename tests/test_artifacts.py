"""The artifact store (pypiper_spark.artifacts): one corpus key, one
publish routine, one in-process memo.

- A directory-style source table rewritten in place (a part file
  replaced, the directory entry untouched) must rebuild every derived
  artifact: on disk, and in a process whose memo is already warm.
- Publishing is atomic: a failed build leaves nothing behind, a lost
  rename keeps a complete winner and refuses an incomplete one.
"""

from __future__ import annotations

import os
import tempfile

import pyarrow.parquet as pq
import pytest

from pypiper_spark import artifacts


def _split_table(src: str, dest_dir: str) -> list[str]:
    """Write ``src`` as directory-style parquet with two part files."""
    t = pq.read_table(src)
    os.makedirs(dest_dir)
    half = t.num_rows // 2
    parts = [os.path.join(dest_dir, f"part-{i}.parquet") for i in range(2)]
    pq.write_table(t.slice(0, half), parts[0])
    pq.write_table(t.slice(half), parts[1])
    return parts


def _rewrite_in_place(part: str) -> None:
    """Replace a part file's contents (its first half of rows) under the
    same name: the table directory's own entry does not change."""
    t = pq.read_table(part)
    pq.write_table(t.slice(0, t.num_rows // 2), part)


@pytest.fixture
def dir_corpus(tmp_path, sf_dir, monkeypatch):
    """embeddings and events as directory-style parquet, with the index
    dir and the temp dir isolated under tmp_path."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    parts = {
        t: _split_table(f"{sf_dir}/{t}.parquet", str(corpus / f"{t}.parquet"))
        for t in ("embeddings", "events")
    }
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    yield str(corpus), parts
    artifacts._MEMO.clear()  # entries point into tmp_path


def test_ivf_artifact_rebuilt_after_in_place_part_rewrite(
    spark, dir_corpus, tmp_path, monkeypatch
):
    from pypiper_spark.queries.vectors import build_ivf_index

    corpus, parts = dir_corpus
    before = build_ivf_index(spark, corpus, k=4)
    idx = tmp_path / "idx"
    assert len(os.listdir(idx)) == 1
    _rewrite_in_place(parts["embeddings"][1])

    warm = build_ivf_index(spark, corpus, k=4)  # memo already holds `before`
    artifacts._MEMO.clear()
    cold = build_ivf_index(spark, corpus, k=4)  # artifact for `before` on disk
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "fresh"))
    fresh = build_ivf_index(spark, corpus, k=4)

    assert fresh != before
    assert warm == fresh
    assert cold == fresh
    assert len(os.listdir(idx)) == 2  # the rewrite published a new artifact
    # a hit writes nothing into the store
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(idx))
    listing = {f: os.stat(idx / f).st_mtime_ns for f in os.listdir(idx)}
    artifacts._MEMO.clear()
    assert build_ivf_index(spark, corpus, k=4) == fresh
    assert {f: os.stat(idx / f).st_mtime_ns for f in os.listdir(idx)} == listing


def test_stream_staging_rebuilt_after_in_place_part_rewrite(spark, dir_corpus):
    from pyspark.sql import functions as F

    from pypiper_spark.catalog import load_table
    from pypiper_spark.streaming.twins import run_foreachbatch_merge_sink

    corpus, parts = dir_corpus

    def streamed_rows() -> int:
        return run_foreachbatch_merge_sink(spark, corpus).agg(
            F.sum("n_events")
        ).first()[0]

    assert streamed_rows() == load_table(spark, corpus, "events").count()
    _rewrite_in_place(parts["events"][1])
    n_now = pq.read_table(os.path.join(corpus, "events.parquet")).num_rows
    assert streamed_rows() == n_now
    staged = [
        f for f in os.listdir(tempfile.gettempdir()) if f.startswith("pypiper_feb_src_")
    ]
    assert len(staged) == 2


def _has_current(path: str) -> bool:
    return os.path.exists(os.path.join(path, "CURRENT"))


def _table_writer(marker: str):
    def write(out: str) -> None:
        os.makedirs(out)
        for name in ("CURRENT", "data.parquet"):
            with open(os.path.join(out, name), "w") as fh:
                fh.write(marker)

    return write


def test_publish_lost_race_keeps_complete_winner(tmp_path):
    path = str(tmp_path / "table")
    _table_writer("winner")(path)
    got = artifacts.publish(path, _table_writer("loser"), _has_current)
    assert got == path
    with open(os.path.join(path, "data.parquet")) as fh:
        assert fh.read() == "winner"
    assert os.listdir(tmp_path) == ["table"]  # the loser's build is gone


def test_publish_lost_race_refuses_incomplete_winner(tmp_path):
    path = str(tmp_path / "table")
    os.makedirs(path)
    with open(os.path.join(path, "data.parquet"), "w") as fh:
        fh.write("torn")  # a winner without CURRENT
    with pytest.raises(artifacts.IncompleteArtifact, match="incomplete"):
        artifacts.publish(path, _table_writer("loser"), _has_current)
    assert os.listdir(path) == ["data.parquet"]
    assert os.listdir(tmp_path) == ["table"]


def test_cdc_upsert_never_clones_an_incomplete_pristine_table(
    spark, sf_dir, tmp_path, monkeypatch
):
    from pypiper_spark.streaming.twins import run_cdc_upsert_stream

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pristine = artifacts.path_for(
        "pypiper_cdcu_base", sf_dir, ("orders",), root=str(tmp_path), suffix=""
    )
    os.makedirs(os.path.join(pristine, "data"))  # no CURRENT pointer
    with pytest.raises(artifacts.IncompleteArtifact):
        run_cdc_upsert_stream(spark, sf_dir)
    assert [f for f in os.listdir(tmp_path) if f.startswith("pypiper_cdcu_tbl_")] == []


def test_publish_failed_build_leaves_nothing(tmp_path):
    path = str(tmp_path / "a.parquet")

    def write(out: str) -> None:
        with open(out, "w") as fh:
            fh.write("half")
        raise RuntimeError("killed mid-write")

    with pytest.raises(RuntimeError, match="mid-write"):
        artifacts.publish(path, write)
    assert os.listdir(tmp_path) == []


def test_memo_keyed_by_full_path(tmp_path, monkeypatch):
    calls = []

    def load():
        calls.append(1)
        return len(calls)

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "a"))
    a = artifacts.path_for("k", "/corpus/unused", (), "p=1")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "b"))
    b = artifacts.path_for("k", "/corpus/unused", (), "p=1")
    assert a != b
    try:
        assert artifacts.memo(a, load) == 1
        assert artifacts.memo(a, load) == 1  # loaded once
        assert artifacts.memo(b, load) == 2  # another root is another entry
    finally:
        artifacts._MEMO.pop(a, None)
        artifacts._MEMO.pop(b, None)
