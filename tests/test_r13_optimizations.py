"""Focused pins for the r13 optimization round's internal changes.

Covers the ADVICE r12 robustness fixes and this round's structural
optimizations (added as each lands):
- twins._stream_shuffle_partitions: hard session cap (a session sized
  below the floor is never exceeded) and per-TABLE sizing;
- twins._staged_replay: the staged dir is keyed on the batch count, so
  a different n never replays another run's slices.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pypiper_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark(app_name="r13-opt-tests", shuffle_partitions=8)


def test_stream_partitions_never_exceed_small_session(spark, tmp_path):
    """ADVICE r12: session default BELOW the floor must win (the old
    formula returned the floor, exceeding the session's own cap)."""
    from pypiper_spark.streaming.twins import _stream_shuffle_partitions

    (tmp_path / "events.parquet").write_bytes(b"x" * 1024)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        assert _stream_shuffle_partitions(spark, str(tmp_path)) == 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    # (the non-numeric-conf fallback in the formula is unreachable via
    # spark.conf — Spark validates the value at set() time — and stays
    # as defense only)


def test_stream_partitions_size_from_named_table(spark, tmp_path):
    """ADVICE r12: streams staged from other tables (orders for CDC
    upsert, documents for corpus build) must size from THAT file."""
    from pypiper_spark.streaming.twins import (
        _STREAM_PARTITION_TARGET_BYTES,
        _stream_shuffle_partitions,
    )

    with open(tmp_path / "orders.parquet", "wb") as fh:
        fh.seek(6 * _STREAM_PARTITION_TARGET_BYTES - 1)
        fh.write(b"\0")
    # events.parquet absent: the events-keyed call falls back to the
    # session default, the orders-keyed call sizes from orders
    assert _stream_shuffle_partitions(spark, str(tmp_path)) == 8
    assert _stream_shuffle_partitions(spark, str(tmp_path), table="orders") == 6


def test_staged_replay_never_replays_another_batch_count(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12: a run asking for n batches must never ingest slices
    staged for another n (the directory readStream would replay the
    stale extras). The batch count is part of the staged dir's key, so
    n=2 after n=3 gets its own dir holding exactly its two slices."""
    import tempfile

    from pypiper_spark.streaming.twins import _staged_replay

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "events.parquet").write_bytes(b"stat-keyed only")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    df = spark.range(100).select(F.col("id").alias("event_id"))
    three = _staged_replay(
        str(corpus), "events", "t", 3, lambda k: df.filter(F.col("event_id") % 3 == k)
    )
    assert sorted(os.listdir(three)) == [
        "batch0.parquet", "batch1.parquet", "batch2.parquet"
    ]
    two = _staged_replay(
        str(corpus), "events", "t", 2, lambda k: df.filter(F.col("event_id") % 2 == k)
    )
    assert two != three
    assert sorted(os.listdir(two)) == ["batch0.parquet", "batch1.parquet"]
    got = sorted(r.event_id for r in spark.read.parquet(two).collect())
    assert got == list(range(100))


def _ref_mode_min_label(labels: list[int]) -> int:
    """(max count, then MIN label) — the r5-r12 packed-argmax contract."""
    from collections import Counter

    c = Counter(labels)
    best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
    return best[0]


def test_lpa_mode_expr_matches_packed_argmax(spark):
    """r13 pin: the fused in-row mode (sorted-run scan) must reproduce
    the packed (max count, min label) argmax on adversarial vote lists
    — ties, singletons, all-equal, and random multisets."""
    import random

    from pypiper_spark.queries.graph import _LPA_MODE_EXPR

    rng = random.Random(13)
    cases = [
        [5],
        [3, 3, 7, 7],            # tie -> 3
        [9, 9, 9],
        [2, 1, 1, 2, 3],         # tie 1 vs 2 -> 1
        [0, 0, 5, 5, 5, 1],
    ] + [
        [rng.randrange(20) for _ in range(rng.randrange(1, 40))]
        for _ in range(60)
    ]
    rows = [(i, sorted(ls)) for i, ls in enumerate(cases)]
    df = spark.createDataFrame(rows, "i long, ls array<bigint>").select(
        "i", F.expr(_LPA_MODE_EXPR).alias("label")
    )
    got = {r.i: r.label for r in df.collect()}
    for i, ls in enumerate(cases):
        assert got[i] == _ref_mode_min_label(ls), (i, sorted(ls), got[i])


def test_triangle_census_matches_bruteforce(spark):
    """r13 pin: the node-iterator rewrite (adjacency intersections, no
    wedge materialization) must count nodes/edges/wedges/triangles
    exactly like the r5-r12 wedge-join form on known graphs."""
    from itertools import combinations

    graphs = [
        # K4: 4 nodes, 6 edges, every triple a triangle
        [(a, b) for a, b in combinations(range(4), 2)],
        # triangle + pendant + disjoint edge
        [(1, 2), (1, 3), (2, 3), (3, 4), (10, 11)],
        # square (no triangles), then one diagonal (two triangles)
        [(1, 2), (2, 3), (1, 4), (3, 4)],
        [(1, 2), (2, 3), (1, 4), (3, 4), (1, 3)],
        # empty graph
        [],
    ]
    for edges_list in graphs:
        e = set(edges_list)
        nodes = {v for ab in e for v in ab}
        wedges = [
            (a, b, c) for (a, b) in e for (b2, c) in e if b == b2
        ]
        tris = [(a, b, c) for (a, b, c) in wedges if (a, c) in e]
        if edges_list:
            edf = spark.createDataFrame(sorted(e), "a long, b long")
        else:
            edf = spark.createDataFrame([], "a long, b long")
        adj_out = edf.groupBy(F.col("a").alias("v")).agg(
            F.collect_list("b").alias("nb_out")
        )
        adj_in = edf.groupBy(F.col("b").alias("v")).agg(
            F.collect_list("a").alias("nb_in")
        )
        wedge_cnt = adj_out.join(adj_in, "v").agg(
            F.coalesce(
                F.sum(F.size("nb_out").cast("long") * F.size("nb_in")),
                F.lit(0).cast("long"),
            ).alias("n_wedges")
        )
        tri_cnt = (
            edf.join(adj_out, edf.a == adj_out.v)
            .join(adj_in, edf.b == adj_in.v)
            .agg(
                F.coalesce(
                    F.sum(
                        F.size(F.array_intersect("nb_out", "nb_in")).cast("long")
                    ),
                    F.lit(0).cast("long"),
                ).alias("n_triangles")
            )
        )
        got_w = wedge_cnt.collect()[0].n_wedges
        got_t = tri_cnt.collect()[0].n_triangles
        assert got_w == len(wedges), (sorted(e), got_w, len(wedges))
        assert got_t == len(tris), (sorted(e), got_t, len(tris))
        assert len(nodes) == (
            edf.select(F.col("a").alias("v"))
            .union(edf.select(F.col("b").alias("v")))
            .distinct()
            .count()
        )


def test_hnsw_seq_dot_matches_spark_fold(spark):
    """r13 pin: _seq_dot (cumsum fold) must be BIT-identical to the
    F.aggregate sequential fold the Spark-side cosine uses — the
    driver beam search's ordering decisions depend on it."""
    import numpy as np

    from pypiper_spark.functions.vectors import dot as spark_dot
    from pypiper_spark.queries.vectors import _seq_dot

    rng = np.random.default_rng(13)
    A = rng.normal(0, 0.1, size=(50, 64))
    B = rng.normal(0, 0.1, size=(50, 64))
    rows = [(a.tolist(), b.tolist()) for a, b in zip(A, B)]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got_spark = [
        r.d for r in df.select(spark_dot(F.col("a"), F.col("b")).alias("d")).collect()
    ]
    got_np = _seq_dot(A, B).tolist()
    assert got_spark == got_np  # exact equality, not approx


def test_tableformat_hardlink_clone_isolated(spark, tmp_path):
    """r13 pin (cdc-upsert pristine-table lifecycle): committing to a
    hardlink clone must never disturb the pristine table — the format
    only ever creates new files and os.replace's the CURRENT pointer."""
    import shutil

    from pypiper_spark import tableformat as tf

    pristine = str(tmp_path / "base")
    df = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20), (3, "A", 30)],
        "o_orderkey long, o_orderstatus string, cents long",
    )
    tf.create(spark, pristine, df)
    clone = str(tmp_path / "work")
    shutil.copytree(pristine, clone, copy_function=os.link)
    changes = spark.createDataFrame(
        [(2, "U", 999), (9, "I", 1)],
        "o_orderkey long, o_orderstatus string, cents long",
    )
    tf.merge_on_read(spark, clone, changes, key="o_orderkey", txn=("t", 0))
    assert tf.current_id(clone) == 2
    # pristine untouched: still snapshot 1, original content
    assert tf.current_id(pristine) == 1
    base_rows = {
        r.o_orderkey: r.cents for r in tf.read(spark, pristine).collect()
    }
    assert base_rows == {1: 10, 2: 20, 3: 30}
    clone_rows = {
        r.o_orderkey: r.cents for r in tf.read(spark, clone).collect()
    }
    assert clone_rows == {1: 10, 2: 999, 3: 30, 9: 1}


def test_pagerank_edge_join_persisted_at_small_scale(spark, sf_dir):
    """r13 pin: graph_pagerank persists the (src, dst, outdeg) edge-join
    frame when the source is under the 256 MB gate, so the per-round
    rank join reads an InMemoryTableScan instead of re-executing the
    edges><degrees join once per unrolled round (A/B at sf0.1:
    7.58/7.07/5.54 -> 4.22/5.15/3.15 s)."""
    from pypiper_spark.queries.graph import graph_pagerank
    from pypiper_spark.session import release_query_caches

    df = graph_pagerank(spark, sf_dir)
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    finally:
        release_query_caches(spark)


def test_star_components_round_has_no_per_round_distinct():
    """r13 pin: _star_components' fixpoint loop must NOT re-dedup the
    large-star stream with .distinct() — smins is a min-aggregate and
    the round rollup's groupBy(a, b) already dedups, so the old
    distinct was a pure extra data-scaled Exchange per round
    (interleaved A/B at sf0.1: 8.78/6.47/5.60 -> 7.40/5.45/5.11 s,
    labels bit-equal, same round count). A .distinct() reappearing in
    the loop body means the optimization was reverted. The
    initial edge canonicalization BEFORE the loop keeps its distinct
    (input sym may carry duplicate edges)."""
    import inspect

    from pypiper_spark.queries.dedup import _star_components

    src = inspect.getsource(_star_components)
    loop_body = src.split("for rounds in range", 1)[1].split(
        "Star forest -> labels", 1
    )[0]
    code_only = "\n".join(
        line for line in loop_body.splitlines()
        if not line.lstrip().startswith("#")
    )
    assert ".distinct()" not in code_only, (
        "per-round distinct is back in _star_components' fixpoint loop"
    )


def test_lsh_candidate_dedup_shuffles_slim_keys(spark, sf_dir):
    """r13 pin: _sim_ann_lsh_topk's candidate distinct must
    hash-partition on (probe_id, vec_id) only — the pre-r13 form
    shuffled BOTH 64-double vectors (ev, pv) through the dedup
    Exchange (~1 KB/row at candidate = corpus cardinality at 100 TB);
    vectors are re-attached after the dedup. 3-way A/B at sf0.1 was
    noise-neutral (medians old 1.48 / slim 1.42 s) with bit-equal
    output; the win is shuffle bytes at scale (guide §2.2)."""
    import re

    from pypiper_spark.queries.vectors import _sim_ann_lsh_topk

    df = _sim_ann_lsh_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert parts, plan[:2000]
    for keys in parts:
        assert "ev#" not in keys and "pv#" not in keys, keys
