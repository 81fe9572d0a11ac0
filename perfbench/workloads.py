"""The benchmark's workloads: what one pass runs, and how its outputs are
checked against DuckDB.

A workload is a list of ``Op``s per pass. An op is called, materialised
(``Ctx.sink``: the ``noop`` sink in timed passes, ``toPandas`` in the
warm-up pass so the outputs can be checked) and followed by
``session.release_query_caches`` in ``run.py``. Each op has a kind:
``query``, ``job`` (a ``Pipeline``), ``write`` (commits, and the
streaming ingest) or ``read``; ``write_p50_s`` and ``read_p50_s`` are
medians over the write and read kinds, which only ``table_ingest`` has.

The seed drives only the op order within each ``llm_pipeline`` pass and
the ``table_ingest`` inputs (slice positions, read keys, upsert key set,
delete predicate, time-travel snapshot); the programs under test receive
only those generated inputs.

The corpus is the seed-42 fixture, read in place: ``SPARK_GRAFT_SF_DIR``
(the sf0.1 directory, as ``bench.py`` reads it), else ``~/testdata/sf0.1``,
and its sibling ``sf0.01``.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb

LLM_QUERIES = (
    "q_text_quality",
    "q_text_tfidf",
    "q_dedup_ngram_jaccard",
    "q_dedup_minhash",
    "q_quality_gopher",
    "q_decontaminate",
    "q_sim_topk_bruteforce",
    "q_sim_ann_lsh",
    "q_sim_ann_ivf",
    "q_bpe_encode",
)
INGEST_KEY, INGEST_SLICES = "o_orderkey", 8  # one create + seven appends
INGEST_LOOKUPS = 1  # point lookups after each append
INGEST_SLICE_SHARE = 0.6  # of each eighth of the key domain: same row count every seed
CORPUS = {"llm_pipeline": "sf0.01", "table_ingest": "sf0.1"}
# untimed noop passes after the collecting warm-up pass: the first noop
# pass of table_ingest measured 10-20 % slower than the next ones, and its
# leftover warming varied run to run
NOOP_WARMUPS = {"llm_pipeline": 0, "table_ingest": 1}


def corpus_dir(corpus: str) -> str:
    """The fixture directory of ``corpus`` ("sf0.1" or "sf0.01")."""
    d = (os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")).rstrip("/")
    if corpus != "sf0.1":
        d = os.path.join(os.path.dirname(d), corpus)
    if not os.path.isfile(os.path.join(d, "orders.parquet")):
        raise FileNotFoundError(
            f"fixture corpus not found at {d!r}; set SPARK_GRAFT_SF_DIR to the sf0.1 directory"
        )
    return d


@dataclass
class Op:
    name: str
    kind: str  # query | job | write | read
    # (ctx, collect) -> the collected output, or None for a commit, which
    # is checked through the reads after it
    run: Callable[["Ctx", bool], Any]


@dataclass
class Ctx:
    """Per-run state shared by the ops; ``rec`` is the current op's record."""

    spark: Any
    corpus: str
    queries: dict
    plan: dict
    rec: dict = field(default_factory=dict)
    root: str = ""  # this pass's table root

    def build(self, fn, *args):
        """Call a DataFrame-returning entry point, timing it as the op's build."""
        t = time.perf_counter()
        df = fn(*args)
        self.rec["build_s"] = self.rec.get("build_s", 0.0) + time.perf_counter() - t
        return df

    def sink(self, df, collect: bool):
        """Materialise ``df``: ``toPandas`` when collecting, else the noop sink."""
        self.rec.setdefault("action_wall", time.time())
        t = time.perf_counter()
        if collect:
            out = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
            out = None
        self.rec["action_s"] = self.rec.get("action_s", 0.0) + time.perf_counter() - t
        return out


# ---------------------------------------------------------------------------
# llm_pipeline
# ---------------------------------------------------------------------------


def _query_op(name: str) -> Op:
    def run(ctx: Ctx, collect: bool):
        return ctx.sink(ctx.build(ctx.queries[name].fn, ctx.spark, ctx.corpus), collect)

    return Op(name, "query", run)


def _doc_job(ctx: Ctx, collect: bool):
    """documents -> clean text -> [token stats, per-source counts]."""
    from pyspark.sql import functions as F

    from pypiper_spark import catalog, pipeline

    clean = pipeline.Node(
        "clean_text",
        lambda df: df.select("source", F.lower(F.trim(F.col("text"))).alias("text")),
    )
    token_stats = pipeline.Node(
        "token_stats",
        lambda df: df.select(F.size(F.split("text", " ")).alias("n_tok")).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.max("n_tok").alias("max_tokens"),
        ),
    )
    per_source = pipeline.Node(
        "per_source",
        lambda df: df.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum(F.length("text")).alias("n_chars")
        ),
    )
    docs = ctx.build(catalog.load_table, ctx.spark, ctx.corpus, "documents")
    return _run_job(ctx, clean | [token_stats, per_source], docs, collect)


def _lineitem_job(ctx: Ctx, collect: bool):
    """lineitem -> MapBatches price features -> [group aggregate, top-k orders]."""
    from pyspark.sql import functions as F

    from pypiper_spark import catalog, pipeline

    # nested so that it is pickled by value for the Python workers
    def price_features(pdf):
        import pandas as pd

        # integer cents so sums are exact in both engines (compare.py rule 2)
        price = (pdf["l_extendedprice"] * 100).round().astype("int64")
        disc = (pdf["l_discount"] * 100).round().astype("int64")
        tax = (pdf["l_tax"] * 100).round().astype("int64")
        net = price * (100 - disc)
        return pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"],
                "l_returnflag": pdf["l_returnflag"],
                "l_linestatus": pdf["l_linestatus"],
                "net": net,
                "charge": net * (100 + tax),
            }
        )

    feats = pipeline.MapBatches(
        "price_features",
        price_features,
        "l_orderkey long, l_returnflag string, l_linestatus string, net long, charge long",
    )
    group_agg = pipeline.Node(
        "group_agg",
        lambda df: df.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("net").alias("net"),
            F.sum("charge").alias("charge"),
        ),
    )
    topk = pipeline.Node(
        "topk_orders",
        lambda df: df.groupBy("l_orderkey")
        .agg(F.sum("charge").alias("charge"))
        .orderBy(F.desc("charge"), F.asc("l_orderkey"))
        .limit(10),
    )
    items = ctx.build(catalog.load_table, ctx.spark, ctx.corpus, "lineitem")
    ctx.rec["mapbatches_rows"] = ctx.plan["lineitem_rows"]
    return _run_job(ctx, feats | [group_agg, topk], items, collect)


def _run_job(ctx: Ctx, pipe, df, collect: bool):
    t = time.perf_counter()
    branches = pipe.run(df)
    ctx.rec["pipeline_run_s"] = time.perf_counter() - t
    try:
        t = time.perf_counter()
        outs = [ctx.sink(b, collect) for b in branches]
        ctx.rec["branch_s"] = time.perf_counter() - t
    finally:
        pipe.close()
    return outs if collect else None


def _llm_ops(rng: random.Random) -> list[Op]:
    """The ten registry ops and two Pipeline jobs in seeded order."""
    ops = [_query_op(q) for q in LLM_QUERIES]
    ops += [Op("job:documents", "job", _doc_job), Op("job:lineitem", "job", _lineitem_job)]
    rng.shuffle(ops)
    return ops


def llm_plan(corpus: str) -> dict:
    """The lineitem row count, for the MapBatches throughput (not seeded)."""
    con = _oracle_con(corpus)
    try:
        return {"lineitem_rows": con.sql("SELECT count(*) FROM lineitem").fetchone()[0]}
    finally:
        con.close()


# ---------------------------------------------------------------------------
# table_ingest
# ---------------------------------------------------------------------------


def _between(col: str, ranges) -> str:
    return " OR ".join(f"{col} BETWEEN {lo} AND {hi}" for lo, hi in ranges)


def _commit_ops(orders: Callable[[Ctx], Any], plan: dict) -> list[Op]:
    """Commit slice i, then its point lookups, for every slice:
    ``create`` for slice 0 with manifest stats on the key, ``append`` for
    the others; lookup j reads key ``plan["reads"][i][j]`` with manifest
    pruning."""
    from pyspark.sql import functions as F

    from pypiper_spark import tableformat

    key = INGEST_KEY

    def commit(i):
        def run(ctx, collect):
            lo, hi = ctx.plan["slices"][i]
            df = orders(ctx).where(F.col(key).between(lo, hi))
            if i == 0:
                tableformat.create(ctx.spark, ctx.root, df, stats_cols=(key,))
            else:
                tableformat.append(ctx.spark, ctx.root, df)

        return run

    def lookup(i, j):
        def run(ctx, collect):
            k = ctx.plan["reads"][i][j]
            df = ctx.build(tableformat.read, ctx.spark, ctx.root, None, (key, k, k))
            return ctx.sink(df.where(F.col(key) == k), collect)

        return run

    return [
        op
        for i, keys in enumerate(plan["reads"])
        for op in [Op("create" if i == 0 else f"append{i}", "write", commit(i))]
        + [Op(f"read_pruned{i}.{j}", "read", lookup(i, j)) for j in range(len(keys))]
    ]


def ingest_plan(corpus: str, seed: int) -> dict:
    """Seed-chosen slice positions, point-read keys, upsert key set, delete
    predicate and time-travel snapshot over the orders key domain. Slice
    lengths are fixed so every seed commits the same number of rows."""
    rng = random.Random(seed)
    lo, hi = duckdb.sql(
        f"SELECT min({INGEST_KEY}), max({INGEST_KEY}) "
        f"FROM read_parquet('{os.path.join(corpus, 'orders.parquet')}')"
    ).fetchone()
    seg = (hi - lo + 1) // INGEST_SLICES
    length = int(seg * INGEST_SLICE_SHARE)
    slices = []
    for i in range(INGEST_SLICES):
        start = lo + i * seg + rng.randrange(seg - length)
        slices.append((start, start + length - 1))
    # lookups follow the appends only; each reads a key from any slice
    # committed so far
    reads = [[]] + [
        [rng.randint(*slices[rng.randrange(i + 1)]) for _ in range(INGEST_LOOKUPS)]
        for i in range(1, INGEST_SLICES)
    ]
    # upserts touch two neighbouring slices: updates inside slice u, inserts
    # in the gap after it, so merge_partial rewrites few files
    u = rng.randrange(INGEST_SLICES - 1)
    a, b = slices[u]
    upd_lo = rng.randint(a, b - 1000)
    gap = (b + 1, slices[u + 1][0] - 1)
    ins_lo = rng.randint(gap[0], max(gap[0], gap[1] - 400))
    return {
        "slices": slices,
        "reads": reads,
        "upserts": [(upd_lo, upd_lo + 999), (ins_lo, min(ins_lo + 399, gap[1]))],
        "delete": f"o_custkey % 7 = {rng.randrange(7)}",
        "snapshot": rng.randint(2, INGEST_SLICES),
    }


def _ingest_ops(plan: dict) -> list[Op]:
    from pyspark.sql import functions as F

    from pypiper_spark import catalog, tableformat
    from pypiper_spark.streaming import twins

    def orders(ctx: Ctx):
        return catalog.load_table(ctx.spark, ctx.corpus, "orders")

    def merge(ctx, collect):
        changes = (
            orders(ctx)
            .where(_between(INGEST_KEY, ctx.plan["upserts"]))
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
            .withColumn("o_orderstatus", F.lit("U"))
        )
        tableformat.merge_partial(ctx.spark, ctx.root, changes, key=INGEST_KEY)

    def delete(ctx, collect):
        tableformat.delete_where(ctx.spark, ctx.root, ctx.plan["delete"])

    def aggregate(df):
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )

    def full_read(ctx, collect):
        return ctx.sink(aggregate(ctx.build(tableformat.read, ctx.spark, ctx.root)), collect)

    def compact(ctx, collect):
        tableformat.compact(ctx.spark, ctx.root, target_files=1)

    def compacted_read(ctx, collect):  # every row of the snapshot compact committed
        return ctx.sink(ctx.build(tableformat.read, ctx.spark, ctx.root), collect)

    def time_travel(ctx, collect):
        df = ctx.build(tableformat.read, ctx.spark, ctx.root, ctx.plan["snapshot"])
        return ctx.sink(aggregate(df), collect)

    def stream(ctx, collect):
        return ctx.sink(ctx.build(twins.run_table_ingest_stream, ctx.spark, ctx.corpus), collect)

    return _commit_ops(orders, plan) + [
        Op("merge_partial", "write", merge),
        Op("delete_where", "write", delete),
        Op("read_full", "read", full_read),
        Op("compact", "write", compact),
        Op("read_compacted", "read", compacted_read),
        Op("read_snapshot", "read", time_travel),
        Op("stream_ingest", "write", stream),
    ]


# ---------------------------------------------------------------------------
# workload table
# ---------------------------------------------------------------------------


def make_plan(workload: str, corpus: str, seed: int) -> dict:
    if workload == "table_ingest":
        return ingest_plan(corpus, seed)
    return llm_plan(corpus)


def pass_ops(workload: str, plan: dict, rng: random.Random) -> list[Op]:
    """The ops of one pass, in this pass's order (a life cycle for
    table_ingest, seeded for llm_pipeline)."""
    if workload == "table_ingest":
        return _ingest_ops(plan)
    return _llm_ops(rng)


# ---------------------------------------------------------------------------
# output checks (DuckDB)
# ---------------------------------------------------------------------------


def _oracle_con(corpus: str):
    con = duckdb.connect()
    for f in sorted(os.listdir(corpus)):
        if f.endswith(".parquet"):
            con.sql(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(corpus, f)}')"
            )
    return con


def _live_sql(plan: dict) -> str:
    """The rows a table_ingest pass's table holds at pass end."""
    base = f"SELECT * FROM orders WHERE {_between(INGEST_KEY, plan['slices'])}"
    changes = (
        f"SELECT * REPLACE (o_totalprice + 1.0 AS o_totalprice, 'U' AS o_orderstatus) "
        f"FROM orders WHERE {_between(INGEST_KEY, plan['upserts'])}"
    )
    merged = (
        f"SELECT * FROM ({changes}) UNION ALL SELECT * FROM ({base}) "
        f"WHERE {INGEST_KEY} NOT IN (SELECT {INGEST_KEY} FROM ({changes}))"
    )
    return f"SELECT * FROM ({merged}) WHERE NOT ({plan['delete']})"


def _expected_sql(op: str, plan: dict, queries: dict, corpus: str):
    """DuckDB SQL (a list, one per branch, for a Pipeline job) for ``op``'s output."""
    from pypiper_spark.registry import resolve_oracle

    if op in queries:
        return resolve_oracle(queries[op], corpus)
    if op.startswith("read_pruned"):
        i, j = op[len("read_pruned"):].split(".")
        k = plan["reads"][int(i)][int(j)]
        return f"SELECT * FROM orders WHERE {INGEST_KEY} = {k}"
    if op == "job:documents":
        clean = "(SELECT source, lower(trim(text)) AS text FROM documents)"
        return [
            f"SELECT count(*) AS n_docs, CAST(sum(len(string_split(text, ' '))) AS BIGINT) "
            f"AS n_tokens, max(len(string_split(text, ' '))) AS max_tokens FROM {clean}",
            f"SELECT source, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS n_chars "
            f"FROM {clean} GROUP BY source",
        ]
    if op == "job:lineitem":
        feats = (
            "(SELECT l_orderkey, l_returnflag, l_linestatus, net, net * (100 + tax) AS charge "
            "FROM (SELECT *, price * (100 - disc) AS net FROM (SELECT *, "
            "CAST(round(l_extendedprice * 100) AS BIGINT) AS price, "
            "CAST(round(l_discount * 100) AS BIGINT) AS disc, "
            "CAST(round(l_tax * 100) AS BIGINT) AS tax FROM lineitem)))"
        )
        return [
            f"SELECT l_returnflag, l_linestatus, count(*) AS n_lines, "
            f"CAST(sum(net) AS BIGINT) AS net, CAST(sum(charge) AS BIGINT) AS charge "
            f"FROM {feats} GROUP BY ALL",
            f"SELECT l_orderkey, CAST(sum(charge) AS BIGINT) AS charge FROM {feats} "
            f"GROUP BY l_orderkey ORDER BY charge DESC, l_orderkey LIMIT 10",
        ]
    if op == "stream_ingest":
        return resolve_oracle(queries["q_stream_table_ingest"], corpus)
    agg = (
        "SELECT o_orderstatus, count(*) AS n_orders, "
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents FROM ({}) "
        "GROUP BY o_orderstatus"
    )
    if op == "read_snapshot":  # snapshot s = create + (s - 1) appends
        return agg.format(
            f"SELECT * FROM orders WHERE {_between(INGEST_KEY, plan['slices'][: plan['snapshot']])}"
        )
    if op == "read_full":
        return agg.format(_live_sql(plan))
    if op == "read_compacted":
        return _live_sql(plan)
    raise KeyError(op)


def check_outputs(outputs: dict, plan: dict, queries: dict, corpus: str) -> dict[str, str]:
    """Compare each collected output with its DuckDB twin, using the
    order-insensitive compare of ``tests/parity.py``. Returns
    {op: error message} for every op that did not match."""
    from tests.parity import assert_query_matches

    con = _oracle_con(corpus)
    bad: dict[str, str] = {}
    try:
        for op, got in outputs.items():
            try:
                sql = _expected_sql(op, plan, queries, corpus)
                if sql is None:
                    raise AssertionError("no oracle")
                if isinstance(sql, list):
                    if len(got) != len(sql):
                        raise AssertionError(f"{len(got)} branches, expected {len(sql)}")
                    for i, (g, s) in enumerate(zip(got, sql)):
                        assert_query_matches(g, con.sql(s).df(), f"{op}[{i}]")
                else:
                    assert_query_matches(got, con.sql(sql).df(), op)
            except Exception as e:  # noqa: BLE001 - any mismatch is a failed op
                bad[op] = f"{type(e).__name__}: {e}"[:500]
    finally:
        con.close()
    return bad


def user_bytes(plan: dict, corpus: str) -> tuple[int, int]:
    """Arrow bytes of (the live rows at a table_ingest pass end, every row
    handed to a commit)."""
    con = _oracle_con(corpus)
    try:
        live = con.sql(_live_sql(plan)).arrow().nbytes
        committed = " UNION ALL ".join(
            f"SELECT * FROM orders WHERE {_between(INGEST_KEY, [r])}"
            for r in plan["slices"] + plan["upserts"]
        )
        return live, con.sql(committed).arrow().nbytes
    finally:
        con.close()
