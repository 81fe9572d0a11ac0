"""Table-maintenance operators: schema evolution and upsert (MERGE).

A 100 TB corpus is never written once: columns get added across
batches (schema evolution), late corrections overwrite old rows
(upsert), and small files need compaction (tested in
tests/test_maintenance.py — file-count assertions don't belong in a
hash-gated query). No Delta/Iceberg in this environment, so these are
the plain-parquet forms: mergeSchema reads and shuffle-on-key merge
joins — which is also exactly what the table formats do underneath.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pypiper_spark.catalog import load_table
from pypiper_spark.registry import register

_EVOLUTION_ORACLE = """
  SELECT coalesce(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                       THEN o_orderpriority END, '<pre-evolution>') AS priority,
         count(*) AS n_orders,
         (CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100)
           AS total_price
  FROM orders
  GROUP BY 1
"""


@register(
    "q_scan_schema_evolution",
    oracle=_EVOLUTION_ORACLE,
    tags=("scan", "schema-evolution", "maintenance"),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across write batches: batch 1 (orders before
    1996) is written WITHOUT o_orderpriority; batch 2 (1996+) adds the
    column. A mergeSchema read unions the schemas and old rows surface
    NULL for the new column — the exact situation every long-lived
    parquet corpus hits. The aggregation coalesces the NULLs to a
    sentinel so evolution is visible in the hash-gated output.

    Scale note: mergeSchema schema inference reads footers of ALL
    files — at 100 TB you pin the schema explicitly instead; this
    query demonstrates the semantics, the footer-scan cost is the
    reason the docstring tells you not to rely on it at scale."""
    from pypiper_spark.artifacts import path_for, publish

    o = load_table(spark, sf_dir, "orders")
    path = path_for(
        "pypiper_evo", sf_dir, ("orders",), root=tempfile.gettempdir(), suffix=""
    )
    cutoff = F.lit("1996-01-01 00:00:00").cast("timestamp_ntz")

    def write(out: str) -> None:
        (
            o.filter(F.col("o_orderdate") < cutoff)
            .select("o_orderkey", "o_totalprice")
            .write.parquet(os.path.join(out, "v1"))
        )
        (
            o.filter(F.col("o_orderdate") >= cutoff)
            .select("o_orderkey", "o_totalprice", "o_orderpriority")
            .write.parquet(os.path.join(out, "v2"))
        )

    if not os.path.exists(path):
        publish(path, write)
    back = spark.read.option("mergeSchema", True).parquet(
        os.path.join(path, "v1"), os.path.join(path, "v2")
    )
    return back.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double") / 100)
        .alias("total_price"),
    )


_UPSERT_ORACLE = """
  WITH base AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
  ), updates AS (
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice * 100) + 1000 AS BIGINT) AS new_cents
    FROM orders WHERE o_orderkey % 3 = 0
  ), inserts AS (
    SELECT o_orderkey + 2000000000 AS o_orderkey,
           'N' AS o_orderstatus,
           CAST(5000 AS BIGINT) AS new_cents
    FROM orders WHERE o_orderkey % 1000 = 0
  ), merged AS (
    SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           coalesce(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
           coalesce(u.new_cents, CAST(round(b.o_totalprice * 100) AS BIGINT))
             AS cents
    FROM base b
    FULL OUTER JOIN (SELECT * FROM updates UNION ALL SELECT * FROM inserts) u
      ON b.o_orderkey = u.o_orderkey
  )
  SELECT o_orderstatus,
         count(*) AS n_orders,
         (CAST(sum(cents) AS DOUBLE) / 100) AS total_price
  FROM merged GROUP BY o_orderstatus
"""


@register(
    "q_upsert_merge",
    oracle=_UPSERT_ORACLE,
    tags=("join", "upsert", "maintenance"),
)
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE (upsert) without a table format: base FULL OUTER JOIN
    changes on the key, coalescing change-side values over base-side —
    matched rows update, unmatched change rows insert, untouched base
    rows pass through. The change set here is derived deterministically
    from orders (every 3rd key gets +10.00; synthetic new keys insert),
    so the merged result is exact-oracled.

    Scale shape: ONE shuffle of each side on the merge key — identical
    to what Delta/Iceberg MERGE compiles to before file rewriting; with
    a partitioned base, dynamic partition overwrite limits the rewrite
    to touched partitions. Money stays in integer cents end-to-end.

    r7: the same MERGE now also runs THROUGH the repo's own snapshot
    table format — tableformat.merge() commits the identical
    full-outer-join result as a new snapshot with the parent retained
    (q_table_time_travel reads both sides and is exact-oracled), so
    this query demonstrates the join semantics and that one the
    transactional write path."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    updates = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.round(F.col("o_totalprice") * 100).cast("long") + 1000).alias("new_cents"),
    )
    inserts = o.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 2000000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(5000).cast("long").alias("new_cents"),
    )
    changes = updates.unionByName(inserts)
    b = base.alias("b")
    u = changes.alias("u")
    merged = b.join(u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full_outer").select(
        F.coalesce(F.col("u.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        F.coalesce(F.col("u.o_orderstatus"), F.col("b.o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.coalesce(
            F.col("u.new_cents"), F.round(F.col("b.o_totalprice") * 100).cast("long")
        ).alias("cents"),
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("cents").cast("double") / 100).alias("total_price"),
    )


_PART_OVERWRITE_ORACLE = """
  SELECT o_orderstatus,
         count(*) AS n_orders,
         (CAST(sum(CAST(round(
             CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 1.1
                  ELSE o_totalprice END * 100) AS BIGINT)) AS DOUBLE) / 100)
           AS total_price
  FROM orders
  GROUP BY o_orderstatus
"""


@register(
    "q_partition_overwrite",
    oracle=_PART_OVERWRITE_ORACLE,
    tags=("sink", "partitioned", "overwrite", "maintenance"),
)
def partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the daily-incremental idiom at
    100 TB: rewrite ONE partition of a partitioned table in place,
    leaving every other partition's files untouched (no
    read-modify-write of the whole table, no tombstones). Staged
    here with partitionOverwriteMode=dynamic: orders lands
    partitioned by o_orderstatus, then a corrected 'P' slice
    (prices * 1.1) overwrites ONLY the P partition. The oracle
    recomputes the expected post-overwrite state from the source
    table, so the check proves both that P changed and that F/O
    did not."""
    key = hashlib.md5(f"{sf_dir}/orders_po".encode()).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/pypiper_part_overwrite_{key}"
    o = load_table(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    corrected = (
        o.filter(F.col("o_orderstatus") == "P")
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            corrected.write.mode("overwrite")
            .partitionBy("o_orderstatus")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double") / 100)
        .alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Z-order layout analysis
# ---------------------------------------------------------------------------

_Z_BITS = 8  # per NORMALIZED dimension; z-value is 2*_Z_BITS wide
_Z_BUCKET_SHIFT = 2 * _Z_BITS - 6  # top 6 z-bits -> 64 buckets

# The identical bit-interleave, spelled in DuckDB's operator dialect
# (the Spark side builds the same expression with shiftleft/shiftright
# Column functions below).
_Z_SQL_DUCK = " | ".join(
    f"(((xn >> {i}) & 1) << {2 * i}) | (((yn >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)

_ZORDER_ORACLE = f"""
  WITH dims AS (
    SELECT o_custkey AS x,
           (CAST(o_orderdate AS DATE) - DATE '1992-01-01') AS y
    FROM orders
  ), bounds AS (
    SELECT min(x) AS min_x, max(x) AS max_x, min(y) AS min_y, max(y) AS max_y
    FROM dims
  ), norm AS (
    SELECT x, y,
           ((x - min_x) * {1 << _Z_BITS}) // (max_x - min_x + 1) AS xn,
           ((y - min_y) * {1 << _Z_BITS}) // (max_y - min_y + 1) AS yn
    FROM dims CROSS JOIN bounds
  ), z AS (
    SELECT x, y, ({_Z_SQL_DUCK}) AS zval FROM norm
  )
  SELECT (zval >> {_Z_BUCKET_SHIFT}) AS bucket,
         count(*) AS n_rows,
         min(x) AS min_cust, max(x) AS max_cust,
         min(y) AS min_day, max(y) AS max_day
  FROM z GROUP BY 1
"""


@register("q_zorder_layout", oracle=_ZORDER_ORACLE, tags=("maintenance", "layout"))
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering analysis over orders on
    (customer, order-day): normalize each dimension to 8 bits against
    its observed min/max (range-based z-order — what OPTIMIZE ZORDER
    implementations actually interleave; raw values would leave the
    high bits constant and the curve degenerate), interleave into a
    16-bit z-value, bucket rows by the top 6 z-bits (64 buckets = 64
    target files), and report each bucket's bounding box in BOTH
    dimensions — the per-file min/max column stats that make
    multi-dimensional data skipping work in Delta/Iceberg.

    A linear sort on one column gives perfect pruning on that column
    and none on the other; the z-curve bounds BOTH ranges per bucket
    (each bucket spans ~1/8 of each dimension instead of all of it).
    The full layout rewrite at 100 TB is `df.repartitionByRange(N,
    zval).sortWithinPartitions(zval).write...` — one range shuffle;
    this query is its planning/audit half: one bounds aggregate (a
    1-row broadcast, bounded by construction) + map-side interleave
    in codegen (no UDF) + one aggregate."""
    o = load_table(spark, sf_dir, "orders")
    dims = o.select(
        F.col("o_custkey").alias("x"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).cast("long").alias("y"),
    )
    bounds = dims.agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )
    norm = dims.crossJoin(F.broadcast(bounds)).select(
        "x",
        "y",
        F.expr(f"((x - min_x) * {1 << _Z_BITS}) div (max_x - min_x + 1)").alias("xn"),
        F.expr(f"((y - min_y) * {1 << _Z_BITS}) div (max_y - min_y + 1)").alias("yn"),
    )
    zval = None
    for i in range(_Z_BITS):
        t = F.shiftleft(
            F.shiftright(F.col("xn"), i).bitwiseAND(F.lit(1)), 2 * i
        ).bitwiseOR(
            F.shiftleft(F.shiftright(F.col("yn"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
        zval = t if zval is None else zval.bitwiseOR(t)
    return (
        norm.select("x", "y", zval.alias("zval"))
        .groupBy(F.shiftright(F.col("zval"), _Z_BUCKET_SHIFT).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_cust"),
            F.max("x").alias("max_cust"),
            F.min("y").alias("min_day"),
            F.max("y").alias("max_day"),
        )
    )


@register(
    "q_cdc_apply",
    oracle="""
      WITH log AS (
        SELECT user_id, ts, event_id, value,
               CASE event_type WHEN 'signup' THEN 'I'
                               WHEN 'error'  THEN 'D'
                               ELSE 'U' END AS op
        FROM events
      ),
      ranked AS (
        SELECT user_id, ts, event_id, value, op,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM log
      )
      SELECT user_id, op AS last_op, ts AS last_ts,
             event_id AS last_event_id, value AS last_value
      FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    tags=("maintenance", "cdc"),
)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction: apply an insert/update/delete change stream
    (events mapped to I/U/D ops) in (ts, event_id) order and emit the
    final table state — present keys only, each carrying its last
    change. The companion to q_upsert_merge (one MERGE batch) and
    q_scd2_dimension (full history): this is the Debezium-style
    snapshot materialization.

    Scale shape: ONE hash shuffle on the key and a within-partition
    sort for row_number — no self-join against a "latest ts" subquery
    (the naive form shuffles twice and breaks on ts ties; the
    (ts, event_id) composite makes ordering total). At 100 TB the
    same plan holds: change logs are naturally key-partitioned, AQE
    handles hot keys, and the filter on rn=1 collapses output to
    key-cardinality before anything downstream."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
    )


# ---------------------------------------------------------------------------
# q_snapshot_diff: two-snapshot reconciliation audit
# ---------------------------------------------------------------------------

_SNAPSHOT_DIFF_ORACLE = """
  WITH a AS (
    SELECT o_orderkey AS k, o_orderstatus AS st,
           CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
  ), b AS (
    SELECT k,
           CASE WHEN k % 7 = 0 THEN 'X' ELSE st END AS st,
           CASE WHEN k % 3 = 0 THEN cents + 1000 ELSE cents END AS cents
    FROM a WHERE k % 97 <> 0
    UNION ALL
    SELECT k + 2000000000, 'N', CAST(5000 AS BIGINT)
    FROM a WHERE k % 500 = 0
  ), d AS (
    SELECT coalesce(a.k, b.k) AS k,
           CASE WHEN a.k IS NULL THEN 'added'
                WHEN b.k IS NULL THEN 'removed'
                WHEN a.st <> b.st OR a.cents <> b.cents THEN 'changed'
                ELSE 'unchanged' END AS diff_kind,
           concat_ws(',',
             CASE WHEN a.st <> b.st THEN 'o_orderstatus' END,
             CASE WHEN a.cents <> b.cents THEN 'cents' END) AS changed_cols,
           coalesce(b.cents, 0) - coalesce(a.cents, 0) AS delta
    FROM a FULL OUTER JOIN b ON a.k = b.k
  )
  SELECT diff_kind, changed_cols,
         count(*) AS n_rows,
         bit_xor(k) AS key_xor,
         CAST(sum(delta) AS BIGINT) AS cents_delta
  FROM d
  GROUP BY diff_kind, changed_cols
"""


@register(
    "q_snapshot_diff",
    oracle=_SNAPSHOT_DIFF_ORACLE,
    tags=("maintenance", "audit", "diff", "reconciliation"),
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-snapshot table reconciliation — the audit a warehouse runs
    after a backfill or a migration: FULL OUTER JOIN the snapshots on
    the key, classify every key as added / removed / changed /
    unchanged, name the columns that changed, and roll the verdicts up
    to a (diff_kind, changed_cols) report with an order-independent
    bit_xor key checksum and the exact integer-cents value delta. The
    second snapshot here is a deterministic mutation of the first
    (drop keys %97, +10.00 on %3, re-status %7, insert %500 under new
    keys) purely so the report is exact-oracled — the diff itself
    never looks at how B was made (q_upsert_merge is the op that
    APPLIES changes; this one EXPLAINS what changed).

    Scale shape: one shuffle of each snapshot on the key (the same
    exchange a MERGE pays), map-side partial aggregation of the
    bounded-cardinality report, and checksums chosen to survive scale:
    bit_xor never overflows and is commutative (any row order, any
    partitioning), and the cents delta is bounded by rows x max-bump
    so bigint holds it at 10^12 rows. ANSI-safe: no sum over raw keys
    (which would overflow where bit_xor cannot)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    b = (
        a.filter(F.col("k") % 97 != 0)
        .select(
            "k",
            F.when(F.col("k") % 7 == 0, "X").otherwise(F.col("st")).alias("st"),
            F.when(F.col("k") % 3 == 0, F.col("cents") + 1000)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
        .unionByName(
            a.filter(F.col("k") % 500 == 0).select(
                (F.col("k") + 2000000000).alias("k"),
                F.lit("N").alias("st"),
                F.lit(5000).cast("long").alias("cents"),
            )
        )
    )
    al, bl = a.alias("a"), b.alias("b")
    ak, bk = F.col("a.k"), F.col("b.k")
    st_diff = F.col("a.st") != F.col("b.st")
    cents_diff = F.col("a.cents") != F.col("b.cents")
    d = al.join(bl, ak == bk, "full_outer").select(
        F.coalesce(ak, bk).alias("k"),
        F.when(ak.isNull(), "added")
        .when(bk.isNull(), "removed")
        .when(st_diff | cents_diff, "changed")
        .otherwise("unchanged")
        .alias("diff_kind"),
        F.concat_ws(
            ",",
            F.when(st_diff, "o_orderstatus"),
            F.when(cents_diff, "cents"),
        ).alias("changed_cols"),
        (
            F.coalesce(F.col("b.cents"), F.lit(0))
            - F.coalesce(F.col("a.cents"), F.lit(0))
        ).alias("delta"),
    )
    return d.groupBy("diff_kind", "changed_cols").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("bit_xor(k)").alias("key_xor"),
        F.sum("delta").alias("cents_delta"),
    )


# ---------------------------------------------------------------------------
# q_surrogate_keys: dense surrogate-key assignment without a global sort
# ---------------------------------------------------------------------------

_SK_BUCKET = 1000  # key-range width per bucket

_SURROGATE_ORACLE = """
  SELECT c_custkey,
         CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS surrogate
  FROM customer
"""


@register(
    "q_surrogate_keys",
    oracle=_SURROGATE_ORACLE,
    tags=("maintenance", "keys", "window"),
)
def surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense surrogate-key assignment (the dimension-load primitive:
    every natural key gets the next integer in natural-key order) —
    WITHOUT the global row_number() the oracle states, because that
    plan funnels the table through ONE sort partition. The scale-safe
    equivalent is two-phase: (1) range-bucket the keys (fixed-width
    key ranges, so bucket order IS key order), count per bucket, and
    turn the bucket counts into cumulative start offsets — a
    bucket-cardinality window, thousands of rows, never data-scaled;
    (2) broadcast the offsets back and add a bucket-LOCAL row_number.
    offset + local rank == global rank, exactly, because ranges
    partition the key space in order. Same trick as q_customer_rfm's
    boundary broadcast: move the tiny global state, not the rows.

    Plan (pinned): the only data-scaled exchange is the bucket
    hash partition for the local window; the offsets side collapses
    to bucket grain before ITS window, and rejoins as a broadcast."""
    c = load_table(spark, sf_dir, "customer")
    keyed = c.select(
        "c_custkey", F.expr(f"c_custkey div {_SK_BUCKET}").alias("bucket")
    )
    counts = keyed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    w_off = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "bucket",
        F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("offset"),
    )
    w_local = Window.partitionBy("bucket").orderBy("c_custkey")
    return (
        keyed.join(F.broadcast(offsets), "bucket")
        .select(
            "c_custkey",
            (F.col("offset") + F.row_number().over(w_local)).alias("surrogate"),
        )
    )
