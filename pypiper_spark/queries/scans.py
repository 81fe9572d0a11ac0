"""Sources & scans (SURVEY.md section 2B: scans / sources / sinks).

Scale notes: q_scan_projection_pushdown / q_scan_filter_pushdown exist
to *prove* (tests assert on the physical plan) that column pruning and
predicate pushdown reach the parquet scan — the difference between
reading 2 columns and 11 at 100 TB.
"""

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pypiper_spark.catalog import TABLES, load_table
from pypiper_spark.registry import register

_COUNTS_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{t}' AS tbl, count(*) AS n_rows FROM {t}" for t in TABLES
)


@register("q_scan_parquet", oracle=_COUNTS_ORACLE, tags=("scan",))
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full scan + count of every table (reference source-node analog)."""
    frames = [
        load_table(spark, sf_dir, t)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(t).alias("tbl"), "n_rows")
        for t in TABLES
    ]
    return reduce(DataFrame.unionByName, frames)


@register(
    "q_scan_projection_pushdown",
    oracle="SELECT l_orderkey, l_extendedprice FROM lineitem",
    tags=("scan",),
)
def scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-of-11-column projection; ReadSchema must show only these two."""
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")


@register(
    "q_scan_filter_pushdown",
    oracle="""
      SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1999-01-01 00:00:00' AND l_quantity > 40
    """,
    tags=("scan",),
)
def scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate reaches the scan (PushedFilters in the plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_quantity") > 40)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


@register(
    "q_source_range",
    oracle="""
      SELECT id, id * 2 AS doubled, id * id AS squared
      FROM range(0, 1000) t(id)
      WHERE id % 7 = 3
    """,
    tags=("scan", "source"),
)
def source_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic generator source (reference Generate node analog)."""
    return (
        spark.range(0, 1000)
        .filter(F.col("id") % 7 == 3)
        .select(
            "id",
            (F.col("id") * 2).alias("doubled"),
            (F.col("id") * F.col("id")).alias("squared"),
        )
    )


_RT_CSV_ORACLE = """
  SELECT c_mktsegment, count(*) AS n_cust,
         (CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100)
           AS total_bal,
         min(c_name) AS first_name
  FROM customer GROUP BY c_mktsegment
"""


@register("q_roundtrip_csv", oracle=_RT_CSV_ORACLE, tags=("scan", "sink", "csv"))
def roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink+source fidelity as a QUERY: customer -> CSV (header,
    explicit schema on re-read — CSV carries no types) -> grouped
    aggregate, oracled against the original parquet. Proves the text
    format round-trips longs/doubles/strings losslessly. Writes land
    in a per-(sf,table) temp dir, overwritten on re-run."""
    import hashlib
    import tempfile

    cust = load_table(spark, sf_dir, "customer")
    key = hashlib.md5(f"{sf_dir}/customer".encode()).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/pypiper_rt_csv_{key}"
    cust.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.schema(cust.schema).option("header", True).csv(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_cust"),
        (F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("double") / 100)
        .alias("total_bal"),
        F.min("c_name").alias("first_name"),
    )


_RT_JSON_ORACLE = """
  SELECT s_nationkey, count(*) AS n_supp,
         (CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100)
           AS total_bal
  FROM supplier GROUP BY s_nationkey
"""


@register("q_roundtrip_json", oracle=_RT_JSON_ORACLE, tags=("scan", "sink", "json"))
def roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier -> JSON-lines -> grouped aggregate, oracled against
    the original parquet (schema-on-read with the original schema;
    JSON doubles survive via shortest-roundtrip printing)."""
    import hashlib
    import tempfile

    supp = load_table(spark, sf_dir, "supplier")
    key = hashlib.md5(f"{sf_dir}/supplier".encode()).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/pypiper_rt_json_{key}"
    supp.write.mode("overwrite").json(path)
    back = spark.read.schema(supp.schema).json(path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        (F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).cast("double") / 100)
        .alias("total_bal"),
    )


_RT_ORC_ORACLE = """
  SELECT p_brand, count(*) AS n_parts,
         (CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS DOUBLE) / 100)
           AS total_price,
         max(p_size) AS max_size
  FROM part GROUP BY p_brand
"""


@register("q_roundtrip_orc", oracle=_RT_ORC_ORACLE, tags=("scan", "sink", "orc"))
def roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part -> ORC -> grouped aggregate, oracled against the original
    parquet. ORC is Spark's other native columnar format (typed,
    predicate-pushdown-capable), so unlike the CSV/JSON roundtrips no
    schema-on-read is needed — the file carries the types."""
    import hashlib
    import tempfile

    part = load_table(spark, sf_dir, "part")
    key = hashlib.md5(f"{sf_dir}/part".encode()).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/pypiper_rt_orc_{key}"
    part.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        (F.sum(F.round(F.col("p_retailprice") * 100).cast("long")).cast("double") / 100)
        .alias("total_price"),
        F.max("p_size").alias("max_size"),
    )


_PART_PRUNE_ORACLE = """
  SELECT o_orderpriority, count(*) AS n_orders,
         (CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100)
           AS total_price
  FROM orders
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  GROUP BY o_orderpriority
"""


@register(
    "q_scan_partition_pruning",
    oracle=_PART_PRUNE_ORACLE,
    tags=("scan", "sink", "partitioned"),
)
def scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write + partition-pruned read — THE scan
    pattern at 100 TB: data laid out by a predicate column so a filter
    on it skips whole directories, not rows. orders is staged
    partitioned by o_orderpriority (once per corpus, an artifact);
    the read filters to 2 of 5 partitions, and tests assert the plan's
    PartitionFilters prove pruning (the other 3 directories are never
    opened). Aggregation in exact integer cents."""
    import os
    import tempfile

    from pypiper_spark.artifacts import path_for, publish

    o = load_table(spark, sf_dir, "orders")
    path = path_for(
        "pypiper_part", sf_dir, ("orders",), "o_orderpriority",
        root=tempfile.gettempdir(), suffix="",
    )
    if not os.path.exists(path):
        publish(path, lambda out: o.write.partitionBy("o_orderpriority").parquet(out))
    back = spark.read.parquet(path).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("double") / 100)
        .alias("total_price"),
    )


_BUCKETED_ORACLE = """
  SELECT o_orderpriority, count(*) AS n_lines,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderpriority
"""


@register(
    "q_join_bucketed",
    oracle=_BUCKETED_ORACLE,
    tags=("scan", "sink", "join", "bucketed"),
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides pre-bucketed by the join
    key into catalog tables, so the join needs NO exchange — the
    bucketing IS the shuffle, paid once at write time and amortized
    over every subsequent join. This is how a 100 TB fact-fact join
    avoids re-shuffling petabytes per query (tests assert the joined
    plan has no Exchange above the scans). Tables are (re)created per
    session via bucketing.ensure_bucketed (shared with
    q_join_multiway's bucketed fact route); the query itself is
    scan -> zipped bucket join -> aggregate."""
    from pypiper_spark.bucketing import ensure_bucketed

    o = spark.table(ensure_bucketed(spark, sf_dir, "orders", "o_orderkey"))
    li = spark.table(ensure_bucketed(spark, sf_dir, "lineitem", "l_orderkey"))
    # merge hint: at test scale Catalyst would broadcast the small side
    # (also exchange-free, but it hides the point); at 100 TB neither
    # fact side broadcasts, and SMJ-over-buckets is the plan this query
    # exists to prove — zero Exchange below the aggregation.
    return (
        o.hint("merge").join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        )
    )


_RT_XML_ORACLE = """
  SELECT n_regionkey, count(*) AS n_nations,
         string_agg(n_name, ',' ORDER BY n_name) AS nations
  FROM nation
  GROUP BY n_regionkey
"""


@register("q_roundtrip_xml", oracle=_RT_XML_ORACLE, tags=("scan", "sink", "xml"))
def roundtrip_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation -> XML -> grouped aggregate (Spark 4 ships the XML
    source natively). XML is schema-on-read like CSV/JSON, so the
    re-read declares the schema explicitly instead of trusting
    inference — the production posture for any text format. Oracled
    against the original parquet: the roundtrip must lose nothing."""
    import hashlib
    import tempfile

    n = load_table(spark, sf_dir, "nation")
    key = hashlib.md5(f"{sf_dir}/nation".encode()).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/pypiper_rt_xml_{key}"
    (
        n.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
        .load(path)
    )
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.expr("listagg(n_name, ',') within group (order by n_name)").alias("nations"),
    )


# length(text), not the table's n_chars metadata column: the roundtrip
# check compares AGAINST THE TEXT, so the oracle must derive from the
# same source (the 100x sweep caught the metadata column lagging the
# text after scale_build's token prefixing; scale_build now recomputes
# it, but an oracle that can silently inherit stale metadata is wrong
# either way).
_TEXT_SRC_ORACLE = """
  SELECT count(*) AS n_lines,
         CAST(sum(length(text)) AS BIGINT) AS total_chars,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
  FROM documents
"""


@register("q_scan_text_lines", oracle=_TEXT_SRC_ORACLE, tags=("scan", "sink", "text"))
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text -> line-oriented text files -> spark.read.text ->
    corpus stats. The text source is the raw-corpus on-ramp every
    LLM-data pipeline starts from (one opaque line per record, schema
    applied downstream); writing then re-reading proves the sink and
    source agree byte-for-byte. Oracle recomputes the same stats from
    the documents table — the roundtrip must preserve every char.
    The corpus text is single-line by construction; a newline inside a
    document would split records (that case belongs to multi-line
    JSON, q_roundtrip_json)."""
    import hashlib
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    key = hashlib.md5(f"{sf_dir}/documents".encode()).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/pypiper_rt_text_{key}"
    d.select("text").write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.sum(F.size(F.split("value", " "))).alias("total_tokens"),
    )


_BINFILE_ORACLE = """
  SELECT count(*) AS n_files,
         CAST(sum(strlen(n_name)) AS BIGINT) AS total_bytes,
         CAST(min(strlen(n_name)) AS BIGINT) AS min_bytes,
         CAST(max(strlen(n_name)) AS BIGINT) AS max_bytes
  FROM nation
"""


@register(
    "q_scan_binaryfile", oracle=_BINFILE_ORACLE, tags=("scan", "source", "binary")
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source: one opaque blob per file + metadata columns —
    how image/audio corpora enter Spark before any decode
    (multimodal.py consumes exactly this shape). Stages 25 files (one
    per nation, content = the utf-8 name) driver-side — bounded like
    the probe collects in vectors.py — then scans them distributed.
    The oracle recomputes byte counts from the nation table, so the
    scan must see every file, whole."""
    import os
    import tempfile

    from pypiper_spark.artifacts import path_for, publish

    n = load_table(spark, sf_dir, "nation")
    path = path_for(
        "pypiper_binfiles", sf_dir, ("nation",), root=tempfile.gettempdir(), suffix=""
    )

    def write(out: str) -> None:
        os.makedirs(out)
        for row in n.select("n_nationkey", "n_name").collect():  # 25 rows, bounded
            with open(f"{out}/{row['n_nationkey']}.bin", "wb") as f:
                f.write(row["n_name"].encode("utf-8"))

    if not os.path.exists(path):
        publish(path, write)
    back = spark.read.format("binaryFile").load(path)
    return back.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.length("content")).alias("total_bytes"),
        F.min(F.length("content")).alias("min_bytes"),
        F.max(F.length("content")).alias("max_bytes"),
    )


_CSV_PERMISSIVE_ORACLE = """
  SELECT count(*) FILTER (WHERE n_nationkey % 5 <> 0) AS n_clean,
         count(*) FILTER (WHERE n_nationkey % 5 = 0) AS n_corrupt,
         CAST(sum(n_regionkey) FILTER (WHERE n_nationkey % 5 <> 0) AS BIGINT)
           AS clean_region_sum
  FROM nation
"""


@register(
    "q_scan_csv_permissive",
    oracle=_CSV_PERMISSIVE_ORACLE,
    tags=("scan", "csv", "data-quality"),
)
def scan_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE CSV parsing with a corrupt-record column — the
    data-quality on-ramp for dirty feeds: malformed rows (here every
    5th nation, its key field replaced by a non-numeric token) land
    with NULL data columns and the raw line preserved in
    _corrupt_record instead of failing the job (FAILFAST) or vanishing
    (DROPMALFORMED). The oracle knows by construction which rows were
    corrupted. The parsed frame is cached before querying the corrupt
    column (Spark requires referencing _corrupt_record alongside real
    columns from a materialized parse, not a pruned re-parse)."""
    import hashlib
    import tempfile

    n = load_table(spark, sf_dir, "nation")
    key = hashlib.md5(f"{sf_dir}/nation_csv".encode()).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/pypiper_csv_perm_{key}"
    lines = n.select(
        F.when(
            F.col("n_nationkey") % 5 == 0,
            F.concat_ws(",", F.lit("BADKEY"), "n_name", "n_regionkey"),
        )
        .otherwise(F.concat_ws(",", "n_nationkey", "n_name", "n_regionkey"))
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT, _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    ).cache()
    return back.agg(
        F.count_if(F.col("_corrupt_record").isNull()).alias("n_clean"),
        F.count_if(F.col("_corrupt_record").isNotNull()).alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_regionkey"))
        ).alias("clean_region_sum"),
    )


# ---------------------------------------------------------------------------
# q_scan_json_permissive: corrupt-record JSONL parsing
# ---------------------------------------------------------------------------

_JSON_PERMISSIVE_ORACLE = """
  SELECT count(*) FILTER (WHERE n_nationkey % 7 <> 0) AS n_clean,
         count(*) FILTER (WHERE n_nationkey % 7 = 0) AS n_corrupt,
         CAST(sum(CASE WHEN n_nationkey % 7 <> 0 THEN n_regionkey END)
              AS BIGINT) AS clean_region_sum
  FROM nation
"""


@register(
    "q_scan_json_permissive",
    oracle=_JSON_PERMISSIVE_ORACLE,
    tags=("scan", "json", "data-quality"),
)
def scan_json_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE JSONL parsing with a corrupt-record column — the
    q_scan_csv_permissive pattern on the other ubiquitous feed format:
    every 7th nation is written as TRUNCATED JSON (brace never
    closes), and the permissive read surfaces those lines whole in
    _corrupt_record with NULL data columns instead of failing the
    batch. The oracle knows by construction which rows are corrupt,
    so the count/sum report is exact.

    Same materialization rule as CSV: _corrupt_record can only be
    queried from a cached parse (a pruned re-parse would re-derive it
    against a narrowed schema)."""
    import hashlib
    import tempfile

    n = load_table(spark, sf_dir, "nation")
    key = hashlib.md5(f"{sf_dir}/nation_jsonl".encode()).hexdigest()[:12]
    path = f"{tempfile.gettempdir()}/pypiper_json_perm_{key}"
    good = F.concat(
        F.lit('{"n_nationkey": '),
        F.col("n_nationkey").cast("string"),
        F.lit(', "n_name": "'),
        F.col("n_name"),
        F.lit('", "n_regionkey": '),
        F.col("n_regionkey").cast("string"),
        F.lit("}"),
    )
    bad = F.concat(
        F.lit('{"n_nationkey": '), F.col("n_nationkey").cast("string"),
        F.lit(', "n_name": "'), F.col("n_name"),
    )
    n.select(
        F.when(F.col("n_nationkey") % 7 == 0, bad).otherwise(good).alias("value")
    ).write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT,"
            " _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    ).cache()  # lifetime: session.release_query_caches policy
    return back.agg(
        F.count_if(F.col("_corrupt_record").isNull()).alias("n_clean"),
        F.count_if(F.col("_corrupt_record").isNotNull()).alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_regionkey"))
        ).alias("clean_region_sum"),
    )


# ---------------------------------------------------------------------------
# q_scan_agg_pushdown: footer-statistics aggregate pushdown
# ---------------------------------------------------------------------------

_AGG_PD_CONFS = {
    # aggregate pushdown is a DataSource V2 capability; parquet reads
    # default to the V1 path, so scope V2 on for this query
    "spark.sql.sources.useV1SourceList": "",
    "spark.sql.parquet.aggregatePushdown": "true",
}

_AGG_PD_ORACLE = """
  SELECT count(*) AS n_orders,
         min(o_orderkey) AS min_key,
         max(o_orderkey) AS max_key
  FROM orders
"""


@register(
    "q_scan_agg_pushdown",
    oracle=_AGG_PD_ORACLE,
    tags=("scan", "pushdown", "aggregate"),
)
def scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate pushdown INTO the parquet scan: count(*)/min/max are
    answered from ROW-GROUP FOOTER STATISTICS — the scan node itself
    returns the aggregate (plan shows PushedAggregation: [COUNT(*),
    MIN(o_orderkey), MAX(o_orderkey)]) and row data is never
    decompressed. At 100 TB this is the difference between a metadata
    read (one footer per file) and a full-table scan for the
    row-count/watermark checks every orchestrator runs before
    kicking off a pipeline.

    Conf scoping: the capability lives on the DataSource V2 read path
    (parquet defaults to V1), and only COUNT(*)/MIN/MAX on atomic
    columns qualify — count(lit(1)) or a timestamp min/max silently
    falls back to a full scan (measured; the plan test pins the
    pushed form). Same conf-lifetime rule as q_join_runtime_filter:
    the plan must be OPTIMIZED while the confs hold, so the 1-row
    result materializes under the guard via eager localCheckpoint."""
    from pypiper_spark.session import scoped_confs

    with scoped_confs(spark, _AGG_PD_CONFS):
        # direct read: relation resolution picks V1/V2 at DataFrame
        # creation, so the memoized load_table handle must be bypassed
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        out = o.agg(
            F.expr("count(*)").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        return out.localCheckpoint(eager=True)
