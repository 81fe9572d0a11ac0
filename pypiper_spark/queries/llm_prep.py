"""End-to-end LLM training-data preparation operators.

The single-purpose pieces live in text.py / dedup.py / vectors.py;
this module adds (a) the composed corpus-preparation pipeline the
reference's users would run as one job — quality-filter -> exact
content dedup -> corpus stats — and (b) embedding int8 quantization,
the storage-compression step for an embedding corpus at 100 TB.

Both are exact-oracled: every step is deterministic (integer counts,
IEEE-identical double expressions, md5 content keys), so the driver's
hash gate applies end-to-end, not just per-stage.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pypiper_spark.artifacts import memo, path_for
from pypiper_spark.catalog import load_table
from pypiper_spark.registry import register

_STOPWORDS = ("the", "a", "of", "to", "and", "in")
_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

_CORPUS_PREP_ORACLE = f"""
  WITH q AS (
    SELECT doc_id, lang, source, n_chars, text,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '), t -> t IN ({_SW_SQL}))) AS n_stop
    FROM documents
  ), filt AS (
    SELECT * FROM q
    WHERE n_tokens >= 5
      AND CAST(n_stop AS DOUBLE) / n_tokens <= CAST(0.6 AS DOUBLE)
  ), survivors AS (
    SELECT doc_id, lang, source, n_tokens, n_chars,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM filt
  )
  SELECT lang, source,
         count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         min(doc_id) AS min_doc_id
  FROM survivors WHERE rn = 1
  GROUP BY lang, source
"""


@register(
    "q_pipeline_corpus_prep",
    oracle=_CORPUS_PREP_ORACLE,
    tags=("pipeline", "text", "dedup", "llm"),
)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-prep pipeline in ONE job: quality filter
    (token count + stopword ratio) -> exact content dedup -> per
    (lang, source) corpus stats.

    Scale shape: the dedup step is a single-shuffle min-struct
    aggregate keyed on md5(text) — NOT a window row_number, which
    would sort every hash group; duplicate rows carry identical
    text-derived fields, so min(struct(doc_id, ...)) picks the
    deterministic survivor and its payload in one pass. The stats
    step is a second (much smaller) shuffle on (lang, source). All
    outputs are integers — exact at any scale."""
    d = load_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    q = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "text",
        F.size(tokens).alias("n_tokens"),
        F.size(F.filter(tokens, lambda x: F.array_contains(sw, x))).alias("n_stop"),
    )
    filt = q.filter(
        (F.col("n_tokens") >= 5)
        & (F.col("n_stop").cast("double") / F.col("n_tokens") <= F.lit(0.6))
    )
    survivors = (
        filt.groupBy(F.md5(F.col("text").cast("binary")).alias("content_md5"))
        .agg(
            F.min(
                F.struct("doc_id", "lang", "source", "n_tokens", "n_chars")
            ).alias("s")
        )
        .select("s.*")
    )
    return survivors.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


_QUANTIZE_ORACLE = """
  WITH t AS (
    SELECT label, CAST(embedding AS DOUBLE[]) AS v,
           greatest(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))),
                    1e-12) AS scale
    FROM embeddings
  ), e AS (
    SELECT label,
           list_transform(v, x -> abs(floor(x / scale * 127 + 0.5) * scale / 127 - x))
             AS err
    FROM t
  )
  SELECT label,
         count(*) AS n_vectors,
         round(avg(list_sum(err) / 64), 6) AS mean_abs_err,
         round(max(list_max(err)), 6) AS max_abs_err
  FROM e GROUP BY label
"""


@register(
    "q_quantize_embeddings",
    oracle=_QUANTIZE_ORACLE,
    tags=("similarity", "quantize", "llm"),
)
def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric scalar quantization of the embedding corpus with
    per-label reconstruction-error stats — the compression step that
    turns a 100 TB float32 embedding store into ~25 TB of int8.

    Determinism: quantize = floor(x/scale*127 + 0.5) — floor of an
    IEEE-identical double expression, not round() (engines disagree on
    decimal round of binary doubles); errors summed in array order on
    both sides; only the final label-level avg is a float merge, and
    it rounds to 6 decimals. Map-only until one small shuffle on
    label."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-12)
    )
    t = e.select("label", v.alias("v"), scale.alias("scale"))
    err = F.transform(
        F.col("v"),
        lambda x: F.abs(
            F.floor(x / F.col("scale") * 127 + 0.5) * F.col("scale") / 127 - x
        ),
    )
    per_vec = t.select(
        "label",
        (F.aggregate(err, F.lit(0.0), lambda acc, x: acc + x) / 64).alias("mean_err"),
        F.array_max(err).alias("max_err"),
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("mean_err"), 6).alias("mean_abs_err"),
        F.round(F.max("max_err"), 6).alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (the Sennrich et al. 2016 algorithm, run on
# the corpus the way a training pipeline does): learn the top-N merge
# rules from corpus statistics. Exact-oracled since r9: the round
# count is FIXED, so the train unrolls into a DuckDB CTE chain (see
# _bpe_chain_sql below); the independent pure-Python BPE recompute in
# tests/test_equivalences.py stays as a second check.
# ---------------------------------------------------------------------------

_BPE_MERGES = 8

# Learned merges (and the byte-level merges and unigram pieces below)
# are memoized in process by artifacts.memo, keyed by corpus + params:
# training is deterministic, so re-deriving it per downstream query
# (train + encode both need the table) would only re-pay the Spark
# rounds, and a long-lived session can't serve stale merges after data
# regeneration (ADVICE r6). In-memory only — the 8-row merge table is
# not worth a disk artifact (contrast the IVF/PQ artifacts in
# vectors.py, which replace an expensive ML fit).


def _learn_bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Run the Sennrich BPE merge loop (docstring on q_bpe_train) and
    return [(rank, left, right, merged, pair_count), ...]."""
    path = path_for("bpe", sf_dir, ("documents",), f"merges={_BPE_MERGES}")
    return memo(path, lambda: _fit_bpe_merges(spark, sf_dir))


def _fit_bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple]:
    from pyspark.sql.functions import pandas_udf

    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    seqs = words.select(
        "c", F.split("w", "").alias("syms")
    ).persist()  # lifetime: session.release_query_caches policy
    merges: list[tuple] = []
    for rank in range(1, _BPE_MERGES + 1):
        pairs = (
            seqs.filter(F.size("syms") >= 2)
            .select(
                "c",
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1),"
                        " (s, i) -> struct(s AS l, element_at(syms, i + 2) AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("c").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), "l", "r").limit(1).collect()
        if not top:
            break
        l, r, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        merges.append((rank, l, r, l + r, n))

        def _merge_udf(left: str, right: str):
            @pandas_udf("array<string>")
            def _apply_merge(col: pd.Series) -> pd.Series:
                def m(s):
                    out, i = [], 0
                    while i < len(s):
                        if i < len(s) - 1 and s[i] == left and s[i + 1] == right:
                            out.append(left + right)
                            i += 2
                        else:
                            out.append(s[i])
                            i += 1
                    return out

                return col.map(m)

            return _apply_merge

        new = seqs.select("c", _merge_udf(l, r)("syms").alias("syms")).persist()
        new.count()  # materialize before releasing the parent cache
        seqs.unpersist()
        seqs = new
    seqs.unpersist()
    return merges


# ---------------------------------------------------------------------------
# DuckDB twins for the BPE queries (VERDICT r8 next #1b): the merge
# loop is a FIXED number of rounds (_BPE_MERGES), so — exactly like
# q_graph_pagerank's unrolled-CTE oracle (graph.py) — the whole train
# is expressible as an unrolled CTE chain, one (pair-count, argmax,
# apply) triple per round. Words are represented as their symbol
# sequence rendered into a STRING with every symbol wrapped in a
# chr(31) sentinel: '\x1f' || sym || '\x1f' per symbol, concatenated.
# Applying merge (l, r) is then ONE replace() of '\x1fl\x1f\x1fr\x1f'
# with '\x1flr\x1f' — SQL replace scans left-to-right non-overlapping,
# which is exactly the BPE apply rule (verified for the l == r run
# case: [a,a,a,a] -> [aa,aa], [a,a,a] -> [aa,a]); the full wrapping
# (no shared separators between adjacent symbols) is what makes
# consecutive overlapping matches work. chr(31) (unit separator)
# cannot occur inside a symbol: char symbols come from whitespace
# tokens, byte symbols are rendered decimal ints.
# ---------------------------------------------------------------------------

_SEP = "chr(31)"
_SEP2 = f"{_SEP}||{_SEP}"


def _bpe_chain_sql(n_rounds: int, byte_level: bool) -> str:
    """The shared WITH-clause body: w0 (word counts), s0 (wrapped
    symbol strings), then p{k}/b{k}/s{k} per round — pair counts,
    the argmax merge (Spark tie-break: count desc, then left, then
    right — numerically for bytes), and the post-merge sequences."""
    if byte_level:
        specials = ", ".join(f"'{s}'" for s in _BPE_SPECIALS)
        w0_filter = f"w != '' AND w NOT IN ({specials})"
        # UTF-8 bytes as decimal ints via the hex rendering (encode()
        # not CAST: the cast demands ascii-escaped input, extras.py)
        s0 = (
            f"SELECT c, {_SEP} || array_to_string(list_transform("
            "range(0, octet_length(encode(w))), i -> CAST(('0x' || "
            "substr(hex(encode(w)), 2 * i + 1, 2)) AS INT)), "
            f"{_SEP2}) || {_SEP} AS s FROM w0"
        )
        order_lr = "CAST(l AS INT), CAST(r AS INT)"
    else:
        w0_filter = "w != ''"
        s0 = (
            f"SELECT c, regexp_replace(w, '(.)', {_SEP} || '\\1' || {_SEP}, 'g')"
            " AS s FROM w0"
        )
        order_lr = "l, r"
    parts = [
        "w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM ("
        "SELECT unnest(string_split(text, ' ')) AS w FROM documents"
        f") WHERE {w0_filter} GROUP BY w)",
        f"s0 AS ({s0})",
    ]
    for k in range(1, n_rounds + 1):
        merged = f"'{255 + k}'" if byte_level else "b.l || b.r"
        parts.append(
            f"p{k} AS (SELECT pr[1] AS l, pr[2] AS r, "
            "CAST(sum(c) AS BIGINT) AS n FROM ("
            "SELECT c, unnest(list_zip(syms[:-2], syms[2:])) AS pr FROM ("
            f"SELECT c, string_split(substr(s, 2, length(s) - 2), {_SEP2})"
            f" AS syms FROM s{k - 1})) GROUP BY 1, 2)"
        )
        parts.append(
            f"b{k} AS (SELECT l, r, n FROM p{k} "
            f"ORDER BY n DESC, {order_lr} LIMIT 1)"
        )
        parts.append(
            f"s{k} AS (SELECT c, replace(s, "
            f"{_SEP} || b.l || {_SEP} || {_SEP} || b.r || {_SEP}, "
            f"{_SEP} || {merged} || {_SEP}) AS s FROM s{k - 1}, b{k} b)"
        )
    return ",\n  ".join(parts)


def _bpe_train_oracle(byte_level: bool) -> str:
    n = _BPE_BYTES_MERGES if byte_level else _BPE_MERGES
    if byte_level:
        rows = "\n    UNION ALL ".join(
            f"SELECT {k} AS rank, CAST(l AS INT) AS left_id, "
            f"CAST(r AS INT) AS right_id, {255 + k} AS new_id, "
            f"n AS pair_count FROM b{k}"
            for k in range(1, n + 1)
        )
    else:
        rows = "\n    UNION ALL ".join(
            f'SELECT {k} AS rank, l AS "left", r AS "right", '
            f"l || r AS merged, n AS pair_count FROM b{k}"
            for k in range(1, n + 1)
        )
    return f"WITH {_bpe_chain_sql(n, byte_level)}\n  {rows}"


def _bpe_encode_oracle(byte_level: bool) -> str:
    """Encode twin: the SAME unrolled train chain, then the merges
    applied to the distinct-word vocabulary (e0..eN mirror the
    codebook UDF: one wrapped string per word, one replace per rank)
    and the corpus-grain (lang, source, word)-count aggregate joined
    to the resulting codebook. n_pieces falls out of the rendering:
    every symbol carries exactly two chr(31) wrappers."""
    n = _BPE_BYTES_MERGES if byte_level else _BPE_MERGES
    if byte_level:
        specials = ", ".join(f"'{s}'" for s in _BPE_SPECIALS)
        occ_filter = f"w != '' AND w NOT IN ({specials})"
        e0 = (
            f"SELECT w, {_SEP} || array_to_string(list_transform("
            "range(0, octet_length(encode(w))), i -> CAST(('0x' || "
            "substr(hex(encode(w)), 2 * i + 1, 2)) AS INT)), "
            f"{_SEP2}) || {_SEP} AS s FROM v0"
        )
    else:
        occ_filter = "w != ''"
        e0 = (
            f"SELECT w, regexp_replace(w, '(.)', {_SEP} || '\\1' || {_SEP}, 'g')"
            " AS s FROM v0"
        )
    apply_rounds = []
    for k in range(1, n + 1):
        merged = f"'{255 + k}'" if byte_level else "b.l || b.r"
        apply_rounds.append(
            f"e{k} AS (SELECT w, replace(s, "
            f"{_SEP} || b.l || {_SEP} || {_SEP} || b.r || {_SEP}, "
            f"{_SEP} || {merged} || {_SEP}) AS s FROM e{k - 1}, b{k} b)"
        )
    width = f"octet_length(encode(w))" if byte_level else "length(w)"
    if byte_level:
        final = """
  SELECT o.lang, o.source,
         CAST(sum(o.cnt) AS BIGINT) AS total_tokens,
         CAST(sum(o.cnt * pc.n_pieces) + any_value(ds.n_specials) AS BIGINT)
           AS total_pieces,
         CAST(sum(o.cnt * (pc.n_width - pc.n_pieces)) AS BIGINT)
           AS bytes_saved,
         CAST(any_value(ds.n_specials) AS BIGINT) AS n_specials,
         count(*) AS n_word_forms
  FROM occ o JOIN pieces pc USING (w)
  JOIN (SELECT lang, source, count(*) AS n_specials
        FROM documents GROUP BY lang, source) ds
    ON ds.lang = o.lang AND ds.source = o.source
  GROUP BY o.lang, o.source"""
    else:
        final = """
  SELECT lang, source,
         CAST(sum(cnt) AS BIGINT) AS total_tokens,
         CAST(sum(cnt * n_pieces) AS BIGINT) AS total_pieces,
         CAST(sum(cnt * (n_width - n_pieces)) AS BIGINT) AS chars_saved,
         count(*) AS n_word_forms
  FROM occ JOIN pieces USING (w)
  GROUP BY lang, source"""
    applies = ",\n  ".join(apply_rounds)
    return f"""WITH {_bpe_chain_sql(n, byte_level)},
  occ AS (SELECT lang, source, w, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT lang, source, unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE {occ_filter} GROUP BY 1, 2, 3),
  v0 AS (SELECT DISTINCT w FROM occ),
  e0 AS ({e0}),
  {applies},
  pieces AS (SELECT w,
    CAST((length(s) - length(replace(s, {_SEP}, ''))) // 2 AS INT) AS n_pieces,
    CAST({width} AS INT) AS n_width FROM e{n})
  {final}"""


@register(
    "q_bpe_train",
    oracle=_bpe_train_oracle(byte_level=False),
    tags=("llm", "tokenizer", "iterative"),
)
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge training over the document corpus:
    emit the first _BPE_MERGES merge rules (rank, left, right, merged,
    pair_count), ties broken deterministically (max weighted count,
    then lexicographically smallest pair) so every engine and every
    run produces the identical table.

    Scale shape — classic BPE never iterates over the corpus: the ONE
    corpus-scale pass is the word-frequency aggregate (map-side
    combined groupBy over exploded tokens). Every merge round then
    operates on the WORD-FREQUENCY table, whose cardinality is the
    vocabulary (Zipf-bounded: ~10-100M rows at 100 TB, 31 here), with
    pair counts weighted by word frequency: adjacent-pair explode +
    hash agg (distributed, partial-aggregated), a LIMIT-1 argmax
    probe (the per-round collect is ONE row — the bounded-probe
    class, vectors.py policy), and an Arrow-batched merge rewrite of
    the symbol arrays (pandas UDF over vocab rows — per-word merge
    application is inherently sequential WITHIN a word, batch-
    parallel across words; the interpreted-HOF alternative loses the
    same way q_text_entropy's fold did). The sequential round
    structure is the algorithm, not the implementation: merge k+1's
    counts do not exist until merge k applies. Rounds are fixed at
    _BPE_MERGES; the vocab table persists once and each round
    replaces it via localCheckpoint-free lineage (8 rounds stays
    shallow; raise via the pagerank guard pattern past ~10)."""
    merges = _learn_bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count bigint"
    )


@register(
    "q_bpe_encode",
    oracle=_bpe_encode_oracle(byte_level=False),
    tags=("llm", "tokenizer"),
)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained BPE merge table to the corpus and report the
    tokenization outcome per (lang, source): total whitespace tokens,
    total BPE pieces after all 8 merges, pieces saved vs raw
    characters, and distinct word-form count — the operator a training
    pipeline runs between tokenizer training and sequence packing.

    Scale shape — encode NEVER touches corpus text per occurrence: the
    merge table is applied once per DISTINCT word (the vocabulary,
    Zipf-bounded; 31 rows here vs 10-100M at 100 TB) in one
    Arrow-batched pandas UDF pass, producing a (word, n_pieces)
    codebook; the corpus-scale side is a plain (lang, source, word)
    count aggregate that joins the codebook by word — at real scale a
    hash join between a corpus-aggregate and a vocab table, never a
    per-token Python crossing. Merge application within a word is
    inherently sequential (rank order matters: merge k+1's pairs only
    exist after merge k applies), which is why it is a UDF on the
    Spark side; the DuckDB twin replays the same fixed merge sequence
    as unrolled replace() steps over the wrapped-symbol rendering
    (_bpe_encode_oracle), so the driver hash-checks train+encode end
    to end. The independent pure-Python recompute in
    tests/test_equivalences.py stays as a second check."""
    from pyspark.sql.functions import pandas_udf

    merges = _learn_bpe_merges(spark, sf_dir)
    rules = [(m[1], m[2]) for m in merges]  # (left, right) in rank order

    @pandas_udf("int")
    def _n_pieces(col: pd.Series) -> pd.Series:
        def enc(w: str) -> int:
            s = list(w)
            for left, right in rules:
                out, i = [], 0
                while i < len(s):
                    if i < len(s) - 1 and s[i] == left and s[i + 1] == right:
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                s = out
            return len(s)

        return col.map(enc)

    occ = (
        load_table(spark, sf_dir, "documents")
        .select("lang", "source", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang", "source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = occ.select("w").distinct().select(
        "w", _n_pieces("w").alias("n_pieces"), F.length("w").alias("n_chars_w")
    )
    return (
        occ.join(vocab, "w")
        .groupBy("lang", "source")
        .agg(
            F.sum("cnt").alias("total_tokens"),
            F.sum(F.col("cnt") * F.col("n_pieces")).alias("total_pieces"),
            F.sum(F.col("cnt") * (F.col("n_chars_w") - F.col("n_pieces"))).alias(
                "chars_saved"
            ),
            F.count(F.lit(1)).alias("n_word_forms"),
        )
    )


# ---------------------------------------------------------------------------
# Byte-level BPE (VERDICT r6 missing #3 / next #6): the GPT-2-family
# tokenizer-training shape — initial symbols are UTF-8 BYTES (every
# word is representable, no <unk>: byte fallback is inherent, not a
# special case), merges mint NEW integer token ids (256, 257, ...)
# exactly like a production vocab, and SPECIAL TOKENS are first-class:
# excluded from merge statistics at train time, atomic (always 1
# piece, never merged across) at encode time. Exact-oracled since r9
# via the same unrolled CTE chain as char BPE (byte symbols render as
# decimal ints); the pure-Python byte-BPE recompute in
# tests/test_equivalences.py stays as a second check.
# ---------------------------------------------------------------------------

_BPE_BYTES_MERGES = 8
_BPE_SPECIALS = ("<|endoftext|>",)  # the doc terminator a packer inserts


def _word_counts(spark: SparkSession, sf_dir: str):
    """Corpus word-frequency table minus special tokens (specials are
    config, not data — they must never influence merge statistics)."""
    return (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter((F.col("w") != "") & (~F.col("w").isin(*_BPE_SPECIALS)))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def _learn_bpe_merges_bytes(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Byte-level Sennrich loop at vocab grain: identical distributed
    shape to _learn_bpe_merges (ONE corpus pass for word counts, then
    all rounds over the Zipf-bounded vocabulary), but symbols are
    ints — UTF-8 bytes initially, minted ids 256+rank-1 after each
    merge — so multi-byte UTF-8 and arbitrary binary-ish words need
    no fallback path. Ties break (max weighted count, then smallest
    left id, then smallest right id)."""
    path = path_for("bpe_bytes", sf_dir, ("documents",), f"merges={_BPE_BYTES_MERGES}")
    return memo(path, lambda: _fit_bpe_merges_bytes(spark, sf_dir))


def _fit_bpe_merges_bytes(spark: SparkSession, sf_dir: str) -> list[tuple]:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def _to_bytes(col: pd.Series) -> pd.Series:
        return col.map(lambda w: list(w.encode("utf-8")))

    seqs = (
        _word_counts(spark, sf_dir)
        .select("c", _to_bytes("w").alias("syms"))
        .persist()  # lifetime: session.release_query_caches policy
    )
    merges: list[tuple] = []
    next_id = 256
    for rank in range(1, _BPE_BYTES_MERGES + 1):
        pairs = (
            seqs.filter(F.size("syms") >= 2)
            .select(
                "c",
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms) - 1),"
                        " (s, i) -> struct(s AS l, element_at(syms, i + 2) AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("c").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), "l", "r").limit(1).collect()
        if not top:
            break
        l, r, n = int(top[0]["l"]), int(top[0]["r"]), int(top[0]["n"])
        merges.append((rank, l, r, next_id, n))

        def _merge_udf(left: int, right: int, new: int):
            @pandas_udf("array<int>")
            def _apply_merge(col: pd.Series) -> pd.Series:
                def m(s):
                    out, i = [], 0
                    while i < len(s):
                        if i < len(s) - 1 and s[i] == left and s[i + 1] == right:
                            out.append(new)
                            i += 2
                        else:
                            out.append(s[i])
                            i += 1
                    return out

                return col.map(m)

            return _apply_merge

        new = seqs.select("c", _merge_udf(l, r, next_id)("syms").alias("syms")).persist()
        new.count()  # materialize before releasing the parent cache
        seqs.unpersist()
        seqs = new
        next_id += 1
    seqs.unpersist()
    return merges


@register(
    "q_bpe_train_bytes",
    oracle=_bpe_train_oracle(byte_level=True),
    tags=("llm", "tokenizer", "bytes", "iterative"),
)
def bpe_train_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE merge training: the first _BPE_BYTES_MERGES
    merge rules as (rank, left_id, right_id, new_id, pair_count) with
    new ids minted from 256 upward — a real tokenizer vocab prefix.
    Scale shape identical to q_bpe_train (see that docstring): one
    corpus pass, then vocab-grain rounds with a 1-row argmax probe
    and an Arrow-batched rewrite per round; the byte alphabet only
    changes the symbol type (int), not the plan. Special tokens are
    filtered OUT of the statistics (they get reserved ids outside the
    merge space — the q_bpe_encode_bytes contract)."""
    merges = _learn_bpe_merges_bytes(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "rank int, left_id int, right_id int, new_id int, pair_count bigint",
    )


@register(
    "q_bpe_encode_bytes",
    oracle=_bpe_encode_oracle(byte_level=True),
    tags=("llm", "tokenizer", "bytes"),
)
def bpe_encode_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE encode over packed documents: every document is
    terminated with the <|endoftext|> special (what a sequence packer
    inserts between docs), and the report per (lang, source) gives
    total whitespace tokens, total BPE pieces INCLUDING the one
    atomic special per document, bytes saved by merging, the special
    count, and distinct word forms. The special token is exactly 1
    piece always — it never splits into bytes and never merges with
    neighbors (the unsplittable-token contract every production
    tokenizer honors).

    Scale shape: merges apply once per DISTINCT word (vocab-grain
    Arrow pass -> (word, n_pieces, n_bytes) codebook), the corpus side
    is a (lang, source, word) count aggregate hash-joined to the
    codebook, and the special accounting is a per-(lang, source) doc
    count — no per-token Python anywhere. Exact-oracled (same unrolled
    DuckDB chain as q_bpe_encode, byte flavor); the pure-Python byte
    recompute in tests/test_equivalences.py stays as a second check."""
    from pyspark.sql.functions import pandas_udf

    merges = _learn_bpe_merges_bytes(spark, sf_dir)
    rules = [(m[1], m[2], m[3]) for m in merges]  # (l, r, new) in rank order

    @pandas_udf("int")
    def _n_pieces(col: pd.Series) -> pd.Series:
        def enc(w: str) -> int:
            s = list(w.encode("utf-8"))
            for left, right, new in rules:
                out, i = [], 0
                while i < len(s):
                    if i < len(s) - 1 and s[i] == left and s[i + 1] == right:
                        out.append(new)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                s = out
            return len(s)

        return col.map(enc)

    d = load_table(spark, sf_dir, "documents")
    occ = (
        d.select("lang", "source", F.explode(F.split("text", " ")).alias("w"))
        .filter((F.col("w") != "") & (~F.col("w").isin(*_BPE_SPECIALS)))
        .groupBy("lang", "source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = occ.select("w").distinct().select(
        "w",
        _n_pieces("w").alias("n_pieces"),
        F.length(F.encode("w", "UTF-8")).alias("n_bytes_w"),
    )
    word_side = (
        occ.join(vocab, "w")
        .groupBy("lang", "source")
        .agg(
            F.sum("cnt").alias("total_tokens"),
            F.sum(F.col("cnt") * F.col("n_pieces")).alias("word_pieces"),
            F.sum(F.col("cnt") * (F.col("n_bytes_w") - F.col("n_pieces"))).alias(
                "bytes_saved"
            ),
            F.count(F.lit(1)).alias("n_word_forms"),
        )
    )
    doc_side = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_specials")  # one terminator per doc
    )
    return word_side.join(doc_side, ["lang", "source"]).select(
        "lang",
        "source",
        "total_tokens",
        (F.col("word_pieces") + F.col("n_specials")).alias("total_pieces"),
        "bytes_saved",
        "n_specials",
        "n_word_forms",
    )


# ---------------------------------------------------------------------------
# The composed corpus BUILD pipeline (round-6 stack, end to end)
# ---------------------------------------------------------------------------

_CORPUS_BUILD_ORACLE = f"""
  WITH RECURSIVE t AS (
    SELECT doc_id, lang, source, n_chars, text,
           string_split(text, ' ') AS toks
    FROM documents
  ), m AS (
    SELECT doc_id, lang, source, n_chars, text,
           len(toks) AS n_tok,
           len(list_distinct(toks)) AS n_dis,
           len(list_filter(list_distinct(toks),
                           w -> w IN ({_SW_SQL}))) AS n_stopw,
           list_max(list_transform(list_distinct(toks),
                    d -> len(list_filter(toks, x -> x = d)))) AS max_cnt
    FROM t
  ), pass AS (
    SELECT doc_id, lang, source, n_chars, text, n_tok
    FROM m
    WHERE NOT (n_tok < 20 OR n_tok > 90)
      AND NOT (5 * n_tok > n_chars OR n_chars > 6 * n_tok)
      AND n_stopw >= 2
      AND 10 * n_dis >= 4 * n_tok
      AND 8 * max_cnt <= n_tok
  ), surv AS (
    SELECT doc_id, lang, source, n_chars, text, n_tok FROM (
      SELECT *, row_number() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) AS rn
      FROM pass
    ) WHERE rn = 1
  ), tok AS (
    SELECT doc_id, lang, source,
           unnest(list_distinct(string_split(text, ' '))) AS word
    FROM surv
  ), sizes AS (
    SELECT doc_id, count(*) AS n_words FROM tok GROUP BY doc_id
  ), cand AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
    FROM tok a JOIN tok b
      ON a.word = b.word AND a.lang = b.lang AND a.source = b.source
     AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
  ), edges AS (
    SELECT c.id_a, c.id_b FROM cand c
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    WHERE c.n_common / CAST(sa.n_words + sb.n_words - c.n_common AS DOUBLE)
          >= 0.6
  ), sym AS MATERIALIZED (
    SELECT id_a AS a, id_b AS b FROM edges
    UNION
    SELECT id_b AS a, id_a AS b FROM edges
  ), reach(node, lbl) AS (
    SELECT a, a FROM sym
    UNION
    SELECT s.a, r.lbl FROM sym s JOIN reach r ON s.b = r.node
  ), comp AS (
    SELECT node, min(lbl) AS comp_id FROM reach GROUP BY node
  ), assigned AS (
    SELECT s.doc_id, s.lang, s.source, s.n_chars, s.n_tok,
           coalesce(c.comp_id, s.doc_id) AS comp_id
    FROM surv s LEFT JOIN comp c ON c.node = s.doc_id
  ), canon AS (
    SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY comp_id
                                   ORDER BY n_chars DESC, doc_id) AS rn2
      FROM assigned
    ) WHERE rn2 = 1
  ), bucketed AS (
    SELECT lang, source, n_tok,
           (strpos('0123456789abcdef',
                   substr(md5(CAST(comp_id AS VARCHAR)), 1, 1)) - 1) * 16
           + strpos('0123456789abcdef',
                    substr(md5(CAST(comp_id AS VARCHAR)), 2, 1)) - 1 AS bucket
    FROM canon
  )
  SELECT CASE WHEN bucket < 13 THEN 'val'
              WHEN bucket < 26 THEN 'test'
              ELSE 'train' END AS split,
         lang, source,
         count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens
  FROM bucketed
  GROUP BY 1, lang, source
"""


def gopher_passed(d: DataFrame) -> DataFrame:
    """The five-rule Gopher quality gate (q_quality_gopher's exact
    construction) as a reusable stage: map-only in-doc HOFs, no
    token-stream exchange. Shared by q_pipeline_corpus_build and the
    r11 snapshot-pipeline flagship so both compositions reuse the
    audited gate verbatim. Returns the survivor projection
    (doc_id, lang, source, n_chars, text, n_tok)."""
    toks = F.split("text", " ")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    dis = F.array_distinct("toks")
    m = d.select(
        "doc_id", "lang", "source", "n_chars", "text", toks.alias("toks")
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "text",
        F.size("toks").alias("n_tok"),
        F.size(dis).alias("n_dis"),
        F.size(F.filter(dis, lambda w: F.array_contains(sw, w))).alias("n_stopw"),
        F.array_max(
            F.transform(dis, lambda dd: F.size(F.filter("toks", lambda x: x == dd)))
        ).alias("max_cnt"),
    )
    return m.filter(
        ~((F.col("n_tok") < 20) | (F.col("n_tok") > 90))
        & ~(
            (5 * F.col("n_tok") > F.col("n_chars"))
            | (F.col("n_chars") > 6 * F.col("n_tok"))
        )
        & (F.col("n_stopw") >= 2)
        & (10 * F.col("n_dis") >= 4 * F.col("n_tok"))
        & (8 * F.col("max_cnt") <= F.col("n_tok"))
    ).select("doc_id", "lang", "source", "n_chars", "text", "n_tok")


@register(
    "q_pipeline_corpus_build",
    oracle=_CORPUS_BUILD_ORACLE,
    tags=("pipeline", "llm", "dedup", "split", "iterative"),
)
def pipeline_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE corpus-build pipeline as one exact-oracled job —
    the composition a user of this engine actually ships: Gopher
    quality gate (all five q_quality_gopher rules) -> exact content
    dedup (q_dedup_exact's min-struct survivor) -> near-dup component
    election on the SURVIVOR set (q_dedup_canonical's token
    co-occurrence edges + star contraction, canonicals kept) ->
    leakage-safe component-hash split (q_split_leakage_safe's
    md5-bucket rule) -> per (split, lang, source) token accounting.
    Every stage reuses the registered single-op's exact construction,
    so the end-to-end hash gate proves the STAGES COMPOSE — filters
    feed the dedup key space, dedup feeds the edge graph, components
    feed the split — not just that each works alone.

    Scale shape inherits each stage's audited plan: map-only rule
    evaluation (in-doc HOFs, no token-stream exchange), one
    hash-group dedup shuffle, output-bounded co-occurrence edges
    (never pair enumeration), O(log n) star-contraction rounds,
    per-component election window, map-side bucket CASE, and a final
    bounded rollup. The oracle is the full recursive-CTE chain of the
    five stage oracles spliced on the same intermediate columns."""
    from pyspark.sql.window import Window

    from pypiper_spark.queries.dedup import _HEX, _star_components

    d = load_table(spark, sf_dir, "documents")
    passed = gopher_passed(d)
    surv = (
        passed.groupBy(F.md5(F.col("text").cast("binary")).alias("k"))
        .agg(
            F.min(
                F.struct("doc_id", "lang", "source", "n_chars", "n_tok", "text")
            ).alias("s")
        )
        .select("s.*")
    )
    tok = surv.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    ).select(
        # xxhash64 token compression, same as _jaccard_component_assignment
        "doc_id", "lang", "source", F.xxhash64(F.lit(0), "w").alias("word")
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    a = tok.select(F.col("doc_id").alias("id_a"), "lang", "source", "word")
    b = tok.select(F.col("doc_id").alias("id_b"), "lang", "source", "word")
    cand = (
        a.join(b, ["lang", "source", "word"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    edges = (
        cand.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_words").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_words").alias("nb")),
            "id_b",
        )
        .filter(
            F.col("n_common")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
            >= 0.6
        )
        .select("id_a", "id_b")
    )
    sym = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")).union(
        edges.select(F.col("id_b").alias("a"), F.col("id_a").alias("b"))
    )
    labels, _rounds = _star_components(sym)
    assigned = surv.join(
        labels.withColumnRenamed("node", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "n_tok",
        F.coalesce("lbl", "doc_id").alias("comp_id"),
    )
    w = Window.partitionBy("comp_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    canon = assigned.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    comp_str = "cast(cast(comp_id as string) as binary)"
    bucket = (
        (F.expr(f"instr('{_HEX}', substring(md5({comp_str}), 1, 1))") - 1) * 16
        + F.expr(f"instr('{_HEX}', substring(md5({comp_str}), 2, 1))")
        - 1
    )
    return (
        canon.select(
            F.when(bucket < 13, "val")
            .when(bucket < 26, "test")
            .otherwise("train")
            .alias("split"),
            "lang",
            "source",
            "n_tok",
        )
        .groupBy("split", "lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q_unigram_lm_train: SentencePiece-style unigram language-model
# tokenizer training (Kudo 2018, arXiv:1804.10959) — the third rung of
# the tokenizer family (char BPE, byte BPE, unigram LM). EM over a
# bounded candidate vocabulary: E-step Viterbi-segments every DISTINCT
# word under current piece log-probs (vocab grain, batch-parallel),
# M-step renormalizes piece probabilities from the weighted counts.
# ---------------------------------------------------------------------------

_UNI_SEED_MAX_LEN = 4
_UNI_VOCAB_K = 2000
_UNI_EM_ITERS = 3
_UNI_OUT_K = 50


def _unigram_seed(spark: SparkSession, sf_dir: str):
    """Candidate pieces: every substring of length 1..4 of every
    distinct word, weighted by word frequency; top-K by (weight desc,
    piece asc) UNIONed with all single characters (chars guarantee
    every word stays segmentable — the coverage floor). Substring
    explode runs at vocab grain (distinct words), one corpus pass for
    the word counts — the q_bpe_train scale discipline."""
    words = _word_counts(spark, sf_dir)
    subs = words.select(
        "c",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, {_UNI_SEED_MAX_LEN}),
                     l -> transform(sequence(1, greatest(length(w) - l + 1, 0)),
                          i -> substring(w, i, l))))"""
            )
        ).alias("p"),
    ).groupBy("p").agg(F.sum("c").alias("n"))
    top = subs.orderBy(F.desc("n"), "p").limit(_UNI_VOCAB_K)
    chars = subs.filter(F.length("p") == 1)
    return (
        top.unionByName(chars)
        .groupBy("p")
        .agg(F.max("n").alias("n"))
        .collect()  # bounded: <= _UNI_VOCAB_K + |alphabet| rows — the
        # persisted-model-artifact collect class (IVF centroids rule)
    )


def _viterbi_segment(w: str, logp: dict) -> list[str]:
    """Best segmentation of w under piece log-probs: maximize summed
    logp; ties break toward the LONGER last piece (smaller split
    point), then lexicographically — fully deterministic, replicated
    verbatim by the pure-Python equivalence test."""
    n = len(w)
    best = [0.0] + [float("-inf")] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for j in range(max(0, i - _UNI_SEED_MAX_LEN), i):
            piece = w[j:i]
            lp = logp.get(piece)
            if lp is None:
                continue
            cand = best[j] + lp
            if cand > best[i] or (cand == best[i] and j < back[i]):
                best[i] = cand
                back[i] = j
    if best[n] == float("-inf"):
        return list(w)  # unreachable when all chars are in vocab
    out, i = [], n
    while i > 0:
        out.append(w[back[i]:i])
        i = back[i]
    return out[::-1]


def _learn_unigram(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """EM loop. Per iteration: ONE vocab-grain Arrow pass Viterbi-
    segments every distinct word (piece table rides the closure — a
    bounded model artifact), the weighted piece counts reduce
    distributed, and the <=2k-row count table collects for the
    driver-side renormalization (k bounded collects of a bounded
    model — the sanctioned shape). Returns the final top pieces as
    (rank, piece, weighted_count, score8)."""
    params = f"k={_UNI_VOCAB_K}:iters={_UNI_EM_ITERS}"
    path = path_for("unigram", sf_dir, ("documents",), params)
    return memo(path, lambda: _fit_unigram(spark, sf_dir))


def _fit_unigram(spark: SparkSession, sf_dir: str) -> list[tuple]:
    import math

    from pyspark.sql.functions import pandas_udf

    seed = _unigram_seed(spark, sf_dir)
    total = float(sum(r.n for r in seed))
    logp = {r.p: math.log(r.n / total) for r in seed}

    words = _word_counts(spark, sf_dir).persist()
    counts = None
    for _ in range(_UNI_EM_ITERS):
        frozen = dict(logp)

        @pandas_udf("array<string>")
        def seg(col: pd.Series) -> pd.Series:
            return col.map(lambda w: _viterbi_segment(w, frozen))

        counts = {
            r.p: int(r.n)
            for r in (
                words.select("c", F.explode(seg("w")).alias("p"))
                .groupBy("p")
                .agg(F.sum("c").alias("n"))
                .collect()  # bounded by the candidate vocab size
            )
        }
        tot = float(sum(counts.values()))
        # M-step: pieces that won no segmentation mass drop out
        logp = {p: math.log(n / tot) for p, n in counts.items()}
    words.unpersist()

    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_UNI_OUT_K]
    out = [
        (rank, p, n, int(round(logp[p] * 1e8)))
        for rank, (p, n) in enumerate(ranked, start=1)
    ]
    return out


_UNIGRAM_ORACLE = f"""
  WITH w AS (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ), ww AS (
    SELECT w FROM w WHERE w != '' AND w != '{_BPE_SPECIALS[0]}'
  )
  SELECT count(DISTINCT w) AS n_distinct_words,
         count(*) AS total_word_occurrences,
         TRUE AS n_pieces_ok, TRUE AS counts_bounded_ok,
         TRUE AS scores_negative_ok, TRUE AS prob_mass_ok
  FROM ww
"""


@register(
    "q_unigram_lm_train",
    oracle=_UNIGRAM_ORACLE,
    tags=("llm", "tokenizer", "unigram", "iterative"),
)
def unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (the SentencePiece algorithm's
    EM core): seed a bounded candidate vocabulary from weighted word
    substrings, run 3 EM iterations (vocab-grain Viterbi E-step in
    one Arrow pass per round, distributed count reduce, bounded-model
    renormalize). Registered in DECISION FORM (EM's argmax chains
    round-to-round like BPE's — but unlike BPE's 8 merges the float
    EM is not unrollable into a CTE twin): the hashed output carries
    the exact corpus anchors both engines recompute (distinct-word
    and total word-occurrence counts under the same tokenization) and
    booleans asserting the trained model's invariants —

    - n_pieces_ok: between 1 and _UNI_OUT_K pieces with dense ranks
      (a small corpus can have fewer than 50 surviving pieces — at
      sf0.01 the synthetic vocabulary is 31 distinct words);
    - counts_bounded_ok: every piece's weighted segmentation count
      <= its exact weighted substring-occurrence count in the corpus
      (Viterbi pieces tile the word disjointly, and greedy
      left-to-right matching maximizes disjoint occurrences, so an
      E-step overcount breaks this bound);
    - scores_negative_ok: all final log-probs negative;
    - prob_mass_ok: the top-50's probability mass sums under 1 (the
      model normalizes over the full surviving vocabulary).

    A broken E-step, segmenter or renormalization flips the hash;
    the piece-for-piece pure-Python EM recompute stays in
    tests/test_equivalences.py.

    Scale shape: corpus is touched ONCE (word counts, reused for the
    occurrence bound); everything after runs at vocab grain. The
    candidate table is bounded by construction (top-2k + alphabet) —
    a tokenizer vocab is a model artifact, so its k collects are the
    IVF-centroid class, not a data collect. At 100 TB: same plan,
    bigger _UNI_VOCAB_K; the E-step stays one Arrow pass over
    distinct words per round."""
    rows = _learn_unigram(spark, sf_dir)
    pieces = spark.createDataFrame(
        rows, "rank int, piece string, weighted_count bigint, score8 bigint"
    )
    words = _word_counts(spark, sf_dir)
    wstats = words.agg(
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.sum("c").alias("total_word_occurrences"),
    )
    # exact weighted occurrence count per piece: greedy non-overlapping
    # matches per distinct word (maximal for a single pattern) x word
    # frequency — the upper bound a correct E-step can never exceed
    occ = (
        words.crossJoin(F.broadcast(pieces))
        .select(
            "piece",
            "weighted_count",
            (
                F.col("c")
                * (
                    (F.length("w") - F.length(F.replace(F.col("w"), F.col("piece"))))
                    / F.length("piece")
                )
            ).alias("occ"),
        )
        .groupBy("piece", "weighted_count")
        .agg(F.sum("occ").alias("n_occ"))
    )
    bounded = occ.agg(
        (
            F.min((F.col("weighted_count") <= F.col("n_occ")).cast("int")) == 1
        ).alias("counts_bounded_ok")
    )
    pstats = pieces.agg(
        (
            (F.count(F.lit(1)) >= 1)
            & (F.count(F.lit(1)) <= F.lit(_UNI_OUT_K))
            & (F.min("rank") == 1)
            & (F.max("rank") == F.count(F.lit(1)))
        ).alias("n_pieces_ok"),
        (F.max("score8") < 0).alias("scores_negative_ok"),
        # tolerance must dominate the score8 quantization error: each
        # rounded log-prob contributes up to ~5e-9 relative error, so a
        # |vocab|-piece mass can drift by |vocab|*5e-9 — 1e-7 covers the
        # documented <=50-piece regime with margin (1e-9 did not).
        (F.sum(F.exp(F.col("score8") / 1e8)) <= 1.0 + 1e-7).alias("prob_mass_ok"),
    )
    return (
        wstats.crossJoin(F.broadcast(pstats))
        .crossJoin(F.broadcast(bounded))
        .select(
            "n_distinct_words",
            "total_word_occurrences",
            "n_pieces_ok",
            "counts_bounded_ok",
            "scores_negative_ok",
            "prob_mass_ok",
        )
    )
