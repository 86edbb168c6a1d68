"""L2 text analytics — the reference's a1/a1p2b semantics plus the text
operators an LLM-data pipeline needs (language-ID, quality scoring, token
counting, fingerprinting).

Reference parity:
  * WordCount with in-mapper combining (``Assignment 1/a1p1_ahuja.py:181-192``,
    ``a1p2a_ahuja.py:20``) → t01: Catalyst's partial+final hash agg IS the
    in-mapper combine.
  * SetDifference R−S (``a1p1_ahuja.py:227-239``, ``a1p2a_ahuja.py:34``)
    at word granularity → t02 left-anti join.
  * Industry-mention counts via broadcast dictionary semi-join + composite
    key counts + nested regroup (``Assignment 1/a1p2b_ahuja.py:65-82``)
    → t03/t04. The reference's year-month axis (``a1p2b_ahuja.py:45-46``)
    maps to the documents fixture's ``lang``/``source`` axes (FIXTURES.md B).

Everything is built-in JVM expressions (split/filter/transform/aggregate)
— zero Python UDFs in these paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_analytics_cse545_spark.functions.text import (
    SQL_TOKENS,
    STOPWORDS,
    TOKEN_SPLIT_RE,
    bigrams,
    stopword_count,
    token_count,
    tokens,
)
from big_data_analytics_cse545_spark.sources import load_table, spread_scan

# Small term dictionary for the a1p2b-style mention queries — plays the
# role of the broadcast industry dict (``a1p2b_ahuja.py:95-100``).
TERM_DICT = ("spark", "join", "filter", "window", "stream", "table")


# ---------------------------------------------------------------------------
# t01 — WordCount
# ---------------------------------------------------------------------------

def t01_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive word counts over documents, top-200 by frequency.

    One declarative plan: scan(text) → explode(tokens) → partial+final
    hash agg → distributed top-k. At 100 TB the explode fan-out stays
    pipelined inside whole-stage codegen; no Python boundary.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(200)
    )


_T01_SQL = f"""
SELECT word, COUNT(*) AS n
FROM (SELECT unnest({SQL_TOKENS}) AS word FROM documents)
GROUP BY word
ORDER BY n DESC, word
LIMIT 200
"""


# ---------------------------------------------------------------------------
# t02 — word-level set difference (R − S)
# ---------------------------------------------------------------------------

def t02_word_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word bigrams in 'en' documents that never occur in 'de'.

    Exact SetDifference semantics of ``a1p1_ahuja.py:233-239`` ('in R and
    not in S') as a left-anti join between two exploded distinct sets —
    the scalable form of the reference's shuffle-everything reduce.
    Bigrams (not unigrams) so the sets genuinely differ on the shared-
    vocabulary fixture; also exercises n-gram construction via
    higher-order array functions.
    """
    d = load_table(spark, sf_dir, "documents")
    grams = (
        d.select("lang", tokens(F.col("text")).alias("ts"))
        .select("lang", F.explode(bigrams(F.col("ts"), "_")).alias("bigram"))
    )
    r = grams.filter(F.col("lang") == "en").select("bigram").distinct()
    s = grams.filter(F.col("lang") == "de").select("bigram").distinct()
    return r.join(s, "bigram", "left_anti").orderBy("bigram")


_T02_SQL = f"""
WITH grams AS (
  SELECT lang,
         unnest(list_transform(range(1, len(ts)),
                               i -> ts[i] || '_' || ts[i + 1])) AS bigram
  FROM (SELECT lang, {SQL_TOKENS} AS ts FROM documents)
),
r AS (SELECT DISTINCT bigram FROM grams WHERE lang = 'en'),
s AS (SELECT DISTINCT bigram FROM grams WHERE lang = 'de')
SELECT bigram FROM r
WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.bigram = r.bigram)
ORDER BY bigram
"""


# ---------------------------------------------------------------------------
# t03 — dictionary-mention counts (broadcast semi-join)
# ---------------------------------------------------------------------------

def t03_term_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mentions of dictionary terms per (term, lang) — a1p2b's industry
    query (``a1p2b_ahuja.py:65-82``): tokenize at word boundaries, keep
    only dictionary words, count per composite key.

    Plan choice: the dict is a literal handful of terms, so an IN-list
    predicate beats a broadcast semi-join (~2.5× here — no build side,
    and Catalyst folds it into the explode's filter). For a table-valued
    dictionary the broadcast-join spelling is
    ``words.join(F.broadcast(dict_df), "word", "left_semi")`` — the form
    q02/q08/t-series use for real dimension tables (the reference ships
    its dict in a closure instead, SURVEY §2.4 I26).
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select("lang", F.explode(tokens(F.col("text"))).alias("word"))
    return (
        words.filter(F.col("word").isin(*TERM_DICT))
        .groupBy("word", "lang")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .orderBy("word", "lang")
    )


_T03_SQL = f"""
SELECT word, lang, COUNT(*) AS n_mentions
FROM (SELECT lang, unnest({SQL_TOKENS}) AS word FROM documents)
WHERE word IN {TERM_DICT!r}
GROUP BY word, lang
ORDER BY word, lang
"""


# ---------------------------------------------------------------------------
# t04 — nested re-aggregation (a1p2b output shape)
# ---------------------------------------------------------------------------

def t04_term_mentions_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation to the reference's nested output shape
    ``(industry, ((ym, count), ...))`` (``a1p2b_ahuja.py:82``): counts per
    (term, lang), re-grouped per term into a sorted, string-encoded list
    (string-encoded so the DuckDB oracle hash is representation-stable).
    """
    per_lang = t03_term_mentions(spark, sf_dir)
    return (
        per_lang.groupBy("word")
        .agg(
            F.array_join(
                F.sort_array(
                    # coalesce before encoding: concat_ws silently SKIPS
                    # a NULL lang ("43") while SQL || nulls the entry —
                    # an empty-label bucket is the explicit twin shape
                    F.collect_list(
                        F.concat_ws(
                            ":", F.coalesce(F.col("lang"), F.lit("")), F.col("n_mentions")
                        )
                    )
                ),
                ",",
            ).alias("lang_counts"),
            F.sum("n_mentions").alias("total_mentions"),
        )
        .orderBy("word")
    )


_T04_SQL = f"""
WITH per_lang AS (
  SELECT word, lang, COUNT(*) AS n_mentions
  FROM (SELECT lang, unnest({SQL_TOKENS}) AS word FROM documents)
  WHERE word IN {TERM_DICT!r}
  GROUP BY word, lang
)
SELECT word,
       string_agg(coalesce(lang, '') || ':' || n_mentions, ','
                  ORDER BY coalesce(lang, '') || ':' || n_mentions) AS lang_counts,
       CAST(SUM(n_mentions) AS BIGINT) AS total_mentions
FROM per_lang
GROUP BY word
ORDER BY word
"""


# ---------------------------------------------------------------------------
# t05 — language-ID heuristic (stopword-ratio n-gram-free variant)
# ---------------------------------------------------------------------------

def t05_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: English-stopword token share ≥ 5% → 'en_like'.

    LLM-pipeline text-analysis operator (north star, BASELINE.json):
    pure column expressions — filter over the token array, no UDF —
    compared per labelled lang so the confusion table is the output.
    """
    d = load_table(spark, sf_dir, "documents")
    # try_divide: a zero-token doc has an undefined ratio -> NULL -> the
    # 'other' branch on both engines (DuckDB x/0 is NULL; ANSI Spark /
    # would THROW on the whole job for one empty page)
    ratio = F.try_divide(stopword_count(tokens(F.col("text"))), token_count(F.col("text")))
    guess = F.when(ratio >= 0.05, F.lit("en_like")).otherwise(F.lit("other"))
    return (
        d.select("lang", guess.alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "guess")
    )


_T05_SQL = f"""
WITH toks AS (SELECT lang, {SQL_TOKENS} AS ts FROM documents),
scored AS (
  SELECT lang,
         CASE WHEN len(list_filter(ts, t -> t IN {STOPWORDS!r}))
                   / CAST(len(ts) AS DOUBLE) >= 0.05
              THEN 'en_like' ELSE 'other' END AS guess
  FROM toks
)
SELECT lang, guess, COUNT(*) AS n_docs
FROM scored GROUP BY lang, guess ORDER BY lang, guess
"""


# ---------------------------------------------------------------------------
# t06 — document quality scoring
# ---------------------------------------------------------------------------

def t06_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics → bucketed histogram.

    Length / mean-token-length / stopword-ratio features (the classic
    pre-training quality filters) as pure expressions; the final
    histogram keeps the output small and hash-stable at any scale.
    A binding of :func:`api.quality_score`: documents without tokens
    score NULL and land in the NULL bucket.
    """
    from big_data_analytics_cse545_spark import api

    d = load_table(spark, sf_dir, "documents")
    return (
        api.quality_score(d, "text")
        .select(F.floor(F.col("quality") * 10).cast("int").alias("q_bucket"))
        .groupBy("q_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("q_bucket")
    )


_T06_SQL = f"""
WITH toks AS (SELECT {SQL_TOKENS} AS ts FROM documents),
m AS (
  SELECT
    len(ts) AS n_tok,
    list_sum(list_transform(ts, t -> length(t))) / CAST(len(ts) AS DOUBLE) AS mean_len,
    len(list_filter(ts, t -> t IN {STOPWORDS!r})) / CAST(len(ts) AS DOUBLE) AS stop_ratio
  FROM toks
)
SELECT CAST(FLOOR(CASE WHEN n_tok > 0 THEN (
         LEAST(n_tok / 100.0, 1.0) * 0.5
       + LEAST(stop_ratio / 0.1, 1.0) * 0.3
       + LEAST(mean_len / 6.0, 1.0) * 0.2) END * 10) AS INT) AS q_bucket,
       COUNT(*) AS n_docs
FROM m GROUP BY 1 ORDER BY q_bucket
"""


# ---------------------------------------------------------------------------
# t07 — token counting (whitespace + BPE-ish subword estimate)
# ---------------------------------------------------------------------------

def t07_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-token and BPE-ish subword counts per source.

    Subword estimate: each word contributes ceil(len/4) tokens (the
    ~4-chars-per-BPE-token rule of thumb), computed with higher-order
    array functions — integer arithmetic only, so the oracle matches
    exactly.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    bpe = F.aggregate(
        F.transform(toks, lambda t: (F.length(t) + 3).cast("long") / F.lit(4)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.floor(x).cast("long"),
    )
    return (
        d.select("source", F.size(toks).alias("n_ws"), bpe.alias("n_bpe"))
        .groupBy("source")
        .agg(
            F.sum("n_ws").alias("ws_tokens"),
            F.sum("n_bpe").alias("bpe_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


_T07_SQL = f"""
WITH toks AS (SELECT source, {SQL_TOKENS} AS ts FROM documents)
SELECT source,
       CAST(SUM(len(ts)) AS BIGINT) AS ws_tokens,
       CAST(SUM(list_sum(list_transform(ts, t -> (length(t) + 3) // 4))) AS BIGINT) AS bpe_tokens,
       COUNT(*) AS n_docs
FROM toks GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# t08 — document fingerprinting
# ---------------------------------------------------------------------------

def t08_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints: full-text md5 + first-8-token prefix md5.

    The dedup key primitive (rolling-hash analog of the reference's
    md5 signatures, ``Assignment 2/a2_ahuja.py:99-120``). Output is the
    fingerprint table head — doc_id ordered, 100 rows — so it stays
    hash-stable while exercising the full scan.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return (
        d.select(
            "doc_id",
            F.md5(F.lower(F.col("text"))).alias("full_md5"),
            F.md5(F.array_join(F.slice(toks, 1, 8), " ")).alias("prefix_md5"),
        )
        .orderBy("doc_id")
        .limit(100)
    )


_T08_SQL = f"""
WITH toks AS (SELECT doc_id, text, {SQL_TOKENS} AS ts FROM documents)
SELECT doc_id,
       md5(lower(text)) AS full_md5,
       md5(CASE WHEN text IS NULL THEN NULL
            ELSE coalesce(array_to_string(list_slice(ts, 1, 8), ' '), '')
            END) AS prefix_md5
FROM toks ORDER BY doc_id LIMIT 100
"""


# ---------------------------------------------------------------------------
# t09 — pseudo-XML record extraction (R10/R11, the a1p2b parser)
# ---------------------------------------------------------------------------

def t09_pseudo_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerant pseudo-XML record extraction — the a1p2b blog parser
    (``a1p2b_ahuja.py:20-61``: hand-rolled scanner pairing each <date>
    with the following <post>) as JVM expressions.

    The corpus is synthesized in-query (documents have no XML): each doc
    becomes '<date>DD,Month,YYYY</date><post>text…</post>' blocks with a
    deterministic date derived from doc_id. Extraction is
    regexp_extract_all × 2 + arrays_zip + explode (UDTF-shape fan-out,
    no Python), then the reference's date normalization
    (``a1p2b_ahuja.py:45-46``) with real date types, and posts-per-month
    counts.
    """
    d = load_table(spark, sf_dir, "documents")
    # deterministic synthetic date: month/day from doc_id
    raw = d.select(
        "doc_id",
        F.concat(
            F.lit("<date>"),
            F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"),
            F.lit(",January,2024</date><post>"),
            F.substring(F.col("text"), 1, 40),
            F.lit("</post><date>"),
            F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0"),
            F.lit(",February,2024</date><post>"),
            F.substring(F.col("text"), 41, 40),
            F.lit("</post>"),
        ).alias("raw_xml"),
    )
    extracted = raw.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.expr(r"regexp_extract_all(raw_xml, '<date>([^<]*)</date>', 1)").alias("d"),
                F.expr(r"regexp_extract_all(raw_xml, '<post>([^<]*)</post>', 1)").alias("p"),
            )
        ).alias("rec"),
    ).select(
        "doc_id",
        F.col("rec.d").alias("date_str"),
        F.col("rec.p").alias("post"),
    )
    ym = F.date_format(F.to_date(F.col("date_str"), "dd,MMMM,yyyy"), "yyyy-MM")
    return (
        extracted.filter(F.length("post") > 0)
        .select(ym.alias("year_month"), "post")
        .groupBy("year_month")
        .agg(
            F.count(F.lit(1)).alias("n_posts"),
            F.sum(F.length("post")).alias("total_chars"),
        )
        .orderBy("year_month")
    )


_T09_SQL = """
WITH raw AS (
  SELECT doc_id,
         '<date>' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
         || ',January,2024</date><post>' || substring(text, 1, 40)
         || '</post><date>' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
         || ',February,2024</date><post>' || substring(text, 41, 40)
         || '</post>' AS raw_xml
  FROM documents
),
recs AS (
  SELECT doc_id,
         unnest(regexp_extract_all(raw_xml, '<date>([^<]*)</date>', 1)) AS date_str,
         unnest(regexp_extract_all(raw_xml, '<post>([^<]*)</post>', 1)) AS post
  FROM raw
)
SELECT strftime(strptime(date_str, '%d,%B,%Y'), '%Y-%m') AS year_month,
       COUNT(*) AS n_posts,
       CAST(SUM(length(post)) AS BIGINT) AS total_chars
FROM recs
WHERE length(post) > 0
GROUP BY 1 ORDER BY year_month
"""


# ---------------------------------------------------------------------------
# t10 — whole-file read of real pseudo-XML files (R9, a1p2b_ahuja.py:8-17)
# ---------------------------------------------------------------------------

N_WHOLETEXT_FILES = 8


def _wholetext_dir() -> str:
    """Deterministic fixture: 8 small pseudo-XML blog files, written
    atomically on FIRST USE (unique temp dir + os.replace — no reader
    can observe a half-written directory, and nothing is written at
    module import)."""
    import os

    from big_data_analytics_cse545_spark.sources.fixtures import ensure_fixture_dir

    def write(tmp: str) -> None:
        for i in range(N_WHOLETEXT_FILES):
            blocks = []
            for j in range(1 + i % 3):
                day = (i * 7 + j) % 28 + 1
                blocks.append(
                    f"<date>{day:02d},March,2024</date>"
                    f"<post>{'file%d post%d ' % (i, j) * (j + 1)}</post>"
                )
            with open(os.path.join(tmp, f"blog{i:02d}.xml"), "w") as f:
                f.write("\n".join(blocks))

    return ensure_fixture_dir("spark_graft_wholetext_v2", write)


def t10_wholetext_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file lenient read of REAL pseudo-XML files — the reference
    reads each blog file as one string and scans it by hand
    (``a1p2b_ahuja.py:8-17``); here ``spark.read.text(wholetext=true)``
    yields one row per file (Spark parallelizes listing + reads), the
    file name comes from ``input_file_name()`` (I2), and extraction is
    the same regexp/arrays_zip fan-out as t09. Fixture size is fixed —
    the source path is the point; the oracle reads the same files with
    DuckDB's read_text().
    """
    d = _wholetext_dir()
    raw = (
        spark.read.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.xml")
        .load(d)
        .select(
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.xml", 1).alias("file"),
            F.col("value").alias("raw_xml"),
        )
    )
    recs = raw.select(
        "file",
        F.explode(
            F.arrays_zip(
                F.expr(r"regexp_extract_all(raw_xml, '<date>([^<]*)</date>', 1)").alias("d"),
                F.expr(r"regexp_extract_all(raw_xml, '<post>([^<]*)</post>', 1)").alias("p"),
            )
        ).alias("rec"),
    ).select("file", F.col("rec.d").alias("date_str"), F.col("rec.p").alias("post"))
    return (
        recs.groupBy("file")
        .agg(
            F.count(F.lit(1)).alias("n_posts"),
            F.date_format(
                F.min(F.to_date("date_str", "dd,MMMM,yyyy")), "yyyy-MM-dd"
            ).alias("first_date"),
            F.sum(F.length("post")).alias("total_chars"),
        )
        .orderBy("file")
    )


def _t10_sql() -> str:
    # called lazily (ORACLE stores the callable) — the fixture write
    # happens at first query/oracle use, not at module import
    d = _wholetext_dir()
    return f"""
WITH raw AS (
  SELECT regexp_extract(filename, '([^/]+)\\.xml', 1) AS file, content AS raw_xml
  FROM read_text('{d}/*.xml')
),
recs AS (
  SELECT file,
         unnest(regexp_extract_all(raw_xml, '<date>([^<]*)</date>', 1)) AS date_str,
         unnest(regexp_extract_all(raw_xml, '<post>([^<]*)</post>', 1)) AS post
  FROM raw
)
SELECT file,
       COUNT(*) AS n_posts,
       strftime(MIN(strptime(date_str, '%d,%B,%Y')), '%Y-%m-%d') AS first_date,
       CAST(SUM(length(post)) AS BIGINT) AS total_chars
FROM recs GROUP BY file ORDER BY file
"""


# ---------------------------------------------------------------------------
# t11 — PII scrubbing (training-data redaction)
# ---------------------------------------------------------------------------

# Patterns restricted to syntax Java (Spark) and RE2 (DuckDB) treat
# identically: character classes, bounded repeats, \b — no lookarounds.
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_MOD = 7  # docs with doc_id % 7 == 0 get deterministic planted PII


def pii_scrub_col(col):
    """Redact emails → <EMAIL>, IPv4 → <IP>, phones → <PHONE> (email
    first: its local part could otherwise swallow a digit run)."""
    out = F.regexp_replace(col, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IP, "<IP>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def t11_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the corpus — the scrub step of a
    training-data pipeline. The synthetic documents carry no organic
    PII, so a deterministic contact line is planted on every PII_MOD-th
    doc IN THE QUERY (both engines plant the identical string); output =
    per-doc match counts and the md5 of the scrubbed text, which proves
    the redaction is byte-identical between Spark and the oracle.

    All JVM-side regexp expressions (one pass per pattern, no UDF): at
    100 TB this is a narrow map stage — no shuffle at all until the
    final order, which a real pipeline (write-back) wouldn't have.
    """
    d = load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com via 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1 or 555-867-5309"),
    )
    t = F.when(F.col("doc_id") % PII_MOD == 0, planted).otherwise(F.col("text"))
    n = lambda pat: F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).cast("bigint")  # noqa: E731
    return (
        d.select(
            "doc_id",
            n(PII_EMAIL).alias("n_emails"),
            n(PII_IP).alias("n_ips"),
            n(PII_PHONE).alias("n_phones"),
            F.md5(pii_scrub_col(t)).alias("scrub_md5"),
        )
        .filter((F.col("n_emails") + F.col("n_ips") + F.col("n_phones")) > 0)
        .orderBy("doc_id")
    )


_T11_SQL = f"""
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % {PII_MOD} = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com via 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                   || '.1 or 555-867-5309'
              ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{PII_EMAIL}', 0)) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{PII_IP}', 0)) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(t, '{PII_PHONE}', 0)) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '{PII_EMAIL}', '<EMAIL>', 'g'), '{PII_IP}', '<IP>', 'g'),
           '{PII_PHONE}', '<PHONE>', 'g')) AS scrub_md5
FROM injected
WHERE len(regexp_extract_all(t, '{PII_EMAIL}', 0))
    + len(regexp_extract_all(t, '{PII_IP}', 0))
    + len(regexp_extract_all(t, '{PII_PHONE}', 0)) > 0
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t12 — sequence packing (concatenate-and-chunk into context windows)
# ---------------------------------------------------------------------------

PACK_LEN = 512  # context-window size in whitespace tokens


def t12_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, the batching step of an LLM training pipeline:
    per source, documents are laid out in doc_id order as one token
    stream cut into PACK_LEN-token windows; a document belongs to the
    pack where its first token lands (concatenate-and-chunk semantics).
    Output: per (source, pack_id) document/token counts.

    Shape at scale: ONE running-sum window per stream key — each source
    packs independently in its own partition, no cross-stream shuffle.
    At 100 TB pick a finer stream key ((source, day)) so no single
    window partition is unbounded; packing quality is unchanged because
    packs never span stream keys anyway. A binding of
    :func:`api.pack_sequences`.
    """
    from big_data_analytics_cse545_spark import api

    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "source",
        "doc_id",
        "text",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    return (
        api.pack_sequences(per, "text", "doc_id", "source", max_len=PACK_LEN)
        .groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source", "pack_id")
    )


_T12_SQL = f"""
WITH per AS (
  SELECT source, doc_id, CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tok
  FROM documents
),
packed AS (
  SELECT source, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM per
)
SELECT source,
       CAST((cum - n_tok) // {PACK_LEN} AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc
FROM packed
GROUP BY 1, 2
ORDER BY source, pack_id
"""


# ---------------------------------------------------------------------------
# t13 — intra-document repetition signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------

DUP_TOKEN_MAX = 0.6  # repetitive if >60% of tokens are repeats
TOP_BIGRAM_MAX = 0.25  # ... or one bigram is >25% of all bigrams


def t13_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals, the Gopher/MassiveText quality
    rules (Rae et al. 2021, §A1.1): duplicate-token fraction
    (1 - distinct/total) and top-bigram fraction (most frequent bigram's
    share of all bigrams), plus the combined repetitive flag.

    A binding of :func:`api.repetition_signals` (per-row array
    expressions, no shuffle; the top-bigram count sorts the row's
    bigrams, so cost is O(n log n) in a document's length) plus the
    token count and the flag.
    """
    from big_data_analytics_cse545_spark import api

    d = load_table(spark, sf_dir, "documents")
    dup_frac, top_frac = F.col("dup_token_frac"), F.col("top_bigram_frac")
    return (
        api.repetition_signals(d, "text")
        .select(
            "doc_id",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
            dup_frac,
            top_frac,
            ((dup_frac > DUP_TOKEN_MAX) | (top_frac > TOP_BIGRAM_MAX)).alias(
                "repetitive"
            ),
        )
        .orderBy("doc_id")
    )


_T13_SQL = f"""
WITH base AS (
  SELECT doc_id, ts, len(ts) AS n_tok, len(list_distinct(ts)) AS n_distinct,
         list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1]) AS bigrams
  FROM (SELECT doc_id, {SQL_TOKENS} AS ts FROM documents)
),
top AS (
  SELECT doc_id, MAX(c) AS top_n
  FROM (
    SELECT doc_id, bg, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(bigrams) AS bg FROM base)
    GROUP BY doc_id, bg
  )
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_tok AS BIGINT) AS n_tok,
       1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE) AS dup_token_frac,
       coalesce(CAST(top_n AS DOUBLE) / CAST(n_tok - 1 AS DOUBLE), 0.0) AS top_bigram_frac,
       (1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE) > {DUP_TOKEN_MAX}
        OR coalesce(CAST(top_n AS DOUBLE) / CAST(n_tok - 1 AS DOUBLE), 0.0) > {TOP_BIGRAM_MAX})
         AS repetitive
FROM base b LEFT JOIN top USING (doc_id)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t14 — corpus-frequency document scoring (two-pass dictionary pattern)
# ---------------------------------------------------------------------------

def t14_corpus_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document by the corpus frequency of its own tokens —
    the unigram-LM proxy for 'how typical is this text' that data
    pipelines use to flag boilerplate (high mass) and gibberish (low
    mass). Pass 1 builds the corpus unigram table; pass 2 joins it back
    to each document's tokens and sums.

    Stays in integers until the final division (freq_mass and n_tok are
    exact counts), so the oracle compare has no float-summation hazard.

    Shape at scale: the vocab join runs on the PRE-AGGREGATED
    (doc_id, word, tf) relation, not the raw per-occurrence explosion —
    grouping first is bit-identical (freq_mass = Σ tf·cnt,
    n_tok = Σ tf are the same exact integer sums) and shrinks the
    shuffled join input from every token occurrence to the distinct
    (doc, word) pairs, i.e. by the average term frequency — which is
    precisely largest on the Zipf-hot stopword keys that make the
    naive join skew (round-6 review; t21's hits stage is the same
    pattern). AQE's skew split still covers the residual hot keys;
    a known-small vocab collapses to a broadcast (Catalyst decides
    from stats). All passes are partial+final aggs.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
    doc_tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    vocab = doc_tf.groupBy("word").agg(F.sum("tf").alias("cnt"))
    return (
        doc_tf.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tok"),
            F.sum(F.col("tf") * F.col("cnt")).alias("freq_mass"),
        )
        .withColumn(
            "avg_tok_freq",
            F.col("freq_mass").cast("double") / F.col("n_tok").cast("double"),
        )
        .orderBy("doc_id")
    )


_T14_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS word FROM documents
),
vocab AS (
  SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word
)
SELECT t.doc_id,
       COUNT(*) AS n_tok,
       CAST(SUM(v.cnt) AS BIGINT) AS freq_mass,
       CAST(CAST(SUM(v.cnt) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS avg_tok_freq
FROM tok t JOIN vocab v USING (word)
GROUP BY t.doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t15 — winnowing fingerprints (substring-level dup candidates)
# ---------------------------------------------------------------------------

WINNOW_K = 5       # tokens per k-gram
WINNOW_W = 4       # winnowing window (guarantee threshold t = K + W - 1)
WINNOW_MAX_DF = 20  # suppress fingerprints shared by more docs (boilerplate)
WINNOW_MIN_SHARED = 2  # pairs must share ≥ this many fingerprints


def t15_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplicate candidates via winnowing (Schleimer,
    Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD'03) — the fingerprint family t08's whole-doc
    hashes can't provide: any shared token run of length ≥ K+W-1 is
    GUARANTEED to produce a shared fingerprint, so copied passages
    surface even when the surrounding document differs (the case MinHash
    d03 dilutes away: whole-doc Jaccard of one stolen paragraph in a
    long doc is tiny).

    Formulated ROW-wise on purpose: posexplode tokens, build each
    K-gram with ``lead()`` over (doc_id, pos), frame-``min`` each
    W-window of gram hashes, distinct the selected mins. The obvious
    nested-array spelling (transform over sequence with slice) is a
    trap: CollapseProject inlines the tokenizer and the whole gram
    array into EVERY downstream lambda element, re-running the regex
    and O(T) md5s per window — O(T²) work per doc (measured 109s vs 6s
    at sf0.01). Window functions materialize each stage once and stay
    inside whole-stage codegen.

    Pair generation is bucket-local, never a fingerprint self-join:
    group by fp, drop boilerplate buckets (doc-frequency >
    WINNOW_MAX_DF — both the standard relevance move and the skew
    guard), emit ordered pairs from each ≤MAX_DF-doc bucket with one
    nested transform over a tiny array. The shuffle carries (32-char
    hash, doc_id) only; fan-out per fingerprint is bounded by MAX_DF².
    At 100 TB this is the d03 shape — bucketed, quadratic only within
    a bounded bucket — and the expensive fingerprint extraction runs
    exactly once (the old self-join re-ran it on both sides).
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        winnow_bucket_pairs(winnow_fingerprints(winnow_gram_relation(d)))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .orderBy("d1", "d2")
    )


def winnow_gram_relation(d: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, pos, gh): md5 of the K-token gram starting at each token
    position — the ROW-wise formulation t15's docstring motivates (the
    nested-array spelling is O(T²) under CollapseProject; measured 109s
    vs 6s at sf0.01). Shared by t15's fingerprint funnel and d13's
    exact-substring span confirm (operators/dedup.py), which needs the
    SAME gram relation twice: winnow-selected for candidates, full for
    the diagonal merge."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    toks = spread_scan(d, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    return (
        toks.withColumn(
            "gh",
            # full grams only: the K-1 lookahead is NULL in the tail
            F.when(
                F.lead("tok", WINNOW_K - 1).over(w).isNotNull(),
                F.md5(
                    F.concat_ws(
                        " ",
                        *([F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, WINNOW_K)]),
                    )
                ),
            ),
        )
        .filter(F.col("gh").isNotNull())
        .select("doc_id", "pos", "gh")
    )


def winnow_fingerprints(grams: DataFrame) -> DataFrame:
    """(doc_id, fp): the winnowing-selected fingerprint set — min gram
    hash of each W-window, distinct per doc (SIGMOD'03 guarantee: any
    shared token run of length ≥ K+W-1 yields a shared fp)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        grams.withColumn("_wend", F.lead("gh", WINNOW_W - 1).over(w))
        .withColumn("fp", F.min("gh").over(w.rowsBetween(0, WINNOW_W - 1)))
        .filter(F.col("_wend").isNotNull())
        .select("doc_id", "fp")
        .distinct()
    )


def winnow_bucket_pairs(fps: DataFrame) -> DataFrame:
    """Ordered candidate pairs (d1 < d2), one row per shared rare
    fingerprint — bucket-local generation, never a fingerprint
    self-join: group by fp, drop boilerplate buckets (doc-frequency >
    WINNOW_MAX_DF — both the standard relevance move and the skew
    guard), emit pairs from each ≤MAX_DF-doc bucket with one nested
    transform over a tiny array. The shuffle carries (32-char hash,
    doc_id) only; fan-out per fingerprint is bounded by MAX_DF²."""
    buckets = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= WINNOW_MAX_DF))
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds)), "
                    "y -> struct(x AS d1, y AS d2))))"
                )
            ).alias("p")
        )
        .select("p.d1", "p.d2")
    )


_T15_SQL = f"""
WITH big AS (
  SELECT doc_id, {SQL_TOKENS} AS ts FROM documents
  WHERE len({SQL_TOKENS}) >= {WINNOW_K + WINNOW_W - 1}
),
kg AS (
  SELECT doc_id,
         list_transform(range(0, len(ts) - {WINNOW_K} + 1),
           i -> md5(array_to_string(list_slice(ts, i + 1, i + {WINNOW_K}), ' '))) AS kgs
  FROM big
),
fps AS (
  SELECT doc_id,
         list_distinct(list_transform(range(0, len(kgs) - {WINNOW_W} + 1),
           j -> list_aggregate(list_slice(kgs, j + 1, j + {WINNOW_W}), 'min'))) AS sel
  FROM kg
),
fp AS (SELECT doc_id, unnest(sel) AS fp FROM fps),
rare AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= {WINNOW_MAX_DF})
SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
FROM (SELECT * FROM fp JOIN rare USING (fp)) a
JOIN (SELECT * FROM fp JOIN rare USING (fp)) b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY d1, d2
HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
ORDER BY d1, d2
"""


# ---------------------------------------------------------------------------
# t16 — HTML boilerplate strip over real .html files
# ---------------------------------------------------------------------------

N_HTML_FILES = 24


def _html_dir() -> str:
    """Fixture: N_HTML_FILES small HTML pages with the boilerplate a web
    crawl actually carries — <script>/<style> blocks, nav/footer chrome,
    escaped entities — wrapped around deterministic body text. Written
    atomically on first use (ensure_fixture_dir)."""
    import os

    from big_data_analytics_cse545_spark.sources.fixtures import ensure_fixture_dir

    def write(tmp: str) -> None:
        for i in range(N_HTML_FILES):
            words = " ".join(f"word{(i * 7 + j) % 13}" for j in range(10 + i % 9))
            page = (
                f"<html><head><title>Page {i}</title>\n"
                "<style>body { margin: 0; color: #222; }</style>\n"
                f"<script>var page = {i}; if (page < 99) loadAds();</script>\n"
                "</head><body>\n"
                '<nav><a href="/home">Home</a> | <a href="/about">About</a></nav>\n'
                f"<h1>Doc {i}</h1>\n"
                f"<p>{words}</p>\n"
                f"<p>fish &amp; chips &lt;tag&gt; &quot;quoted&quot; page{i}</p>\n"
                "<footer>&copy; 2026 Example Corp</footer>\n"
                "</body></html>\n"
            )
            with open(os.path.join(tmp, f"page{i:02d}.html"), "w") as f:
                f.write(page)

    return ensure_fixture_dir("spark_graft_html_v1", write)


# The strip chain, shared verbatim between the Spark and DuckDB twins.
# Order matters: script/style bodies first (their CONTENT must go, not
# just their tags), then remaining tags, then entity unescape with
# &amp; strictly last (else '&amp;lt;' would double-decode).
_HTML_STEPS: tuple[tuple[str, str], ...] = (
    (r"(?s)<script[^>]*>.*?</script>", " "),
    (r"(?s)<style[^>]*>.*?</style>", " "),
    (r"<[^>]*>", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", '"'),
    (r"&#39;", "'"),
    (r"&copy;", "(c)"),
    (r"&nbsp;", " "),
    (r"&amp;", "&"),
)


def t16_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal — the first transform of any web-crawl
    pipeline: drop <script>/<style> bodies, strip tags, unescape
    entities, collapse whitespace; report the clean text and its token
    count per page.

    All JVM-side ``regexp_replace`` — the whole strip is one narrow
    projection fused into the file scan (no Python, no shuffle; at
    100 TB this runs at scan speed and the only shuffle is the final
    result-sized sort). The oracle applies the identical RE2-safe chain
    via DuckDB over the very same files.
    """
    d = _html_dir()
    raw = (
        spark.read.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.html")
        .load(d)
        .select(
            F.regexp_extract(F.input_file_name(), r"([^/]+)\.html", 1).alias("file"),
            F.col("value").alias("html"),
        )
    )
    clean = F.col("html")
    for pat, rep in _HTML_STEPS:
        clean = F.regexp_replace(clean, pat, rep)
    clean = F.trim(F.regexp_replace(clean, r"\s+", " "))
    return (
        raw.select(
            "file",
            clean.alias("text"),
            F.size(F.split(clean, r"\s+")).cast("long").alias("n_tok"),
        )
        .orderBy("file")
    )


def _t16_sql() -> str:
    d = _html_dir()
    steps = "content"
    for pat, rep in _HTML_STEPS:
        pat_sql = pat.replace("'", "''")
        rep_sql = rep.replace("'", "''")
        steps = f"regexp_replace({steps}, '{pat_sql}', '{rep_sql}', 'g')"
    steps = f"trim(regexp_replace({steps}, '\\s+', ' ', 'g'))"
    return f"""
WITH raw AS (
  SELECT regexp_extract(filename, '([^/]+)\\.html', 1) AS file,
         {steps} AS text
  FROM read_text('{d}/*.html')
)
SELECT file, text,
       CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tok
FROM raw
ORDER BY file
"""


# ---------------------------------------------------------------------------
# t17 — overlapping token-window chunking (RAG / context-window prep)
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 32  # window size W
CHUNK_STRIDE = 24  # stride S (overlap = W - S = 8 tokens)


def t17_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_analytics_cse545_spark import api

    d = load_table(spark, sf_dir, "documents")
    return api.chunk_documents(
        d, "text", "doc_id", chunk_tokens=CHUNK_TOKENS, stride=CHUNK_STRIDE
    ).orderBy("doc_id", "chunk_idx")


# assigned after the def: a formatted string literal in docstring
# position is an expression, not a docstring — __doc__ would be None
t17_chunk_overlap.__doc__ = """Split every document into overlapping
    token windows (W={W}, stride={S}) — the chunking step feeding
    embedding/RAG indexes and fixed-context training examples.

    Pure JVM higher-order expressions: ``sequence`` builds the chunk
    starts, ``transform``+``slice`` cuts the windows, ``posexplode``
    fans out 1→⌈n/S⌉ — no Python boundary, and the fan-out is a narrow
    per-row operation (Spark's UDTF shape, same family as the
    reference's per-file record extraction ``a1p2b_ahuja.py:30-41``).
    At 100 TB: chunking shuffles nothing; output partitioning inherits
    the scan, and downstream dedup/embedding stages key on chunk ids.

    A binding of :func:`api.chunk_documents`, so the oracle checks the
    function users call.
    """.format(W=CHUNK_TOKENS, S=CHUNK_STRIDE)


_T17_SQL = f"""
WITH base AS (
  SELECT doc_id,
         {SQL_TOKENS} AS toks
  FROM documents
  WHERE text IS NOT NULL
),
starts AS (
  SELECT doc_id, toks,
         unnest(range(0, CASE WHEN len(toks) = 0 THEN 1 ELSE len(toks) END,
                      {CHUNK_STRIDE})) AS st
  FROM base
),
chunks AS (
  SELECT doc_id,
         CAST(st / {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
         list_slice(toks, st + 1, st + {CHUNK_TOKENS}) AS chunk
  FROM starts
)
SELECT doc_id, chunk_idx,
       CAST(len(chunk) AS BIGINT) AS n_chunk_tok,
       coalesce(array_to_string(chunk, ' '), '') AS chunk_text
FROM chunks
ORDER BY doc_id, chunk_idx
"""


# ---------------------------------------------------------------------------
# t18 — URL canonicalization + URL-level dedup
# ---------------------------------------------------------------------------

def t18_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup after canonicalization — the cheapest dedup in a
    crawl pipeline (no page content needed): raw URLs varying only in
    case, default port, ``www.``, tracking params, param order, or
    fragment collapse to one canonical form, and re-crawled variants
    group together.

    The documents table has no URL column, so each doc derives a
    deterministic *messy* URL (mixed case, ``:443``, unordered params,
    ``utm_``/``gclid`` noise, fragment) from its own fields — the
    canonicalizer (``functions/url.py``, pure JVM expressions with a
    rule-for-rule DuckDB twin) is the operator under test; the URL
    construction is just reproducible input. Output: one row per
    canonical URL with how many docs and how many distinct raw variants
    it absorbed.

    At 100 TB: canonicalization is stage-local string work inside
    whole-stage codegen; the groupBy shuffles only (url, doc_id)-sized
    rows keyed by canonical URL — hot hosts do not skew it because the
    key is the full URL. This is the operator to run BEFORE content
    dedup (d01/d03): every URL-dup dropped here saves fetching/hashing
    its text downstream.
    """
    from big_data_analytics_cse545_spark.functions.url import canonical_url

    d = load_table(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://WWW."),
            F.col("source"),
            F.lit(".Example.COM:443/wiki/Page_"),
            (F.col("doc_id") % 40).cast("string"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("?b=2&utm_source=feed&a=1")
            ).otherwise(F.lit("?a=1&b=2&gclid=xyz")),
            F.lit("#sec"),
            (F.col("doc_id") % 3).cast("string"),
        ).alias("url"),
    )
    return (
        raw.select("doc_id", "url", canonical_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_raw_variants"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .orderBy("canonical_url")
    )


def _t18_sql() -> str:
    from big_data_analytics_cse545_spark.functions.url import sql_canonical_url

    return f"""
WITH raw AS (
  SELECT doc_id,
         'HTTPS://WWW.' || source || '.Example.COM:443/wiki/Page_' ||
         CAST(doc_id % 40 AS VARCHAR) ||
         CASE WHEN doc_id % 2 = 0 THEN '?b=2&utm_source=feed&a=1'
              ELSE '?a=1&b=2&gclid=xyz' END ||
         '#sec' || CAST(doc_id % 3 AS VARCHAR) AS url
  FROM documents
)
SELECT {sql_canonical_url('url')} AS canonical_url,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants,
       MIN(doc_id) AS first_doc_id
FROM raw
GROUP BY 1
ORDER BY canonical_url
"""


# ---------------------------------------------------------------------------
# t19 — Unicode NFC normalization (Arrow UDF with an EXACT oracle)
# ---------------------------------------------------------------------------

def t19_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonicalization every text
    corpus needs before hashing or dedup: visually-identical strings
    with different codepoint sequences (``é`` composed U+00E9 vs
    ``e``+combining-acute U+0301) hash differently and silently defeat
    d01/d03. Mixed forms are planted deterministically (doc_id % 3:
    decomposed suffix / precomposed suffix / untouched) so the operator
    provably composes the first and leaves the rest byte-identical.

    Spark has no NFC builtin, so this is an Arrow-batched scalar
    ``pandas_udf`` over ``unicodedata.normalize`` — notable as the one
    Python-boundary operator in the suite with an EXACT value-hash
    oracle (DuckDB ``nfc_normalize`` implements the same Unicode
    spec; the md5-of-normalized-text column proves byte equality).
    At 100 TB: a narrow per-row kernel, no shuffle; the Arrow batch
    transfer is the only cost over a JVM expression, and it pipelines
    with the scan. Kernel shared with ``api.nfc_normalize``
    (functions/unicode.py).
    """
    from big_data_analytics_cse545_spark.functions.unicode import nfc_udf

    _nfc = nfc_udf()

    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        # explicit escapes: the suffixes render identically but are different
        # codepoint sequences (decomposed vs precomposed)
        F.when(F.col("doc_id") % 3 == 0, F.lit(" cafe\u0301"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" caf\u00e9"))
        .otherwise(F.lit("")),
    )
    base = d.select("doc_id", raw.alias("raw"))
    return (
        base.select("doc_id", "raw", _nfc(F.col("raw")).alias("norm"))
        .select(
            "doc_id",
            (F.col("raw") != F.col("norm")).alias("changed"),
            F.length("raw").cast("long").alias("n_raw"),
            F.length("norm").cast("long").alias("n_norm"),
            F.md5("norm").alias("content_hash"),
        )
        .orderBy("doc_id")
    )


_T19_SQL = """
WITH raw AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769)
                      WHEN doc_id % 3 = 1 THEN ' caf' || chr(233)
                      ELSE '' END AS raw
  FROM documents
),
n AS (SELECT doc_id, raw, nfc_normalize(raw) AS norm FROM raw)
SELECT doc_id, (raw <> norm) AS changed,
       CAST(length(raw) AS BIGINT) AS n_raw,
       CAST(length(norm) AS BIGINT) AS n_norm,
       md5(norm) AS content_hash
FROM n
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t20 — BPE pair statistics (the inner loop of tokenizer training)
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 20


def t20_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-character-pair frequencies over the word
    dictionary — one merge-selection step of byte-pair-encoding
    tokenizer training (Sennrich et al. 2016, arXiv:1508.07909):
    BPE repeatedly merges the most frequent adjacent symbol pair; this
    operator computes that frequency table and returns the top
    ``BPE_TOP_PAIRS`` merge candidates.

    Two WordCount-shaped reductions, both map-side combined:

    1. corpus → word frequencies (key space = vocabulary, NOT corpus);
    2. per-word character pairs (a pure JVM ``transform`` over the
       word — no explode of the corpus text, only of the vocab-sized
       word dictionary), weighted by word frequency → pair counts
       (key space = symbol-pair alphabet, tiny).

    The final ranking window runs over the aggregated PAIR relation —
    bounded by the squared character alphabet, result-sized, not
    data-sized — so the global ORDER BY single-reducer trap (x04
    docstring) does not apply. At 100 TB this is exactly how you train
    a tokenizer on the full corpus without sampling: nothing wider
    than (word, count) ever shuffles, and the reference's in-mapper
    combine discipline (``Assignment 1/a1p1_ahuja.py:184-196``)
    becomes Spark's partial aggregation for free.
    """
    from pyspark.sql.window import Window

    from big_data_analytics_cse545_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
            ).alias("pair"),
            "wf",
        )
        .groupBy("pair")
        .agg(F.sum("wf").alias("pair_count"))
    )
    w_rk = Window.orderBy(F.desc("pair_count"), "pair")
    return (
        pairs.withColumn("rk", F.row_number().over(w_rk).cast("bigint"))
        .filter(F.col("rk") <= BPE_TOP_PAIRS)
        .select("rk", "pair", "pair_count")
        .orderBy("rk")
    )


_T20_SQL = f"""
WITH words AS (
  SELECT w, COUNT(*) AS wf
  FROM (
    SELECT unnest({SQL_TOKENS}) AS w
    FROM documents
  )
  GROUP BY w
),
pairs AS (
  SELECT pair, CAST(SUM(wf) AS BIGINT) AS pair_count
  FROM (
    SELECT unnest(list_transform(range(1, length(w)), i -> substr(w, i, 2))) AS pair,
           wf
    FROM words WHERE length(w) >= 2
  )
  GROUP BY pair
),
ranked AS (
  SELECT pair, pair_count,
         ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rk
  FROM pairs
)
SELECT rk, pair, pair_count FROM ranked
WHERE rk <= {BPE_TOP_PAIRS}
ORDER BY rk
"""


# ---------------------------------------------------------------------------
# t21 — BM25 relevance scoring (corpus search / retrieval selection)
# ---------------------------------------------------------------------------

BM25_K1 = 1.2   # term-frequency saturation (Robertson/Spärck Jones defaults)
BM25_B = 0.75   # document-length normalization strength


def t21_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document against the TERM_DICT
    query — the ranking function behind retrieval-based data selection
    (pick training documents most relevant to a target query/domain)
    and every classic search stack (Robertson et al., TREC-3; the
    Lucene-default scoring formula).

    Per matched (doc, term): idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with the Lucene BM25 idf = ln(1 + (N − df + 0.5)/(df + 0.5)).

    Determinism discipline (same as x07): each per-term contribution is
    rounded to integer MICRO-units and the per-doc score is an exact
    BIGINT sum — immune to float-summation order under any parallelism,
    so the oracle hash-compare is stable. ln() feeds a ×1e6 round, so a
    platform-libm ULP difference cannot flip the result except exactly
    on a .5 micro boundary.

    Plan at scale: tokens are filtered to the query terms BEFORE any
    shuffle (the dictionary is a literal isin — codegen, no join), so
    the shuffled relation is (doc_id, term) hits only. Corpus stats
    (N, avgdl) and the per-term df table are result-sized and broadcast.
    The text column never shuffles. Two partial+final aggs + one
    broadcast join — the retrieval score over 100 TB costs one corpus
    scan.

    A binding of :func:`api.bm25_score`, so the oracle checks the
    function users call.
    """
    from big_data_analytics_cse545_spark import api

    d = load_table(spark, sf_dir, "documents")
    return api.bm25_score(
        d, "text", "doc_id", TERM_DICT, k1=BM25_K1, b=BM25_B
    ).orderBy("doc_id")


_T21_TERMS_SQL = ", ".join(f"'{t}'" for t in TERM_DICT)
_T21_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS word FROM documents
),
doclen AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
stats AS (
  SELECT COUNT(*) AS n_docs_total, CAST(SUM(dl) AS BIGINT) AS total_len
  FROM doclen
),
hits AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM tok
  WHERE word IN ({_T21_TERMS_SQL})
  GROUP BY doc_id, word
),
df_t AS (SELECT word, COUNT(*) AS df FROM hits GROUP BY word),
contrib AS (
  SELECT h.doc_id,
         CAST(ROUND(
           ln(1.0 + (s.n_docs_total - d.df + 0.5) / (d.df + 0.5))
           * (CAST(h.tf AS DOUBLE) * ({BM25_K1} + 1.0)
              / (CAST(h.tf AS DOUBLE)
                 + {BM25_K1} * (1.0 - {BM25_B}
                     + {BM25_B} * CAST(l.dl AS DOUBLE)
                       / (CAST(s.total_len AS DOUBLE)
                          / CAST(s.n_docs_total AS DOUBLE)))))
           * 1e6) AS BIGINT) AS c_micro
  FROM hits h
  JOIN df_t d USING (word)
  JOIN doclen l USING (doc_id)
  CROSS JOIN stats s
)
SELECT doc_id, COUNT(*) AS n_terms_hit,
       CAST(SUM(c_micro) AS BIGINT) AS bm25_micro
FROM contrib
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t22 — unigram-LM perplexity filter (CCNet-style quality gate)
# ---------------------------------------------------------------------------

# CCNet buckets documents by LM perplexity into head/middle/tail and
# trains preferentially on head+middle (Wenzek et al. 2020,
# arXiv:1911.00359). CCNet calibrates its cutoffs OFFLINE per language
# from the corpus perplexity distribution; these are calibrated the
# same way against the synthetic fixture corpus (mean NLL ≈ 3.38–3.70
# nats — tight, because the generator's vocabulary is small). What the
# operator proves is the distributed NLL computation, which is exact
# and order-insensitive regardless of where the cutoffs sit.
PPL_HEAD_MICRO = 3_402_000   # mean NLL < 3.402 nats → 'head'
PPL_MIDDLE_MICRO = 3_406_000  # < 3.406 nats → 'middle', else 'tail'


def t22_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean negative log-likelihood under an add-one-
    smoothed corpus unigram LM, bucketed CCNet-style into
    head/middle/tail — the perplexity quality gate of web-crawl
    pipelines (low NLL ≈ typical fluent text; high NLL ≈ gibberish,
    which t14's linear-frequency mass under-penalizes because one
    stopword can mask twenty hapaxes; the log domain can't be masked).

    A binding of :func:`api.perplexity_gate` over the spread documents
    scan, so the oracle checks the function users call (the LM, the
    exact micro-nat sums and the plan are documented there).
    """
    from big_data_analytics_cse545_spark import api

    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    return api.perplexity_gate(
        d, "text", "doc_id", PPL_HEAD_MICRO, PPL_MIDDLE_MICRO
    ).orderBy("doc_id")


_T22_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS word FROM documents
),
vocab AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS big_t, COUNT(*) AS big_v FROM vocab
),
lm AS (
  SELECT word,
         CAST(ROUND(-ln((cnt + 1.0) / CAST(big_t + big_v AS DOUBLE)) * 1e6)
              AS BIGINT) AS nll_micro
  FROM vocab CROSS JOIN tot
),
scored AS (
  SELECT doc_id, COUNT(*) AS n_tok,
         CAST(SUM(nll_micro) AS BIGINT) AS sum_nll_micro
  FROM tok JOIN lm USING (word)
  GROUP BY doc_id
)
SELECT doc_id, n_tok, sum_nll_micro,
       CASE WHEN sum_nll_micro < {PPL_HEAD_MICRO} * n_tok THEN 'head'
            WHEN sum_nll_micro < {PPL_MIDDLE_MICRO} * n_tok THEN 'middle'
            ELSE 'tail' END AS ppl_bucket,
       CAST(sum_nll_micro // n_tok AS DOUBLE) / 1e6 AS mean_nll
FROM scored
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# t23 — host/domain reputation filter (C4 / RefinedWeb per-domain stage)
# ---------------------------------------------------------------------------

# A host is dropped when at least this fraction of its docs is junk
# (junk = shorter than T23_JUNK_CHARS chars): junk*4 >= n ⇔ ≥25%.
T23_JUNK_CHARS = 200
T23_MIN_SUPPORT = 4


def t23_host_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host (domain) reputation filtering — the crawl-pipeline stage
    that C4/RefinedWeb run before any per-document work: aggregate
    quality signals BY HOST, then drop entire hosts that are majority
    junk or too thin to judge. A host-level verdict catches spam/SEO
    farms whose individual pages each pass per-doc filters.

    The documents table has no host column, so each doc derives a
    deterministic host from its own fields (t18's construction
    discipline — the derivation is reproducible input, the host-level
    aggregation+verdict is the operator under test). Verdict rules are
    pure integer arithmetic (no float thresholds): ``low_support`` when
    n_docs < {S}, ``junky`` when junk_docs*4 >= n_docs (≥25% of docs
    under {J} chars), else ``keep``; mean_chars_x100 uses integer
    ``div`` so the oracle hash is exact.

    At 100 TB: stage 1 is a partial+final agg keyed by host over
    (host, n_chars)-sized rows — doc TEXT never shuffles, and hot hosts
    cannot skew it because combining happens map-side. The output
    relation is hosts (millions, not billions) — in production it
    broadcast-joins back onto the doc scan as the keep/drop gate, the
    same small-verdict-relation shape as d07's decontamination list.
    """
    d = load_table(spark, sf_dir, "documents")
    hosted = d.select(
        F.concat(
            F.col("source"),
            F.lit("-h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com"),
        ).alias("host"),
        "n_chars",
    )
    stats = hosted.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        # when/otherwise(0), not a cast boolean: a NULL n_chars (torn
        # crawl field) must count 0 like the oracle's CASE..ELSE 0 —
        # the cast form propagates NULL, and an all-NULL host summed to
        # NULL junk_docs, silently taking the 'keep' branch (round-6
        # review)
        F.sum(
            F.when(F.col("n_chars") < T23_JUNK_CHARS, 1)
            .otherwise(0)
            .cast("bigint")
        ).alias("junk_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    return stats.select(
        "host",
        "n_docs",
        "junk_docs",
        F.expr("(sum_chars * 100) div n_docs").alias("mean_chars_x100"),
        F.when(F.col("n_docs") < T23_MIN_SUPPORT, "low_support")
        .when(F.col("junk_docs") * 4 >= F.col("n_docs"), "junky")
        .otherwise("keep")
        .alias("verdict"),
    ).orderBy("host")


t23_host_reputation.__doc__ = t23_host_reputation.__doc__.format(
    S=T23_MIN_SUPPORT, J=T23_JUNK_CHARS
)


_T23_SQL = f"""
WITH hosted AS (
  SELECT source || '-h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
           AS host,
         n_chars
  FROM documents
),
stats AS (
  SELECT host,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN n_chars < {T23_JUNK_CHARS} THEN 1 ELSE 0 END)
              AS BIGINT) AS junk_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM hosted
  GROUP BY host
)
SELECT host, n_docs, junk_docs,
       (sum_chars * 100) // n_docs AS mean_chars_x100,
       CASE WHEN n_docs < {T23_MIN_SUPPORT} THEN 'low_support'
            WHEN junk_docs * 4 >= n_docs THEN 'junky'
            ELSE 'keep' END AS verdict
FROM stats
ORDER BY host
"""


# ---------------------------------------------------------------------------
# t24 — bounded-iteration BPE merge TRAINER (t20 is one step of this loop)
# ---------------------------------------------------------------------------

BPE_TRAIN_MERGES = 12

# bump when train_bpe's merge-selection or apply semantics change: the
# t25 train-once fixture cache keys on it (plus BPE_TRAIN_MERGES and
# the corpus digest), so a semantic change re-trains instead of serving
# a stale artifact whose params row would still validate (round-12
# review)
BPE_APPLY_VERSION = 1


def _apply_merges(
    syms: F.Column, batch: list[tuple[str, str, str]]
) -> F.Column:
    """Greedy left-to-right application of a batch of pairwise
    NON-OVERLAPPING BPE merges [(left, right, merged), …] to a symbol
    array, as ONE pure JVM left fold (``aggregate``): walk the symbols;
    whenever the accumulated tail is some batch member's ``left`` and
    the incoming symbol is its ``right``, replace the tail with that
    member's merged symbol (a when-chain — at most one member can match
    a position, because members share no symbols).

    Replace-last is exactly Sennrich's non-overlapping greedy scan: a
    symbol just produced by a merge can never be the LEFT of another
    merge in the same pass, because ``left || right == left`` would
    need an empty right. (E.g. pair (a,a) on [a,a,a] → [aa,a], on
    [a,a,a,a] → [aa,aa].) And because batch members are pairwise
    symbol-disjoint (left, right AND merged — enforced at selection,
    ``train_bpe``), this single pass produces exactly what applying the
    members one-per-pass would: no member can create, consume, or
    retype another member's match sites. With a 1-element batch the
    expression tree is the classic single-merge fold.
    """
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: _merge_when_chain(acc, x, batch),
    )


def _merge_when_chain(
    acc: F.Column, x: F.Column, batch: list[tuple[str, str, str]]
) -> F.Column:
    chain = None
    for left, right, merged in batch:
        cond = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right))
        )
        repl = F.concat(
            F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
        )
        chain = F.when(cond, repl) if chain is None else chain.when(cond, repl)
    return chain.otherwise(F.concat(acc, F.array(x)))


def _free_local_checkpoint(df: DataFrame) -> None:
    """Deterministically release a localCheckpoint'ed DataFrame's blocks
    (round-10 ADVICE: don't leave vocab-sized MEMORY_AND_DISK block sets
    floating until py4j finalization → JVM GC → ContextCleaner). The
    checkpointed RDD is the LogicalRDD's ``rdd`` field — a private but
    stable accessor; if the path is ever unavailable the blocks simply
    fall back to the asynchronous GC cleanup (the pre-fix behavior), so
    this is strictly best-effort."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # GC/ContextCleaner fallback — bounded and spillable


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = BPE_TRAIN_MERGES,
    batch_m: int = 1,
) -> DataFrame:
    """BPE merge-table training over any DataFrame's text column — the
    kernel of ``api.bpe_train``, which t24 binds. Returns (step, left,
    right, merged, pair_count) for up to ``n_merges`` merges.

    ``batch_m`` — merges selected per Spark round. At 1 (the default,
    and t24's contract) this is EXACT sequential Sennrich BPE: one
    argmax per round. At M>1 it is the batched variant production
    trainers use to make 30k+-merge vocabularies tractable: each round
    counts pairs ONCE, then selects the top M pairwise-symbol-disjoint
    pairs of the (count desc, left, right)-sorted list (conflicting
    candidates are skipped, not batch-terminating — they recount next
    round), and applies the whole batch in one fold pass
    (``_apply_merges``). Jobs AND lineage depth drop from Θ(n_merges)
    to Θ(n_merges / M) — the difference between ~60k Spark jobs and
    ~1k at a 30k-merge production vocabulary (measured jobs/merge
    budget in SCALE.md). Semantics: symbol-disjointness means every
    selected pair's count is its TRUE pre-round count, and the
    single-pass application equals one-per-pass application exactly
    (members can't touch each other's match sites). The batched table
    can diverge from sequential BPE only where a merge CREATED or
    RETYPED a pair that would out-rank a later selection — the
    standard, bounded approximation (each created pair's count ≤ its
    creator's), golden-gated against a pure-Python batched reference
    in tests and exact at M=1 by construction.

    Loop shape (p05's Lloyd-iteration discipline): ONE corpus-sized
    aggregation up front (corpus → word frequencies), then every
    iteration runs over the VOCAB-sized dictionary — count adjacent
    symbol pairs weighted by word frequency (map-side combined; key
    space = the pair alphabet), collect the top ``batch_m`` rows (the
    argmax prefix — driver-scale by construction, ties broken
    deterministically by count desc, then left/right lexicographic),
    and apply the merges to every word's symbol array as a pure JVM
    fold (no Python boundary).

    State discipline — per-round ``localCheckpoint(eager=False)``, which
    buys BOTH properties iterative DataFrames need (rationale and the
    measured plan-explosion numbers at the checkpoint call below):
    lineage truncation (constant per-round plan, where plain persist
    left the plan growing a fold level per round and the optimizer's
    re-inlining made a few-hundred-merge build OOM) and the r8
    release-one-behind ordering (a parent's blocks stay alive until the
    child checkpoint MATERIALIZES — the swap-first bug that replayed
    the whole fold chain, 21.8 s vs 12.9 s at the 10× corpus, is ruled
    out by construction). The materializing action IS the next round's
    argmax collect — no extra count() job; immediately after that
    collect the superseded parent's blocks are freed DETERMINISTICALLY
    via the LogicalRDD handle (``_free_local_checkpoint``, round-10
    ADVICE — restoring the old finally-unpersist discipline), with the
    asynchronous ContextCleaner as the documented fallback; the final
    dictionary's blocks are freed the same way before returning, so a
    long-lived driver calling this repeatedly holds no float.
    """
    if batch_m < 1:
        raise ValueError(f"batch_m must be >= 1, got {batch_m}")
    spark = df.sparkSession
    # localCheckpoint, NOT plain persist: each round's dictionary derives
    # from the previous one, and without lineage TRUNCATION the logical
    # plan nests one fold level per round — the optimizer re-inlines the
    # whole ancestry into every consumer, so analysis cost (and AQE's
    # plan-update strings) grow superlinearly and a few-hundred-merge
    # build OOMs the driver building a plan string (measured: 16 merges
    # 8.6 s, 32 merges 54.6 s, 64+ OOM — round-9). The checkpoint caps
    # every round's plan at ONE fold over a LogicalRDD. It also subsumes
    # the r8 release-one-behind cache discipline: materializing round
    # k+1's checkpoint (the next collect) clears rdd_k's dependencies,
    # so the previous round's blocks become unreachable and the
    # ContextCleaner frees them — parent blocks provably outlive the
    # child's materialization (the r8 swap-first replay bug cannot
    # recur). Round-10 ADVICE fix: superseded blocks no longer wait for
    # the asynchronous ContextCleaner — _free_local_checkpoint
    # unpersists each parent's checkpointed RDD right after the child
    # materializes (and the final dictionary's before returning). The
    # GC path remains the fallback if the private LogicalRDD accessor
    # ever disappears, in which case a production 30k-merge run should
    # set spark.cleaner.periodicGC.interval (e.g. "1min"; default
    # 30min) — the standard lever for checkpoint-loop workloads, also
    # mentioned on api.bpe_train.
    words = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wf"))
        .select(
            F.expr(
                "transform(sequence(1, length(w)), i -> substr(w, i, 1))"
            ).alias("syms"),
            "wf",
        )
    ).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, str, int]] = []
    superseded: DataFrame | None = None
    while len(merges) < n_merges:
        want = min(batch_m, n_merges - len(merges))
        # over-collect: conflicting candidates are SKIPPED, so filling a
        # batch of `want` needs slack below them (top pairs overwhelmingly
        # share the frequent letters — a bare limit(want) averaged ~1.3
        # selections per round when measured; 4× slack fills batches)
        n_candidates = want if want == 1 else want * 4 + 8
        n_pairs = F.greatest(F.size("syms") - 1, F.lit(0))
        top = (
            words.select(
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, n_pairs),
                        F.slice("syms", 2, n_pairs),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
                "wf",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("wf").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(n_candidates)
            .collect()
        )
        # the collect above MATERIALIZED this round's checkpoint, so the
        # superseded parent's blocks are now provably dead — free them
        # deterministically (release-one-behind, restored per round-10
        # ADVICE; previously left to the asynchronous ContextCleaner)
        if superseded is not None:
            _free_local_checkpoint(superseded)
            superseded = None
        if not top:
            break  # vocabulary fully merged — nothing adjacent remains
        # top-M pairwise-symbol-disjoint selection: walk the ranked
        # list, SKIP any candidate sharing a symbol (left, right, or
        # merged — a later pair whose merged string collides with an
        # earlier member's is a conflict too) with an already-selected
        # member (its true count is unknowable until the earlier merges
        # apply — it stays a candidate for the NEXT round's recount),
        # and keep selecting until the batch holds `want` members or
        # candidates run out
        used: set[str] = set()
        batch: list[tuple[str, str, str]] = []
        for row in top:
            left, right = row["l"], row["r"]
            if {left, right, left + right} & used:
                continue
            merges.append(
                (len(merges) + 1, left, right, left + right, int(row["cnt"]))
            )
            batch.append((left, right, left + right))
            used |= {left, right, left + right}
            if len(batch) == want:
                break
        if len(merges) == n_merges:
            break  # table complete — applying the last batch is dead work
        superseded = words
        words = words.select(
            _apply_merges(F.col("syms"), batch).alias("syms"), "wf"
        ).localCheckpoint(eager=False)
    # the merge table lives in the driver list — no further action ever
    # touches the dictionary, so free the final checkpoint too (a
    # long-lived driver calling this repeatedly must not accumulate one
    # vocab-sized block set per call)
    _free_local_checkpoint(words)
    return spark.createDataFrame(
        merges,
        "step long, left string, right string, merged string, pair_count long",
    )


def t24_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-iteration BPE tokenizer training: the driver loop t20
    computes one step of (Sennrich et al. 2016, arXiv:1508.07909).
    Output: the learned merge table — (step, left, right, merged,
    pair_count) for {K} merges, the artifact every BPE tokenizer build
    produces: ``api.bpe_train(documents, n_merges=BPE_TRAIN_MERGES)``
    (loop shape and persistence discipline documented on
    :func:`train_bpe`).

    At 100 TB: corpus text is touched exactly once; all {K} iterations
    shuffle only (symbol-pair, count) rows bounded by the vocabulary,
    which is why real tokenizer trainers (SentencePiece/HF) also
    pre-aggregate to word counts first. Not SQL-expressible (iterative
    argmax-dependent rewrites) → rows-only registry entry; the hard
    gate is the pure-Python BPE golden in tests/test_text.py.
    """
    from big_data_analytics_cse545_spark import api

    return api.bpe_train(
        load_table(spark, sf_dir, "documents"), n_merges=BPE_TRAIN_MERGES
    )


t24_bpe_train.__doc__ = t24_bpe_train.__doc__.format(K=BPE_TRAIN_MERGES)
# opt-in at definition site: tools/plan_audit.py must NOT execute this
# query (its driver loop does the real training work EAGERLY while
# fn() builds, and the returned LocalTableScan would audit as a false
# "0 exchanges" row) — r8 ADVICE: a hard-coded allowlist in the tool
# silently misses the next eager-loop query
t24_bpe_train.__eager_loop__ = (
    "t24 docstring: 1 corpus agg, then ~2 vocab-sized shuffles x "
    f"{BPE_TRAIN_MERGES} iterations"
)


# ---------------------------------------------------------------------------
# t25 — BPE ENCODE: apply a trained merge table to a corpus (the
# production step AFTER t24's training — nothing previously consumed
# the merge tables t20/t24 produce; r10 VERDICT #4)
# ---------------------------------------------------------------------------

# expression-path ceiling: each rule is one chained JVM fold, so plan
# depth = n_rules — fine at tokenizer-bootstrap sizes, but a 30k-merge
# production table as one expression tree is exactly the nested-plan
# blowup train_bpe's localCheckpoint discipline exists to avoid (its
# measured 64-fold OOM) — past this, the Arrow kernel is the only
# sound regime
BPE_EXPR_MAX_RULES = 64


def _char_split(w: F.Column) -> F.Column:
    """A word as its single-character symbol array — the trainer's
    initial-dictionary derivation, as a lambda-friendly Column form."""
    return F.transform(
        F.sequence(F.lit(1), F.length(w)),
        lambda i: F.substr(w, i, F.lit(1)),
    )


def _encode_word_py(word: str, rules: list[tuple[str, str, str]]) -> list[str]:
    """The Arrow kernel's per-word encode: apply each merge rule, in
    training order, as one left-to-right non-overlapping pass —
    token-for-token the semantics of :func:`_apply_merges` with a
    1-element batch per rule (replace-last greedy scan), which is also
    Sennrich's reference apply_bpe loop. The substring pre-check skips
    rules that cannot match (adjacent symbols ``left``,``right`` imply
    ``left+right`` occurs in the concatenation; the converse is
    conservative) — at real vocabularies most rules skip."""
    syms = list(word)
    for left, right, merged in rules:
        # merging only concatenates, so "".join(syms) == word forever —
        # the original word is the permanent substring oracle
        if merged not in word:
            continue
        out: list[str] = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = merged
            else:
                out.append(s)
        syms = out
    return syms


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    out_col: str = "toks",
    mode: str = "auto",
    emit: str = "tokens",
) -> DataFrame:
    """Encode a corpus with a trained BPE merge table — the reusable
    core of t25 (and ``api.bpe_encode``). Adds ``out_col`` (an
    ``array<string>`` of subword tokens) to every row: the text is
    tokenized with the trainer's exact tokenizer (:func:`tokens`),
    each word is split to characters, and the merge rules apply in
    TRAINING ORDER, each as one left-to-right non-overlapping pass —
    precisely what :func:`train_bpe`'s ``_apply_merges`` did to the
    dictionary during training, so training and inference cannot
    drift (reference anchor: the tokenize-then-aggregate I/O shape of
    ``a1p2b_ahuja.py:65-72``, with the tokenizer now a learned one).

    Two execution regimes, exact-equal by test:

    * ``mode="expr"`` — each rule is a chained JVM ``aggregate`` fold
      inside a per-word ``transform``: zero Python boundary, whole
      plan stays codegen-eligible. Plan depth = n_rules, so this is
      capped at ``BPE_EXPR_MAX_RULES`` (raises loudly past it).
    * ``mode="arrow"`` — one ``mapInPandas`` pass with the rule list
      (model-sized: n_merges rows, the centroid-collect precedent)
      closure-captured and a per-worker word→tokens memo, so each
      DISTINCT word in a batch is encoded once regardless of its
      corpus frequency — the production regime for 30k-rule tables,
      where the corpus is touched ONCE, nothing shuffles, and the
      kernel cost is bounded by distinct-word mass per partition (the
      same Zipf argument train_bpe's word-frequency pre-aggregation
      rests on).

    ``mode="auto"`` picks expr at ≤ BPE_EXPR_MAX_RULES rules, arrow
    beyond. ``emit="ids"`` yields ``array<bigint>`` vocabulary ids
    instead of token strings (:func:`_vocab_dict` — what a model
    pipeline actually consumes; in-vocab guaranteed by construction).
    At 100 TB: encode is embarrassingly parallel either way — no
    shuffle, no skew surface, scan-bound; the merge table is the only
    shared state and it is kilobytes.
    """
    if emit not in ("tokens", "ids"):
        raise ValueError(f"emit must be tokens/ids, got {emit!r}")
    rows = sorted(
        merges.select("step", "left", "right").collect(),
        key=lambda r: r["step"],
    )
    rules = [(r["left"], r["right"], r["left"] + r["right"]) for r in rows]
    if mode == "auto":
        mode = "expr" if len(rules) <= BPE_EXPR_MAX_RULES else "arrow"
    if mode == "expr":
        if len(rules) > BPE_EXPR_MAX_RULES:
            raise ValueError(
                f"mode='expr' caps at {BPE_EXPR_MAX_RULES} rules "
                f"(got {len(rules)}): plan depth grows one fold per rule "
                "— use mode='arrow' (or 'auto') for production tables"
            )
        words = tokens(F.coalesce(F.col(text_col), F.lit("")))

        def encode_word(w: F.Column) -> F.Column:
            syms = _char_split(w)
            for rule in rules:
                syms = _apply_merges(syms, [rule])
            return syms

        out = F.flatten(F.transform(words, encode_word))
        if emit == "ids":
            # the vocab rides as a map LITERAL — bounded by the expr
            # cap (≤ 36 + 64 entries), far below expression-size limits
            vocab = _vocab_dict(rules)
            pairs: list[F.Column] = []
            for tok, tid in vocab.items():
                pairs += [F.lit(tok), F.lit(tid).cast("long")]
            vmap = F.create_map(*pairs)
            out = F.transform(out, lambda t: F.element_at(vmap, t))
        return df.withColumn(out_col, out)
    if mode != "arrow":
        raise ValueError(f"mode must be expr/arrow/auto, got {mode!r}")

    import re as _re

    from pyspark.sql.types import ArrayType, LongType, StringType

    out_type = ArrayType(LongType() if emit == "ids" else StringType())
    out_schema = _schema_with(df, out_col, out_type)
    split_re = _re.compile(TOKEN_SPLIT_RE)
    rule_list = list(rules)
    vocab = _vocab_dict(rule_list) if emit == "ids" else None

    def encode_batches(batches):
        memo: dict[str, list] = {}

        def word_toks(w: str) -> list:
            got = memo.get(w)
            if got is None:
                ts = _encode_word_py(w, rule_list)
                got = memo[w] = (
                    ts if vocab is None else [vocab[t] for t in ts]
                )
            return got

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [
                [
                    t
                    for w in split_re.split(("" if txt is None else txt).lower())
                    if w
                    for t in word_toks(w)
                ]
                for txt in pdf[text_col]
            ]
            yield pdf

    return df.mapInPandas(encode_batches, out_schema)


def _schema_with(df: DataFrame, out_col: str, out_type) -> "StructType":
    """``df``'s schema with ``out_col`` of ``out_type`` — REPLACED in
    place if the column already exists, appended otherwise. This is
    exactly ``withColumn``'s field layout, so the Arrow regimes of
    bpe_encode/bpe_decode agree with the expr regimes when ``out_col``
    collides with an input column (round-11 ADVICE: the old
    unconditional append produced a duplicate field name in the one
    contract the regimes promise to share). Always a NEW StructType —
    ``StructType.add`` mutates the live ``df.schema`` object, which
    desyncs ``df.columns`` from its actual plan."""
    from pyspark.sql.types import StructField, StructType

    fields = [
        StructField(out_col, out_type) if f.name == out_col else f
        for f in df.schema.fields
    ]
    if all(f.name != out_col for f in df.schema.fields):
        fields = fields + [StructField(out_col, out_type)]
    return StructType(fields)


# the only characters the trainer's tokenizer can emit (tokens() lowers
# and splits on [^a-z0-9]+, so every symbol is built from these),
# digits first — the fixed base id space of the shipped artifact
BPE_BASE_ALPHABET = "0123456789abcdefghijklmnopqrstuvwxyz"


def _vocab_dict(rules: list[tuple[str, str, str]]) -> dict[str, int]:
    """token → contiguous id: 0..35 are the base alphabet, then one id
    per DISTINCT merged string in training order, FIRST-WINS on
    duplicates — two different rules CAN produce the same string
    (("a","bc") now and ("ab","c") later both yield "abc"), and a
    shipped vocabulary is keyed by string, so the earlier id owns it
    (the GPT-2 encoder.json / SentencePiece convention). Every token
    bpe_encode can produce is covered by construction: a token is
    either a single base char or some rule's merged string."""
    vocab = {c: i for i, c in enumerate(BPE_BASE_ALPHABET)}
    for _, _, merged in rules:
        if merged not in vocab:
            vocab[merged] = len(vocab)
    return vocab


def bpe_vocab(merges: DataFrame) -> DataFrame:
    """The id-assigning vocabulary a trained tokenizer SHIPS, as a
    relation: (token string, token_id long) — base alphabet first,
    then merges in step order (:func:`_vocab_dict` for the exact
    rules, including duplicate-merged-string first-wins)."""
    spark = merges.sparkSession
    rows = sorted(
        merges.select("step", "left", "right").collect(),
        key=lambda r: r["step"],
    )
    vocab = _vocab_dict(
        [(r["left"], r["right"], r["left"] + r["right"]) for r in rows]
    )
    return spark.createDataFrame(
        sorted(vocab.items(), key=lambda kv: kv[1]),
        "token string, token_id long",
    )


def _t25_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once merge-table cache for t25 (r11 VERDICT note #1: the
    registry row used to re-train on every invocation, so ~2/3 of its
    wall re-measured t24). The trained table is persisted via the
    durable-artifact path (``api.save_bpe``/``load_bpe`` — exercising
    the exact load path a production encode job uses) under a
    digest-keyed fixture dir (the ``ingest._fixture_key`` discipline),
    so a REWRITTEN corpus re-trains instead of serving a stale
    tokenizer, and t25's wall measures ENCODE. Determinism makes the
    cache exact: train_bpe is argmax-deterministic, so the loaded
    table is row-for-row the freshly-trained one (pinned by the golden
    gates in tests/test_text.py, which run t25 through this cache)."""
    from big_data_analytics_cse545_spark import api
    from big_data_analytics_cse545_spark.operators.ingest import _fixture_key
    from big_data_analytics_cse545_spark.sources.fixtures import ensure_fixture_dir

    def write(tmp: str) -> None:
        api.save_bpe(train_bpe(load_table(spark, sf_dir, "documents")), tmp)

    # the cache key must cover the TRAINER's identity too, not just the
    # corpus bytes: bumping BPE_TRAIN_MERGES (or the apply semantics)
    # with an unchanged corpus must re-train, not serve the previous
    # hyperparameters' table (round-12 review)
    path = ensure_fixture_dir(
        writer=write,
        **_fixture_key(
            sf_dir, f"graft-bpe-m{BPE_TRAIN_MERGES}-apply{BPE_APPLY_VERSION}", "documents"
        ),
    )
    return api.load_bpe(spark, path)


def bpe_decode(
    df: DataFrame,
    merges: DataFrame,
    ids_col: str = "toks",
    out_col: str = "decoded",
    mode: str = "auto",
) -> DataFrame:
    """Invert ``emit='ids'``: map ``array<bigint>`` vocabulary ids back
    to the EXACT subword token strings bpe_encode produced — the
    artifact's read direction (a model emits ids; humans want text).
    The inverse map is :func:`bpe_vocab`'s id→token: token→id is
    first-wins on duplicate merged strings and therefore non-injective,
    but id→token IS a function, so decode is total, exact, and
    ``decode(encode(x, emit='ids')) == encode(x, emit='tokens')``
    token-for-token (property-gated in tests/test_text.py).

    Same two execution regimes as :func:`bpe_encode` (expr: one JVM
    map literal inside a ``transform`` — bounded by the expr rule cap;
    arrow: one ``mapInPandas`` with the model-sized inverse dict
    closure-captured), same auto split, same replace-in-place
    ``out_col`` contract (:func:`_schema_with`). An id outside the
    vocabulary is a LOUD error in both regimes — silently emitting
    NULL tokens would corrupt a corpus reconstruction. No shuffle,
    scan-bound, embarrassingly parallel at any scale."""
    rows = sorted(
        merges.select("step", "left", "right").collect(),
        key=lambda r: r["step"],
    )
    rules = [(r["left"], r["right"], r["left"] + r["right"]) for r in rows]
    inv = {i: t for t, i in _vocab_dict(rules).items()}
    if mode == "auto":
        mode = "expr" if len(rules) <= BPE_EXPR_MAX_RULES else "arrow"
    if mode == "expr":
        if len(rules) > BPE_EXPR_MAX_RULES:
            raise ValueError(
                f"mode='expr' caps at {BPE_EXPR_MAX_RULES} rules "
                f"(got {len(rules)}) — use mode='arrow' (or 'auto')"
            )
        pairs: list[F.Column] = []
        for tid in sorted(inv):
            pairs += [F.lit(tid).cast("long"), F.lit(inv[tid])]
        vmap = F.create_map(*pairs)

        def tok(x: F.Column) -> F.Column:
            return F.when(
                F.element_at(vmap, x).isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("bpe_decode: token id "),
                        x.cast("string"),
                        F.lit(" not in vocabulary"),
                    )
                ).cast("string"),
            ).otherwise(F.element_at(vmap, x))

        return df.withColumn(out_col, F.transform(F.col(ids_col), tok))
    if mode != "arrow":
        raise ValueError(f"mode must be expr/arrow/auto, got {mode!r}")

    from pyspark.sql.types import ArrayType, StringType

    out_schema = _schema_with(df, out_col, ArrayType(StringType()))
    inv_local = dict(inv)

    def decode_batches(batches):
        def tok_of(i):
            got = inv_local.get(i)
            if got is None:
                raise ValueError(
                    f"bpe_decode: token id {i} not in vocabulary"
                )
            return got

        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = [
                None if ids is None else [tok_of(i) for i in ids]
                for ids in pdf[ids_col]
            ]
            yield pdf

    return df.mapInPandas(decode_batches, out_schema)


def t25_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with a tokenizer TRAINED ON IT: t24's merge
    table ({K} merges), applied by :func:`bpe_encode`'s Arrow regime —
    the production path, and measured 20× faster than the chained-fold
    regime at sf0.1 (1.6-1.9 s vs 34-36 s): the per-worker word→tokens
    memo makes encode cost proportional to DISTINCT-word mass per
    partition, while the JVM fold pays per OCCURRENCE — a gap that
    only widens with corpus size at fixed vocabulary (the Zipf
    argument, now measured; SCALE.md round 11). Output: per document,
    the subword token count and an md5 over the separator-joined token
    stream (the t11 md5-of-scrubbed pattern — the hash certifies every
    token byte-for-byte, not just the count), ordered by doc_id.

    The merge table comes from the train-once digest-keyed cache
    (:func:`_t25_table`, loaded through ``api.load_bpe`` — the
    production artifact path), so this row's wall measures ENCODE;
    the trainer's wall stays t24's own row (r11 VERDICT note #1).

    Not SQL-expressible (the merge table is the output of the
    iterative argmax trainer) → test-gated like t24; the hard gate is
    the token-for-token golden vs an independent pure-Python encoder
    plus the expr≡arrow regime-parity gate in tests/test_text.py
    (which is also what licenses this regime swap — both paths are
    token-for-token equal on every fixture).
    """
    # spread: the Arrow encode kernel runs partition-parallel only if
    # the scan does — one task otherwise on a single-row-group input
    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    table = _t25_table(spark, sf_dir)
    enc = bpe_encode(d, table, mode="arrow")
    return enc.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws("\x1f", "toks")).alias("tokens_md5"),
    ).orderBy("doc_id")


t25_bpe_encode.__doc__ = t25_bpe_encode.__doc__.format(K=BPE_TRAIN_MERGES)
t25_bpe_encode.__eager_loop__ = (
    "t25 loads its merge table from the train-once fixture cache, "
    "training it via train_bpe (t24's eager driver loop) on a cache "
    "miss, before the encode plan is declared"
)


QUERIES = {
    "t01_wordcount": t01_wordcount,
    "t02_word_set_difference": t02_word_set_difference,
    "t03_term_mentions": t03_term_mentions,
    "t04_term_mentions_nested": t04_term_mentions_nested,
    "t05_lang_guess": t05_lang_guess,
    "t06_quality_score": t06_quality_score,
    "t07_token_count": t07_token_count,
    "t08_fingerprint": t08_fingerprint,
    "t09_pseudo_xml_extract": t09_pseudo_xml_extract,
    "t10_wholetext_extract": t10_wholetext_extract,
    "t11_pii_scrub": t11_pii_scrub,
    "t12_pack_sequences": t12_pack_sequences,
    "t13_repetition_filter": t13_repetition_filter,
    "t14_corpus_freq_score": t14_corpus_freq_score,
    "t15_winnowing_pairs": t15_winnowing_pairs,
    "t16_html_strip": t16_html_strip,
    "t17_chunk_overlap": t17_chunk_overlap,
    "t18_url_canonicalize": t18_url_canonicalize,
    "t19_unicode_normalize": t19_unicode_normalize,
    "t20_bpe_pair_stats": t20_bpe_pair_stats,
    "t21_bm25_score": t21_bm25_score,
    "t22_unigram_nll": t22_unigram_nll,
    "t23_host_reputation": t23_host_reputation,
    "t24_bpe_train": t24_bpe_train,
    "t25_bpe_encode": t25_bpe_encode,
}

ORACLE = {
    "t01_wordcount": _T01_SQL,
    "t02_word_set_difference": _T02_SQL,
    "t03_term_mentions": _T03_SQL,
    "t04_term_mentions_nested": _T04_SQL,
    "t05_lang_guess": _T05_SQL,
    "t06_quality_score": _T06_SQL,
    "t07_token_count": _T07_SQL,
    "t08_fingerprint": _T08_SQL,
    "t09_pseudo_xml_extract": _T09_SQL,
    # callable → resolved lazily by __spark_entry__/tests so the fixture
    # write happens at first use, not at import
    "t10_wholetext_extract": _t10_sql,
    "t11_pii_scrub": _T11_SQL,
    "t12_pack_sequences": _T12_SQL,
    "t13_repetition_filter": _T13_SQL,
    "t14_corpus_freq_score": _T14_SQL,
    "t15_winnowing_pairs": _T15_SQL,
    # callable — fixture written on first use, like t10
    "t16_html_strip": _t16_sql,
    "t17_chunk_overlap": _T17_SQL,
    # callable — composes the canonicalizer's SQL twin lazily
    "t18_url_canonicalize": _t18_sql,
    "t19_unicode_normalize": _T19_SQL,
    "t20_bpe_pair_stats": _T20_SQL,
    "t21_bm25_score": _T21_SQL,
    "t22_unigram_nll": _T22_SQL,
    "t23_host_reputation": _T23_SQL,
}
