"""Dataset splitting & mixing — the reproducibility layer of an LLM
training-data pipeline: deterministic hash-based train/val/test splits
and temperature-weighted source balancing.

No single reference counterpart; this generalizes the reference's
hash-partition discipline (``Assignment 1/a1p1_ahuja.py:53-67``
partitionFunction routes records by ``ComputeHashOfString % DOP``,
with the hash itself at ``Assignment 1/a1p1_ahuja.py:168-172``) from
*placement* to *membership*: the
same hash-mod idea, applied to md5 so the assignment is engine-portable
and stable across reruns/cluster sizes.

Determinism: every decision is a pure function of ``md5(tag || doc_id)``
— identical in Spark, DuckDB, and hashlib (the repo-wide anchor, see
operators/dedup.py module docstring). No ``rand()``: Spark's rand is
seed-*and-partitioning* dependent, so a repartition would silently
change the split — unacceptable for a training corpus.

Scale design: both operators are one narrow projection over the corpus
(the hash is computed where the row lives; no shuffle to decide
membership) plus, for x02, a broadcast join against a per-source rate
table that is result-sized (one row per source). Nothing here moves
the text column across the network.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_analytics_cse545_spark.functions.text import SQL_TOKENS
from big_data_analytics_cse545_spark.sources import load_table, spread_scan

# 2^32 — the hash domain: first 8 md5 hex chars parsed as an integer.
HASH_DOMAIN = 4294967296.0

# x01 split percentages (bucket = md5 mod 100).
TRAIN_PCT, VAL_PCT = 98, 1


def hash_bucket(key: Column, tag: str, mod: int | None = None) -> Column:
    """Deterministic uniform hash of ``key`` (any column; cast to
    string) in [0, 2^32), optionally reduced mod ``mod``. JVM-side
    only: md5 → first 8 hex chars → conv(16, 10)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(tag), key.cast("string"))), 1, 8), 16, 10
    ).cast("long")
    return (h % mod) if mod else h


# DuckDB twin of hash_bucket (no conv(): hex-literal CAST).
def _sql_hash(key_sql: str, tag: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5('{tag}' || CAST({key_sql} AS VARCHAR)), 1, 8))"
        " AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# x01 — deterministic train/val/test split
# ---------------------------------------------------------------------------

def x01_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to train/val/test (98/1/1) by
    ``md5('split|' || doc_id) mod 100`` — the standard reproducible-split
    recipe: stable under reruns, repartitioning, cluster resizing, and
    incremental corpus growth (old docs never change split when new docs
    arrive — a random split can't promise any of that).

    Shape at scale: a narrow per-row projection — no shuffle, no state;
    the split column costs one md5 per row and pushes down with the scan.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"), "split|", mod=100)
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.select(
        "doc_id",
        "source",
        bucket.alias("bucket"),
        split.alias("split"),
    ).orderBy("doc_id")


_X01_SQL = f"""
SELECT doc_id, source, bucket,
       CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
            WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, source,
         {_sql_hash('doc_id', 'split|')} % 100 AS bucket
  FROM documents
)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# x02 — temperature-weighted source balancing
# ---------------------------------------------------------------------------

def x02_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample over-represented sources toward a temperature-balanced
    mixture: keep-rate r_s = sqrt(min_n / n_s) per source (alpha=0.5
    multinomial temperature, realized as a deterministic per-doc
    Bernoulli: keep iff hash < floor(r_s * 2^32)). The smallest source
    keeps everything; a source 4x larger keeps half. Output is the
    per-source mixing report (totals, kept, rate).

    Float-parity: min_n/n_s (exact int-to-double), sqrt (IEEE correctly
    rounded), *2^32 (power-of-two scaling), floor — every step is
    bit-identical in Spark and DuckDB, so the integer threshold and
    therefore the kept set are engine-exact.

    Shape at scale: per-source counts are a map-side-combined agg whose
    result is one row per source; rates broadcast back; membership is
    again a narrow per-row hash compare. One small shuffle (the count),
    zero wide ones.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    min_n = counts.agg(F.min("n_total").alias("min_n"))
    rates = (
        counts.crossJoin(F.broadcast(min_n))
        .withColumn(
            "keep_rate",
            F.sqrt(F.col("min_n").cast("double") / F.col("n_total").cast("double")),
        )
        .withColumn(
            "threshold", F.floor(F.col("keep_rate") * F.lit(HASH_DOMAIN)).cast("long")
        )
    )
    kept = (
        d.join(F.broadcast(rates), "source")
        .withColumn(
            "keep", hash_bucket(F.col("doc_id"), "mix|") < F.col("threshold")
        )
    )
    return (
        kept.groupBy("source")
        .agg(
            F.max("n_total").alias("n_total"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.max("keep_rate").alias("keep_rate"),
        )
        .orderBy("source")
    )


_X02_SQL = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_total FROM documents GROUP BY source
),
rates AS (
  SELECT source, n_total,
         sqrt(CAST((SELECT MIN(n_total) FROM counts) AS DOUBLE)
              / CAST(n_total AS DOUBLE)) AS keep_rate
  FROM counts
),
flagged AS (
  SELECT d.source, r.n_total, r.keep_rate,
         CASE WHEN {_sql_hash('d.doc_id', 'mix|')}
                   < CAST(floor(r.keep_rate * {HASH_DOMAIN}) AS BIGINT)
              THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN rates r USING (source)
)
SELECT source,
       MAX(n_total) AS n_total,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       MAX(keep_rate) AS keep_rate
FROM flagged
GROUP BY source
ORDER BY source
"""


# ---------------------------------------------------------------------------
# x03 — end-to-end training-data pipeline (quality → dedup → split → stats)
# ---------------------------------------------------------------------------

MIN_TOKENS = 20  # quality gate: drop docs shorter than this


def x03_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data prep pipeline in one declarative plan:
    quality gate (≥ MIN_TOKENS tokens) → exact dedup (keep the lowest
    doc_id per md5-of-lowercased-text, d01 semantics) → deterministic
    split (x01 semantics) → per (split, source) corpus stats. This is
    the end-to-end shape a corpus build runs nightly; expressing it as
    ONE DataFrame lets Catalyst fuse the gate into the scan and plan
    dedup + stats with two total shuffles (hash key, then group key).

    Shape at scale: the only data-sized shuffle is the dedup window on
    the 16-byte content hash (same key discipline as d01 — never the
    text); split assignment adds zero movement; the stats agg shuffles
    result-sized rows.
    """
    from pyspark.sql.window import Window

    from big_data_analytics_cse545_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    gated = d.select(
        "doc_id",
        "source",
        F.md5(F.lower(F.col("text"))).alias("h"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
    ).filter(F.col("n_tok") >= MIN_TOKENS)
    w = Window.partitionBy("h").orderBy("doc_id")
    kept = gated.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    bucket = hash_bucket(F.col("doc_id"), "split|", mod=100)
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        kept.withColumn("split", split)
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("split", "source")
    )


_X03_SQL = f"""
WITH raw AS (
  SELECT doc_id, source, md5(lower(text)) AS h,
         CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tok
  FROM documents
),
gated AS (SELECT * FROM raw WHERE n_tok >= {MIN_TOKENS}),
kept AS (
  SELECT doc_id, source, n_tok
  FROM gated
  QUALIFY ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) = 1
),
labeled AS (
  SELECT doc_id, source, n_tok,
         {_sql_hash('doc_id', 'split|')} % 100 AS bucket
  FROM kept
)
SELECT CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
            WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc
FROM labeled
GROUP BY 1, 2
ORDER BY split, source
"""


# ---------------------------------------------------------------------------
# x04 — token-budget corpus selection (quality-ranked, exact, distributed)
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 8000  # total token budget for the selected sub-corpus

def x04_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select the highest-quality documents whose token counts fit a
    fixed budget — the "give me the best N-token sub-corpus" selection
    every pre-training run starts with.

    The naive spelling is a GLOBAL ORDER BY quality + running-sum cutoff
    — a single-reducer window, dead at 100 TB. The distributed exact
    form is :func:`api.token_budget_select` (this query is a binding of
    it, so the oracle checks the function users call) over an integer
    quality bucket per doc, ``floor(1000·alpha_ratio)`` — ≤ 1001
    distinct values by construction, so the per-bucket histogram and
    its running offsets are result-sized. Triage on that histogram keeps the buckets that
    fit whole, drops the ones starting past the budget, and runs the
    within-bucket cumulative-sum window on the single boundary bucket
    only: one hot score (all non-Latin docs score 0) can no longer
    funnel a double-digit share of the corpus through one reducer.

    Keep iff ``bucket_offset + within_bucket_cumsum <= BUDGET``: exact,
    deterministic (ties broken by doc_id), and every data-sized stage
    is either a narrow projection or a one-bucket window.
    """
    from big_data_analytics_cse545_spark import api
    from big_data_analytics_cse545_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tok"),
        # try_divide+coalesce: an empty doc (n_chars 0) scores 0 instead
        # of throwing the whole job under ANSI division (oracle twin
        # spells the same via nullif+coalesce)
        F.floor(
            F.coalesce(
                F.try_divide(
                    F.lit(1000.0)
                    * F.length(
                        F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
                    ),
                    F.col("n_chars").cast("double"),
                ),
                F.lit(0.0),
            )
        ).cast("long").alias("score"),
    )
    return (
        api.token_budget_select(base, "score", "n_tok", "doc_id", TOKEN_BUDGET)
        .select("doc_id", "score", "n_tok")
        .orderBy(F.desc("score"), "doc_id")
    )


_X04_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tok,
         CAST(coalesce(floor(1000.0 * len(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                    / nullif(n_chars, 0)), 0) AS BIGINT) AS score
  FROM documents
),
hist AS (SELECT score, SUM(n_tok) AS bucket_tok FROM base GROUP BY score),
offsets AS (
  SELECT score,
         SUM(bucket_tok) OVER (ORDER BY score DESC) - bucket_tok AS prev_tok
  FROM hist
),
sel AS (
  SELECT b.doc_id, b.score, b.n_tok,
         o.prev_tok + SUM(b.n_tok) OVER (PARTITION BY b.score ORDER BY b.doc_id)
           AS running
  FROM base b JOIN offsets o USING (score)
)
SELECT doc_id, score, n_tok FROM sel
WHERE running <= {TOKEN_BUDGET}
ORDER BY score DESC, doc_id
"""


# ---------------------------------------------------------------------------
# x05 — stratified fixed-size sample (exact top-K per stratum, skew-safe)
# ---------------------------------------------------------------------------

STRATUM_K = 20  # docs kept per language stratum
_X05_SALTS = 8  # phase-1 fan-out per stratum


def x05_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly K documents per language stratum, chosen by deterministic
    hash order — the eval-set / human-review sampler (fixed size per
    stratum, reproducible across reruns and cluster sizes, unlike
    ``df.sampleBy`` which is fraction-based AND partitioning-dependent).

    Skew story: ``row_number() OVER (PARTITION BY lang)`` alone sends
    each stratum's ENTIRE row set through one reducer — the hot-stratum
    version of the single-reducer window. This is the two-phase exact
    top-K instead:

    1. phase 1 partitions by (lang, salt) — salt = hash mod
       ``_X05_SALTS``, deterministic per doc — and keeps each
       salt-group's local top-K; a stratum of any size is spread over
       ``_X05_SALTS`` reducers, each emitting ≤ K candidate rows;
    2. phase 2 ranks the ≤ ``_X05_SALTS``·K survivors per stratum — a
       window over candidate-sized input (result-sized, not data-sized).

    The local top-K of every salt group is a superset of the global
    top-K members hashed into it, so the two phases are exactly
    equivalent to the naive window; the oracle runs the naive spelling.
    A binding of :func:`api.stratified_sample`, so the oracle checks
    the function users call.
    """
    from big_data_analytics_cse545_spark import api

    d = load_table(spark, sf_dir, "documents")
    return (
        api.stratified_sample(d, "lang", "doc_id", STRATUM_K, n_salts=_X05_SALTS)
        .select("lang", "rank", "doc_id")
        .orderBy("lang", "rank")
    )


_X05_SQL = f"""
SELECT lang, rank, doc_id
FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {_sql_hash('doc_id', 'strat|')}, doc_id
         ) AS rank
  FROM documents
)
WHERE rank <= {STRATUM_K}
ORDER BY lang, rank
"""


# ---------------------------------------------------------------------------
# x06 — leakage-safe split (near-dup clusters stay on one side)
# ---------------------------------------------------------------------------

def x06_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x01's deterministic split with the eval-leakage hole closed: the
    split key is the near-dup CLUSTER representative (min doc_id of the
    d04-SimHash / d08-connected-components group; singletons key on
    themselves), so two near-duplicate documents can never land in
    train and test — the classic contamination a per-doc random or
    per-doc hash split cannot prevent.

    Shape at 100 TB: the cluster labeling is d08's min-label propagation
    (shuffles (id, label) pairs only, diameter-bounded iterations); the
    split itself stays a narrow projection. The clustered-ids relation
    holds one row per document that has ANY near-duplicate — at
    web-crawl dup rates (30-50%) that is corpus-proportional, so the
    join deliberately carries NO broadcast hint: AQE broadcasts it when
    it measures small and falls back to a shuffled hash join on 16-byte
    doc_id keys when it doesn't, instead of OOMing on a mandatory hint.
    A binding of :func:`api.leakage_safe_split`, so the oracle checks
    the function users call.
    """
    from big_data_analytics_cse545_spark import api

    d = load_table(spark, sf_dir, "documents")
    return (
        api.leakage_safe_split(d, "text", "doc_id")
        .select("doc_id", "split_key", "split")
        .orderBy("doc_id")
    )


def _x06_sql() -> str:
    from big_data_analytics_cse545_spark.operators.dedup import (
        HAMMING_MAX,
        _d04_cte_body,
    )

    key = "COALESCE(l.cluster_id, d.doc_id)"
    bucket = f"{_sql_hash(key, 'split|')} % 100"
    return f"""
WITH RECURSIVE {_d04_cte_body()},
pairs AS (
  SELECT d1, d2 FROM cand WHERE bit_count(xor(s1, s2)) <= {HAMMING_MAX}
),
edges AS (
  SELECT d1 AS u, d2 AS v FROM pairs
  UNION
  SELECT d2 AS u, d1 AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS id FROM edges),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
),
labels AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
SELECT d.doc_id, {key} AS split_key,
       CASE WHEN {bucket} < {TRAIN_PCT} THEN 'train'
            WHEN {bucket} < {TRAIN_PCT + VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# x07 — DSIR data selection (hashed n-gram importance resampling)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024     # hashed-bigram feature space (the paper uses 10^4)
DSIR_KEEP_DIV = 10      # select the top ⌊n/10⌋ scored documents
DSIR_HBUCKET = 10_000   # histogram granularity for the distributed top-K


def x07_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR — Xie et al. 2023,
    arXiv:2302.03169): score every document by how much more likely its
    hashed-bigram features are under a TARGET distribution than under
    the RAW corpus distribution, then keep the top ⌊n/10⌋ scorers.
    The ``lang = 'en'`` slice stands in for the curated target corpus
    (in production: Wikipedia/books vs the whole crawl).

    Exactly the paper's estimator, made engine-deterministic:

    - features: token bigrams hashed into ``DSIR_BUCKETS`` cells with
      the repo's md5 ``hash_bucket`` (SQL-portable);
    - bucket weights: add-one-smoothed log-likelihood ratio
      ``ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B))``, ROUNDED TO INTEGER
      MICRO-NATS — per-doc scores are then exact BIGINT sums, immune
      to float-summation order (no cross-engine drift by construction);
    - selection: the x04 histogram-offset pattern instead of a global
      ORDER BY — per-score-band counts (histogram-sized), running
      offsets over that tiny relation, and a row_number window
      partitioned by band. No single-reducer stage anywhere.

    Scale shape (100 TB): two WordCount-shaped aggregations (bigram →
    bucket counts is map-side combined on ≤ B distinct keys; per-doc
    score sums combine map-side on doc_id), one broadcast of the
    B-row weight table (fixed-size by construction, NOT
    corpus-proportional), and the histogram select. Text never
    shuffles; the widest shuffled row is (doc_id, lang, bkt).
    """
    from pyspark.sql.window import Window

    from big_data_analytics_cse545_spark.functions.text import bigrams, tokens

    # NO spread here (round-13, r12 verdict item 2): the r12 spread was
    # measured slower under bench conditions — cold min-of-3 at 32c
    # reads 6.8–8.1 s WITH the spread vs 5.7–5.9 s without; warm
    # min-of-4 3.27 vs 2.42 s — because both ReuseExchange consumers
    # re-read the spread's exchange output, doubling its fetch cost,
    # while the shared multiplicity aggregate below (kept: warm-neutral
    # locally, corpus-collapsing at scale) already parallelizes
    # everything past the scan. At production row-group counts the
    # spread was a structural no-op anyway, so nothing is lost at scale.
    d = load_table(spark, sf_dir, "documents")
    bg = (
        d.select("doc_id", "lang", tokens(F.col("text")).alias("ts"))
        .select(
            "doc_id",
            "lang",
            F.explode(bigrams(F.col("ts"), "_")).alias("bg"),
        )
        .select(
            "doc_id",
            "lang",
            hash_bucket(F.col("bg"), "dsir", DSIR_BUCKETS).alias("bkt"),
        )
    )
    # Round-12 optimization (guide §2.3 aggregate-before-shuffle +
    # §2.4 shared exchange): the raw instance stream used to feed BOTH
    # the bucket-count estimator and the per-doc scorer, and the two
    # branches shared no exchange — the tokenize+explode ran twice per
    # query. Collapsing instances to per-(doc, bucket) multiplicities
    # FIRST gives both branches the identical partial-agg→Exchange
    # subtree, which ReuseExchange evaluates once; the arithmetic stays
    # exact BIGINT (Σ over instances ≡ Σ m·w over multiplicities).
    db = bg.groupBy("doc_id", "lang", "bkt").agg(F.count(F.lit(1)).alias("m"))
    cnt = db.groupBy("bkt").agg(
        F.sum("m").alias("r_n"),
        F.sum(F.when(F.col("lang") == "en", F.col("m")).otherwise(0)).alias("t_n"),
    )
    tot = cnt.agg(F.sum("r_n").alias("big_r"), F.sum("t_n").alias("big_t"))
    w = cnt.crossJoin(F.broadcast(tot)).select(
        "bkt",
        F.round(
            (
                F.log((F.col("t_n") + 1.0) / (F.col("big_t") + DSIR_BUCKETS))
                - F.log((F.col("r_n") + 1.0) / (F.col("big_r") + DSIR_BUCKETS))
            )
            * 1e6
        )
        .cast("long")
        .alias("w_micro"),
    )
    scored = (
        db.join(F.broadcast(w), "bkt")
        .groupBy("doc_id")
        .agg(F.sum(F.col("m") * F.col("w_micro")).alias("dsir_score"))
    )
    mn = scored.agg(F.min("dsir_score").alias("mn"))
    s = scored.crossJoin(F.broadcast(mn)).select(
        "doc_id",
        "dsir_score",
        F.expr(f"(dsir_score - mn) DIV {DSIR_HBUCKET}").alias("hbkt"),
    )
    hist = s.groupBy("hbkt").agg(F.count(F.lit(1)).alias("n"))
    w_off = (
        Window.orderBy(F.desc("hbkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = hist.select(
        "hbkt", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off")
    )
    ktab = scored.agg(
        F.floor(F.count(F.lit(1)) / DSIR_KEEP_DIV).alias("keep_k")
    )
    w_in = Window.partitionBy("hbkt").orderBy(F.desc("dsir_score"), "doc_id")
    return (
        s.join(F.broadcast(offs), "hbkt")
        .withColumn("rn", F.row_number().over(w_in))
        .crossJoin(F.broadcast(ktab))
        .filter(F.col("off") + F.col("rn") <= F.col("keep_k"))
        .select("doc_id", "dsir_score")
        .orderBy("doc_id")
    )


_X07_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang,
         {SQL_TOKENS} AS ts
  FROM documents
),
bg AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(ts)), i -> ts[i] || '_' || ts[i+1])) AS bg
  FROM tok
),
b AS (
  SELECT doc_id, lang, {_sql_hash('bg', 'dsir')} % {DSIR_BUCKETS} AS bkt FROM bg
),
cnt AS (
  SELECT bkt, COUNT(*) AS r_n,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_n
  FROM b GROUP BY bkt
),
tot AS (SELECT SUM(r_n) AS big_r, SUM(t_n) AS big_t FROM cnt),
w AS (
  SELECT bkt,
         CAST(ROUND((ln((t_n + 1.0) / (big_t + {DSIR_BUCKETS}))
                   - ln((r_n + 1.0) / (big_r + {DSIR_BUCKETS}))) * 1e6) AS BIGINT)
           AS w_micro
  FROM cnt, tot
),
scored AS (
  -- cast: DuckDB SUM(BIGINT) widens to HUGEINT (float64 via pandas),
  -- which would kind-mismatch Spark's exact BIGINT in the value hash
  SELECT doc_id, CAST(SUM(w_micro) AS BIGINT) AS dsir_score
  FROM b JOIN w USING (bkt) GROUP BY doc_id
),
mn AS (SELECT MIN(dsir_score) AS mn FROM scored),
s AS (
  SELECT doc_id, dsir_score, (dsir_score - mn) // {DSIR_HBUCKET} AS hbkt
  FROM scored, mn
),
hist AS (SELECT hbkt, COUNT(*) AS n FROM s GROUP BY hbkt),
offs AS (
  SELECT hbkt,
         COALESCE(SUM(n) OVER (ORDER BY hbkt DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM hist
),
ktab AS (
  SELECT CAST(FLOOR(COUNT(*) / {DSIR_KEEP_DIV}.0) AS BIGINT) AS keep_k FROM scored
),
sel AS (
  SELECT s.doc_id, s.dsir_score, o.off,
         ROW_NUMBER() OVER (PARTITION BY s.hbkt
             ORDER BY s.dsir_score DESC, s.doc_id) AS rn
  FROM s JOIN offs o USING (hbkt)
)
SELECT doc_id, dsir_score FROM sel, ktab
WHERE off + rn <= keep_k
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# x08 — composed LLM-data prep pipeline v2 (LM gate → Gopher gate → dedup)
# ---------------------------------------------------------------------------

def x08_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second-generation prep funnel, composed as ONE lazy plan:

    1. unigram-LM perplexity gate (t22): drop 'tail' documents;
    2. Gopher repetition gate (t13): drop documents whose duplicate-
       token fraction or top-bigram share exceeds the MassiveText
       bounds;
    3. exact dedup (d01 key discipline): survivor = min doc_id per
       md5(text);
    4. corpus stats per (lang, ppl_bucket): documents and token mass.

    x03 chains *structural* stages (quality → dedup → split); this
    chains the *model-based* gates a modern pipeline layers on top —
    and because every stage is a DataFrame transformation, Catalyst
    fuses the whole funnel: the LM build and the repetition signals
    each read the corpus once, every verdict joins back on doc_id, and
    the only data-sized shuffles are keyed by doc_id/md5/word — the
    text column itself never leaves its scan stage. Every gate's
    arithmetic is exact (integer micro-nats, integer token counts,
    correctly-rounded single divisions), so the full four-stage funnel
    still hash-matches DuckDB end to end.
    """
    from big_data_analytics_cse545_spark.functions.text import bigrams, tokens
    from big_data_analytics_cse545_spark.operators.text import (
        DUP_TOKEN_MAX,
        PPL_HEAD_MICRO,
        PPL_MIDDLE_MICRO,
        TOP_BIGRAM_MAX,
    )
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "lang", F.md5("text").alias("h"), tokens(F.col("text")).alias("ts")
    ).withColumn("n_tok", F.size("ts").cast("long"))
    # LM scoring joins on the pre-aggregated (doc_id, word, tf)
    # relation — not the raw token explosion — which is bit-identical
    # (sum_nll = Σ tf·nll is the same exact integer sum) and shrinks
    # the join's shuffled volume from per-occurrence to per-(doc, word)
    # rows; on Zipf-hot stopword keys that's the difference between a
    # skewed occurrence-count shuffle and a bounded distinct-pair one
    # (same rewrite as t14/t22, measured 2.33× less shuffled volume).
    tok = base.select("doc_id", F.explode("ts").alias("word"))
    doc_tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    vocab = doc_tf.groupBy("word").agg(F.sum("tf").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("big_t"), F.count(F.lit(1)).alias("big_v"))
    lm = vocab.crossJoin(F.broadcast(tot)).select(
        "word",
        F.round(
            -F.log((F.col("cnt") + 1.0) / (F.col("big_t") + F.col("big_v")).cast("double")) * 1e6
        ).cast("long").alias("nll"),
    )
    scored = doc_tf.join(lm, "word").groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("nll")).alias("sum_nll")
    )
    top = (
        base.select(
            "doc_id",
            F.explode(bigrams(F.col("ts"), " ")).alias("bg"),
        )
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_n"))
    )
    dup_frac = F.lit(1.0) - F.try_divide(
        F.size(F.array_distinct("ts")).cast("double"), F.col("n_tok").cast("double")
    )
    top_frac = F.coalesce(
        F.col("top_n").cast("double") / (F.col("n_tok") - F.lit(1)).cast("double"),
        F.lit(0.0),
    )
    bucket = (
        F.when(F.col("sum_nll") < PPL_HEAD_MICRO * F.col("n_tok"), "head")
        .when(F.col("sum_nll") < PPL_MIDDLE_MICRO * F.col("n_tok"), "middle")
        .otherwise("tail")
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    survivors = (
        base.join(scored, "doc_id")
        .join(top, "doc_id", "left")
        .withColumn("ppl_bucket", bucket)
        .filter(F.col("ppl_bucket") != "tail")
        .filter(~((dup_frac > DUP_TOKEN_MAX) | (top_frac > TOP_BIGRAM_MAX)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        survivors.groupBy("lang", "ppl_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
        )
        .orderBy("lang", "ppl_bucket")
    )


def _x08_sql() -> str:
    from big_data_analytics_cse545_spark.operators.text import (
        DUP_TOKEN_MAX,
        PPL_HEAD_MICRO,
        PPL_MIDDLE_MICRO,
        TOP_BIGRAM_MAX,
    )

    return f"""
WITH base AS (
  SELECT doc_id, lang, md5(text) AS h, {SQL_TOKENS} AS ts
  FROM documents
),
b2 AS (SELECT *, len(ts) AS n_tok FROM base),
tok AS (SELECT doc_id, unnest(ts) AS word FROM base),
vocab AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS big_t, COUNT(*) AS big_v FROM vocab),
lm AS (
  SELECT word,
         CAST(ROUND(-ln((cnt + 1.0) / CAST(big_t + big_v AS DOUBLE)) * 1e6)
              AS BIGINT) AS nll
  FROM vocab CROSS JOIN tot
),
scored AS (
  SELECT doc_id, CAST(SUM(nll) AS BIGINT) AS sum_nll
  FROM tok JOIN lm USING (word) GROUP BY doc_id
),
top AS (
  SELECT doc_id, MAX(c) AS top_n
  FROM (
    SELECT doc_id, bg, COUNT(*) AS c
    FROM (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])) AS bg
      FROM base
    )
    GROUP BY doc_id, bg
  )
  GROUP BY doc_id
),
verdicts AS (
  SELECT b.doc_id, b.lang, b.h, b.n_tok,
         CASE WHEN s.sum_nll < {PPL_HEAD_MICRO} * b.n_tok THEN 'head'
              WHEN s.sum_nll < {PPL_MIDDLE_MICRO} * b.n_tok THEN 'middle'
              ELSE 'tail' END AS ppl_bucket,
         1.0 - CAST(len(list_distinct(b.ts)) AS DOUBLE) / CAST(b.n_tok AS DOUBLE) AS dup_frac,
         coalesce(CAST(t.top_n AS DOUBLE) / CAST(b.n_tok - 1 AS DOUBLE), 0.0) AS top_frac
  FROM b2 b JOIN scored s USING (doc_id) LEFT JOIN top t USING (doc_id)
),
survivors AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
  FROM verdicts
  WHERE ppl_bucket <> 'tail'
    AND NOT (dup_frac > {DUP_TOKEN_MAX} OR top_frac > {TOP_BIGRAM_MAX})
)
SELECT lang, ppl_bucket, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
FROM survivors WHERE rn = 1
GROUP BY lang, ppl_bucket
ORDER BY lang, ppl_bucket
"""


# ---------------------------------------------------------------------------
# x09 — quality-classifier gate (hashed n-gram linear model, CCNet/fastText)
# ---------------------------------------------------------------------------

QC_BUCKETS = 2048   # hashed unigram+bigram feature space (fastText -bucket)
QC_TAG = "qc"       # hash-family tag (the x01 'split|' / x07 'dsir' discipline)


def classify_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "_pos",
    train_col: str | None = None,
    n_buckets: int = QC_BUCKETS,
    tag: str = QC_TAG,
) -> DataFrame:
    """The CCNet/fastText-style keep/drop quality gate (Wenzek et al.
    2019, arXiv:1911.00359; Joulin et al. 2016 fastText): a hashed
    bag-of-n-grams linear classifier, trained as event-level Naive
    Bayes on rows where ``train_col`` holds (boolean ``label_col`` is
    the positive class) and applied to EVERY row — inference is pure
    JVM expressions with x07's integer micro-nat discipline
    (:func:`hash_bucket`, sampling.py:44), so per-doc scores are exact
    BIGINT sums, immune to float-summation order.

    The model, exactly:

    - features: unigrams + bigrams of the engine tokenizer's stream,
      WITH multiplicity, hashed into ``n_buckets`` cells (fastText's
      ``-bucket``/``wordNgrams 2`` shape);
    - per-bucket weight (train rows only): add-one-smoothed NB
      log-odds ``ln((p_b+1)/(P+B)) − ln((q_b+1)/(Q+B))``, rounded
      ONCE to integer micro-nats; buckets unseen in training get the
      same formula at count 0 (the smoothing floor), so every
      inference feature has a defined exact weight;
    - bias: the class prior ``ln((n_pos+1)/(n_neg+1))`` in micro-nats
      over train DOCS;
    - gate: the multinomial-NB decision rule ``bias + Σ_f w_f ≥ 0``
      (log-posterior odds of the positive class) — a pure BIGINT sum,
      so the decision boundary itself has no rounding surface.
      Zero-feature docs are dropped (a quality gate has no evidence
      to keep them on).

    Output: (doc_id, n_feats, qc_sum_micro, qc_gate_micro, keep) for
    every input row. Scale shape (the x07 analysis verbatim): two
    WordCount-shaped aggregations (bucket counts combine map-side on
    ≤ B keys; doc sums combine on doc_id), one broadcast of the B-row
    weight table (fixed-size by construction), one broadcast 1-row
    bias. The text column never shuffles; the widest shuffled row is
    (doc_id, label, bkt).
    """
    from big_data_analytics_cse545_spark.functions.text import bigrams, tokens

    # spread: tokenize+bigram+hash and the multiplicity partial agg
    # pipeline into a one-task scan stage on single-row-group inputs;
    # no-op at scale (sources.spread_scan)
    base = spread_scan(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).alias("_pos"),
        (F.lit(True) if train_col is None else F.col(train_col)).alias("_tr"),
        tokens(F.col(text_col)).alias("ts"),
    )
    feats = base.select(
        "doc_id",
        "_pos",
        "_tr",
        F.explode(F.concat(F.col("ts"), bigrams(F.col("ts"), "_"))).alias("f"),
    )
    b = feats.select(
        "doc_id", "_pos", "_tr", hash_bucket(F.col("f"), tag, n_buckets).alias("bkt")
    )
    # per-(doc, bucket) multiplicities first — the x07 round-12
    # restructure: one tokenize+explode pass feeds train counting AND
    # inference through a single reused exchange (exact-integer
    # equivalence: Σ over instances ≡ Σ m·w over multiplicities)
    db = b.groupBy("doc_id", "_pos", "_tr", "bkt").agg(
        F.count(F.lit(1)).alias("m")
    )
    # the train restriction is folded INTO the aggregate (not a filter
    # above db): a filter would be pushed below db's exchange, making
    # the two subtrees differ and defeating ReuseExchange. Buckets with
    # zero train rows now surface as (p_n=0, q_n=0), whose weight
    # formula ln(1/(P+B)) − ln(1/(Q+B)) is bit-identical to default_w
    # (0 + 1.0 == 1.0 exactly), and they add zero to tot — so the
    # scores are unchanged to the last bit.
    # (nested when, not `_tr & ~_pos`: a NULL _pos must land in q_n
    # exactly as the old filter-then-otherwise spelling put it there)
    cnt = db.groupBy("bkt").agg(
        F.sum(
            F.when(
                F.col("_tr"), F.when(F.col("_pos"), F.col("m")).otherwise(0)
            ).otherwise(0)
        ).alias("p_n"),
        F.sum(
            F.when(
                F.col("_tr"), F.when(F.col("_pos"), 0).otherwise(F.col("m"))
            ).otherwise(0)
        ).alias("q_n"),
    )
    # coalesce: an EMPTY train split (train_col matches no rows) makes
    # every aggregate NULL, which would propagate a three-valued-logic
    # NULL into the boolean gate; at zero counts the add-one smoothing
    # is perfectly defined (all weights = the smoothing floor = 0 here,
    # prior = ln(1/1) = 0), so zero totals are the honest value
    tot = cnt.agg(
        F.coalesce(F.sum("p_n"), F.lit(0)).alias("big_p"),
        F.coalesce(F.sum("q_n"), F.lit(0)).alias("big_q"),
    )
    w = cnt.crossJoin(F.broadcast(tot)).select(
        "bkt",
        F.round(
            (
                F.log((F.col("p_n") + 1.0) / (F.col("big_p") + n_buckets))
                - F.log((F.col("q_n") + 1.0) / (F.col("big_q") + n_buckets))
            )
            * 1e6
        )
        .cast("long")
        .alias("w_micro"),
    )
    pr = base.filter("_tr").agg(
        F.round(
            F.log(
                (F.coalesce(F.sum(F.when(F.col("_pos"), 1).otherwise(0)), F.lit(0)) + 1.0)
                / (F.coalesce(F.sum(F.when(F.col("_pos"), 0).otherwise(1)), F.lit(0)) + 1.0)
            )
            * 1e6
        )
        .cast("long")
        .alias("b_micro")
    )
    default_w = (
        F.round(
            (
                F.log(1.0 / (F.col("big_p") + n_buckets))
                - F.log(1.0 / (F.col("big_q") + n_buckets))
            )
            * 1e6
        ).cast("long")
    )
    scored = (
        db.join(F.broadcast(w), "bkt", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "m",
            F.coalesce(F.col("w_micro"), default_w).alias("w_eff"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("m").alias("n_feats"),
            F.sum(F.col("m") * F.col("w_eff")).alias("qc_sum_micro"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(pr))
        .withColumn("n_feats", F.coalesce(F.col("n_feats"), F.lit(0)).cast("long"))
        .withColumn(
            "qc_sum_micro", F.coalesce(F.col("qc_sum_micro"), F.lit(0)).cast("long")
        )
        .withColumn(
            "qc_gate_micro", (F.col("qc_sum_micro") + F.col("b_micro")).cast("long")
        )
        .withColumn("keep", (F.col("n_feats") > 0) & (F.col("qc_gate_micro") >= 0))
        .select("doc_id", "n_feats", "qc_sum_micro", "qc_gate_micro", "keep")
    )


def x09_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for :func:`classify_quality`: the classifier is
    trained on the x01 hash-split TRAIN membership (``md5('split|' ||
    doc_id) mod 100 < 98`` — the train/infer separation a deployed
    CCNet gate has, and x01's exact kernel) with ``lang = 'en'`` as
    the positive class (CCNet's curated-language target), then applied
    to the WHOLE corpus — held-out docs are scored by a model that
    never saw them. Deterministic end to end: the split is md5
    membership, the weights are single-rounded micro-nats, the gate is
    BIGINT — hence the DuckDB oracle."""
    d = load_table(spark, sf_dir, "documents")
    labeled = d.withColumn("_pos", F.col("lang") == "en").withColumn(
        "_tr", hash_bucket(F.col("doc_id"), "split|", 100) < TRAIN_PCT
    )
    return classify_quality(labeled, train_col="_tr").orderBy("doc_id")


def _x09_sql() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, lang, {SQL_TOKENS} AS ts,
         {_sql_hash('doc_id', 'split|')} % 100 < {TRAIN_PCT} AS is_train
  FROM documents
),
feats AS (
  SELECT doc_id, lang, is_train,
         unnest(list_concat(ts,
           list_transform(range(1, len(ts)), i -> ts[i] || '_' || ts[i + 1]))) AS f
  FROM base
),
b AS (
  SELECT doc_id, lang, is_train, {_sql_hash('f', QC_TAG)} % {QC_BUCKETS} AS bkt
  FROM feats
),
cnt AS (
  SELECT bkt,
         SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p_n,
         SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS q_n
  FROM b WHERE is_train GROUP BY bkt
),
tot AS (SELECT COALESCE(SUM(p_n), 0) AS big_p,
              COALESCE(SUM(q_n), 0) AS big_q FROM cnt),
w AS (
  SELECT bkt,
         CAST(ROUND((ln((p_n + 1.0) / (big_p + {QC_BUCKETS}))
                   - ln((q_n + 1.0) / (big_q + {QC_BUCKETS}))) * 1e6) AS BIGINT)
           AS w_micro
  FROM cnt, tot
),
pr AS (
  SELECT CAST(ROUND(ln((COALESCE(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 0) + 1.0)
                      / (COALESCE(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END), 0) + 1.0)) * 1e6)
              AS BIGINT) AS b_micro
  FROM base WHERE is_train
),
scored AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(COALESCE(w.w_micro,
             CAST(ROUND((ln(1.0 / (tot.big_p + {QC_BUCKETS}))
                       - ln(1.0 / (tot.big_q + {QC_BUCKETS}))) * 1e6) AS BIGINT)))
           AS BIGINT) AS qc_sum_micro
  FROM b LEFT JOIN w USING (bkt) CROSS JOIN tot
  GROUP BY b.doc_id
)
SELECT d.doc_id,
       COALESCE(s.n_feats, 0) AS n_feats,
       COALESCE(s.qc_sum_micro, 0) AS qc_sum_micro,
       CAST(COALESCE(s.qc_sum_micro, 0) + pr.b_micro AS BIGINT) AS qc_gate_micro,
       COALESCE(s.n_feats, 0) > 0
         AND COALESCE(s.qc_sum_micro, 0) + pr.b_micro >= 0 AS keep
FROM documents d LEFT JOIN scored s USING (doc_id) CROSS JOIN pr
ORDER BY d.doc_id
"""


QUERIES = {
    "x01_hash_split": x01_hash_split,
    "x02_temperature_mix": x02_temperature_mix,
    "x03_pipeline_stats": x03_pipeline_stats,
    "x04_token_budget_select": x04_token_budget_select,
    "x05_stratified_sample": x05_stratified_sample,
    "x06_leakage_safe_split": x06_leakage_safe_split,
    "x07_dsir_select": x07_dsir_select,
    "x08_prep_pipeline": x08_prep_pipeline,
    "x09_quality_classifier": x09_quality_classifier,
}

ORACLE = {
    "x01_hash_split": _X01_SQL,
    "x02_temperature_mix": _X02_SQL,
    "x03_pipeline_stats": _X03_SQL,
    "x04_token_budget_select": _X04_SQL,
    "x05_stratified_sample": _X05_SQL,
    # callable — composes d04/d08's recursive-CTE body lazily
    "x06_leakage_safe_split": _x06_sql,
    "x07_dsir_select": _X07_SQL,
    # callable — pulls thresholds from operators.text lazily
    "x08_prep_pipeline": _x08_sql,
    # callable — keeps the big SQL body out of import time (x08 pattern)
    "x09_quality_classifier": _x09_sql,
}
