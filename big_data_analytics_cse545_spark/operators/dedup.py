"""L3 deduplication — exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

North-star LLM-pipeline operators (BASELINE.json) generalizing the
reference's LSH funnel (``Assignment 2/a2_ahuja.py:99-170``): md5 chunk
signatures (I9) → banding (I10) → bucket-join candidates (I11) → exact
check on the survivors. Same funnel here, applied to text shingles:
cheap sketch first, exact verification only on candidates — the only
shape that works at 100 TB (the all-pairs join d02 exists as the
correctness baseline; d03 is the scale path).

Determinism: every hash is md5-of-string, identical in Spark and DuckDB,
so even the LSH stages have exact SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_analytics_cse545_spark.cache import swap_cached
from big_data_analytics_cse545_spark.functions.text import SQL_TOKENS, shingles, tokens
from big_data_analytics_cse545_spark.sources import load_table, spread_scan

# MinHash parameters: 32 hashes in 8 bands of 4 rows → catches jaccard
# ≳0.7 with high probability while keeping false candidates rare.
N_HASHES = 32
# K-M double-hashing modulus (2^31 − 1, Mersenne prime): keeps every
# (h1 + s·h2) product inside a BIGINT under ANSI overflow checking and
# is reproducible as exact integer arithmetic in DuckDB (see
# _band_keys_df).
MINHASH_P = 2147483647
# Hash-family tag persisted in api.dedup_index params (and save/load
# round-trips): band keys from different families never collide, so a
# mismatch must be a loud error, not an empty candidate join.
MINHASH_SCHEME = "km2-md5"
BAND_ROWS = 4
JACCARD_THRESHOLD = 0.8
JACCARD_THRESHOLD_D10 = 0.7  # batch-vs-corpus near-dup verify (d10), same
                             # bar as d03's pair output threshold


def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) — distinct 3-gram word shingles per document.

    The scan is spread (sources.spread_scan) before the tokenize+shingle
    fan-out: over a single-row-group fixture the whole shingle pipeline
    otherwise runs as ONE scan-stage task; at scale the spread is a
    no-op (round-12 optimization, guide §2.5/§6)."""
    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        d.select("doc_id", tokens(F.col("text")).alias("ts"))
        .select("doc_id", F.explode(shingles(F.col("ts"), 3)).alias("shingle"))
    )


_SQL_SHINGLES = f"""
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(ts) - 1),
                i -> ts[i] || '_' || ts[i + 1] || '_' || ts[i + 2]))) AS shingle
  FROM (SELECT doc_id, {SQL_TOKENS} AS ts FROM documents)
"""


# ---------------------------------------------------------------------------
# d01 — exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + prefix-fingerprint dedup statistics per source.

    Hash-groupBy dedup: full-text md5 (byte-exact dups) and first-8-token
    prefix md5 (header dups). One pass, two distinct-counts — at scale
    this is one shuffle on a 16-byte key, never on the text itself.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return (
        d.select(
            "source",
            F.md5(F.lower(F.col("text"))).alias("h_full"),
            F.md5(F.array_join(F.slice(toks, 1, 8), " ")).alias("h_prefix"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h_full").alias("n_unique_full"),
            F.countDistinct("h_prefix").alias("n_unique_prefix"),
        )
        .orderBy("source")
    )


_D01_SQL = f"""
WITH h AS (
  SELECT source,
         md5(lower(text)) AS h_full,
         md5(CASE WHEN text IS NULL THEN NULL
              ELSE coalesce(array_to_string(list_slice({SQL_TOKENS}, 1, 8), ' '), '')
              END) AS h_prefix
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT h_full) AS n_unique_full,
       COUNT(DISTINCT h_prefix) AS n_unique_prefix
FROM h GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# d02 — all-pairs n-gram Jaccard (correctness baseline for d03)
# ---------------------------------------------------------------------------

def d02_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs with 3-gram-shingle Jaccard ≥ 0.8.

    Inverted-index self-join: explode shingles → equi-join on shingle →
    per-pair intersection counts → |A∪B| = |A|+|B|−|A∩B|. Exact but
    quadratic in the worst case — the correctness oracle for the LSH
    path (d03), kept for small/verification scales.
    """
    sh = _shingles_df(spark, sf_dir)
    cnt = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # Round-12 optimization (guide §2.3 — shuffle fewer bytes into the
    # quadratic stage): a shingle held by exactly ONE document cannot
    # produce a join pair, so the inverted-index self-join only needs
    # posting lists of length ≥ 2. The document-frequency filter is a
    # window over the SAME key the join shuffles on, so it adds no
    # exchange — and on web-scale corpora (and the bench fixtures) the
    # unique-shingle tail is most of the relation. cnt stays over the
    # FULL relation (per-doc sizes count unique shingles too); the pair
    # set, intersections, and Jaccard values are unchanged exactly.
    from pyspark.sql.window import Window as _W

    shared = (
        sh.withColumn("_df", F.count(F.lit(1)).over(_W.partitionBy("shingle")))
        .filter(F.col("_df") > 1)
        .drop("_df")
    )
    a = shared.alias("a")
    b = shared.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    c1 = cnt.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    c2 = cnt.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter"))
    return (
        inter.join(c1, "d1")
        .join(c2, "d2")
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("d1", "d2")
    )


_D02_SQL = f"""
WITH sh AS ({_SQL_SHINGLES}),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       ROUND(inter / CAST(c1.n + c2.n - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN cnt c1 ON d1 = c1.doc_id
JOIN cnt c2 ON d2 = c2.doc_id
WHERE ROUND(inter / CAST(c1.n + c2.n - inter AS DOUBLE), 6) >= {JACCARD_THRESHOLD}
ORDER BY d1, d2
"""


# ---------------------------------------------------------------------------
# d03 — MinHash + LSH banding (the scale path)
# ---------------------------------------------------------------------------

def _band_keys_df(sh: DataFrame, *, n_hashes: int, band_rows: int) -> DataFrame:
    """(_id, _band, _key) — MinHash(n_hashes) banded into
    n_hashes // band_rows keys per ``_id`` of an (_id, _sh) shingle
    relation. The one Spark copy of the band-key expression:
    ``api.minhash_dedup_pairs``, ``api.dedup_index`` and
    ``api.incremental_dedup`` (and through them d03 and d10) call it.
    One aggregation pass computes all minhashes as separate agg columns
    — a single shuffle keyed by _id instead of an n_hashes×
    shingle-row explode (the naive seeds-cross-join shuffles
    N_HASHES× the shingle table; at 100 TB that explode is the
    bottleneck). Band key = md5 of the band's minhashes, seed-ordered
    (matches the oracle's string_agg ORDER BY seed).

    Hash family (round 7): Kirsch–Mitzenmacher double hashing — per
    shingle TWO md5-derived 60-bit values reduced mod MINHASH_P, then
    the N_HASHES functions are ``(h1 + s·h2) mod MINHASH_P``. The
    previous family computed N_HASHES full md5's per shingle row and
    min-aggregated 32-char hex STRINGS; measured at the 10× scale
    corpus (2.6 M shingle rows, persisted input, noop sink) that
    aggregation is 41.7 s vs 7.3 s for this one — the md5 calls
    themselves dominate (an xxhash64 control runs 2.5 s, but DuckDB
    cannot reproduce xxhash64, and the oracle must replay the EXACT
    hash family because 8×4 banding recall is probabilistic, not 1.0).
    md5 stays as the base hash precisely because both engines can
    compute it bit-identically; the K-M reduction cuts the md5 count
    per row from N_HASHES to 2, and the min-agg buffers from hex
    strings to longs. All products fit in a BIGINT by construction
    (h2 < 2^31, s < 32 ⇒ s·h2 < 2^36), so ANSI overflow checking never
    fires, and both engines do exact integer arithmetic. Planted-dup
    recall (test_lsh_recalls_planted_duplicates) holds at 1.0 on the
    fixtures, per the K-M guarantee that pairwise collision behavior
    matches independent hashing up to O(1/P) terms."""
    h1 = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("a|"), F.col("_sh"))), 1, 15),
            16, 10,
        ).cast("long") % MINHASH_P
    )
    h2 = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("b|"), F.col("_sh"))), 1, 15),
            16, 10,
        ).cast("long") % MINHASH_P
    )
    minh = (
        sh.select("_id", h1.alias("_h1"), h2.alias("_h2"))
        .groupBy("_id")
        .agg(
            *[
                F.min((F.col("_h1") + s * F.col("_h2")) % MINHASH_P).alias(f"_mh{s}")
                for s in range(n_hashes)
            ]
        )
    )
    n_bands = n_hashes // band_rows
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"_mh{s}") for s in range(b * band_rows, (b + 1) * band_rows)]
            )
        ).alias(f"_bk{b}")
        for b in range(n_bands)
    ]
    return minh.select("_id", *band_cols).select(
        "_id",
        F.posexplode(F.array(*[F.col(f"_bk{b}") for b in range(n_bands)])).alias(
            "_band", "_key"
        ),
    )


# DuckDB twin of _band_keys_df (expects a CTE named ``sh`` with
# (doc_id, shingle) in scope): hex-literal CAST parses the md5 prefix
# (the sampling.py precedent), and the integer K-M arithmetic is exact
# in both engines. Shared by the d03 and d10 oracles.
_SQL_MINHASH_BANDS = f"""
seeds AS (SELECT unnest(range(0, {N_HASHES})) AS seed),
hs AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('a|' || shingle), 1, 15)) AS BIGINT)
           % {MINHASH_P} AS h1,
         CAST(('0x' || substr(md5('b|' || shingle), 1, 15)) AS BIGINT)
           % {MINHASH_P} AS h2
  FROM sh
),
minh AS (
  SELECT doc_id, seed, MIN((h1 + seed * h2) % {MINHASH_P}) AS mh
  FROM hs CROSS JOIN seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // {BAND_ROWS} AS band,
         md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_key
  FROM minh GROUP BY doc_id, seed // {BAND_ROWS}
)"""

def d03_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8 bands × 4 rows) near-dup pairs, exact-verified.

    The reference's funnel, re-keyed for text: signature = per-function
    min of a K-M double-hashed md5 (see :func:`_band_keys_df`; ≙ md5
    chunk signature, ``a2_ahuja.py:99-120``),
    banding (≙ ``computeBuckets2``, ``a2_ahuja.py:140-149``), bucket
    equi-join for candidates (≙ ``computeSimilarCandidates``,
    ``a2_ahuja.py:164-170``), exact Jaccard only on candidates. Cost at
    scale: shuffles on 16-byte band keys; the all-pairs join never runs.

    A binding of :func:`api.minhash_dedup_pairs` over the spread
    documents scan, so the oracle checks the function users call.
    """
    from big_data_analytics_cse545_spark import api

    d = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    return (
        api.minhash_dedup_pairs(
            d, "text", "doc_id", n_hashes=N_HASHES, band_rows=BAND_ROWS, threshold=0.7
        )
        .select(F.col("id1").alias("d1"), F.col("id2").alias("d2"), "jaccard")
        .orderBy("d1", "d2")
    )


_D03_SQL = f"""
WITH sh AS ({_SQL_SHINGLES}),
{_SQL_MINHASH_BANDS},
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT d1, d2, COUNT(*) AS inter
  FROM cand
  JOIN sh s1 ON s1.doc_id = d1
  JOIN sh s2 ON s2.doc_id = d2 AND s2.shingle = s1.shingle
  GROUP BY d1, d2
)
SELECT d1, d2,
       ROUND(inter / CAST(c1.n + c2.n - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN cnt c1 ON d1 = c1.doc_id
JOIN cnt c2 ON d2 = c2.doc_id
WHERE ROUND(inter / CAST(c1.n + c2.n - inter AS DOUBLE), 6) >= 0.7
ORDER BY d1, d2
"""


# ---------------------------------------------------------------------------
# d04 — 64-bit SimHash + hamming-banded near-dup pairs
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_BANDS = 4          # 4 bands × 16 bits, banding per computeBuckets2
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
HAMMING_MAX = 3            # exact verification threshold on candidates


def _simhash_bit_exprs(n_bits: int, locate_fn: str) -> list[str]:
    """Per-token bit expressions from md5 hex nibbles (bit j = nibble
    j//4, shift 3-j%4). ``locate_fn`` abstracts Spark ``locate(sub, s)``
    vs DuckDB ``strpos(s, sub)`` argument order."""
    exprs = []
    for j in range(n_bits):
        nib = j // 4 + 1  # hex char position 1..16
        shift = 3 - (j % 4)
        if locate_fn == "locate":  # Spark
            pos = f"locate(substr(md5(tok), {nib}, 1), '0123456789abcdef')"
        else:  # DuckDB
            pos = f"strpos('0123456789abcdef', substr(md5(tok), {nib}, 1))"
        exprs.append(f"CAST(floor(({pos} - 1) / {2 ** shift}) AS INT) % 2")
    return exprs


def _bit_weight(j: int) -> int:
    """Power-of-two weight of fingerprint bit ``j`` inside its 16-bit md5
    quarter: hex char ``j//4`` (big-endian nibble order), bit ``3-(j%4)``
    within the nibble — the same (nibble, shift) layout as
    :func:`_simhash_bit_exprs`, so both derivations yield identical
    fingerprints (cross-checked by the d04 oracle compare and
    tests/test_dedup.py's pigeonhole test, which still uses the
    per-nibble spelling)."""
    return 1 << (4 * (3 - (j // 4) % 4) + (3 - j % 4))


def _band_value_sql(b: int) -> str:
    """Band b (0..3) as a 16-bit integer from the vote columns — built
    from votes, not from the signed fingerprint, so neither engine has to
    bit-slice a negative BIGINT."""
    return " + ".join(
        f"CASE WHEN v{SIMHASH_BAND_BITS * b + i} > 0 THEN {2 ** i} ELSE 0 END"
        for i in range(SIMHASH_BAND_BITS)
    )


def _simhash_value_sql() -> str:
    """Signed 64-bit fingerprint from vote columns; bit 63 is the sign
    bit, added as min-long to avoid literal overflow."""
    low = " + ".join(
        f"CASE WHEN v{j} > 0 THEN {2 ** j} ELSE 0 END" for j in range(63)
    )
    return f"({low}) + (CASE WHEN v63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END)"


def d04_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup pairs via hamming-banded LSH.

    Round 1 shipped a 16-bit fingerprint with exact-equality clustering —
    fine on the fixture, garbage at 100 TB (2^16 buckets, billions of
    docs). This is the scale form: 64-bit fingerprint (md5-nibble bits,
    all JVM-side expressions), banded 4×16 (any equal band → candidate,
    the ``computeBuckets2`` pattern, ``a2_ahuja.py:140-149``), then exact
    hamming ≤ 3 verification via ``bit_count(xor)`` on candidates only.
    By pigeonhole, hamming ≤ 3 over 4 bands guarantees ≥ 1 identical
    band, so banding loses nothing at this threshold (recall = 1).
    Shuffles carry (doc_id, 16-bit band key) — never the text.
    """
    d = load_table(spark, sf_dir, "documents")
    # display ordering lives HERE, not in the shared pair builder: the
    # edge-list consumers (d08/x06 connected components) re-shuffle by
    # key immediately, so a global sort of the largest intermediate in
    # the job would be pure wasted shuffle for them (round-6 review)
    return simhash_near_dup_pairs(d).orderBy("d1", "d2")


def simhash_near_dup_pairs(
    d: DataFrame, ham_k: int = HAMMING_MAX, wide_keys: bool = True
) -> DataFrame:
    """The d04 pipeline over any (doc_id, text) DataFrame → (d1, d2,
    hamming) pairs with hamming ≤ ham_k. Hamming-banded: candidates from
    any equal band key, exact bit_count(xor) verify on candidates.

    Two exact banding schemes (identical output, different collision
    mass — both guarantee recall 1 by pigeonhole):

    * ``wide_keys=True`` (default — the Manku/Jain/Sarma WWW'07
      shape): split the 64 bits into ``ham_k+3`` blocks; ≤ ham_k
      differing bits leave at least 3 blocks exact, so keying every
      3-block combination (C(ham_k+3, 3) tables — 20 at ham_k=3) still
      catches every true pair, but each key is ~32 bits wide →
      collision mass per bucket drops by ~2¹⁶ at the same corpus.
      Costs 20 exploded rows per doc instead of 4 and is ALREADY 2.8×
      faster at sf0.1 (9.1 s → 3.2 s, 312 identical pairs — 20k docs
      into 65k buckets is birthday territory); the only setting that
      survives ≫10⁷ docs.
    * ``wide_keys=False`` (the reference-analogous 4 × 16-bit bands,
      computeBuckets2's banding arithmetic): a 16-bit key space caps at
      65,536 buckets, so candidate volume is Θ(N²/2¹⁶) — the round-1
      failure mode past ~10⁷ docs (round-6 review). Kept for parity
      demonstration; the two schemes returning identical pairs is
      test-pinned.
    """
    # spread before the token fan-out: the 64-vote partial aggregation
    # pipelines into the scan stage, which is one task over a
    # single-row-group file (no-op at scale — sources.spread_scan)
    #
    # explicit isNotNull (round-13): the pair join's strict d1 < d2
    # already drops NULL doc_ids from every output, but with the
    # bucket-count window between scan and join Catalyst can no longer
    # infer-and-push that IsNotNull to the scan — stating it here
    # restores the pushdown (PushedFilters gate in PLANS.md), with the
    # join making it a no-op on values by construction.
    toks = spread_scan(d.filter(F.col("doc_id").isNotNull()), "doc_id").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    # ONE md5 per token, parsed into four 16-bit integer quarters with
    # conv(); each of the 64 vote sums is then an integer shift+mask on
    # a quarter column. Round 2 derived every bit with its own
    # locate(substr(md5(tok),...)) chain — 64 md5+locate evaluations per
    # token — which made d04 2.8× slower than its round-1 form. The
    # DuckDB oracle (_d04_sql) keeps the per-nibble strpos spelling
    # (DuckDB has no conv()); the two derivations agreeing bit-for-bit
    # is exactly what the driver's hash compare verifies.
    quarters = toks.select(
        "doc_id",
        *[
            F.expr(
                f"CAST(conv(substr(md5(tok), {4 * b + 1}, 4), 16, 10) AS INT)"
            ).alias(f"q{b}")
            for b in range(SIMHASH_BITS // 16)
        ],
    )
    votes = quarters.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"2 * ((q{j // 16} div {_bit_weight(j)}) % 2) - 1")
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    if wide_keys:
        import itertools

        n_blocks = ham_k + 3
        base_len = SIMHASH_BITS // n_blocks
        rem = SIMHASH_BITS % n_blocks
        lens = [base_len + (1 if i < rem else 0) for i in range(n_blocks)]
        offs = [sum(lens[:i]) for i in range(n_blocks)]

        def block(i: int) -> str:
            # shiftrightunsigned: bit 63 (sign) extracts like any other
            return (
                f"(shiftrightunsigned(simhash, {offs[i]})"
                f" & {(1 << lens[i]) - 1})"
            )

        key_exprs = [
            # pack the 3 chosen blocks into fixed 16-bit slots (each
            # block ≤ 13 bits at ham_k ≤ 10) → one ~34-48-bit bigint key
            F.expr(
                " | ".join(
                    f"shiftleft({block(i)}, {16 * pos})"
                    for pos, i in enumerate(combo)
                )
            ).cast("bigint")
            for combo in itertools.combinations(range(n_blocks), 3)
        ]
        fps = votes.select(
            "doc_id",
            F.expr(_simhash_value_sql()).cast("bigint").alias("simhash"),
        ).select("doc_id", "simhash", F.array(*key_exprs).alias("bands"))
    else:
        fps = votes.select(
            "doc_id",
            F.expr(_simhash_value_sql()).cast("bigint").alias("simhash"),
            F.array(
                *[
                    F.expr(_band_value_sql(b)).cast("bigint")
                    for b in range(SIMHASH_BANDS)
                ]
            ).alias("bands"),
        )
    bands = fps.select("doc_id", "simhash", F.posexplode("bands").alias("band", "bval"))
    # Round-13 optimization (guide §2.3 — the d02 posting-list prune on
    # (band, bval), r12 verdict item 5): a band bucket holding exactly
    # ONE document cannot produce a candidate pair, so the self-join
    # only needs buckets of size ≥ 2. Each document emits at most one
    # row per band index, so the row count per (band, bval) IS the
    # bucket's document count — the filter is exact, and it runs as a
    # window over the SAME key the join shuffles on (no extra
    # exchange). With ~32-bit wide keys the singleton tail is almost
    # the whole relation past birthday scale (sf0.1: 100k band rows →
    # 11.7k in shared buckets, an 8.6× cut); at ≫10⁷ docs this is what
    # keeps the join input candidate-sized instead of corpus×20-sized.
    from pyspark.sql.window import Window as _W

    bands = (
        bands.withColumn(
            "_n", F.count(F.lit(1)).over(_W.partitionBy("band", "bval"))
        )
        .filter(F.col("_n") > 1)
        .drop("_n")
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    # unordered by design: the display entry point (d04) sorts; the
    # edge-list consumers (connected components) re-shuffle by key
    # immediately, so a global sort here would be wasted shuffle of the
    # job's largest intermediate (round-6 review)
    return (
        cand.select("d1", "d2", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= ham_k)
    )


def _d04_cte_body() -> str:
    """The toks → votes → fps → bands → cand CTE chain of the SimHash
    funnel in DuckDB spelling — shared by the d04 and d08 oracles."""
    bit_exprs = _simhash_bit_exprs(SIMHASH_BITS, "strpos")
    votes = ",\n    ".join(
        f"SUM(2 * ({e}) - 1) AS v{j}" for j, e in enumerate(bit_exprs)
    )
    band_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, band{b} AS bval FROM fps"
        for b in range(SIMHASH_BANDS)
    )
    return f"""toks AS (
  SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM toks GROUP BY doc_id
),
fps AS (
  SELECT doc_id, CAST({_simhash_value_sql()} AS BIGINT) AS simhash,
         {", ".join(f"CAST({_band_value_sql(b)} AS INT) AS band{b}" for b in range(SIMHASH_BANDS))}
  FROM votes
),
bands AS (
  {band_union}
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.simhash AS s1, b.simhash AS s2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
)"""


def _d04_sql() -> str:
    return f"""
WITH {_d04_cte_body()}
SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(s1, s2)) <= {HAMMING_MAX}
ORDER BY d1, d2
"""


# ---------------------------------------------------------------------------
# d05 — embedding-cosine near-dup pairs
# ---------------------------------------------------------------------------

N_SIM_BLOCKS = 8          # block-pair grid for the distributed exact path
CLOSURE_MAX_ROWS = 65_536  # hard guard for the closure-matrix kernel


def blocked_cosine_pairs(
    e: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.4,
    n_blocks: int = N_SIM_BLOCKS,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold as a DISTRIBUTED block-pair
    cogroup — no driver collect, no closure-captured corpus (I26 policy).

    Float-parity caveat (round-6 review, accepted): the kernel scores
    with normalize-then-BLAS-matmul while the DuckDB oracle folds the
    dot sequentially, so the two engines can differ by a few ulps; a
    pair whose true cosine lies within ~1e-15 of a 0.5e-6 rounding
    boundary (or of the threshold after rounding) could round apart.
    On 64-dim data that is ~1e-9 per pair — traded deliberately for the
    ~100× BLAS throughput (the expression-cosine twin d05 keeps exact
    fold-order parity where the oracle hash is the point).

    Rows are hashed into ``n_blocks`` blocks; the B·(B+1)/2 unordered
    block pairs form the join keys. Each (block_i, block_j) task receives
    the two blocks as pandas frames (cogroup → applyInPandas) and runs
    one BLAS matmul between them, emitting only above-threshold (v1 < v2)
    pairs. Work is O(N²/B) per task and driver memory is O(1); data
    replication is (B+1)/2× — the classic exact-all-pairs shard (the
    reference instead prunes candidates before exact math,
    ``a2_ahuja.py:233-241``; the LSH-pruned analog here is s02/s03 +
    exact rescoring via api.ann_join).
    """
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    # null vectors cannot participate in cosine math; Catalyst infers
    # this for expression-based twins but not through an Arrow kernel
    e = e.filter(F.col(emb_col).isNotNull())

    def side(prefix: str, key: str) -> DataFrame:
        # Fully independent lineage per side (fresh grid DF + aliased
        # columns), or cogroup trips Spark's ambiguous-self-join check.
        grid = spark.createDataFrame(
            [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
            "ba int, bb int",
        )
        b = e.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(emb_col).alias(f"{prefix}_emb"),
            F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias(f"{prefix}_blk"),
        )
        return b.join(F.broadcast(grid), F.col(f"{prefix}_blk") == F.col(key)).select(
            F.col("ba").alias(f"{prefix}_ba"),
            F.col("bb").alias(f"{prefix}_bb"),
            f"{prefix}_id",
            f"{prefix}_emb",
        )

    left = side("l", "ba")
    right = side("r", "bb")

    def pair_block(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame({"v1": [], "v2": [], "cos_sim": []}).astype(
                {"v1": "int64", "v2": "int64", "cos_sim": "float64"}
            )
        l_ids = lpdf["l_id"].to_numpy()
        r_ids = rpdf["r_id"].to_numpy()
        lx = np.array([list(v) for v in lpdf["l_emb"]], dtype=np.float64)
        rx = np.array([list(v) for v in rpdf["r_emb"]], dtype=np.float64)
        ln = lx / np.sqrt((lx * lx).sum(axis=1, keepdims=True))
        rn = rx / np.sqrt((rx * rx).sum(axis=1, keepdims=True))
        sims = np.round(ln @ rn.T, 6)
        mask = sims >= threshold
        if lpdf["l_ba"].iat[0] == lpdf["l_bb"].iat[0]:
            # diagonal block: both sides hold the same rows — keep one
            # orientation to dedupe the doubled pairs
            mask &= l_ids[:, None] < r_ids[None, :]
        else:
            mask &= l_ids[:, None] != r_ids[None, :]
        i, j = np.nonzero(mask)
        v1 = np.minimum(l_ids[i], r_ids[j])
        v2 = np.maximum(l_ids[i], r_ids[j])
        return pd.DataFrame({"v1": v1, "v2": v2, "cos_sim": sims[i, j]})

    return (
        left.groupBy("l_ba", "l_bb")
        .cogroup(right.groupBy("r_ba", "r_bb"))
        .applyInPandas(pair_block, schema="v1 long, v2 long, cos_sim double")
    )


def closure_cosine_pairs(
    e: DataFrame,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    threshold: float = 0.4,
    max_rows: int = CLOSURE_MAX_ROWS,
) -> DataFrame:
    """Small-corpus variant: corpus matrix collected once and shipped in
    the UDF closure (one pass, no shuffle). GUARDED — refuses corpora
    larger than ``max_rows`` because the closure matrix is O(N·d) driver
    and executor memory; use :func:`blocked_cosine_pairs` beyond that.
    """
    import numpy as np
    import pandas as pd

    n = e.count()
    if n > max_rows:
        raise ValueError(
            f"closure_cosine_pairs: corpus has {n} rows > guard {max_rows}; "
            "use blocked_cosine_pairs (distributed) instead"
        )
    rows = e.select(id_col, emb_col).collect()
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    x = np.array([r[emb_col] for r in rows], dtype=np.float64)
    xn = x / np.sqrt((x * x).sum(axis=1, keepdims=True))

    def block_pairs(batches):
        for batch in batches:
            b_ids = batch[id_col].to_numpy()
            b = np.array([list(v) for v in batch[emb_col]], dtype=np.float64)
            bn = b / np.sqrt((b * b).sum(axis=1, keepdims=True))
            sims = np.round(bn @ xn.T, 6)
            mask = (sims >= threshold) & (b_ids[:, None] < ids[None, :])
            i, j = np.nonzero(mask)
            yield pd.DataFrame({"v1": b_ids[i], "v2": ids[j], "cos_sim": sims[i, j]})

    return e.select(id_col, emb_col).mapInPandas(
        block_pairs, schema="v1 long, v2 long, cos_sim double"
    )


def d05_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding pairs with cosine similarity ≥ 0.4 — exact, via the
    distributed block-pair cogroup (:func:`blocked_cosine_pairs`).

    Round-1 note: this entry formerly collected the corpus to the driver
    and closure-captured the matrix (the I26 anti-pattern); that kernel
    survives only as the guarded :func:`closure_cosine_pairs`. The
    default plan here shuffles each row (B+1)/2 times and never
    materializes anything driver-side.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return blocked_cosine_pairs(e, threshold=0.4).orderBy("v1", "v2")


_D05_SQL = """
WITH pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
         (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
          sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT v1, v2, ROUND(c, 6) AS cos_sim
FROM pairs WHERE ROUND(c, 6) >= 0.4
ORDER BY v1, v2
"""


# ---------------------------------------------------------------------------
# d06 — MLlib MinHashLSH (library spelling of d03, SURVEY §2.5)
# ---------------------------------------------------------------------------

def d06_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via pyspark.ml MinHashLSH — the library
    spelling next to the hand-rolled d03 (as s04 is to s02): shingle
    sets → binary CountVectorizer features → MinHashLSH(8 tables) →
    approxSimilarityJoin at Jaccard distance ≤ 0.3, exact distance
    reported by the join itself.

    Rows-only driver check (MLlib's hash family isn't SQL-reproducible);
    recall vs the exact d02 pairs is gated in tests/test_dedup.py.
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    sh = _shingles_df(spark, sf_dir)
    docs = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("shingles"))
    # one live cache entry (the g01-edges discipline): the shingle
    # aggregation otherwise re-runs for the CountVectorizer fit pass AND
    # each side of approxSimilarityJoin (round-12 optimization, guide
    # §5 — reuse > recompute when the lineage is a corpus tokenize)
    docs = swap_cached("d06_docs", docs)
    cv = CountVectorizer(
        inputCol="shingles", outputCol="features", binary=True
    ).fit(docs)
    v = cv.transform(docs).select("doc_id", "features")
    v = swap_cached("d06_vecs", v)
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(v)
    pairs = mh.approxSimilarityJoin(v, v, 0.3, distCol="jd")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("d1"),
            F.col("datasetB.doc_id").alias("d2"),
            F.round(1 - F.col("jd"), 6).alias("jaccard"),
        )
        .filter(F.col("d1") < F.col("d2"))
        .orderBy("d1", "d2")
    )


# ---------------------------------------------------------------------------
# d07 — benchmark decontamination (n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------

BENCH_MOD = 37          # documents with doc_id % 37 == 0 stand in for the
                        # held-out eval/benchmark set
DECON_MIN_SHARED = 3    # flag docs sharing ≥ this many distinct shingles


def d07_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data decontamination: flag corpus documents that share
    ≥ DECON_MIN_SHARED distinct 3-gram shingles with the benchmark slice
    (doc_id % BENCH_MOD == 0 stands in for an eval set).

    The step every LLM training pipeline runs before training. Shape at
    100 TB: a real benchmark shingle set is small (an eval suite,
    ~10⁵-10⁶ n-grams) → Catalyst/AQE broadcast it from stats and the
    corpus side streams its shingles through the broadcast-hash
    semi-join, never shuffling text. The hint is deliberately NOT
    forced: this fixture derives its "benchmark" from 1/37 of the
    corpus, so a mandatory broadcast would grow with the data and OOM —
    size-based planning picks broadcast exactly when it is safe, and a
    genuinely large contamination set falls back to a shuffle keyed on
    the shingle.
    """
    sh = _shingles_df(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("shingle")
        .distinct()
    )
    corpus = sh.filter(F.col("doc_id") % BENCH_MOD != 0)
    # no broadcast HINT: this fixture's "benchmark" is 1/37 of the
    # corpus's shingles — corpus-proportional, so a mandatory broadcast
    # OOMs at scale (the x06 rule; round-6 review). AQE/stats still
    # choose broadcast whenever the bench side is actually eval-suite
    # sized, which is the production case the docstring describes.
    return (
        corpus.join(bench, "shingle")
        # per-doc shingles are already distinct (_shingles_df), so the
        # count is the distinct-shared-shingle count
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= DECON_MIN_SHARED)
        .orderBy("doc_id")
    )


_D07_SQL = f"""
WITH sh AS ({_SQL_SHINGLES}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0),
corpus AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> 0)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
FROM corpus JOIN bench USING (shingle)
GROUP BY doc_id
HAVING COUNT(*) >= {DECON_MIN_SHARED}
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# d08 — duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------

CC_MAX_ITERS = 25  # safety bound; LSH dup components converge in 2-3


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    *,
    max_iters: int = CC_MAX_ITERS,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Distributed connected components by iterative min-label
    propagation: ``label(v) ← min(label(v), min over neighbors(v) of
    label(u))`` until a fixpoint. Returns (id, label) with ``label`` =
    the minimum node id in the component.

    Scale shape: each iteration shuffles only (id, label) pairs — one
    hash shuffle to meet labels with edge endpoints, a map-side-combined
    min per target node, one to join the update back. Iterations needed
    = graph diameter; near-dup components out of banded LSH (d03/d04)
    are quasi-cliques (every member collides with the seed on some
    band), so diameter ≈ 2 and the loop converges in 2-3 passes even at
    billions of edges. The O(log n)-round large-star/small-star variant
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) only pays off on long-chain graphs, which dedup candidate
    graphs are not — documented trade-off, not an oversight.

    Per iteration: one checkpoint truncates the otherwise-quadratic
    iterative lineage (the same reason p05 collects centroids — but
    labels are data-sized, so they must stay distributed).
    ``reliable_checkpoint=False`` (default) uses ``localCheckpoint`` —
    executor-memory blocks, right for local mode and short jobs;
    ``reliable_checkpoint=True`` writes label blocks to the context's
    checkpoint directory (``setCheckpointDir``; a scratch dir is
    assigned if none is set) so an executor loss recomputes from the
    last iteration's files instead of replaying the full lineage — the
    cluster-grade setting for long CC runs.

    Round-12 optimization (guide §2.4 — remove shuffles outright), same
    labels bit-for-bit:

    * **Self-loop propagation.** The adjacency is augmented with (v, v)
      rows once, so ``min over N(v) ∪ {v}`` — which IS the update rule,
      labels being monotone non-increasing — comes out of ONE join +
      map-side-combined min per iteration. The old form computed
      ``min over N(v)`` and then joined the result BACK to the previous
      labels for the ``least(...)``: a second corpus-sized shuffle per
      iteration that the self-loops make redundant.
    * **Sum-based convergence.** Labels only ever decrease, so
      ``Σ label`` (exact DECIMAL(38,0); overflow → NULL is detected and
      raised, never mistaken for convergence) is strictly decreasing
      until the fixpoint — comparing consecutive sums replaces the old
      changed-count join (a third shuffle per iteration) with an O(1)
      aggregate over the just-checkpointed labels.
    * **Adjacency partitioned once.** The (now self-looped) adjacency
      is hash-repartitioned on ``u`` before its checkpoint; the
      checkpoint preserves that partitioning, so the per-iteration join
      never re-shuffles the edge relation — labels (the small side)
      move instead, or broadcast when AQE measures them small. At 100 TB
      edges ≫ labels, so this is the dominant byte saving.

    Net: 3 shuffles of edge/label-sized relations per iteration → 1
    label-sized shuffle (the groupBy-min), plus one O(1)-result
    aggregate. plans gate: tests/test_dedup.py pins the label output on
    a diameter-6 path either way.
    """
    sc = edges.sparkSession.sparkContext
    if reliable_checkpoint and sc._jsc.sc().getCheckpointDir().isEmpty():
        import tempfile

        sc.setCheckpointDir(tempfile.mkdtemp(prefix="spark_graft_cc_ckpt_"))

    def _truncate(df: DataFrame) -> DataFrame:
        if reliable_checkpoint:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # materialize sym FIRST so the (possibly expensive) upstream pair
    # funnel runs exactly once — adj and labels both derive from it
    sym = _truncate(
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    )
    # u-universe == v-universe because sym is symmetric
    nodes = sym.select(F.col("u").alias("id")).distinct()
    # self-loops fold each node's own label into the neighborhood min,
    # so the update is one join+min; partition on the join key ONCE —
    # the checkpoint preserves the partitioning across iterations
    adj = _truncate(
        sym.union(nodes.select(F.col("id").alias("u"), F.col("id").alias("v")))
        .repartition("u")
    )
    labels = _truncate(nodes.select("id", F.col("id").alias("label")))

    def _label_sum(lbl: DataFrame):
        s, n = lbl.agg(
            F.sum(F.col("label").cast("decimal(38,0)")), F.count(F.lit(1))
        ).first()
        if s is None and n:
            raise RuntimeError(
                "connected_components: label sum overflowed DECIMAL(38,0) "
                f"across {n} nodes — unreachable below ~10^19 rows"
            )
        return s

    prev_sum = _label_sum(labels)
    for _ in range(max_iters):
        labels = _truncate(
            adj.join(labels, adj["u"] == labels["id"])
            .groupBy("v")
            .agg(F.min("label").alias("label"))
            .select(F.col("v").alias("id"), "label")
        )
        cur_sum = _label_sum(labels)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    else:
        # exhausting the budget with labels still moving means the
        # returned components are WRONG (fragments of real clusters) —
        # downstream consumers like x06's leakage-safe split would then
        # scatter near-duplicates across train/test with no signal
        # anywhere. Raise instead of silently returning (round-6
        # review); long-diameter graphs need a bigger budget or the
        # large-star/small-star variant.
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"{max_iters} iterations (label sum {prev_sum} → {cur_sum} "
            "on the last pass) — raise max_iters for long-chain graphs"
        )
    return labels


def d08_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: connected components over the d04
    SimHash near-dup pairs, labeling every clustered doc with the
    minimum doc_id of its component.

    This is the step d03/d04 stop short of: pairwise near-dup verdicts
    are not directly actionable (A~B and B~C must collapse into ONE
    group before a pipeline can keep a single representative), and
    naive per-pair "drop the larger id" over-deletes. Downstream:
    ``keep = docs WHERE doc_id == cluster_id`` (or no cluster row at
    all) retains exactly one doc per transitive dup group — the
    reference's funnel ends at candidate pairs (``a2_ahuja.py:150-170``);
    this closes them the way a production corpus build must.

    A binding of :func:`api.dup_clusters`, so the oracle checks the
    function users call.
    """
    from big_data_analytics_cse545_spark import api

    d = load_table(spark, sf_dir, "documents")
    return api.dup_clusters(d, "text", "doc_id").orderBy("doc_id")


def _d08_sql() -> str:
    """Oracle: same SimHash pairs, then transitive closure via a
    recursive CTE (reach(id, r) = node r is in id's component; MIN(r)
    per id is the component label — exact, if exponential on big
    graphs; fine at oracle scale)."""
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
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM labels
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# d09 — chunk-level (sub-document) duplication profile
# ---------------------------------------------------------------------------

D09_BLOCK = 16  # tokens per non-overlapping block


def d09_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_analytics_cse545_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(D09_BLOCK)
    )
    blocks = toked.select(
        "doc_id",
        F.explode(
            F.transform(starts, lambda s: F.slice("toks", s + 1, D09_BLOCK))
        ).alias("block"),
    ).filter(F.size("block") > 0)
    hashed = blocks.select("doc_id", F.md5(F.array_join("block", " ")).alias("h"))
    counts = hashed.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs_with_block")
    )
    return (
        hashed.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum((F.col("n_docs_with_block") > 1).cast("long")).alias(
                "n_dup_blocks"
            ),
        )
        .filter(F.col("n_dup_blocks") > 0)
        .withColumn(
            "dup_ratio",
            F.round(F.col("n_dup_blocks") / F.col("n_blocks"), 4),
        )
        .orderBy("doc_id")
    )


# assigned after the def: a formatted string literal in docstring
# position is an expression, not a docstring — __doc__ would be None
d09_chunk_dedup.__doc__ = """Sub-document dedup profile: cut every
    document into non-overlapping {B}-token blocks, hash each block,
    and report per document how much of it recurs VERBATIM in other
    documents — the paragraph-level dedup signal (full-doc dedup d01
    misses a page whose second half is a boilerplate license; this
    flags it with dup_ratio ≈ 0.5).

    Plan at scale: block fan-out is narrow (sequence/slice/posexplode,
    zero shuffle); then only 16-byte md5 keys move — groupBy(hash) for
    cross-doc counts (hash keys are uniform: skew-free by construction),
    hash-join back, groupBy(doc_id) for the profile. The text column
    never shuffles, exactly the d01/d03 key discipline.
    """.format(B=D09_BLOCK)


_D09_SQL = f"""
WITH toked AS (
  SELECT doc_id,
         {SQL_TOKENS} AS toks
  FROM documents
),
blocks AS (
  SELECT doc_id,
         md5(coalesce(array_to_string(
           list_slice(toks, st + 1, st + {D09_BLOCK}), ' '), '')) AS h
  FROM (
    SELECT doc_id, toks,
           unnest(range(0, CASE WHEN len(toks) = 0 THEN 1 ELSE len(toks) END,
                        {D09_BLOCK})) AS st
    FROM toked
  )
  WHERE len(list_slice(toks, st + 1, st + {D09_BLOCK})) > 0
),
counts AS (
  SELECT h, COUNT(DISTINCT doc_id) AS n_docs_with_block FROM blocks GROUP BY h
)
SELECT doc_id,
       COUNT(*) AS n_blocks,
       CAST(SUM(CASE WHEN n_docs_with_block > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_blocks,
       ROUND(SUM(CASE WHEN n_docs_with_block > 1 THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 4) AS dup_ratio
FROM blocks JOIN counts USING (h)
GROUP BY doc_id
HAVING SUM(CASE WHEN n_docs_with_block > 1 THEN 1 ELSE 0 END) > 0
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# d10 — incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------

D10_BATCH_MOD = 4   # documents with doc_id % 4 == 1 stand in for the
D10_BATCH_REM = 1   # newly-ingested batch; the rest are the existing corpus


def d10_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_analytics_cse545_spark import api

    d = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % D10_BATCH_MOD == D10_BATCH_REM
    return (
        api.incremental_dedup(
            d.filter(is_batch),
            d.filter(~is_batch),
            "text",
            "doc_id",
            n_hashes=N_HASHES,
            band_rows=BAND_ROWS,
            threshold=JACCARD_THRESHOLD_D10,
        )
        .select("doc_id", "exact_dup", "near_dup_of", "decision")
        .orderBy("doc_id")
    )


# assigned after the def: a formatted string literal in docstring
# position is an expression, not a docstring — __doc__ would be None
d10_incremental_dedup.__doc__ = """Incremental ingestion dedup: for
    each document in a NEW batch (doc_id % {M} == {R} stands in for
    today's crawl), decide keep/drop against the EXISTING corpus (all
    other documents) without ever comparing corpus docs to each other:

    - ``exact_dup``  — md5(text) collides with some corpus document;
    - ``near_dup_of`` — the smallest corpus doc_id whose exact shingle
      Jaccard ≥ {J} among MinHash band-bucket candidates (d03's funnel,
      restricted to batch×corpus pairs);
    - ``decision`` — drop_exact > drop_near > keep.

    This is the shape a continuous training-data pipeline actually runs:
    the corpus's md5 hashes and band keys are computed ONCE (in
    production they are a stored index, refreshed per ingest), and each
    new batch joins against them. Cost at 100 TB: both joins are keyed
    by 16-byte hashes (skew-free by construction); the batch side is
    tiny relative to the corpus, so AQE broadcasts the batch-side build;
    corpus text never shuffles — only its hashes and band keys do.
    Exact-verify shingle traffic is limited to candidate pairs, exactly
    the d03 discipline (reference funnel: ``a2_ahuja.py:140-170``).

    A binding of :func:`api.incremental_dedup` (batch and corpus are
    two filters of one documents scan), so the oracle checks the
    function users call. The scan is not spread (sources.spread_scan):
    without the repartition d10 read less process CPU in each of ten
    alternating fresh-process pairs at sf0.1 on a 4-core VM (median
    warm 13.8 -> 11.6 s, cold 44.1 -> 38.5 s).
    """.format(M=D10_BATCH_MOD, R=D10_BATCH_REM, J=JACCARD_THRESHOLD_D10)


_D10_SQL = f"""
WITH sh AS ({_SQL_SHINGLES}),
{_SQL_MINHASH_BANDS},
batch AS (SELECT * FROM documents
          WHERE doc_id % {D10_BATCH_MOD} = {D10_BATCH_REM}),
corpus_hashes AS (
  SELECT DISTINCT md5(text) AS h FROM documents
  WHERE doc_id % {D10_BATCH_MOD} <> {D10_BATCH_REM}
),
exact AS (
  SELECT doc_id FROM batch WHERE md5(text) IN (SELECT h FROM corpus_hashes)
),
cand AS (
  SELECT DISTINCT a.doc_id AS bid, b.doc_id AS cid
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id % {D10_BATCH_MOD} = {D10_BATCH_REM}
    AND b.doc_id % {D10_BATCH_MOD} <> {D10_BATCH_REM}
),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT bid, cid, COUNT(*) AS inter
  FROM cand
  JOIN sh s1 ON s1.doc_id = bid
  JOIN sh s2 ON s2.doc_id = cid AND s2.shingle = s1.shingle
  GROUP BY bid, cid
),
near AS (
  SELECT bid, MIN(cid) AS near_dup_of
  FROM inter
  JOIN cnt c1 ON c1.doc_id = bid
  JOIN cnt c2 ON c2.doc_id = cid
  WHERE ROUND(inter * 1.0 / (c1.n + c2.n - inter), 6)
        >= {JACCARD_THRESHOLD_D10}
  GROUP BY bid
)
SELECT b.doc_id,
       (e.doc_id IS NOT NULL) AS exact_dup,
       n.near_dup_of,
       CASE WHEN e.doc_id IS NOT NULL THEN 'drop_exact'
            WHEN n.near_dup_of IS NOT NULL THEN 'drop_near'
            ELSE 'keep' END AS decision
FROM batch b
LEFT JOIN exact e ON e.doc_id = b.doc_id
LEFT JOIN near n ON n.bid = b.doc_id
ORDER BY b.doc_id
"""


# ---------------------------------------------------------------------------
# d11 — semantic dedup (SemDeDup-style: coarse cells, keep one per
# semantic group)
# ---------------------------------------------------------------------------

SEMDEDUP_PLANES = 4     # 2^4 = 16 coarse cells at test scale
SEMDEDUP_TAU = 0.4      # same cosine bar as d05's exact near-dup


def d11_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup à la SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    coarse-cluster the embedding space, then inside each cell drop every
    vector that has a semantically-near (cosine ≥ τ) EARLIER vector,
    keeping one representative per semantic group.

    The paper clusters with k-means; here the coarse partition is the
    md5-parity hyperplane signature shared with s02
    (:func:`~big_data_analytics_cse545_spark.operators.similarity.hyperplane_bucket_expr`)
    — deterministic, engine-portable, and computed as a pure JVM
    expression during the scan (k-means assignment would be equivalent
    at this step; the spherical-KMeans learner already exists for
    api.ivf_join). Greedy min-id retention: a vector is dropped iff some
    same-cell LOWER-id vector is within τ; its ``dup_of`` is the
    smallest such id. This is the per-pair greedy form (chains A~B~C
    drop both B and C) — deterministic under any partitioning.

    Scale shape (100 TB): the all-pairs cosine never runs — the
    self-join is an equi-join ON the cell id, so exact math touches
    only intra-cell pairs, O(N²/C) for C cells; raise SEMDEDUP_PLANES
    so the expected cell size stays bounded (C = 2^planes grows free —
    the planes are literals, not data). Embeddings shuffle ONCE on the
    cell key; cell-size skew is the AQE skew-join case. The final
    left join back to the corpus is on vec_id (no text/embedding
    movement — the drop verdict relation carries two longs).

    Reference lineage: the funnel is a2's candidates-then-exact-verify
    (``Assignment 2/a2_ahuja.py:164-170``) with hyperplane cells in
    place of minhash bands.

    This is the ORACLE form (the cosine is re-derivable in SQL); the
    production form is ``api.semantic_dedup`` — decision-equal, one
    BLAS matmul per cell (measured ~18× faster at 10× scale at matched
    planes; ~700× vs the fixed-planes EXTRAPOLATION on wide-cell
    configurations — the wide-cell d11 side was deliberately never run,
    the ~16 min figure comes from the k² fit. SCALE.md /
    bench_runs/r4_scale_d11.jsonl).
    """
    from big_data_analytics_cse545_spark.functions.vectors import (
        cosine_pre,
        dot,
        norm,
    )
    from big_data_analytics_cse545_spark.operators.similarity import (
        hyperplane_bucket_expr,
    )

    # norm(embedding) is folded ONCE per row here, not once per
    # intra-cell pair — two of the three per-pair interpreted
    # ArrayAggregate folds disappear from the pair filter, and the
    # arithmetic is bit-identical (same expression on the same row;
    # tests/test_functions.py), so the oracle hash is unchanged
    # (round-12 optimization, guide §4.1).
    e = load_table(spark, sf_dir, "embeddings").withColumns(
        {
            "cell": hyperplane_bucket_expr(n_planes=SEMDEDUP_PLANES),
            "nrm": norm(F.col("embedding")),
        }
    )
    left = e.select(
        F.col("vec_id").alias("v1"),
        F.col("embedding").alias("emb1"),
        F.col("cell").alias("cell1"),
        F.col("nrm").alias("nrm1"),
    )
    right = e.select(
        F.col("vec_id").alias("v2"),
        F.col("embedding").alias("emb2"),
        F.col("cell").alias("cell2"),
        F.col("nrm").alias("nrm2"),
    )
    pair_cos = cosine_pre(
        dot(F.col("emb1"), F.col("emb2")),
        F.col("nrm1"),
        F.col("nrm2"),
    )
    dup_of = (
        left.join(
            right,
            (F.col("cell1") == F.col("cell2")) & (F.col("v1") < F.col("v2")),
        )
        .filter(F.round(pair_cos, 6) >= SEMDEDUP_TAU)
        .groupBy("v2")
        .agg(F.min("v1").alias("dup_of"))
    )
    return (
        e.join(dup_of, e["vec_id"] == dup_of["v2"], "left")
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("cell"),
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
        )
        .orderBy("vec_id")
    )


def _d11_sql() -> str:
    from big_data_analytics_cse545_spark.operators.similarity import (
        hyperplane_bucket_sql,
    )

    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         {hyperplane_bucket_sql(n_planes=SEMDEDUP_PLANES)} AS cell
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS v1, c.vec_id AS v2,
         ROUND(
           list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))) /
           (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
            sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos_sim
  FROM b a JOIN b c ON a.cell = c.cell AND a.vec_id < c.vec_id
),
dup AS (
  SELECT v2, MIN(v1) AS dup_of FROM pairs WHERE cos_sim >= {SEMDEDUP_TAU} GROUP BY v2
)
SELECT b.vec_id, CAST(b.cell AS INTEGER) AS cell,
       (dup.dup_of IS NULL) AS kept, dup.dup_of
FROM b LEFT JOIN dup ON dup.v2 = b.vec_id
ORDER BY b.vec_id
"""


# ---------------------------------------------------------------------------
# d12 — content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------

CDC_W = 8     # rolling-window width (chars) fed to the boundary hash
CDC_DIV = 64  # boundary when window-hash % CDC_DIV == 0 → E[chunk] ≈ 64 chars


def cdc_chunks(df: DataFrame, hash: str = "md5") -> DataFrame:
    """(doc_id, chunk) — content-defined chunks of ``text``. Boundaries
    are per-position predicates of their own CDC_W-char window (no
    sequential state), so the whole cut computation is one narrow JVM
    expression. Exposed for the shift-invariance property test and for
    pipeline reuse on arbitrary DataFrames.

    ``hash='md5'`` is the oracle form (bit-identical in DuckDB).
    ``hash='xx'`` is the production form: xxhash64 window hashing —
    same plan, same boundary density (1/CDC_DIV), same shift-
    invariance, ~3× cheaper end-to-end (measured 4.9 s → 1.6 s for the
    full chunk+hash pass at sf0.1 — the remaining cost is the shared
    chunk-md5 + scan); a gear/Rabin O(1)-per-position rolling hash is
    the next rung but needs a sequential fold per document, which costs
    the embarrassing parallelism of the per-window form."""
    if hash == "md5":
        window_hash = (
            f"CAST(conv(substr(md5(substring(text, i - {CDC_W} + 1, {CDC_W})),"
            f" 1, 8), 16, 10) AS BIGINT)"
        )
    elif hash == "xx":
        # pmod: xxhash64 is signed, and Java's % keeps the sign — a
        # plain % CDC_DIV would halve the boundary density
        window_hash = (
            f"pmod(xxhash64(substring(text, i - {CDC_W} + 1, {CDC_W})),"
            f" {CDC_DIV})"
        )
    else:  # pragma: no cover - guarded by callers
        raise ValueError(f"unknown cdc hash {hash!r}")
    # spread before the per-position window-hash storm (length(text)
    # hash evaluations per doc) — single scan-stage task otherwise on
    # a one-row-group input; no-op at scale (sources.spread_scan)
    cuts = spread_scan(df, "doc_id").filter(F.length("text") > 0).select(
        "doc_id",
        "text",
        F.expr(
            f"""
            concat(
              CASE WHEN length(text) >= {CDC_W} THEN
                filter(
                  transform(sequence({CDC_W}, length(text)),
                    i -> IF({window_hash}
                            % {CDC_DIV} = 0 AND i < length(text), i, -1)),
                  x -> x != -1)
              ELSE cast(array() AS array<int>) END,
              array(length(text)))
            """
        ).alias("cuts"),
    )
    return cuts.select(
        "doc_id",
        F.explode(
            F.expr(
                """
                transform(sequence(1, size(cuts)),
                  j -> substring(text,
                         IF(j = 1, 0, element_at(cuts, j - 1)) + 1,
                         element_at(cuts, j)
                           - IF(j = 1, 0, element_at(cuts, j - 1))))
                """
            )
        ).alias("chunk"),
    )


def d12_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_analytics_cse545_spark import api

    d = load_table(spark, sf_dir, "documents")
    return api.cdc_dedup(d, "text", "doc_id", hash="md5").orderBy("chunk_hash")


d12_cdc_chunk_dedup.__doc__ = """Content-defined chunking dedup: cut
    every document at positions where a {W}-char rolling window hashes
    to 0 mod {D} (boundaries depend only on LOCAL content), hash each
    chunk, and report every chunk stored more than once — the
    shift-robust storage/dedup shape (FastCDC, LBFS): inserting one
    character into a document moves every d09 fixed-block boundary
    after the edit, but here only the O(1) chunks touching the edit
    change, so the rest of the document still dedups against its
    previous version.

    No min/max chunk clamp on purpose: classic CDC's min-size rule
    suppresses a boundary within MIN bytes of the previous one, which
    makes the cut sequence inherently SEQUENTIAL per document; without
    it every boundary is an independent predicate of its own {W}-char
    window, so the whole cut computation is one embarrassingly parallel
    JVM expression (transform/filter over positions) — no Python, no
    shuffle. Expected chunk length is geometric with mean {D}.

    The window hash here is md5 (bit-identical in DuckDB, so the oracle
    is exact); a production deployment swaps in a gear/Rabin rolling
    hash for O(1)-per-position cost — the plan shape (narrow fan-out →
    16-byte-key shuffle) is unchanged. After the fan-out only
    (doc_id, chunk_hash, len) shuffles — d01/d09's key discipline; the
    text column never leaves the scan stage.

    A binding of :func:`api.cdc_dedup` with the md5 window hash, so the
    oracle checks the function users call.
    """.format(W=CDC_W, D=CDC_DIV)


_D12_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE length(text) > 0
),
cuts AS (
  SELECT doc_id, text,
         list_concat(
           CASE WHEN length(text) >= {CDC_W} THEN
             list_filter(
               list_transform(range({CDC_W}, length(text) + 1),
                 i -> CASE WHEN CAST(concat('0x',
                             substr(md5(substr(text, i - {CDC_W} + 1, {CDC_W})),
                                    1, 8)) AS BIGINT) % {CDC_DIV} = 0
                            AND i < length(text)
                       THEN i ELSE -1 END),
               x -> x <> -1)
           ELSE [] END,
           [length(text)]) AS cuts
  FROM base
),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(cuts) + 1),
           j -> substr(text,
                  (CASE WHEN j = 1 THEN 0 ELSE cuts[j - 1] END) + 1,
                  cuts[j] - CASE WHEN j = 1 THEN 0 ELSE cuts[j - 1] END)))
           AS chunk
  FROM cuts
)
SELECT md5(chunk) AS chunk_hash,
       COUNT(*) AS n_copies,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(length(chunk)) AS chunk_len,
       MIN(doc_id) AS first_doc
FROM chunks
GROUP BY md5(chunk)
HAVING COUNT(*) > 1
ORDER BY chunk_hash
"""


# ---------------------------------------------------------------------------
# d13 — exact-substring span dedup (the Lee et al. 2022 shape)
# ---------------------------------------------------------------------------

# Minimal reported span = the winnowing guarantee threshold t = K+W-1:
# any shared token run of at least this length is GUARANTEED to yield a
# shared winnow fingerprint (SIGMOD'03), so the candidate stage cannot
# miss a reportable span — modulo the documented MAX_DF boilerplate cap.
SPAN_MIN_TOKENS = 8  # = WINNOW_K + WINNOW_W - 1; asserted at import below

# Confirm-join anchor cap: a gram occurring more than this many times
# WITHIN one document is excluded from span anchoring (both engines
# identically). Without it the exact join's fan-out per (pair, gram)
# is occ(d1)·occ(d2) — two hyper-repetitive documents (period < K
# repetition, the t13 repetition-filter domain) would pair into
# O(T²) join rows, the quadratic surface the funnel otherwise avoids.
# With it the fan-out is ≤ GRAM_MAX_OCC² per gram; text that
# repetitive has no meaningful "maximal span" to report anyway.
GRAM_MAX_OCC = 16


def shared_spans(
    d: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """MAXIMAL shared token spans between document pairs — the
    exact-substring dedup family of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499),
    whose suffix-array "every duplicated substring ≥ threshold" output
    is re-expressed here as a two-stage Spark funnel (the reference's
    sketch→exact discipline, ``Assignment 2/a2_ahuja.py:233-241``):

    1. CANDIDATES — t15's winnowing machinery verbatim
       (operators/text.py ``winnow_gram_relation`` →
       ``winnow_fingerprints`` → ``winnow_bucket_pairs``): bucketed,
       df-capped, never all-pairs. Any shared run ≥ K+W-1 tokens
       yields a shared fingerprint, so recall at the SPAN_MIN_TOKENS
       threshold is structural, not probabilistic (the only loss
       surface is a run whose EVERY selected fingerprint is shared by
       > WINNOW_MAX_DF docs — boilerplate by definition, excluded on
       both engines identically).
    2. EXACT SPANS — for candidate pairs only, equi-join the two docs'
       FULL k-gram relations on gram hash and merge same-diagonal
       consecutive matches with one gaps-and-islands window
       (``grp = p1 − row_number() over (d1, d2, p1−p2 ORDER BY p1)``):
       a maximal shared run of length L is exactly L−K+1 consecutive
       matches on one diagonal → one island → one span of length L.
       Pure integer arithmetic end to end, hence the DuckDB oracle.
       Anchors are capped at GRAM_MAX_OCC occurrences per document
       (identically in the oracle): degenerate intra-document
       repetition would otherwise make one candidate pair's join
       quadratic, and text that repetitive is the t13 repetition
       filter's domain, not span dedup's.

    Output: (d1, d2, s1, e1, s2, e2, span_len) — inclusive 0-based
    token-position bounds of each maximal span in both docs; internally
    periodic text yields one span per alignment (diagonal), which is
    what token-level removal needs. Scale shape: the gram relation is
    computed ONCE (swap-cached; both the winnow branch and both join
    sides read it), shuffles carry (doc_id, pos, 32-hex hash) rows
    only, and the quadratic confirm is confined to df-capped candidate
    pairs — the d03/t15 100 TB shape. ``strip_spans`` below is the
    removal transform.
    """
    from big_data_analytics_cse545_spark.cache import swap_cached
    from big_data_analytics_cse545_spark.operators.text import (
        WINNOW_K,
        winnow_bucket_pairs,
        winnow_fingerprints,
        winnow_gram_relation,
    )

    from pyspark.sql.window import Window as W

    grams = swap_cached(
        "d13_grams", winnow_gram_relation(d, text_col=text_col, id_col=id_col)
    )
    cand = winnow_bucket_pairs(winnow_fingerprints(grams)).distinct()
    # Round-13 optimization (guide §2.3 — the d02 posting-list prune on
    # the confirm join, r12 verdict item 4): a gram hash occurring
    # exactly ONCE in the whole corpus cannot appear in both sides of
    # any candidate pair (pairs are strictly d1 < d2), so it can never
    # produce a matched anchor — pruning those rows changes neither the
    # join output nor the diagonal islands. The unique-gram tail is
    # most of the relation (sf0.1: 245.7k gram rows → 24.5k with
    # occurrence > 1, a 10× cut into the join and its broadcast/shuffle
    # bytes; web corpora share that shape). The count runs over gh
    # FIRST, so its one hash exchange on gh also satisfies the cap
    # window's (doc_id, gh) clustering — no extra exchange vs the old
    # plan, one extra sort. The cap's per-(doc_id, gh) counts are
    # unchanged: the prune only ever removes ENTIRE gh groups.
    #
    # GRAM_MAX_OCC: see the constant's comment — cap the confirm join's
    # per-document anchor multiplicity so degenerate repetition cannot
    # make one candidate pair quadratic (candidate generation is
    # unaffected: fingerprints are per-doc DISTINCT)
    capped = (
        grams.withColumn("_tot", F.count(F.lit(1)).over(W.partitionBy("gh")))
        .filter(F.col("_tot") > 1)
        .withColumn(
            "_occ", F.count(F.lit(1)).over(W.partitionBy("doc_id", "gh"))
        )
        .filter(F.col("_occ") <= GRAM_MAX_OCC)
        .select("doc_id", "pos", "gh")
    )
    g1 = capped.select(
        F.col("doc_id").alias("d1"), F.col("pos").alias("p1"), "gh"
    )
    g2 = capped.select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("p2"), "gh"
    )

    w = W.partitionBy("d1", "d2", "diag").orderBy("p1")
    return (
        cand.join(g1, "d1")
        .join(g2, ["d2", "gh"])
        .withColumn("diag", F.col("p1") - F.col("p2"))
        .withColumn("grp", F.col("p1") - F.row_number().over(w))
        .groupBy("d1", "d2", "diag", "grp")
        .agg(
            F.min("p1").cast("long").alias("s1"),
            (F.max("p1") + (WINNOW_K - 1)).cast("long").alias("e1"),
            F.min("p2").cast("long").alias("s2"),
            (F.max("p2") + (WINNOW_K - 1)).cast("long").alias("e2"),
            (F.max("p1") - F.min("p1") + WINNOW_K).cast("long").alias("span_len"),
        )
        .filter(F.col("span_len") >= SPAN_MIN_TOKENS)
        .select("d1", "d2", "s1", "e1", "s2", "e2", "span_len")
    )


def strip_spans(
    d: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-first span removal (the Lee et al. dedup policy): for every
    shared span, drop the covered tokens from the LATER document (the
    ``d2`` side of :func:`shared_spans`; the ``d1`` occurrence
    survives). Token-level on purpose — the engine's canonical token
    stream (``functions.text.tokens``) is the unit every downstream
    operator consumes; char-offset surgery on raw text would have to
    invert a lossy tokenizer.

    Output: (doc_id, toks) for EVERY input document — untouched docs
    keep their full token array, fully-covered docs keep an empty one.
    Plan shape: one anti-join of the token relation against the span
    intervals (equi on doc_id + pos-range residual — membership needs
    no interval merging, overlap is absorbed by the anti-join), then a
    per-doc re-assembly. No driver loops, no UDFs.
    """
    iv = spans.select(
        F.col("d2").alias("doc_id"), F.col("s2").alias("s"), F.col("e2").alias("e")
    )
    toks = d.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    kept = toks.alias("t").join(
        iv.alias("i"),
        (F.col("t.doc_id") == F.col("i.doc_id"))
        & (F.col("t.pos") >= F.col("i.s"))
        & (F.col("t.pos") <= F.col("i.e")),
        "left_anti",
    )
    agg = kept.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
            lambda x: x["tok"],
        ).alias("toks")
    )
    return (
        d.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("toks"), F.array().cast("array<string>")).alias(
                "toks"
            ),
        )
    )


def d13_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for :func:`shared_spans` on the documents table:
    every maximal shared token span ≥ SPAN_MIN_TOKENS between any
    document pair, ordered by (d1, d2, s1, s2) — (d1, d2, s1, s2) is
    unique by construction (one island per (pair, diagonal, start)),
    so the order is total and the driver hash deterministic."""
    d = load_table(spark, sf_dir, "documents")
    return shared_spans(d).orderBy("d1", "d2", "s1", "s2")


def _d13_sql() -> str:
    from big_data_analytics_cse545_spark.operators.text import (
        WINNOW_K,
        WINNOW_MAX_DF,
        WINNOW_W,
    )

    assert SPAN_MIN_TOKENS == WINNOW_K + WINNOW_W - 1
    return f"""
WITH big AS (
  SELECT doc_id, {SQL_TOKENS} AS ts FROM documents
  WHERE len({SQL_TOKENS}) >= {WINNOW_K}
),
kg AS (
  SELECT doc_id,
         list_transform(range(0, len(ts) - {WINNOW_K} + 1),
           i -> md5(array_to_string(list_slice(ts, i + 1, i + {WINNOW_K}), ' '))) AS kgs
  FROM big
),
gr AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(kgs)),
           i -> {{'pos': i, 'gh': kgs[i + 1]}}), recursive := true)
  FROM kg
),
sel AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(0, len(kgs) - {WINNOW_W} + 1),
           j -> list_aggregate(list_slice(kgs, j + 1, j + {WINNOW_W}), 'min')))) AS fp
  FROM kg
  WHERE len(kgs) >= {WINNOW_W}
),
rare AS (SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) BETWEEN 2 AND {WINNOW_MAX_DF}),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM (SELECT * FROM sel JOIN rare USING (fp)) a
  JOIN (SELECT * FROM sel JOIN rare USING (fp)) b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
),
gc AS (
  SELECT doc_id, pos, gh FROM (
    SELECT doc_id, pos, gh,
           COUNT(*) OVER (PARTITION BY doc_id, gh) AS _occ
    FROM gr
  ) WHERE _occ <= {GRAM_MAX_OCC}
),
m AS (
  SELECT c.d1, c.d2, g1.pos AS p1, g2.pos AS p2
  FROM cand c
  JOIN gc g1 ON g1.doc_id = c.d1
  JOIN gc g2 ON g2.doc_id = c.d2 AND g2.gh = g1.gh
),
isl AS (
  SELECT d1, d2, p1, p2,
         p1 - ROW_NUMBER() OVER (PARTITION BY d1, d2, p1 - p2 ORDER BY p1) AS grp
  FROM m
)
SELECT d1, d2,
       CAST(MIN(p1) AS BIGINT) AS s1,
       CAST(MAX(p1) + {WINNOW_K - 1} AS BIGINT) AS e1,
       CAST(MIN(p2) AS BIGINT) AS s2,
       CAST(MAX(p2) + {WINNOW_K - 1} AS BIGINT) AS e2,
       CAST(MAX(p1) - MIN(p1) + {WINNOW_K} AS BIGINT) AS span_len
FROM isl
GROUP BY d1, d2, p1 - p2, grp
HAVING MAX(p1) - MIN(p1) + {WINNOW_K} >= {SPAN_MIN_TOKENS}
ORDER BY d1, d2, s1, s2
"""


QUERIES = {
    "d01_exact_dedup": d01_exact_dedup,
    "d02_ngram_jaccard_pairs": d02_ngram_jaccard_pairs,
    "d03_minhash_lsh_dedup": d03_minhash_lsh_dedup,
    "d04_simhash_clusters": d04_simhash_clusters,
    "d05_embedding_near_dup": d05_embedding_near_dup,
    "d06_minhash_mllib": d06_minhash_mllib,
    "d07_decontaminate": d07_decontaminate,
    "d08_dup_clusters": d08_dup_clusters,
    "d09_chunk_dedup": d09_chunk_dedup,
    "d10_incremental_dedup": d10_incremental_dedup,
    "d11_semantic_dedup": d11_semantic_dedup,
    "d12_cdc_chunk_dedup": d12_cdc_chunk_dedup,
    "d13_exact_substring_spans": d13_exact_substring_spans,
}

ORACLE = {
    "d01_exact_dedup": _D01_SQL,
    "d02_ngram_jaccard_pairs": _D02_SQL,
    "d03_minhash_lsh_dedup": _D03_SQL,
    "d04_simhash_clusters": _d04_sql(),
    "d05_embedding_near_dup": _D05_SQL,
    "d07_decontaminate": _D07_SQL,
    "d08_dup_clusters": _d08_sql(),
    "d09_chunk_dedup": _D09_SQL,
    "d10_incremental_dedup": _D10_SQL,
    "d11_semantic_dedup": _d11_sql,
    "d12_cdc_chunk_dedup": _D12_SQL,
    # callable — composes the winnow constants lazily (the d04/d11 pattern)
    "d13_exact_substring_spans": _d13_sql,
}
