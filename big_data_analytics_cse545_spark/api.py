"""Public operator API — the engine's reusable surface over arbitrary
DataFrames.

Every function is parameterized by (df, column) so a user can point it
at their own data — the 'switch from the reference and run every query'
contract (SURVEY §2.5: ``minhash_dedup(df, text_col)``,
``ann_join(df, emb_col, k)``). Where a registry query in
``operators.*`` computes the same thing, the query is a binding of the
function here: it calls the function on the fixture table and adds only
its final shaping. The DuckDB oracles that check those queries therefore
check the functions users call:

* text: t06 → :func:`quality_score`, t12 → :func:`pack_sequences`,
  t13 → :func:`repetition_signals`, t17 → :func:`chunk_documents`,
  t21 → :func:`bm25_score`, t22 → :func:`perplexity_gate`;
* selection and sampling: x04 → :func:`token_budget_select`,
  x05 → :func:`stratified_sample`, x06 → :func:`leakage_safe_split`;
* dedup: d03 → :func:`minhash_dedup_pairs`, d08 → :func:`dup_clusters`,
  d10 → :func:`incremental_dedup`, d12 → :func:`cdc_dedup`;
* graph, similarity: g01 → :func:`host_pagerank`,
  g02 → :func:`host_trustrank`, g03 → :func:`host_pagerank_weighted`,
  s01 → :func:`ann_join` (brute force), s02 → :func:`ann_join` (one
  LSH table), s06 → :func:`ann_join` (three LSH tables);
* projection, tokenizers: p08 → :func:`kmeans_trace`,
  t24 → :func:`bpe_train`;
* relational: q36 → :func:`merge_upsert`.

All functions return DataFrames (lazy, composable) and never collect
except where the algorithm itself is driver-scale (documented per
function).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_analytics_cse545_spark.functions.text import (
    bigrams,
    shingles,
    stopword_count,
    tokens,
)
from big_data_analytics_cse545_spark.operators.dedup import (
    MINHASH_SCHEME,
    _band_keys_df,
)

# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------


def tokenize(df: DataFrame, text_col: str, out_col: str = "tokens") -> DataFrame:
    """Lowercase word tokens (the reference's tokenizer semantics,
    a1p1_ahuja.py:184 / a1p2b_ahuja.py:68, normalized to one regex)."""
    return df.withColumn(out_col, tokens(F.col(text_col)))


def quality_score(df: DataFrame, text_col: str, out_col: str = "quality") -> DataFrame:
    """[0,1] quality from length / stopword share / mean token length;
    NULL for a row without tokens (empty or NULL text). t06 is this
    function's bucket histogram."""
    ts = F.col("_ts")
    n_tok = F.size(ts)
    # try_divide: a zero divisor gives NULL, as in DuckDB (ANSI `/`
    # raises on one empty document)
    mean_len = F.try_divide(
        F.aggregate(F.transform(ts, F.length), F.lit(0), lambda acc, x: acc + x),
        n_tok,
    )
    stop_ratio = F.try_divide(stopword_count(ts), n_tok)
    q = (
        F.least(n_tok / F.lit(100.0), F.lit(1.0)) * 0.5
        + F.least(stop_ratio / F.lit(0.1), F.lit(1.0)) * 0.3
        + F.least(mean_len / F.lit(6.0), F.lit(1.0)) * 0.2
    )
    # LEAST skips NULLs, so without the guard a row without tokens would
    # score 0.5 (empty text) or 1.0 (NULL text)
    return (
        df.withColumn("_ts", tokens(F.col(text_col)))
        .withColumn(out_col, F.when(n_tok > 0, q))
        .drop("_ts")
    )


def pack_sequences(
    df: DataFrame,
    text_col: str,
    id_col: str,
    stream_col: str,
    *,
    max_len: int = 512,
    out_col: str = "pack_id",
) -> DataFrame:
    """Assign each row to a context-window pack: rows are concatenated
    per ``stream_col`` in ``id_col`` order and chunked every ``max_len``
    tokens; a row's pack is where its first token lands (t12 aggregates
    this per pack). One running-sum window per stream — no cross-stream
    shuffle."""
    w = (
        Window.partitionBy(stream_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = F.size(tokens(F.col(text_col))).cast("long")
    return (
        df.withColumn("_n_tok", n_tok)
        .withColumn("_cum", F.sum("_n_tok").over(w))
        .withColumn(
            out_col, F.floor((F.col("_cum") - F.col("_n_tok")) / max_len).cast("long")
        )
        .drop("_n_tok", "_cum")
    )


def repetition_signals(df: DataFrame, text_col: str) -> DataFrame:
    """Append Gopher-style repetition signals: ``dup_token_frac``
    (1 - distinct/total tokens, NULL for a row without tokens) and
    ``top_bigram_frac`` (most frequent bigram's share of bigrams, 0.0
    for a row without bigrams). t13 adds the token count and the
    repetitive flag.

    Shuffle-free form: the top-bigram count is the longest run of equal
    bigrams in the row's sorted bigram array — O(n log n) in the row's
    bigram count, no data movement and no row key. Measured faster than
    an explode+groupBy count and a quadratic per-distinct-bigram count,
    on bounded and on 50k-token documents (SCALE.md)."""
    bg = F.col("_bg")

    def run_step(acc, b):
        run = F.when(acc["prev"] == b, acc["run"] + 1).otherwise(1)
        return F.struct(
            b.alias("prev"), run.alias("run"), F.greatest(acc["top"], run).alias("top")
        )

    top_n = F.aggregate(
        F.array_sort(bg),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("top"),
        ),
        run_step,
        lambda acc: acc["top"],
    )
    # try_divide: a zero divisor gives NULL, as in DuckDB (ANSI `/`
    # raises on one empty document)
    return (
        df.withColumn("_ts", tokens(F.col(text_col)))
        .withColumn("_bg", bigrams(F.col("_ts"), " "))
        .withColumn(
            "dup_token_frac",
            F.lit(1.0)
            - F.try_divide(
                F.size(F.array_distinct("_ts")).cast("double"),
                F.size("_ts").cast("double"),
            ),
        )
        .withColumn(
            "top_bigram_frac",
            F.coalesce(
                F.try_divide(top_n.cast("double"), F.size(bg).cast("double")),
                F.lit(0.0),
            ),
        )
        .drop("_ts", "_bg")
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    *,
    train_pct: int = 98,
    val_pct: int = 1,
    tag: str = "split|",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by md5 bucket
    (operators.sampling.x01 semantics over any DataFrame): stable under
    reruns, repartitioning, and corpus growth — no rand()."""
    from big_data_analytics_cse545_spark.operators.sampling import hash_bucket

    bucket = hash_bucket(F.col(key_col), tag, mod=100)
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn(out_col, split)


def temperature_mix(
    df: DataFrame,
    source_col: str,
    key_col: str,
    *,
    alpha: float = 0.5,
    tag: str = "mix|",
) -> DataFrame:
    """Deterministically downsample over-represented sources toward the
    alpha-temperature mixture (operators.sampling.x02 semantics over any
    DataFrame): keep-rate (min_n/n_s)^(1-alpha) per source, realized as
    hash(key) < floor(rate * 2^32). Returns the kept rows. One tiny
    count shuffle + a broadcast join; membership is a narrow per-row
    compare."""
    from big_data_analytics_cse545_spark.operators.sampling import (
        HASH_DOMAIN,
        hash_bucket,
    )

    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n_total"))
    min_n = counts.agg(F.min("_n_total").alias("_min_n"))
    rates = counts.crossJoin(F.broadcast(min_n)).withColumn(
        "_threshold",
        F.floor(
            F.pow(
                F.col("_min_n").cast("double") / F.col("_n_total").cast("double"),
                F.lit(1.0 - alpha),
            )
            * F.lit(HASH_DOMAIN)
        ).cast("long"),
    )
    return (
        df.join(F.broadcast(rates.select(source_col, "_threshold")), source_col)
        .filter(hash_bucket(F.col(key_col), tag) < F.col("_threshold"))
        .drop("_threshold")
    )


def pii_scrub(df: DataFrame, text_col: str) -> DataFrame:
    """Redact emails/IPv4s/phone numbers in ``text_col`` in place
    (operators.text.t11 semantics: <EMAIL>/<IP>/<PHONE> placeholders,
    all JVM-side regexp — a narrow map stage at any scale)."""
    from big_data_analytics_cse545_spark.operators.text import pii_scrub_col

    return df.withColumn(text_col, pii_scrub_col(F.col(text_col)))


def _shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(_id, _sh) — distinct word ``n``-gram shingles per row."""
    return df.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_ts")
    ).select("_id", F.explode(shingles(F.col("_ts"), n)).alias("_sh"))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination (operators.dedup.d07 generalized):
    remove corpus rows sharing ≥ ``min_shared`` distinct word ``n``-gram
    shingles with any ``benchmark`` row. The benchmark shingle set is
    broadcast (eval suites are small); the corpus never shuffles its
    text — at 100 TB this is a broadcast semi-join over a narrow scan."""
    csh = _shingles(corpus, text_col, id_col, n)
    bsh = _shingles(benchmark, text_col, id_col, n).select("_sh").distinct()
    contaminated = (
        csh.join(F.broadcast(bsh), "_sh")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("_n_shared"))
        .filter(F.col("_n_shared") >= min_shared)
        .select(F.col("_id").alias(id_col))
    )
    return corpus.join(contaminated, id_col, "left_anti")


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct (lowercased) text — survivor = min id.
    One shuffle on a 16-byte md5 key; never shuffles the text itself."""
    h = F.md5(F.lower(F.col(text_col)))
    w = Window.partitionBy("_h").orderBy(F.col(id_col))
    return (
        df.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_hashes: int = 32,
    band_rows: int = 4,
    shingle_size: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate id pairs (id1 < id2, jaccard) via MinHash+LSH with
    exact verification on candidates; d03 is this function over the
    documents fixture. Returns columns (id1, id2, jaccard)."""
    # sh is NOT cached for its four uses (round-12 A/B on d03/d10: the
    # eager materialization barrier cost more than the re-tokenizes it
    # saved; at scale the pipelined recompute also avoids a corpus-sized
    # cache)
    sh = _shingles(df, text_col, id_col, shingle_size)
    bands = _band_keys_df(sh, n_hashes=n_hashes, band_rows=band_rows)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._key") == F.col("b._key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .distinct()
    )
    cnt = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    s1 = sh.select(F.col("_id").alias("id1"), F.col("_sh").alias("_s1"))
    s2 = sh.select(F.col("_id").alias("_bid2"), F.col("_sh").alias("_s2"))
    inter = (
        cand.join(s1, "id1")
        .join(s2, (F.col("id2") == F.col("_bid2")) & (F.col("_s1") == F.col("_s2")))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    c1 = cnt.select(F.col("_id").alias("id1"), F.col("_n").alias("_n1"))
    c2 = cnt.select(F.col("_id").alias("id2"), F.col("_n").alias("_n2"))
    jac = F.col("_inter") / (F.col("_n1") + F.col("_n2") - F.col("_inter"))
    return (
        inter.join(c1, "id1")
        .join(c2, "id2")
        .select("id1", "id2", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup(
    df: DataFrame, text_col: str, id_col: str, **kwargs
) -> DataFrame:
    """Survivor rows after near-dup removal: from each duplicate pair the
    higher id is dropped (transitively, via the pair list)."""
    pairs = minhash_dedup_pairs(df, text_col, id_col, **kwargs)
    losers = pairs.select(F.col("id2").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def dup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    ham_k: int = 3,
    wide_keys: bool = True,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Transitive near-dup clusters over any corpus: 64-bit SimHash
    hamming-banded pairs (d04) closed into components by distributed
    min-label propagation; d08 is this function over the documents
    fixture.

    ``wide_keys`` (default True, matching the operator layer): the
    Manku-style 3-of-(ham_k+3)-block candidate keys (~32-bit key space)
    — identical output to the classic 4×16 bands (both schemes are
    exact; parity test-pinned) with ~2¹⁶ less bucket collision mass.
    ``False`` selects the 16-bit banding, which collapses in the
    candidate self-join past ~10⁷ docs — demonstration only. Returns one row per doc
    that has at least one near-dup: (id_col, cluster_id, cluster_size),
    cluster_id = min member id.

    ``reliable_checkpoint=True`` writes each CC iteration's labels to
    the context's checkpoint directory so a long cluster run survives
    executor loss without replaying the loop (the cluster-grade mode;
    the default ``localCheckpoint`` is right for local/short jobs).

    Unlike ``minhash_dedup``'s per-pair drop (which deletes BOTH ends of
    a chain's tail pairs), keeping ``cluster_id == id`` rows retains
    exactly one representative per transitive group:

        clusters = api.dup_clusters(docs, "text", "doc_id")
        keep = docs.join(
            clusters.filter("doc_id != cluster_id").select("doc_id"),
            "doc_id", "left_anti")
    """
    from big_data_analytics_cse545_spark.operators.dedup import (
        connected_components,
        simhash_near_dup_pairs,
    )

    d = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    pairs = simhash_near_dup_pairs(d, ham_k, wide_keys=wide_keys)
    cc = connected_components(
        pairs, "d1", "d2", reliable_checkpoint=reliable_checkpoint
    )
    sizes = cc.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "label").select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    )


def simhash64(df: DataFrame, text_col: str, out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash fingerprint column (md5-nibble bits, no UDF)."""
    from big_data_analytics_cse545_spark.operators.dedup import _bit_weight

    toks = tokens(F.col(text_col))
    # one md5 per token, pre-parsed into four 16-bit integer quarters;
    # each bit vote is then an integer shift+mask over the quarter array
    # (the round-2 form re-derived md5+locate per bit — 64× per token)
    quarters = "transform(_ts, t -> array(" + ", ".join(
        f"CAST(conv(substr(md5(t), {4 * b + 1}, 4), 16, 10) AS INT)"
        for b in range(4)
    ) + "))"
    bit_votes = [
        f"aggregate(_qs, 0L, (acc, q) -> "
        f"acc + 2 * ((q[{j // 16}] div {_bit_weight(j)}) % 2) - 1) > 0"
        for j in range(64)
    ]
    # bitwise OR of shifted bits — a literal 2^63 would overflow the
    # signed long, shiftleft wraps to the sign bit correctly
    sim = " | ".join(
        f"IF({v}, shiftleft(1L, {j}), 0L)" for j, v in enumerate(bit_votes)
    )
    return (
        df.withColumn("_ts", toks)
        .withColumn("_qs", F.expr(quarters))
        .withColumn(out_col, F.expr(sim).cast("long"))
        .drop("_ts", "_qs")
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _plane_sign_expr(p: int, col: str) -> str:
    """±1 hyperplane sign vector for plane ``p``, sized to each row's
    vector via size() — sign(p, d) = parity of the first md5 nibble of
    'p_d', identical to operators.similarity's ``_plane_sign`` but
    computed entirely JVM-side so no driver action (and no ``dim``
    probe) is needed at plan-construction time."""
    return (
        f"transform(sequence(0, size({col}) - 1), "
        f"d -> CASE WHEN (locate(substr(md5(concat('{p}', '_', cast(d AS STRING))), 1, 1), "
        f"'0123456789abcdef') - 1) % 2 = 0 THEN 1.0D ELSE -1.0D END)"
    )


def _sized_bucket_expr(col: str, n_planes: int, plane_offset: int):
    """:func:`operators.similarity.hyperplane_bucket_expr` for an unknown
    dimension: the same bucket, with each plane's signs built per row
    by :func:`_plane_sign_expr`."""
    b = F.lit(0)
    for p in range(n_planes):
        signs_sql = _plane_sign_expr(plane_offset + p, col)
        dotv = F.expr(
            f"aggregate(zip_with(cast({col} AS array<double>), "
            f"{signs_sql}, (x, s) -> x * s), 0.0D, (acc, v) -> acc + v)"
        )
        b = b + F.when(dotv > 0, F.lit(2 ** p)).otherwise(F.lit(0))
    return b


def ann_join(
    queries: DataFrame,
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    *,
    k: int = 5,
    method: str = "bruteforce",
    n_planes: int = 6,
    n_tables: int = 1,
    dim: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k cosine neighbors from ``corpus`` for every row of
    ``queries`` → (q_id, neighbor_id, rk, cos_sim).

    method='bruteforce' scores everything — EXACT but O(|Q|·|C|); right
    for small corpora (≲10⁵ rows) or pre-pruned candidate sets, never
    for a full production corpus. method='lsh' prunes to a shared
    random-hyperplane bucket first — ~1/2^n_planes of the corpus per
    query, approximate recall; the scale path.

    ``n_tables``: number of INDEPENDENT hyperplane tables (multi-probe,
    OR-semantics — a pair is a candidate if it collides in ANY table;
    the d03 banding pattern applied to hyperplane LSH). A single
    all-n_planes-bits bucket has recall p^n_planes per table (p = the
    per-plane collision probability); n_tables drives recall to
    1-(1-p^n_planes)^n_tables while each query still scores only
    ~n_tables/2^n_planes of the corpus. Table t uses plane indices
    t*n_planes..t*n_planes+n_planes-1 of the same md5 sign family, so
    n_tables=1 is exactly the round-2 behavior (and s02's table). s01
    binds the brute-force form (``k=5, dim=64``), s02 the one-table LSH
    form (``k=3, n_planes=6, n_tables=1, dim=64``) and s06 the
    several-table form (``k=3, n_planes=6, n_tables=3, dim=64``), so
    their DuckDB oracles check this function.

    Picking ``n_tables`` from a recall target — measured operating
    points (SCALE.md ANN table, 10× clustered corpus, within-cluster
    cos ≈ 0.86, n_planes=6): recall@3 is **0.41 at L=1** (s02) and
    **0.81 at L=3** (s06) for 2.7× the wall time — matching the
    1−(1−r)^L model within noise, so extrapolate with that formula:
    L=6 ⇒ ~0.96, L=9 ⇒ ~0.99. Cost is linear in L (the exploded
    relation is ids only). On structureless data recall ≈ the candidate
    fraction regardless of L (rotated rows: 0.09 → 0.22 at L=3) — no
    table count fixes data with no neighborhoods; use bruteforce (s01)
    or the IVF path there.

    The table count picks the candidate join. With ONE table no pair
    can collide twice, so the (id, embedding, norm, bucket) rows join
    on the bucket directly. With SEVERAL tables the candidate stage is
    NARROW: only (id, table, bucket) rows ride the ×n_tables explode
    and the pair-dedup shuffle — embeddings rejoin by id afterwards, so
    the shuffle payload is independent of the embedding width.

    ``dim``: optional embedding dimensionality. When given, plane signs
    are embedded as literal arrays (cheapest codegen —
    ``operators.similarity.hyperplane_bucket_expr``); when None they
    are computed per-row from size() — still JVM-only, no driver
    round-trip in either case. Scoring is the same for both: per-row
    hoisted norms and ``cosine_pre``. NULL vectors are neither queries
    nor neighbors.

    ``exclude_self``: drop neighbor_id == q_id matches. Set False when
    ``queries`` and ``corpus`` are unrelated tables whose ids may
    coincide — otherwise a corpus row with a query's id is silently
    excluded from that query's top-k.
    """
    from big_data_analytics_cse545_spark.functions.vectors import (
        cosine_pre,
        dot,
        norm,
    )
    from big_data_analytics_cse545_spark.operators.similarity import (
        hyperplane_bucket_expr,
    )

    def bucket(col: str, t: int):
        if dim is not None:
            return hyperplane_bucket_expr(col, n_planes, dim, plane_offset=t * n_planes)
        return _sized_bucket_expr(col, n_planes, t * n_planes)

    # one table's bucket is built once, over the caller's column, and
    # shared by both sides: each build is hundreds of driver calls
    one_table = method == "lsh" and n_tables == 1
    table0 = [bucket(emb_col, 0)] if one_table else []

    def side(df: DataFrame, id_name: str, p: str) -> DataFrame:
        # engine-wide policy: null vectors are excluded from similarity
        # math (a null cosine would otherwise fill sparse top-k tails
        # with null rows under NULLS LAST ranking). The norm is hoisted
        # out of the pair loop: folded once per ROW here, not once per
        # pair — bit-identical to cosine(q, c) (tests/test_functions.py)
        return (
            df.filter(F.col(emb_col).isNotNull())
            .select(
                F.col(id_col).alias(id_name),
                F.col(emb_col).alias(f"_{p}_emb"),
                *[b.alias(f"_{p}_b") for b in table0],
            )
            .withColumn(f"_{p}_nrm", norm(F.col(f"_{p}_emb")))
        )

    q, c = side(queries, "q_id", "q"), side(corpus, "neighbor_id", "c")
    not_self = (
        (F.col("q_id") != F.col("neighbor_id")) if exclude_self else F.lit(True)
    )
    if one_table:
        # no pair can collide twice, so the wide rows join on the bucket
        # directly — no explode, no pair dedup, no rejoin
        joined = q.join(c, (F.col("_q_b") == F.col("_c_b")) & not_self)
    elif method == "lsh":
        # one NARROW row per (id, table): ids and buckets only — the
        # ×n_tables blow-up must never ship the embeddings; join key is
        # (table, bucket) so tables never cross-match, and table t uses
        # the independent planes t*n_planes... The expression is built
        # once over "_emb" and shared by both sides
        sig = F.posexplode(
            F.array(*[bucket("_emb", t) for t in range(n_tables)])
        ).alias("_t", "_b")
        q_sig = q.select("q_id", F.col("_q_emb").alias("_emb")).select("q_id", sig)
        c_sig = c.select("neighbor_id", F.col("_c_emb").alias("_emb")).select(
            "neighbor_id", sig
        )
        # a pair colliding in several tables must be scored exactly once:
        # dedup the id-PAIR relation, then rejoin the wide embedding rows
        cand = (
            q_sig.join(c_sig, ["_t", "_b"])
            .filter(not_self)
            .select("q_id", "neighbor_id")
            .dropDuplicates(["q_id", "neighbor_id"])
        )
        joined = cand.join(q, "q_id").join(c, "neighbor_id")
    else:
        joined = q.join(c, not_self)
    cos = F.round(
        cosine_pre(
            dot(F.col("_q_emb"), F.col("_c_emb")), F.col("_q_nrm"), F.col("_c_nrm")
        ),
        6,
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        joined.select("q_id", "neighbor_id", cos.alias("cos_sim"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
    )


def _ivf_cells(
    corpus: DataFrame,
    queries: DataFrame,
    c_emb: str,
    q_emb: str,
    vec,
    *,
    n_cells: int,
    n_probe: int,
    seed: int,
    max_iter: int,
) -> tuple[DataFrame, DataFrame]:
    """The IVF coarse quantizer shared by :func:`ivf_join` and
    :func:`ivf_pq_join`. ``c_emb`` and ``q_emb`` name the embedding
    columns of ``corpus`` and ``queries``; ``vec`` maps an embedding
    column to the array<double> that is clustered and probed
    (L2-normalized for ivf_join, the raw vector for ivf_pq_join).
    pyspark.ml KMeans learns ``n_cells`` centroids from the corpus (the
    driver holds only k×d floats) and assigns every corpus row its
    ``_cell``; each query row ranks the centroid literals in-plan and
    explodes to its ``n_probe`` nearest cells (array_sort over (d, cell)
    structs). Returns (corpus + ``_cell``, queries × probed ``_cell``)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c_vec = corpus.withColumn("_v", array_to_vector(vec(F.col(c_emb))))
    km = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter, featuresCol="_v", predictionCol="_cell"
    ).fit(c_vec)
    q_vec = vec(F.col(q_emb))

    def d2(center):
        arr = F.array(*[F.lit(float(x)) for x in center])
        return F.aggregate(
            F.zip_with(q_vec, arr, lambda x, ctr: (x - ctr) * (x - ctr)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cells = F.array(
        *[
            F.struct(d2(center).alias("d"), F.lit(i).alias("cell"))
            for i, center in enumerate(km.clusterCenters())
        ]
    )
    probed = queries.withColumn(
        "_probe", F.slice(F.array_sort(cells), 1, n_probe)
    ).select(*queries.columns, F.explode("_probe.cell").alias("_cell"))
    return km.transform(c_vec).drop("_v"), probed


def ivf_join(
    queries: DataFrame,
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    *,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    max_iter: int = 5,
    seed: int = 42,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF ANN with LEARNED coarse centroids → (q_id, neighbor_id, rk,
    cos_sim).

    operators.similarity.s03 demonstrates the IVF shape on pre-existing
    cell labels; this is the production form: pyspark.ml KMeans learns
    ``n_cells`` centroids from the corpus (driver holds only k×d), each
    corpus row is assigned its nearest cell, and each query probes its
    ``n_probe`` nearest cells before exact cosine scoring inside them.
    Per query the scored set is ~n_probe/n_cells of the corpus.
    ``n_probe == n_cells`` degenerates to exact brute force (test-pinned).

    At 100 TB: raise n_cells ~ √N so cells stay partition-sized; the
    centroid array (n_cells × d literals) stays a broadcast-scale
    constant in the plan.
    """
    from big_data_analytics_cse545_spark.functions.vectors import cosine

    # Spherical IVF: cluster and probe on L2-NORMALIZED vectors so
    # euclidean cell geometry matches the cosine scoring metric —
    # unnormalized cells mostly partition by magnitude, which is
    # uninformative for cosine neighbors.
    def l2norm(col):
        nrm = F.sqrt(
            F.aggregate(
                col.cast("array<double>"), F.lit(0.0), lambda a, x: a + x * x
            )
        )
        return F.transform(col.cast("array<double>"), lambda x: x / nrm)

    # engine-wide policy: null vectors are excluded from similarity math
    # (KMeans.fit NPEs on null features; a null cosine would pollute
    # sparse top-k tails)
    c, q = _ivf_cells(
        corpus.filter(F.col(emb_col).isNotNull()).select(
            F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("_c_emb")
        ),
        queries.filter(F.col(emb_col).isNotNull()).select(
            F.col(id_col).alias("q_id"), F.col(emb_col).alias("_q_emb")
        ),
        "_c_emb", "_q_emb",
        l2norm,
        n_cells=n_cells,
        n_probe=n_probe,
        seed=seed,
        max_iter=max_iter,
    )
    not_self = (
        (F.col("q_id") != F.col("neighbor_id")) if exclude_self else F.lit(True)
    )
    joined = q.join(c, "_cell").filter(not_self)
    cos = F.round(cosine(F.col("_q_emb"), F.col("_c_emb")), 6)
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        joined.select("q_id", "neighbor_id", cos.alias("cos_sim"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
    )


def pq_ann_join(
    queries: DataFrame,
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    *,
    k: int = 5,
    n_sub: int = 16,
    n_centroids: int = 16,
    rerank: int = 64,
    train_cap: int = 2048,
    exclude_self: bool = True,
) -> DataFrame:
    """Product-quantization ANN → (q_id, neighbor_id, rk, d2) — the
    MEMORY-bound member of the ANN triad (ann_join = hyperplane LSH,
    ivf_join = learned coarse cells, pq_ann_join = compressed-code
    scan): each corpus vector is encoded as ``n_sub`` sub-codes
    (dim·4 bytes of float32 → n_sub·log2(n_centroids) bits — 32×
    compression at the defaults for 64-dim vectors), distances are
    approximated by ADC table lookups, and only a per-task shortlist is
    reranked with exact float64 euclidean math.

    Semantics and scale shape are the driver-checked p07 operator's
    (operators/projection.py — codebooks trained on a ``train_cap``
    hash-ordered sample; bounded query sets broadcast and scan the
    corpus in one narrow pass, corpus-proportional query sets cogroup
    query-blocks × corpus-blocks with no driver materialization; the
    shortlist cut is hash-spread and tie-inclusive, measured recall@3
    1.0 on every scale_ann corpus at the defaults, SCALE.md ANN table).
    Distance is squared euclidean ASCENDING (unlike the cosine-ranked
    ann_join/ivf_join) — use it when vectors are unnormalized or L2
    structure matters; on unit-normalized vectors the rankings agree
    (d² = 2 − 2·cos).

    Pick PQ over IVF when the working set must shrink (codes live in
    ~1/32 the memory of raw floats); pick IVF when you need sublinear
    scan cost; real systems compose them (IVF-PQ) — here that is
    ``ivf_join`` for the candidate cells plus this operator's encoder
    inside each cell.
    """
    from big_data_analytics_cse545_spark.operators.projection import pq_topk_join

    return pq_topk_join(
        queries,
        corpus,
        id_col=id_col,
        emb_col=emb_col,
        k=k,
        n_sub=n_sub,
        n_centroids=n_centroids,
        rerank=rerank,
        train_cap=train_cap,
        exclude_self=exclude_self,
    )


def ivf_pq_join(
    queries: DataFrame,
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    *,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    n_sub: int = 16,
    n_centroids: int = 16,
    rerank: int = 64,
    train_cap: int = 2048,
    seed: int = 42,
    max_iter: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ ANN → (q_id, neighbor_id, rk, d2): the production
    composition real vector stores ship — ``ivf_join``'s learned coarse
    cells prune the scan to ~n_probe/n_cells of the corpus AND the
    in-cell scan runs on PQ codes with ADC lookups instead of raw-float
    kernels, so the index is simultaneously SUBLINEAR (probe) and
    COMPRESSED (code scan). Squared-euclidean ascending, like
    ``pq_ann_join``.

    Plan shape: KMeans learns n_cells centroids (driver holds k×d
    floats only); PQ codebooks train on a ``train_cap`` hash-ordered
    sample; each query ranks the centroid literals in-plan and explodes
    to its n_probe nearest cells; queries-by-cell cogroup with
    corpus-by-cell, and each cell task runs the shared p07 kernel —
    encode, ADC, hash-spread tie-inclusive shortlist, exact float64
    rerank, per-cell top-k — with a window merging per-cell winners.
    No driver materialization grows with the corpus. Per-task work is
    one cell-shard's corpus times the queries probing it: cells whose
    AVERAGE size would overflow the grid path's per-cell row budget are
    hash-sub-sharded on n_id (queries replicate across a cell's shards;
    exactness is untouched since per-query results are shard-
    independent and the window merges them). Raise n_cells ~ √N so
    cells stay partition-sized and the shard fan-out stays 1; for
    corpus-proportional query sets prefer a larger n_cells so the
    per-cell query load stays bounded. The average-based shard count
    cannot bound one pathologically skewed mega-cell — that corpus
    needs more cells, not more shards.
    """
    import numpy as np
    import pandas as pd

    from big_data_analytics_cse545_spark.operators.projection import (
        _pq_adc_topk_kernel,
        _pq_cell_fn,
        _pq_dtab,
        _pq_fit,
        _pq_parse_floats,
        _pq_rank_tail,
    )

    rerank = max(rerank, k)  # shortlist must be ≥ k deep per pool
    spark = corpus.sparkSession
    corpus = corpus.filter(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("n_id"), F.col(emb_col).alias("n_emb")
    )
    queries = queries.filter(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb")
    )
    out_schema = "q_id long, neighbor_id long, rk long, d2 double"
    codebooks, n_train = _pq_fit(
        corpus, n_sub=n_sub, n_centroids=n_centroids,
        train_cap=train_cap, caller="ivf_pq_join",
    )
    if codebooks is None:
        return spark.createDataFrame([], out_schema)
    bc = spark.sparkContext.broadcast(codebooks)

    # coarse cells on RAW vectors (euclidean geometry matches the PQ/
    # rerank metric, unlike ivf_join's spherical-cosine normalization).
    # A corpus smaller than n_cells would fail the KMeans fit. When the
    # train sample is under its cap its length IS the corpus count, so
    # the clamp is exact and free; only when the sample hit the cap AND
    # the caller asked for more cells than the cap does deciding need a
    # real count — never a silent clamp to the unrelated train_cap.
    if n_cells > n_train:
        n_cells = min(n_cells, corpus.count()) if (
            n_train == train_cap
        ) else n_train
    c_side, q_side = _ivf_cells(
        corpus,
        queries,
        "n_emb", "q_emb",
        lambda col: col.cast("array<double>"),
        n_cells=n_cells,
        n_probe=n_probe,
        seed=seed,
        max_iter=max_iter,
    )

    # Hot-cell bound (round-6 review): applyInPandas materializes a
    # whole cogroup cell before the cell fn can slice anything, and
    # KMeans cells — unlike the grid path — have no size cap. Sub-shard
    # the corpus side by an id hash whenever the AVERAGE cell would
    # overflow the grid path's per-cell row budget (queries replicate
    # across a cell's shards; per-query results are shard-independent,
    # so the window merge is exact). Average-based like AQE's skew
    # heuristics: a pathologically skewed single mega-cell can still
    # exceed the budget — raise n_cells for such corpora (docstring).
    from big_data_analytics_cse545_spark.operators.projection import (
        PQ_CORPUS_ROWS_PER_BLOCK,
    )

    n_corpus = corpus.count()
    n_shards = max(1, -(-n_corpus // (n_cells * PQ_CORPUS_ROWS_PER_BLOCK)))
    keys = ["_cell"]
    if n_shards > 1:
        keys = ["_cell", "_shard"]
        c_side = c_side.withColumn(
            "_shard", F.pmod(F.xxhash64("n_id"), F.lit(n_shards)).cast("int")
        )
        shards = spark.range(n_shards).select(
            F.col("id").cast("int").alias("_shard")
        )
        q_side = q_side.join(F.broadcast(shards))

    cols = ["q_id", "neighbor_id", "d2"]

    def make_kernel(qpdf: pd.DataFrame):
        cbs = bc.value
        qids = qpdf["q_id"].to_numpy()
        qmat = np.array([list(v) for v in qpdf["q_emb"]], dtype=np.float64)
        dtab = _pq_dtab(qmat, cbs)

        def run(nids, x):
            return _pq_adc_topk_kernel(
                cbs, qids, qmat, dtab, nids, x, rerank,
                topk=k, exclude_self=exclude_self,
            )

        return run

    candidates = (
        q_side.groupBy(*keys)
        .cogroup(c_side.groupBy(*keys))
        .applyInPandas(
            _pq_cell_fn(
                make_kernel,
                _pq_parse_floats,
                cols,
                {"q_id": "int64", "neighbor_id": "int64", "d2": "float64"},
            ),
            schema="q_id long, neighbor_id long, d2 double",
        )
    )
    return _pq_rank_tail(candidates, k)


def pq_index(
    corpus: DataFrame,
    emb_col: str,
    id_col: str,
    *,
    n_sub: int = 16,
    n_centroids: int = 16,
    train_cap: int = 2048,
) -> dict:
    """Build the persistable half of PQ vector search: train codebooks
    on a ``train_cap`` hash-ordered sample and encode the whole corpus
    ONCE into a codes relation (``n_sub``·log2(``n_centroids``) bits
    per vector — 8 bytes at the defaults, a 32× cut from 64-dim
    float32). ``pq_search`` then answers any number of query batches —
    possibly in different jobs, days apart via :func:`save_pq_index` /
    :func:`load_pq_index` — against the codes without ever re-reading
    corpus floats. The dedup-side precedent is
    ``dedup_index``/``incremental_dedup``: encode per ingest cycle,
    search per batch.

    Returns ``{"codes": DataFrame(n_id, codes), "params": {...}}``;
    params embeds the trained codebooks (n_sub×n_centroids×dsub doubles
    — model-sized) plus the build geometry, and ``pq_search`` refuses
    queries whose dimensionality disagrees."""
    from big_data_analytics_cse545_spark.operators.projection import (
        _pq_encode_df,
        _pq_fit,
    )

    corpus = corpus.filter(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("n_id"), F.col(emb_col).alias("n_emb")
    )
    codebooks, _ = _pq_fit(
        corpus, n_sub=n_sub, n_centroids=n_centroids,
        train_cap=train_cap, caller="pq_index",
    )
    if codebooks is None:
        raise ValueError("pq_index: corpus has no non-null embeddings")
    dim = codebooks.shape[0] * codebooks.shape[2]

    return {
        "codes": _pq_encode_df(corpus, codebooks),
        "params": {
            "n_sub": n_sub,
            # record the EFFECTIVE centroid count — _pq_train clamps to
            # the training-sample size on tiny corpora, and persisted
            # metadata must agree with the embedded codebooks
            "n_centroids": int(codebooks.shape[1]),
            "dim": dim,
            "train_cap": train_cap,
            "codebooks": [[list(map(float, c)) for c in book] for book in codebooks],
        },
    }


def save_pq_index(index: dict, path: str) -> None:
    """Persist a :func:`pq_index` (codes parquet + one-row params
    parquet embedding the codebooks). On a real deployment the codes
    relation would be written bucketed by n_id for co-located rerank
    joins; plain parquet keeps this filesystem-agnostic."""
    import json

    spark = index["codes"].sparkSession
    index["codes"].write.mode("overwrite").parquet(f"{path}/codes")
    spark.createDataFrame(
        [(json.dumps(index["params"]),)], "params string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def load_pq_index(spark, path: str) -> dict:
    """Load a persisted PQ index; the embedded codebooks and geometry
    come back with it, so ``pq_search``'s dimension guard protects
    loaded indexes exactly like fresh ones."""
    import json

    return {
        "codes": spark.read.parquet(f"{path}/codes"),
        "params": json.loads(
            spark.read.parquet(f"{path}/params").collect()[0]["params"]
        ),
    }


def pq_search(
    index: dict,
    queries: DataFrame,
    emb_col: str,
    id_col: str,
    *,
    k: int = 5,
    rerank: int = 64,
    corpus: DataFrame | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Answer top-k against a prebuilt :func:`pq_index` by scanning
    CODES, never corpus floats.

    Without ``corpus``: compressed-only ranking — returns (q_id,
    neighbor_id, rk, adc_d2) where adc_d2 is the ADC approximation of
    squared euclidean. Recall then depends on code RESOLUTION relative
    to the data's neighbor distances: coarse codes tie whole clusters
    at one ADC distance and the cut inside the tie is arbitrary
    (measured on the 8-bundle clustered fixture: recall@3 0.37 at
    n_sub=8/16 centroids → 0.67 at 16/16 → 0.93 at 16/32; ~0.4 on the
    structureless sf fixture at any resolution). Build the index with
    finer codebooks for compressed-only serving, or pass ``corpus``
    for exact rerank at default resolution (measured 1.0). With
    ``corpus`` (the original (id, embedding) relation): the shortlist
    joins back to the floats and d² is computed exactly JVM-side
    (fused zip_with/aggregate, whole-stage codegen) — returns (q_id,
    neighbor_id, rk, d2) with pq_ann_join-grade precision while the
    scan cost stays on the 8-byte codes.

    Query handling mirrors the two-regime p07 design: bounded query
    sets (≤1024) broadcast their ADC tables over one narrow scan of
    the codes; larger sets cogroup query-blocks × code-blocks (codes
    are ~24 B/row, so the grid replication ships no floats)."""
    import numpy as np
    import pandas as pd

    from big_data_analytics_cse545_spark.operators.projection import (
        PQ_QUERIES_PER_BLOCK,
        _pq_adc_codes_kernel,
        _pq_cell_fn,
        _pq_dtab,
        _pq_exact_rerank,
        _pq_grid_cogroup,
        _pq_parse_codes,
        _pq_pool_cut,
        _pq_rank_tail,
    )

    rerank = max(rerank, k)  # shortlist must be ≥ k deep per pool
    params = index["params"]
    codebooks = np.array(params["codebooks"], dtype=np.float64)
    codes_df = index["codes"]
    spark = codes_df.sparkSession
    queries = queries.filter(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("q_id"), F.col(emb_col).alias("q_emb")
    )
    dcol = "d2" if corpus is not None else "adc_d2"
    out_schema = f"q_id long, neighbor_id long, rk long, {dcol} double"
    probe = queries.limit(PQ_QUERIES_PER_BLOCK + 1).collect()
    if not probe:
        return spark.createDataFrame([], out_schema)
    # validate EVERY probed row, not just probe[0]: a mixed-dimension
    # query relation would otherwise pass the guard and die later in
    # np.array(...) with an opaque ragged-array ValueError — in the
    # grid regime inside an executor task (round-6 advice). For
    # corpus-proportional query sets the probe is a capped sample, so
    # the grid kernel re-asserts per block (see _pq_grid_cogroup).
    for r in probe:
        if len(r["q_emb"]) != params["dim"]:
            raise ValueError(
                f"pq_search: query dim {len(r['q_emb'])} != index dim "
                f"{params['dim']} (q_id {r['q_id']!r})"
            )
    # shortlist mode when an exact rerank follows (candidates carry the
    # kernel-emitted sub-block id for the global cut); direct ADC top-k
    # otherwise
    kernel_topk = None if corpus is not None else k
    cols = ["q_id", "neighbor_id", "adc"]
    cand_schema = "q_id long, neighbor_id long, adc double"
    dtypes = {"q_id": "int64", "neighbor_id": "int64", "adc": "float64"}
    if kernel_topk is None:
        cols = cols + ["blk"]
        cand_schema += ", blk int"
        dtypes = dict(dtypes, blk="int32")

    if len(probe) <= PQ_QUERIES_PER_BLOCK:
        q_ids = np.array([r["q_id"] for r in probe])
        q_mat = np.array([r["q_emb"] for r in probe], dtype=np.float64)
        bc = spark.sparkContext.broadcast(
            (q_ids, _pq_dtab(q_mat, codebooks))
        )

        def scan(batches):
            qids, dtab = bc.value
            # shortlist mode folds batches through the tie-inclusive
            # pool cut so each TASK emits ≤ 32·rerank + ties rows per
            # query instead of that much per Arrow batch — the window
            # shuffle input stops growing with the corpus (round-6
            # review); the running pool itself is bounded by the same
            # cut, so task memory is constant
            pool = None
            for batch in batches:
                if not len(batch):
                    continue
                nids = batch["n_id"].to_numpy()
                c = np.array([list(v) for v in batch["codes"]], dtype=np.int64)
                res = _pq_adc_codes_kernel(
                    dtab, qids, nids, c, rerank,
                    topk=kernel_topk, exclude_self=exclude_self,
                )
                if res is None:
                    continue
                new = pd.DataFrame(dict(zip(cols, res)))
                if kernel_topk is not None:
                    yield new
                    continue
                pool = (
                    new if pool is None
                    else pd.concat([pool, new], ignore_index=True)
                )
                pool = _pq_pool_cut(pool, rerank)
            if pool is not None and len(pool):
                yield pool

        candidates = codes_df.mapInPandas(scan, schema=cand_schema)
    else:
        bc = spark.sparkContext.broadcast(codebooks)

        def make_kernel(qpdf: pd.DataFrame):
            cbs = bc.value
            qids = qpdf["q_id"].to_numpy()
            # per-block dim assertion (round-6 advice): the driver probe
            # is a capped sample, so a ragged query relation can reach
            # this executor-side np.array — name the offending q_id and
            # dim instead of letting numpy raise an opaque ragged error
            dim = cbs.shape[0] * cbs.shape[2]
            for qid, emb in zip(qids, qpdf["q_emb"]):
                if len(emb) != dim:
                    raise ValueError(
                        f"pq_search: query dim {len(emb)} != index dim "
                        f"{dim} (q_id {qid!r})"
                    )
            qmat = np.array([list(v) for v in qpdf["q_emb"]], dtype=np.float64)
            dtab = _pq_dtab(qmat, cbs)

            def run(nids, c):
                return _pq_adc_codes_kernel(
                    dtab, qids, nids, c, rerank,
                    topk=kernel_topk, exclude_self=exclude_self,
                )

            return run

        candidates = _pq_grid_cogroup(
            queries,
            codes_df,
            queries.count(),
            codes_df.count(),
            _pq_cell_fn(
                make_kernel, _pq_parse_codes, cols, dtypes,
                pool_rerank=rerank if kernel_topk is None else None,
            ),
            cand_schema,
        )

    if corpus is not None:
        # exact rerank JVM-side: global tie-inclusive ADC cut bounds the
        # join input to ~PQ_CORPUS_BLOCKS·rerank rows per query (the
        # uncut union of per-task shortlists is corpus-proportional,
        # round-6 review), then shortlist ids join back to the floats
        # and d² fuses into codegen'd zip_with/aggregate
        nv = corpus.filter(F.col(emb_col).isNotNull()).select(
            F.col(id_col).alias("n_id"), F.col(emb_col).alias("n_emb")
        )
        return _pq_exact_rerank(candidates, queries, nv, k, rerank, dcol=dcol)
    scored = candidates.select(
        "q_id", "neighbor_id", F.col("adc").alias(dcol)
    )
    return _pq_rank_tail(scored, k, dcol)


def embedding_near_dup_pairs(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    *,
    threshold: float = 0.9,
    n_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, distributed (block-pair
    cogroup, O(1) driver memory) — operators.dedup.blocked_cosine_pairs
    parameterized for arbitrary tables. Returns (v1, v2, cos_sim)."""
    from big_data_analytics_cse545_spark.operators.dedup import blocked_cosine_pairs

    return blocked_cosine_pairs(
        df, id_col=id_col, emb_col=emb_col, threshold=threshold, n_blocks=n_blocks
    )


# ---------------------------------------------------------------------------
# grouped-map (applyInPandas)
# ---------------------------------------------------------------------------


def grouped_zscore(
    df: DataFrame, key_col: str, value_col: str, out_col: str = "zscore"
) -> DataFrame:
    """Per-group z-score via applyInPandas (grouped-map pandas UDF) — the
    UDF shape for whole-group transforms that window functions can't
    express cheaply (each group arrives as one pandas DataFrame; at scale
    the shuffle is keyed on key_col, so group size must fit an executor —
    pre-aggregate or sample hot keys first)."""
    import pandas as pd

    schema = f"{', '.join(f'{f.name} {f.dataType.simpleString()}' for f in df.schema)}, {out_col} double"

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf[value_col].std(ddof=0)
        pdf[out_col] = (pdf[value_col] - pdf[value_col].mean()) / (std or 1.0)
        return pdf

    return df.groupBy(key_col).applyInPandas(zscore, schema=schema)


# ---------------------------------------------------------------------------
# corpus prep (chunking, selection, sampling, boilerplate)
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping token-window chunking over any table: one row per
    (id, chunk_idx) with the chunk's tokens re-joined; t17 is this
    function over the documents fixture. A NULL-text row has no chunks
    (without the filter, size(NULL) = -1 would route one junk NULL
    chunk through the sequence/slice chain); an empty text is one empty
    chunk. Zero-shuffle narrow fan-out — sequence/transform/slice/
    posexplode, all JVM-side."""
    toked = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("toks"),
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(stride)
    )
    return (
        toked.select(
            id_col,
            F.posexplode(
                F.transform(starts, lambda s: F.slice("toks", s + 1, chunk_tokens))
            ).alias("chunk_idx", "chunk"),
        )
        .select(
            id_col,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size("chunk").cast("long").alias("n_chunk_tok"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


def token_budget_select(
    df: DataFrame,
    score_col: str,
    weight_col: str,
    id_col: str,
    budget: int,
) -> DataFrame:
    """Keep the highest-``score_col`` rows whose ``weight_col`` mass fits
    ``budget`` — the distributed exact form of ORDER BY score + running-
    sum cutoff; x04 is this function over the documents fixture. Ties
    break by ``id_col``; weights must be non-negative.

    1. per-score histogram (map-side-combined; score-cardinality-sized,
       so ``score_col`` should be low-cardinality, i.e. bucketed);
    2. running offsets over the tiny histogram, broadcast back;
    3. triage on the histogram alone: scores whose whole mass fits under
       the budget are kept outright, scores starting past the budget are
       dropped outright, and ONLY the one boundary score runs the
       within-score cumulative-sum window.

    Windowing every row partitioned by score would funnel a hot score
    (say every non-Latin document scoring 0) through one reducer; the
    window input here is one score's rows, and if even that score is
    hot, :func:`stratified_sample`'s salting pattern applies to it."""
    hist = df.groupBy(score_col).agg(F.sum(weight_col).alias("_bucket_w"))
    w_hist = Window.orderBy(F.desc(score_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = hist.withColumn(
        "_prev_w", F.sum("_bucket_w").over(w_hist) - F.col("_bucket_w")
    )
    joined = df.join(F.broadcast(offsets), score_col)
    full = joined.filter(F.col("_prev_w") + F.col("_bucket_w") <= budget)
    w_bucket = Window.partitionBy(score_col).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    boundary = (
        joined.filter(
            (F.col("_prev_w") <= budget)
            & (F.col("_prev_w") + F.col("_bucket_w") > budget)
        )
        .withColumn("_cum", F.sum(weight_col).over(w_bucket))
        .filter(F.col("_prev_w") + F.col("_cum") <= budget)
        .drop("_cum")
    )
    return full.unionByName(boundary).drop("_prev_w", "_bucket_w")


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    k: int,
    *,
    tag: str = "strat|",
    n_salts: int = 8,
) -> DataFrame:
    """Deterministic fixed-K-per-stratum sample: md5-hash order, salted
    two-phase exact top-K so a hot stratum never funnels through one
    reducer; x05 is this function over the documents fixture's
    languages. Adds a ``rank`` column (1..K)."""
    from big_data_analytics_cse545_spark.operators.sampling import hash_bucket

    h = hash_bucket(F.col(id_col), tag)
    base = df.withColumn("_h", h).withColumn("_salt", h % n_salts)
    w1 = Window.partitionBy(stratum_col, "_salt").orderBy("_h", id_col)
    cand = base.withColumn("_r", F.row_number().over(w1)).filter(F.col("_r") <= k)
    w2 = Window.partitionBy(stratum_col).orderBy("_h", id_col)
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .drop("_h", "_salt", "_r")
    )


def html_strip(df: DataFrame, html_col: str, out_col: str = "text") -> DataFrame:
    """Boilerplate removal over any HTML column (operators.text.t16
    chain): script/style bodies, then tags, then entity unescape
    (&amp; last), then whitespace collapse — one JVM-side narrow
    projection, no Python."""
    from big_data_analytics_cse545_spark.operators.text import _HTML_STEPS

    clean = F.col(html_col)
    for pat, rep in _HTML_STEPS:
        clean = F.regexp_replace(clean, pat, rep)
    return df.withColumn(out_col, F.trim(F.regexp_replace(clean, r"\s+", " ")))


def nfc_normalize(df: DataFrame, text_col: str, out_col: str | None = None) -> DataFrame:
    """Unicode NFC normalization of a text column (Arrow-batched
    ``unicodedata`` kernel, t19's operator): run before any content-hash
    dedup so visually-identical but byte-different strings collapse.
    Overwrites ``text_col`` unless ``out_col`` is given."""
    from big_data_analytics_cse545_spark.functions.unicode import nfc_udf

    return df.withColumn(out_col or text_col, nfc_udf()(F.col(text_col)))


# ---------------------------------------------------------------------------
# incremental ingestion
# ---------------------------------------------------------------------------


def dedup_index(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_hashes: int = 32,
    band_rows: int = 4,
    shingle_size: int = 3,
) -> dict[str, DataFrame]:
    """Build the corpus-side dedup index ``incremental_dedup`` joins
    against: ``hashes`` (16-byte md5 content hashes, distinct),
    ``bands`` (id, band, band_key) and ``shingles``/``counts`` for the
    exact-Jaccard verify. In production, WRITE these once per ingest
    cycle (parquet, bucketed by hash/band_key) and hand the loaded
    tables to ``incremental_dedup(..., index=...)`` — every batch then
    reuses the index instead of re-scanning the corpus text.

    The build parameters are recorded under ``"params"``;
    ``incremental_dedup`` refuses an index built with different
    parameters (mismatched band keys or shingle sizes would silently
    produce zero candidates and admit every near-duplicate)."""
    kw = dict(n_hashes=n_hashes, band_rows=band_rows, shingle_size=shingle_size)
    sh = _shingles(corpus, text_col, id_col, shingle_size)
    bands = _band_keys_df(sh, n_hashes=n_hashes, band_rows=band_rows)
    return {
        "hashes": corpus.select(F.md5(F.col(text_col)).alias("_h")).distinct(),
        "bands": bands,
        "shingles": sh,
        "counts": sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_n")),
        # scheme names the HASH FAMILY, not just its arity: an index of
        # band keys persisted under one family never collides with keys
        # computed under another, so a family change (round 7: per-seed
        # md5 -> K-M double hashing) must fail the params guard loudly
        # instead of silently admitting every near-duplicate.
        "params": dict(kw, scheme=MINHASH_SCHEME),
    }


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    index: dict[str, DataFrame] | None = None,
    n_hashes: int = 32,
    band_rows: int = 4,
    shingle_size: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Judge each BATCH row against an existing CORPUS without any
    corpus-vs-corpus work; d10 is this function over two slices of the
    documents fixture. Returns the batch with three extra columns:

    - ``exact_dup``   — md5(text) collides with a corpus row;
    - ``near_dup_of`` — smallest corpus id with verified shingle
      Jaccard ≥ ``threshold`` among MinHash band candidates (else null);
    - ``decision``    — drop_exact > drop_near > keep.

    At scale the corpus side's hashes/band keys are computed once per
    ingest cycle — pass a prebuilt (typically persisted/stored)
    ``index`` from :func:`dedup_index` so successive batches skip the
    corpus scan entirely; total join work scales with |batch|, and AQE
    broadcasts the batch-side build of both joins. Exactly one of
    ``corpus`` / ``index`` must be given.
    """
    if (corpus is None) == (index is None):
        raise ValueError("pass exactly one of corpus= or index=")
    kw = dict(n_hashes=n_hashes, band_rows=band_rows, shingle_size=shingle_size)
    want = dict(kw, scheme=MINHASH_SCHEME)
    if index is None:
        index = dedup_index(corpus, text_col, id_col, **kw)
    elif index.get("params", want) != want:
        # A parameter mismatch would not error — band keys and shingle
        # sizes simply never collide, every candidate join comes up
        # empty, and every near-duplicate is admitted as 'keep'.
        raise ValueError(
            f"index was built with {index['params']}, but this call uses "
            f"{kw}; rebuild the index or pass matching kwargs"
        )
    exact = (
        batch.select(F.col(id_col).alias("_eid"), F.md5(F.col(text_col)).alias("_h"))
        .join(index["hashes"], "_h", "left_semi")
        .select("_eid")
        .withColumn("_exact", F.lit(True))
    )
    sh_b = _shingles(batch, text_col, id_col, shingle_size)
    bands_b = _band_keys_df(sh_b, n_hashes=n_hashes, band_rows=band_rows)
    cand = (
        bands_b.select(F.col("_id").alias("_bid"), "_band", "_key")
        .join(index["bands"].select(F.col("_id").alias("_cid"), "_band", "_key"),
              ["_band", "_key"])
        .select("_bid", "_cid")
        .distinct()
    )
    cnt_b = sh_b.groupBy("_id").agg(F.count(F.lit(1)).alias("_n1"))
    cnt_c = index["counts"].select("_id", F.col("_n").alias("_n2"))
    s1 = sh_b.select(F.col("_id").alias("_bid"), F.col("_sh").alias("_s1"))
    s2 = index["shingles"].select(F.col("_id").alias("_scid"), F.col("_sh").alias("_s2"))
    inter = (
        cand.join(s1, "_bid")
        .join(s2, (F.col("_cid") == F.col("_scid")) & (F.col("_s1") == F.col("_s2")))
        .groupBy("_bid", "_cid")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    jac = F.round(
        F.col("_inter") / (F.col("_n1") + F.col("_n2") - F.col("_inter")), 6
    )
    near = (
        inter.join(cnt_b.select(F.col("_id").alias("_bid"), "_n1"), "_bid")
        .join(cnt_c.select(F.col("_id").alias("_cid"), "_n2"), "_cid")
        .filter(jac >= threshold)
        .groupBy("_bid")
        .agg(F.min("_cid").alias("near_dup_of"))
    )
    return (
        batch.join(exact, batch[id_col] == exact["_eid"], "left")
        .join(near, batch[id_col] == near["_bid"], "left")
        .withColumn("exact_dup", F.coalesce("_exact", F.lit(False)))
        .withColumn(
            "decision",
            F.when(F.col("exact_dup"), "drop_exact")
            .when(F.col("near_dup_of").isNotNull(), "drop_near")
            .otherwise("keep"),
        )
        .drop("_eid", "_exact", "_bid")
    )


def leakage_safe_split(
    df: DataFrame, text_col: str, id_col: str, *, ham_k: int = 3
) -> DataFrame:
    """Deterministic train/val/test split (x01's 98/1/1 md5 rule) keyed
    by the near-dup cluster representative instead of the row id, so no
    near-duplicate pair ever straddles train and test; x06 is this
    function over the documents fixture. Appends ``split_key`` and
    ``split``; singleton docs get exactly ``hash_split``'s assignment.

    SimHash near-dup pairs (d04) → connected components (d08's
    min-label propagation) → left join of the (id, label) relation:
    no cluster-size aggregation, which :func:`dup_clusters` adds and
    the split does not need. The label relation holds one row per doc
    with any near-dup — corpus-proportional at real dup rates — so the
    join carries no broadcast hint: AQE broadcasts only when it
    measures small."""
    from big_data_analytics_cse545_spark.operators.dedup import (
        connected_components,
        simhash_near_dup_pairs,
    )
    from big_data_analytics_cse545_spark.operators.sampling import (
        TRAIN_PCT,
        VAL_PCT,
        hash_bucket,
    )

    d = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    cc = connected_components(simhash_near_dup_pairs(d, ham_k), "d1", "d2").select(
        F.col("id").alias("_cid"), F.col("label").alias("_label")
    )
    key = F.coalesce("_label", F.col(id_col))
    bucket = hash_bucket(key, "split|", mod=100)
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        df.join(cc, df[id_col] == cc["_cid"], "left")
        .withColumn("split_key", key)
        .withColumn("split", split)
        .drop("_cid", "_label")
    )


def url_dedup(df: DataFrame, url_col: str, id_col: str) -> DataFrame:
    """Keep one row per canonical URL (functions/url.py rules: fragment,
    host case, default ports, www, tracking params, param order,
    trailing slashes) — survivor = min id. The cheapest dedup in a
    crawl pipeline; run it before any content-hash dedup. One shuffle
    keyed by the full canonical URL (no host-level hot key)."""
    from big_data_analytics_cse545_spark.functions.url import canonical_url

    w = Window.partitionBy("_curl").orderBy(F.col(id_col))
    return (
        df.withColumn("_curl", canonical_url(F.col(url_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_curl", "_rn")
    )


def bm25_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: tuple[str, ...] | list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every row against ``terms``: (id,
    n_terms_hit, bm25_micro) for rows matching ≥1 term, with per-term
    contributions rounded to integer micro-units and summed as BIGINT —
    deterministic under any parallelism; t21 is this function over the
    documents fixture. The term dictionary is a literal ``isin`` filter
    BEFORE any shuffle; corpus stats and the df table are result-sized
    and broadcast, so the text column never leaves the scan."""
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.col(text_col))).alias("_w"),
    )
    doclen = tok.groupBy("_id").agg(F.count(F.lit(1)).alias("_dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_dl").alias("_tl")
    )
    hits = (
        tok.filter(F.col("_w").isin(*terms))
        .groupBy("_id", "_w")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    df_t = hits.groupBy("_w").agg(F.count(F.lit(1)).alias("_df"))
    avgdl = F.col("_tl").cast("double") / F.col("_n").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    tfd = F.col("_tf").cast("double")
    contrib = idf * (
        tfd * (k1 + 1.0)
        / (tfd + k1 * (1.0 - b + b * F.col("_dl").cast("double") / avgdl))
    )
    return (
        hits.join(F.broadcast(df_t), "_w")
        .join(doclen, "_id")
        .crossJoin(F.broadcast(stats))
        .select("_id", F.round(contrib * 1e6).cast("long").alias("_c"))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.sum("_c").alias("bm25_micro"),
        )
        .withColumnRenamed("_id", id_col)
    )


def perplexity_gate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    head_micro: int,
    middle_micro: int,
) -> DataFrame:
    """CCNet-style unigram-LM perplexity bucketing over any table: fit
    the add-one-smoothed corpus unigram LM in one WordCount pass, score
    each row's mean NLL in exact integer micro-nats, and bucket by the
    caller's offline-calibrated cutoffs; t22 is this function over the
    documents fixture. Returns (id, n_tok, sum_nll_micro, ppl_bucket,
    mean_nll).

    nll(w) = −ln((count(w) + 1) / (T + V)) with T = corpus token count,
    V = vocabulary size, rounded to integer micro-nats per word and
    summed as BIGINT, so the per-row sum is exact under any
    partitioning. ``mean_nll`` floor-divides those exact integers and
    scales once by 1e-6 (never a ROUND of a raw double ratio, whose
    .5-micro boundary rounds differently per engine).

    The LM joins the pre-aggregated (id, word, tf) relation, not the
    raw token explosion: n_tok = Σ tf and sum_nll = Σ tf·nll are the
    same exact sums, and the Zipf-hot shuffle on the word shrinks by
    the average term frequency. Text never shuffles; the LM is the
    vocab-sized relation, which Catalyst broadcasts when stats allow."""
    tok = df.select(
        F.col(id_col).alias("_id"),
        F.explode(tokens(F.col(text_col))).alias("_w"),
    )
    doc_tf = tok.groupBy("_id", "_w").agg(F.count(F.lit(1)).alias("_tf"))
    vocab = doc_tf.groupBy("_w").agg(F.sum("_tf").alias("_cnt"))
    tot = vocab.agg(F.sum("_cnt").alias("_t"), F.count(F.lit(1)).alias("_v"))
    lm = vocab.crossJoin(F.broadcast(tot)).select(
        "_w",
        F.round(
            -F.log((F.col("_cnt") + 1.0) / (F.col("_t") + F.col("_v")).cast("double"))
            * 1e6
        )
        .cast("long")
        .alias("_nll"),
    )
    scored = (
        doc_tf.join(lm, "_w")
        .groupBy("_id")
        .agg(
            F.sum("_tf").alias("n_tok"),
            F.sum(F.col("_tf") * F.col("_nll")).alias("sum_nll_micro"),
        )
    )
    return scored.select(
        F.col("_id").alias(id_col),
        "n_tok",
        "sum_nll_micro",
        F.when(F.col("sum_nll_micro") < head_micro * F.col("n_tok"), "head")
        .when(F.col("sum_nll_micro") < middle_micro * F.col("n_tok"), "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
        (F.expr("CAST(sum_nll_micro DIV n_tok AS DOUBLE)") / F.lit(1e6)).alias(
            "mean_nll"
        ),
    )


def cdc_dedup(
    df: DataFrame, text_col: str, id_col: str, *, hash: str = "xx"
) -> DataFrame:
    """Content-defined-chunking duplicate report over arbitrary rows:
    (chunk_hash, n_copies, n_docs, chunk_len, first_doc) for every
    chunk stored more than once. Boundary = 8-char window-hash ≡ 0 mod
    64; every boundary is an independent local predicate, so chunking
    is one parallel JVM expression and a prefix edit invalidates only
    the chunk it touches. Defaults to the xxhash64 window hash (the ~3×
    cheaper production form); ``hash='md5'`` gives the oracle-exact
    boundaries, and d12 is this function with it over the documents
    fixture."""
    from big_data_analytics_cse545_spark.operators.dedup import cdc_chunks

    src = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    hashed = cdc_chunks(src, hash=hash).select(
        "doc_id", F.md5("chunk").alias("chunk_hash"), F.length("chunk").alias("_l")
    )
    return (
        hashed.groupBy("chunk_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("_l").alias("chunk_len"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_copies") > 1)
    )


def quality_classifier(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str,
    *,
    train_col: str | None = None,
    n_buckets: int | None = None,
    tag: str | None = None,
) -> DataFrame:
    """CCNet/fastText-style quality gate over arbitrary rows (x09
    semantics): train a hashed unigram+bigram Naive-Bayes linear model
    on rows where boolean ``train_col`` holds (all rows if None) with
    boolean ``label_col`` as the positive class, then score EVERY row.
    Returns (doc_id, n_feats, qc_sum_micro, qc_gate_micro, keep) —
    scores are exact BIGINT micro-nat sums (x07's integer discipline),
    the gate is the NB log-posterior-odds sign, and the whole
    train+apply composition is one lazy plan: two WordCount-shaped
    aggregations plus a broadcast of the fixed-size weight table."""
    from big_data_analytics_cse545_spark.operators.sampling import (
        QC_BUCKETS,
        QC_TAG,
        classify_quality,
    )

    return classify_quality(
        df,
        text_col=text_col,
        id_col=id_col,
        label_col=label_col,
        train_col=train_col,
        n_buckets=QC_BUCKETS if n_buckets is None else n_buckets,
        tag=QC_TAG if tag is None else tag,
    )


def shared_spans(
    df: DataFrame, text_col: str, id_col: str, *, min_span: int | None = None
) -> DataFrame:
    """Maximal shared token spans between document pairs (d13
    semantics — the Lee et al. 2022 exact-substring dedup family):
    (d1, d2, s1, e1, s2, e2, span_len) with inclusive 0-based token
    bounds. ``min_span`` (default SPAN_MIN_TOKENS = the winnowing
    guarantee threshold) may only be RAISED — below the guarantee
    boundary detection is probabilistic, so the operator refuses to
    pretend otherwise."""
    from big_data_analytics_cse545_spark.operators.dedup import (
        SPAN_MIN_TOKENS,
        shared_spans as _shared_spans,
    )

    spans = _shared_spans(df, text_col=text_col, id_col=id_col)
    if min_span is not None:
        if min_span < SPAN_MIN_TOKENS:
            raise ValueError(
                f"min_span={min_span} is below the winnowing guarantee "
                f"threshold {SPAN_MIN_TOKENS} (K+W-1): runs shorter than "
                "that are not reliably detected — lower WINNOW_K/W "
                "instead of silently under-reporting"
            )
        spans = spans.filter(F.col("span_len") >= min_span)
    return spans


def strip_spans(
    df: DataFrame, spans: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Keep-first span removal (d13's removal transform): drop every
    shared-span occurrence from the LATER document (the d2 side),
    returning (doc_id, toks) for every input row — the token-level
    corpus after exact-substring dedup."""
    from big_data_analytics_cse545_spark.operators.dedup import (
        strip_spans as _strip_spans,
    )

    return _strip_spans(df, spans, text_col=text_col, id_col=id_col)


def merge_upsert(
    snapshot: DataFrame,
    changes: DataFrame,
    key_col: str,
    *,
    op_col: str = "op",
    assume_disjoint_inserts: bool = False,
    with_action: bool = False,
) -> DataFrame:
    """Generic MERGE INTO over arbitrary DataFrames: ``changes``
    carries the merge key, an ``op`` column ('update' | 'delete' |
    'insert'), and the FULL non-key payload (same column names as
    ``snapshot``). Matched updates replace the row, matched deletes
    drop it, inserts append WHEN NOT MATCHED (keys already in the
    snapshot are ignored, ANSI MERGE's not-matched contract).

    Scale shape: matched ops go through a LEFT join the planner can
    broadcast (ingest-sized batch vs corpus-sized snapshot — Spark can
    broadcast neither side of the FULL OUTER spelling, which is why
    the lowering matters); the not-matched check is a LEFT ANTI join
    that shuffles only the key column of the snapshot. When the change
    protocol guarantees insert keys are new (staging IDs, monotonic
    keys), pass ``assume_disjoint_inserts=True`` to skip that anti
    join entirely — then the snapshot side never shuffles at all.
    q36 binds the general form (operators/relational.py), so its DuckDB
    oracle checks this function. q34 computes the disjoint-inserts
    form's rows with its own LEFT-join lowering, without this
    function's multiple-matched-ops window, which shuffles the change
    batch; tests/test_api.py checks both paths against q34.
    """
    payload = [c for c in snapshot.columns if c != key_col]
    missing = [c for c in [key_col, op_col, *payload] if c not in changes.columns]
    if missing:
        raise ValueError(f"changes is missing columns: {missing}")
    # The synthesized audit column must not collide with payload names
    # (ADVICE r4 #2): '__action' is always reserved internally, and the
    # user-facing 'action' too when with_action=True.
    reserved = {"__action"} | ({"action"} if with_action else set())
    for side, cols in (("snapshot", snapshot.columns), ("changes", changes.columns)):
        clash = reserved.intersection(cols)
        if clash:
            raise ValueError(
                f"merge_upsert: {side} column(s) {sorted(clash)} collide with "
                "the synthesized action column; rename them or pass "
                "with_action=False"
            )
    # Execution-time guards (raise_error fires when the plan runs, so
    # the function stays lazy): the op domain is closed — a NULL or
    # misspelled op would otherwise silently vanish or no-op — and a key
    # may carry at most ONE matched op, or the LEFT join would fan the
    # snapshot row out into silent duplicates (ANSI/Delta MERGE raise
    # on multiple matches; so do we).
    changes = changes.withColumn(
        op_col,
        F.when(
            F.col(op_col).isin("update", "delete", "insert"), F.col(op_col)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("merge_upsert: invalid op "),
                    F.coalesce(F.col(op_col), F.lit("NULL")),
                    F.lit(" (must be update/delete/insert)"),
                )
            )
        ),
    )
    # The guard lives INSIDE the op column (not a dropped helper column,
    # which Catalyst would prune away along with the error).
    matched = (
        changes.where(F.col(op_col) != "insert")
        .withColumn(
            op_col,
            F.when(
                F.count(F.lit(1)).over(Window.partitionBy(key_col)) > 1,
                F.raise_error(
                    F.concat(
                        F.lit("merge_upsert: multiple matched ops for key "),
                        F.col(key_col).cast("string"),
                    )
                ),
            ).otherwise(F.col(op_col)),
        )
        .alias("__c")
    )
    op = F.col(f"__c.{op_col}")
    merged = (
        snapshot.alias("__s")
        .join(matched, F.col(f"__s.{key_col}") == F.col(f"__c.{key_col}"), "left")
        .where(op.isNull() | (op != "delete"))
        .select(
            F.col(f"__s.{key_col}").alias(key_col),
            *[
                F.when(op == "update", F.col(f"__c.{c}"))
                .otherwise(F.col(f"__s.{c}"))
                .alias(c)
                for c in payload
            ],
            F.coalesce(op, F.lit("unchanged")).alias("__action"),
        )
    )
    inserts = changes.where(F.col(op_col) == "insert")
    if not assume_disjoint_inserts:
        inserts = inserts.join(
            snapshot.select(key_col), on=key_col, how="left_anti"
        )
    inserts = inserts.select(
        key_col, *payload, F.lit("insert").alias("__action")
    )
    out = merged.unionByName(inserts)
    if with_action:
        return out.withColumnRenamed("__action", "action")
    return out.drop("__action")


def host_reputation(
    df: DataFrame,
    host_col: str,
    junk_col: str,
    *,
    min_support: int = 4,
    junk_frac: float = 0.25,
) -> DataFrame:
    """Per-host (domain) reputation verdicts over arbitrary rows:
    aggregate a caller-supplied boolean junk signal BY HOST and return
    one row per host — (host, n_docs, junk_docs, verdict) with verdict
    ∈ {'low_support', 'junky', 'keep'}. A NULL junk flag (a torn
    crawl field) counts as not junk, so a host whose flags are all
    NULL has junk_docs 0, never NULL (a NULL sum would silently take
    the 'keep' branch). Join the 'keep' hosts back onto the corpus as
    the drop-entire-domains gate C4/RefinedWeb apply before any per-doc
    filtering; the verdict relation is hosts-sized (millions, not
    billions), so that join broadcasts. t23 computes the same verdicts
    in its own single aggregation, which also yields its mean length (a
    binding here would need a second host aggregation and a join,
    measured slower); test_api cross-checks the two.

    One partial+final aggregation keyed by host; only (host, junk)
    pairs shuffle, never document payloads. The junky compare runs in
    exact integer arithmetic (junk·den ≥ n·num with junk_frac reduced
    to a rational) — a float multiply would misclassify boundary hosts
    for non-dyadic fractions (n_docs·0.1 is 3.0000000000000004 in
    double, so a host at exactly 10% junk would escape). ``junk_frac``
    is snapped to the nearest rational with denominator ≤ 1e6 for that
    integer compare; a threshold whose exact value can't be represented
    within 1e-9 of such a rational is rejected rather than silently
    altered (ADVICE r4 #3).
    """
    from fractions import Fraction

    frac = Fraction(junk_frac).limit_denominator(1_000_000)
    if abs(float(frac) - junk_frac) > 1e-9:
        raise ValueError(
            f"host_reputation: junk_frac={junk_frac!r} is not representable "
            f"as a rational with denominator <= 1e6 (nearest is {frac}); "
            "pass a threshold with a small exact denominator"
        )
    stats = (
        df.select(F.col(host_col).alias("host"), F.col(junk_col).alias("__junk"))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("__junk").cast("bigint"), F.lit(0))).alias(
                "junk_docs"
            ),
        )
    )
    return stats.select(
        "host",
        "n_docs",
        "junk_docs",
        F.when(F.col("n_docs") < min_support, "low_support")
        .when(
            F.col("junk_docs") * F.lit(frac.denominator)
            >= F.col("n_docs") * F.lit(frac.numerator),
            "junky",
        )
        .otherwise("keep")
        .alias("verdict"),
    )


def _clean_host_edges(edges, src_col, dst_col, *extra):
    """Shared edge hygiene for the three host-rank entry points (round-10
    self-review: the select/filter block existed in three near-identical
    copies): alias the endpoints to (src_host, dst_host), keep any extra
    columns, drop null endpoints and self-loops. Parallel-edge policy
    (DISTINCT vs count vs explicit weight) stays with each caller."""
    return edges.select(
        F.col(src_col).alias("src_host"),
        F.col(dst_col).alias("dst_host"),
        *extra,
    ).filter(
        F.col("src_host").isNotNull()
        & F.col("dst_host").isNotNull()
        & (F.col("src_host") != F.col("dst_host"))
    )


def _host_node_universe(e, extra_nodes):
    """Both edge endpoints plus any caller-supplied isolated nodes, one
    distinct ``host`` column — the node relation every rank loop runs
    over. Built from the cleaned edges before their distinct/count (the
    same set), both endpoints from one pass over them."""
    nodes = e.select(F.explode(F.array("src_host", "dst_host")).alias("host"))
    if extra_nodes is not None:
        nodes = nodes.union(extra_nodes.select(F.col("host")))
    return nodes.distinct()


def host_pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    iters: int = 6,
    extra_nodes: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an arbitrary edge DataFrame (g01
    binds it, over the derived host link graph of operators/graph.py):
    returns one row per node — (host, rank_micro, out_deg) — after
    ``iters`` exact-integer rank updates.
    Join it back onto a corpus scan as the domain-priority column crawl
    pipelines apply before per-document gates.

    Edge hygiene here, ranking in :func:`graph.pagerank_micro`: null
    endpoints and self-loops are dropped, parallel edges collapse to
    one (DISTINCT — rank flows per LINK, not per mention), out-degree
    is computed once and rides the persisted edge relation through all
    iterations. ``extra_nodes`` (one ``host`` column) adds isolated
    nodes that must appear in the output with the floor rank — e.g.
    every host seen in the corpus, linked-to or not, the g01 shape.

    Ranks are BIGINT fixed-point units (1 rank point = 1e9; "micro" is
    used loosely for "fixed-point integer" — see the graph.py note)
    with floor-divided contributions — partitioning, task order, and
    retries cannot change a bit (the x07/t22 integer discipline). One
    shuffle per iteration keyed on host over host-sized relations;
    dangling mass is dropped, not redistributed (documented
    simplification).

    Cache contract (r8 ADVICE, deliberate): the node/edge relations
    persist under FIXED session keys, so only the MOST RECENT call's
    returned DataFrame keeps its persisted inputs — a second call
    releases the first's caches, and an earlier not-yet-collected
    result silently recomputes its iters-deep lineage from the raw
    edges (correct, just uncached). Concurrent calls are unsupported
    (module-level cache dict). Per-call keys were rejected: nothing
    marks when a lazy result is done being used, so unique keys leak
    one host-sized cache per call for the session's lifetime — the
    exact leak ``swap_cached`` exists to bound.
    """
    from big_data_analytics_cse545_spark.cache import swap_cached
    from big_data_analytics_cse545_spark.operators.graph import (
        attach_out_degree,
        pagerank_micro,
    )

    e = _clean_host_edges(edges, src_col, dst_col)
    nodes = swap_cached("api_pagerank_nodes", _host_node_universe(e, extra_nodes))
    e = e.distinct()
    outdeg = e.groupBy("src_host").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    e = swap_cached("api_pagerank_edges", e.join(outdeg, "src_host"))
    return attach_out_degree(pagerank_micro(nodes, e, iters=iters), e)


def host_trustrank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    seeds: DataFrame,
    *,
    iters: int = 6,
    extra_nodes: DataFrame | None = None,
) -> DataFrame:
    """Seeded trust propagation (TrustRank; g02 binds it, with the
    slot-0 hosts as seeds) over an arbitrary edge DataFrame: rank mass
    enters ONLY at the hosts in ``seeds`` (one ``host`` column — a
    vetted whitelist) and decays through links, so a host no trusted
    page reaches scores exactly 0 instead of :func:`host_pagerank`'s
    uniform floor. Same exact BIGINT fixed-point arithmetic, same edge
    hygiene, same output schema (host, rank_micro, out_deg), same
    fixed-key cache contract; ``host_pagerank`` is the all-seeds
    special case of the shared kernel (``graph.trustrank_micro``).
    Seeds are a host-dimension relation → broadcast-joined onto the
    node universe, never shuffling the graph."""
    from big_data_analytics_cse545_spark.cache import swap_cached
    from big_data_analytics_cse545_spark.operators.graph import (
        attach_out_degree,
        trustrank_micro,
    )

    e = _clean_host_edges(edges, src_col, dst_col)
    seed_flags = F.broadcast(
        seeds.select(F.col("host")).distinct().withColumn(
            "is_seed", F.lit(True)
        )
    )
    nodes = swap_cached(
        "api_trustrank_nodes",
        _host_node_universe(e, extra_nodes)
        .join(seed_flags, "host", "left")
        .select(
            "host", F.coalesce("is_seed", F.lit(False)).alias("is_seed")
        ),
    )
    e = e.distinct()
    outdeg = e.groupBy("src_host").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    e = swap_cached("api_trustrank_edges", e.join(outdeg, "src_host"))
    ranks = trustrank_micro(nodes, e, F.col("is_seed"), iters=iters)
    return attach_out_degree(ranks, e)


def host_pagerank_weighted(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    *,
    weight_col: str | None = None,
    iters: int = 6,
    extra_nodes: DataFrame | None = None,
) -> DataFrame:
    """Link-multiplicity-weighted PageRank over an arbitrary edge
    DataFrame (g03 binds it with ``weight_col=None``): each link's
    contribution is proportional to its weight — ``(r·w·85) div
    (outw·100)`` with outw the source's total out-weight — the form
    crawl-frontier prioritization uses (rank flows per MENTION, where
    :func:`host_pagerank` flows per LINK). Returns (host, rank_micro,
    out_weight) after ``iters`` exact-integer updates.

    Weights: with ``weight_col=None`` parallel (src, dst) rows COUNT as
    multiplicity; with a column, its values are summed per (src, dst)
    — the column must be an INTEGRAL type (a float column would be
    silently truncated by the long cast, so it is rejected loudly;
    scale fractional weights to integers first), and NULL or
    non-positive weights are dropped (the failed-extraction policy;
    zero/negative mass has no rank semantics and would break the
    floor-division exactness argument). Weights-all-1 reproduces
    :func:`host_pagerank` exactly — one shared kernel
    (``graph.trustrank_micro(weighted=True)``), which ENFORCES the
    r·w·85 < 2^63 exactness bound before the loop (raising ValueError
    with the gcd/cap pre-normalization remedy rather than letting
    Spark's long arithmetic wrap). Same edge hygiene (null endpoints and
    self-loops dropped), same fixed-key cache contract as
    :func:`host_pagerank` (see its docstring)."""
    from big_data_analytics_cse545_spark.cache import swap_cached
    from big_data_analytics_cse545_spark.operators.graph import (
        attach_out_weight,
        trustrank_micro,
    )

    if weight_col is not None:
        from pyspark.sql.types import IntegralType

        wt = edges.schema[weight_col].dataType
        if not isinstance(wt, IntegralType):
            # a float column would be silently TRUNCATED by the long
            # cast (0.5 -> 0 -> dropped by the >0 filter — an empty
            # graph with no error; round-10 self-review). Weights are
            # integer mass by contract; the caller scales fractional
            # weights to integers explicitly.
            raise ValueError(
                f"weight_col {weight_col!r} must be an integral type "
                f"(got {wt.simpleString()}); scale fractional weights "
                "to integers before ranking — the exact BIGINT "
                "arithmetic has no fractional-mass form"
            )
    w = (
        F.lit(1).cast("long")
        if weight_col is None
        else F.col(weight_col).cast("long")
    )
    e = _clean_host_edges(edges, src_col, dst_col, w.alias("w_in")).filter(
        F.col("w_in").isNotNull() & (F.col("w_in") > 0)
    )
    nodes = swap_cached(
        "api_pagerank_weighted_nodes", _host_node_universe(e, extra_nodes)
    )
    e = e.groupBy("src_host", "dst_host").agg(F.sum("w_in").alias("w"))
    outw = e.groupBy("src_host").agg(F.sum("w").alias("outw"))
    e = swap_cached("api_pagerank_weighted_edges", e.join(outw, "src_host"))
    ranks = trustrank_micro(nodes, e, F.lit(True), iters=iters, weighted=True)
    return attach_out_weight(ranks, e)


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    *,
    n_merges: int = 12,
    batch_m: int = 1,
) -> DataFrame:
    """Learn a BPE merge table from any DataFrame's text column (t24
    binds it, operators/text.py — loop shape and the per-round
    checkpoint state discipline documented on ``text.train_bpe``): returns
    (step, left, right, merged, pair_count) for up to ``n_merges``
    merges, the artifact every BPE tokenizer build produces. Corpus
    text is aggregated to word frequencies ONCE; every iteration works
    on the vocab-sized dictionary and collects one argmax-prefix of
    rows. ``batch_m=1`` (default) is exact sequential Sennrich BPE;
    ``batch_m=M`` selects up to M pairwise-symbol-disjoint merges per
    round — the batched approximation that makes 30k+-merge vocabulary
    builds tractable (Θ(n_merges/M) Spark jobs and lineage depth
    instead of Θ(n_merges); semantics and divergence bound documented
    on ``text.train_bpe``). Memory discipline: each round's superseded
    dictionary checkpoint is unpersisted deterministically and the
    final one is freed before returning, so repeated calls from a
    long-lived driver hold no block-set float; if the deterministic
    path is ever unavailable (it is best-effort over a private
    LogicalRDD accessor), set ``spark.cleaner.periodicGC.interval``
    (e.g. ``"1min"``) to bound the asynchronous fallback."""
    from big_data_analytics_cse545_spark.operators.text import train_bpe

    return train_bpe(df, text_col=text_col, n_merges=n_merges, batch_m=batch_m)


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    *,
    out_col: str = "toks",
    mode: str = "auto",
    emit: str = "tokens",
) -> DataFrame:
    """Tokenize a corpus with a trained BPE merge table (t25 semantics,
    operators/text.py) — the production step after :func:`bpe_train`:
    adds ``out_col`` (``array<string>`` subword tokens) to every row,
    applying the merges in training order with exactly the trainer's
    per-pass greedy-scan semantics, so training and inference cannot
    drift. ``mode="expr"`` is a pure-JVM chained-fold plan (capped at
    64 rules — plan depth grows per rule); ``mode="arrow"`` is one
    Arrow-batched ``mapInPandas`` pass with a per-worker word→tokens
    memo, the regime for 30k-rule production tables; ``"auto"``
    (default) picks by table size. Both regimes are exact-equal by
    test. ``emit="ids"`` yields ``array<bigint>`` vocabulary ids (the
    :func:`bpe_vocab` id space) instead of token strings — what a
    model pipeline actually consumes. Encode is embarrassingly
    parallel — no shuffle, scan-bound, and the only shared state (the
    merge table) is kilobytes collected driver-side (the centroid
    precedent)."""
    from big_data_analytics_cse545_spark.operators.text import (
        bpe_encode as _bpe_encode,
    )

    return _bpe_encode(
        df, merges, text_col=text_col, out_col=out_col, mode=mode,
        emit=emit,
    )


def bpe_decode(
    df: DataFrame,
    merges: DataFrame,
    ids_col: str = "toks",
    *,
    out_col: str = "decoded",
    mode: str = "auto",
) -> DataFrame:
    """Invert :func:`bpe_encode`'s ``emit='ids'``: vocabulary ids back
    to the exact subword token strings (operators/text.py
    ``bpe_decode``) — total and exact because id→token is a function
    even when duplicate merged strings make token→id first-wins.
    ``decode(encode(x, emit='ids')) == encode(x, emit='tokens')``
    token-for-token; an out-of-vocabulary id raises loudly in both
    execution regimes. Same expr/arrow regime split as encode."""
    from big_data_analytics_cse545_spark.operators.text import (
        bpe_decode as _bpe_decode,
    )

    return _bpe_decode(df, merges, ids_col=ids_col, out_col=out_col, mode=mode)


def bpe_vocab(merges: DataFrame) -> DataFrame:
    """The id-assigning vocabulary a trained tokenizer ships (t25
    machinery, operators/text.py): (token string, token_id long) —
    base alphabet [0-9a-z] at ids 0..35, then one id per distinct
    merged string in training order, first-wins on duplicate merged
    strings (two rules CAN produce the same string; a shipped vocab is
    keyed by string, the GPT-2/SentencePiece convention). Every token
    :func:`bpe_encode` can produce is in this vocab by construction."""
    from big_data_analytics_cse545_spark.operators.text import (
        bpe_vocab as _bpe_vocab,
    )

    return _bpe_vocab(merges)


def save_bpe(merges: DataFrame, path: str) -> None:
    """Persist a trained BPE merge table to ``path`` (a ``merges``
    parquet + a one-row ``params`` parquet) — the durable tokenizer
    artifact: train once per corpus release, encode many batches,
    possibly in different jobs, days apart (the save_dedup_index /
    save_pq_index pattern). The params row pins the artifact version,
    the exact tokenizer contract the table was trained under, and the
    merge count, so :func:`load_bpe` can refuse an artifact this
    engine would silently mis-apply."""
    import json

    from big_data_analytics_cse545_spark.functions.text import (
        TOKEN_SPLIT_RE,
    )
    from big_data_analytics_cse545_spark.operators.text import (
        BPE_BASE_ALPHABET,
    )

    spark = merges.sparkSession
    merges.write.mode("overwrite").parquet(f"{path}/merges")
    params = {
        "version": 1,
        "tokenizer": f"lower+split:{TOKEN_SPLIT_RE}",
        "base_alphabet": BPE_BASE_ALPHABET,
        "n_merges": merges.count(),
    }
    spark.createDataFrame(
        [(json.dumps(params),)], "params string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def load_bpe(spark: SparkSession, path: str) -> DataFrame:
    """Load a persisted BPE merge table, refusing loudly on contract
    drift: wrong artifact version, a tokenizer other than the one this
    engine encodes with (a table trained under a different split regex
    would tokenize silently wrong), a changed base alphabet, or a
    merge table whose steps are not the contiguous 1..n the in-order
    apply requires (a torn/partial artifact)."""
    import json

    from big_data_analytics_cse545_spark.functions.text import (
        TOKEN_SPLIT_RE,
    )
    from big_data_analytics_cse545_spark.operators.text import (
        BPE_BASE_ALPHABET,
    )

    params = json.loads(
        spark.read.parquet(f"{path}/params").collect()[0]["params"]
    )
    want = {
        "version": 1,
        "tokenizer": f"lower+split:{TOKEN_SPLIT_RE}",
        "base_alphabet": BPE_BASE_ALPHABET,
    }
    for k, v in want.items():
        if params.get(k) != v:
            raise ValueError(
                f"BPE artifact at {path!r} has {k}={params.get(k)!r}, "
                f"this engine requires {v!r} — re-train rather than "
                "silently mis-tokenize"
            )
    merges = spark.read.parquet(f"{path}/merges")
    steps = sorted(r["step"] for r in merges.select("step").collect())
    if steps != list(range(1, len(steps) + 1)) or len(steps) != params.get(
        "n_merges"
    ):
        raise ValueError(
            f"BPE artifact at {path!r} is torn: expected contiguous "
            f"steps 1..{params.get('n_merges')}, found {len(steps)} "
            f"steps starting {steps[:5]}"
        )
    return merges


def kmeans_trace(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int = 8,
    iters: int = 4,
    shift: float = 2.0,
    scale: int = 1000,
    clamp: int = 4000,
    dim: int | None = None,
) -> DataFrame:
    """Bit-deterministic k-means over any embedding column (p08 binds
    it, operators/projection.py, with ``k=8, iters=4, dim=64``): quantize each vector to
    non-negative BIGINT fixed-point ONCE (``floor((x + shift)·scale)``
    clamped to [0, clamp] — pick ``shift`` so in-range values land
    positive), then run ``iters`` Lloyd iterations entirely in integer
    arithmetic (init = the first k vectors by ``id_col``; ties break
    to the lowest cluster; empty clusters keep their centroid).
    Returns the full per-iteration trace — (step, cluster, n_members,
    ssd) — which is reproducible to the BIT under any partitioning,
    task order, or retry (integer sums commute; floor division of
    non-negative sums is engine-independent), so two runs on two
    clusters can assert equality instead of eyeballing float drift —
    the property that makes clustering usable inside a data-curation
    pipeline's audit trail. NULL ids, wrong-dimension and
    non-finite-element vectors are excluded (the failed-encoder
    policy); ``dim`` pins the expected dimensionality explicitly, and
    when omitted it is inferred from the vector of the MINIMUM id so
    the inference itself is partition-order-independent. Scale shape: one fused mapInPandas assignment+partials
    pass per iteration emitting ≤ k rows per partition; only the k×dim
    integer centroid matrix round-trips the driver."""
    from big_data_analytics_cse545_spark.operators.projection import (
        kmeans_trace_int,
        quantize_fixed_point,
    )

    if dim is None:
        # Infer dim DETERMINISTICALLY — from the vector of the MINIMUM
        # id, never an unordered limit(1): on a column with mixed vector
        # lengths an arbitrary first row would make which rows survive
        # the size filter (and hence the whole trace) depend on
        # partitioning/scan order, breaking the bit-determinism contract
        # above (round-10 ADVICE). Callers that know dim should pass it.
        first = (
            df.select(id_col, vec_col)
            .filter(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
            .orderBy(id_col)
            .limit(1)
            .collect()
        )
        if not first:
            return df.sparkSession.createDataFrame(
                [], "step long, cluster long, n_members long, ssd long"
            )
        dim = len(first[0][1])
    q = quantize_fixed_point(
        df, vec_col, id_col, dim, shift=shift, scale=scale, clamp=clamp
    )
    return kmeans_trace_int(df.sparkSession, q, k=k, iters=iters)


def _spark_half_up_round6(raw):
    """Round a float64 array to 6 decimals EXACTLY as Spark's
    ``round(x, 6)`` does: BigDecimal over the double's shortest decimal
    repr, HALF_UP. The vectorized floor(|x|·1e6 + 0.5) trick agrees
    everywhere except when the shortest repr lands on (or within float
    error of) a 6-decimal midpoint — those rare entries are re-rounded
    via ``Decimal(repr(x))``, the exact mirror of Java's
    ``BigDecimal.valueOf(double)`` (both use the shortest round-trip
    representation). Closes ADVICE r4 #1: decision-equality with d11's
    in-plan Spark round is now exact, not probabilistic."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    fast = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
    frac = np.abs(raw) * 1e6
    near = np.abs(frac - np.floor(frac) - 0.5) < 1e-6
    if near.any():
        q = Decimal("0.000001")
        flat = fast.ravel()
        src = np.asarray(raw).ravel()
        for i in np.nonzero(near.ravel())[0]:
            flat[i] = float(
                Decimal(repr(float(src[i]))).quantize(q, rounding=ROUND_HALF_UP)
            )
        fast = flat.reshape(np.shape(raw))
    return fast


def semantic_dedup(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    *,
    tau: float = 0.4,
    planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Production form of d11's SemDeDup-style semantic dedup
    (operators/dedup.py): same hyperplane cells, same greedy min-id
    retention, but the intra-cell cosine runs as ONE BLAS matmul per
    cell inside an Arrow-batched ``applyInPandas`` kernel instead of a
    per-pair JVM expression tree. Decision-equal to d11 (pinned in
    test_api): the kernel reproduces d11's comparison semantics exactly
    — :func:`_spark_half_up_round6` mirrors Spark's ``round(x, 6)``
    bit-for-bit (BigDecimal-over-shortest-repr HALF_UP, via
    ``Decimal(repr(x))`` on near-midpoint entries) before the τ
    compare, and zero-norm vectors are treated as dups of any earlier
    cell-mate (d11's 0/0 cosine is NaN, and NaN compares greater than
    any number in Spark). The 6-decimal round collapses
    BLAS-vs-expression summation-order ulp drift; the rounding itself
    is exact, not probabilistic. Returns (id, cell, kept, dup_of).

    Scale shape is identical to d11 — ONE shuffle keyed by cell, cell
    size bounded by the ``planes`` knob (raise with log₂ corpus growth;
    the knob is measured in SCALE.md / bench_runs/r4_scale_d11.jsonl) —
    but the per-pair constant drops from ~39 µs (expression cosine) to
    a vectorized matmul, which is what you want when cells carry
    thousands of vectors. Per-task memory is O(cell²) for the similarity
    block, the same budget the d05 block kernel runs under.
    """
    import numpy as np
    import pandas as pd

    from big_data_analytics_cse545_spark.operators.similarity import (
        hyperplane_bucket_expr,
    )

    src = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("embedding"),
        hyperplane_bucket_expr(emb_col, n_planes=planes, dim=dim)
        .cast("int")
        .alias("cell"),
    )

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(x, axis=1)
        zero = norms == 0.0
        safe = np.where(zero, 1.0, norms)
        raw = (x / safe[:, None]) @ (x / safe[:, None]).T
        # Spark ROUND is HALF_UP over the shortest decimal repr;
        # _spark_half_up_round6 mirrors it exactly (Decimal(repr) on
        # the rare near-midpoint entries), so the τ compare below can
        # never diverge from d11's in-plan round().
        sim = _spark_half_up_round6(raw)
        # d11's cosine for a zero-norm side is 0/0 = NaN, and Spark
        # orders NaN above every number, so NaN >= tau holds: a pair
        # touching a zero vector always verifies.
        sim[zero, :] = np.inf
        sim[:, zero] = np.inf
        dup_of: list[int | None] = [None] * len(pdf)
        for j in range(1, len(pdf)):
            hits = np.nonzero(sim[:j, j] >= tau)[0]
            if hits.size:
                dup_of[j] = int(pdf["vec_id"].iloc[hits[0]])
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cell": pdf["cell"],
                "kept": pd.array([d is None for d in dup_of], dtype="boolean"),
                "dup_of": pd.array(dup_of, dtype="Int64"),
            }
        )

    return src.groupBy("cell").applyInPandas(
        dedup_cell, schema="vec_id long, cell int, kept boolean, dup_of long"
    )


def save_dedup_index(index: dict, path: str) -> None:
    """Persist a :func:`dedup_index` to ``path`` (one parquet directory
    per relation + a one-row ``params`` parquet) so successive ingest
    batches — possibly in different jobs, days apart — reuse one corpus
    index without re-scanning corpus text. This is the durable half of
    the continuous-ingestion shape: build once per ingest cycle, load
    per batch. On a real deployment ``path`` is S3/HDFS and the hashes/
    bands relations would be written ``bucketBy(hash/band_key)`` via
    ``saveAsTable`` for co-located joins; plain parquet keeps this
    filesystem-agnostic."""
    import json

    spark = index["hashes"].sparkSession
    for name in ("hashes", "bands", "shingles", "counts"):
        index[name].write.mode("overwrite").parquet(f"{path}/{name}")
    spark.createDataFrame(
        [(json.dumps(index["params"]),)], "params string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def load_dedup_index(spark, path: str) -> dict:
    """Load a persisted dedup index. The stored build parameters come
    back with it, so :func:`incremental_dedup`'s parameter-mismatch
    guard keeps protecting loaded indexes exactly like fresh ones."""
    import json

    return {
        **{
            name: spark.read.parquet(f"{path}/{name}")
            for name in ("hashes", "bands", "shingles", "counts")
        },
        "params": json.loads(
            spark.read.parquet(f"{path}/params").collect()[0]["params"]
        ),
    }
