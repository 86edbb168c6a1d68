"""Chaos sweep: run the ENTIRE query registry under a pathological
file-split configuration (tiny ``spark.sql.files.maxPartitionBytes``)
so every scan fragments into far more splits than row groups — most
splits EMPTY, the rest tiny.

Why this matters at 100 TB: split counts are a function of file bytes
and cluster config, not of the code, so "partition may be empty" and
"partition may hold one row group's worth" are real production states
that sf0.01 tests never produce naturally. This sweep found two round-5
bugs the oracle suite could not see:

  * p05's mapInPandas partial kernel yielded a mistyped EMPTY DataFrame
    on empty splits (ArrowNotImplementedError in the worker) — fixed,
    pinned by tests/test_projection.py::test_kmeans_survives_empty_parquet_splits;
  * f03's raw .json() scan tripped QUERY_ONLY_CORRUPT_RECORD_COLUMN
    under full column pruning (df.count()) — re-expressed as
    text+from_json, pinned by tests/test_ingest.py::test_f03_survives_full_column_pruning.

Beyond split size, the sweep pins two more partition-shape dimensions
(both verified 115/115 green in round 5, and the 50 driver-facing
queries HASH-MATCH their DuckDB oracles under the combined config —
determinism under partition chaos, not just crash-freedom):

  * ``--arrow-batch 7`` — pathological Arrow batch size; every pandas
    kernel sees many tiny batches, so cross-batch accumulation bugs
    (state reset per batch, per-batch top-k leaking into results)
    surface immediately;
  * a degenerate / awkward shuffle partition count (3rd positional, 1
    or a prime like 5) — catches partition-count assumptions and
    order-dependent tie-breaking. HONESTY NOTE (round-6 review): until
    late round 6 a configure_runtime reset inside every wrapped query
    silently pinned 32, so earlier "shuffle=1" sweeps never actually
    ran the dimension; after the fix the full 105-oracle parity sweep
    was re-run at genuinely-applied shuffle.partitions=1 +
    maxPartitionBytes=16384 + arrow batch 7 — 0 divergences
    (bench_runs/r6_chaos.log).

A fourth dimension — EMPTY input tables (pass ``--empty``: the sweep
rewrites every parquet as its 0-row slice into /tmp and runs against
that) — found four more round-5 bugs: MLlib ``fit()`` (s04, p04) and
the PCA/PQ training collects (p03, p07) crashed on empty corpora
instead of returning the empty result, and f04's partitioned scan
could not infer a schema from an empty dataset (now declared
explicitly). All guarded; pinned by
tests/test_projection.py::test_empty_corpus_yields_empty_results_not_crashes.

A fifth dimension — NULL-injected columns (``--nulls``: text/lang/
source in documents, props/event_type/value in events, embedding/label
in embeddings, each on a distinct prime modulus) — found six more:
null embeddings crashed every numpy/MLlib consumer (d05, s04, p03,
p04, p05, p07). Policy: null vectors are EXCLUDED from similarity and
training math at the scan (explicit isNotNull — Catalyst already
infers it for the expression-based twins); pinned by
tests/test_projection.py::test_null_embeddings_are_excluded_not_crashes.

With ``--oracle``, the sweep hash-compares EVERY oracle-backed query
(driver-facing and held-out) against DuckDB ON THE CHAOS DATA instead
of just counting — null-aware (None/NaN normalized), with
fixture-backed oracles rebuilt against the probe corpus.
``--empty --oracle`` reports exactly three EXPECTED divergences —
q08/q09/q17 — which are a documented Spark-vs-ANSI difference, not a
bug: Spark's rollup/cube/GROUPING SETS on empty input emit 0 rows
where ANSI (and DuckDB) still emit the grand-total grouping set
(pinned in tests/test_relational.py::
test_rollup_on_empty_input_yields_no_rows_unlike_ansi). ``--nulls --oracle`` is the
strongest correctness probe in the repo: round 5 ran it to 50/50
parity after aligning three operator/oracle pairs whose null
semantics silently differed (p06's posexplode-vs-CROSS-JOIN null
arrays, st11's None-counted-as-a-type, t17's size(NULL) = -1 junk
chunk rows).

A sixth dimension — pathological DOCUMENTS (``--edge``: an
empty-string doc, a whitespace-only doc, a single-token doc, a
50k-char doc, a maximally-repetitive doc) — found four ANSI
divide-by-zero crashes (t05/t06/x04/x08: one empty page killed the
whole job; fixed with try_divide/coalesce stated on both sides) and
three value-level engine divergences: DuckDB's ``array_to_string([])``
is NULL where Spark's ``array_join([])`` is '' (d01/t08/t17/d09
oracles now coalesce, the functions/url.py precedent), and t22's
mean_nll rounded a raw double ratio at a .5-micro boundary (now
floor-divided in exact integers per the float-parity policy).

A seventh dimension — UNICODE documents (``--unicode``: Latin-1
diacritics, CJK, emoji, sharp-s casing, NFD combining marks, Greek,
exotic whitespace) — probes the tokenizer/casing chain across engines.
All probed scripts tokenize identically EXCEPT U+0130 (Turkish İ):
the JVM applies Unicode SpecialCasing on lowercase ('i' + U+0307, so
the ASCII tokenizer splits) while DuckDB's utf8proc uses the simple
one-codepoint mapping ('i', no split) — a pinned engine difference
(tests/test_text.py::test_turkish_dotted_i_is_a_known_cross_engine_casing_difference),
so the ``--unicode`` corpus excludes İ and runs to full parity.

An eighth dimension — HEAVY KEY SKEW (``--skew``, round 10;
cardinality-preserved since round 11): ~90% of documents collapse onto
ONE source (so the host graph, host-reputation verdicts, splits and
the dedup relational tails all see one dominant group/join key), ~90%
of events onto ONE user (sessionize, stateful streaming, DAU), and
~90% of embedding labels onto ONE label (stratified sampling, filtered
ANN) — while every ORIGINAL distinct key keeps at least one row, so
the key universe is identical to the uniform table and a skew-vs-
uniform timing delta measures skew, not cardinality (the r10 twin's
confound). This is the 100 TB failure mode
the skew playbook (SCALE.md) addresses: a shuffle where one reducer
key carries 10× the median. The sweep checks both survival (no
OOM/timeout at pathological splits) and, with ``--oracle``,
bit-parity — a query whose tie-breaking or accumulation order
silently depends on partition sizes diverges HERE first.

Usage:
  python tools/chaos_partitions.py [sf_dir] [maxPartitionBytes] [shuffle] [arrowBatch]
  # config dimensions are POSITIONAL (e.g. a degenerate shuffle count:
  #   python tools/chaos_partitions.py /root/testdata/sf0.01 16384 1)
  python tools/chaos_partitions.py --empty   # 0-row-tables sweep
  python tools/chaos_partitions.py --nulls   # null-injected-columns sweep
  python tools/chaos_partitions.py --edge    # pathological-documents sweep
  python tools/chaos_partitions.py --unicode # multi-script documents sweep
  python tools/chaos_partitions.py --skew    # dominant-key sweep
  python tools/chaos_partitions.py --nulls --oracle  # + DuckDB parity on that data

Exit code 1 if any query fails. Not part of pytest (it re-runs the full
registry, ~5 min); run it whenever a new Arrow kernel or file-source
operator lands.
"""

from __future__ import annotations

import shutil
import sys


def _empty_twin(sf_dir: str) -> str:
    import os

    import pyarrow.parquet as pq

    d = "/tmp/chaos_empty_sf"
    shutil.rmtree(d, ignore_errors=True)  # no stale prior-run tables (round-6 review)
    os.makedirs(d, exist_ok=True)
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(sf_dir, f))
            pq.write_table(t.slice(0, 0), os.path.join(d, f))
    return d


def _null_twin(sf_dir: str) -> str:
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    plan = {
        # round-6 review: user_id / n_chars / p_brand were never nulled,
        # leaving COUNT(DISTINCT)-vs-NULL and ANSI-cast edges unprobed
        "documents.parquet": ("doc_id", [("text", 13, 3), ("lang", 17, 5), ("source", 19, 7), ("n_chars", 43, 21)]),
        "events.parquet": ("event_id", [("props", 11, 2), ("event_type", 23, 9), ("value", 29, 13), ("user_id", 31, 11)]),
        "embeddings.parquet": ("vec_id", [("embedding", 37, 17), ("label", 41, 19)]),
        "part.parquet": ("p_partkey", [("p_brand", 7, 3)]),
    }
    d = "/tmp/chaos_null_sf"
    shutil.rmtree(d, ignore_errors=True)  # no stale prior-run tables (round-6 review)
    os.makedirs(d, exist_ok=True)
    for f in os.listdir(sf_dir):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(sf_dir, f))
        key, cols = plan.get(f, (None, []))
        for col, mod, rem in cols:
            keys = t.column(key).to_numpy()
            mask = pa.array((keys % mod) == rem)
            idx = t.schema.get_field_index(col)
            arr = pc.if_else(
                mask,
                pa.scalar(None, t.schema.field(col).type),
                t.column(col).combine_chunks(),
            )
            t = t.set_column(idx, col, arr)
        pq.write_table(t, os.path.join(d, f))
    return d


def _edge_twin(sf_dir: str) -> str:
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = "/tmp/chaos_edge_sf"
    shutil.rmtree(d, ignore_errors=True)  # no stale prior-run tables (round-6 review)
    os.makedirs(d, exist_ok=True)
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet") and f != "documents.parquet":
            shutil.copy(os.path.join(sf_dir, f), os.path.join(d, f))
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    maxid = max(t.column("doc_id").to_pylist())
    extra = {
        "doc_id": [maxid + 1, maxid + 2, maxid + 3, maxid + 4, maxid + 5],
        "text": ["", "   \t  \n ", "word", "a b " * 12500,
                 "the the the the the the the the"],
        "lang": ["en"] * 5,
        "source": ["edge"] * 5,
        "n_chars": [0, 8, 4, 50000, 31],
    }
    et = pa.table(
        {k: pa.array(v, t.schema.field(k).type) for k, v in extra.items()}
    )
    pq.write_table(
        pa.concat_tables([t, et.select(t.schema.names)]),
        os.path.join(d, "documents.parquet"),
    )
    return d


def _unicode_twin(sf_dir: str) -> str:
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = "/tmp/chaos_unicode_sf"
    shutil.rmtree(d, ignore_errors=True)  # no stale prior-run tables (round-6 review)
    os.makedirs(d, exist_ok=True)
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet") and f != "documents.parquet":
            shutil.copy(os.path.join(sf_dir, f), os.path.join(d, f))
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    maxid = max(t.column("doc_id").to_pylist())
    # NO U+0130: its lowercase diverges by design (see module docstring)
    texts = [
        "héllo wörld café naïve",
        "日本語のテキスト 中文文本 한국어",
        "emoji \U0001f600 test \U0001f389 done",
        "STRASSE straße GROSS",
        "éléphant café",
        "Ωμέγα ΑΛΦΑ βήτα",
        "a b c　d",
    ]
    extra = {
        "doc_id": [maxid + i + 1 for i in range(len(texts))],
        "text": texts,
        "lang": ["xx"] * len(texts),
        "source": ["uni"] * len(texts),
        "n_chars": [len(s) for s in texts],
    }
    et = pa.table(
        {k: pa.array(v, t.schema.field(k).type) for k, v in extra.items()}
    )
    pq.write_table(
        pa.concat_tables([t, et.select(t.schema.names)]),
        os.path.join(d, "documents.parquet"),
    )
    return d


def _skew_twin(sf_dir: str) -> str:
    """~90% of each relation's natural grouping key collapses onto one
    dominant value, CARDINALITY-PRESERVED (round-11, de-confounding the
    r10 probe): every original distinct value keeps its FIRST row, and
    rows with key % 10 == 0 keep theirs, so the distinct-key universe
    is IDENTICAL to the uniform table — the r10 twin deleted ~90% of
    the hosts/users along with the skew, which made skewed runs faster
    for the wrong reason (smaller graphs/state, not better plans).
    Deterministic: documents.source, events.user_id, embeddings.label;
    dominant = the column's minimum. Content columns stay untouched —
    the probe targets KEY distribution (shuffle/reducer skew and any
    tie-break that silently keys on partition sizes), not content
    semantics."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    plan = {
        "documents.parquet": ("doc_id", "source"),
        "events.parquet": ("event_id", "user_id"),
        "embeddings.parquet": ("vec_id", "label"),
    }
    d = "/tmp/chaos_skew_sf"
    shutil.rmtree(d, ignore_errors=True)  # no stale prior-run tables
    os.makedirs(d, exist_ok=True)
    for f in os.listdir(sf_dir):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(sf_dir, f))
        if f in plan:
            key, col = plan[f]
            dominant = pc.min(t.column(col)).as_py()
            keys = t.column(key).to_numpy()
            vals = t.column(col).combine_chunks()
            # first occurrence of every distinct value survives, so
            # |distinct(col)| is invariant under the rewrite
            codes = pc.dictionary_encode(vals).indices.to_numpy(
                zero_copy_only=False
            )
            _, first_idx = np.unique(codes, return_index=True)
            keep = np.zeros(len(keys), dtype=bool)
            keep[first_idx] = True
            keep |= (keys % 10) == 0
            idx = t.schema.get_field_index(col)
            arr = pc.if_else(
                pa.array(keep),
                vals,
                pa.scalar(dominant, t.schema.field(col).type),
            )
            before = len(pc.unique(vals))
            after = len(pc.unique(arr))
            assert after == before, (f, before, after)
            t = t.set_column(idx, col, arr)
        pq.write_table(t, os.path.join(d, f))
    return d


def main() -> None:
    args = [a for a in sys.argv[1:]
            if a not in ("--empty", "--nulls", "--edge", "--unicode",
                         "--skew", "--oracle")]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    max_bytes = args[1] if len(args) > 1 else "16384"
    shuffle = args[2] if len(args) > 2 else "16"
    arrow_batch = args[3] if len(args) > 3 else "7"
    if "--empty" in sys.argv[1:]:
        sf_dir = _empty_twin(sf_dir)
    elif "--nulls" in sys.argv[1:]:
        sf_dir = _null_twin(sf_dir)
    elif "--edge" in sys.argv[1:]:
        sf_dir = _edge_twin(sf_dir)
    elif "--unicode" in sys.argv[1:]:
        sf_dir = _unicode_twin(sf_dir)
    elif "--skew" in sys.argv[1:]:
        sf_dir = _skew_twin(sf_dir)
    sys.path.insert(0, "/root/repo")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.files.maxPartitionBytes", max_bytes)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", arrow_batch)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as em

    if "--oracle" in sys.argv[1:]:
        sys.exit(_oracle_parity(spark, em, sf_dir))
    fails = []
    for name, fn in em.all_queries().items():
        try:
            fn(spark, sf_dir).count()
        except Exception as exc:  # noqa: BLE001 — report, don't mask
            fails.append((name, str(exc).splitlines()[0][:200]))
    print(f"ok: {len(em.all_queries()) - len(fails)} failed: {len(fails)}")
    for n, e in fails:
        print("FAIL", n, e)
    sys.exit(1 if fails else 0)


def _oracle_parity(spark, em, sf_dir: str) -> int:
    """Hash-compare ALL oracle-backed queries (driver-facing AND
    held-out) vs DuckDB on sf_dir's (possibly chaos-mutated) parquet —
    null-aware. Fixture-backed oracles (f01/f03/f04/t10/t16/...) embed
    a fixture path derived from sf_dir at build time, so they are
    REBUILT here against the probe corpus via their sf_dir parameter;
    the entry-file wrappers would pin them to the stock sf0.01
    fixtures and silently compare different bytes."""
    import inspect

    import duckdb
    import numpy as np
    import pandas as pd

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def all_oracles() -> dict:
        out = {}
        for mod in em._modules():
            for name, sql in getattr(mod, "ORACLE", {}).items():
                if callable(sql):
                    params = inspect.signature(sql).parameters
                    out[name] = sql(sf_dir) if "sf_dir" in params else sql()
                else:
                    out[name] = sql
        return out

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            df[c] = df[c].map(
                lambda v: "NULL"
                if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NA
                # +0.0 folds -0.0 into 0.0 — a tiny negative sum that
                # rounds to zero must not string-compare as '-0.0' vs
                # the other engine's '0.0' (round-6 review)
                else (round(v, 9) + 0.0 if isinstance(v, float) else v)
            ).astype(str)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    qs, osql = em.all_queries(), all_oracles()
    bad = 0
    for name in sorted(osql):
        try:
            g = norm(qs[name](spark, sf_dir).toPandas())
            e = norm(con.execute(osql[name]).df())
        except Exception as exc:  # noqa: BLE001 — report, don't mask
            bad += 1
            print("FAIL", name, str(exc).splitlines()[0][:160])
            continue
        if not (list(g.columns) == list(e.columns) and len(g) == len(e) and g.equals(e)):
            bad += 1
            print("DIVERGE", name, len(g), "vs", len(e))
    print(f"oracle parity on {sf_dir}: {bad} divergences of {len(osql)} oracle-backed queries")
    return 1 if bad else 0


if __name__ == "__main__":
    main()
