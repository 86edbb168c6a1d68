"""File-format ingestion — JSONL and CSV sources with explicit schemas.

Training corpora arrive as newline-delimited JSON or CSV long before
they are parquet; the reference's ingestion is likewise raw-file-first
(driver file listing ``a1p2a_ahuja.py:21-24``, lenient whole-file reads
``a1p2b_ahuja.py:30-41``). These queries prove the engine's format
parity on REAL files written to local disk (same atomic-fixture
discipline as t10/m03), with DuckDB ``read_json``/``read_csv`` oracles
over the very same files.

100 TB posture, stated in each docstring and tested in test_plans:
* schemas are ALWAYS explicit — ``inferSchema``/sampling costs an extra
  full pass over the data before the first real job;
* plain (uncompressed or bzip2/zstd-framed) JSONL and CSV are
  line-splittable, so a 100 TB directory still parallelizes per block —
  but neither format has column pruning or predicate pushdown, so the
  first job of a production pipeline is convert-to-parquet; these
  operators are the ingestion edge, not the steady state;
* md5-of-text aggregation pins content fidelity through JSON/CSV
  escaping (embedded quotes, newlines, unicode) — a silent mojibake or
  quote-mangling flips the oracle hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_analytics_cse545_spark.sources.fixtures import ensure_fixture_dir

N_SHARDS = 4  # files per fixture dir — a parallel scan even at sf0.001

_JSONL_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
_CSV_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DECIMAL(12,2), o_orderdate DATE"
)


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _fixture_key(sf_dir: str, kind: str, table: str) -> dict:
    """ensure_fixture_dir kwargs for a fixture derived from
    ``{sf_dir}/{table}.parquet``: path-hash + content-digest keyed
    (the _m01_fixture_dir discipline) so (a) same-basename corpora at
    different paths cannot collide and (b) a REWRITTEN source
    re-materializes instead of serving stale bytes with stale prune.
    The round-11 skew sweep caught the failure mode the old
    basename-only keying allowed: chaos twins regenerate at a FIXED
    path (/tmp/chaos_skew_sf), and f07's XML fixture kept serving the
    previous twin's rows — a 10-vs-28-row oracle divergence that was
    fixture staleness, not an engine bug."""
    import hashlib
    import re

    src = os.path.join(sf_dir, f"{table}.parquet")
    st = os.stat(src)
    path_key = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:8]
    digest = hashlib.md5(
        f"{st.st_size}|{st.st_mtime_ns}".encode()
    ).hexdigest()[:10]
    prefix = f"{kind}-{_sf_tag(sf_dir)}-{path_key}-"
    return {
        "name": f"{prefix}{digest}",
        "prune_prefix": prefix,
        "prune_re": rf"{re.escape(prefix)}[0-9a-f]{{10}}",
    }


def jsonl_fixture_dir(sf_dir: str) -> str:
    """documents.parquet re-materialized as N_SHARDS newline-delimited
    JSON files (DuckDB's JSON writer: standard escaping, one object per
    line) — written once, atomically."""
    import duckdb

    def write(tmp: str) -> None:
        con = duckdb.connect()
        for i in range(N_SHARDS):
            con.execute(
                f"COPY (SELECT doc_id, text, lang, source, n_chars "
                f"FROM '{sf_dir}/documents.parquet' WHERE doc_id % {N_SHARDS} = {i} "
                f"ORDER BY doc_id) TO '{tmp}/part-{i}.jsonl' (FORMAT JSON)"
            )
        con.close()

    return ensure_fixture_dir(
        writer=write, **_fixture_key(sf_dir, "graft-jsonl", "documents")
    )


def csv_fixture_dir(sf_dir: str) -> str:
    """orders re-materialized as headered CSV shards with an exact
    DECIMAL money column and a DATE column (the two types CSV round-trips
    get wrong most often)."""
    import duckdb

    def write(tmp: str) -> None:
        con = duckdb.connect()
        for i in range(N_SHARDS):
            con.execute(
                f"COPY (SELECT o_orderkey, o_custkey, o_orderstatus, "
                f"CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice, "
                f"CAST(o_orderdate AS DATE) AS o_orderdate "
                f"FROM '{sf_dir}/orders.parquet' WHERE o_orderkey % {N_SHARDS} = {i} "
                f"ORDER BY o_orderkey) TO '{tmp}/part-{i}.csv' (FORMAT CSV, HEADER)"
            )
        con.close()

    return ensure_fixture_dir(
        writer=write, **_fixture_key(sf_dir, "graft-csv", "orders")
    )


def f01_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profile straight off a JSONL directory: per (source, lang)
    doc count, char volume, first doc id, and a content hash
    (min md5(text)) that fails the oracle if JSON escaping mangles even
    one document.

    Explicit schema: at 100 TB, ``inferSchema`` is an extra full scan
    (Spark samples JSON by READING it) before the first useful job —
    never in production. JSONL is line-splittable so the scan
    parallelizes per HDFS/S3 block; there is no column pruning in a
    row-text format, which is why convert-to-parquet is job #1 of a real
    pipeline (this operator IS that job's read side).
    """
    path = jsonl_fixture_dir(sf_dir)
    d = spark.read.schema(_JSONL_SCHEMA).json(path)
    return (
        d.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("first_doc"),
            F.min(F.md5(F.col("text"))).alias("content_hash"),
        )
        .orderBy("source", "lang")
    )


def _f01_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    path = jsonl_fixture_dir(sf_dir)
    return f"""
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS first_doc,
       MIN(md5(text)) AS content_hash
FROM read_json('{path}/part-*.jsonl', format='newline_delimited',
               columns={{'doc_id': 'BIGINT', 'text': 'VARCHAR',
                         'lang': 'VARCHAR', 'source': 'VARCHAR',
                         'n_chars': 'BIGINT'}})
GROUP BY source, lang
ORDER BY source, lang
"""


def f02_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-book rollup straight off headered CSV: revenue by
    (status, month) with the money column parsed as DECIMAL(12,2) —
    summed exactly in decimal, cast to double only at the end (the
    module float-parity policy) — and the date column parsed as DATE.

    Explicit schema + ``header=true``: CSV type inference misparses
    decimals as doubles (losing the exact-sum property) and dates as
    strings. Plain CSV is line-splittable; embedded-newline fields
    would force ``multiLine=true`` which makes each FILE the split unit
    — the orders table has none, and the docstring records the trap.
    """
    path = csv_fixture_dir(sf_dir)
    d = spark.read.schema(_CSV_SCHEMA).option("header", "true").csv(path)
    return (
        d.withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
        .groupBy("o_orderstatus", "month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").cast("double").alias("revenue"),
            F.countDistinct("o_custkey").alias("n_custs"),
        )
        .orderBy("o_orderstatus", "month")
    )


def _f02_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    path = csv_fixture_dir(sf_dir)
    return f"""
SELECT o_orderstatus, strftime(o_orderdate, '%Y-%m') AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(o_totalprice) AS DOUBLE) AS revenue,
       COUNT(DISTINCT o_custkey) AS n_custs
FROM read_csv('{path}/part-*.csv', header=true,
              columns={{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT',
                        'o_orderstatus': 'VARCHAR',
                        'o_totalprice': 'DECIMAL(12,2)',
                        'o_orderdate': 'DATE'}})
GROUP BY o_orderstatus, month
ORDER BY o_orderstatus, month
"""


# ---------------------------------------------------------------------------
# f05 — ORC ingestion (columnar round-trip beyond parquet)
# ---------------------------------------------------------------------------

_ORC_SCHEMA = (
    "l_orderkey BIGINT, l_returnflag STRING, "
    "l_extendedprice DECIMAL(12,2), l_shipdate DATE"
)


def orc_fixture_dir(sf_dir: str) -> str:
    """lineitem re-materialized as N_SHARDS ORC files (pyarrow's ORC
    writer) with an exact DECIMAL money column and a DATE column —
    the same round-trip traps as f02's CSV, but in the OTHER mainstream
    columnar format: a Hive/Hadoop estate's existing tables are ORC,
    and an engine claiming drop-in ingestion must read them natively
    (Spark's built-in orc source), not via a convert step."""
    import duckdb
    import pyarrow.orc as orc

    def write(tmp: str) -> None:
        con = duckdb.connect()
        for i in range(N_SHARDS):
            t = con.execute(
                f"SELECT l_orderkey, l_returnflag, "
                f"CAST(l_extendedprice AS DECIMAL(12,2)) AS l_extendedprice, "
                f"CAST(l_shipdate AS DATE) AS l_shipdate "
                f"FROM '{sf_dir}/lineitem.parquet' "
                f"WHERE l_orderkey % {N_SHARDS} = {i} "
                f"ORDER BY l_orderkey, l_extendedprice"
            ).arrow()
            orc.write_table(t, os.path.join(tmp, f"part-{i}.orc"))
        con.close()

    return ensure_fixture_dir(
        writer=write, **_fixture_key(sf_dir, "graft-orc", "lineitem")
    )


def f05_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rollup straight off ORC files: by (returnflag, ship
    year), count, exact-DECIMAL revenue sum (cast to double only at the
    end — module float-parity policy), and the date range. Proves the
    full ORC round-trip: BIGINT/VARCHAR/DECIMAL(12,2)/DATE written by
    one Arrow-based writer, read back bit-exactly by Spark's native
    orc source and hash-matched against DuckDB computing the same
    rollup from the SOURCE parquet — any decimal rescale or date
    timezone shift in the ORC path flips the compare.

    Explicit schema as always (ORC carries its own schema, but pinning
    it rejects silent widenings). ORC is a splittable columnar format
    with predicate pushdown and column pruning — same steady-state
    properties as parquet, so unlike f01/f02 this is NOT convert-first
    ingestion: Spark can run the whole pipeline over the estate's ORC
    tables directly, at scan parallelism = stripes.
    """
    path = orc_fixture_dir(sf_dir)
    d = spark.read.schema(_ORC_SCHEMA).orc(path)
    return (
        d.withColumn("ship_year", F.year("l_shipdate"))
        .groupBy("l_returnflag", "ship_year")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_extendedprice").cast("double").alias("revenue"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
        )
        .orderBy("l_returnflag", "ship_year")
    )


def _f05_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    # DuckDB has no ORC reader — the oracle recomputes the rollup from
    # the SOURCE parquet with the identical casts, so the compare
    # certifies the whole write-ORC → read-ORC chain end to end.
    orc_fixture_dir(sf_dir)  # ensure the fixture exists for the Spark side
    return """
SELECT l_returnflag, CAST(year(l_shipdate) AS INT) AS ship_year,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
       strftime(MIN(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS first_ship,
       strftime(MAX(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS last_ship
FROM lineitem
GROUP BY l_returnflag, ship_year
ORDER BY l_returnflag, ship_year
"""


# ---------------------------------------------------------------------------
# f07 — native XML source (Spark 4 built-in, no external package)
# ---------------------------------------------------------------------------

_XML_SCHEMA = "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT"


def xml_fixture_dir(sf_dir: str) -> str:
    """documents' STRUCTURED fields re-materialized as N_SHARDS XML
    shards (``<docs><doc><doc_id>…</doc_id>…</doc></docs>``), written
    deterministically in python with standard entity escaping; a NULL
    value omits its element (the conventional XML absence encoding,
    which Spark's reader maps back to null). The raw ``text`` column
    stays OUT of the XML on purpose: XML readers normalize
    insignificant whitespace and empty-element/null boundaries in
    format-defined ways, so prose belongs in the line- or columnar
    formats (f01/f05) — shipping structured metadata is what XML feeds
    still do in practice (sitemaps, catalog exports, OAI-PMH)."""
    import re as _re
    import xml.sax.saxutils as sx

    import duckdb

    # XML 1.0 Char production: C0 controls other than \t \n \r, lone
    # surrogates, and U+FFFE/U+FFFF are NOT representable even escaped —
    # written verbatim they make the shard non-well-formed and Spark's
    # PERMISSIVE reader nulls the whole record SILENTLY, surfacing only
    # as an oracle hash mismatch far from the cause (r7 ADVICE; the
    # non-C0 classes per the r8 review). Fail loudly in the writer.
    _xml_invalid = _re.compile(
        "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\ud800-\\udfff\\ufffe\\uffff]"
    )

    def write(tmp: str) -> None:
        con = duckdb.connect()
        for i in range(N_SHARDS):
            rows = con.execute(
                f"SELECT doc_id, lang, source, n_chars "
                f"FROM '{sf_dir}/documents.parquet' "
                f"WHERE doc_id % {N_SHARDS} = {i} ORDER BY doc_id"
            ).fetchall()
            with open(
                os.path.join(tmp, f"part-{i}.xml"), "w", encoding="utf-8"
            ) as fh:
                fh.write("<docs>\n")
                for doc_id, lang, source, n_chars in rows:
                    fh.write("  <doc>")
                    for tag, val in (
                        ("doc_id", doc_id),
                        ("lang", lang),
                        ("source", source),
                        ("n_chars", n_chars),
                    ):
                        if val is not None:
                            s = str(val)
                            if _xml_invalid.search(s):
                                raise ValueError(
                                    f"doc_id={doc_id} field {tag!r} contains "
                                    "an XML-unrepresentable control char; "
                                    "refusing to write a shard the reader "
                                    "would silently null out"
                                )
                            fh.write(f"<{tag}>{sx.escape(s)}</{tag}>")
                    fh.write("</doc>\n")
                fh.write("</docs>\n")
        con.close()

    return ensure_fixture_dir(
        writer=write, **_fixture_key(sf_dir, "graft-xml", "documents")
    )


def f07_xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus stats straight off XML shards via
    Spark 4's NATIVE ``xml`` source (built into the distribution since
    4.0 — no spark-xml package): ``rowTag`` splits each shard into
    records, the explicit schema pins element types (never
    ``inferSchema`` — an extra full pass at 100 TB), and omitted
    elements come back as NULL, exercising the same null-group
    semantics as the parquet path. The DuckDB oracle computes the
    identical rollup from the SOURCE parquet, so the hash compare
    certifies the whole write-XML → entity-escape → read-XML chain —
    the ingestion-format counterpart of t09, which parses the
    reference's PSEUDO-xml with string ops (``a1p2b_ahuja.py:43-78``)
    precisely because real XML tooling was unavailable there.

    100 TB posture: XML is the ingestion edge, not the steady state —
    multi-line records mean a shard is NOT block-splittable (scan
    parallelism = files, like f01's shards), there is no column
    pruning or pushdown, and the first production job converts to
    parquet. The engine still must READ the estate's XML feeds
    natively, exactly like f05's argument for ORC."""
    path = xml_fixture_dir(sf_dir)
    d = (
        spark.read.format("xml")
        .schema(_XML_SCHEMA)
        .option("rowTag", "doc")
        .load(path)
    )
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "source")
    )


def _f07_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    # DuckDB has no XML reader — the oracle recomputes the rollup from
    # the SOURCE parquet (the f05 pattern), so the compare certifies
    # the write-XML -> read-XML chain end to end. sf_dir is accepted
    # for the module-wide oracle-builder signature (test_ingest passes
    # it) but deliberately UNUSED: the SQL reads the pre-registered
    # documents view, and building an XML fixture here was a side
    # effect into a possibly-wrong directory (r7 ADVICE) — f07_xml_scan
    # builds the fixture for the actual sf_dir under test.
    del sf_dir
    return """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""


# ---------------------------------------------------------------------------
# f06 — custom Python data source (Spark 4 connector API) with pushdown
# ---------------------------------------------------------------------------

F06_EPOCH_MIN_I = 1000  # query keeps fetch_epoch ≥ EPOCH0 + 17·this
F06_HOST = 7


def f06_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status-mix report off the ``graftcrawl`` CUSTOM Python data
    source (sources/pysource.py — Spark 4's ``pyspark.sql.datasource``
    connector API): the engine's answer for systems with no built-in
    source (internal crawl services, feature stores, ticket APIs).

    The two predicates exercise both pushdown layers the connector
    implements: ``fetch_epoch ≥ …`` maps to an i-range that PRUNES
    whole partitions before they are scheduled (the Python-connector
    twin of f04's hive PartitionFilters), and ``host_id = 7`` is
    absorbed into the source's row generation so non-matching rows are
    never shipped. The source is deterministic integer arithmetic, so
    the DuckDB oracle regenerates it from ``range()`` and the driver
    hash-compare certifies the whole connector chain — partitioning,
    pushdown, generation — end to end. ``sf_dir`` is unused (the
    source IS the data); the signature stays uniform for the registry.
    """
    from big_data_analytics_cse545_spark.sources import pysource

    pysource.register(spark)
    d = spark.read.format("graftcrawl").load()
    return (
        d.filter(
            (F.col("fetch_epoch")
             >= pysource.CRAWL_EPOCH0 + pysource.CRAWL_EPOCH_STEP * F06_EPOCH_MIN_I)
            & (F.col("host_id") == F06_HOST)
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("n_bytes").alias("sum_bytes"),
            F.min("i").alias("first_i"),
            F.max("i").alias("last_i"),
            F.min("url").alias("first_url"),
        )
        .orderBy("status")
    )


def _f06_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    from big_data_analytics_cse545_spark.sources.pysource import (
        CRAWL_EPOCH0,
        CRAWL_EPOCH_STEP,
        CRAWL_HOSTS,
        CRAWL_N_ROWS,
    )

    return f"""
WITH crawl AS (
  SELECT i,
         'https://site' || ((i * 37 + 11) % {CRAWL_HOSTS}) || '.example/p/' || i AS url,
         (i * 37 + 11) % {CRAWL_HOSTS} AS host_id,
         CASE WHEN i % 13 = 0 THEN 404
              WHEN i % 13 = 1 THEN 301 ELSE 200 END AS status,
         (i * 7919) % 100000 AS n_bytes,
         {CRAWL_EPOCH0} + {CRAWL_EPOCH_STEP} * i AS fetch_epoch
  FROM (SELECT unnest(range({CRAWL_N_ROWS})) AS i)
)
SELECT status, COUNT(*) AS n_pages,
       CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,
       MIN(i) AS first_i, MAX(i) AS last_i, MIN(url) AS first_url
FROM crawl
WHERE fetch_epoch >= {CRAWL_EPOCH0} + {CRAWL_EPOCH_STEP} * {F06_EPOCH_MIN_I}
  AND host_id = {F06_HOST}
GROUP BY status
ORDER BY status
"""


CORRUPT_MOD = 7  # lines whose doc_id % 7 == 2 are truncated mid-object


def corrupt_jsonl_fixture_dir(sf_dir: str) -> str:
    import json

    import duckdb

    def write(tmp: str) -> None:
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT doc_id, text, lang, source, n_chars "
            f"FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
        ).fetchall()
        con.close()
        cols = ("doc_id", "text", "lang", "source", "n_chars")
        for i in range(N_SHARDS):
            with open(os.path.join(tmp, f"part-{i}.jsonl"), "w") as f:
                for r in rows:
                    if r[0] % N_SHARDS != i:
                        continue
                    line = json.dumps(dict(zip(cols, r)), ensure_ascii=False)
                    if r[0] % CORRUPT_MOD == 2:
                        line = line[: max(1, len(line) // 2)]
                    # _f03_sql's line-twin read_csv relies on delim=\x01
                    # with quoting disabled, so no line may ever carry a
                    # raw control byte. json.dumps guarantees this (it
                    # \u-escapes all of 0x00-0x1f even with
                    # ensure_ascii=False, and truncation of an escaped
                    # line cannot mint one) — asserted so a future
                    # corruption mode can't silently break the oracle's
                    # delimiter trick (round-5 ADVICE).
                    assert not any(ord(ch) < 0x20 for ch in line), (
                        "corrupt fixture line contains a raw control byte; "
                        "_f03_sql's chr(1)-delimited line reader would split it"
                    )
                    f.write(line + "\n")

    return ensure_fixture_dir(
        writer=write,
        **_fixture_key(sf_dir, "spark_graft_jsonl_corrupt", "documents"),
    )


# assigned after the def: a formatted string literal in docstring
# position is an expression, not a docstring — __doc__ would be None
corrupt_jsonl_fixture_dir.__doc__ = """JSONL shards of the documents
    table with deterministic corruption planted: every doc with
    doc_id % {M} == 2 is written as a TRUNCATED JSON object (first half
    of the line) — invalid syntax, the way real crawl dumps break
    (killed writers, truncated uploads, bad bytes). Written once,
    atomically; Spark and the DuckDB oracle read the very same bytes.
    """.format(M=CORRUPT_MOD)


def f03_jsonl_corrupt_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lenient JSONL ingestion over a shard set with planted torn lines:
    PERMISSIVE mode + ``columnNameOfCorruptRecord`` parses every valid
    line and quarantines malformed ones instead of failing the job — the
    ingestion-level twin of the reference's lenient whole-file decode
    (``a1p2b_ahuja.py:8-17``, ``errors='replace'``). Output: per-source
    good-row stats plus one ``is_corrupt = true`` row counting the
    quarantined lines — the corrupt count is a first-class data-quality
    metric, not a log line. The quarantine key is an explicit BOOLEAN
    grouping column, never a sentinel inside ``source``'s own value
    space (round-6 advice): a legitimate source literally named
    ``'_corrupt'`` must keep its good-row stats separate from the
    quarantine bucket, which a string sentinel cannot guarantee.

    At 100 TB, FAILFAST on a crawl dump means one torn line kills an
    N-thousand-task job; DROPMALFORMED silently under-reports. This is
    the only mode that both survives and *accounts*. Corruption here is
    purely syntactic (truncated objects) so the oracle's skip-set
    (``ignore_errors``) provably equals Spark's quarantine set.

    Scan shape (round 5): ``spark.read.text`` + ``from_json`` rather
    than the raw ``.json()`` reader with ``columnNameOfCorruptRecord``.
    Same parser (Jackson), same PERMISSIVE quarantine semantics, but
    the raw-JSON reader forbids any plan whose pruned scan references
    only the corrupt column — ``df.count()`` over this query trips
    that rule (QUERY_ONLY_CORRUPT_RECORD_COLUMN) because count prunes
    every output column away. A text scan has no such restriction
    under ANY downstream pruning, and reads the same bytes once.
    """
    path = corrupt_jsonl_fixture_dir(sf_dir)
    raw = spark.read.text(path)
    d = raw.select(
        F.from_json(
            F.col("value"),
            _JSONL_SCHEMA + ", _corrupt STRING",
            # the corrupt column must live INSIDE from_json's schema:
            # PERMISSIVE Jackson salvages the parsed prefix of a torn
            # line into a non-null struct, so a null-struct test would
            # under-count the quarantine — this flag marks it exactly
            # like the file reader does
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("j")
    ).select("j.*")
    # ONE genuine pass (round-6 review: the previous good/n_all/n_good
    # arithmetic read and re-parsed the text source 2-3×): corrupt rows
    # route to the (source=NULL, is_corrupt=true) group — the grouping
    # key is a boolean, so a real source named '_corrupt' can never
    # merge into the quarantine bucket (round-6 advice) — per-source
    # stats come from NULL-skipping conditional aggregates, and the
    # zero-corruption placeholder row is restored by a result-sized
    # re-aggregation with a constant: the quarantine bucket is always
    # present, matching the oracle, even on a clean or empty corpus.
    # (A good row may itself carry source=NULL — e.g. the nulls chaos
    # twin — and lands in (NULL, false), disjoint from the quarantine.)
    key_src = F.when(F.col("_corrupt").isNull(), F.col("source")).alias("source")
    is_c = F.col("_corrupt").isNotNull().alias("is_corrupt")
    stats = d.groupBy(key_src, is_c).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(F.when(F.col("_corrupt").isNull(), F.col("doc_id"))).alias(
            "first_doc"
        ),
        F.min(
            F.when(F.col("_corrupt").isNull(), F.md5(F.col("text")))
        ).alias("content_hash"),
    )
    placeholder = spark.range(1).select(
        F.lit(None).cast("string").alias("source"),
        F.lit(True).alias("is_corrupt"),
        F.lit(0).cast("bigint").alias("n_docs"),
        F.lit(None).cast("bigint").alias("first_doc"),
        F.lit(None).cast("string").alias("content_hash"),
    )
    return (
        stats.unionByName(placeholder)
        .groupBy("source", "is_corrupt")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.min("first_doc").alias("first_doc"),
            F.min("content_hash").alias("content_hash"),
        )
        .orderBy("is_corrupt", "source")
    )


def _f03_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    path = corrupt_jsonl_fixture_dir(sf_dir)
    # Per-LINE twin of the operator's text+from_json scan: read raw
    # lines (read_csv with an unused delimiter and quoting disabled),
    # then json_valid() decides the quarantine per line. read_json's
    # ignore_errors is NOT that twin — when a truncated line dangles a
    # key (`..., "lang": ` then EOL, reachable once text is NULL), its
    # error recovery consumes the NEXT line too, silently quarantining
    # a valid neighbor; line-based reading cannot, which is exactly the
    # resilience property f03 exists to demonstrate.
    return f"""
WITH lines AS (
  SELECT line FROM read_csv('{path}/part-*.jsonl',
                            columns={{'line': 'VARCHAR'}},
                            delim='{chr(1)}', quote='', escape='', header=false)
),
parsed AS (
  SELECT json_valid(line) AS ok,
         CAST(json_extract_string(line, '$.doc_id') AS BIGINT) AS doc_id,
         json_extract_string(line, '$.text') AS text,
         json_extract_string(line, '$.source') AS source
  FROM lines
)
SELECT source, FALSE AS is_corrupt, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS first_doc, MIN(md5(text)) AS content_hash
FROM parsed WHERE ok
GROUP BY source
UNION ALL
SELECT CAST(NULL AS VARCHAR), TRUE, CAST(COUNT(*) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
FROM parsed WHERE NOT ok
ORDER BY is_corrupt, source
"""


PARTITION_LANGS = ("en", "es")  # the partitions f04's read touches


def partitioned_parquet_fixture_dir(sf_dir: str) -> str:
    """documents re-materialized as a hive-partitioned parquet layout
    (``lang=<v>/part-*.parquet``) — the directory structure a 100 TB
    table actually uses so that per-partition predicates prune whole
    directories before any I/O. Written once, atomically (DuckDB's
    partitioned COPY; deterministic content)."""
    import duckdb

    def write(tmp: str) -> None:
        con = duckdb.connect()
        con.execute(
            f"COPY (SELECT doc_id, text, source, n_chars, lang "
            f"FROM '{sf_dir}/documents.parquet' ORDER BY doc_id) "
            f"TO '{tmp}' (FORMAT PARQUET, PARTITION_BY (lang), "
            f"OVERWRITE_OR_IGNORE)"
        )
        con.close()

    return ensure_fixture_dir(
        writer=write,
        **_fixture_key(sf_dir, "spark_graft_parquet_bylang", "documents"),
    )


def f04_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = partitioned_parquet_fixture_dir(sf_dir)
    # explicit schema (incl. the partition column): an EMPTY partitioned
    # dataset has no files to infer from, and a 100 TB table's schema
    # should be declared, not re-inferred per job anyway
    d = spark.read.schema(
        "doc_id BIGINT, text STRING, source STRING, n_chars BIGINT, lang STRING"
    ).parquet(path)
    return (
        d.filter(F.col("lang").isin(*PARTITION_LANGS))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("first_doc"),
            F.min(F.md5(F.col("text"))).alias("content_hash"),
        )
        .orderBy("lang")
    )


# assigned after the def: a formatted string literal in docstring
# position is an expression, not a docstring — __doc__ would be None
f04_partitioned_scan.__doc__ = """Partition-pruned scan over a
    hive-partitioned parquet layout: ``lang IN {langs}`` is a PARTITION
    filter, so Spark's file index never even lists the other languages'
    directories — at 100 TB the difference between touching 2/5 of the
    data and all of it, decided before a single row is read (the scan's
    PartitionFilters are gated in tests/test_sinks_sources.py).
    Per-lang doc stats with a content hash prove values survive the
    partitioned round-trip.
    """.format(langs=list(PARTITION_LANGS))


def _f04_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    path = partitioned_parquet_fixture_dir(sf_dir)
    langs = ", ".join(f"'{v}'" for v in PARTITION_LANGS)
    import glob as _glob

    if not _glob.glob(f"{path}/*/*.parquet"):
        # an EMPTY partitioned dataset has no files for DuckDB to glob
        # (read_parquet errors where Spark's declared-schema scan
        # returns empty) — emit the empty result with the same shape
        return """
SELECT CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS n_docs,
       CAST(NULL AS BIGINT) AS sum_chars, CAST(NULL AS BIGINT) AS first_doc,
       CAST(NULL AS VARCHAR) AS content_hash
WHERE FALSE
"""
    return f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS first_doc,
       MIN(md5(text)) AS content_hash
FROM read_parquet('{path}/*/*.parquet', hive_partitioning=1)
WHERE lang IN ({langs})
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# f08 — Avro container ingestion (pure-stdlib codec + pyavro DataSource)
# ---------------------------------------------------------------------------

# NULL-injection rule for the nullable-union column, shared verbatim by
# the fixture writer and the oracle: priority is NULL on every 97th key.
F08_NULL_MOD = 97
F08_BLOCK_RECORDS = 256  # several blocks per shard even at sf0.001


def avro_fixture_dir(sf_dir: str) -> str:
    """orders re-materialized as N_SHARDS Avro object container files
    (the pure-stdlib writer in sources/avro_io.py) — long keys, string
    status/date, exact integer CENTS for the money column (the module
    float-parity policy: the Spark side sums longs it READ, never
    doubles it computed), and a nullable-union priority column that
    proves union decoding. Half the shards use the null codec, half
    deflate, so one scan exercises both. Small blocks
    (F08_BLOCK_RECORDS) make every shard multi-block even at sf0.001 —
    the split unit the pyavro source schedules on."""
    import duckdb

    from big_data_analytics_cse545_spark.sources.avro_io import write_avro

    schema = {
        "type": "record",
        "name": "order",
        "fields": [
            {"name": "o_orderkey", "type": "long"},
            {"name": "o_orderstatus", "type": "string"},
            {"name": "o_orderdate", "type": "string"},
            {"name": "price_cents", "type": "long"},
            {"name": "priority", "type": ["null", "string"]},
        ],
    }

    def write(tmp: str) -> None:
        con = duckdb.connect()
        for i in range(N_SHARDS):
            rows = [
                {
                    "o_orderkey": k,
                    "o_orderstatus": st,
                    "o_orderdate": dt,
                    "price_cents": cents,
                    "priority": pr,
                }
                for k, st, dt, cents, pr in con.execute(
                    f"SELECT o_orderkey, o_orderstatus, "
                    f"strftime(o_orderdate, '%Y-%m-%d'), "
                    f"CAST(round(o_totalprice * 100) AS BIGINT), "
                    f"CASE WHEN o_orderkey % {F08_NULL_MOD} = 0 THEN NULL "
                    f"     ELSE o_orderpriority END "
                    f"FROM '{sf_dir}/orders.parquet' "
                    f"WHERE o_orderkey % {N_SHARDS} = {i} "
                    f"ORDER BY o_orderkey"
                ).fetchall()
            ]
            write_avro(
                rows,
                schema,
                os.path.join(tmp, f"part-{i}.avro"),
                codec="deflate" if i % 2 else "null",
                block_records=F08_BLOCK_RECORDS,
            )
        con.close()

    return ensure_fixture_dir(
        writer=write, **_fixture_key(sf_dir, "graft-avro", "orders")
    )


def f08_avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status revenue rollup straight off AVRO container files:
    by (status, order year) — count, exact integer-cents revenue,
    null-priority count (the nullable-union branch), and the first
    key. Closes the format-coverage gap carried since round 3 ("no
    Avro ingestion — spark-avro not in the distribution, installs out
    of contract"): the Avro binary encoding and container layout are a
    public Apache spec, implemented from scratch in
    sources/avro_io.py (zigzag varints, IEEE doubles, unions; null +
    deflate codecs — deflate is stdlib zlib) and served to Spark by
    the ``pyavro`` Python DataSource (sources/avro_source.py), whose
    partitions are BLOCK RUNS — scan parallelism = Avro block count,
    the same splittability parquet gets from row groups. The DuckDB
    oracle recomputes the rollup from the SOURCE parquet with the
    identical cents/null derivations, so the hash-compare certifies
    the whole write-avro → plan-blocks → decode chain end to end,
    across BOTH codecs (shards alternate null/deflate).

    At estate scale the steady-state answer is still convert-to-
    parquet (Avro is a row format — no column pruning); this is the
    ingestion edge, same posture as f01/f02.
    """
    from big_data_analytics_cse545_spark.sources import avro_source

    avro_source.register(spark)
    path = avro_fixture_dir(sf_dir)
    d = spark.read.format("pyavro").option("path", path).load()
    return (
        d.withColumn("o_year", F.substring("o_orderdate", 1, 4).cast("long"))
        .groupBy("o_orderstatus", "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").alias("revenue_cents"),
            F.sum(
                F.when(F.col("priority").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_null_priority"),
            F.min("o_orderkey").alias("first_key"),
        )
        .orderBy("o_orderstatus", "o_year")
    )


def _f08_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    # DuckDB has no Avro reader — the oracle recomputes from the SOURCE
    # parquet with the identical cents/null derivations (both sides of
    # the cents conversion run in DuckDB: fixture writer and oracle),
    # certifying the write → block-plan → decode chain end to end.
    avro_fixture_dir(sf_dir)  # ensure the fixture exists for the Spark side
    return f"""
SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(SUM(CASE WHEN o_orderkey % {F08_NULL_MOD} = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_priority,
       MIN(o_orderkey) AS first_key
FROM orders
GROUP BY o_orderstatus, o_year
ORDER BY o_orderstatus, o_year
"""


QUERIES = {
    "f01_jsonl_scan": f01_jsonl_scan,
    "f02_csv_scan": f02_csv_scan,
    "f03_jsonl_corrupt_tolerant": f03_jsonl_corrupt_tolerant,
    "f04_partitioned_scan": f04_partitioned_scan,
    "f05_orc_scan": f05_orc_scan,
    "f06_python_datasource_scan": f06_python_datasource_scan,
    "f07_xml_scan": f07_xml_scan,
    "f08_avro_scan": f08_avro_scan,
}

ORACLE = {
    "f01_jsonl_scan": _f01_sql,
    "f02_csv_scan": _f02_sql,
    "f03_jsonl_corrupt_tolerant": _f03_sql,
    "f04_partitioned_scan": _f04_sql,
    "f05_orc_scan": _f05_sql,
    "f06_python_datasource_scan": _f06_sql,
    "f07_xml_scan": _f07_sql,
    "f08_avro_scan": _f08_sql,
}
