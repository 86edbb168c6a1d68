"""Malformed-input robustness — the reference's lenient decode
(errors='replace', a1p2b_ahuja.py:8-17) and tolerant parser (spec: 'not
well-formed XML') generalized: PERMISSIVE parsing with corrupt-record
capture, and bad-date tolerance."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_permissive_json_with_corrupt_records(spark, tmp_path):
    p = tmp_path / "mixed.json"
    p.write_text(
        '{"id": 1, "v": 10}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "v": 20}\n'
        '{"id": 3, "v": "not_a_number"}\n'
    )
    df = (
        spark.read.schema("id long, v long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["id"] for r in good} == {1, 2}
    assert len(bad) == 2  # the non-JSON line and the type-mismatched row


def test_lenient_date_parsing(spark):
    """try_to_timestamp: malformed dates → NULL, not job failure (the
    engine's spelling of errors='replace')."""
    df = spark.createDataFrame(
        [("12,January,2024",), ("garbage",), ("31,February,2024",)], ["d"]
    ).select(F.try_to_timestamp(F.col("d"), F.lit("dd,MMMM,yyyy")).alias("ts"))
    vals = [r["ts"] for r in df.collect()]
    assert vals[0] is not None
    assert vals[1] is None
    assert vals[2] is None  # Feb 31 rejected, not silently wrapped


def test_csv_malformed_rows_dropped_in_dropmalformed(spark, tmp_path):
    p = tmp_path / "rows.csv"
    p.write_text("id,v\n1,10\nbroken_row_with_no_comma_number,\n2,20\n")
    df = (
        spark.read.schema("id long, v long")
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert {r["id"] for r in df.collect()} == {1, 2}


def test_null_key_semantics_match_sql(spark, sf_correctness, tmp_path):
    """NULL join/distinct keys must follow SQL semantics, pinned on a
    null-injected twin corpus (round-6 null probe): COUNT(DISTINCT)
    ignores NULL user_ids (q29's skew helper, st04/st10's
    dropDuplicates+count lowering used to count the NULL group); a
    NULL-user purchase never as-of-matches a NULL-user click (window
    partitionBy groups NULLs, joins do not — q18); an all-NULL-n_chars
    host sums junk_docs to 0, not NULL (t23); a NULL p_brand flows
    through q13's try_cast as NULL instead of killing the scan.

    The twin corpus also holds documents without tokens (NULL text on
    one doc_id residue, '' on another; no fixture has one) and NULL
    embeddings (vec_id % 3 == 1, query rows among them): every query
    bound to a public api function (t06 t12 t13 t17 t21 t22, x04 x05
    x06, d03 d08 d10 d12, s01 s02 s06, p08) and d07 must match its oracle
    on them — a NULL vector is neither a query nor a neighbor, nor a
    k-means member."""
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from big_data_analytics_cse545_spark.operators import (
        dedup,
        projection,
        relational,
        sampling,
        similarity,
        text,
    )
    from big_data_analytics_cse545_spark.streaming import ops as st
    from tests.oracle_utils import assert_parity

    # table -> (key, [(column, mod, rem, planted value)])
    plan = {
        "events.parquet": ("event_id", [("user_id", 3, 1, None)]),
        "documents.parquet": (
            "doc_id",
            [("n_chars", 3, 2, None), ("text", 11, 3, None), ("text", 11, 7, "")],
        ),
        "part.parquet": ("p_partkey", [("p_brand", 3, 0, None)]),
        "embeddings.parquet": ("vec_id", [("embedding", 3, 1, None)]),
    }
    d = str(tmp_path / "null_keys_sf")
    os.makedirs(d)
    planted = 0
    for f in os.listdir(sf_correctness):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(sf_correctness, f))
        key, cols = plan.get(f, (None, []))
        for col, mod, rem, value in cols:
            keys = t.column(key).to_numpy()
            mask = pa.array((keys % mod) == rem)
            idx = t.schema.get_field_index(col)
            t = t.set_column(
                idx,
                col,
                pc.if_else(
                    mask,
                    pa.scalar(value, t.schema.field(col).type),
                    t.column(col).combine_chunks(),
                ),
            )
            planted += int(pc.sum(mask).as_py())
        pq.write_table(t, os.path.join(d, f))
    assert planted > 0, "fixture must actually plant nulls"
    for name, mod in (
        ("q29", relational),
        ("q18", relational),
        ("q13", relational),
        ("t23", text),
        ("st04", st),
        ("st10", st),
        ("t06", text),
        ("t12", text),
        ("t13", text),
        ("t17", text),
        ("t21", text),
        ("t22", text),
        ("x04", sampling),
        ("x05", sampling),
        ("x06", sampling),
        ("d03", dedup),
        ("d07", dedup),
        ("d08", dedup),
        ("d10", dedup),
        ("d12", dedup),
        ("s01", similarity),
        ("s02", similarity),
        ("s06", similarity),
        ("p08", projection),
    ):
        qname = next(q for q in mod.ORACLE if q.startswith(name + "_"))
        assert_parity(mod.QUERIES[qname](spark, d), mod.ORACLE[qname], d, name)
