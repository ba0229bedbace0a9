"""XML envelope edge cases (SURVEY §5 — beyond what the oracle sees)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from xml_processor_spark.io import table


def test_corrupt_route_is_exactly_ten_percent(spark, queries):
    rows = queries["q_xml_corrupt_route"](spark, SF_SMALL).collect()
    o = table(spark, SF_SMALL, "orders")
    want_corrupt = o.filter(F.col("o_orderkey") % 10 == 0).count()
    assert sum(r.n_corrupt for r in rows) == want_corrupt
    assert sum(r.n_corrupt + r.n_ok for r in rows) == o.count()


def test_nested_explode_roundtrips_every_lineitem(spark, queries):
    got = queries["q_xml_nested_explode"](spark, SF_SMALL)
    li = table(spark, SF_SMALL, "lineitem")
    assert got.count() == li.count()
    # spot-check one order's lines
    got_lines = {
        (r.ln, r.qty_c)
        for r in got.filter(F.col("okey") == 7).collect()
    }
    want_lines = {
        (r.l_linenumber, int(round(r.l_quantity * 100)))
        for r in li.filter(F.col("l_orderkey") == 7).collect()
    }
    assert got_lines == want_lines


def test_xml_source_parses_all_rows(spark, queries):
    from xml_processor_spark.io import table

    df = queries["E-XML-SRC"](spark, SF_SMALL)
    rows = df.collect()
    want = (
        table(spark, SF_SMALL, "orders")
        .filter(F.col("o_orderkey") % 100 < 2)
        .count()
    )
    assert len(rows) == want  # every record parsed exactly once
    # File provenance: each row's bucket (recovered from input_file_name's
    # partition directory) must equal the bucket its key was written to.
    assert all(r.bucket == r.okey % 4 for r in rows)
    assert {r.bucket for r in rows} <= {0, 1, 2, 3}


def test_empty_input_parses_to_empty(spark):
    """Empty XML input → empty typed output (no crash, schema preserved)."""
    empty = spark.createDataFrame([], "xml STRING")
    parsed = empty.select(F.from_xml("xml", "okey LONG").alias("p")).select("p.okey")
    assert parsed.count() == 0
    assert parsed.columns == ["okey"]


def test_from_xml_all_null_group(spark):
    """All-corrupt input yields all-null fields, not errors (PERMISSIVE)."""
    bad = spark.createDataFrame([("<o><k>",), ("notxml",)], "xml STRING")
    parsed = bad.select(F.from_xml("xml", "k LONG", {"mode": "PERMISSIVE"}).alias("p"))
    rows = parsed.select("p.k").collect()
    assert [r.k for r in rows] == [None, None]


def test_failfast_raises_on_malformed(spark):
    """XMLParser's exit-on-error policy [P: processOnError='exit']: under
    mode=FAILFAST the job must abort on the first malformed document —
    completing the trio with PERMISSIVE routing (q_xml_corrupt_route) and
    null-field ignore. A clean subset must still parse under FAILFAST."""
    import pytest
    from pyspark.sql import functions as F

    from xml_processor_spark.io import table

    o = table(spark, SF_SMALL, "orders").limit(100)
    good = F.concat(
        F.lit("<order><okey>"), F.col("o_orderkey").cast("string"),
        F.lit("</okey></order>"),
    )
    bad = F.concat(F.lit("<order><okey>"), F.col("o_orderkey").cast("string"))
    xml = F.when(F.col("o_orderkey") % 10 == 0, bad).otherwise(good)

    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING|Malformed"):
        o.select(
            F.from_xml(xml, "okey LONG", {"mode": "FAILFAST"}).alias("p")
        ).collect()

    ok_rows = (
        o.filter(F.col("o_orderkey") % 10 != 0)
        .select(F.from_xml(good, "okey LONG", {"mode": "FAILFAST"}).alias("p"))
        .collect()
    )
    assert all(r.p.okey is not None for r in ok_rows)


def test_json_schema_drift_null_payloads_agree(spark, queries, tmp_path_factory):
    """ADVICE r6: Spark's to_json DROPS null struct fields while DuckDB's
    json_object emits the key with a null value — the operator coalesces
    payloads in both dialects so one null row cannot shift per-field
    counts. The fixture is null-free, so this synthesizes an events
    table with nulls in value AND event_type (both epochs hit) and
    asserts the two engines produce identical drift rows."""
    import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from xml_processor_spark.registry import get_oracles

    d = tmp_path_factory.mktemp("drift_nulls")
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4], pa.int64()),
            "ts": pa.array(
                [datetime.datetime(2025, 1, 1, 0, 0, i) for i in range(4)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1, 1, 2, 2], pa.int64()),
            "event_type": pa.array(["view", None, "click", None], pa.string()),
            "value": pa.array([1.5, None, None, 2.5], pa.float64()),
            "props": pa.array(["{}"] * 4, pa.string()),
        }
    )
    pq.write_table(tbl, str(d / "events.parquet"))

    sdf = queries["q_json_schema_drift"](spark, str(d))
    cols = sorted(sdf.columns)
    got = {tuple(r[c] for c in cols) for r in sdf.collect()}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    cur = con.execute(get_oracles()["q_json_schema_drift"])
    ocols = [c[0] for c in cur.description]
    order = sorted(range(len(ocols)), key=lambda i: ocols[i])
    want = {tuple(row[i] for i in order) for row in cur.fetchall()}
    assert sorted(ocols) == cols
    assert got == want
