"""Pipeline-assembly layer (plans/pipeline.py — the CDAP envelope's
config-driven BatchSource → Transform* → BatchSink UX, VERDICT r9 #5).

The q_pipeline_xml_etl oracle covers the end-to-end data path; these tests
pin the ASSEMBLY contracts a spec author relies on: configure-time schema
validation (stage-attributed, before any data moves), macro substitution,
and single-plan composition.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL, run_isolated


def _etl_spec(path="/nonexistent", sink="/tmp/xps_pipe_test_sink"):
    return {
        "stages": [
            {"name": "read", "plugin": "XMLReader",
             "properties": {"path": path, "rowTag": "order"}},
            {"name": "parse", "plugin": "XMLParser",
             "properties": {"schema": "okey LONG, status STRING",
                            "processOnError": "route"}},
            {"name": "shape", "plugin": "Projection",
             "properties": {"select": "okey, status, _error as is_error"}},
            {"name": "sink", "plugin": "ParquetSink",
             "properties": {"path": sink}},
        ]
    }


def test_configure_time_schema_propagation():
    from xml_processor_spark.plans.pipeline import Pipeline

    p = Pipeline(_etl_spec())
    # Schema propagated through all four stages without touching data
    # (the source path does not exist — validation is pure metadata).
    assert p.out_schema == {
        "okey": "long", "status": "string", "is_error": "boolean"
    }


def test_validation_error_names_the_stage():
    from xml_processor_spark.plans.pipeline import (
        Pipeline,
        PipelineValidationError,
    )

    spec = _etl_spec()
    spec["stages"][2]["properties"]["select"] = "okey, nope"
    with pytest.raises(PipelineValidationError) as e:
        Pipeline(spec)
    assert "'shape'" in str(e.value) and "nope" in str(e.value)

    spec = _etl_spec()
    spec["stages"][1]["plugin"] = "NoSuchPlugin"
    with pytest.raises(PipelineValidationError) as e:
        Pipeline(spec)
    assert "'parse'" in str(e.value)


def test_missing_required_property_is_not_unknown_plugin():
    """ADVICE r10: a KeyError raised INSIDE a valid plugin's out_schema
    (XMLParser without 'schema', Projection without 'select') must be
    diagnosed as a missing property on that stage — not misreported as
    'unknown plugin', which sends the spec author to the wrong line."""
    from xml_processor_spark.plans.pipeline import (
        Pipeline,
        PipelineValidationError,
    )

    spec = _etl_spec()
    del spec["stages"][1]["properties"]["schema"]
    with pytest.raises(PipelineValidationError) as e:
        Pipeline(spec)
    msg = str(e.value)
    assert "'parse'" in msg and "unknown plugin" not in msg
    assert "schema" in msg

    spec = _etl_spec()
    del spec["stages"][2]["properties"]["select"]
    with pytest.raises(PipelineValidationError) as e:
        Pipeline(spec)
    msg = str(e.value)
    assert "'shape'" in msg and "unknown plugin" not in msg


def test_xmlreader_rejects_preamble_with_rowtag_prefix(spark, tmp_path):
    """ADVICE r10: with rowTag 'order', a file preamble beginning
    '<orders>' shares the raw prefix but NOT the tag boundary — the
    keep-filter must use the same '<tag>'/'<tag ' boundary discipline
    as the split lookahead, so the preamble is never emitted as a
    bogus record."""
    from xml_processor_spark.plans.pipeline import _XMLReader

    f = tmp_path / "orders.xml"
    f.write_text(
        "<orders><order okey=\"1\"><status>F</status></order>"
        "<order okey=\"2\"><status>O</status></order></orders>\n"
    )
    out = _XMLReader.apply(
        spark, None, {"path": str(f), "rowTag": "order"}
    )
    recs = [r.record for r in out.collect()]
    assert len(recs) == 2
    assert all(r.startswith("<order ") for r in recs)
    assert not any("orders" in r.split(">", 1)[0] for r in recs)


def test_xmlreader_accepts_self_closing_rowtag(spark, tmp_path):
    """ADVICE r11: attribute-only XML rows legitimately serialize as
    self-closing elements (<order okey="1"/> or bare <order/>), and
    spark-xml-style readers accept them — the reader must emit them as
    records (closed at their own '/>'), intermixed with paired-tag rows,
    without admitting prefix-sharing preambles."""
    from xml_processor_spark.plans.pipeline import _XMLReader

    f = tmp_path / "orders.xml"
    f.write_text(
        '<orders><order okey="1"/><order okey="2">'
        "<status>O</status></order><order/></orders>\n"
    )
    out = _XMLReader.apply(
        spark, None, {"path": str(f), "rowTag": "order"}
    )
    recs = sorted(r.record for r in out.collect())
    assert recs == [
        '<order okey="1"/>',
        '<order okey="2"><status>O</status></order>',
        "<order/>",
    ]


def test_transform_cannot_be_source_and_source_cannot_be_mid():
    from xml_processor_spark.plans.pipeline import (
        Pipeline,
        PipelineValidationError,
    )

    with pytest.raises(PipelineValidationError):
        Pipeline({"stages": [{"name": "p", "plugin": "Projection",
                              "properties": {"select": "x"}}]})
    spec = _etl_spec()
    spec["stages"].insert(2, {"name": "read2", "plugin": "XMLReader",
                              "properties": {"path": "/x", "rowTag": "t"}})
    with pytest.raises(PipelineValidationError) as e:
        Pipeline(spec)
    assert "'read2'" in str(e.value)


def test_macro_substitution_and_unresolved_macro_fails():
    from xml_processor_spark.plans.pipeline import (
        PipelineValidationError,
        substitute_macros,
    )

    out = substitute_macros(
        {"condition": "total >= ${min_total} AND lang = '${lang}'"},
        {"min_total": "10.5", "lang": "en"},
    )
    assert out["condition"] == "total >= 10.5 AND lang = 'en'"
    with pytest.raises(PipelineValidationError) as e:
        substitute_macros({"c": "${missing}"}, {})
    assert "missing" in str(e.value)


def test_pipeline_stages_compose_without_shuffle(spark):
    """Physical-plan pin (VERDICT r9 #5 'plan test'): the assembled
    XMLReader → XMLParser → Projection → Filter chain stays ONE
    scan-parallel stage — no Exchange of any kind before a sink —
    because stages compose lazily into a single Catalyst plan instead
    of materializing per stage. At 100 TB this is the difference
    between an ETL DAG that streams and one that spills per stage."""
    from xml_processor_spark.plans.pipeline import (
        _ETL_SCHEMA,
        Pipeline,
        _write_etl_fixture,
    )

    path = _write_etl_fixture(spark, SF_SMALL)
    spec = {
        "stages": [
            {"name": "read", "plugin": "XMLReader",
             "properties": {"path": path, "rowTag": "order"}},
            {"name": "parse", "plugin": "XMLParser",
             "properties": {"schema": _ETL_SCHEMA,
                            "processOnError": "route"}},
            {"name": "shape", "plugin": "Projection",
             "properties": {"select": "okey, status, total"}},
            {"name": "gate", "plugin": "Filter",
             "properties": {"condition": "total >= 1000.0"}},
        ]
    }
    df = Pipeline(spec).run(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_assembled_pipeline_is_one_plan_and_errors_route(spark, queries):
    """The composed DAG stays ONE Catalyst plan up to the sink (stages
    never materialize), the XML scan's record split + parse both run,
    and the routed error flow carries exactly the malformed records."""
    from pyspark.sql import functions as F

    from xml_processor_spark.plans.pipeline import (
        _ETL_SCHEMA,
        Pipeline,
        _write_etl_fixture,
    )

    path = _write_etl_fixture(spark, SF_SMALL)
    spec = {
        "stages": [
            {"name": "read", "plugin": "XMLReader",
             "properties": {"path": path, "rowTag": "order"}},
            {"name": "parse", "plugin": "XMLParser",
             "properties": {"schema": _ETL_SCHEMA,
                            "processOnError": "route"}},
        ]
    }
    df = Pipeline(spec).run(spark)
    # One plan: no InMemoryRelation / no parquet mid-write in the plan.
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    agg = df.groupBy("_error").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("okey").alias("key_sum"),
    ).collect()
    by_err = {r._error: r for r in agg}
    # Fixture contract: okey%100<2 orders; okey%10=0 are malformed.
    # Errors parse all-null (key_sum None); ok rows carry real keys.
    assert set(by_err) == {True, False}
    assert by_err[True].key_sum is None
    assert by_err[False].key_sum is not None and by_err[False].n > 0


def test_parquet_sink_reads_back_the_footer_schema(spark, tmp_path):
    """The sink re-reads with the schema it wrote instead of inferring it;
    that schema must still be what the parquet footers hold."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from xml_processor_spark.plans.pipeline import (
        _ETL_SCHEMA,
        Pipeline,
        _write_etl_fixture,
    )

    path = _write_etl_fixture(spark, SF_SMALL)
    sink = str(tmp_path / "sink_pq")
    spec = _etl_spec(path, sink)
    spec["stages"][1]["properties"]["schema"] = _ETL_SCHEMA
    spec["stages"][2]["properties"]["select"] = (
        "okey, status, total, odate, _error as is_error")
    df = Pipeline(spec).run(spark)
    files = sorted(p for p in (tmp_path / "sink_pq").iterdir()
                   if p.suffix == ".parquet")
    assert files
    footer = from_arrow_schema(pq.read_schema(files[0]))
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in footer]
    assert df.schema == spark.read.parquet(sink).schema
    assert df.count() == spark.read.parquet(sink).count() > 0


# Every key that writes files: XMLReader file tracking, the parquet and
# partitioned sinks, streaming replays and checkpoints, the format
# roundtrips, the partitioned/bucketed layouts and the reliable-checkpoint
# connected-components chains.
SCRATCH_KEYS = (
    "E-COMPACT-EXEC", "E-DEDUP-TTL", "E-FILE-TRACK", "E-FOREACH-BATCH",
    "E-MULTIMODAL", "E-PYSOURCE-STREAM", "E-SHARD-WRITE", "E-SINK-PQ",
    "E-STATEFUL", "E-STREAM-JOIN", "E-STREAM-STATIC", "E-WATERMARK",
    "E-XML-SRC",
    "q_join_bucketed", "q_join_dpp", "q_pipeline_xml_etl",
    "q_src_csv_roundtrip", "q_src_json_roundtrip", "q_src_orc_roundtrip",
    "q_src_xml_dropmalformed", "q_src_text_lines", "q_src_hive_partitioned",
    "q_src_xml_encoding",
    "q_dedup_cc_star", "q_dedup_cluster", "q_corpus_funnel",
)


def test_pipeline_key_leaves_no_scratch_after_session_stop(tmp_path):
    """Every file-writing key puts its scratch under the session's scratch
    root (io.scratch_dir), inside the driver's SparkFiles root, which Spark
    deletes at session stop: after one call of each key, spark.stop() and
    the JVM's exit, the temp dir and the working directory hold no files."""
    import textwrap

    prog = textwrap.dedent(f"""
        import json, os
        from xml_processor_spark.io import scratch_dir
        from xml_processor_spark.registry import get_queries
        from xml_processor_spark.session import build_session

        spark = build_session("leak", shuffle_partitions=8)
        qs = get_queries()
        rows = {{k: len(qs[k](spark, {SF_SMALL!r}).collect())
                 for k in {SCRATCH_KEYS!r}}}
        root = scratch_dir(spark)
        written = sorted(os.listdir(root))
        spark.stop()
        kept = os.path.exists(root)
        # The JVM's extracted native codec libraries (snappy, lz4) live in
        # its temp dir until it exits: end the gateway JVM before looking.
        from pyspark import SparkContext
        SparkContext._gateway.proc.stdin.close()
        SparkContext._gateway.proc.wait(120)
        def files(top):
            return sorted(os.path.join(d, f) for d, _, fs in os.walk(top)
                          for f in fs)
        print(json.dumps({{"rows": rows, "root": root, "written": written,
                           "kept": kept, "tmp": files(os.environ["TMPDIR"]),
                           "cwd": files(".")}}))
    """)
    got = run_isolated(prog, tmp_path)
    assert sorted(got["rows"]) == sorted(SCRATCH_KEYS)
    assert got["rows"]["q_pipeline_xml_etl"] > 0
    assert got["root"].startswith(str(tmp_path / "tmp" / "local"))
    assert len(got["written"]) >= len(SCRATCH_KEYS) and not got["kept"]
    assert got["tmp"] == [] and got["cwd"] == [], (
        len(got["tmp"]), len(got["cwd"]), got["tmp"][:5], got["cwd"][:5])
