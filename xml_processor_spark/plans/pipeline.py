"""Config-driven pipeline assembly (SURVEY §0.1 envelope; VERDICT r9 #5).

The CDAP user experience the reference repo packages is NOT a query API —
it is a declarative stage-list spec: a ``BatchSource → Transform* →
BatchSink`` DAG described as configuration [P: cdap-data-pipeline app +
plugin ``configurePipeline`` schema propagation + macro substitution],
which the platform validates stage-by-stage and then executes. Every stage
below already exists in this repo as a composable operator; this module
adds the missing assembly layer:

- ``PipelineSpec``: a plain dict — ``{"stages": [{"name", "plugin",
  "properties"}, ...]}`` with stages wired linearly (the reference's
  canonical XML pipelines are linear; the spec keeps a ``connections``
  field optional for forward compatibility).
- **Macro substitution** (CDAP ``${...}``): every string property may
  reference runtime arguments, resolved at assembly time; unresolved
  macros fail loudly (CDAP defers secure macros to runtime; here all
  macros are runtime args).
- **configure-time schema validation** (CDAP ``configurePipeline``):
  each plugin declares ``out_schema(in_schema)`` and raises on a
  missing/mistyped input field BEFORE any data moves — the error names
  the stage, mirroring CDAP's stage-attributed validation failures.
- **Execution**: assembly returns ONE composed DataFrame — a single
  Catalyst plan end-to-end (no per-stage materialization), so predicate
  pushdown and column pruning cross stage boundaries exactly as SURVEY
  §4 demands. Sinks are the only effectful stages.

Plugins modeled (the reference's own family + the CDAP core transforms its
pipelines lean on): ``XMLReader`` (file glob → rowTag records + file
provenance), ``XMLParser`` (XPath/typed extraction + processOnError
routing), ``Projection`` (select/rename/cast), ``Filter`` (predicate),
``JavaScript``-class row transforms are NOT modeled (no JS engine — the
Python-UDF surface q_udf_* is the analogue), ``ParquetSink`` (write +
read-back). All stage logic reuses the registered operators' machinery.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from xml_processor_spark.io import scratch_dir, table
from xml_processor_spark.registry import register

_MACRO = re.compile(r"\$\{([^}]+)\}")


class PipelineValidationError(ValueError):
    """Configure-time failure, attributed to a stage (the CDAP contract)."""


def substitute_macros(properties: dict, args: dict) -> dict:
    """CDAP ``${key}`` macro substitution over string properties."""
    out = {}
    for k, v in properties.items():
        if isinstance(v, str):
            def _sub(m):
                key = m.group(1)
                if key not in args:
                    raise PipelineValidationError(
                        f"unresolved macro ${{{key}}} in property {k!r}"
                    )
                return str(args[key])

            v = _MACRO.sub(_sub, v)
        out[k] = v
    return out


@dataclass
class _Stage:
    name: str
    plugin: str
    properties: dict


def _parse_schema(s: str) -> dict[str, str]:
    """'a LONG, b STRING' -> {'a': 'long', 'b': 'string'} (order kept)."""
    out = {}
    for part in s.split(","):
        name, _, typ = part.strip().partition(" ")
        out[name] = typ.strip().lower()
    return out


class Pipeline:
    """Linear BatchSource → Transform* → BatchSink assembly."""

    def __init__(self, spec: dict, runtime_args: dict | None = None):
        args = runtime_args or {}
        self.stages = [
            _Stage(s["name"], s["plugin"],
                   substitute_macros(s.get("properties", {}), args))
            for s in spec["stages"]
        ]
        if not self.stages:
            raise PipelineValidationError("empty pipeline")
        self._validate()

    # -- configure-time schema propagation (CDAP configurePipeline) ------
    def _validate(self) -> None:
        schema: dict[str, str] | None = None
        for st in self.stages:
            # Unknown-plugin resolution gets its OWN try so a KeyError
            # raised inside a valid plugin's out_schema (a missing
            # required property like XMLParser's 'schema') is never
            # misreported as "unknown plugin" — wrong-stage diagnoses
            # cost real debugging time in multi-stage specs.
            try:
                plugin = _PLUGINS[st.plugin]
            except KeyError:
                raise PipelineValidationError(
                    f"stage {st.name!r}: unknown plugin {st.plugin!r}"
                ) from None
            try:
                schema = plugin.out_schema(schema, st.properties)
            except KeyError as e:
                raise PipelineValidationError(
                    f"stage {st.name!r}: missing required property {e}"
                ) from None
            except PipelineValidationError as e:
                raise PipelineValidationError(
                    f"stage {st.name!r}: {e}"
                ) from None
        self.out_schema = schema

    # -- execution --------------------------------------------------------
    def run(self, spark) -> DataFrame:
        df: DataFrame | None = None
        for st in self.stages:
            df = _PLUGINS[st.plugin].apply(spark, df, st.properties)
        return df


# ---------------------------------------------------------------------------
# Plugin implementations. Each provides:
#   out_schema(in_schema: dict|None, props) -> dict   (configure-time)
#   apply(spark, df: DataFrame|None, props) -> DataFrame
# ---------------------------------------------------------------------------


class _XMLReader:
    """XMLReader batch source [P: XMLReaderBatchSource.java]: path glob →
    one record per ``rowTag`` node + file provenance (fileName), the
    (offset, fileName, record) surface re-expressed on the native Spark 4
    XML datasource. Emits the RAW record string; parsing belongs to the
    XMLParser stage, exactly like the reference splits them."""

    @staticmethod
    def out_schema(in_schema, props):
        if in_schema is not None:
            raise PipelineValidationError("XMLReader must be the source")
        if "path" not in props or "rowTag" not in props:
            raise PipelineValidationError("XMLReader needs path + rowTag")
        return {"fileName": "string", "record": "string"}

    @staticmethod
    def apply(spark, df, props):
        # XMLReader emits the RAW snippet (the reference's record column),
        # which the native XML datasource does not surface for well-formed
        # rows — so the reader splits the file text on rowTag occurrences
        # with JVM string ops (one scan, no Python): the same
        # start-tag/end-tag record scanning the Hadoop XmlInputFormat
        # under XMLReaderBatchSource performs [P].
        tag = props["rowTag"]
        txt = spark.read.text(props["path"]).withColumn(
            "fileName", F.input_file_name()
        )
        # One record per <tag>...</tag> or self-closing <tag/> /
        # <tag ... /> occurrence per line (the fixture writes one document
        # per line; a multi-line XML file would use wholetext=true — same
        # algebra). The keep-filter uses the SAME boundary discipline as
        # the split lookahead (<tag>, <tag␣, or <tag/ — never the bare
        # '<{tag}%' prefix, which would admit a preamble like '<orders>'
        # when rowTag is 'order'; ADVICE r11 added the self-closing form,
        # which attribute-only XML rows legitimately produce and
        # spark-xml-style readers accept). Assumptions, matching the
        # Hadoop XmlInputFormat contract: rowTag elements do NOT nest
        # inside themselves (substring_index cuts at the FIRST closing
        # tag) and attribute values do not contain a literal '>'.
        rec = F.explode(
            F.expr(
                f"filter(split(value, '(?=<{tag}[ >/])'), "
                f"x -> x like '<{tag}>%' OR x like '<{tag} %' "
                f"OR x like '<{tag}/>%')"
            )
        ).alias("rec")
        # Self-closing records end at their first '>' (the head before it
        # ends with '/'); paired records end at the first closing tag.
        head = F.substring_index(F.col("rec"), ">", 1)
        record = F.when(
            head.endswith("/"), F.concat(head, F.lit(">"))
        ).otherwise(
            F.concat(
                F.substring_index(F.col("rec"), f"</{tag}>", 1),
                F.lit(f"</{tag}>"),
            )
        )
        return txt.select("fileName", rec).select(
            "fileName", record.alias("record")
        )


class _XMLParser:
    """XMLParser transform [P: XMLParser.java]: declared output schema,
    from_xml typed extraction, processOnError ∈ {route, skip, fail}."""

    @staticmethod
    def out_schema(in_schema, props):
        if in_schema is None or "record" not in in_schema:
            raise PipelineValidationError(
                "XMLParser needs an upstream 'record' string field; got "
                f"{sorted(in_schema) if in_schema else None}"
            )
        if in_schema["record"] != "string":
            raise PipelineValidationError(
                f"'record' must be string, got {in_schema['record']}"
            )
        out = _parse_schema(props["schema"])
        if props.get("processOnError", "fail") == "route":
            out["_error"] = "boolean"
        passthrough = {
            k: v for k, v in in_schema.items() if k != "record"
        }
        return {**passthrough, **out}

    @staticmethod
    def apply(spark, df, props):
        mode = props.get("processOnError", "fail")
        schema = props["schema"]
        first_field = schema.split(",")[0].split()[0].strip()
        parsed = df.select(
            *[c for c in df.columns if c != "record"],
            F.from_xml("record", schema, {"mode": "PERMISSIVE"}).alias("_p"),
        )
        # PERMISSIVE parse of a malformed record yields an all-null struct
        # (probed, q_xml_corrupt_route) — that null is the error route.
        bad = F.col(f"_p.{first_field}").isNull()
        flat = parsed.select(
            *[c for c in parsed.columns if c != "_p"], "_p.*",
            bad.alias("_error"),
        )
        if mode == "route":
            return flat
        if mode == "skip":
            return flat.filter(~F.col("_error")).drop("_error")
        return flat.drop("_error")  # fail-mode: corrupt rows surface as nulls


class _Projection:
    """CDAP core Projection transform: keep/rename/cast."""

    @staticmethod
    def out_schema(in_schema, props):
        if in_schema is None:
            raise PipelineValidationError("Projection cannot be the source")
        out = {}
        for item in props["select"].split(","):
            item = item.strip()
            src, _, dst = item.partition(" as ")
            src, dst = src.strip(), (dst.strip() or item)
            if src not in in_schema:
                raise PipelineValidationError(
                    f"unknown input field {src!r}; have {sorted(in_schema)}"
                )
            out[dst] = props.get("cast", {}).get(dst, in_schema[src])
        return out

    @staticmethod
    def apply(spark, df, props):
        cols = []
        for item in props["select"].split(","):
            item = item.strip()
            src, _, dst = item.partition(" as ")
            src, dst = src.strip(), (dst.strip() or item)
            c = F.col(src)
            if dst in props.get("cast", {}):
                c = c.cast(props["cast"][dst])
            cols.append(c.alias(dst))
        return df.select(*cols)


class _Filter:
    """Row filter on a SQL predicate (CDAP wrangler/filter shape)."""

    @staticmethod
    def out_schema(in_schema, props):
        if in_schema is None:
            raise PipelineValidationError("Filter cannot be the source")
        if "condition" not in props:
            raise PipelineValidationError("Filter needs 'condition'")
        return in_schema

    @staticmethod
    def apply(spark, df, props):
        return df.filter(props["condition"])


class _ParquetSink:
    """BatchSink: parquet write + read-back (the E-SINK-PQ discipline —
    returning the re-read makes the sink's durability part of the checked
    result, not a side effect). The read-back is given the schema just
    written, which spares a footer schema-inference job per run."""

    @staticmethod
    def out_schema(in_schema, props):
        if in_schema is None:
            raise PipelineValidationError("ParquetSink cannot be the source")
        if "path" not in props:
            raise PipelineValidationError("ParquetSink needs 'path'")
        return in_schema

    @staticmethod
    def apply(spark, df, props):
        df.write.mode("overwrite").parquet(props["path"])
        return spark.read.schema(df.schema).parquet(props["path"])


_PLUGINS = {
    "XMLReader": _XMLReader,
    "XMLParser": _XMLParser,
    "Projection": _Projection,
    "Filter": _Filter,
    "ParquetSink": _ParquetSink,
}


# ---------------------------------------------------------------------------
# The canonical end-to-end key: XMLReader → XMLParser(route) → Projection
# → Filter → ParquetSink, assembled FROM A SPEC DICT with a macro — the
# exact UX a reference user has today.
# ---------------------------------------------------------------------------

_ETL_SCHEMA = "okey LONG, status STRING, total DOUBLE, odate DATE"


def _write_etl_fixture(spark, sf_dir: str) -> str:
    """Deterministic XML input files: okey%100<2 orders, one document per
    (okey%4) bucket file, okey%10==0 records MALFORMED (unclosed <okey>)
    so the error route has real traffic. Same synthesized-envelope
    pattern as E-XML-SRC; malformation mirrors q_xml_corrupt_route."""
    from xml_processor_spark.sources.xml_envelope import _price_str

    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 < 2)
    good = F.concat(
        F.lit("<order><okey>"), F.col("o_orderkey").cast("string"),
        F.lit("</okey><status>"), F.col("o_orderstatus"),
        F.lit("</status><total>"), _price_str(),
        F.lit("</total><odate>"), F.date_format("o_orderdate", "yyyy-MM-dd"),
        F.lit("</odate></order>"),
    )
    bad = F.concat(
        F.lit("<order><okey>"), F.col("o_orderkey").cast("string"),
        F.lit("<status>"), F.col("o_orderstatus"), F.lit("</status></order>"),
    )
    xml = F.when(F.col("o_orderkey") % 10 == 0, bad).otherwise(good)
    docs = (
        o.select((F.col("o_orderkey") % 4).alias("bucket"), xml.alias("x"))
        .groupBy("bucket")
        .agg(F.concat_ws("", F.sort_array(F.collect_list("x"))).alias("value"))
    )
    out = os.path.join(scratch_dir(spark, "xps_pipeline"), "xml_in")
    docs.select("value").write.mode("overwrite").text(out)
    return out


@register(
    "q_pipeline_xml_etl",
    oracle="""
        WITH src AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
                   (o_orderkey % 10 = 0) AS corrupt
            FROM orders WHERE o_orderkey % 100 < 2
        ), routed AS (
            -- A routed error record carries NULL parsed fields (the raw
            -- snippet, not replayed here, is what the error flow keeps).
            SELECT CASE WHEN corrupt THEN NULL ELSE o_orderkey END AS okey,
                   CASE WHEN corrupt THEN NULL ELSE o_orderstatus END
                       AS status,
                   CASE WHEN corrupt THEN NULL ELSE o_totalprice END
                       AS total,
                   corrupt AS is_error
            FROM src
        )
        SELECT status, is_error,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(okey) AS BIGINT) AS key_sum,
               round(sum(total), 2) AS total_sum
        FROM routed
        WHERE is_error OR total >= 1000.0
        GROUP BY 1, 2
    """,
    origin="REF",
    doc="Config-driven pipeline assembly (VERDICT r9 #1-missing: the CDAP "
        "envelope's last capability with no twin): a 5-stage spec dict — "
        "XMLReader(source glob + rowTag) → XMLParser(typed schema, "
        "processOnError=route) → Projection(keep/rename) → Filter(keep "
        "errors + totals ≥ ${min_total}, a MACRO resolved from runtime "
        "args) → ParquetSink(write + read-back) — assembled by "
        "plans.pipeline.Pipeline with configure-time schema validation "
        "per stage (a missing field fails naming the stage, before any "
        "data moves) and executed as ONE composed Catalyst plan. The "
        "returned DataFrame is the re-read sink rolled up per (status, "
        "error-flag); the oracle replays source synthesis, error "
        "routing, projection, filter, and rollup from the orders view, "
        "so a hash match proves the whole assembled DAG end-to-end "
        "(fixture: okey%100<2 orders as bucketed XML files, okey%10=0 "
        "records malformed). Scale shape: stages compose lazily — the "
        "XML scan parallelizes per file split, the only shuffle is the "
        "final bounded rollup, and the sink write is "
        "partition-parallel.",
    tags=("pipeline", "xml"),
)
def q_pipeline_xml_etl(spark, sf_dir):
    path = _write_etl_fixture(spark, sf_dir)
    sink = os.path.join(os.path.dirname(path), "sink_pq")
    spec = {
        "stages": [
            {"name": "read", "plugin": "XMLReader",
             "properties": {"path": path, "rowTag": "order"}},
            {"name": "parse", "plugin": "XMLParser",
             "properties": {"schema": _ETL_SCHEMA,
                            "processOnError": "route"}},
            {"name": "shape", "plugin": "Projection",
             "properties": {"select": "okey, status, total, _error as is_error"}},
            {"name": "gate", "plugin": "Filter",
             "properties": {
                 "condition": "is_error OR total >= ${min_total}"}},
            {"name": "sink", "plugin": "ParquetSink",
             "properties": {"path": sink}},
        ]
    }
    pipe = Pipeline(spec, runtime_args={"min_total": "1000.0"})
    out = pipe.run(spark)
    return out.groupBy("status", "is_error").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("okey").cast("long").alias("key_sum"),
        F.round(F.sum("total"), 2).alias("total_sum"),
    )
