"""xml_processor_spark — a PySpark-native analytics engine.

Re-expresses the capabilities of the CDAP ``data-integrations/xml-processor``
plugin family (XMLReader batch source, XMLParser transform, XMLToJSON
transform — see SURVEY.md §0.1) as an idiomatic Spark DataFrame engine, and
extends it with the relational + LLM-data-pipeline operator set mandated by
BASELINE.json.

Design stance (SURVEY §3-§4): declare logical plans with the DataFrame/SQL
API, let Catalyst/Tungsten/AQE pick the physical strategy; native
``pyspark.sql.functions`` on every hot path; Arrow-vectorized pandas UDFs only
where built-ins can't express the semantics; no driver-side loops over data.
"""

from __future__ import annotations

from xml_processor_spark.registry import REGISTRY, get_oracles, get_queries, load_all

__all__ = ["REGISTRY", "get_queries", "get_oracles", "load_all"]
