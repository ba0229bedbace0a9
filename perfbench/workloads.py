"""The benchmark's workloads: which registry keys each one runs, on which
fixture, and why it was chosen (README.md has the measured sizes)."""

from __future__ import annotations

import os
from dataclasses import dataclass

from tools.make_sf1 import SRC

# The repository's test data: make_sf1 tiles sf0.1 from this directory, and
# the smaller scale factors sit beside it.
SMOKE = "sf0.001"
FIXTURES = {name: os.path.join(os.path.dirname(SRC), name) for name in (SMOKE, "sf0.01")}


@dataclass(frozen=True)
class Workload:
    name: str
    fixture: str
    keys: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "relational_sf0.01",
            "sf0.01",
            (
                "q_tpch_q1", "q_tpch_q5", "q_join_asof", "q_win_rownum",
                "q_events_sessionize",
            ),
            "short operator keys: the fixed per-query cost (construction, "
            "py4j, planning, job scheduling) is most of each key",
        ),
        Workload(
            "xml_ingest_sf0.01",
            "sf0.01",
            (
                "q_xml_parse_struct", "q_pipeline_xml_etl",
                "q_stream_tumbling", "q_udf_pandas",
            ),
            "XML parse, a file-to-file ETL plan that writes and re-reads XML, "
            "an event-time window and a pandas UDF over 60k rows",
        ),
    )
}
