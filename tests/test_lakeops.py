"""Lake-maintenance operator properties the oracle can't see
(bloom selectivity, MG superset guarantee, incremental≡full)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_MID, SF_SMALL, run_isolated
from tests.test_plans import explain


def test_bloom_filter_actually_prunes(spark, queries):
    """The bitmap probe must pass every true match (no false negatives —
    guaranteed by construction) while rejecting most non-matching rows;
    at ~1.5k keys in 16384 bits / 4 hashes the fpp is a few percent."""
    from xml_processor_spark.io import table
    from xml_processor_spark.operators.lakeops import (
        _BLOOM_BITS, _BLOOM_K, q_join_bloom,
    )

    li = table(spark, SF_MID, "lineitem")
    urgent = (
        table(spark, SF_MID, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    total = li.count()
    true_matches = li.join(
        urgent, li["l_orderkey"] == urgent["o_orderkey"], "left_semi"
    ).count()

    # Reconstruct the pruned-row count via the registered query's own
    # aggregate output (sum of per-flag counts == exact match count).
    agg = q_join_bloom(spark, SF_MID).agg(F.sum("n_lines")).collect()[0][0]
    assert agg == true_matches  # exactness: semi join removed all fps

    # Selectivity of the probe alone: rebuild the filter by running the
    # query body up to the bloom stage — cheaper to just assert the
    # arithmetic bound: candidates ≤ matches + fpp * (total - matches).
    n_keys = urgent.count()
    fpp = (1 - 2.718281828 ** (-_BLOOM_K * n_keys / _BLOOM_BITS)) ** _BLOOM_K
    assert fpp < 0.10, f"bitmap sized wrong for {n_keys} keys (fpp={fpp:.3f})"


def test_bloom_plan_filters_before_semi_join(spark, queries):
    """The probe must be a scan-side Filter under the semi join (prune
    before shuffle), and the join must stay a hash semi join."""
    plan = explain(queries["q_join_bloom"](spark, SF_MID))
    assert "xxhash64" in plan  # probe filter present
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_heavy_hitters_equals_exact_topk(spark, queries):
    """Pass-2 recount must reproduce the exact groupBy top-k (the MG
    candidate union is a guaranteed superset at this cap/skew)."""
    from xml_processor_spark.io import table

    for sf in (SF_SMALL, SF_MID):
        exact = (
            table(spark, sf, "documents")
            .select(F.explode(F.split("text", " ")).alias("term"))
            .filter(F.col("term") != "")
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "term")
            .limit(20)
            .collect()
        )
        got = queries["q_heavy_hitters"](spark, sf).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in exact]


def test_heavy_hitters_mg_superset_guarantee():
    """Unit-level MG property: any term with frequency > n/cap survives
    the summary, whatever the arrival order interleaving."""
    import pandas as pd

    from xml_processor_spark.functions.sketches import _MG_CAP, _mg_summaries

    stream = (["hot"] * 500) + [f"rare_{i}" for i in range(5000)]
    out = list(_mg_summaries(iter([pd.DataFrame({"term": stream})])))[0]
    assert "hot" in set(out["term"])  # 500 > 5500/400


def test_incremental_merge_equals_full_recompute(spark, queries):
    """The merged (base ⊎ delta) partials must equal one full aggregate —
    algebraic mergeability of (count, exact-cents sum)."""
    from xml_processor_spark.io import table

    full = (
        table(spark, SF_MID, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                .cast("double") / 1e2
            ).alias("total"),
        )
    )
    merged = queries["q_incremental_agg"](spark, SF_MID)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_ohlc_partial_aggregation(spark, queries):
    """OHLC must be one partial+final hash-agg pair (map-side combine) —
    no window, no extra shuffle."""
    import re

    plan = explain(queries["q_resample_ohlc"](spark, SF_MID))
    assert "partial_min_by" in plan  # map-side combine of the open/close
    assert "Window" not in plan
    # formatted explain names each node twice (tree + detail section);
    # count distinct Exchange node ids instead of raw substring hits
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_zonemap_manifest_is_shard_sized(spark, queries):
    """The manifest must have one row per ship-month shard, and the skip
    flag must be consistent with the stats it summarizes."""
    rows = queries["q_zonemap"](spark, SF_MID).collect()
    assert 1 < len(rows) < 200
    for r in rows:
        assert r["min_ts"] <= r["max_ts"]
        assert r["n_rows"] > 0
    assert any(r["skippable"] for r in rows)
    assert any(not r["skippable"] for r in rows)


def test_dpp_prunes_fact_partitions(spark, queries):
    """The fact scan must carry a dynamic-pruning subquery on the
    partition column (runtime partition pruning from the dim side)."""
    plan = explain(queries["q_join_dpp"](spark, SF_MID))
    assert "dynamicpruning" in plan.lower()
    assert "PartitionFilters" in plan


def test_dpp_layout_is_rewritten_by_a_new_session(tmp_path):
    """q_join_dpp writes its partitioned layout once per session, under the
    session's scratch root. A fixture rebuilt in place between two sessions
    (as tools/make_sf1.py does) is read fresh by the second session: its
    result equals the key's DuckDB oracle on the rebuilt fixture. sf0.01,
    because at sf0.001 no status reaches the key's 1,000-order dim filter
    and the result is empty whatever the layout holds."""
    import os
    import shutil

    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from xml_processor_spark.registry import get_oracles

    sf = tmp_path / "sf"
    sf.mkdir()
    orders = str(sf / "orders.parquet")
    shutil.copy(os.path.join(SF_MID, "orders.parquet"), orders)
    prog = f"""
import json
from xml_processor_spark.registry import get_queries
from xml_processor_spark.session import build_session
spark = build_session("dpp", shuffle_partitions=8)
rows = get_queries()["q_join_dpp"](spark, {str(sf)!r}).collect()
spark.stop()
print(json.dumps(sorted(list(r) for r in rows)))
"""
    first = run_isolated(prog, tmp_path)
    t = pq.read_table(orders)
    pq.write_table(t.filter(pc.equal(pc.bit_wise_and(t["o_orderkey"], 1), 0)),
                   orders)
    second = run_isolated(prog, tmp_path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders}')")
    want = sorted(list(r) for r in con.execute(get_oracles()["q_join_dpp"]).fetchall())
    assert len(want) == 3 and second != first
    assert second == want


def test_compact_exec_one_file_per_bin(spark, queries):
    """The compaction executor's physical claim: after the rewrite,
    every target_file directory holds exactly ONE data file (the
    repartition-on-bin + partitionBy write), the bin count matches the
    planner's target, and no rows are lost vs the source fact table."""
    import glob
    import os

    out = queries["E-COMPACT-EXEC"](spark, SF_SMALL)
    rows = out.collect()
    from xml_processor_spark.operators.lakeops import _COMPACT_BINS
    assert len(rows) == _COMPACT_BINS
    from xml_processor_spark.io import table
    assert sum(r.n_rows for r in rows) == table(
        spark, SF_SMALL, "lineitem"
    ).count()
    # Bins are contiguous, non-overlapping month ranges in bin order.
    ordered = sorted(rows, key=lambda r: r.target_file)
    for a, b in zip(ordered, ordered[1:]):
        assert a.shard_max <= b.shard_min
    # Physical layout: the executor writes to one fixed path in the
    # session's scratch root (no mtime-glob races, nothing outlives the
    # session).
    from xml_processor_spark.io import scratch_dir
    newest = scratch_dir(spark, "compacted")
    assert os.path.isdir(newest), "no compacted output directory found"
    bin_dirs = glob.glob(os.path.join(newest, "target_file=*"))
    assert len(bin_dirs) == _COMPACT_BINS
    for d in bin_dirs:
        files = [f for f in glob.glob(os.path.join(d, "*.parquet"))]
        assert len(files) == 1, f"{d} has {len(files)} data files"
