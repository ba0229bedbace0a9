"""Lakehouse maintenance / scan-acceleration operators (SURVEY §2.L ext.).

Four patterns every 100 TB lake deployment runs constantly, expressed
Spark-first and oracle-checked:

- **Bloom-pruned semi join** (`q_join_bloom`): the explicit form of the
  runtime-filter optimization (Spark's
  ``spark.sql.optimizer.runtime.bloomFilter.enabled`` does the same thing
  inside AQE). A compact bitmap built from the dimension keys is broadcast
  and applied as a scan-side filter on the fact table *before* the shuffle,
  so the join only moves rows that can match. False positives are removed
  by the real semi join, so the result is exactly the plain semi join —
  which is the oracle.
- **Zone-map manifest** (`q_zonemap`): per-shard min/max/count statistics
  over the natural time-partitioning key — the parquet-footer /
  lake-manifest data-skipping pattern, plus the skip decision itself for a
  concrete predicate window (a shard is skippable iff its [min, max] range
  misses the window).
- **Incremental aggregate merge** (`q_incremental_agg`): partial aggregates
  computed independently over a base slice and a delta slice, merged by
  re-aggregation — the algebraic (count, sum) mergeability every
  incremental/streaming rollup relies on. The merged result must equal a
  full recompute, which is the oracle.
- **OHLC resample** (`q_resample_ohlc`): per (type, hour) candlestick —
  open/close via ``min_by``/``max_by`` on a collision-free composite order
  key (µs offset since epoch-of-corpus × 1e6 + event_id), high/low/volume
  as plain aggregates. One shuffle on the group keys.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from xml_processor_spark.functions.deterministic import cents, ts_sec
from xml_processor_spark.io import scratch_dir, table
from xml_processor_spark.registry import register

# --- q_join_bloom ----------------------------------------------------------

_BLOOM_BITS = 16_384  # m: bitmap size (256 longs — broadcast-trivial)
_BLOOM_LONGS = _BLOOM_BITS // 64
_BLOOM_K = 4  # hash functions; n≈1.5k urgent keys → fpp ≈ (1-e^-kn/m)^k ≈ 4%


def _bloom_positions(key):
    """k bit positions for a key: xxhash64 with k distinct salt columns."""
    return [
        F.pmod(F.xxhash64(key, F.lit(s)), F.lit(_BLOOM_BITS))
        for s in range(_BLOOM_K)
    ]


@register(
    "q_join_bloom",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                    AS DOUBLE) / 1e4 AS revenue
        FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_orderpriority = '1-URGENT')
        GROUP BY l_returnflag
    """,
    origin="CORE",
    doc="Bloom-pruned semi join: a 16384-bit / 4-hash bitmap over the "
        "urgent order keys is built with one map-side-combined bit_or "
        "aggregate (256-row result), broadcast back as a literal, and "
        "applied as a scan-side filter on lineitem BEFORE the shuffle — "
        "only possibly-matching rows move. The genuine left-semi join then "
        "removes the ~4% false positives, so the result is exactly the "
        "plain semi join (the oracle). At 100 TB this is the difference "
        "between shuffling the whole fact table and shuffling the ~1/5 "
        "that can match; Spark's own runtime bloom filter does the same "
        "rewrite inside AQE — here it is explicit and testable.",
)
def q_join_bloom(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    urgent = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )

    # Build: key → k bit positions → (chunk, mask) → bit_or per chunk.
    # The aggregate is map-side combined; the result is ≤256 rows — the
    # bounded collect is the broadcast-build step, same as Spark's own
    # BloomFilterAggregate, not a data-plane collect.
    chunks = (
        urgent.select(
            F.explode(F.array(*_bloom_positions(F.col("o_orderkey")))).alias("p")
        )
        .select(
            (F.col("p") / 64).cast("int").alias("c"),
            # PySpark's shiftleft() only takes a literal shift count —
            # the SQL form accepts a column expression.
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("m"),
        )
        .groupBy("c")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    bitmap = [0] * _BLOOM_LONGS
    for row in chunks:
        bitmap[row["c"]] = row["bits"]
    bitmap_sql = "array(" + ", ".join(f"{b}L" for b in bitmap) + ")"

    # Probe: all k bits set ⇒ candidate. Scan-side, no shuffle.
    tests = []
    for s in range(_BLOOM_K):
        p = f"pmod(xxhash64(l_orderkey, {s}), {_BLOOM_BITS})"
        tests.append(
            f"(shiftright(element_at({bitmap_sql}, "
            f"CAST(({p}) / 64 AS INT) + 1), CAST(({p}) % 64 AS INT)) & 1) = 1"
        )
    pruned = li.filter(F.expr(" AND ".join(tests)))
    exact = pruned.join(
        urgent, pruned["l_orderkey"] == urgent["o_orderkey"], "left_semi"
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        (
            F.sum(cents("l_extendedprice") * (100 - cents("l_discount")))
            .cast("double") / 1e4
        ).alias("revenue"),
    )


# --- q_zonemap -------------------------------------------------------------

_ZONE_LO = "1996-04-01"
_ZONE_HI = "1996-07-01"


@register(
    "q_zonemap",
    oracle=f"""
        SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT)
                   AS shard,
               CAST(count(*) AS BIGINT) AS n_rows,
               date_trunc('second', min(l_shipdate)) AS min_ts,
               date_trunc('second', max(l_shipdate)) AS max_ts,
               CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS min_price_cents,
               CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS max_price_cents,
               NOT (max(l_shipdate) >= TIMESTAMP '{_ZONE_LO}'
                    AND min(l_shipdate) < TIMESTAMP '{_ZONE_HI}')
                   AS skippable
        FROM lineitem
        GROUP BY CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INT)
        ORDER BY shard
    """,
    origin="CORE",
    doc="Zone-map / data-skipping manifest: per time-shard (ship month) "
        "min/max/count statistics — the parquet-footer & lake-manifest "
        "pattern that lets a reader prune shards without opening them — "
        "plus the skip decision for a concrete quarter window (skippable "
        "iff [min, max] misses [lo, hi)). One map-side-combined aggregate; "
        "the manifest is |shards| rows regardless of fact size, which is "
        "what makes footer-stats pruning free at 100 TB.",
)
def q_zonemap(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    sd = F.col("l_shipdate")
    return (
        li.groupBy(
            (F.year(sd) * 100 + F.month(sd)).cast("int").alias("shard")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            ts_sec(F.min(sd)).alias("min_ts"),
            ts_sec(F.max(sd)).alias("max_ts"),
            F.min(cents("l_extendedprice")).alias("min_price_cents"),
            F.max(cents("l_extendedprice")).alias("max_price_cents"),
            (
                ~(
                    (F.max(sd) >= F.lit(_ZONE_LO).cast("timestamp"))
                    & (F.min(sd) < F.lit(_ZONE_HI).cast("timestamp"))
                )
            ).alias("skippable"),
        )
        .orderBy("shard")
    )


# --- q_incremental_agg -----------------------------------------------------

_SPLIT = "2024-01-20"


@register(
    "q_incremental_agg",
    oracle="""
        SELECT event_type,
               date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   / 1e2 AS total
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    """,
    origin="CORE",
    doc="Incremental aggregate merge: (count, cents-sum) partials computed "
        "independently over the base slice (ts < split) and the delta "
        "slice (ts >= split), then merged by re-aggregation — the "
        "algebraic mergeability that lets a 100 TB rollup process only "
        "yesterday's partition and fold it into the standing aggregate "
        "instead of rescanning history. The merge result must equal the "
        "full recompute, which is exactly what the oracle computes.",
)
def q_incremental_agg(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    split = F.lit(_SPLIT).cast("timestamp")

    def partial(df):
        return df.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        ).agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(cents("value")).alias("pcents"),
        )

    base = partial(ev.filter(F.col("ts") < split))
    delta = partial(ev.filter(F.col("ts") >= split))
    return (
        base.unionAll(delta)
        .groupBy("event_type", "h")
        .agg(
            F.sum("pn").alias("n"),
            (F.sum("pcents").cast("double") / 1e2).alias("total"),
        )
    )


# --- q_resample_ohlc -------------------------------------------------------

# Collision-free total-order key for open/close: µs offset within the
# corpus epoch (≤ ~2.6e12 for a month) × 1e6 + event_id (unique) — fits
# int64 with headroom, identical arithmetic in both dialects.
_OKEY_SPARK = None  # built inline (needs F)
_OKEY_SQL = (
    "(epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01')) * 1000000 + event_id"
)


@register(
    "q_resample_ohlc",
    oracle=f"""
        SELECT event_type,
               date_trunc('hour', ts) AS h,
               arg_min(value, {_OKEY_SQL}) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, {_OKEY_SQL}) AS close,
               CAST(count(*) AS BIGINT) AS volume,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   / 1e2 AS total
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    """,
    origin="CORE",
    doc="OHLC time-series resample: per (event_type, hour) candlestick — "
        "open/close via min_by/max_by on a collision-free composite order "
        "key (µs offset × 1e6 + unique event_id; arg_min/arg_max on the "
        "oracle side), high/low/volume/exact-cents total as plain "
        "aggregates. Single shuffle on the group keys, all partials "
        "map-side combined — the downsampling shape every metrics store "
        "runs continuously.",
)
def q_resample_ohlc(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    okey = (
        F.unix_micros(F.col("ts"))
        - F.unix_micros(F.lit("2024-01-01").cast("timestamp"))
    ) * 1_000_000 + F.col("event_id")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.min_by("value", okey).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", okey).alias("close"),
        F.count(F.lit(1)).alias("volume"),
        (F.sum(cents("value")).cast("double") / 1e2).alias("total"),
    )


# --- q_join_dpp ------------------------------------------------------------


@register(
    "q_join_dpp",
    oracle="""
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS DOUBLE) / 1e2 AS total
        FROM orders
        JOIN (SELECT o_orderstatus AS st FROM orders
              GROUP BY o_orderstatus HAVING count(*) >= 1000) dim
             ON o_orderstatus = dim.st
        GROUP BY o_orderstatus
    """,
    origin="CORE",
    doc="Dynamic partition pruning: the fact table is laid out partitioned "
        "by o_orderstatus (the 100 TB layout E-SINK-PQ writes), the dim "
        "side keeps only statuses with >= 1000 orders, and Catalyst "
        "injects a dynamicpruning#NNN subquery into the fact SCAN — "
        "partitions for excluded statuses are never read, decided at run "
        "time from the dim side's values. The dim predicate is an "
        "AGGREGATE (HAVING) deliberately: a plain filter on the join "
        "column would be statically inferred onto the scan "
        "(InferFiltersFromConstraints) and never exercise DPP — probed: "
        "the <> 'P' form produced a static PartitionFilter, no pruning "
        "subquery. The partitioned layout is written once per (session, "
        "sf) scratch dir and reused; tests/test_lakeops.py asserts "
        "the pruning subquery is present. DPP is THE mechanism that makes "
        "dim-filtered fact scans cheap on partitioned 100 TB tables.",
)
def q_join_dpp(spark, sf_dir):
    import hashlib
    import os

    o = table(spark, sf_dir, "orders")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = scratch_dir(spark, f"dpp-orders-{tag}")
    # The partitioned layout is written once per session and sf dir: the
    # write is skipped when the layout already exists, so repeated bench
    # runs time the pruned read, not the write. The scratch root dies with
    # the session, so a new session never reads an earlier one's layout.
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        o.write.partitionBy("o_orderstatus").mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        o.groupBy(F.col("o_orderstatus").alias("st"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 1000)
        .select("st")
    )
    return (
        fact.join(F.broadcast(dim), fact["o_orderstatus"] == dim["st"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents("o_totalprice")).cast("double") / 1e2).alias("total"),
        )
    )


# --- Z-order clustering manifest (multi-dimensional data skipping) --------

_Z_BITS = 8  # per-dimension quantization (8 bits -> 16-bit z-value)
_Z_PREFIX_SHIFT = 10  # bucket = top 6 z-bits -> <= 64 files


def _z_interleave(a, b):
    """Bit-interleave two 8-bit columns into a 16-bit Z-value (a odd bits,
    b even bits) with plain shift/mask arithmetic — JVM codegen, and the
    identical expression is generated as SQL for the oracle."""
    z = F.lit(0)
    for i in range(_Z_BITS):
        z = z + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        z = z + F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
    return z


def _z_interleave_sql(a: str, b: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


@register(
    "q_zorder_manifest",
    oracle=f"""
        WITH bounds AS (
            SELECT min(l_orderkey) AS omin, max(l_orderkey) AS omax,
                   min(l_partkey) AS pmin, max(l_partkey) AS pmax
            FROM lineitem
        ), q AS (
            SELECT l_orderkey, l_partkey,
                   CAST(floor((l_orderkey - omin) * 256.0
                              / (omax - omin + 1)) AS BIGINT) AS qo,
                   CAST(floor((l_partkey - pmin) * 256.0
                              / (pmax - pmin + 1)) AS BIGINT) AS qp
            FROM lineitem, bounds
        )
        SELECT ({_z_interleave_sql('qo', 'qp')}) >> {_Z_PREFIX_SHIFT}
                   AS zbucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(l_orderkey) AS min_orderkey, max(l_orderkey) AS max_orderkey,
               min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey
        FROM q GROUP BY 1
    """,
    doc="Z-order clustering manifest — multi-dimensional data skipping "
        "(the OPTIMIZE ZORDER BY of lakehouse table formats): both join "
        "keys quantized to 8 bits against corpus bounds (1-row broadcast), "
        "bit-interleaved into a 16-bit Z-value, grouped by the 6-bit "
        "Z-prefix = target file. The manifest's per-file min/max of BOTH "
        "dimensions stay narrow simultaneously — the property that lets a "
        "scan on EITHER key (or both) skip most files, where a plain sort "
        "clusters only its leading key. At scale the layout write is "
        "repartitionByRange(zval) + sortWithinPartitions(zval) — ranged "
        "shuffle, never a global sort; this query is the resulting "
        "zonemap, one map-side-combined groupBy.",
)
def q_zorder_manifest(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_orderkey").alias("omin"), F.max("l_orderkey").alias("omax"),
        F.min("l_partkey").alias("pmin"), F.max("l_partkey").alias("pmax"),
    )
    q = li.crossJoin(F.broadcast(bounds)).select(
        "l_orderkey",
        "l_partkey",
        F.floor(
            (F.col("l_orderkey") - F.col("omin")) * 256.0
            / (F.col("omax") - F.col("omin") + 1)
        ).alias("qo"),
        F.floor(
            (F.col("l_partkey") - F.col("pmin")) * 256.0
            / (F.col("pmax") - F.col("pmin") + 1)
        ).alias("qp"),
    )
    return (
        q.select(
            "l_orderkey",
            "l_partkey",
            F.shiftright(
                _z_interleave(F.col("qo"), F.col("qp")), _Z_PREFIX_SHIFT
            ).alias("zbucket"),
        )
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_orderkey"),
            F.max("l_orderkey").alias("max_orderkey"),
            F.min("l_partkey").alias("min_partkey"),
            F.max("l_partkey").alias("max_partkey"),
        )
    )


# ---------------------------------------------------------------------------
# Small-file compaction planner (the OPTIMIZE bin-packing half; Z-order is
# the clustering half in q_zorder_manifest).
# ---------------------------------------------------------------------------

_COMPACT_BINS = 8  # target output file count


@register(
    "q_compaction_plan",
    oracle=f"""
        WITH shards AS (
            SELECT strftime(l_shipdate, '%Y-%m') AS shard,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY 1
        ), tot AS (SELECT sum(n_rows) AS t FROM shards),
        planned AS (
            SELECT shard, n_rows,
                   sum(n_rows) OVER (ORDER BY shard
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS cum_before,
                   t
            FROM shards, tot
        )
        SELECT shard, n_rows,
               CAST(floor(coalesce(cum_before, 0)
                          / ceil(t / {_COMPACT_BINS}.0)) AS BIGINT)
                   AS target_file
        FROM planned
    """,
    doc="Small-file compaction planner — the OPTIMIZE bin-packing step of "
        "lake maintenance: per ship-month shard row counts (the manifest "
        "q_zonemap builds) greedily packed in shard order into "
        f"~{_COMPACT_BINS} target files of ceil(total/{_COMPACT_BINS}) "
        "rows each (target_file = floor(exclusive-running-sum / target "
        "size) — sequential first-fit, so time-adjacent shards land in "
        "the same output file and zone maps stay tight after the "
        "rewrite). The plan is pure metadata: the window runs over "
        "|shards| manifest rows (83 here, bounded by calendar months x "
        "partitions at any corpus size), NEVER the fact table — the fact "
        "scan is the one map-side-combined count, and the actual rewrite "
        "is a partitioned write the plan drives. Exact integer row "
        "counts make the greedy assignment engine-independent.",
)
def q_compaction_plan(spark, sf_dir):
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    shards = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("shard")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    tot = shards.agg(F.sum("n_rows").alias("t"))
    w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    planned = shards.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_rows",
        F.sum("n_rows").over(w).alias("cum_before"),
        "t",
    )
    target = F.ceil(F.col("t") / float(_COMPACT_BINS))
    return planned.select(
        "shard",
        "n_rows",
        F.floor(F.coalesce(F.col("cum_before"), F.lit(0)) / target)
        .cast("long")
        .alias("target_file"),
    )


@register(
    "E-COMPACT-EXEC",
    oracle=f"""
        WITH shards AS (
            SELECT strftime(l_shipdate, '%Y-%m') AS shard,
                   CAST(count(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY 1
        ), tot AS (SELECT sum(n_rows) AS t FROM shards),
        planned AS (
            SELECT shard, n_rows,
                   sum(n_rows) OVER (ORDER BY shard
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS cum_before,
                   t
            FROM shards, tot
        ), plan AS (
            SELECT shard,
                   CAST(floor(coalesce(cum_before, 0)
                              / ceil(t / {_COMPACT_BINS}.0)) AS BIGINT)
                       AS target_file
            FROM planned
        )
        SELECT p.target_file,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(p.shard) AS shard_min,
               max(p.shard) AS shard_max
        FROM lineitem l
        JOIN plan p ON strftime(l.l_shipdate, '%Y-%m') = p.shard
        GROUP BY 1
    """,
    origin="LLM",
    doc="Small-file compaction EXECUTOR — the rewrite half of "
        "q_compaction_plan (which stays the pure-metadata planner): join "
        "the bounded (shard → target_file) plan to the fact table on the "
        "ship-month shard key (83-row broadcast), physically rewrite the "
        "data clustered by target file (repartition on target_file + "
        "partitionBy write → ONE file per bin), then re-read the "
        "compacted layout and report per-bin row count and shard "
        "min/max. The oracle replays the identical plan in SQL against "
        "the SOURCE table, so a hash match proves the physical rewrite "
        "dropped/duplicated nothing AND preserved time-adjacency (the "
        "shard_min/max columns are the zone-tightness evidence — "
        "sequential first-fit keeps each bin a contiguous month range). "
        "File-count claims (one data file per bin) are pinned in "
        "tests/test_lakeops.py. Scale shape: one fact shuffle keyed by "
        "the bin id — exactly the shuffle the write needs — and the "
        "plan side is calendar-bounded at any corpus size.",
)
def e_compact_exec(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity",
        F.date_format("l_shipdate", "yyyy-MM").alias("shard"),
    )
    plan = q_compaction_plan(spark, sf_dir).select("shard", "target_file")
    out = scratch_dir(spark, "compacted")
    (
        li.join(F.broadcast(plan), "shard")
        .repartition("target_file")
        .write.mode("overwrite")
        .partitionBy("target_file")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("target_file").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("shard").alias("shard_min"),
        F.max("shard").alias("shard_max"),
    )
