"""Joins (SURVEY §2.C) — equi, outer, semi/anti, cross, theta, range, as-of.

The reference has no join operator (CDAP pipelines do lookups via joiner
plugins outside this repo [P]); these are the CORE relational layer that
makes "query capabilities" real. Physical strategy is Catalyst's call:
small dims broadcast automatically, `q_join_broadcast` pins the hint, the
theta join keeps an equi prefix so it plans as a hash/SMJ with a residual
filter instead of a nested loop, and AQE splits skewed shuffle partitions.

Determinism: outer-join null rows are projected through coalesce-free
columns (nulls compare equal in both engines); as-of picks a unique winner
via (ts DESC, event_id DESC) tie-break.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from xml_processor_spark.functions.deterministic import dsum, ts_sec
from xml_processor_spark.io import scratch_dir, table
from xml_processor_spark.registry import register

_INNER_SQL = """
    SELECT o.o_orderkey, o.o_totalprice, c.c_custkey, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""


@register("q_join_inner", oracle=_INNER_SQL, doc="Equi inner orders ⋈ customer.")
def q_join_inner(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q_join_broadcast",
    oracle=_INNER_SQL,
    doc="Same semantics as q_join_inner with an explicit broadcast hint — "
        "the shuffle-free plan for fact ⋈ small-dim at 100 TB.",
)
def q_join_broadcast(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q_join_multikey",
    oracle="""
        SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
        FROM lineitem l
        JOIN orders o
          ON l.l_orderkey = o.o_orderkey AND l.l_linestatus = o.o_orderstatus
    """,
    doc="Two-key equi join (orderkey + status).",
)
def q_join_multikey(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return li.join(
        o,
        (li.l_orderkey == o.o_orderkey) & (li.l_linestatus == o.o_orderstatus),
    ).select("l_orderkey", "l_linenumber", "l_quantity", "o_totalprice")


@register(
    "q_join_left",
    oracle="""
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_totalprice > 200000
    """,
    doc="Left outer with an ON-clause filter on the right side (null rows "
        "for customers whose orders all miss the predicate).",
)
def q_join_left(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_totalprice > 200000), "left"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@register(
    "q_join_right",
    oracle="""
        SELECT o.o_orderkey, o.o_orderstatus, c.c_custkey, c.c_acctbal
        FROM orders o RIGHT JOIN customer c
          ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
    """,
    doc="Right outer join.",
)
def q_join_right(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return o.join(
        c, (o.o_custkey == c.c_custkey) & (o.o_orderstatus == "P"), "right"
    ).select("o_orderkey", "o_orderstatus", "c_custkey", "c_acctbal")


@register(
    "q_join_full",
    oracle="""
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        FROM customer c FULL JOIN orders o
          ON c.c_custkey = o.o_custkey AND c.c_acctbal > 5000 AND o.o_totalprice > 150000
    """,
    doc="Full outer join with both-sided ON predicates (nulls both ways).",
)
def q_join_full(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(
        o,
        (c.c_custkey == o.o_custkey)
        & (c.c_acctbal > 5000)
        & (o.o_totalprice > 150000),
        "full",
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@register(
    "q_join_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    doc="Left-semi: customers having at least one F order.",
)
def q_join_semi(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    doc="Left-anti: customers with no F order.",
)
def q_join_anti(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_join_cross",
    oracle="""
        SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
    doc="Cartesian product region × nation (125 rows).",
)
def q_join_cross(spark, sf_dir):
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "q_join_theta",
    oracle="""
        SELECT c.c_custkey, s.s_suppkey, c.c_acctbal, s.s_acctbal
        FROM customer c JOIN supplier s
          ON c.c_nationkey = s.s_nationkey AND c.c_acctbal > s.s_acctbal
    """,
    doc="Theta join, scale-shaped (VERDICT r5 #6): the equi component "
        "(nationkey) is THE join key — hash/SMJ partitioning — and the "
        "theta predicate (acctbal >) is a post-join filter that Catalyst "
        "folds into the join as a residual condition. Identical semantics "
        "to a raw theta ON, but never a nested loop.",
)
def q_join_theta(spark, sf_dir):
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    return (
        c.join(s, c.c_nationkey == s.s_nationkey)
        .filter(c.c_acctbal > s.s_acctbal)
        .select("c_custkey", "s_suppkey", "c_acctbal", "s_acctbal")
    )


@register(
    "q_join_range",
    oracle="""
        SELECT a.event_id AS signup_id, b.event_id AS follow_id,
               date_trunc('second', a.ts) AS signup_ts,
               date_trunc('second', b.ts) AS follow_ts, b.event_type AS follow_type
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'signup'
         AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 1 HOUR
         AND b.event_id <> a.event_id
    """,
    doc="Interval join: every event within 1 hour after a signup by the "
        "same user (equi key bounds the range search; AQE handles skew).",
)
def q_join_range(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("a_ts"),
    )
    b = ev.select(
        F.col("event_id").alias("follow_id"),
        F.col("user_id").alias("b_user"),
        F.col("ts").alias("b_ts"),
        F.col("event_type").alias("follow_type"),
    )
    return (
        a.join(
            b,
            (F.col("a_user") == F.col("b_user"))
            & (F.col("b_ts") >= F.col("a_ts"))
            & (F.col("b_ts") < F.col("a_ts") + F.expr("INTERVAL 1 HOUR"))
            & (F.col("follow_id") != F.col("signup_id")),
        )
        .select(
            "signup_id",
            "follow_id",
            ts_sec("a_ts").alias("signup_ts"),
            ts_sec("b_ts").alias("follow_ts"),
            "follow_type",
        )
    )


@register(
    "q_join_asof",
    oracle="""
        SELECT purchase_id, purchase_ts, user_id, view_id, view_ts
        FROM (
            SELECT p.event_id AS purchase_id,
                   date_trunc('second', p.ts) AS purchase_ts,
                   p.user_id AS user_id,
                   v.event_id AS view_id,
                   date_trunc('second', v.ts) AS view_ts,
                   row_number() OVER (PARTITION BY p.event_id
                                      ORDER BY v.ts DESC, v.event_id DESC) AS rn
            FROM events p JOIN events v
              ON p.user_id = v.user_id
             AND p.event_type = 'purchase' AND v.event_type = 'view'
             AND v.ts <= p.ts
        ) WHERE rn = 1
    """,
    doc="As-of join: latest view at-or-before each purchase per user. "
        "Window formulation (identical on both sides) controls ties; at "
        "scale the same plan partitions by the probe key once.",
)
def q_join_asof(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("user_id").alias("user_id"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
        F.col("user_id").alias("v_user"),
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("v_ts").desc(), F.col("view_id").desc()
    )
    return (
        p.join(v, (F.col("user_id") == F.col("v_user")) & (F.col("v_ts") <= F.col("p_ts")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            ts_sec("p_ts").alias("purchase_ts"),
            "user_id",
            "view_id",
            ts_sec("v_ts").alias("view_ts"),
        )
    )


@register(
    "q_join_asof_forward",
    oracle="""
        SELECT view_id, view_ts, user_id, purchase_id, purchase_ts
        FROM (
            SELECT v.event_id AS view_id,
                   date_trunc('second', v.ts) AS view_ts,
                   v.user_id AS user_id,
                   p.event_id AS purchase_id,
                   date_trunc('second', p.ts) AS purchase_ts,
                   row_number() OVER (PARTITION BY v.event_id
                                      ORDER BY p.ts, p.event_id) AS rn
            FROM events v JOIN events p
              ON v.user_id = p.user_id
             AND v.event_type = 'view' AND p.event_type = 'purchase'
             AND p.ts >= v.ts
        ) WHERE rn = 1
    """,
    doc="FORWARD as-of join — q_join_asof's time-mirror: the EARLIEST "
        "purchase at-or-after each view per user (next-fill-after-order "
        "in market-data terms; did-this-view-convert in clickstream "
        "terms). Same window formulation with the ascending (ts, "
        "event_id) order controlling ties; views with no later purchase "
        "drop (inner semantics, matching the backward key). At scale "
        "the plan partitions once by the probe key, identical to the "
        "backward variant.",
)
def q_join_asof_forward(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
        F.col("user_id").alias("user_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("user_id").alias("p_user"),
    )
    w = Window.partitionBy("view_id").orderBy("p_ts", "purchase_id")
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("v_ts")),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "view_id",
            ts_sec("v_ts").alias("view_ts"),
            "user_id",
            "purchase_id",
            ts_sec("p_ts").alias("purchase_ts"),
        )
    )


_SALT_N = 8

_SALTED_SQL = """
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST((l.l_extendedprice) AS DECIMAL(30,4))) AS DOUBLE)
               AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
"""


@register(
    "q_join_salted",
    oracle=_SALTED_SQL,
    doc="Skew-resilient salted join — the manual mitigation for a stable "
        "pathological key distribution (AQE's skewJoin splits skewed "
        "shuffle partitions at runtime; salting is the plan-level fix when "
        "one key alone exceeds an executor). Fact side (lineitem) gets a "
        "deterministic salt = pmod(xxhash64(key), 8); dim side (orders) is "
        "replicated across all 8 salt values with explode(sequence); the "
        "join key becomes (key, salt), spreading any hot key over 8 "
        "shuffle partitions. hint('merge') pins the sort-merge path the "
        "salt exists for (broadcast would bypass the shuffle locally and "
        "hide the demonstration). Identical result to the unsalted join — "
        "the oracle IS the plain join — at 8x dim replication cost, paid "
        "only on the small side.",
)
def q_join_salted(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    lf = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey"), F.lit(_SALT_N)).cast("int")
    )
    rep = o.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT_N - 1)))
    )
    j = lf.hint("merge").join(
        rep,
        (lf.l_orderkey == rep.o_orderkey) & (lf.salt == rep.salt),
        "inner",
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_extendedprice").alias("revenue"),
    )


_BUCKETS = 8


@register(
    "q_join_bucketed",
    oracle="""
        SELECT o.o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST((l.l_extendedprice) AS DECIMAL(30,4))) AS DOUBLE)
                   AS revenue
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
    """,
    doc="Shuffle-free co-located join via bucketed tables — the storage-"
        "level answer to a join both of whose sides are too big to "
        "broadcast: both sides are written bucketBy(8, join-key) + sortBy "
        "(a one-time cost amortized over every subsequent join/agg on that "
        "key), so the sort-merge join reads pre-partitioned, pre-sorted "
        "buckets with NO Exchange in the plan (asserted in "
        "tests/test_plans.py). At 100 TB this is the difference between "
        "re-shuffling the fact table per query and never shuffling it; "
        "result identical to the plain join — the oracle is the plain "
        "join. Bucket tables are created once per (session, sf) as "
        "external tables under the session's scratch root, and reused.",
)
def q_join_bucketed(spark, sf_dir):
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]

    def _bucketize(name: str, src, key: str) -> str:
        tbl = f"b_{name}_{tag}"
        if not spark.catalog.tableExists(tbl):
            src.write.bucketBy(_BUCKETS, key).sortBy(key).mode(
                "overwrite"
            ).option("path", scratch_dir(spark, tbl)).saveAsTable(tbl)
        return tbl

    lt = _bucketize(
        "lineitem",
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        "l_orderkey",
    )
    ot = _bucketize(
        "orders",
        table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        "o_orderkey",
    )
    li, o = spark.table(lt), spark.table(ot)
    # hint('merge'): at test scale Catalyst would broadcast the small side,
    # hiding exactly the plan bucketing exists for; at 100 TB neither side
    # broadcasts and SMJ-over-buckets is what the optimizer picks unaided.
    j = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey, "inner")
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum("l_extendedprice").alias("revenue"),
    )


@register(
    "q_join_nullsafe",
    oracle="""
        WITH a AS (
            SELECT c_custkey, NULLIF(c_nationkey, 7) AS k FROM customer
        ), b AS (
            SELECT s_suppkey, NULLIF(s_nationkey, 7) AS k FROM supplier
        )
        SELECT COALESCE(CAST(a.k AS VARCHAR), '<null>') AS key_label,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        GROUP BY 1
    """,
    doc="Null-safe equi join (<=> / IS NOT DISTINCT FROM): nation keys "
        "with value 7 are nulled on both sides, and the null-safe "
        "predicate matches NULL with NULL — the semantics ETL key "
        "reconciliation needs when 'unknown' must bucket with 'unknown'. "
        "Spark plans EqualNullSafe as a HASH join key (coalesce-bucketed "
        "internally), not a nested loop — same single-shuffle shape as a "
        "plain equi join, so NULL handling costs nothing at scale.",
)
def q_join_nullsafe(spark, sf_dir):
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey"), F.lit(7)).alias("ka")
    )
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.nullif(F.col("s_nationkey"), F.lit(7)).alias("kb")
    )
    return (
        c.join(s, F.col("ka").eqNullSafe(F.col("kb")))
        .groupBy(
            F.coalesce(F.col("ka").cast("string"), F.lit("<null>"))
            .alias("key_label")
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "q_join_fuzzy",
    oracle="""
        SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
               a.s_name AS name_a, b.s_name AS name_b,
               CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
        FROM supplier a JOIN supplier b
          ON a.s_suppkey < b.s_suppkey
         AND levenshtein(a.s_name, b.s_name) <= 1
    """,
    doc="Fuzzy self-join (entity resolution): all supplier-name pairs "
        "within edit distance 1, via SymSpell-style deletion-neighborhood "
        "blocking — each name emits itself plus every single-character "
        "deletion; two strings within distance 1 ALWAYS share a variant "
        "(equal → self/self; substitution → same-position deletions; "
        "insert/delete → deletion/self), so an equi join on the variant is "
        "a provably complete candidate generator and the exact "
        "levenshtein rescore keeps only true pairs. Scale shape: "
        "|name|+1 variants per row, shuffle blocked on variant value — "
        "never the O(n²) levenshtein theta join the oracle runs (fine at "
        "sf0.01, impossible at 100 TB). The length-pruned rescore is "
        "the standard entity-resolution candidate/verify split.",
)
def q_join_fuzzy(spark, sf_dir):
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    variants = F.concat(
        F.array(F.col("s_name")),  # self (covers equal + insert/delete)
        F.expr(
            "transform(sequence(1, length(s_name)), i -> "
            "concat(substring(s_name, 1, i - 1), "
            "substring(s_name, i + 1, length(s_name))))"
        ),
    )
    v = s.select(
        "s_suppkey", "s_name", F.explode(variants).alias("variant")
    )
    a, b = v.alias("a"), v.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.variant") == F.col("b.variant"))
            & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
        )
        .groupBy(
            F.col("a.s_suppkey").alias("key_a"),
            F.col("b.s_suppkey").alias("key_b"),
        )
        .agg(
            F.first(F.col("a.s_name")).alias("name_a"),
            F.first(F.col("b.s_name")).alias("name_b"),
        )
    )
    return cand.where(
        F.levenshtein("name_a", "name_b") <= 1
    ).select(
        "key_a", "key_b", "name_a", "name_b",
        F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
    )


_ASOF_TOL_US = 2 * 3600 * 1_000_000  # 2-hour backward tolerance, micros


@register(
    "q_join_asof_tolerance",
    oracle=f"""
        WITH p AS (
            SELECT event_id AS purchase_id,
                   date_trunc('second', ts) AS purchase_ts,
                   epoch_us(ts) AS p_us, user_id
            FROM events WHERE event_type = 'purchase'
        ), best AS (
            SELECT purchase_id, view_id, view_ts
            FROM (
                SELECT p.purchase_id,
                       v.event_id AS view_id,
                       date_trunc('second', v.ts) AS view_ts,
                       row_number() OVER (PARTITION BY p.purchase_id
                                          ORDER BY v.ts DESC,
                                                   v.event_id DESC) AS rn
                FROM p JOIN events v
                  ON v.user_id = p.user_id
                 AND v.event_type = 'view'
                 AND epoch_us(v.ts) <= p.p_us
                 AND epoch_us(v.ts) > p.p_us - {_ASOF_TOL_US}
            ) WHERE rn = 1
        )
        SELECT p.purchase_id, p.purchase_ts, p.user_id,
               b.view_id, b.view_ts
        FROM p LEFT JOIN best b ON b.purchase_id = p.purchase_id
    """,
    doc="As-of join WITH TOLERANCE (pandas merge_asof semantics): latest "
        "view at-or-before each purchase, but only within a 2-hour "
        "lookback — and LEFT: purchases with no view in the window keep "
        "a NULL match instead of vanishing (the difference between "
        "'attribute to the most recent touch' and 'attribute to a "
        "RECENT touch, else organic' — the attribution-correct form). "
        "Tolerance compares exact integer microseconds. Scale shape "
        "matches q_join_asof — the pair search is equi-keyed on "
        "user_id and the tolerance bound CUTS the per-key fan-out from "
        "all-history to the window (strictly cheaper); the winner is "
        "picked by one per-purchase window, the left join back is "
        "keyed on purchase_id.",
)
def q_join_asof_tolerance(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.unix_micros("ts").alias("p_us"),
        F.col("user_id").alias("user_id"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"),
        F.unix_micros("ts").alias("v_us"),
        F.col("user_id").alias("v_user"),
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("v_ts").desc(), F.col("view_id").desc()
    )
    best = (
        p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_us") <= F.col("p_us"))
            & (F.col("v_us") > F.col("p_us") - _ASOF_TOL_US),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("purchase_id").alias("b_purchase_id"),
            "view_id",
            ts_sec("v_ts").alias("view_ts"),
        )
    )
    return (
        p.join(best, p.purchase_id == best.b_purchase_id, "left")
        .select(
            "purchase_id",
            ts_sec("p_ts").alias("purchase_ts"),
            "user_id",
            "view_id",
            "view_ts",
        )
    )
