"""Similarity search over embeddings (SURVEY §2.K, BASELINE.json mandate).

Brute-force exact top-k as the correctness baseline (`q_knn_*`), with the
scale path (`E-EMB-PIPE`) as an Arrow-batched embedding pipeline. All vector
math is JVM-side higher-order functions (zip_with/aggregate) in double
precision — DuckDB's list_cosine_similarity computes in float32 (probed:
differs at 1e-7), so the oracles use explicit double unnest arithmetic.

At 100 TB the brute-force plan is probe-broadcast × candidate-scan: the
probe set is tiny and broadcast, candidates stream through one projection +
one per-probe top-k (TakeOrderedAndProject per group); the LSH-bucketed
variant for huge probe sets lives in llm_dedup's banding machinery.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Window
from pyspark.sql import functions as F

from xml_processor_spark.functions.deterministic import r6
from xml_processor_spark.io import row_count, table, widen
from xml_processor_spark.registry import register

_N_PROBES = 5
_TOP_K = 10

# Double-precision dot product of two float lists, DuckDB-side.
_DOT = (
    "(SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) "
    "FROM (SELECT unnest({a}) AS x, unnest({b}) AS y))"
)
_NORM2 = "(SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) FROM (SELECT unnest({a}) AS x))"


def _dot(a, b):
    # String args take the JVM-parsed SQL twin (guide §5 driver
    # overhead: the Python-lambda HOF costs ~10x the py4j round-trips
    # building the identical tree); computed-Column callers keep the
    # Column path.
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"aggregate(zip_with({a}, {b},"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm2(a):
    if isinstance(a, str):
        return F.expr(
            f"aggregate(transform({a},"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            " CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@register(
    "q_knn_cosine",
    oracle=f"""
        WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe
                        FROM embeddings WHERE vec_id < {_N_PROBES}),
        scored AS (
            SELECT p.probe_id, c.vec_id,
                   round({_DOT.format(a='p.pe', b='c.embedding')}
                         / sqrt({_NORM2.format(a='p.pe')})
                         / sqrt({_NORM2.format(a='c.embedding')}), 6) AS sim
            FROM probes p JOIN embeddings c ON c.vec_id <> p.probe_id
        )
        SELECT probe_id, vec_id, sim, rn AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                           ORDER BY sim DESC, vec_id) AS rn
              FROM scored)
        WHERE rn <= {_TOP_K}
    """,
    origin="LLM",
    doc="Exact top-10 cosine neighbors for a fixed probe set — brute force "
        "with rounded-similarity + vec_id total order.",
)
def q_knn_cosine(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    cand = e.select("vec_id", "embedding")
    scored = (
        F.broadcast(probes)
        .join(cand, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            r6(
                _dot("pe", "embedding")
                / F.sqrt(_norm2("pe"))
                / F.sqrt(_norm2("embedding"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("probe_id", "vec_id", "sim", "rank")
    )


@register(
    "q_knn_euclidean",
    oracle=f"""
        WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe
                        FROM embeddings WHERE vec_id < {_N_PROBES}),
        scored AS (
            SELECT p.probe_id, c.vec_id,
                   round(sqrt((SELECT SUM((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                                          * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))
                               FROM (SELECT unnest(p.pe) AS x,
                                            unnest(c.embedding) AS y))), 6) AS dist
            FROM probes p JOIN embeddings c ON c.vec_id <> p.probe_id
        )
        SELECT probe_id, vec_id, dist, rn AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                           ORDER BY dist, vec_id) AS rn
              FROM scored)
        WHERE rn <= {_TOP_K}
    """,
    origin="LLM",
    doc="Exact top-10 L2 neighbors for the probe set.",
)
def q_knn_euclidean(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _N_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    cand = e.select("vec_id", "embedding")
    diff2 = F.aggregate(
        F.zip_with(
            F.col("pe"), F.col("embedding"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(probes)
        .join(cand, F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", r6(F.sqrt(diff2)).alias("dist"))
    )
    w = Window.partitionBy("probe_id").orderBy("dist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("probe_id", "vec_id", "dist", "rank")
    )


@register(
    "E-EMB-PIPE",
    oracle="""
        WITH n AS (
            SELECT vec_id, label, embedding,
                   sqrt((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                         FROM (SELECT unnest(embedding) AS x))) AS nrm
            FROM embeddings
        )
        SELECT vec_id, label,
               CASE WHEN nrm > 0 THEN
                   round(sqrt((SELECT SUM(u * u) FROM (
                       SELECT unnest(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) / nrm)) AS u))), 6)
               ELSE round(nrm, 6) END AS unit_norm,
               len(embedding) AS dim
        FROM n
    """,
    origin="LLM",
    doc="Embedding-pipeline scaffold: L2-normalize vectors with an Arrow "
        "pandas UDF (the batch 'model' hop — deterministic stub standing in "
        "for a real encoder), verify unit norms downstream. The Spark-side "
        "plumbing (array<float> in/out, Arrow batching, partition "
        "parallelism) is the real deliverable; the model is a stub. "
        "Oracle-checked since r11: the oracle independently re-normalizes "
        "in SQL and recomputes the downstream norm — numpy's unrolled "
        "partial-sum norm and DuckDB's sequential SUM differ only in the "
        "last ulp, and the recomputed unit norm is 1 ± a few ulps by "
        "construction on both engines, so the 6-dp surface (and the "
        "vec_id/label/dim passthrough the hash actually guards) is "
        "engine-identical; zero vectors pass through un-normalized with "
        "unit_norm 0 on both sides.",
)
def e_emb_pipe(spark, sf_dir):
    @F.pandas_udf("array<double>")
    def l2_normalize(vecs: pd.Series) -> pd.Series:
        import numpy as np

        def norm(v):
            a = np.asarray(v, dtype="float64")
            n = float(np.sqrt((a * a).sum()))
            return (a / n).tolist() if n > 0 else a.tolist()

        return vecs.map(norm)

    e = table(spark, sf_dir, "embeddings")
    normed = e.select("vec_id", "label", l2_normalize("embedding").alias("unit"))
    return normed.select(
        "vec_id", "label",
        r6(F.sqrt(_norm2("unit"))).alias("unit_norm"),
        F.size("unit").alias("dim"),
    )


_IVF_NPROBE = 13
_IVF_ASSIGN = 2  # each vector is replicated into its 2 nearest lists
_IVF_SCALE = 1_000_000  # exact 1e-6 integer grid (the _pq_quantize family)

# Growth law (r13, VERDICT r12 #2): the centroid count used to be tied to
# the corpus (`vec_id % 10` — k = N/10), which made the vector x centroid
# assignment grid O(N²/10): quadratic death at 100 TB. Centroids are now
# every `stride`-th vec_id with stride = floor(sqrt(N)/2), i.e.
# k ≈ 2·sqrt(N) — the textbook IVF balance point where assignment (N·k)
# and per-probe scan (N·nprobe/k) grow together as O(N^1.5) TOTAL and
# per-list occupancy is ~sqrt(N). (nprobe, assign) re-tuned by simulation
# on the real sf0.001 embeddings — unclustered N(0,.1) vectors, IVF's
# worst case: nprobe=13, assign=2 measures mean recall 0.82 at a 0.472
# scanned fraction (bars: >= 0.8 recall, < 0.5 scanned, tests/test_llm.py).
# Replication multiplies list storage by `assign` (map-side, no extra
# shuffle rounds); nprobe only scales the probe fan-out.
#
# Arithmetic (r13): all cosines run on the exact 1e-6 INTEGER grid
# (xe = round(x·1e6), |xe| <= ~6e5 at 64 dims keeps every product < 2^40
# and every 64-term dot < 2^45 — exact in int64 AND in float64 under ANY
# summation order). That order-independence is what licenses the BLAS
# matmul on the Spark side (the q_dedup_semantic precedent) and
# list_dot_product on the DuckDB side: both produce the IDENTICAL integer,
# and cos = f8(dot)/sqrt(f8(nn_a)·f8(nn_b)) is the same IEEE mul/sqrt/div
# sequence on both engines — bit-identical before the 6-dp round, which
# stays on the Spark side (engine half-up, matching DuckDB round()).


def _ivf_stride(n: int) -> int:
    """Centroid stride: every stride-th vec_id is a coarse centroid, so
    k = ceil(n/stride) ≈ 2·sqrt(n) — decoupled from the corpus size.
    Mirrors the oracle's GREATEST(1, FLOOR(SQRT(n)/2)): double sqrt is
    correctly rounded in both engines, /2 and floor are exact."""
    import math

    return max(1, math.floor(math.sqrt(float(n)) / 2))


def _ivf_quantized(spark, sf_dir):
    """(vec_id, xe array<long>) — embeddings on the exact 1e-6 integer
    grid, quantized JVM-side (same round-cast pattern as the kmeans
    family's `ev` CTE; F.round half-up == DuckDB round half-away for all
    signs)."""
    e = widen(table(spark, sf_dir, "embeddings"))
    return e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _IVF_SCALE, 0).cast("long"),
        ).alias("xe"),
    )


def _ivf_index(spark, sf_dir):
    """Shared IVF index build: returns (xq, cids, C, cnn, lists) where
    `lists` is the (vec_id, cid, xe) inverted-list DataFrame — each vector
    replicated into its `_IVF_ASSIGN` nearest coarse lists by exact
    quantized cosine (ties broken by ascending cid, the oracle's
    ORDER BY csim DESC, cid). Shared by the probe search (E-KNN-IVF) and
    the kNN-graph build (q_emb_knn_graph) — both keys pin the IDENTICAL
    index via the shared `_IVF_LISTS_SQL` oracle prefix.

    The centroid codebook (~2·sqrt(N) rows) is collected to the driver and
    shipped in the Python-worker closure: assignment is then ONE int64
    BLAS matmul per Arrow batch (X @ C^T) instead of an N x k join with a
    per-pair interpreted HOF dot — the r9 q_dedup_semantic lesson applied
    to the index build. At 100 TB the codebook would be a capped trained
    set (the E-EMB-PQ Lloyd machinery); sqrt(1e9) ≈ 3e4 rows x 64 dims is
    ~16 MB — still a broadcast, never a shuffle."""
    import numpy as np

    xq = _ivf_quantized(spark, sf_dir)
    # Row count straight from the parquet footer (io.row_count — no Spark
    # job at all, r15), then one bounded collect for the codebook.
    n = row_count(sf_dir, "embeddings")
    stride = _ivf_stride(n)
    crows = (
        xq.filter(F.col("vec_id") % stride == 0).orderBy("vec_id").collect()
    )
    cids = np.array([r["vec_id"] for r in crows], dtype=np.int64)
    C = np.array([list(r["xe"]) for r in crows], dtype=np.int64)
    cnn = (C * C).sum(axis=1).astype(np.float64)
    Ct = C.T.copy()
    n_assign = min(_IVF_ASSIGN, len(cids))

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["xe"].to_numpy()).astype(np.int64)
            nn = (X * X).sum(axis=1).astype(np.float64)
            cos = (X @ Ct).astype(np.float64) / np.sqrt(
                nn[:, None] * cnn[None, :]
            )
            # stable argsort on -cos: ties fall back to column order,
            # which is ascending cid (crows collected ORDER BY vec_id).
            top = np.argsort(-cos, axis=1, kind="stable")[:, :n_assign]
            xe_vals = list(pdf["xe"])
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(
                        pdf["vec_id"].to_numpy(np.int64), n_assign
                    ),
                    "cid": cids[top].reshape(-1),
                    "xe": [
                        xe for xe in xe_vals for _ in range(n_assign)
                    ],
                }
            )

    lists = xq.mapInPandas(_assign, "vec_id long, cid long, xe array<long>")
    return xq, cids, C, cnn, lists


def _ivf_candidates(spark, sf_dir):
    """(probe_id, vec_id, sim_raw) — deduped candidates within the probed
    lists, scored with the exact quantized cosine (raw double; the 6-dp
    round stays with the caller). Factored out so the recall test can
    measure the scanned-candidate count directly (the pruning claim, not
    just the recall claim).

    Fused single pass (r13): with the codebook and the probe set both
    bounded driver constants, list assignment, probed-list membership and
    candidate scoring happen inside ONE Arrow batch visit per partition —
    semantically identical to build-lists-then-filter-then-score (the
    oracle's formulation) but with no intermediate lists materialization
    and no extra shuffle; the only shuffle left is the candidate dedup."""
    import numpy as np

    xq = _ivf_quantized(spark, sf_dir)
    n = row_count(sf_dir, "embeddings")
    stride = _ivf_stride(n)
    # One bounded collect for codebook + probes together (~2*sqrt(N)+5
    # rows), split driver-side.
    rows = (
        xq.filter(
            (F.col("vec_id") % stride == 0) | (F.col("vec_id") < _N_PROBES)
        )
        .orderBy("vec_id")
        .collect()
    )
    cids = np.array(
        [r["vec_id"] for r in rows if r["vec_id"] % stride == 0],
        dtype=np.int64,
    )
    C = np.array(
        [list(r["xe"]) for r in rows if r["vec_id"] % stride == 0],
        dtype=np.int64,
    )
    cnn = (C * C).sum(axis=1).astype(np.float64)
    pids = np.array(
        [r["vec_id"] for r in rows if r["vec_id"] < _N_PROBES],
        dtype=np.int64,
    )
    P = np.array(
        [list(r["xe"]) for r in rows if r["vec_id"] < _N_PROBES],
        dtype=np.int64,
    )
    pnn = (P * P).sum(axis=1).astype(np.float64)
    # Probe -> nprobe nearest lists, driver-side over the same codebook
    # (n_probes x k grid — bounded; same stable tie-break as assignment).
    pcos = (P @ C.T).astype(np.float64) / np.sqrt(pnn[:, None] * cnn[None, :])
    nprobe = min(_IVF_NPROBE, len(cids))
    plists = cids[np.argsort(-pcos, axis=1, kind="stable")[:, :nprobe]]
    n_assign = min(_IVF_ASSIGN, len(cids))
    Ct = C.T.copy()

    def _assign_and_score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["xe"].to_numpy()).astype(np.int64)
            nn = (X * X).sum(axis=1).astype(np.float64)
            vid = pdf["vec_id"].to_numpy(np.int64)
            cos = (X @ Ct).astype(np.float64) / np.sqrt(
                nn[:, None] * cnn[None, :]
            )
            top = np.argsort(-cos, axis=1, kind="stable")[:, :n_assign]
            assigned = cids[top]  # (rows, n_assign) list ids per vector
            outs = []
            for pi in range(len(pids)):
                # candidate iff ANY of its assigned lists is probed by pi
                mask = np.isin(assigned, plists[pi]).any(axis=1) & (
                    vid != pids[pi]
                )
                if not mask.any():
                    continue
                dots = (X[mask] @ P[pi]).astype(np.float64)
                outs.append(
                    pd.DataFrame(
                        {
                            "probe_id": np.int64(pids[pi]),
                            "vec_id": vid[mask],
                            "sim_raw": dots / np.sqrt(nn[mask] * pnn[pi]),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs)

    cand = xq.mapInPandas(
        _assign_and_score, "probe_id long, vec_id long, sim_raw double"
    )
    # The any-shared-list membership above already emits each (probe,
    # vector) pair at most once per partition visit, and every vector
    # lives in exactly one batch stream — the dedup is a safety net for
    # batch splits within a partition.
    return cand.dropDuplicates(["probe_id", "vec_id"])


_IVF_XD_SQL = (
    "list_transform(embedding, x -> CAST(CAST(round(CAST(x AS DOUBLE) "
    f"* {_IVF_SCALE}) AS BIGINT) AS DOUBLE))"
)

# Shared inverted-list build (sqrt-N centroid sampling -> exact-cosine
# assignment -> replicated lists), textually in lockstep between the
# E-KNN-IVF and q_emb_knn_graph oracles — both keys pin the IDENTICAL
# index.
#
# Everything runs on the exact 1e-6 integer grid pre-cast to DOUBLE
# lists: every product < 2^40 and every 64-term list_dot_product < 2^45,
# so the double summation is EXACT under any order — the same integers
# the engine's int64 BLAS matmul produces. The assignment cosine ORDER BY
# is on the RAW double (one exact mul, one correctly-rounded sqrt, one
# correctly-rounded div — engine-identical), so no rounding enters until
# the final reported sim. `stride` is GREATEST(1, FLOOR(SQRT(N)/2)) —
# k ≈ 2·sqrt(N) centroids, decoupled from the corpus (r13 growth-law fix;
# the old vec_id % 10 rule made the va grid O(N²/10)).
_IVF_LISTS_SQL = f"""
        evn AS MATERIALIZED (
            SELECT vec_id, xd, list_dot_product(xd, xd) AS nn
            FROM (SELECT vec_id, {_IVF_XD_SQL} AS xd FROM embeddings)
        ), params AS (
            SELECT GREATEST(1, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)) / 2)
                                    AS BIGINT)) AS stride
            FROM embeddings
        ), cents AS MATERIALIZED (
            SELECT vec_id AS cid, xd AS cd, nn AS cnn
            FROM evn, params WHERE vec_id % stride = 0
        ), va AS (
            SELECT v.vec_id, c.cid,
                   list_dot_product(v.xd, c.cd) / sqrt(v.nn * c.cnn) AS csim
            FROM evn v, cents c
        ), lists AS MATERIALIZED (
            SELECT vec_id, cid FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY csim DESC, cid) AS rn
                FROM va
            ) WHERE rn <= {_IVF_ASSIGN}
        )
"""


@register(
    "E-KNN-IVF",
    oracle=f"""
        WITH {_IVF_LISTS_SQL}, probes AS (
            SELECT vec_id AS probe_id, xd AS pxd, nn AS pnn
            FROM evn WHERE vec_id < {_N_PROBES}
        ), pa AS (
            SELECT p.probe_id, c.cid,
                   list_dot_product(p.pxd, c.cd) / sqrt(p.pnn * c.cnn) AS csim
            FROM probes p, cents c
        ), probe_lists AS (
            SELECT probe_id, cid FROM (
                SELECT *, row_number() OVER (PARTITION BY probe_id
                                             ORDER BY csim DESC, cid) AS rn
                FROM pa
            ) WHERE rn <= {_IVF_NPROBE}
        ), cand AS (
            SELECT DISTINCT pl.probe_id, l.vec_id
            FROM probe_lists pl JOIN lists l ON l.cid = pl.cid
            WHERE l.vec_id <> pl.probe_id
        ), scored AS (
            SELECT c.probe_id, c.vec_id,
                   round(list_dot_product(p.pxd, e.xd)
                         / sqrt(p.pnn * e.nn), 6) AS sim
            FROM cand c
            JOIN probes p ON p.probe_id = c.probe_id
            JOIN evn e ON e.vec_id = c.vec_id
        )
        SELECT probe_id, vec_id, sim, rn AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                           ORDER BY sim DESC, vec_id) AS rn
              FROM scored)
        WHERE rn <= {_TOP_K}
    """,
    origin="LLM",
    doc="IVF approximate nearest neighbor — the similarity-search scale "
        "path: a corpus-decoupled coarse quantizer (k ≈ 2·sqrt(N) sampled "
        f"vectors, r13 growth-law fix) replicates candidates into their "
        f"{_IVF_ASSIGN} nearest inverted lists; each probe scans only its "
        f"{_IVF_NPROBE} nearest lists, then exact quantized-cosine top-10 "
        "within them. Mean recall >= 0.8 while scanning < 50% of brute "
        "force, both asserted in tests/test_llm.py. All similarity math is "
        "on the exact 1e-6 integer grid, so the Spark-side int64 BLAS "
        "matmuls (one Arrow batch at a time) and the oracle's "
        "list_dot_product produce the identical integers — assignment, "
        "probe fan-out and the final top-k replay exactly in DuckDB SQL; "
        "no RNG anywhere. At 100 TB: index build is O(N·sqrt(N)) dots via "
        "one broadcast codebook matmul per batch (never an N x k join), "
        "lists are hash-partitioned, and each probe touches nprobe "
        "partitions only.",
)
def e_knn_ivf(spark, sf_dir):
    scored = _ivf_candidates(spark, sf_dir).select(
        "probe_id", "vec_id", r6(F.col("sim_raw")).alias("sim")
    )
    w_top = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w_top))
        .filter(F.col("rank") <= _TOP_K)
        .select("probe_id", "vec_id", "sim", "rank")
    )


_KNN_GRAPH_K = 3  # neighbors kept per vector


@register(
    "q_emb_knn_graph",
    oracle=f"""
        WITH {_IVF_LISTS_SQL}, cand AS (
            SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS nbr_id
            FROM lists a JOIN lists b ON a.cid = b.cid
            WHERE a.vec_id <> b.vec_id
        ), scored AS (
            SELECT c.src_id, c.nbr_id,
                   round(list_dot_product(ea.xd, eb.xd)
                         / sqrt(ea.nn * eb.nn), 6) AS sim
            FROM cand c
            JOIN evn ea ON ea.vec_id = c.src_id
            JOIN evn eb ON eb.vec_id = c.nbr_id
        )
        SELECT src_id, nbr_id, sim, rn AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY src_id
                                           ORDER BY sim DESC, nbr_id) AS rn
              FROM scored)
        WHERE rn <= {_KNN_GRAPH_K}
    """,
    origin="LLM",
    doc=f"Approximate kNN-graph construction — every vector's top-"
        f"{_KNN_GRAPH_K} cosine neighbors among vectors sharing an "
        "inverted list (the SAME index E-KNN-IVF probes, pinned by the "
        "shared oracle prefix). The kNN graph is the backbone artifact "
        "of vector pipelines: HNSW/NSW bootstrapping, connectivity "
        "audits, graph-based dedup seeding. Engine shape (r13): the "
        "per-list pair stage is ONE int64 BLAS matmul per list "
        "(applyInPandas on the list key, the q_dedup_semantic precedent) "
        "— G = X @ X^T is exact on the 1e-6 integer grid, so per-pair "
        "sims are order-independent and bit-identical to the oracle's "
        "list_dot_product. Each list emits only a margin-pruned per-src "
        "candidate set (everything within 2.5e-6 of the src's 3rd-best "
        "raw cosine — any pair beyond that margin provably cannot enter "
        "the rounded global top-3, see the prune note in the body), so "
        "the shuffle out of the pair stage is O(N), not O(N·sqrt(N)). "
        "Scale shape: k ≈ 2·sqrt(N) lists of ~sqrt(N) occupancy make the "
        "total pair work O(N^1.5) FLOPs inside BLAS — no all-pairs stage "
        "exists at any corpus size, and the only shuffles are the "
        "list-key hash partition and the final per-src top-k.",
)
def q_emb_knn_graph(spark, sf_dir):
    import numpy as np

    _, _, _, _, lists = _ivf_index(spark, sf_dir)

    # Margin prune (proof): a pair (src, j) may be dropped inside a list
    # only when >= 3 same-list neighbors have raw cos >= cos_j + 2e-6;
    # round6 moves a value by <= 0.5e-6, so each such neighbor's ROUNDED
    # sim exceeds j's by >= 1e-6 — strictly better under the oracle's
    # (sim DESC, nbr_id) order regardless of tie-breaks, hence j can
    # never reach the global top-3. Keeping everything within 2.5e-6 of
    # the 3rd-best raw cosine therefore preserves the exact oracle top-3
    # while bounding emission at O(candidates-near-the-top) per src.
    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "src_id": pd.Series(dtype="int64"),
                "nbr_id": pd.Series(dtype="int64"),
                "sim_raw": pd.Series(dtype="float64"),
            }
        )
        s = len(pdf)
        if s < 2:
            return empty
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(np.int64)
        X = np.stack(pdf["xe"].to_numpy()).astype(np.int64)
        G = (X @ X.T).astype(np.float64)
        nn = G.diagonal().copy()
        cos = G / np.sqrt(nn[:, None] * nn[None, :])
        np.fill_diagonal(cos, -2.0)  # self never a candidate
        if s - 1 > _KNN_GRAPH_K:
            # 3rd-best raw cosine per src (partition is O(s) per row)
            kth = np.partition(-cos, _KNN_GRAPH_K - 1, axis=1)[
                :, _KNN_GRAPH_K - 1
            ]
            thresh = -kth - 2.5e-6
        else:
            thresh = np.full(s, -2.0)
        keep = cos >= thresh[:, None]
        si, ni = np.nonzero(keep)
        return pd.DataFrame(
            {
                "src_id": ids[si],
                "nbr_id": ids[ni],
                "sim_raw": cos[si, ni],
            }
        )

    cand = lists.groupBy("cid").applyInPandas(
        _pairs, "src_id long, nbr_id long, sim_raw double"
    )
    # A pair sharing both replicated lists is emitted twice with the
    # IDENTICAL exact sim — dedup before the global top-k.
    scored = cand.dropDuplicates(["src_id", "nbr_id"]).select(
        "src_id", "nbr_id", r6(F.col("sim_raw")).alias("sim")
    )
    w = Window.partitionBy("src_id").orderBy(F.col("sim").desc(), "nbr_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KNN_GRAPH_K)
        .select("src_id", "nbr_id", "sim", "rank")
    )


@register(
    "q_emb_quantize",
    oracle="""
        WITH b AS (
            SELECT vec_id,
                   list_min(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                       AS mn,
                   list_max(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                       AS mx
            FROM embeddings
        ), q AS (
            SELECT e.vec_id, b.mn, b.mx,
                   list_transform(generate_series(1, len(e.embedding)),
                       i -> CAST(round((CAST(e.embedding[i] AS DOUBLE) - b.mn)
                                       / (b.mx - b.mn) * 255) AS BIGINT)) AS c
            FROM embeddings e JOIN b ON b.vec_id = e.vec_id
        )
        SELECT vec_id,
               round(mn, 6) AS qmin,
               round(mx, 6) AS qmax,
               CAST(c[1] AS BIGINT) AS code_head,
               CAST(list_aggregate(c, 'sum') AS BIGINT) AS code_digest,
               CAST(list_aggregate(list_transform(
                        generate_series(1, len(c)), i -> i * c[i]), 'sum')
                    AS BIGINT) AS code_wdigest
        FROM q
    """,
    origin="LLM",
    doc="Int8 embedding quantization (the ANN-index memory-reduction "
        "step): per-vector min/max affine scale to [0, 255] codes. 4x "
        "memory cut per vector with the scale kept for dequantization; "
        "codes verified through position-weighted fixed-point digests "
        "(scalar outputs only — driver canonicalizer contract). Per-row "
        "array math, zero shuffle; at index-build scale this runs inside "
        "the scan like q_emb_normalize. Degenerate flat vectors (mx == "
        "mn) don't occur in this corpus and would need a guard branch in "
        "production.",
)
def q_emb_quantize(spark, sf_dir):
    e = widen(table(spark, sf_dir, "embeddings"))
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    mn = F.array_min(dbl)
    mx = F.array_max(dbl)
    codes = F.transform(
        "embedding",
        lambda x: F.round((x.cast("double") - mn) / (mx - mn) * 255, 0)
        .cast("long"),
    )
    zero = F.lit(0).cast("long")
    digest = F.aggregate(codes, zero, lambda a, x: a + x)
    wdigest = F.aggregate(
        F.zip_with(
            codes,
            F.sequence(F.lit(1), F.size("embedding")),
            lambda x, i: x * i.cast("long"),
        ),
        zero,
        lambda a, x: a + x,
    )
    return e.select(
        "vec_id",
        F.round(mn, 6).alias("qmin"),
        F.round(mx, 6).alias("qmax"),
        F.element_at(codes, 1).alias("code_head"),
        digest.alias("code_digest"),
        wdigest.alias("code_wdigest"),
    )


@register(
    "q_emb_gram",
    oracle="""
        SELECT i, j,
               CAST(SUM(CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000)
                             AS BIGINT)
                        * CAST(round(CAST(embedding[j + 1] AS DOUBLE) * 1000)
                               AS BIGINT))
                    AS DOUBLE) / 1e6 AS g
        FROM embeddings,
             generate_series(0, 63) s1(i),
             generate_series(0, 63) s2(j)
        WHERE j >= i
        GROUP BY i, j
    """,
    # Oracle bounds are the fixture's measured dim=64 (FIXTURES.md):
    # DuckDB 1.0 can neither parameterize a lateral generate_series by a
    # column nor unnest WITH ORDINALITY (both probed). The Spark side
    # stays dimension-generic via size(embedding).
    # The CAST to DOUBLE before *1000 is load-bearing (sf0.1 finding,
    # r7): DuckDB keeps FLOAT * INT in float32, where 319.49999928
    # rounds UP (it IS 319.5f) while the double path rounds DOWN —
    # a one-code quantization split that corrupts every cell the
    # vector touches. Both dialects now quantize in float64.
    origin="LLM",
    doc="Distributed Gram matrix (the covariance/PCA/whitening building "
        "block: G = X^T X accumulated as a sum of per-vector outer "
        "products): each vector emits its dim*(dim+1)/2 upper-triangle "
        "products JVM-side (flattened nested transform — no self-join, no "
        "|vectors|^2 anything), then one map-side-combined groupBy(i,j) "
        "whose shuffle is 2080 cells x tasks regardless of vector count. "
        "Products ride 1e-3 fixed point -> int64 (exact, order-"
        "independent; headroom ~9e6 per vector x 1e12 vectors). This is "
        "how a 100 TB embedding table gets its projection basis without "
        "leaving the cluster.",
)
def q_emb_gram(spark, sf_dir):
    e = widen(table(spark, sf_dir, "embeddings"))
    q = (
        "CAST(round(CAST(element_at(embedding, {k} + 1) AS DOUBLE) * 1000) "
        "AS BIGINT)"
    )
    pairs = F.expr(
        "flatten(transform(sequence(0, size(embedding) - 1), i -> "
        "transform(sequence(i, size(embedding) - 1), j -> "
        f"struct(i AS i, j AS j, {q.format(k='i')} * {q.format(k='j')} AS p))))"
    )
    return (
        e.select(F.explode(pairs).alias("c"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.j").alias("j"))
        .agg((F.sum("c.p").cast("double") / 1e6).alias("g"))
    )


@register(
    "q_emb_variance",
    oracle="""
        WITH fx AS (
            SELECT i,
                   CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000)
                        AS BIGINT) AS q
            FROM embeddings, generate_series(0, 63) s(i)
        )
        SELECT i,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(q) * 1000 AS DOUBLE) / count(*)) / 1e6 AS mean,
               round(CAST(count(*) * sum(q * q) - sum(q) * sum(q) AS DOUBLE)
                     / (count(*) * (count(*) - 1))) / 1e6 AS var
        FROM fx
        GROUP BY i
    """,
    origin="LLM",
    doc="Per-dimension embedding moments (the diagonal of the covariance "
        "E-EMB-PCA eigensolves): n/mean/variance per position from 1e-3 "
        "fixed-point sums and exact int64 sums of squares — order-"
        "independent across any partitioning, so the result is bit-stable "
        "at any cluster size. One posexplode + map-side-combined "
        "groupBy(pos); shuffle is 64 cells x tasks. Oracle bounds use the "
        "fixture's measured dim=64 (same generate_series constraint as "
        "q_emb_gram). Cross-engine float discipline (sf0.1 finding, r7): "
        "quantization casts to DOUBLE first (DuckDB FLOAT*INT stays "
        "float32, which flips near-tie codes), and the 6-dp rounding "
        "happens in INTEGER space — round(S*1000/n) and "
        "round((n*SS - S^2)/(n(n-1))) then /1e6 — because scale-0 ties "
        "(k.5) are exactly representable doubles that both engines round "
        "identically, while 6-dp tie STRINGS (x.xxxxxx5) are not, and "
        "Spark rounds the shortest decimal repr where DuckDB rounds the "
        "binary value (they split exactly at such ties; first seen at "
        "n=2000 where S/2e6 lands on 5e-7 multiples). Headroom: n*SS "
        "must stay under 2^53 for the exact double cast — at 1e12-row "
        "scale the same formulas run in DECIMAL(38).",
)
def q_emb_variance(spark, sf_dir):
    e = widen(table(spark, sf_dir, "embeddings"))
    q = F.round(F.col("x").cast("double") * 1000, 0).cast("long")
    expl = e.select(F.posexplode("embedding").alias("i", "x"))
    n = F.count(F.lit(1))
    s, ss = F.sum(q), F.sum(q * q)
    return (
        expl.groupBy("i")
        .agg(
            n.alias("n"),
            (F.round((s * 1000).cast("double") / n, 0) / 1e6).alias("mean"),
            (
                F.round(
                    (n * ss - s * s).cast("double") / (n * (n - 1)), 0
                )
                / 1e6
            ).alias("var"),
        )
    )


_PCA_K = 8  # components kept


@register(
    "E-EMB-PCA",
    oracle=None,
    origin="LLM",
    doc="Distributed PCA (dimensionality reduction for ANN/whitening): "
        "mean vector and Gram matrix accumulate as fixed-point cluster "
        "aggregates (the q_emb_gram path — shuffle is dim^2 cells, never "
        "row-count anything), the 64x64 covariance eigensolve runs on the "
        "driver (dim^2 floats — size independent of table rows, the same "
        "split every distributed PCA uses), and the top-8 projection "
        "broadcasts back as a literal matrix applied via an Arrow-batched "
        "numpy matmul. Output is long-form (vec_id, component, value) — "
        "scalars only (the r3 canonicalizer lesson). Sign convention: "
        "each eigenvector's largest-|coord| entry is made positive, so "
        "the result is deterministic despite eigenvector sign ambiguity. "
        "WHY rows-only (the VERDICT r11 #3 question, answered negative): "
        "oracle SQL strings are static — generated at import with no "
        "data access — and the eigenbasis is a data-dependent runtime "
        "artifact of LAPACK's iterative eigensolve, so no fixed SQL can "
        "replay the projection. The E-EMB-PQ conversion (unrolled exact-"
        "integer Lloyd) does not transfer: Lloyd's steps are argmin + "
        "rounded mean (closed under the integer grid), while subspace "
        "iteration needs a NORMALIZATION (QR / vector norm) every step — "
        "an integer sqrt whose rounding error feeds back into the "
        "iterate, so grid-exactness cannot be preserved across ~20 "
        "iterations. The pipeline's verifiable parts ARE verified: the "
        "mean/Gram inputs are the hash-checked q_emb_gram/q_emb_variance "
        "paths, and tests/test_llm.py pins the eigenbasis-invariant "
        "outputs (orthonormality, variance-capture vs a local "
        "eigensolve, stability under repartition).",
)
def e_emb_pca(spark, sf_dir):
    import numpy as np

    e = widen(table(spark, sf_dir, "embeddings"))

    # Distributed moments (exact fixed-point — see q_emb_gram/q_emb_variance)
    q = "CAST(round(element_at(embedding, {k} + 1) * 1000) AS BIGINT)"
    pairs = F.expr(
        "flatten(transform(sequence(0, size(embedding) - 1), i -> "
        "transform(sequence(i, size(embedding) - 1), j -> "
        f"struct(i AS i, j AS j, {q.format(k='i')} * {q.format(k='j')} AS p))))"
    )
    gram_rows = (
        e.select(F.explode(pairs).alias("c"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.j").alias("j"))
        .agg(F.sum("c.p").alias("s"))
        .collect()
    )
    mean_rows = (
        e.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(
            F.sum(F.round(F.col("x") * 1000, 0).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    dim = len(mean_rows)
    n = mean_rows[0]["n"]
    mu = np.zeros(dim)
    for r in mean_rows:
        mu[r["i"]] = r["s"] / 1e3 / n
    g = np.zeros((dim, dim))
    for r in gram_rows:
        g[r["i"], r["j"]] = g[r["j"], r["i"]] = r["s"] / 1e6
    cov = g / n - np.outer(mu, mu)

    # Driver-side eigensolve of the dim x dim matrix (row-count independent)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:_PCA_K]
    comps = v[:, order].T  # (k, dim)
    for ci in range(comps.shape[0]):  # deterministic sign
        j = int(np.abs(comps[ci]).argmax())
        if comps[ci, j] < 0:
            comps[ci] = -comps[ci]
    comps_b = comps.astype("float64")
    mu_b = mu.astype("float64")

    import pandas as pd

    def project(batches):
        for pdf in batches:
            mat = np.vstack(pdf["embedding"].to_numpy()) - mu_b
            proj = mat @ comps_b.T  # (rows, k)
            out = pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(_PCA_K),
                    "component": np.tile(np.arange(_PCA_K), len(pdf)),
                    "value": proj.reshape(-1),
                }
            )
            yield out

    return e.select("vec_id", "embedding").mapInPandas(
        project, schema="vec_id long, component int, value double"
    )


# ---------------------------------------------------------------------------
# Product quantization: the ANN memory-compression scale path.
# ---------------------------------------------------------------------------

_PQ_M = 16       # subspaces (4 dims each at the fixture's dim=64)
_PQ_K = 16       # centroids per subspace (4-bit codes)
_PQ_SAMPLE = 1024  # codebook training sample (driver-side, bounded)
_PQ_ITERS = 10   # Lloyd iterations


def _pq_half_away(v):
    """Round half away from zero — DuckDB round(DOUBLE) / Spark F.round
    semantics (numpy's own round is banker's and would flip grid ties).
    Vectorized exact fractional-part test (the half_away_long rule, r14):
    floor(|v|+0.5)'s inexact +0.5 rounds up across a binade for values
    half-an-ulp below a k.5 boundary; |v|−floor(|v|) is exact."""
    import numpy as np

    a = np.abs(v)
    f = np.floor(a)
    return np.sign(v) * (f + (a - f >= 0.5))


def _pq_quantize(mat):
    """float embeddings → exact 1e-3 integer grid (cast to float64 FIRST —
    the q_emb_variance float32-arithmetic lesson)."""
    import numpy as np

    return _pq_half_away(mat.astype(np.float64) * 1000).astype(np.int64)


def _pq_train(sample_q, m, k, iters):
    """Deterministic per-subspace Lloyd k-means on the driver — on the
    exact 1e-3 INTEGER grid (r12, VERDICT r11 #4), which is what lets the
    whole training replay as unrolled SQL CTEs in the DuckDB oracle.

    `sample_q` is (n, dim) int64 (quantized, content-hash order); init
    takes the first k DISTINCT rows per subspace (duplicate sub-vectors
    among the head of the sample would seed duplicate centroids that
    persist forever — argmin ties go low, empty clusters keep their
    centroid — silently wasting codebook capacity; ADVICE r5), cycling
    the distinct rows if fewer than k exist. Ties in assignment break to
    the lowest centroid index (numpy argmin), empty clusters keep their
    previous centroid, and the centroid update is the HALF-AWAY-ROUNDED
    mean back onto the same integer grid: round(Σq/n) with Σq an exact
    int64 sum and the division an IEEE double op both engines compute
    identically (Σq < 2^53). Distances are exact int64 (≤ 4·(2·10^6)²
    per subspace — far under overflow) — every step is deterministic
    AND engine-portable, so the codebook and every assigned code
    hash-match the SQL replay.
    """
    import numpy as np

    n, dim = sample_q.shape
    d_sub = dim // m
    books = np.empty((m, k, d_sub), dtype=np.int64)
    for mi in range(m):
        x = sample_q[:, mi * d_sub:(mi + 1) * d_sub]
        # first-k-distinct init, preserving sample order
        _, first_idx = np.unique(x, axis=0, return_index=True)
        distinct = x[np.sort(first_idx)]
        cent = np.resize(distinct, (k, d_sub)).copy()
        for _ in range(iters):
            d2 = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for ci in range(k):
                mask = assign == ci
                if mask.any():
                    s = x[mask].sum(axis=0).astype(np.float64)
                    cent[ci] = _pq_half_away(s / mask.sum()).astype(
                        np.int64
                    )
        books[mi] = cent
    return books


_PQ_DSUB = 4  # fixture dim=64 / _PQ_M (the q_emb_gram dim constraint)


def _pq_oracle_sql() -> str:
    """Full SQL replay of the PQ pipeline (the E-EMB-LSH-HI method,
    extended to an ITERATIVE trainer): md5-ordered 1024-row sample →
    first-k-distinct cycled init → 10 unrolled Lloyd iterations on the
    exact 1e-3 integer grid (arg_min with the tie-folding key d2·K + c ≡
    lowest-index argmin; empty clusters carry the previous centroid via
    LEFT JOIN) → final code assignment over all vectors. Every CTE that
    is referenced more than once is MATERIALIZED — without it DuckDB
    re-inlines cent{t-1} into both its consumers and the 10-deep chain
    goes exponential (the q_corpus_funnel lesson)."""
    ds = _PQ_DSUB

    def qcols(src):
        return ", ".join(
            f"CAST(round(CAST({src}[m*{ds} + {d + 1}] AS DOUBLE) * 1000)"
            f" AS BIGINT) AS q{d}"
            for d in range(ds)
        )

    def d2(a, b):
        return " + ".join(
            f"({a}.q{d} - {b}.q{d}) * ({a}.q{d} - {b}.q{d})"
            for d in range(ds)
        )

    qs = ", ".join(f"q{d}" for d in range(ds))
    parts = [f"""
        WITH samp AS MATERIALIZED (
            SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                      vec_id) - 1 AS rn, embedding
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                  LIMIT {_PQ_SAMPLE})
        ), xs AS MATERIALIZED (
            SELECT s.rn, g.m, {qcols("s.embedding")}
            FROM samp s, generate_series(0, {_PQ_M - 1}) g(m)
        ), firsts AS (
            SELECT m, {qs}, min(rn) AS frn FROM xs GROUP BY ALL
        ), ranked AS (
            SELECT m, {qs},
                   row_number() OVER (PARTITION BY m ORDER BY frn) - 1 AS di,
                   count(*) OVER (PARTITION BY m) AS nd
            FROM firsts
        ), cent0 AS MATERIALIZED (
            SELECT r.m, g.c, {", ".join(f"r.q{d}" for d in range(ds))}
            FROM generate_series(0, {_PQ_K - 1}) g(c)
            JOIN ranked r ON r.di = g.c % r.nd
        )"""]
    for t in range(1, _PQ_ITERS + 1):
        p = f"cent{t - 1}"
        parts.append(f""", asg{t} AS MATERIALIZED (
            SELECT xs.rn, xs.m,
                   arg_min(cc.c, ({d2("xs", "cc")}) * {_PQ_K} + cc.c) AS c
            FROM xs JOIN {p} cc ON cc.m = xs.m
            GROUP BY xs.rn, xs.m
        ), sums{t} AS MATERIALIZED (
            SELECT a.m, a.c,
                   {", ".join(f"sum(xs.q{d}) AS s{d}" for d in range(ds))},
                   count(*) AS n
            FROM xs JOIN asg{t} a ON a.rn = xs.rn AND a.m = xs.m
            GROUP BY a.m, a.c
        ), cent{t} AS MATERIALIZED (
            SELECT p.m, p.c,
                   {", ".join(
                       f"CASE WHEN s.n IS NULL THEN p.q{d} ELSE "
                       f"CAST(round(CAST(s.s{d} AS DOUBLE) / s.n) AS BIGINT)"
                       f" END AS q{d}"
                       for d in range(ds)
                   )}
            FROM {p} p LEFT JOIN sums{t} s ON s.m = p.m AND s.c = p.c
        )""")
    parts.append(f""", av AS MATERIALIZED (
            SELECT e.vec_id, g.m, {qcols("e.embedding")}
            FROM embeddings e, generate_series(0, {_PQ_M - 1}) g(m)
        )
        SELECT av.vec_id, av.m,
               CAST(arg_min(cc.c, ({d2("av", "cc")}) * {_PQ_K} + cc.c)
                    AS INTEGER) AS code
        FROM av JOIN cent{_PQ_ITERS} cc ON cc.m = av.m
        GROUP BY av.vec_id, av.m
    """)
    return "".join(parts)


@register(
    "E-EMB-PQ",
    oracle=_pq_oracle_sql(),
    origin="LLM",
    doc=f"Product quantization (PQ) — the ANN memory-compression scale "
        f"path: {_PQ_M} subspaces x {_PQ_K} centroids = 4-bit codes per "
        "subspace — 256-byte float32 vectors become 8-byte codes (32x), "
        "which is what makes a billion-vector index fit executor memory; "
        "ADC over the codes generates shortlists an exact rerank then "
        "orders. Codebooks train driver-side with "
        f"deterministic Lloyd k-means on a content-hash-ordered {_PQ_SAMPLE}"
        "-vector sample (bounded driver memory — codebook size is "
        "M*K*d ints, independent of table rows), broadcast as a closure "
        "literal, and codes assign via one Arrow-batched numpy argmin pass "
        "(zero shuffle, scan-parallel). Oracle-ized r12: training runs on "
        "the exact 1e-3 integer grid (see _pq_train) so the ENTIRE "
        "pipeline — sample order, init, 10 Lloyd iterations, assignment — "
        "replays as unrolled SQL CTEs and the codes hash-match DuckDB. "
        "Long-form scalar output (vec_id, m, code); tests/test_llm.py "
        "asserts repartition stability, reconstruction MSE well under "
        "signal energy, and ADC (asymmetric-distance) top-k recall "
        "against exact cosine.",
)
def e_emb_pq(spark, sf_dir):
    import numpy as np

    e = widen(table(spark, sf_dir, "embeddings"))
    # Content-hash-ordered bounded sample: deterministic, unbiased by
    # storage order, and capped so driver memory is O(sample), never O(N).
    sample_rows = (
        e.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_PQ_SAMPLE)
        .collect()
    )
    sample_q = _pq_quantize(
        np.array([r["embedding"] for r in sample_rows], dtype=np.float64)
    )
    books = _pq_train(sample_q, _PQ_M, _PQ_K, _PQ_ITERS)
    d_sub = sample_q.shape[1] // _PQ_M

    import pandas as pd

    def assign(batches):
        for pdf in batches:
            mat = _pq_quantize(np.vstack(pdf["embedding"].to_numpy()))
            n = len(pdf)
            codes = np.empty((n, _PQ_M), dtype=np.int32)
            for mi in range(_PQ_M):
                x = mat[:, mi * d_sub:(mi + 1) * d_sub]
                d2 = ((x[:, None, :] - books[mi][None, :, :]) ** 2).sum(axis=2)
                codes[:, mi] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy().repeat(_PQ_M),
                    "m": np.tile(np.arange(_PQ_M, dtype=np.int32), n),
                    "code": codes.reshape(-1),
                }
            )

    return e.select("vec_id", "embedding").mapInPandas(
        assign, schema="vec_id long, m int, code int"
    )


# --- r6 addition: Matryoshka truncation fidelity ---------------------------

_MRL_DIMS = (16, 32)  # prefix dims evaluated against the full 64


def _mrl_dev(k: int):
    """|cos over first k dims - cos over all dims|, rounded to 6 dp."""
    ea, eb = F.col("ea"), F.col("eb")
    sa, sb = F.slice(ea, 1, k), F.slice(eb, 1, k)
    cos_k = _dot(sa, sb) / F.sqrt(_norm2(sa)) / F.sqrt(_norm2(sb))
    cos_full = _dot(ea, eb) / F.sqrt(_norm2(ea)) / F.sqrt(_norm2(eb))
    return F.round(F.abs(cos_k - cos_full), 6)


def _mrl_dev_sql(k: int) -> str:
    d = _DOT.format(a=f"ea[1:{k}]", b=f"eb[1:{k}]")
    na = _NORM2.format(a=f"ea[1:{k}]")
    nb = _NORM2.format(a=f"eb[1:{k}]")
    df = _DOT.format(a="ea", b="eb")
    nfa = _NORM2.format(a="ea")
    nfb = _NORM2.format(a="eb")
    return (
        f"round(abs({d} / sqrt({na}) / sqrt({nb})"
        f" - {df} / sqrt({nfa}) / sqrt({nfb})), 6)"
    )


@register(
    "q_emb_mrl",
    oracle=f"""
        WITH pairs AS (
            SELECT a.embedding AS ea, b.embedding AS eb
            FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
            WHERE a.vec_id % 2 = 0
        ), devs AS (
            SELECT {_mrl_dev_sql(16)} AS d16, {_mrl_dev_sql(32)} AS d32
            FROM pairs
        )
        SELECT 16 AS trunc_dim, CAST(count(*) AS BIGINT) AS n_pairs,
               round(avg(d16), 6) AS avg_abs_dev, max(d16) AS max_abs_dev
        FROM devs
        UNION ALL
        SELECT 32, CAST(count(*) AS BIGINT), round(avg(d32), 6), max(d32)
        FROM devs
    """,
    origin="LLM",
    doc="Matryoshka truncation fidelity: how much cosine similarity "
        "drifts when embeddings are cut to their first 16/32 of 64 "
        "dims — the evaluation behind MRL-style dimension reduction, "
        "where a cheap prefix index prefilters and the full vector "
        "rescored. Pairs are adjacent vec_ids (deterministic, size-"
        "independent); per-pair deviations fix to 6 dp before the "
        "order-insensitive avg/max. The equi self-join shifts by one "
        "key — hash join, never a cross product; at scale this runs on "
        "a hash-sampled pair subset, same plan.",
)
def q_emb_mrl(spark, sf_dir):
    e = widen(table(spark, sf_dir, "embeddings"))
    a = e.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("ka"), F.col("embedding").alias("ea")
    )
    b = e.select(F.col("vec_id").alias("kb"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("kb") == F.col("ka") + 1)
    devs = pairs.select(
        _mrl_dev(16).alias("d16"), _mrl_dev(32).alias("d32")
    )
    agg16 = devs.agg(
        F.lit(16).alias("trunc_dim"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("d16"), 6).alias("avg_abs_dev"),
        F.max("d16").alias("max_abs_dev"),
    )
    agg32 = devs.agg(
        F.lit(32).alias("trunc_dim"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("d32"), 6).alias("avg_abs_dev"),
        F.max("d32").alias("max_abs_dev"),
    )
    return agg16.unionAll(agg32)


# ---------------------------------------------------------------------------
# Pairwise-similarity histogram (embedding-space health diagnostic).
# ---------------------------------------------------------------------------

_HIST_PROBES = 8  # fixed probe rows; pair count is probes * n (linear)
_HIST_BUCKETS = 20  # fixed-width buckets over cosine range [-1, 1]


@register(
    "q_emb_cosine_hist",
    oracle=f"""
        WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe
                        FROM embeddings WHERE vec_id < {_HIST_PROBES}),
        scored AS (
            SELECT round({_DOT.format(a='p.pe', b='c.embedding')}
                         / sqrt({_NORM2.format(a='p.pe')})
                         / sqrt({_NORM2.format(a='c.embedding')}), 6) AS sim
            FROM probes p JOIN embeddings c ON c.vec_id <> p.probe_id
        )
        SELECT CAST(least(floor((sim + 1.0) * 10.0),
                          {_HIST_BUCKETS - 1}) AS BIGINT) AS bucket,
               round(least(floor((sim + 1.0) * 10.0),
                           {_HIST_BUCKETS - 1}) / 10.0 - 1.0, 1) AS lo_edge,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM scored
        GROUP BY bucket, lo_edge
    """,
    origin="LLM",
    doc=f"Pairwise cosine-similarity histogram — the embedding-space "
        "health diagnostic behind LSH/dedup threshold tuning (where does "
        "the similarity mass sit relative to the dedup τ?): "
        f"{_HIST_PROBES} fixed probe vectors against the whole corpus, "
        f"cosine bucketed into {_HIST_BUCKETS} fixed-width bins over "
        "[-1, 1]. Bucketing happens on the 6-dp ROUNDED cosine (already "
        "the cross-engine-identical value every knn/dedup operator "
        "reports), so bin assignment cannot split between engines. "
        "Scale shape: probe set is a constant-size broadcast, pair "
        "count is probes x n (linear, the q_knn_cosine shape — never "
        "all-pairs), and the histogram is a map-side-combined groupBy "
        f"onto <= {_HIST_BUCKETS} cells. The full-corpus pairwise "
        "version is exactly what E-EMB-LSH-HI avoids; this diagnostic "
        "is how you pick its operating point.",
)
def q_emb_cosine_hist(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _HIST_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    cand = e.select("vec_id", "embedding")
    sim = r6(
        _dot("pe", "embedding")
        / F.sqrt(_norm2("pe"))
        / F.sqrt(_norm2("embedding"))
    )
    bucket = F.least(
        F.floor((F.col("sim") + 1.0) * 10.0), F.lit(_HIST_BUCKETS - 1)
    ).cast("long")
    return (
        F.broadcast(probes)
        .join(cand, F.col("vec_id") != F.col("probe_id"))
        .select(sim.alias("sim"))
        .select(
            bucket.alias("bucket"),
            F.round(bucket / 10.0 - 1.0, 1).alias("lo_edge"),
        )
        .groupBy("bucket", "lo_edge")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --- q_emb_maxsim: ColBERT-style late-interaction scoring ------------------

_MAXSIM_PROBES = 3
_MAXSIM_K = 5
_MAXSIM_SUBS = 8   # sub-vectors per embedding ("token" views)
_MAXSIM_DIM = 8    # dims per sub-vector (8 x 8 = the 64-d fixture vector)

_MAXSIM_DOT = (
    "(SELECT SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) "
    "FROM (SELECT unnest(list_slice({a}, s.s * {d} + 1, s.s * {d} + {d})) AS x, "
    "             unnest(list_slice({b}, t.t * {d} + 1, t.t * {d} + {d})) AS y))"
)


@register(
    "q_emb_maxsim",
    oracle=f"""
        WITH probes AS (SELECT vec_id AS probe_id, embedding AS pe
                        FROM embeddings WHERE vec_id < {_MAXSIM_PROBES}),
        parts AS (
            SELECT p.probe_id, c.vec_id, s.s,
                   max({_MAXSIM_DOT.format(a='p.pe', b='c.embedding',
                                           d=_MAXSIM_DIM)}) AS m
            FROM probes p
            JOIN embeddings c ON c.vec_id <> p.probe_id
            CROSS JOIN (SELECT unnest(generate_series(0, {_MAXSIM_SUBS - 1}))
                        AS s) s
            CROSS JOIN (SELECT unnest(generate_series(0, {_MAXSIM_SUBS - 1}))
                        AS t) t
            GROUP BY 1, 2, 3
        ),
        scored AS (
            SELECT probe_id, vec_id,
                   CAST(sum(CAST(round(m * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
                       AS maxsim
            FROM parts GROUP BY 1, 2
        )
        SELECT probe_id, vec_id, maxsim, rn AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                           ORDER BY maxsim DESC, vec_id) AS rn
              FROM scored)
        WHERE rn <= {_MAXSIM_K}
    """,
    origin="LLM",
    doc=f"ColBERT-style late-interaction MaxSim retrieval: each {_MAXSIM_SUBS * _MAXSIM_DIM}-d "
        f"vector is read as {_MAXSIM_SUBS} sub-vectors of {_MAXSIM_DIM} dims "
        "(the multi-vector 'token embedding' view); score(q, d) = "
        "SUM over query sub-vectors of the MAX dot product against any doc "
        "sub-vector — the retrieval scorer that beats single-vector cosine "
        "on fine-grained matches. Spark side computes the whole "
        f"{_MAXSIM_SUBS}x{_MAXSIM_SUBS} interaction matrix per (probe, doc) "
        "pair INSIDE one JVM higher-order-function expression "
        "(aggregate over transform/slice) — zero extra shuffle beyond the "
        "per-probe top-k window; the probe set is a constant-size "
        "broadcast, so work is probes x n (linear), never all-pairs. "
        "Cross-engine float discipline: each inner dot is a fixed-order "
        f"{_MAXSIM_DIM}-term double sum (bit-identical both engines), each "
        "per-sub max is exact, and the final score sums exact integer "
        "MICRO-units (round(m*1e6) as BIGINT) so group-order permutation "
        "cannot perturb the total — the emb-moments integer-space lesson.",
)
def q_emb_maxsim(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") < _MAXSIM_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("pe")
    )
    cand = e.select("vec_id", "embedding")

    def _sub(a, i):
        return F.slice(a, i * _MAXSIM_DIM + 1, _MAXSIM_DIM)

    def _maxdot(s):
        return F.array_max(
            F.transform(
                F.sequence(F.lit(0), F.lit(_MAXSIM_SUBS - 1)),
                lambda t: _dot(_sub(F.col("pe"), s), _sub(F.col("embedding"), t)),
            )
        )

    score_int = F.aggregate(
        F.sequence(F.lit(0), F.lit(_MAXSIM_SUBS - 1)),
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.round(_maxdot(s) * 1e6, 0).cast("long"),
    )
    scored = (
        F.broadcast(probes)
        .join(cand, F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id", "vec_id",
            (score_int.cast("double") / 1e6).alias("maxsim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("maxsim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _MAXSIM_K)
        .select("probe_id", "vec_id", "maxsim", "rank")
    )


# --- q_emb_outliers: distance-to-centroid embedding QA ----------------------

_OUT_TOP = 20
_OUT_DIM = _MAXSIM_SUBS * _MAXSIM_DIM  # the 64-d fixture vector


@register(
    "q_emb_outliers",
    oracle=f"""
        WITH dims AS (
            SELECT unnest(embedding) AS x, unnest(range({_OUT_DIM})) AS i
            FROM embeddings
        ),
        cent AS (
            SELECT i, round(avg(CAST(x AS DOUBLE)), 6) AS c
            FROM dims GROUP BY i
        ),
        cl AS (SELECT list(c ORDER BY i) AS cv FROM cent),
        scored AS (
            SELECT vec_id,
                   round(sqrt((SELECT SUM((CAST(x AS DOUBLE) - y)
                                          * (CAST(x AS DOUBLE) - y))
                               FROM (SELECT unnest(embedding) AS x,
                                            unnest(cv) AS y))), 6) AS dist
            FROM embeddings, cl
        )
        SELECT vec_id, dist, rn AS rank
        FROM (SELECT *, row_number() OVER (ORDER BY dist DESC, vec_id) AS rn
              FROM scored)
        WHERE rn <= {_OUT_TOP}
    """,
    origin="LLM",
    doc=f"Embedding-space outlier scan: top-{_OUT_TOP} vectors by distance "
        "to the global centroid — the embedding-QA pass that surfaces "
        "mis-encoded / out-of-distribution rows before they poison "
        "dedup thresholds or ANN recall. The centroid is the per-dim "
        "mean ROUNDED to 6 dp (the established emb-moments truce: a "
        "permuted double sum differs ~1e-13, the rounding absorbs it), "
        "after which every distance is computed from IDENTICAL inputs "
        "by a fixed-order 64-term sum — the q_knn discipline. Scale "
        "shape: the centroid is a map-side-combined dim-wise aggregate "
        "(64 cells), collected as a BOUNDED driver constant (the PCA "
        "64-row pattern) and folded into a scan-side JVM HOF "
        "projection; the top-k is distributed TakeOrdered. No join, "
        "no Python, one pass over the vectors after the centroid pass.",
)
def q_emb_outliers(spark, sf_dir):
    from pyspark.sql import Window

    e = table(spark, sf_dir, "embeddings")
    cent_rows = (
        e.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"))
        .orderBy("i")
        .collect()  # bounded: exactly dim (=64) rows
    )
    cv = F.array(*[F.lit(float(r["c"])) for r in cent_rows])
    dist = r6(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"), cv,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
    )
    scored = e.select("vec_id", dist.alias("dist"))
    top = scored.orderBy(F.col("dist").desc(), "vec_id").limit(_OUT_TOP)
    return top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("dist").desc(), "vec_id")),
    ).select("vec_id", "dist", "rank")


# --- k-means semantic clustering (SemDeDup-style, 2 deterministic Lloyd
# rounds) -------------------------------------------------------------------
#
# Everything runs in INTEGER 1e-6 fixed-point space: quantize each float
# coordinate once (round(x*1e6) as BIGINT), and from then on every distance
# is an exact 64-term integer sum — no float-accumulation-order hazard
# anywhere, so Spark and DuckDB agree bit-for-bit with no rounding truce.
# |x| <= ~0.53 in this schema, so diff^2 <= ~1.2e12, a 64-dim distance
# <= ~7.5e13, and a cluster inertia sum at sf0.1 <= ~1.5e17 — all inside
# int64 with 60x headroom.
_KM_K = 8  # centroids; init = the first k vectors by vec_id (deterministic)
_KM_SCALE = 1_000_000


def _int_d2(a, b):
    """Exact integer squared-euclidean distance of two BIGINT-array columns.

    String args take the JVM-parsed SQL twin (same tree, ~10x fewer py4j
    round-trips — guide §5); computed-Column callers keep the Column path.
    """
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


_KM_D2_SQL = (
    "(SELECT SUM((x - y) * (x - y)) "
    "FROM (SELECT unnest({a}) AS x, unnest({b}) AS y))"
)


def _km_assign_blas(vecs, crows):
    """BLAS twin of _km_assign for √N-sized codebooks (r15,
    q_dedup_semantic). The k-row centroid table arrives as a BOUNDED
    driver-side list (k = max(8, 2⌊√N⌋), the accepted _ivf_index
    codebook pattern — √(1e9) ≈ 3e4 rows × 64 dims ≈ 16 MB at 100 TB,
    shipped in the worker closure, never shuffled), and assignment is
    ONE exact-int64 matmul per Arrow batch: d2 = |x|² + |c|² − 2·x·c
    (every term < 2^47, no overflow), argmin over columns sorted by
    ascending centroid id so numpy's first-index tie rule reproduces the
    crossJoin variant's ORDER BY (d2, c) bit-for-bit. SCALING.json r15:
    the crossJoin + interpreted-HOF d2 at N·k pairs was the measured
    bottleneck once k grew with √N (43 s at SF3); the matmul pass is the
    same N·k·dim FLOPs at a BLAS constant."""
    import numpy as np
    import pandas as pd

    crows = sorted(crows, key=lambda r: r[0])
    cids = np.array([r[0] for r in crows], dtype=np.int64)
    C = np.array([list(r[1]) for r in crows], dtype=np.int64)
    cnn = (C * C).sum(axis=1)
    Ct = C.T.copy()

    def _assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["xe"].to_numpy()).astype(np.int64)
            nnx = (X * X).sum(axis=1)
            d2 = nnx[:, None] + cnn[None, :] - 2 * (X @ Ct)
            j = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(np.int64),
                    "c": cids[j],
                    "d2": d2[np.arange(len(j)), j],
                }
            )

    return vecs.mapInPandas(_assign, "vec_id long, c long, d2 long")


def _km_vectors_and_a2_blas(spark, sf_dir, k):
    """q_dedup_semantic's Lloyd front half at the √N codebook: identical
    math to _km_vectors_and_round2_centroids + _km_assign (and to the
    shared SQL oracle prefix), but both assignment passes run through
    the Arrow BLAS kernel and the two k-row centroid tables are bounded
    driver collects. Returns (vecs, a2) with a2 = (vec_id, c, d2)."""
    e = widen(table(spark, sf_dir, "embeddings"))
    vecs = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
            f" * {_KM_SCALE}, 0) AS BIGINT)) AS xe"
        ),
    )
    init_rows = [
        (r["vec_id"], r["xe"])
        for r in vecs.filter(F.col("vec_id") < k).collect()
    ]
    a1 = _km_assign_blas(vecs, init_rows)
    m = (
        a1.join(vecs, "vec_id")
        .select("c", F.posexplode("xe").alias("pos0", "v"))
        .groupBy("c", "pos0")
        .agg(
            F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 0)
            .cast("long")
            .alias("cv")
        )
    )
    c2 = m.groupBy("c").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos0", "cv"))),
            lambda s: s["cv"],
        ).alias("ce")
    )
    c2_rows = [(r["c"], r["ce"]) for r in c2.collect()]
    return vecs, _km_assign_blas(vecs, c2_rows)


def _km_assign(vecs, cents):
    """Nearest-centroid assignment: k-row broadcast x vector scan, argmin by
    (exact integer d2, centroid id)."""
    pairs = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "c", _int_d2("xe", "ce").alias("d2")
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "c")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "c", "d2")
    )


@register(
    "q_emb_kmeans",
    oracle=f"""
        WITH ev AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * {_KM_SCALE})
                            AS BIGINT)) AS xe
            FROM embeddings
        ),
        init AS (SELECT vec_id AS c, xe AS ce FROM ev WHERE vec_id < {_KM_K}),
        p1 AS (
            SELECT e.vec_id, i.c,
                   {_KM_D2_SQL.format(a='e.xe', b='i.ce')} AS d2
            FROM ev e, init i
        ),
        a1 AS (
            SELECT vec_id, c FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d2, c) AS rn
                FROM p1
            ) WHERE rn = 1
        ),
        m AS (
            SELECT a1.c, u.gs AS pos,
                   CAST(round(CAST(SUM(e.xe[u.gs]) AS DOUBLE) / count(*))
                        AS BIGINT) AS cv
            FROM a1 JOIN ev e USING (vec_id),
                 LATERAL (SELECT unnest(generate_series(1, len(e.xe))) AS gs) u
            GROUP BY a1.c, u.gs
        ),
        c2 AS (SELECT c, list(cv ORDER BY pos) AS ce FROM m GROUP BY c),
        p2 AS (
            SELECT e.vec_id, k.c,
                   {_KM_D2_SQL.format(a='e.xe', b='k.ce')} AS d2
            FROM ev e, c2 k
        ),
        a2 AS (
            SELECT vec_id, c, d2 FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d2, c) AS rn
                FROM p2
            ) WHERE rn = 1
        )
        SELECT c AS cluster, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(d2) AS BIGINT) AS inertia_e12
        FROM a2 GROUP BY c
    """,
    origin="LLM",
    doc=f"K-means semantic clustering, the SemDeDup / semantic-dedup "
        f"workhorse: {_KM_K} centroids initialized from the first "
        f"{_KM_K} vectors by vec_id (deterministic — no rand()), two full "
        "Lloyd rounds (assign -> integer fixed-point mean update -> "
        "re-assign), reporting per-cluster membership and exact integer "
        "inertia. The whole pipeline is INTEGER 1e-6 fixed-point: "
        "assignment distances are exact 64-term int64 sums (ties broken "
        "by centroid id), and the mean update is an integer sum / count "
        "with one deterministic round — bit-identical on any engine and "
        "any partitioning. Scale shape: the centroid table is k rows "
        "(BOUNDED by k, never by data) and broadcast; each assignment is "
        "a k-way broadcast nested-loop over the vector scan (k*n rows, "
        "linear); the update is a map-side-combined groupBy over "
        "k*dim cells. No all-pairs stage anywhere — at 100 TB each Lloyd "
        "round is one scan + one k*dim-cell shuffle, the textbook "
        "distributed k-means plan. Downstream, within-cluster pairs feed "
        "the exact-rescore stage of semantic dedup (candidates ~ n*k, "
        "the E-KNN-IVF argument).",
)
def q_emb_kmeans(spark, sf_dir):
    vecs, c2 = _km_vectors_and_round2_centroids(spark, sf_dir)
    a2 = _km_assign(vecs, c2)
    return a2.groupBy(F.col("c").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d2").alias("inertia_e12"),
    )


def _km_vectors_and_round2_centroids(spark, sf_dir, k=_KM_K):
    """Shared k-means front half: fixed-point vectors + round-2 centroids.

    Used by q_emb_kmeans (reports assignment/inertia) and q_emb_silhouette
    (reports separation quality of the same clustering) so both keys pin
    the identical deterministic pipeline at the fixed reporting k.
    q_dedup_semantic passes k = max(8, 2·⌊√N⌋) instead (r15,
    SCALING.json: with a FIXED k the within-cluster pair stage is
    Σ|cluster|² ∝ N²/k — measured exp 2.1 at SF3; the E-KNN-IVF codebook
    growth law caps expected cluster size at ~√N/2, the SemDeDup paper's
    own regime of cluster count scaling with corpus size).
    """
    e = widen(table(spark, sf_dir, "embeddings"))
    vecs = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)"
            f" * {_KM_SCALE}, 0) AS BIGINT)) AS xe"
        ),
    )
    init = vecs.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("c"), F.col("xe").alias("ce")
    )
    a1 = _km_assign(vecs, init)
    # Integer fixed-point mean update: per (cluster, dim) exact long sums,
    # one deterministic round of sum/count, rebuilt into a k-row array table.
    m = (
        a1.join(vecs, "vec_id")
        .select("c", F.posexplode("xe").alias("pos0", "v"))
        .groupBy("c", "pos0")
        .agg(
            F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 0)
            .cast("long")
            .alias("cv")
        )
    )
    c2 = m.groupBy("c").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(pos0, cv))),"
            " s -> s.cv) AS ce"
        )
    )
    return vecs, c2


@register(
    "q_emb_silhouette",
    oracle=f"""
        WITH ev AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * {_KM_SCALE})
                            AS BIGINT)) AS xe
            FROM embeddings
        ),
        init AS (SELECT vec_id AS c, xe AS ce FROM ev WHERE vec_id < {_KM_K}),
        p1 AS (
            SELECT e.vec_id, i.c,
                   {_KM_D2_SQL.format(a='e.xe', b='i.ce')} AS d2
            FROM ev e, init i
        ),
        a1 AS (
            SELECT vec_id, c FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d2, c) AS rn
                FROM p1
            ) WHERE rn = 1
        ),
        m AS (
            SELECT a1.c, u.gs AS pos,
                   CAST(round(CAST(SUM(e.xe[u.gs]) AS DOUBLE) / count(*))
                        AS BIGINT) AS cv
            FROM a1 JOIN ev e USING (vec_id),
                 LATERAL (SELECT unnest(generate_series(1, len(e.xe))) AS gs) u
            GROUP BY a1.c, u.gs
        ),
        c2 AS (SELECT c, list(cv ORDER BY pos) AS ce FROM m GROUP BY c),
        p2 AS (
            SELECT e.vec_id, k.c,
                   {_KM_D2_SQL.format(a='e.xe', b='k.ce')} AS d2
            FROM ev e, c2 k
        ),
        r AS (
            SELECT vec_id, c, d2,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c) AS rn
            FROM p2
        ),
        ab AS (
            SELECT a.vec_id, a.c, a.d2 AS a2, b.d2 AS b2
            FROM r a JOIN r b
              ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
        )
        SELECT c AS cluster,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a2) AS BIGINT) AS sum_a2,
               CAST(sum(b2) AS BIGINT) AS sum_b2,
               round((CAST(sum(b2) AS DOUBLE) - CAST(sum(a2) AS DOUBLE))
                     / CAST(sum(b2) AS DOUBLE), 6) AS sil_micro
        FROM ab GROUP BY c
    """,
    origin="LLM",
    doc="Per-cluster separation quality of the q_emb_kmeans clustering — "
        "the simplified (centroid) silhouette, micro-averaged: a = d² to "
        "the assigned (nearest) round-2 centroid, b = d² to the "
        "second-nearest; sil_micro = (Σb − Σa)/Σb per cluster, in [0,1] "
        "since assignment minimizes a. This is the accept/reject gate on "
        "a SemDeDup-style clustering before within-cluster dedup spends "
        "money: clusters with sil≈0 are arbitrary splits whose 'near-"
        "duplicates' are artifacts. Shares the exact integer fixed-point "
        "pipeline with q_emb_kmeans (same vectors, same two Lloyd "
        "rounds, same d² sums — the shared-helper guarantee), so a and b "
        "are exact int64s, ties in nearest/second-nearest break by "
        "centroid id, and the ratio-of-exact-sums divides ONCE per "
        "cluster at 6 dp — no per-row float aggregation anywhere "
        "(mean-of-ratios would sum doubles in partition order). Scale "
        "shape: the k-row round-2 centroid table is checkpointed (Lloyd "
        "front half runs once) and broadcast over ONE vector scan (k·n "
        "rows, linear); (d2, c) packs into a single int64 key so nearest/"
        "second-nearest is a sort_array over k collected values in one "
        "map-side-combinable groupBy — no per-vector rank window, no "
        "self-join; then a k-row rollup. Micro vs macro averaging is "
        "declared semantics.",
)
def q_emb_silhouette(spark, sf_dir):
    vecs, c2 = _km_vectors_and_round2_centroids(spark, sf_dir)
    # k-row centroid table: checkpoint so the two Lloyd rounds run once
    # here, not once per downstream use; q_emb_kmeans keeps its own
    # un-checkpointed lineage (its plan pin wants both rounds visible).
    c2 = c2.localCheckpoint(eager=True)
    # (d2, c) packed into ONE sortable int64 (d2*16 + c, c < 16): the
    # nearest / second-nearest selection becomes a plain sort_array over
    # the k collected keys — one n·k-row shuffle, no per-vector window,
    # no rank self-join. Tie-break identical to the oracle's (d2, c).
    pairs = vecs.crossJoin(F.broadcast(c2)).select(
        "vec_id",
        (_int_d2("xe", "ce") * 16 + F.col("c")).alias("pk"),
    )
    per_vec = pairs.groupBy("vec_id").agg(
        F.sort_array(F.collect_list("pk")).alias("ks")
    )
    ab = per_vec.select(
        F.expr("element_at(ks, 1) % 16").alias("c"),
        F.expr("element_at(ks, 1) DIV 16").alias("a2"),
        F.expr("element_at(ks, 2) DIV 16").alias("b2"),
    )
    return ab.groupBy(F.col("c").alias("cluster")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a2").cast("long").alias("sum_a2"),
        F.sum("b2").cast("long").alias("sum_b2"),
        F.round(
            (F.sum("b2").cast("double") - F.sum("a2").cast("double"))
            / F.sum("b2").cast("double"),
            6,
        ).alias("sil_micro"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: within-cluster semantic dedup over the k-means clustering.
# ---------------------------------------------------------------------------

_SEM_TAU = 0.35  # same cosine bar as q_dedup_emb_cosine's all-pairs truth

# The q_emb_kmeans Lloyd pipeline as a reusable oracle prefix (ev ->
# round-2 centroids -> final assignment with distances). Kept textually in
# lockstep with the q_emb_kmeans / q_emb_silhouette oracles — all three
# keys pin the IDENTICAL deterministic clustering.
_KM_A2_SQL_T = """
        ev AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) * {scale})
                            AS BIGINT)) AS xe
            FROM embeddings
        ),
        init AS (SELECT vec_id AS c, xe AS ce FROM ev WHERE vec_id < {k}),
        p1 AS (
            SELECT e.vec_id, i.c,
                   {d2_init} AS d2
            FROM ev e, init i
        ),
        a1 AS (
            SELECT vec_id, c FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d2, c) AS rn
                FROM p1
            ) WHERE rn = 1
        ),
        m AS (
            SELECT a1.c, u.gs AS pos,
                   CAST(round(CAST(SUM(e.xe[u.gs]) AS DOUBLE) / count(*))
                        AS BIGINT) AS cv
            FROM a1 JOIN ev e USING (vec_id),
                 LATERAL (SELECT unnest(generate_series(1, len(e.xe))) AS gs) u
            GROUP BY a1.c, u.gs
        ),
        c2 AS (SELECT c, list(cv ORDER BY pos) AS ce FROM m GROUP BY c),
        p2 AS (
            SELECT e.vec_id, k.c,
                   {d2_c2} AS d2
            FROM ev e, c2 k
        ),
        a2 AS (
            SELECT vec_id, c, d2 FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d2, c) AS rn
                FROM p2
            ) WHERE rn = 1
        )
"""

_KM_A2_SQL = _KM_A2_SQL_T.format(
    scale=_KM_SCALE,
    k=_KM_K,
    d2_init=_KM_D2_SQL.format(a="e.xe", b="i.ce"),
    d2_c2=_KM_D2_SQL.format(a="e.xe", b="k.ce"),
)

# q_dedup_semantic's codebook growth law (r15): below _SEM_BLAS_MIN_VECS
# vectors the fixed reporting k (8, the r14 behavior — no collect
# barriers, crossJoin assign is cheap at N·8) ; at or above it
# k = 2·⌊√N⌋ with the Arrow-BLAS assignment (fixed k makes the
# within-cluster stage Σ|cluster|² ∝ N²/k — SCALING.json measured exp
# 2.1 at SF3; the √N codebook caps it at ~N^1.5 BLAS FLOPs, measured
# flat 4.1 s). The k choice is computed IDENTICALLY in both engines —
# Python floor(sqrt(float(n))) and SQL floor(sqrt(CAST(count AS
# DOUBLE))) are the same correctly-rounded double ops, so the init
# predicate `vec_id < k` selects the same centroid seeds. The oracle
# stays a static SQL string; only the k VALUE is data-dependent, via a
# scalar subquery — the same pattern as E-KNN-IVF's CTE-chain oracle.
_SEM_BLAS_MIN_VECS = 20_000
_SEM_K_SQL = (
    f"(SELECT CASE WHEN count(*) < {_SEM_BLAS_MIN_VECS} THEN {_KM_K} "
    "ELSE 2 * CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) "
    "END FROM embeddings)"
)

_KM_A2_SQL_SEMK = _KM_A2_SQL_T.format(
    scale=_KM_SCALE,
    k=_SEM_K_SQL,
    d2_init=_KM_D2_SQL.format(a="e.xe", b="i.ce"),
    d2_c2=_KM_D2_SQL.format(a="e.xe", b="k.ce"),
)


@register(
    "q_dedup_semantic",
    oracle=f"""
        WITH {_KM_A2_SQL_SEMK},
        n2 AS (
            SELECT vec_id,
                   (SELECT SUM(x * x) FROM (SELECT unnest(xe) AS x)) AS nn
            FROM ev
        ),
        evd AS MATERIALIZED (
            -- Pre-cast DOUBLE lists for list_dot_product: every xe
            -- product is < 2^45 and the 64-term sum < 2^51, so the
            -- double summation is EXACT and equals the old
            -- CAST(int-SUM AS DOUBLE) bit-for-bit — without the
            -- correlated unnest's 64-row-per-pair expansion that
            -- exhausted the spill disk on the within-cluster pair grid
            -- at SF1 (the q_dedup_emb_cosine lesson).
            SELECT vec_id, list_transform(xe, v -> CAST(v AS DOUBLE)) AS xd
            FROM ev
        ),
        sims AS (
            SELECT * FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.c,
                       a.d2 AS d2_a, b.d2 AS d2_b,
                       list_dot_product(ea.xd, eb.xd)
                           / sqrt(CAST(na.nn AS DOUBLE)
                                  * CAST(nb.nn AS DOUBLE)) AS cos
                FROM a2 a JOIN a2 b ON a.c = b.c AND a.vec_id < b.vec_id
                JOIN evd ea ON ea.vec_id = a.vec_id
                JOIN evd eb ON eb.vec_id = b.vec_id
                JOIN n2 na ON na.vec_id = a.vec_id
                JOIN n2 nb ON nb.vec_id = b.vec_id
            ) WHERE cos >= {_SEM_TAU}
        ),
        verdicts AS (
            SELECT CASE WHEN d2_a > d2_b
                         OR (d2_a = d2_b AND id_a > id_b)
                        THEN id_a ELSE id_b END AS removed_id,
                   CASE WHEN d2_a > d2_b
                         OR (d2_a = d2_b AND id_a > id_b)
                        THEN id_b ELSE id_a END AS winner_id,
                   c, cos
            FROM sims
        )
        SELECT removed_id, c AS cluster,
               CAST(count(*) AS BIGINT) AS n_better_twins,
               min(winner_id) AS kept_example,
               round(max(cos), 6) AS sim_max
        FROM verdicts
        GROUP BY removed_id, c
    """,
    origin="LLM",
    doc=f"SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic "
        "deduplication that bounds the quadratic inside k-means clusters "
        "— pairs are generated ONLY within a cluster, never across the "
        f"corpus. A member is REMOVED when some same-cluster member with "
        f"cos >= {_SEM_TAU} sits closer to the centroid (exact integer "
        "d2; ties by vec_id) — the paper's keep-the-most-central rule "
        "made deterministic. Output: one row per removed vector with its "
        "cluster, dominating-twin count, min kept example and 6-dp max "
        "similarity. Runs the same fixed-point Lloyd pipeline CODE as "
        "q_emb_kmeans/q_emb_silhouette, with a cost-based codebook "
        "cutover (r15, _SEM_K_SQL): the fixed reporting k below 20k "
        "vectors, the E-KNN-IVF growth law k = 2*floor(sqrt(N)) with "
        "Arrow-BLAS assignment above it — fixed k makes the "
        "within-cluster stage Sigma |cluster|^2 ~ N^2/k (measured exp "
        "2.1 at SF3 in SCALING.json; sqrt-N clusters cap it at ~N^1.5 "
        "BLAS FLOPs, measured flat), and cluster count growing with "
        "corpus size is the SemDeDup paper's own operating regime. The "
        "oracle replays the identical clustering with the identical k "
        "choice as a SQL scalar subquery. The "
        "within-cluster pair stage is ONE "
        "Arrow-batched BLAS matmul per cluster (applyInPandas on the "
        "cluster key): G = X @ X^T in int64 is EXACT (|xe| <= ~5.8e5 at "
        "64 dims keeps every dot < 2^45), norms are G's diagonal, and "
        "cos = f8(G)/sqrt(f8(na)*f8(nb)) applies the identical IEEE cast/"
        "mul/sqrt/div sequence as the oracle — bit-identical before the "
        "6-dp round, which stays on the Spark side (engine half-up, not "
        "numpy half-even). The r9 rewrite replaced a cluster-key equi "
        "self-join whose per-pair zip_with/aggregate dot ran in Catalyst's "
        "INTERPRETED HOF evaluator (~3.5 s of the 5 s at sf0.1) with the "
        "matmul — dense similarity is exactly where vectorized kernels "
        "beat row expressions ~100x (the paper runs this stage on GPUs). "
        "Scale shape: the round-2 centroid table is checkpointed (k rows) "
        "and broadcast over one vector scan; the only pair-stage shuffle "
        "is |vectors| rows hash-partitioned BY CLUSTER, and per-cluster "
        "work/memory is O(s_c^2) — bounded because SemDeDup scales k WITH "
        "the corpus (k ~ n/target-cluster-size; the paper uses 50k "
        "clusters for LAION-440M) keeping s_c constant, and the cluster-"
        "key cardinality then exceeds any executor count (no 8-key skew "
        "at real scale; k = 8 here mirrors the q_emb_kmeans contract at "
        "test sf). No all-pairs stage ever materializes across clusters.",
)
def q_dedup_semantic(spark, sf_dir):
    import math

    import numpy as np
    import pandas as pd

    n = row_count(sf_dir, "embeddings")
    if n < _SEM_BLAS_MIN_VECS:
        vecs, c2 = _km_vectors_and_round2_centroids(spark, sf_dir)
        c2 = c2.localCheckpoint(eager=True)
        a2 = _km_assign(vecs, c2)
    else:
        k_sem = 2 * int(math.floor(math.sqrt(float(n))))
        vecs, a2 = _km_vectors_and_a2_blas(spark, sf_dir, k_sem)
    mem = a2.join(vecs, "vec_id").select("vec_id", "c", "d2", "xe")

    out_schema = (
        "removed_id long, cluster long, n_better_twins long, "
        "kept_example long, sim_max_raw double"
    )

    def _cluster_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "removed_id": pd.Series(dtype="int64"),
                "cluster": pd.Series(dtype="int64"),
                "n_better_twins": pd.Series(dtype="int64"),
                "kept_example": pd.Series(dtype="int64"),
                "sim_max_raw": pd.Series(dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        # Sorting by vec_id makes triu indices (i < j) coincide with the
        # oracle's id_a < id_b orientation, so the keep-the-most-central
        # verdict reduces to d2_i > d2_j (tie -> the larger id_j loses).
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(np.int64)
        d2 = pdf["d2"].to_numpy(np.int64)
        X = np.stack(pdf["xe"].to_numpy()).astype(np.int64)
        G = X @ X.T  # exact: 64 * (5.8e5)^2 ~ 2e13 << 2^63
        nn = G.diagonal().astype(np.float64)
        cos = G.astype(np.float64) / np.sqrt(nn[:, None] * nn[None, :])
        i, j = np.triu_indices(len(pdf), 1)
        keep = cos[i, j] >= _SEM_TAU
        if not keep.any():
            return empty
        i, j, sim = i[keep], j[keep], cos[i, j][keep]
        a_loses = d2[i] > d2[j]
        res = pd.DataFrame(
            {
                "removed_id": np.where(a_loses, ids[i], ids[j]),
                "winner_id": np.where(a_loses, ids[j], ids[i]),
                "cos": sim,
            }
        )
        g = (
            res.groupby("removed_id", sort=False)
            .agg(
                n_better_twins=("winner_id", "size"),
                kept_example=("winner_id", "min"),
                sim_max_raw=("cos", "max"),
            )
            .reset_index()
        )
        g["cluster"] = np.int64(pdf["c"].iloc[0])
        return g[
            ["removed_id", "cluster", "n_better_twins", "kept_example",
             "sim_max_raw"]
        ]

    return mem.groupBy("c").applyInPandas(_cluster_dedup, out_schema).select(
        "removed_id",
        "cluster",
        "n_better_twins",
        "kept_example",
        F.round("sim_max_raw", 6).alias("sim_max"),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining: cross-cluster nearest neighbors for contrastive
# training (in-batch negatives are easy; the valuable negatives are the
# most-similar examples the clustering calls DIFFERENT).
# ---------------------------------------------------------------------------


@register(
    "q_emb_hard_negatives",
    oracle=f"""
        WITH {_KM_A2_SQL},
        n2 AS (
            SELECT vec_id,
                   (SELECT SUM(x * x) FROM (SELECT unnest(xe) AS x)) AS nn
            FROM ev
        ),
        probes AS (
            SELECT a.vec_id AS probe_id, a.c AS probe_c, e.xe AS pe,
                   n.nn AS pn
            FROM a2 a JOIN ev e ON e.vec_id = a.vec_id
            JOIN n2 n ON n.vec_id = a.vec_id
            WHERE a.vec_id < {_N_PROBES}
        ),
        scored AS (
            SELECT p.probe_id, a.vec_id, a.c AS cluster,
                   CAST((SELECT SUM(x * y)
                         FROM (SELECT unnest(p.pe) AS x,
                                      unnest(e.xe) AS y)) AS DOUBLE)
                       / sqrt(CAST(p.pn AS DOUBLE) * CAST(n.nn AS DOUBLE))
                       AS sim_raw
            FROM probes p
            JOIN a2 a ON a.c <> p.probe_c
            JOIN ev e ON e.vec_id = a.vec_id
            JOIN n2 n ON n.vec_id = a.vec_id
        )
        SELECT probe_id, vec_id, cluster, round(sim_raw, 6) AS sim,
               rn AS rank
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                           ORDER BY sim_raw DESC, vec_id)
                        AS rn
              FROM scored)
        WHERE rn <= {_TOP_K}
    """,
    origin="LLM",
    doc=f"Hard-negative mining for contrastive/embedding training: for "
        f"each probe (vec_id < {_N_PROBES}), the top-{_TOP_K} most "
        "cosine-similar vectors OUTSIDE the probe's k-means cluster — "
        "similar-but-semantically-different examples, the negatives that "
        "actually move a contrastive loss (in-batch random negatives are "
        "trivially easy). Pins the IDENTICAL fixed-point Lloyd clustering "
        "as q_emb_kmeans/q_dedup_semantic via the shared oracle prefix; "
        "similarity uses the same exact int64 fixed-point dots/norms with "
        "ONE double division per pair, and ranking carries the house "
        "(sim DESC, vec_id) unique tie-break. Scale shape: the probe set "
        "is a bounded broadcast (the q_knn_cosine declaration) over one "
        "vector scan — a bounded nested loop, never vectors x vectors; "
        "the cluster filter rides the scan side and the per-probe top-k "
        "is a window over |probes| x |vecs| scored rows, "
        "TakeOrdered-shaped per probe. The corpus-scale variant swaps "
        "the brute-force scan for the E-KNN-IVF probe-list join and "
        "keeps this exact contract as its truth twin.",
)
def q_emb_hard_negatives(spark, sf_dir):
    vecs, c2 = _km_vectors_and_round2_centroids(spark, sf_dir)
    c2 = c2.localCheckpoint(eager=True)
    a2 = _km_assign(vecs, c2)
    # r16 (guide §2.4): nn is a ROW-WISE function of xe — it was built
    # as a separate DataFrame and equi-joined back on vec_id, adding a
    # whole join (and a third scan of the embeddings) for a column the
    # projection can carry. Same exact int64 aggregate, zero joins.
    mem = a2.join(vecs, "vec_id").withColumn(
        "nn",
        F.expr(
            "aggregate(transform(xe, x -> x * x), CAST(0 AS BIGINT),"
            " (acc, x) -> acc + x)"
        ),
    )
    probes = (
        mem.filter(F.col("vec_id") < _N_PROBES)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("c").alias("probe_c"),
            F.col("xe").alias("pe"),
            F.col("nn").alias("pn"),
        )
    )
    dot = F.expr(
        "aggregate(zip_with(pe, xe, (x, y) -> x * y), CAST(0 AS BIGINT),"
        " (acc, x) -> acc + x)"
    )
    scored = (
        F.broadcast(probes)
        .join(mem, F.col("c") != F.col("probe_c"))
        .select(
            "probe_id",
            "vec_id",
            F.col("c").alias("cluster"),
            (
                dot.cast("double")
                / F.sqrt(F.col("pn").cast("double") * F.col("nn").cast("double"))
            ).alias("sim_raw"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("sim_raw").desc(), "vec_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select(
            "probe_id", "vec_id", "cluster",
            F.round("sim_raw", 6).alias("sim"), "rank",
        )
    )


# ---------------------------------------------------------------------------
# ANN index health: oracle-checked recall@k curve of IVF vs brute force.
# ---------------------------------------------------------------------------

# Both keys are registered above in this module, so the (lazily filled)
# REGISTRY already holds them here.
from xml_processor_spark.registry import REGISTRY as _REG  # noqa: E402

_ANN_IVF_SQL = _REG["E-KNN-IVF"].oracle
_ANN_EXACT_SQL = _REG["q_knn_cosine"].oracle


@register(
    "q_emb_ann_recall",
    oracle=f"""
        WITH ivf AS ({_ANN_IVF_SQL}),
        ex AS ({_ANN_EXACT_SQL}),
        j AS (
            SELECT i.probe_id, i.rank AS ra, e.rank AS re
            FROM ivf i JOIN ex e
              ON e.probe_id = i.probe_id AND e.vec_id = i.vec_id
        ),
        ks AS (SELECT unnest(generate_series(1, {_TOP_K})) AS k),
        np AS (SELECT CAST(count(DISTINCT probe_id) AS BIGINT) AS n FROM ex)
        SELECT ks.k, CAST(count(j.ra) AS BIGINT) AS n_hits,
               round(count(j.ra) / CAST(ks.k * np.n AS DOUBLE), 6)
                   AS mean_recall
        FROM ks CROSS JOIN np
        LEFT JOIN j ON j.ra <= ks.k AND j.re <= ks.k
        GROUP BY ks.k, np.n
    """,
    origin="LLM",
    doc=f"ANN index health check — the recall@k curve (k = 1..{_TOP_K}) "
        "of the IVF index against the brute-force truth, as an "
        "ORACLE-CHECKED operator rather than a test-only claim: both "
        "sides are the exact registered pipelines (the E-KNN-IVF and "
        "q_knn_cosine oracle texts are composed verbatim as CTEs, so "
        "this key can never drift from the keys it audits). recall@k "
        "counts a (probe, neighbor) pair iff it sits in the top-k of "
        "BOTH rankings, averaged over probes. This is the dashboard "
        "number a vector-search team alerts on after each index "
        "rebuild. Scale shape: both top-k lists are |probes|·k rows; "
        "everything downstream of the shared index/scan pipelines is "
        "bounded-table algebra (the k-grid join is a ≤50-row nested "
        "loop).",
)
def q_emb_ann_recall(spark, sf_dir):
    ivf = e_knn_ivf(spark, sf_dir).select(
        "probe_id", "vec_id", F.col("rank").alias("ra")
    )
    ex = q_knn_cosine(spark, sf_dir).select(
        "probe_id", "vec_id", F.col("rank").alias("re")
    )
    j = ivf.join(ex, ["probe_id", "vec_id"]).select("ra", "re")
    ks = spark.range(1, _TOP_K + 1).select(F.col("id").alias("k"))
    np_ = ex.agg(F.countDistinct("probe_id").alias("n"))
    hits = (
        ks.join(
            j, (F.col("ra") <= F.col("k")) & (F.col("re") <= F.col("k")),
            "left",
        )
        .groupBy("k")
        .agg(F.count("ra").alias("n_hits"))
    )
    return hits.crossJoin(F.broadcast(np_)).select(
        "k",
        "n_hits",
        F.round(
            F.col("n_hits").cast("double")
            / (F.col("k") * F.col("n")).cast("double"),
            6,
        ).alias("mean_recall"),
    )
