"""Off-corpus stress for the LSH scale paths (VERDICT r5 #7).

The LSH parameters were tuned against the sf0.1 corpus (5,000 docs /
2,000 vectors). These tests synthesize a deterministic 10x documents
corpus (50,000 docs) and a 4x embeddings corpus (8,000 vectors) into
/tmp, with near-duplicates injected BY CONSTRUCTION — so ground truth
is known without any quadratic oracle — and assert that the recall and
candidate-fraction bounds that make the LSH paths the 100 TB answer
hold off the tuned corpus.

Corpus design (seed 7, regenerated only if the parquet is absent):
 - documents: 45,000 unique 60-token docs over a 10,000-word synthetic
   vocabulary (3-word-shingle space is huge, so accidental shingle
   sharing between unique docs is negligible), plus 5,000 near-dups:
   doc 45000+i = doc i with ONE token appended (58 of 59 shingles
   shared, J = 0.983 — above the 0.95 MinHash design point, where
   P(candidate) = 1-(1-J^8)^4 = 0.9997).
 - embeddings: 7,800 unique N(0,1) 64-dim vectors plus 200 near-dups
   vec 7800+i = vec i + 0.02*noise (cosine ~ 0.9998). The embeddings
   corpus is 4x, not 10x: for i.i.d. geometry the candidate fraction is
   scale-invariant (it is a per-pair collision probability), and the
   exact-rescore stage is O(candidates), so 4x already exercises the
   off-corpus behavior while keeping the test under ~a minute; the 10x
   blow-up is carried by the documents side.
 - events: ~100k rows / 1,000 users over 100 days with a CLOSED-FORM
   activity pattern (user u active on day d iff (u+d)%3==0; types cycle
   so every event is an SCD2 change point) — rolling-active DAU/WAU and
   the point-in-interval join have exact expected values at 10x the
   sf0.01 event volume, no oracle needed.

Measured at seed 7 (first run of this test, recorded per VERDICT r5 #7):
 - E-MINHASH-LSH @ 50k docs: recall 1.0 (5000/5000 injected pairs),
   candidate fraction 4.0e-06 (5,009 pairs of 1.25e9).
 - E-EMB-LSH @ 8k vectors: recall 1.0 (200/200 injected pairs),
   candidate fraction 0.532 (1.70e7 of 3.2e7) — matching the 0.53
   measured on the tuned corpus: sign-LSH collision probability for
   near-orthogonal pairs is 1-(1-2^-6)^48 = 0.53, a geometry constant,
   not a corpus artifact. The pruning value rises with dimension and
   band bits; the bound asserted here pins today's contract.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

STRESS_DIR = "/tmp/xps_stress10x"

_VOCAB = 10_000
_DOC_TOKENS = 60
_N_UNIQ_DOCS = 45_000
_N_DUP_DOCS = 5_000
_EMB_DIM = 64
_N_UNIQ_VECS = 7_800
_N_DUP_VECS = 200


def _generate(path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(7)

    # --- documents ---------------------------------------------------
    toks = rng.integers(0, _VOCAB, size=(_N_UNIQ_DOCS, _DOC_TOKENS))
    texts = [" ".join(f"w{t}" for t in row) for row in toks]
    extra = rng.integers(0, _VOCAB, size=_N_DUP_DOCS)
    texts += [f"{texts[i]} w{extra[i]}" for i in range(_N_DUP_DOCS)]
    n = len(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), type=pa.int64()),
                "text": pa.array(texts, type=pa.string()),
                "lang": pa.array(
                    [("en", "de", "fr", "zh")[i % 4] for i in range(n)]
                ),
                "source": pa.array([f"src{i % 5}" for i in range(n)]),
                "n_chars": pa.array(
                    [len(t) for t in texts], type=pa.int64()
                ),
            }
        ),
        os.path.join(path, "documents.parquet"),
    )

    # --- embeddings --------------------------------------------------
    base = rng.standard_normal((_N_UNIQ_VECS, _EMB_DIM))
    dups = base[:_N_DUP_VECS] + 0.02 * rng.standard_normal(
        (_N_DUP_VECS, _EMB_DIM)
    )
    mat = np.vstack([base, dups]).astype(np.float32)
    m = len(mat)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(m), type=pa.int64()),
                "embedding": pa.array(
                    [row for row in mat], type=pa.list_(pa.float32())
                ),
                "label": pa.array(
                    (np.arange(m) % 4).astype(np.int32), type=pa.int32()
                ),
            }
        ),
        os.path.join(path, "embeddings.parquet"),
    )

    # --- events ------------------------------------------------------
    # Fully deterministic activity pattern (no rng): user u is active on
    # day d (of _EV_DAYS) iff (u + d) % 3 == 0 — every DAU/WAU value is
    # computable in closed form. Each active (u, d) carries _EV_PER_DAY
    # events at distinct within-day seconds (u*80 + i < 86400) whose
    # types cycle (d + i) % 3; consecutive events of a user ALWAYS change
    # type (within a day the cycle steps; across active days d -> d+3 the
    # last type (d+2)%3 differs from the next first d%3), so every event
    # is an SCD2 change point — exact interval-join truth by construction.
    _generate_events(path)


_EV_USERS = 1_000
_EV_DAYS = 100
_EV_PER_DAY = 3
_EV_TYPES = ("view", "click", "purchase")
_EV_BASE = np.datetime64("2025-01-01T00:00:00", "us")


def _generate_events(path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows_u, rows_ts, rows_ty = [], [], []
    for u in range(_EV_USERS):
        for d in range(_EV_DAYS):
            if (u + d) % 3 != 0:
                continue
            for i in range(_EV_PER_DAY):
                rows_u.append(u)
                rows_ts.append(
                    _EV_BASE
                    + np.timedelta64(d, "D")
                    + np.timedelta64(u * 80 + i, "s")
                )
                rows_ty.append(_EV_TYPES[(d + i) % 3])
    n = len(rows_u)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), type=pa.int64()),
                "ts": pa.array(rows_ts, type=pa.timestamp("us")),
                "user_id": pa.array(rows_u, type=pa.int64()),
                "event_type": pa.array(rows_ty, type=pa.string()),
                "value": pa.array(
                    [float(i % 7) for i in range(n)], type=pa.float64()
                ),
                "props": pa.array(["{}"] * n, type=pa.string()),
            }
        ),
        os.path.join(path, "events.parquet"),
    )


@pytest.fixture(scope="module")
def stress_dir():
    if not all(
        os.path.exists(os.path.join(STRESS_DIR, f"{t}.parquet"))
        for t in ("documents", "embeddings", "events")
    ):
        _generate(STRESS_DIR)
    return STRESS_DIR


# 16x embeddings corpus (VERDICT r9 #8: raise the ANN/LSH stress multiplier
# so the recall/candidate-fraction geometry pins stay honest as fixtures
# grow). Layout keeps the 4x corpus as a PREFIX — ids 0..7799 unique,
# 7800..7999 the 200 injected cos~0.9998 dups of 0..199, 8000..31999 more
# uniques — so truth pair ids are unchanged and the τ=0.35 family (whose
# candidate volume is a documented ~0.53·n²/2 geometry floor, not a scale
# path) can keep pinning at the 4x slice.
STRESS16_DIR = "/tmp/xps_stress16x"
_N_VEC_16X = 32_000


@pytest.fixture(scope="module")
def stress16_dir():
    import pyarrow as pa
    import pyarrow.parquet as pq

    dst = os.path.join(STRESS16_DIR, "embeddings.parquet")
    if not os.path.exists(dst):
        os.makedirs(STRESS16_DIR, exist_ok=True)
        rng = np.random.default_rng(7)
        base = rng.standard_normal((_N_VEC_16X - _N_DUP_VECS, _EMB_DIM))
        dups = base[:_N_DUP_VECS] + 0.02 * rng.standard_normal(
            (_N_DUP_VECS, _EMB_DIM)
        )
        mat = np.vstack(
            [base[:_N_UNIQ_VECS], dups, base[_N_UNIQ_VECS:]]
        ).astype(np.float32)
        m = len(mat)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(m), type=pa.int64()),
                    "embedding": pa.array(
                        [row for row in mat], type=pa.list_(pa.float32())
                    ),
                    "label": pa.array(
                        (np.arange(m) % 4).astype(np.int32),
                        type=pa.int32(),
                    ),
                }
            ),
            dst,
        )
    return STRESS16_DIR


@pytest.mark.slow
def test_minhash_lsh_bounds_hold_at_10x(spark, queries, stress_dir):
    """Recall >= 0.99 on injected J=0.983 pairs AND candidate fraction
    < 1e-4 at 50k docs: the banded equi join must keep finding real
    near-dups without drifting toward the quadratic bucket blow-up that
    a too-coarse band family produces on a bigger corpus."""
    pairs = (
        queries["E-MINHASH-LSH"](spark, stress_dir)
        .toPandas()
    )
    got = set(zip(pairs["id_a"], pairs["id_b"]))
    truth = {(i, _N_UNIQ_DOCS + i) for i in range(_N_DUP_DOCS)}
    recall = len(truth & got) / len(truth)
    n = _N_UNIQ_DOCS + _N_DUP_DOCS
    frac = len(got) / (n * (n - 1) / 2)
    assert recall >= 0.99, f"minhash recall {recall:.4f} at 10x corpus"
    assert frac < 1e-4, f"minhash candidate fraction {frac:.2e} at 10x corpus"


@pytest.mark.slow
def test_emb_lsh_bounds_hold_at_4x(spark, queries, stress_dir):
    """Recall >= 0.99 on injected cosine~0.9998 pairs AND candidate
    fraction < 0.6 at 8k vectors. 0.6 is the geometry bound for this
    band family (1-(1-2^-6)^48 = 0.53 for near-orthogonal pairs) — the
    assertion catches a regression to all-pairs (fraction 1.0) or a
    band-family change that silently destroys recall."""
    from xml_processor_spark.functions.llm_dedup import _emb_lsh_candidates

    out = queries["E-EMB-LSH"](spark, stress_dir).select("id_a", "id_b").toPandas()
    got = set(zip(out["id_a"], out["id_b"]))
    truth = {(i, _N_UNIQ_VECS + i) for i in range(_N_DUP_VECS)}
    recall = len(truth & got) / len(truth)
    m = _N_UNIQ_VECS + _N_DUP_VECS
    frac = _emb_lsh_candidates(spark, stress_dir).count() / (m * (m - 1) / 2)
    assert recall >= 0.99, f"emb-lsh recall {recall:.4f} at 4x corpus"
    assert frac < 0.6, f"emb-lsh candidate fraction {frac:.3f} at 4x corpus"


@pytest.mark.slow
def test_dedup_spans_exact_at_10x(spark, queries, stress_dir):
    """Span detection at 50k docs has a fully known answer: each injected
    pair shares exactly its 60 leading tokens (the appended 61st token
    breaks the final anchor), so the anchor-join + diagonal merge must
    emit exactly one span per injected pair — (start_a=1, start_b=1,
    span_tokens=60) — and nothing else (8-token anchors over a
    10,000-word vocabulary make accidental cross-doc anchors
    astronomically unlikely). Verifies the gaps-and-islands merge at
    ~265k anchor rows, 10x the tuned corpus."""
    out = queries["q_dedup_spans"](spark, stress_dir).toPandas()
    assert len(out) == _N_DUP_DOCS, f"expected {_N_DUP_DOCS} spans, got {len(out)}"
    assert (out["span_tokens"] == _DOC_TOKENS).all()
    assert (out["start_a"] == 1).all() and (out["start_b"] == 1).all()
    got = set(zip(out["doc_a"], out["doc_b"]))
    assert got == {(i, _N_UNIQ_DOCS + i) for i in range(_N_DUP_DOCS)}


@pytest.mark.slow
def test_emb_lsh_hi_bounds_hold_at_16x(spark, queries, stress16_dir):
    """The realistic-τ scale path (VERDICT r6 #3; multiplier 4x → 16x per
    VERDICT r9 #8): at the declared operating point (τ=0.9, 16-bit x
    32-band, r10 integer-exact md5 plane family) the candidate fraction
    must be < 0.01 (theory: 32·2^-16 ≈ 5e-4 for random pairs — three
    orders tighter than the τ=0.35 family's 0.53 geometry floor) and
    recall ≥ 0.9 over the known-by-construction truth: the query's own
    planted pairs (cos ≈ 0.978, every 5th vector, negated ids) plus the
    corpus's 200 injected cos~0.9998 dups — both far enough above τ
    that band-survival probability is ≈ 1. Runs on the 32k-vector 16x
    corpus → 38.4k rows after planting → 7.4e8 possible pairs."""
    from xml_processor_spark.functions.llm_dedup import (
        _EMB_HI_BANDS,
        _EMB_HI_BITS,
        _emb_hi_corpus,
        _int_lsh_pairs,
    )

    out = (
        queries["E-EMB-LSH-HI"](spark, stress16_dir)
        .select("id_a", "id_b")
        .toPandas()
    )
    got = set(zip(out["id_a"], out["id_b"]))
    m = _N_VEC_16X
    planted = {(-(i + 1), i) for i in range(0, m, 5)}
    injected = {(i, _N_UNIQ_VECS + i) for i in range(_N_DUP_VECS)}
    truth = planted | injected
    recall = len(truth & got) / len(truth)
    corpus = _emb_hi_corpus(spark, stress16_dir)
    n = m + len(planted)
    frac = (
        _int_lsh_pairs(corpus, _EMB_HI_BANDS, _EMB_HI_BITS).count()
        / (n * (n - 1) / 2)
    )
    assert recall >= 0.9, f"emb-lsh-hi recall {recall:.4f} at 16x corpus"
    assert frac < 0.01, f"emb-lsh-hi candidate fraction {frac:.2e} at 16x"


@pytest.mark.slow
def test_dedup_cluster_converges_in_diameter_rounds_at_10x(spark, queries, stress_dir):
    """Connected components is the one operator whose ITERATION COUNT is
    data-dependent (VERDICT r6 #8). The 10x corpus's pair graph is 5,000
    diameter-1 components (each injected dup pairs with exactly its source
    doc), so star contraction must finish in <= 2 rounds — and every dup
    must resolve to root = its source, the smaller doc_id."""
    from xml_processor_spark.functions.llm_dedup import (
        _star_contract,
        q_dedup_ngram_jaccard,
    )

    pairs = q_dedup_ngram_jaccard(spark, stress_dir).select("id_a", "id_b")
    labels, rounds = _star_contract(spark, pairs)
    assert rounds <= 2, f"diameter-1 graph took {rounds} rounds"
    got = {(r["id"], r["root"]) for r in labels.collect()}
    assert got == {(_N_UNIQ_DOCS + i, i) for i in range(_N_DUP_DOCS)}


def test_star_contraction_rounds_on_path_and_star(spark):
    """Synthetic pin of the round bound on a shape the corpus never
    produces: a 10-node path (diameter 9) next to a 4-node star (diameter
    2). Both components must resolve to their min id — a loop that
    stopped early would mislabel the far end of the path — within 10
    rounds."""
    from xml_processor_spark.functions.llm_dedup import _star_contract

    path = [(i, i + 1) for i in range(100, 109)]          # 100-...-109
    star = [(200, 201), (200, 202), (200, 203)]           # center 200
    pairs = spark.createDataFrame(path + star, ["id_a", "id_b"])
    labels, rounds = _star_contract(spark, pairs)
    assert rounds <= 10, f"path diameter 9 took {rounds} rounds"
    got = {(r["id"], r["root"]) for r in labels.collect()}
    assert got == {(i, 100) for i in range(101, 110)} | {
        (i, 200) for i in range(201, 204)
    }


def _ev_active_days(u: int) -> int:
    """Days in 0.._EV_DAYS-1 with (u + d) % 3 == 0."""
    r = (-u) % 3
    return len(range(r, _EV_DAYS, 3))


@pytest.mark.slow
def test_rolling_active_exact_at_100k_events(spark, queries, stress_dir):
    """The explode+equi spine rewrite (ADVICE r6) at 100k events has a
    closed-form answer: user u is active on day d iff (u+d)%3==0, so
    DAU(d) = 334 when d%3==0 else 333 (the 0-residue class has 334 of
    1,000 users), and the trailing-7-day WAU covers >= 3 consecutive
    days for d >= 2 — all three residue classes — so WAU7 = 1,000
    except the clipped head (334 on day 0, 667 on day 1). Every one of
    the 100 spine rows must match exactly."""
    import datetime

    out = queries["q_events_rolling_active"](spark, stress_dir).toPandas()
    assert len(out) == _EV_DAYS
    base = datetime.date(2025, 1, 1)
    for _, row in out.iterrows():
        d = (row["d"] - base).days if hasattr(row["d"], "days") else (
            row["d"].toordinal() - base.toordinal()
        )
        want_dau = 334 if d % 3 == 0 else 333
        want_wau = {0: 334, 1: 667}.get(d, 1000)
        assert row["dau"] == want_dau, f"day {d}: dau {row['dau']} != {want_dau}"
        assert row["wau7"] == want_wau, f"day {d}: wau7 {row['wau7']} != {want_wau}"


@pytest.mark.slow
def test_join_interval_exact_at_100k_events(spark, queries, stress_dir):
    """Every stress event is an SCD2 change point by construction
    (consecutive per-user events always change type), so the
    point-in-interval lookup must return exactly one row per event
    whose state equals the event's OWN type, and each user's max
    version must equal their event count — an exact total check of the
    interval join at 100k events / 1,000 users."""
    from pyspark.sql import functions as F

    from xml_processor_spark.io import table

    n_events = sum(_ev_active_days(u) * _EV_PER_DAY for u in range(_EV_USERS))
    out = queries["q_join_interval"](spark, stress_dir)
    assert out.count() == n_events
    ev = table(spark, stress_dir, "events").select("event_id", "event_type")
    mismatched = (
        out.join(ev, "event_id")
        .filter(F.col("state") != F.col("event_type"))
        .count()
    )
    assert mismatched == 0
    vmax = {
        r["user_id"]: r["m"]
        for r in out.groupBy("user_id").agg(F.max("version").alias("m")).collect()
    }
    for u in range(_EV_USERS):
        want = _ev_active_days(u) * _EV_PER_DAY
        assert vmax[u] == want, f"user {u}: max version {vmax[u]} != {want}"


@pytest.mark.slow
def test_twap_exact_at_100k_events(spark, queries, stress_dir):
    """TWAP at 100k events has a closed form: each active (u, d) carries
    exactly 3 events at seconds u*80+{0,1,2} with values assigned from a
    global row counter mod 7 (generation order: u outer, d inner). The
    two 1-second gaps weight the first two values equally and drop the
    third, so twap(u, d) = (v0 + v1)/2 and n_intervals == 2 for EVERY
    group — asserted exactly for all ~33k groups by regenerating the
    counter."""
    out = queries["q_events_twap"](spark, stress_dir).toPandas()
    n_groups = sum(_ev_active_days(u) for u in range(_EV_USERS))
    assert len(out) == n_groups
    assert (out["n_intervals"] == 2).all()
    # regenerate the global value counter and check every group's twap
    want = {}
    c = 0
    for u in range(_EV_USERS):
        r = (-u) % 3
        for d in range(r, _EV_DAYS, 3):
            v0, v1 = c % 7, (c + 1) % 7
            want[(u, d)] = (v0 + v1) / 2
            c += 3
    base = np.datetime64("2025-01-01").astype("datetime64[D]")
    bad = 0
    for _, row in out.iterrows():
        d = (np.datetime64(row["d"]).astype("datetime64[D]") - base).astype(int)
        if abs(row["twap"] - want[(row["user_id"], int(d))]) > 1e-9:
            bad += 1
    assert bad == 0, f"{bad} of {len(out)} twap values off closed form"


@pytest.mark.slow
def test_ewma_matches_independent_numpy_at_100k_events(spark, queries, stress_dir):
    """EWMA vs an independent numpy re-implementation of the exact
    integer-weight definition over the stress corpus's 100 daily sums —
    every day must match to 1e-9 (both sides are ratios of the same
    exact integers)."""
    import pandas as pd

    out = queries["q_events_ewma"](spark, stress_dir).toPandas()
    ev = pd.read_parquet(os.path.join(stress_dir, "events.parquet"),
                         columns=["ts", "value"])
    ev["d"] = ev["ts"].values.astype("datetime64[D]")
    daily = (
        (ev["value"] * 100).round().astype(np.int64)
        .groupby(ev["d"]).sum().sort_index()
    )
    days = daily.index.values.astype("datetime64[D]").astype(int)
    vals = daily.values
    got = {np.datetime64(r["d"]).astype("datetime64[D]").astype(int): r["ewma_value"]
           for _, r in out.iterrows()}
    assert len(got) == len(days)
    day_to_v = dict(zip(days, vals))
    for d in days:
        wsum = wnorm = 0
        for off in range(8):
            src = d - off
            if src in day_to_v:
                w = 1 << (7 - off)
                wsum += int(day_to_v[src]) * w
                wnorm += w
        want = round(wsum / wnorm / 100, 6)
        assert abs(got[d] - want) < 1e-9, f"day {d}: {got[d]} != {want}"


@pytest.mark.slow
def test_convert_empty_when_funnel_types_absent(spark, queries, stress_dir):
    """The stress corpus has no 'signup' events, so the conversion-delay
    histogram must be EMPTY (not an error, not NULL rows) — the
    degenerate-funnel edge a real pipeline hits on day one."""
    assert queries["q_events_convert"](spark, stress_dir).count() == 0


@pytest.mark.slow
def test_pagerank_exact_on_disjoint_pair_graph_at_10x(spark, queries, stress_dir):
    """At 10x the pair graph is EXACTLY the 5,000 injected (i, 45000+i)
    edges (corpus design: accidental shingle sharing negligible — the
    cluster-convergence test already relies on this). Every node then
    has degree 1 and PageRank's fixpoint is reached at iteration 0:
    r = 0.15 + 0.85*r_neighbor = 1.0 exactly, in pure integer units.
    The top-20 must be doc_ids 0..19, every rank exactly 1.0 — a
    closed-form check that three distributed iterations preserve mass
    bit-for-bit at 50k docs."""
    out = queries["q_graph_pagerank"](spark, stress_dir).toPandas()
    assert list(out["id"]) == list(range(20))
    assert (out["degree"] == 1).all()
    assert (out["pagerank"] == 1.0).all()
    assert list(out["rank"]) == list(range(1, 21))


@pytest.mark.slow
def test_maxsim_recalls_planted_neighbor_at_4x(spark, queries, stress_dir):
    """Each probe i < 3 has a planted near-copy 7800+i (cosine ~0.9998).
    MaxSim of a near-copy ~= sum of sub-vector self-norms (~64 for
    N(0,1) 64-d) while random docs score far lower, so the planted copy
    must appear in the probe's top-5 at 8,000 candidates."""
    out = queries["q_emb_maxsim"](spark, stress_dir).toPandas()
    for probe in range(3):
        top = set(out[out["probe_id"] == probe]["vec_id"])
        assert 7800 + probe in top, f"probe {probe}: planted copy not in top-5"


def test_rare_shingle_bounds_hold_at_10x(spark, queries, stress_dir):
    """VERDICT r7 #6: q_dedup_rare_shingle joined the dedup surface after
    the last stress refresh. At 50k docs the construction gives exact
    truth: every injected pair (i, 45000+i) shares all 58 original
    3-shingles at df=2 (weight 7, the dup's one new shingle is df=1 and
    excluded), so wsim = 1.0; a random cross-doc shingle collision
    (expected ~3 in the 1e12 shingle space) contributes wsim ~ 7/406 =
    0.017, far under the 200-permille threshold. Assert recall AND
    precision >= 0.99 against the injected truth, and that the reported
    volume stays linear (no drift toward the quadratic blow-up the df<=8
    blocking exists to prevent)."""
    out = (
        queries["q_dedup_rare_shingle"](spark, stress_dir)
        .select("doc_a", "doc_b")
        .toPandas()
    )
    got = set(zip(out["doc_a"], out["doc_b"]))
    truth = {(i, _N_UNIQ_DOCS + i) for i in range(_N_DUP_DOCS)}
    recall = len(truth & got) / len(truth)
    precision = len(truth & got) / max(len(got), 1)
    n = _N_UNIQ_DOCS + _N_DUP_DOCS
    frac = len(got) / (n * (n - 1) / 2)
    assert recall >= 0.99, f"rare-shingle recall {recall:.4f} at 10x"
    assert precision >= 0.99, f"rare-shingle precision {precision:.4f} at 10x"
    assert frac < 1e-4, f"rare-shingle reported fraction {frac:.2e} at 10x"


@pytest.mark.slow
def test_graph_triangles_closed_form_at_10x(spark, queries, stress_dir):
    """VERDICT r8 #4: the triangle census at 50k docs has a closed-form
    answer because the 10x pair graph is EXACTLY the 5,000 disjoint
    injected (i, 45000+i) edges (the pagerank/cluster stress tests
    already rely on this construction): every vertex has degree 1, so
    n_edges = 5000, n_wedges = sum d(d-1)/2 = 0, n_triangles = 0 and
    transitivity is NULL (0/0 guarded). The two-equi-join census and the
    wedge aggregation must reproduce this exactly off the tuned corpus —
    a drift toward spurious pairs (hot-shingle posting-list blow-up)
    would surface here as nonzero wedges before it surfaces as wrong
    dedup output. Measured at seed 7 on local[32]: ~19 s wall (the
    checkpointed pair list is built once and read by all five plan
    branches)."""
    import time

    t0 = time.time()
    row = queries["q_graph_triangles"](spark, stress_dir).collect()[0]
    wall = time.time() - t0
    assert row.n_edges == _N_DUP_DOCS
    assert row.n_wedges == 0
    assert row.n_triangles == 0
    assert row.transitivity is None
    assert wall < 120, f"triangle census took {wall:.0f}s at 10x"


@pytest.mark.slow
def test_dedup_degree_closed_form_at_10x(spark, queries, stress_dir):
    """VERDICT r8 #4 twin: the degree histogram at 50k docs must be the
    single row (degree=1, n_docs=10000, example_doc=0) — every doc in an
    injected pair has exactly one >=0.8-Jaccard neighbor and doc 0 is
    the smallest participating id. Any accidental cross-pair candidate
    at 10x would mint a degree-2 row. Measured at seed 7 on local[32]:
    ~8 s wall."""
    import time

    t0 = time.time()
    rows = queries["q_dedup_degree"](spark, stress_dir).collect()
    wall = time.time() - t0
    assert len(rows) == 1
    r = rows[0]
    assert (r.degree, r.n_docs, r.example_doc) == (1, 2 * _N_DUP_DOCS, 0)
    assert wall < 120, f"degree histogram took {wall:.0f}s at 10x"


@pytest.mark.slow
def test_semantic_dedup_removes_planted_twin_at_4x(spark, queries, stress_dir):
    """SemDeDup at the 4x embeddings corpus: each planted near-copy
    (i, 7800+i, cos ~ 0.9998) lands in the same k-means cluster (the
    vectors are nearly identical, so their nearest centroid agrees) and
    far above the 0.35 bar, so every planted pair must surface at least
    one removed member — the centroid-dominance rule fires on ~every
    twin relation. Random unique vectors may also pair above 0.35
    within a cluster; assert the planted recall >= 0.99 and that no
    removed row lacks a kept example."""
    out = queries["q_dedup_semantic"](spark, stress_dir).collect()
    removed = {r.removed_id for r in out}
    hit = sum(
        1 for i in range(_N_DUP_VECS) if i in removed or _N_UNIQ_VECS + i in removed
    )
    assert hit / _N_DUP_VECS >= 0.99, f"planted-twin recall {hit / _N_DUP_VECS:.3f}"
    for r in out:
        assert r.kept_example is not None and r.kept_example != r.removed_id
        assert r.sim_max >= 0.35


@pytest.mark.slow
def test_dsir_no_separation_on_identical_distributions_at_10x(spark, queries, stress_dir):
    """Negative control for DSIR at 50k docs: the stress corpus assigns
    langs round-robin over ONE shared token distribution, so the
    'target' (en) and raw hashed-bigram LMs are near-identical and every
    language's mean importance weight must sit near zero — a corpus
    where DSIR separates langs here would mean the weights reflect the
    hash family, not the data. Bound: |mean logw| < 0.05 for every lang
    (sampling noise over ~12.5k docs/lang), and the en-vs-rest gap must
    be an order of magnitude below the real-corpus separation (~0.5)."""
    import pandas as pd

    rows = queries["q_text_dsir"](spark, stress_dir).collect()
    df = pd.DataFrame([(r.lang, r.logw) for r in rows], columns=["lang", "w"])
    means = df.groupby("lang")["w"].mean()
    for lang, m in means.items():
        assert abs(m) < 0.05, f"{lang} mean weight {m:.4f} not ~0 on identical dists"
    gap = means["en"] - means.drop("en").mean()
    assert abs(gap) < 0.05, f"spurious en separation {gap:.4f}"


@pytest.mark.slow
def test_lsh_bucket_audit_tracks_planted_pairs_at_10x(spark, queries, stress_dir):
    """The bucket audit at 50k docs must predict the candidate volume the
    banded join would emit: every doc signs (60-token docs), so each of
    the 2 bands holds all 50k docs; planted J=0.983 pairs collide in a
    band with p = 0.983^4 ~ 0.93 while random pairs almost never do, so
    total cand_pairs across bands must land in [5000, 30000] (~2 bands x
    5000 x 0.93 plus rare chains) — far from both failure modes: ~0
    (band family stopped hashing shingles) and ~1e6+ (family collapsed
    toward shared buckets). Max bucket stays tiny (no hot template)."""
    rows = queries["q_dedup_lsh_buckets"](spark, stress_dir).collect()
    assert len(rows) == 2  # one row per band
    n = _N_UNIQ_DOCS + _N_DUP_DOCS
    total_cand = sum(r.cand_pairs for r in rows)
    for r in rows:
        assert r.n_docs == n, f"band {r.band}: {r.n_docs} signed docs != {n}"
        assert r.max_bucket <= 10, f"band {r.band}: hot bucket {r.max_bucket}"
    assert 5_000 <= total_cand <= 30_000, f"cand volume {total_cand} off-model"


@pytest.mark.slow
def test_dedup_incremental_exact_at_10x(spark, queries, stress_dir):
    """Batch-vs-index dedup at 50k docs: the injected near-dup pairs
    (i, 45000+i) land in the increment exactly when i % 5 == 0 (both
    sides share the mod-5 class by construction), always oriented with
    the larger id as the admitted doc and flagged new-new. Unique docs
    share no 3-shingle at a 1e12 feature space, so the output is the
    EXACT 1,000-pair set — and the shingle-blocked join must deliver it
    in bounded wall time (the 23.9s unigram-blocking regression at
    sf0.1 is the failure mode this guards)."""
    import time

    t0 = time.time()
    out = queries["q_dedup_incremental"](spark, stress_dir).toPandas()
    wall = time.time() - t0
    got = set(zip(out["doc_id"], out["partner_id"]))
    truth = {
        (_N_UNIQ_DOCS + i, i) for i in range(_N_DUP_DOCS) if i % 5 == 0
    }
    assert got == truth
    assert out["partner_is_new"].all()
    assert (out["jaccard"].round(3) == 0.983).all()
    assert wall < 60, f"incremental dedup took {wall:.0f}s at 10x"


@pytest.mark.slow
def test_knn_graph_finds_planted_neighbors_at_4x(spark, queries, stress_dir):
    """kNN-graph quality off the tuned corpus: the 200 planted near-dups
    (vec 7800+i = vec i + 2% noise, cos ~ 0.9998) have near-identical
    centroid cosines, so both copies land in the same inverted lists and
    each planted pair must appear in the graph as the other's rank-1
    neighbor for >= 90% of pairs. Also pins the structural bound: every
    vector emits at most _KNN_GRAPH_K edges."""
    from xml_processor_spark.functions.llm_vectors import _KNN_GRAPH_K

    out = queries["q_emb_knn_graph"](spark, stress_dir).toPandas()
    per_src = out.groupby("src_id").size()
    assert (per_src <= _KNN_GRAPH_K).all()
    rank1 = out[out["rank"] == 1].set_index("src_id")["nbr_id"]
    hits = sum(
        1
        for i in range(_N_DUP_VECS)
        if rank1.get(_N_UNIQ_VECS + i) == i or rank1.get(i) == _N_UNIQ_VECS + i
    )
    recall = hits / _N_DUP_VECS
    assert recall >= 0.9, f"planted-pair rank-1 recall {recall:.2f} at 4x"


# 16x streaming replay (VERDICT r11 #7): the E-DEDUP-TTL bounded-state and
# E-STREAM-JOIN watermark-bound claims held at fixture scale only. This
# corpus tiles the sf0.01 user<30 events 16x ALONG THE TIME AXIS (each
# tile shifted past the last by the base span + 1h), so a 32-bucket replay
# advances the watermark 32 times over a 16x-longer stream — exactly the
# regime where unbounded state would grow ∝ stream length while
# watermark-bounded state stays ∝ bucket volume.
STREAM16_DIR = "/tmp/xps_stream16x"
_STREAM_TILES = 16
_STREAM_BUCKETS = 32


@pytest.fixture(scope="module")
def stream16_df(spark):
    from pyspark.sql import functions as F

    from xml_processor_spark.io import table

    base = (
        table(spark, "/root/testdata/sf0.01", "events")
        .filter(F.col("user_id") < 30)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    b = base.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi"),
        F.max("event_id").alias("mx"),
    ).collect()[0]
    span_sec = int((b.hi - b.lo).total_seconds()) + 3600
    stride = b.mx + 1
    tiles = spark.range(_STREAM_TILES).select(F.col("id").alias("t"))
    return base.crossJoin(tiles).select(
        (F.col("event_id") + F.col("t") * stride).alias("event_id"),
        (
            F.col("ts")
            + (F.col("t") * span_sec).cast("string").cast("interval second")
        ).alias("ts"),
        "user_id", "event_type", "value",
    )


@pytest.mark.slow
def test_dedup_ttl_state_bounded_at_16x(spark, stream16_df):
    """dropDuplicatesWithinWatermark over the 16x time-tiled replay: the
    output must equal batch-distinct despite the inline duplicate channel,
    and the state store must stay bucket-sized (watermark-bounded) — max
    per-trigger state rows < 1/8 of the streamed volume, where unbounded
    streaming dropDuplicates would hold ALL ~33k keys at the tail."""
    from pyspark.sql import functions as F

    from xml_processor_spark.streaming.replay import (
        read_replay_stream, run_to_memory, write_replay_files,
    )

    ev = stream16_df
    inline_dup = ev.filter(F.col("event_id") % 7 == 0)
    streamed = ev.unionAll(inline_dup)
    n_streamed = streamed.count()
    n_distinct = ev.count()
    src = write_replay_files(streamed, n_buckets=_STREAM_BUCKETS)
    out = (
        read_replay_stream(spark, src)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    got = run_to_memory(out, "ttl16_sink", "append")
    assert got.count() == n_distinct, "TTL dedup output != batch distinct"
    states = spark._xps_stream_state_rows
    assert states, "no state metrics captured"
    peak = max(states)
    assert peak < n_streamed / 8, (
        f"dedup state peaked at {peak} of {n_streamed} streamed rows — "
        "not watermark-bounded"
    )


@pytest.mark.slow
def test_stream_join_state_bounded_at_16x(spark, stream16_df):
    """The purchases-views interval join over the 16x replay: output must
    equal the batch interval join, and BOTH sides' retained state must
    stay within the watermark horizon — max per-trigger total state rows
    < 1/4 of the joined input volume, where a join without watermark
    bounds retains every row seen."""
    from pyspark.sql import functions as F

    from xml_processor_spark.streaming.replay import (
        read_replay_stream, run_to_memory, write_replay_files,
    )

    ev = stream16_df
    src = write_replay_files(ev, n_buckets=_STREAM_BUCKETS)
    purchases = (
        read_replay_stream(spark, src)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    views = (
        read_replay_stream(spark, src)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    joined = purchases.join(
        views,
        F.expr(
            "p_user = v_user AND v_ts <= p_ts "
            "AND v_ts >= p_ts - INTERVAL 1 HOUR"
        ),
        "inner",
    ).select("purchase_id", "view_id")
    got = run_to_memory(joined, "sj16_sink", "append")

    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
    )
    batch = p.join(
        v,
        F.expr(
            "p_user = v_user AND v_ts <= p_ts "
            "AND v_ts >= p_ts - INTERVAL 1 HOUR"
        ),
    )
    n_in = p.count() + v.count()
    assert got.count() == batch.count(), "stream join != batch interval join"
    states = spark._xps_stream_state_rows
    assert states, "no state metrics captured"
    peak = max(states)
    assert peak < n_in / 4, (
        f"join state peaked at {peak} of {n_in} input rows — "
        "not watermark-bounded"
    )
