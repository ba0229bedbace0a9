"""LLM-pipeline operator properties the oracle can't see (SURVEY §5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_MID, SF_SMALL


def test_minhash_lsh_recall_vs_exact(spark, queries):
    """LSH candidates must recover >= 90% of true >= 0.95-shingle-Jaccard
    pairs (the feature space the signatures are built over)."""
    from xml_processor_spark.functions.llm_dedup import shingles
    from xml_processor_spark.io import table

    d = table(spark, SF_SMALL, "documents")
    dt = d.select("doc_id", F.explode(shingles("text")).alias("s"))
    sizes = dt.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = dt.select(F.col("doc_id").alias("id_a"), "s")
    b = dt.select(F.col("doc_id").alias("id_b"), "s")
    inter = (
        a.join(b, ["s"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    truth_df = (
        inter.join(sa, "id_a").join(sb, "id_b")
        .filter(100 * F.col("i") >= 95 * (F.col("na") + F.col("nb") - F.col("i")))
    )
    truth = {(r.id_a, r.id_b) for r in truth_df.collect()}
    cand = {
        (r.id_a, r.id_b) for r in queries["E-MINHASH-LSH"](spark, SF_SMALL).collect()
    }
    assert truth, "exact truth set unexpectedly empty"
    recall = len(truth & cand) / len(truth)
    assert recall >= 0.90, f"LSH recall {recall:.3f} < 0.90"
    # and LSH must actually prune: far fewer candidates than all pairs
    n_docs = d.count()
    assert len(cand) < 0.2 * n_docs * (n_docs - 1) / 2, "LSH did not prune"


def test_approx_count_distinct_within_5pct(spark, queries):
    approx = {
        r.o_orderstatus: r.approx_cust
        for r in queries["E-APPROX-CD"](spark, SF_MID).collect()
    }
    from xml_processor_spark.io import table

    exact = {
        r.o_orderstatus: r.n
        for r in table(spark, SF_MID, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) / n <= 0.05, (k, approx[k], n)


def test_knn_cosine_self_excluded_and_ranked(spark, queries):
    rows = queries["q_knn_cosine"](spark, SF_SMALL).collect()
    by_probe = {}
    for r in rows:
        assert r.vec_id != r.probe_id
        by_probe.setdefault(r.probe_id, []).append(r)
    for probe, rs in by_probe.items():
        rs.sort(key=lambda r: r.rank)
        sims = [r.sim for r in rs]
        assert sims == sorted(sims, reverse=True), f"probe {probe} not ranked"
        assert len(rs) == 10


def test_emb_pipe_unit_norms(spark, queries):
    rows = queries["E-EMB-PIPE"](spark, SF_SMALL).collect()
    assert all(abs(r.unit_norm - 1.0) < 1e-5 for r in rows)
    assert all(r.dim == 64 for r in rows)


def test_dedup_exact_keeps_min_id(spark, queries):
    rows = queries["q_dedup_exact"](spark, SF_SMALL).collect()
    assert sum(r.n_copies for r in rows) == 500
    assert all(r.n_copies >= 1 for r in rows)


def test_multimodal_stub_deterministic(spark, queries):
    from pyspark.sql import functions as F

    from xml_processor_spark.io import table

    a = {r.path: (r.sha, r.width, r.height) for r in queries["E-MULTIMODAL"](spark, SF_SMALL).collect()}
    b = {r.path: (r.sha, r.width, r.height) for r in queries["E-MULTIMODAL"](spark, SF_SMALL).collect()}
    want = (
        table(spark, SF_SMALL, "orders")
        .filter(F.col("o_orderkey") % 500 == 0)
        .count()
    )
    assert a == b and len(a) == want and want > 0


def test_ivf_recall_and_pruning(spark, queries):
    """IVF top-10 must be genuinely useful (mean recall >= 0.8 vs exact
    brute force) AND genuinely pruned (< 50% of the brute-force candidate
    scan) — on unclustered N(0,.1) vectors, IVF's worst case. Tuned
    config (k ≈ 2·sqrt(N) = 46 lists at N=500, nprobe=13, assign=2, r13
    growth-law fix) measures recall 0.82 at a 0.472 scanned fraction."""
    from xml_processor_spark.functions.llm_vectors import _ivf_candidates

    exact = {}
    for r in queries["q_knn_cosine"](spark, SF_SMALL).collect():
        exact.setdefault(r.probe_id, set()).add(r.vec_id)
    approx = {}
    for r in queries["E-KNN-IVF"](spark, SF_SMALL).collect():
        approx.setdefault(r.probe_id, set()).add(r.vec_id)
    recalls = [
        len(exact[p] & approx.get(p, set())) / len(exact[p]) for p in exact
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.8, f"IVF mean recall {mean_recall:.2f}"
    assert all(len(v) == 10 for v in approx.values())

    n_vecs, n_probes = 500, len(exact)
    brute_force = n_probes * (n_vecs - 1)
    scanned = _ivf_candidates(spark, SF_SMALL).count()
    assert scanned < 0.5 * brute_force, f"not pruning: {scanned}/{brute_force}"


def test_simhash_recall_precision_vs_exact_jaccard(spark, queries):
    """The 32-bit shingle SimHash at hamming <= 3 must behave like a real
    near-dup detector against the exact shingle-Jaccard >= 0.8 truth:
    high recall, high precision, and a selective pair list (not the
    all-pairs collapse a unigram sketch shows on this small-vocabulary
    corpus). Measured at seed-42 sf0.001: 23 pairs, recall 0.82,
    precision 1.0."""
    truth = {
        (r.id_a, r.id_b)
        for r in queries["q_dedup_ngram_jaccard"](spark, SF_SMALL).collect()
    }
    rows = queries["q_dedup_simhash"](spark, SF_SMALL).collect()
    found = {(r.id_a, r.id_b) for r in rows}
    assert truth, "no shingle-Jaccard >= 0.8 pairs in fixture?"
    recall = len(truth & found) / len(truth)
    precision = len(truth & found) / len(found) if found else 0.0
    assert recall >= 0.7, f"simhash recall {recall:.2f}"
    assert precision >= 0.9, f"simhash precision {precision:.2f}"
    n_docs = 500
    assert len(rows) < n_docs * (n_docs - 1) // 2 * 0.01, (
        f"simhash pair list not selective: {len(rows)} pairs"
    )


def test_fingerprint_deterministic_and_discriminative(spark, queries):
    """Fingerprints are stable across runs and (near-)unique across 500
    distinct texts (1e9 rolling-hash space → collisions are the exception,
    not the rule)."""
    a = {
        r.doc_id: (r.roll_fp, r.min_shingle_fp)
        for r in queries["q_text_fingerprint"](spark, SF_SMALL).collect()
    }
    b = {
        r.doc_id: (r.roll_fp, r.min_shingle_fp)
        for r in queries["q_text_fingerprint"](spark, SF_SMALL).collect()
    }
    assert a == b and len(a) == 500
    assert len({v[0] for v in a.values()}) >= 495
    assert all(0 <= v[0] < 1_000_000_007 for v in a.values())


def test_emb_lsh_recall_and_pruning_vs_exact(spark, queries):
    """Sign-band LSH + exact rescore vs the all-pairs cosine truth:
    recall >= 0.9, precision 1.0 (every emitted pair is exactly
    rescored at the same threshold), and the candidate generator must
    be a strict filter (tuned by simulation: 6-bit x 48-band measures
    0.946 recall / 0.53 candidate fraction at tau=0.35, the worst-case
    near-threshold regime)."""
    from xml_processor_spark.functions.llm_dedup import _emb_lsh_candidates

    truth = {
        (r.id_a, r.id_b)
        for r in queries["q_dedup_emb_cosine"](spark, SF_SMALL).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in queries["E-EMB-LSH"](spark, SF_SMALL).collect()
    }
    assert truth, "no cosine >= 0.35 pairs in fixture?"
    recall = len(truth & got) / len(truth)
    assert recall >= 0.90, f"emb-LSH recall {recall:.3f} < 0.90"
    assert got <= truth, "rescored pair above threshold missing from truth"

    n_vecs = 500
    all_pairs = n_vecs * (n_vecs - 1) // 2
    n_cand = _emb_lsh_candidates(spark, SF_SMALL).count()
    assert n_cand < 0.65 * all_pairs, f"not pruning: {n_cand}/{all_pairs}"


def test_dedup_cluster_matches_union_find(spark, queries):
    """Connected components via star contraction must equal an
    independent union-find over the same pair graph, and every root must
    be its component's minimum id."""
    pairs = [
        (r.id_a, r.id_b)
        for r in queries["q_dedup_ngram_jaccard"](spark, SF_SMALL).collect()
    ]
    assert pairs, "no near-dup pairs in fixture?"
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    got = {r.doc_id: r.root for r in queries["q_dedup_cluster"](spark, SF_SMALL).collect()}
    assert len(got) == 500
    for doc, root in got.items():
        expected = find(doc) if doc in parent else doc
        assert root == expected, (doc, root, expected)
        assert got[root] == root, f"root {root} is not its own root"


def test_approx_quantiles_within_1pct(spark, queries):
    """E-APPROX-QUANT's sketch estimates must sit within 1% of the exact
    interpolated quantiles — proving the mergeable sketch is accurate
    enough to replace the exact sort-based percentile at scale."""
    approx = {
        r.l_returnflag: (r.p25, r.p50, r.p75, r.p95)
        for r in queries["E-APPROX-QUANT"](spark, SF_MID).collect()
    }
    from xml_processor_spark.io import table

    exact_rows = (
        table(spark, SF_MID, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D))"
            ).alias("qs")
        )
        .collect()
    )
    assert set(approx) == {r.l_returnflag for r in exact_rows}
    for r in exact_rows:
        for est, true in zip(approx[r.l_returnflag], r.qs):
            assert abs(est - true) / true < 0.01, (r.l_returnflag, est, true)


def test_pq_codes_stable_compressive_and_searchable(spark, queries):
    """PQ must (a) assign identical codes under a different partitioning,
    (b) actually compress — reconstruction MSE well under the signal
    energy, (c) support ADC search — asymmetric-distance top-10 must
    recover a solid fraction of the exact-L2 top-10."""
    import numpy as np

    from xml_processor_spark.functions.llm_vectors import (
        _PQ_M, _pq_quantize, _pq_train, _PQ_K, _PQ_ITERS, _PQ_SAMPLE,
    )
    from xml_processor_spark.io import table

    df = queries["E-EMB-PQ"](spark, SF_SMALL)
    a = df.toPandas().sort_values(["vec_id", "m"]).reset_index(drop=True)
    b = (
        df.repartition(7).toPandas()
        .sort_values(["vec_id", "m"]).reset_index(drop=True)
    )
    assert a.equals(b), "PQ codes changed under repartition"

    vec_pdf = (
        table(spark, SF_SMALL, "embeddings")
        .select("vec_id", "embedding").toPandas()
        .sort_values("vec_id").reset_index(drop=True)
    )
    # All fidelity math runs on the engine's exact 1e-3 integer grid —
    # the grid IS the operator's input space since the r12 oracle-ization
    # (quantization error is 16x under a 4-bit-code quantizer's floor,
    # so the MSE/recall properties are unchanged in substance).
    vecs = _pq_quantize(
        np.vstack(vec_pdf["embedding"].to_numpy())
    ).astype(np.float64)
    ids = vec_pdf["vec_id"].to_numpy()
    # Rebuild the codebooks exactly as the operator does (deterministic).
    order = np.argsort(
        [__import__("hashlib").md5(str(i).encode()).hexdigest() for i in ids]
    )[:_PQ_SAMPLE]
    books = _pq_train(
        vecs[order].astype(np.int64), _PQ_M, _PQ_K, _PQ_ITERS
    ).astype(np.float64)
    d_sub = vecs.shape[1] // _PQ_M
    codes = (
        a.pivot(index="vec_id", columns="m", values="code")
        .loc[ids].to_numpy()
    )
    recon = np.hstack(
        [books[mi][codes[:, mi]] for mi in range(_PQ_M)]
    )
    mse = float(((vecs - recon) ** 2).mean())
    energy = float((vecs ** 2).mean())
    assert mse < 0.5 * energy, f"PQ MSE {mse:.5f} vs energy {energy:.5f}"

    # ADC search: lookup tables per probe, summed per code. PQ's production
    # contract is SHORTLIST generation — ADC ranks a candidate set that an
    # exact rerank then orders (the codes fit in memory where the vectors
    # don't); assert the exact top-10 survives into the ADC top-50.
    rng_probes = ids[:20]
    hits = total = 0
    for pid in rng_probes:
        pi = int(np.where(ids == pid)[0][0])
        q = vecs[pi]
        exact = np.argsort(((vecs - q) ** 2).sum(axis=1))
        exact = [i for i in exact if i != pi][:10]
        tables = np.stack([
            ((books[mi] - q[mi * d_sub:(mi + 1) * d_sub]) ** 2).sum(axis=1)
            for mi in range(_PQ_M)
        ])  # (M, K)
        adc = tables[np.arange(_PQ_M)[None, :], codes].sum(axis=1)
        adc[pi] = np.inf
        shortlist = set(np.argsort(adc)[:50].tolist())
        hits += len(shortlist & set(exact))
        total += 10
    recall = hits / total
    assert recall >= 0.8, f"exact-top-10-in-ADC-top-50 recall {recall:.3f} < 0.8"


def test_cms_estimate_dominates_exact(spark, queries):
    """Count-Min property: the sketch estimate is ALWAYS >= the true
    count (a cell only ever accumulates extra colliding mass), and on
    the fixture's ~30-word vocabulary over 512 columns the probes must
    come back collision-free (est == exact) — any overshoot here means
    the hash family changed."""
    rows = queries["q_sketch_cms"](spark, SF_SMALL).collect()
    assert len(rows) >= 5
    for r in rows:
        assert r.cms_est >= r.n_exact, r
        assert r.cms_est == r.n_exact, f"collision at 30-word vocab: {r}"


def test_dsir_weights_separate_target_language(spark, queries):
    """DSIR's reason to exist: documents drawn from the target
    distribution (lang='en') must average a POSITIVE log importance
    weight and every non-target language a NEGATIVE one — hashed-bigram
    LMs trained on the corpus itself must separate the declared target.
    (The oracle hash-match proves Spark == DuckDB; this pins that the
    shared semantics point the right way.)"""
    import pandas as pd

    rows = queries["q_text_dsir"](spark, SF_SMALL).collect()
    df = pd.DataFrame([(r.lang, r.logw) for r in rows], columns=["lang", "w"])
    means = df.groupby("lang")["w"].mean()
    assert means["en"] > 0, f"target lang weight {means['en']:.3f} not positive"
    for lang, m in means.items():
        if lang != "en":
            assert m < 0, f"non-target {lang} weight {m:.3f} not negative"


def test_dsir_bucket_memo_cap_keeps_the_batch_keys():
    """A memo that reaches its cap is cleared between batches, never in
    the middle of one: with cap 4 and batches of 6 and 8 distinct
    bigrams, every bucket equals the uncapped result (a mid-batch clear
    mapped the dropped keys to NaN, then to INT64_MIN indices)."""
    import pandas as pd

    from xml_processor_spark.functions.llm_pipeline import (
        _DSIR_B,
        _dsir_buckets,
    )

    batches = [
        pd.Series([f"a{i} b{i}" for i in range(6)] * 2),
        pd.Series([f"c{i} d{i}" for i in range(7)] + ["a0 b0", "c0 d0"]),
    ]
    capped, full = {}, {}
    for batch in batches:
        got = _dsir_buckets(batch, capped, cap=4)
        want = _dsir_buckets(batch, full, cap=1 << 30)
        assert got.tolist() == want.tolist()
        assert 0 <= got.min() and got.max() < _DSIR_B
        assert set(batch) <= set(capped)
    assert len(full) == 13


def test_incremental_dedup_consistent_with_full_pair_set(spark, queries):
    """The incremental batch-vs-index pass must be a pure RESTRICTION of
    the full corpus pair set: every emitted (new, partner) pair appears
    in q_dedup_ngram_jaccard with the identical jaccard, and every full
    pair that touches a new-batch doc is emitted exactly once (no pair
    lost by the new-side orientation, none double-counted)."""
    full = {
        frozenset((r.id_a, r.id_b)): r.jaccard
        for r in queries["q_dedup_ngram_jaccard"](spark, SF_SMALL).collect()
    }
    inc = {
        frozenset((r.doc_id, r.partner_id)): r.jaccard
        for r in queries["q_dedup_incremental"](spark, SF_SMALL).collect()
    }
    expected = {
        pair: j
        for pair, j in full.items()
        if any(x % 5 == 0 for x in pair)
    }
    assert inc == expected
    assert expected, "fixture has no near-dup pair touching the new batch?"


def test_unimax_water_filling_invariants(spark, queries):
    """The UniMax allocation must satisfy the water-filling optimality
    conditions independently of the oracle: (1) allocations sum to the
    budget (= total corpus tokens); (2) every capped domain sits exactly
    at capacity; (3) every uncapped domain gets the identical water
    level; (4) the level is >= every capped capacity (otherwise a swap
    would improve uniformity); (5) no allocation exceeds capacity."""
    rows = queries["q_domain_unimax"](spark, SF_SMALL).collect()
    assert rows
    budget = sum(r.n_tokens for r in rows)
    total_alloc = sum(r.alloc for r in rows)
    # alloc is 6-dp rounded in the output, so the reassembled total can
    # drift by up to 5e-7 per row — bound, not exact equality.
    assert abs(total_alloc - budget) <= 5e-7 * len(rows) + 1e-9
    capped = [r for r in rows if r.capped]
    uncapped = [r for r in rows if not r.capped]
    assert capped and uncapped, "degenerate fixture: one-sided split"
    for r in capped:
        assert r.alloc == float(r.capacity)
    levels = {r.alloc for r in uncapped}
    assert len(levels) == 1
    level = levels.pop()
    assert all(level >= r.capacity for r in capped)
    assert all(r.alloc <= r.capacity for r in rows)


def test_star_contraction_log_rounds_on_chain(spark):
    """Star contraction must converge in O(log n) rounds on a shape whose
    diameter is far past the round cap: a 1,024-node chain has diameter
    1,023, yet it must finish within 15 rounds with every non-root node
    labelled with the chain minimum (the root itself has no row)."""
    from xml_processor_spark.functions.llm_dedup import _star_contract

    n = 1024
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labels, rounds = _star_contract(spark, chain)
    assert rounds <= 15, f"star contraction took {rounds} rounds on a chain"
    rows = labels.collect()
    assert len(rows) == n - 1
    assert {r.id for r in rows} == set(range(1, n))
    assert all(r.root == 0 for r in rows)


def test_star_contraction_degenerate_inputs(spark):
    """An empty pair list, a single pair and self-loop-only pairs are star
    forests already: each runs 0 rounds. The empty and self-loop inputs
    return no rows, the single pair its one child row; joined as
    q_dedup_cluster joins, the empty input labels every document as its
    own root."""
    from xml_processor_spark.functions.llm_dedup import _star_contract
    from xml_processor_spark.io import table

    def run(rows):
        pairs = spark.createDataFrame(rows, "id_a long, id_b long")
        labels, rounds = _star_contract(spark, pairs)
        return labels, rounds, {(r.id, r.root) for r in labels.collect()}

    labels, rounds, got = run([])
    assert (rounds, got) == (0, set())
    d = table(spark, SF_SMALL, "documents")
    roots = d.join(labels, d.doc_id == labels.id, "left").select(
        "doc_id", F.coalesce("root", "doc_id").alias("root")
    ).collect()
    assert len(roots) == 500
    assert all(r.root == r.doc_id for r in roots)

    assert run([(3, 7)])[1:] == (0, {(7, 3)})
    assert run([(5, 5), (9, 9)])[1:] == (0, set())


def test_corpus_funnel_monotone_and_consistent(spark, queries):
    """The funnel must be monotone (each stage a subset of the prior),
    start at the full corpus, and agree with the standalone stage
    operators: stage-2 survivors = count of docs that are their own
    q_dedup_cluster root AND an exact keeper; stage-3 additionally
    passes q_quality_rules.keep."""
    rows = {r.stage: r.n_docs for r in
            queries["q_corpus_funnel"](spark, SF_SMALL).collect()}
    assert list(rows) == sorted(rows)
    vals = [rows["0_raw"], rows["1_exact_dedup"],
            rows["2_near_dedup"], rows["3_quality_gate"]]
    assert vals[0] >= vals[1] >= vals[2] >= vals[3] > 0
    assert vals[0] == 500
    roots = {
        r.doc_id for r in queries["q_dedup_cluster"](spark, SF_SMALL).collect()
        if r.root == r.doc_id
    }
    keepers = {
        r.keeper for r in queries["q_dedup_exact"](spark, SF_SMALL).collect()
    }
    keep = {
        r.doc_id for r in queries["q_quality_rules"](spark, SF_SMALL).collect()
        if r.keep
    }
    assert vals[1] == len(keepers)
    assert vals[2] == len(roots & keepers)
    assert vals[3] == len(roots & keepers & keep)


def test_duckdb_list_dot_product_bit_equals_spark_fold(spark):
    """ADVICE r11: the E-EMB-LSH / q_dedup_emb_cosine oracles assume
    DuckDB's list_dot_product is bit-identical to the engine's sequential
    zip_with/aggregate fold. That held on every probed pair of the
    current build (max |diff| 0.0), but list_dot_product's summation
    order is an implementation detail — a DuckDB upgrade that
    vectorizes/FMAs it could reintroduce last-ulp flakes at the τ
    threshold / 6-dp round. This probe fails LOUDLY on such an upgrade:
    it compares the two formulations bit-for-bit on every adjacent
    embedding pair of the small fixture."""
    import duckdb
    from pyspark.sql import functions as F

    from xml_processor_spark.functions.llm_vectors import _dot
    from xml_processor_spark.io import table

    e = table(spark, SF_SMALL, "embeddings")
    a = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = e.select((F.col("vec_id") - 1).alias("ia"),
                 F.col("embedding").alias("eb"))
    spark_rows = (
        a.join(b, "ia")
        .select("ia", _dot(F.col("ea"), F.col("eb")).alias("d"))
        .collect()
    )
    spark_dots = {r["ia"]: r["d"] for r in spark_rows}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/embeddings.parquet')"
    )
    duck_rows = con.execute("""
        SELECT a.vec_id,
               list_dot_product(
                   list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(b.embedding, x -> CAST(x AS DOUBLE))) AS d
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """).fetchall()
    assert len(duck_rows) == len(spark_dots) > 0
    bad = [
        (vid, d, spark_dots[vid])
        for vid, d in duck_rows
        if d != spark_dots[vid]
    ]
    assert not bad, (
        f"duckdb {duckdb.__version__}: list_dot_product no longer "
        f"bit-equals the sequential fold on {len(bad)} pairs "
        f"(first: {bad[:3]}) — re-derive the emb oracles' float "
        "discipline before trusting hash verdicts"
    )


def test_prefix_pair_block_routes_cover_hostile_shapes(spark, tmp_path):
    """The r15 k=2 prefix-pair candidate block (SCALING.json rewrite) has
    two special routes the planted fixtures never exercise together:
    singleton docs (one shingle — no pair exists, k=1 block) and
    near-identical long docs (the k=2 pair route). Synthetic corpus,
    expectations recomputed from brute-force Python shingle sets."""
    import itertools

    import pyarrow as pa
    import pyarrow.parquet as pq

    from xml_processor_spark.functions.llm_dedup import (
        q_dedup_containment,
        q_dedup_ngram_jaccard,
    )

    long_a = " ".join(f"t{i}" for i in range(22))            # 20 shingles
    long_b = " ".join(f"t{i}" for i in range(21)) + " zz"    # 19 shared
    texts = {
        0: "a b c",                                  # singleton
        1: "a b c d e f g h i j k l",                # contains doc 0
        2: "a b c",                                  # identical singleton
        3: long_a,
        4: long_b,
        5: "p q r s t u v w x y z0 z1",              # unrelated
    }
    pq.write_table(
        pa.table({
            "doc_id": pa.array(sorted(texts), type=pa.int64()),
            "text": pa.array([texts[i] for i in sorted(texts)]),
        }),
        str(tmp_path / "documents.parquet"),
    )

    def sh(t):
        toks = t.split(" ")
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    sets = {i: sh(t) for i, t in texts.items()}
    exp_cont = {}
    for a, b in itertools.permutations(sets, 2):
        i = len(sets[a] & sets[b])
        if 10 * i >= 9 * len(sets[a]):
            exp_cont[(a, b)] = round(i / len(sets[a]), 6)
    exp_jac = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        i = len(sets[a] & sets[b])
        u = len(sets[a]) + len(sets[b]) - i
        if 10 * i >= 8 * u:
            exp_jac[(a, b)] = round(i / u, 6)

    # Sanity: the synthetic corpus really exercises both routes.
    assert (0, 1) in exp_cont and (0, 2) in exp_cont   # k=1 singleton
    assert (3, 4) in exp_jac and (0, 2) in exp_jac     # k=2 and k=1

    # Both candidate routes (r15 cost-based cutover at
    # _PAIR_BLOCK_MIN_DOCS) must reproduce the brute-force truth: the
    # 6-doc corpus takes the posting route by default; forcing the
    # threshold to 0 drives the same corpus through the prefix-pair
    # block, pinning the k=1/k=2 lemma routes AND route equality.
    import xml_processor_spark.functions.llm_dedup as LD

    saved = LD._PAIR_BLOCK_MIN_DOCS
    saved_semi = LD._RECOUNT_SEMI_MIN_DOCS
    try:
        # (pair_min, semi_min): default posting route; prefix-pair route
        # with the plain recount; prefix-pair route with the r16
        # semi-join-prefiltered recount (guide §3.2 — its own cost-based
        # cutover, output-identical by construction and pinned here).
        for pair_min, semi_min in ((saved, saved_semi), (0, saved_semi),
                                   (0, 0)):
            LD._PAIR_BLOCK_MIN_DOCS = pair_min
            LD._RECOUNT_SEMI_MIN_DOCS = semi_min
            got_c = {
                (r["id_a"], r["id_b"]): r["containment"]
                for r in q_dedup_containment(spark, str(tmp_path)).collect()
            }
            got_j = {
                (r["id_a"], r["id_b"]): r["jaccard"]
                for r in q_dedup_ngram_jaccard(spark, str(tmp_path)).collect()
            }
            assert got_c == exp_cont, f"routes=({pair_min}, {semi_min})"
            assert got_j == exp_jac, f"routes=({pair_min}, {semi_min})"
    finally:
        LD._PAIR_BLOCK_MIN_DOCS = saved
        LD._RECOUNT_SEMI_MIN_DOCS = saved_semi
