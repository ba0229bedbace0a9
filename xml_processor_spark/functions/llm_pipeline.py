"""Training-data preparation operators (SURVEY §2.K extension) — document
chunking, PII-style redaction, repetition scoring, embedding normalization
and per-class centroids.

These are the per-document / per-vector transforms an LLM-corpus pipeline
runs between dedup and tokenization. Everything is native JVM expressions
(array HOFs over short documents, regexp, fixed-point sums) — no Python on
any hot path; per-row work is O(|doc|), so the operators scale linearly and
shuffle only where a cross-row reduction is semantically required
(repetition's token counts, centroid's per-dimension sum).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from xml_processor_spark.functions.deterministic import py_half_away, r6
from xml_processor_spark.io import scratch_dir, table, widen
from xml_processor_spark.registry import register

_CHUNK = 32  # tokens per chunk
_STRIDE = 24  # chunk start step → 8-token overlap


@register(
    "q_text_chunk",
    oracle=f"""
        SELECT doc_id, s AS chunk_start,
               len(list_slice(toks, s, s + {_CHUNK - 1})) AS n_chunk_tokens,
               array_to_string(list_slice(toks, s, s + {_CHUNK - 1}), ' ') AS chunk_text
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d,
             LATERAL (SELECT unnest(generate_series(
                 1, greatest(len(d.toks) - {_CHUNK - 1}, 1), {_STRIDE})) AS s) u
    """,
    origin="LLM",
    doc=f"Sliding-window document chunking for LLM training: {_CHUNK}-token "
        f"chunks every {_STRIDE} tokens ({_CHUNK - _STRIDE}-token overlap), "
        "short docs yield one short chunk. Pure per-row array slicing — "
        "embarrassingly parallel, no shuffle; chunk_start is the stable "
        "chunk key for downstream joins.",
)
def q_text_chunk(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size(toks) - (_CHUNK - 1), F.lit(1)),
        F.lit(_STRIDE),
    )
    return (
        d.select("doc_id", toks.alias("toks"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            F.col("s").alias("chunk_start"),
            F.size(F.slice("toks", F.col("s"), F.lit(_CHUNK))).alias(
                "n_chunk_tokens"
            ),
            F.concat_ws(" ", F.slice("toks", F.col("s"), F.lit(_CHUNK))).alias(
                "chunk_text"
            ),
        )
    )


# Number-literal redaction pattern — RE2 (DuckDB) and Java regex (Spark)
# agree on this subset (no backrefs, no lookaround).
_NUM_RE = "[0-9]+(\\.[0-9]+)?"


@register(
    "q_text_redact",
    oracle=f"""
        SELECT event_id,
               regexp_replace(props, '{_NUM_RE}', '<num>', 'g') AS redacted,
               len(regexp_extract_all(props, '{_NUM_RE}')) AS n_redactions
        FROM events
    """,
    origin="LLM",
    doc="PII-style scrubbing: replace every numeric literal in the raw "
        "event payload with a placeholder and count the redactions — the "
        "shape of a redaction pass (numbers / emails / URLs are the same "
        "operator with different patterns). Pure per-row regexp, "
        "scan-parallel, no shuffle.",
)
def q_text_redact(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_replace("props", _NUM_RE, "<num>").alias("redacted"),
        F.size(F.regexp_extract_all("props", F.lit(_NUM_RE), F.lit(0))).alias(
            "n_redactions"
        ),
    )


@register(
    "q_text_repetition",
    oracle="""
        WITH tok_max AS (
            SELECT doc_id, max(c) AS max_tok, CAST(sum(c) AS BIGINT) AS n_toks
            FROM (SELECT doc_id, count(*) AS c
                  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                        FROM documents)
                  GROUP BY doc_id, tok)
            GROUP BY doc_id
        ),
        big AS (
            SELECT doc_id,
                   greatest(len(string_split(text, ' ')) - 1, 1) AS n_bigrams,
                   len(list_distinct(list_transform(
                       generate_series(1, greatest(len(string_split(text, ' ')) - 1, 1)),
                       i -> string_split(text, ' ')[i] || ' '
                            || string_split(text, ' ')[i + 1]))) AS n_dist_bigrams
            FROM documents
        )
        SELECT t.doc_id,
               round(t.max_tok / CAST(t.n_toks AS DOUBLE), 6) AS top_tok_ratio,
               round(1 - b.n_dist_bigrams / CAST(b.n_bigrams AS DOUBLE), 6)
                   AS dup_bigram_ratio
        FROM tok_max t JOIN big b ON t.doc_id = b.doc_id
    """,
    origin="LLM",
    doc="Repetition quality signals: most-frequent-token share and "
        "duplicate-bigram share per document — the standard boilerplate/"
        "loop detectors of a corpus quality gate. Token counts reduce "
        "map-side (partial hash agg) before the per-doc max; bigram "
        "distinctness is per-row array math with no shuffle.",
)
def q_text_repetition(spark, sf_dir):
    # widen(): the bigram distinctness is an interpreted per-row array
    # transform; spread the one-row-group local scan first (io.widen note).
    d = widen(table(spark, sf_dir, "documents"))
    tok_max = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_tok"), F.sum("c").alias("n_toks"))
    )
    toks = F.split("text", " ")
    n_big = F.greatest(F.size(toks) - 1, F.lit(1))
    bigrams = F.transform(
        F.sequence(F.lit(1), n_big),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    big = d.select(
        "doc_id",
        n_big.alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_dist_bigrams"),
    )
    return tok_max.join(big, "doc_id").select(
        "doc_id",
        r6(F.col("max_tok") / F.col("n_toks").cast("double")).alias(
            "top_tok_ratio"
        ),
        r6(1 - F.col("n_dist_bigrams") / F.col("n_bigrams").cast("double")).alias(
            "dup_bigram_ratio"
        ),
    )


@register(
    "q_emb_normalize",
    oracle="""
        WITH n AS (
            SELECT vec_id, embedding,
                   sqrt(list_aggregate(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                       AS nrm
            FROM embeddings)
        SELECT vec_id,
               round(nrm, 6) AS norm,
               round(CAST(embedding[1] AS DOUBLE) / nrm, 6) AS unit_head,
               CAST(list_aggregate(list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) / nrm * 1000000)
                        AS BIGINT)), 'sum') AS BIGINT) AS unit_digest,
               CAST(list_aggregate(list_transform(
                       generate_series(1, len(embedding)),
                   i -> i * CAST(round(CAST(embedding[i] AS DOUBLE) / nrm
                                 * 1000000) AS BIGINT)), 'sum') AS BIGINT)
                   AS unit_wdigest
        FROM n
    """,
    origin="LLM",
    doc="L2 normalization of the embedding column, JVM-side (the native "
        "twin of E-EMB-PIPE's Arrow pandas-UDF path). The unit vector is "
        "verified through position-weighted fixed-point digests (sum of "
        "round(x_i/norm * 1e6) and sum of i * that) plus the first "
        "component — full content pinned per slot, but every output "
        "column is a hashable scalar: the driver's canonicalizer "
        "(pandas sort_values over all columns) factorizes object "
        "columns and raises `unhashable type` on list cells "
        "(CORRECTNESS_r03). Per-row array math, scan-parallel; the "
        "left-fold order is identical in both engines.",
)
def q_emb_normalize(spark, sf_dir):
    # widen(): 64-dim interpreted HOF math per row on a one-row-group scan.
    e = widen(table(spark, sf_dir, "embeddings"))
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    norm = F.sqrt(F.aggregate(sq, F.lit(0.0), lambda a, x: a + x))
    fx = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") / norm * 1_000_000, 0).cast("long"),
    )
    zero = F.lit(0).cast("long")
    digest = F.aggregate(fx, zero, lambda a, x: a + x)
    wdigest = F.aggregate(
        F.zip_with(
            fx,
            F.sequence(F.lit(1), F.size("embedding")),
            lambda x, i: x * i.cast("long"),
        ),
        zero,
        lambda a, x: a + x,
    )
    return e.select(
        "vec_id",
        r6(norm).alias("norm"),
        r6(F.element_at("embedding", 1).cast("double") / norm).alias(
            "unit_head"
        ),
        digest.alias("unit_digest"),
        wdigest.alias("unit_wdigest"),
    )


_CENT_SCALE = 1_000_000  # fixed-point 1e-6 units → order-independent sums


@register(
    "q_emb_centroid",
    oracle=f"""
        SELECT label, gs AS pos,
               round(CAST(sum(CAST(round(CAST(e.embedding[u.gs] AS DOUBLE)
                                         * {_CENT_SCALE}) AS BIGINT))
                          * (1000000 // {_CENT_SCALE}) AS DOUBLE)
                     / count(*)) / 1e6 AS centroid
        FROM embeddings e,
             LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS gs) u
        GROUP BY label, gs
    """,
    origin="LLM",
    doc="Per-label embedding centroid, dimension-wise: posexplode to "
        "(label, dim, value), fixed-point integer sums (order-independent "
        "across any partitioning — the float-sum determinism rule of "
        "deterministic.py applied to vectors), then mean. The 6-dp "
        "rounding happens in INTEGER space — round(S·(1e6/scale)/n)/1e6 "
        "— because scale-0 ties (k.5) are exactly representable doubles "
        "both engines round identically, while a round(x, 6) at a "
        "non-representable x.xxxxxx5 tie splits the engines (Spark "
        "rounds the shortest decimal repr, DuckDB the binary value — "
        "sf0.1 finding, r7: S/2e6 at n=2000 lands exactly on 5e-7 "
        "multiples). The shuffle carries |labels|×dim partial sums, not "
        "vectors — at 100 TB the map-side partial aggregation does all "
        "the data reduction.",
)
def q_emb_centroid(spark, sf_dir):
    e = widen(table(spark, sf_dir, "embeddings"))
    ex = e.select("label", F.posexplode("embedding").alias("pos0", "x"))
    fx = F.round(F.col("x").cast("double") * _CENT_SCALE, 0).cast("long")
    mult = 1_000_000 // _CENT_SCALE
    return (
        ex.select("label", (F.col("pos0") + 1).alias("pos"), fx.alias("fx"))
        .groupBy("label", "pos")
        .agg(
            (
                F.round(
                    (F.sum("fx") * mult).cast("double") / F.count(F.lit(1)),
                    0,
                )
                / 1e6
            ).alias("centroid")
        )
    )


# Per-language keep rates in 16ths for the training mixture: downsample the
# English majority, keep the low-resource tail whole. rate k/16 ⇔ first md5
# hex digit <= _HEX[k-1] — digits sort before letters in both engines, so
# the same rows survive on Spark, DuckDB, or any future engine.
_STRATA_16THS = {"en": 6, "zh": 16}
_STRATA_DEFAULT_16THS = 12
_HEX = "0123456789abcdef"


@register(
    "q_sample_stratified",
    oracle=f"""
        SELECT doc_id, lang
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <=
              CASE lang
                  {" ".join(f"WHEN '{lang}' THEN '{_HEX[k - 1]}'" for lang, k in sorted(_STRATA_16THS.items()))}
                  ELSE '{_HEX[_STRATA_DEFAULT_16THS - 1]}'
              END
    """,
    origin="LLM",
    doc="Stratified deterministic sampling — training-mixture reweighting: "
        "per-language keep rates (downsample the majority language, keep "
        "low-resource strata whole) decided by a content-hash digit, never "
        "rand(). Scan-side filter, zero shuffle, reproducible across "
        "engines, reruns, and repartitioning.",
)
def q_sample_stratified(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    expr = None
    for lang, k in sorted(_STRATA_16THS.items()):
        lit = F.lit(_HEX[k - 1])
        expr = (
            F.when(F.col("lang") == lang, lit)
            if expr is None
            else expr.when(F.col("lang") == lang, lit)
        )
    threshold = expr.otherwise(F.lit(_HEX[_STRATA_DEFAULT_16THS - 1]))
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return d.filter(digit <= threshold).select("doc_id", "lang")


# Benchmark probe set for decontamination: a deterministic slice standing in
# for an eval benchmark. Because the stand-in derives from the corpus, it is
# NOT force-broadcast anywhere — AQE decides from measured size (a real
# benchmark file is tiny and gets broadcast at runtime; a hint would bake in
# an assumption the plan can't verify).
_DECON_MOD = 97


@register(
    "q_decontaminate",
    oracle=f"""
        WITH sh AS MATERIALIZED (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text,' ')) - 2),
                       i -> string_split(text,' ')[i] || ' ' ||
                            string_split(text,' ')[i+1] || ' ' ||
                            string_split(text,' ')[i+2]))) AS s
            FROM documents
        ),
        bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % {_DECON_MOD} = 0)
        SELECT sh.doc_id, count(*) AS n_shared
        FROM sh JOIN bench ON sh.s = bench.s
        WHERE sh.doc_id % {_DECON_MOD} <> 0
        GROUP BY sh.doc_id
    """,
    origin="LLM",
    doc="Benchmark decontamination — flag training documents sharing any "
        "3-word shingle with the eval probe set, with the shared-shingle "
        "count as evidence. The probe set here is corpus-derived (every "
        "97th doc's shingles), so it carries NO broadcast hint — AQE "
        "picks the join strategy from measured size (a real benchmark "
        "suite is tiny and AQE broadcasts it at runtime; a hint would "
        "assume that of an unbounded side — the q_decontaminate_frac "
        "lesson, ADVICE r6). Downstream: anti-join survivors continue "
        "to training.",
)
def q_decontaminate(spark, sf_dir):
    from xml_processor_spark.functions.llm_dedup import shingles

    d = widen(table(spark, sf_dir, "documents"))
    sh = d.select("doc_id", F.explode(shingles("text")).alias("s"))
    bench = (
        sh.filter(F.col("doc_id") % _DECON_MOD == 0).select("s").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % _DECON_MOD != 0)
        .join(bench, "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


_PACK_BUDGET = 256  # tokens per packed training sequence


@register(
    "q_text_pack",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents),
        c AS (
            SELECT doc_id, lang, n_tok,
                   sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM t)
        SELECT doc_id, lang, n_tok,
               CAST(floor((cum - n_tok) / {_PACK_BUDGET}.0) AS BIGINT)
                   AS pack_id,
               CAST((cum - n_tok) % {_PACK_BUDGET} AS BIGINT) AS pack_off
        FROM c
    """,
    origin="LLM",
    doc="Sequence packing for pretraining batches: concatenate documents "
        "in deterministic (doc_id) order within each language stratum and "
        f"cut the stream into fixed {_PACK_BUDGET}-token sequences; each "
        "doc is assigned the pack holding its first token plus its offset "
        "there (concatenate-then-chunk, the standard packing that wastes "
        "zero pad tokens; docs may straddle pack boundaries). One running "
        "sum per stratum — a window partitioned by lang, NOT a global "
        "window: per-stratum prefix sums shuffle |docs| rows and "
        "parallelize across strata, where a single global ordering would "
        "serialize onto one task at 100 TB. Finer parallelism when needed: "
        "shard each stratum by a hash prefix and pack per shard.",
)
def q_text_pack(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select("doc_id", "lang", n_tok.alias("n_tok"))
    start = F.sum("n_tok").over(w) - F.col("n_tok")
    return t.select(
        "doc_id",
        "lang",
        "n_tok",
        F.floor(start / _PACK_BUDGET).alias("pack_id"),
        (start % _PACK_BUDGET).alias("pack_off"),
    )


# ---------------------------------------------------------------------------
# Deterministic shard assignment: the manifest of a training-shard write.
# ---------------------------------------------------------------------------

_N_SHARDS = 16


def _shard_col():
    """Content-hash shard id in [0, _N_SHARDS): derived from the md5 of the
    document text (never rand(), never monotonically_increasing_id — the
    assignment must be reproducible across reruns, executors, and engines).
    Portable hex-digit decode (ascii minus '0'/'a' offset) of the first two
    hex chars → uniform over 256, mod shards — raw ascii codes mod 16 would
    cover only 10 residues and skew every shard."""
    h = F.md5(F.col("text"))

    def hexval(i: int):
        a = F.ascii(F.substring(h, i, 1))
        return F.when(a >= 97, a - 87).otherwise(a - 48)

    return ((hexval(1) * 16 + hexval(2)) % _N_SHARDS).cast("int")


def _hexval_sql(i: int) -> str:
    a = f"ascii(substring(md5(text), {i}, 1))"
    return f"(CASE WHEN {a} >= 97 THEN {a} - 87 ELSE {a} - 48 END)"


_SHARD_SQL_EXPR = (
    f"CAST(({_hexval_sql(1)} * 16 + {_hexval_sql(2)}) % {_N_SHARDS} AS INT)"
)


@register(
    "q_shard_assign",
    oracle=f"""
        SELECT {_SHARD_SQL_EXPR} AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes,
               min(doc_id) AS min_doc_id,
               max(doc_id) AS max_doc_id
        FROM documents
        GROUP BY 1
    """,
    origin="LLM",
    doc=f"Training-shard manifest: every document deterministically "
        f"assigned to one of {_N_SHARDS} shards by content hash, manifest "
        "row per shard (doc count, byte size, id range). The groupBy is "
        "map-side-combined into at most |shards| rows per task — the "
        "shuffle is O(shards x tasks) regardless of corpus size. "
        "E-SHARD-WRITE performs the actual partitionBy(shard) parquet "
        "write this manifest describes; pytest asserts write ≡ manifest.",
)
def q_shard_assign(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.withColumn("shard", _shard_col())
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.octet_length(F.encode("text", "UTF-8"))).alias("n_bytes"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@register(
    "E-SHARD-WRITE",
    oracle=f"""
        SELECT {_SHARD_SQL_EXPR} AS shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes,
               min(doc_id) AS min_doc_id,
               max(doc_id) AS max_doc_id
        FROM documents
        GROUP BY 1
    """,
    origin="LLM",
    doc="The write half of q_shard_assign: documents written as "
        "shard-partitioned parquet (partitionBy(shard) — one directory per "
        "shard, the layout a training dataloader consumes), re-read from "
        "disk, and re-aggregated into the same manifest shape. pytest "
        "asserts the re-read manifest equals q_shard_assign's (write is "
        "lossless and the partition column round-trips); since r8 the same "
        "manifest is ALSO oracle-checked from the documents view (VERDICT "
        "r7 #5), so the driver hash-verifies the roundtrip. At scale the "
        "write is one shuffle-free pass; files per shard = upstream tasks, "
        "controlled by coalesce/AQE, never a global sort.",
)
def e_shard_write(spark, sf_dir):
    out = scratch_dir(spark, "shards")
    d = table(spark, sf_dir, "documents").withColumn("shard", _shard_col())
    d.write.mode("overwrite").partitionBy("shard").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.octet_length(F.encode("text", "UTF-8"))).alias("n_bytes"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# --- r6 additions: split assignment, contamination fraction, top-quality ---

from xml_processor_spark.functions.deterministic import phash60, phash60_sql  # noqa: E402

_SPLIT_TRAIN_PCT = 90
_SPLIT_VAL_PCT = 5  # test = the remaining 5%


@register(
    "q_split_assign",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, text,
                   {phash60_sql('text')} % 100 AS bucket
            FROM documents
        )
        SELECT CASE WHEN bucket < {_SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN bucket < {_SPLIT_TRAIN_PCT + _SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
               min(doc_id) AS min_doc_id,
               max(doc_id) AS max_doc_id
        FROM b GROUP BY 1
    """,
    origin="LLM",
    doc=f"Deterministic train/val/test split ({_SPLIT_TRAIN_PCT}/"
        f"{_SPLIT_VAL_PCT}/{100 - _SPLIT_TRAIN_PCT - _SPLIT_VAL_PCT}) by "
        "CONTENT hash, never rand() or row position: a document lands in "
        "the same split across reruns, repartitionings, and corpus "
        "versions (content-keyed, so an identical doc re-crawled later "
        "cannot leak from train into test). Scan-side expression + one "
        "map-side-combined 3-row aggregate — zero extra shuffle at any "
        "scale.",
)
def q_split_assign(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    bucket = phash60("text") % 100
    split = (
        F.when(bucket < _SPLIT_TRAIN_PCT, "train")
        .when(bucket < _SPLIT_TRAIN_PCT + _SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        d.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@register(
    "q_decontaminate_frac",
    oracle=f"""
        WITH sh AS MATERIALIZED (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text,' ')) - 2),
                       i -> string_split(text,' ')[i] || ' ' ||
                            string_split(text,' ')[i+1] || ' ' ||
                            string_split(text,' ')[i+2]))) AS s
            FROM documents
        ),
        bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % {_DECON_MOD} = 0),
        tot AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh
            WHERE doc_id % {_DECON_MOD} <> 0 GROUP BY doc_id
        ),
        shared AS (
            SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shared
            FROM sh JOIN bench ON sh.s = bench.s
            WHERE sh.doc_id % {_DECON_MOD} <> 0
            GROUP BY sh.doc_id
        )
        SELECT t.doc_id, t.n_shingles, s.n_shared,
               round(s.n_shared / CAST(t.n_shingles AS DOUBLE), 6)
                   AS contam_frac
        FROM tot t JOIN shared s ON t.doc_id = s.doc_id
    """,
    origin="LLM",
    doc="Graded decontamination — q_decontaminate reports the shared-"
        "shingle COUNT; real pipelines threshold on the contamination "
        "FRACTION (shared / total distinct shingles of the doc), which "
        "separates a quoted sentence from a wholesale benchmark copy. "
        "The probe set here is corpus-derived (every 97th doc's shingles), "
        "so it is NOT force-broadcast — AQE picks the join strategy from "
        "measured size (a real benchmark suite would be bounded and "
        "broadcastable, but the plan must not assume it). The LEFT-join "
        "marker feeds ONE map-side-combined groupBy computing both counts "
        "— a single corpus pass and a single shuffle, instead of joining "
        "two corpus-sized per-doc aggregates (the oracle keeps the "
        "two-CTE form; same rows either way).",
)
def q_decontaminate_frac(spark, sf_dir):
    from xml_processor_spark.functions.llm_dedup import shingles

    d = widen(table(spark, sf_dir, "documents"))
    sh = d.select("doc_id", F.explode(shingles("text")).alias("s"))
    train = sh.filter(F.col("doc_id") % _DECON_MOD != 0)
    bench = (
        sh.filter(F.col("doc_id") % _DECON_MOD == 0)
        .select("s")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        train.join(bench, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_shared"),
        )
        .filter(F.col("n_shared") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            r6(F.col("n_shared") / F.col("n_shingles").cast("double")).alias(
                "contam_frac"
            ),
        )
    )


_TOPQ_FRAC = 0.1  # keep the top decile per source


@register(
    "q_sample_topquality",
    oracle=f"""
        SELECT doc_id, source, n_chars FROM (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS rn,
                   count(*) OVER (PARTITION BY source) AS cnt
            FROM documents
        ) WHERE rn <= CAST(ceil({_TOPQ_FRAC} * cnt) AS BIGINT)
    """,
    origin="LLM",
    doc=f"Quality-curated selection: keep the top {int(_TOPQ_FRAC * 100)}% "
        "of documents PER SOURCE by a deterministic quality key (n_chars "
        "desc, doc_id tie-break — rank-based, so it needs no tuned "
        "threshold and adapts to each source's distribution). Per-stratum "
        "windows — the rank and the stratum count share one "
        "partitionBy(source) exchange, never a global sort.",
)
def q_sample_topquality(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    wc = Window.partitionBy("source")
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wc).alias("cnt"),
        )
        .filter(F.col("rn") <= F.ceil(_TOPQ_FRAC * F.col("cnt")).cast("long"))
        .select("doc_id", "source", "n_chars")
    )


# --- r6 additions: URL/domain extraction, mixture rebalancing -------------

_URL_HOST_RE = "https?://([^/]+)"
_URL_PATH_RE = "://[^/]+(/[^?]*)"
_URL_DOMAIN_RE = r"([^.]+\.[^.]+)$"


@register(
    "q_url_parse",
    oracle=f"""
        WITH u AS (
            SELECT doc_id,
                   'https://' || source || '.example.com/docs/'
                       || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
            FROM documents
        )
        SELECT doc_id,
               regexp_extract(url, '{_URL_HOST_RE}', 1) AS host,
               regexp_extract(url, '{_URL_PATH_RE}', 1) AS path,
               regexp_extract(regexp_extract(url, '{_URL_HOST_RE}', 1),
                              '{_URL_DOMAIN_RE}', 1) AS domain
        FROM u
    """,
    origin="LLM",
    doc="URL parsing for web-corpus curation: host, path, and registered "
        "domain extracted from a synthesized per-doc URL (the fixture has "
        "no URL column; the envelope pattern — synthesize from columns, "
        "parse back — keeps it oracle-checkable). The SAME regexes run in "
        "both dialects (not parse_url, whose edge-case semantics differ "
        "from any regex). Scan-side, zero shuffle; per-domain rollups "
        "compose with q_domain_stats downstream.",
)
def q_url_parse(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    host = F.regexp_extract(url, _URL_HOST_RE, 1)
    return d.select(
        "doc_id",
        host.alias("host"),
        F.regexp_extract(url, _URL_PATH_RE, 1).alias("path"),
        F.regexp_extract(host, _URL_DOMAIN_RE, 1).alias("domain"),
    )


# Target training-mixture fractions; languages outside the plan get a
# floor share so an unexpected stratum cannot silently dominate.
_MIX_TARGETS = {"en": 0.40, "de": 0.20, "fr": 0.15, "zh": 0.15}
_MIX_DEFAULT = 0.05


def _mix_target_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {t}" for lang, t in sorted(_MIX_TARGETS.items())
    )
    return f"CASE lang {whens} ELSE {_MIX_DEFAULT} END"


@register(
    "q_lang_mix_rebalance",
    oracle=f"""
        WITH counts AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   {_mix_target_sql()} AS target_frac
            FROM documents GROUP BY lang
        ), feasible AS (
            SELECT min(n_docs / target_frac) AS f FROM counts
        )
        SELECT lang, n_docs, round(target_frac, 6) AS target_frac,
               CAST(floor(f * target_frac) AS BIGINT) AS n_keep,
               round(floor(f * target_frac) / n_docs, 6) AS keep_rate
        FROM counts, feasible
    """,
    origin="LLM",
    doc="Training-mixture rebalancing plan: given target language "
        "fractions, compute the largest corpus satisfying them exactly "
        "(feasible scale F = min over strata of n/target — the binding "
        "stratum keeps ~100%) and each stratum's keep count and rate. "
        "This is the PLANNING half; q_sample_stratified is the execution "
        "half (content-hash keep decisions). One map-side-combined "
        "groupBy over |langs| rows + a 1-row broadcast scalar; floor() "
        "on an exact integer-ratio product keeps both engines identical.",
)
def q_lang_mix_rebalance(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    target = None
    for lang, t in sorted(_MIX_TARGETS.items()):
        target = (
            F.when(F.col("lang") == lang, t)
            if target is None
            else target.when(F.col("lang") == lang, t)
        )
    target = target.otherwise(_MIX_DEFAULT)
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).select(
        "lang", "n_docs", target.alias("target_frac")
    )
    feasible = counts.agg(
        F.min(F.col("n_docs") / F.col("target_frac")).alias("f")
    )
    n_keep = F.floor(F.col("f") * F.col("target_frac"))
    return counts.crossJoin(F.broadcast(feasible)).select(
        "lang",
        "n_docs",
        F.round("target_frac", 6).alias("target_frac"),
        n_keep.cast("long").alias("n_keep"),
        F.round(n_keep / F.col("n_docs"), 6).alias("keep_rate"),
    )


# Synthetic messy-URL feed (the q_url_parse synthesis discipline, made
# deliberately dirty): deterministic doc_id residues control host casing, a
# trailing slash, and tracking params; host = cdn(doc_id%7), path =
# doc_id DIV 10, so docs d and d+7 inside one 10-block share a canonical
# page under different raw spellings — collisions exist at every sf.
_RAW_URL_SQL = """
        'https://' ||
        CASE WHEN doc_id % 3 = 0 THEN 'CDN' ELSE 'cdn' END ||
        CAST(doc_id % 7 AS VARCHAR) ||
        '.Example.COM/p/' || CAST(doc_id // 10 AS VARCHAR) ||
        CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        CASE WHEN doc_id % 5 = 0
             THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
             ELSE '' END
"""
# Canonicalization: lowercase scheme+authority+path, drop the query
# (tracking-only here), strip one trailing slash.
_CANON_RE = r"^([^?#]*?)/?(?:[?#].*)?$"


@register(
    "q_dedup_url_canon",
    oracle=f"""
        WITH raw AS (
            SELECT doc_id, source, {_RAW_URL_SQL} AS url
            FROM documents
        ),
        canon AS (
            SELECT doc_id, source,
                   lower(regexp_extract(url, '{_CANON_RE}', 1)) AS curl
            FROM raw
        )
        SELECT curl, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS keeper_doc,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM canon
        GROUP BY curl
        HAVING count(*) >= 2
    """,
    origin="LLM",
    doc="URL-canonicalization dedup — the first dedup pass of every "
        "web-crawl pipeline (C4/CC-style): case-fold scheme+host+path, "
        "strip tracking queries and the trailing slash, then group by "
        "canonical URL keeping the smallest doc_id; emits every "
        "canonical page with ≥2 raw variants plus how many sources "
        "collide there. Input URLs are synthesized from doc_id residues "
        "(deterministic; the %7 host x DIV-10 path makes 2-way collisions) since "
        "`documents` carries no URL column; the canonicalizer itself is "
        "the real artifact — one regex + lower(), shared verbatim with "
        "the oracle. Scale shape: pure scan-side projection, ONE "
        "map-side-combined groupBy on the canonical key, no joins, no "
        "windows, no Python.",
)
def q_dedup_url_canon(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("CDN")).otherwise(F.lit("cdn")),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM/p/"),
        F.floor(F.col("doc_id") / 10).cast("long").cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("?utm_source=feed&ref="), F.col("doc_id").cast("string")
            ),
        ).otherwise(F.lit("")),
    )
    canon = d.select(
        "doc_id", "source",
        F.lower(F.regexp_extract(url, _CANON_RE, 1)).alias("curl"),
    )
    return (
        canon.groupBy("curl")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (hashed n-gram features).
# ---------------------------------------------------------------------------

_DSIR_B = 128          # hashed bigram feature buckets
_DSIR_TARGET = "en"    # the target distribution: English documents
_DSIR_MEMO_CAP = 1 << 20  # bigram→bucket memo entries (~100 MB worst case)


def _dsir_buckets(bigrams, memo: dict, cap: int = _DSIR_MEMO_CAP):
    """Bucket id per bigram instance: md5 once per DISTINCT bigram (the
    bounded ``memo``), dict-mapped in C over the instances.

    The memo is cleared only between batches, once it holds ``cap``
    entries, and every distinct bigram of the batch is inserted after the
    clear: a clear in the middle of a batch would drop keys the batch
    still maps, turning them into NaN and then INT64_MIN indices."""
    import hashlib

    import numpy as np

    if len(memo) >= cap:
        memo.clear()
    for bg in bigrams.unique():
        if bg not in memo:
            memo[bg] = (
                int(hashlib.md5(bg.encode("utf-8")).hexdigest()[:15], 16)
                % _DSIR_B
            )
    out = bigrams.map(memo)
    if out.isna().any():
        raise RuntimeError("DSIR bucket memo lost a key of the current batch")
    return out.to_numpy(dtype=np.int64)


_DSIR_BIGRAM_SQL = f"""
        big AS (
            SELECT t.doc_id,
                   {phash60_sql("t.toks[u.gs] || ' ' || t.toks[u.gs + 1]")}
                       % {_DSIR_B} AS bucket
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents) t,
                 LATERAL (SELECT unnest(generate_series(1, len(t.toks) - 1))
                          AS gs) u
        ),
        dc AS (
            SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt
            FROM big GROUP BY doc_id, bucket
        ),
        raw AS (
            SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cr
            FROM dc GROUP BY bucket
        ),
        tgt AS (
            SELECT dc.bucket, CAST(sum(dc.cnt) AS BIGINT) AS ct
            FROM dc JOIN documents d USING (doc_id)
            WHERE d.lang = '{_DSIR_TARGET}'
            GROUP BY dc.bucket
        ),
        tots AS (
            SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS tot_r,
                   (SELECT COALESCE(CAST(sum(ct) AS BIGINT), 0) FROM tgt)
                       AS tot_t
        ),
        lr AS (
            SELECT r.bucket,
                   CAST(round((ln((COALESCE(t.ct, 0) + 1.0)
                                  / (tots.tot_t + {_DSIR_B}.0))
                               - ln((r.cr + 1.0)
                                    / (tots.tot_r + {_DSIR_B}.0)))
                              * 1000000) AS BIGINT) AS lr_e6
            FROM raw r LEFT JOIN tgt t USING (bucket), tots
        )
"""


@register(
    "q_text_dsir",
    oracle=f"""
        WITH {_DSIR_BIGRAM_SQL}
        SELECT d.doc_id, d.lang,
               COALESCE(w.n_bigrams, 0) AS n_bigrams,
               COALESCE(w.w_e6, 0) AS w_e6,
               round(COALESCE(w.w_e6, 0) / 1000000.0, 6) AS logw
        FROM documents d LEFT JOIN (
            SELECT dc.doc_id,
                   CAST(sum(dc.cnt) AS BIGINT) AS n_bigrams,
                   CAST(sum(dc.cnt * lr.lr_e6) AS BIGINT) AS w_e6
            FROM dc JOIN lr USING (bucket)
            GROUP BY dc.doc_id
        ) w USING (doc_id)
    """,
    origin="LLM",
    doc=f"DSIR — Data Selection via Importance Resampling (Xie et al. "
        "2023, arXiv:2302.03169): per-document log importance weight "
        "log p_target/p_raw under hashed-bigram bag-of-ngrams language "
        f"models ({_DSIR_B} buckets, add-one smoothing), the standard "
        "recipe for selecting raw-corpus documents that look like a "
        f"target domain (here lang='{_DSIR_TARGET}'). The per-bucket "
        "log-ratio is fixed-pointed to 1e-6 from EXACT integer counts "
        "(the kmeans round(x*1e6) discipline), so each document's weight "
        "is an exact integer dot product Σ cnt·lr_e6 — no float "
        "aggregation in partition order anywhere; the one ln() per "
        "bucket runs on exact-int operands in both engines. Scale "
        "shape: two linear Arrow passes and NOTHING else — pass 1 folds "
        f"each partition into a fixed {_DSIR_B}-row (cr, ct) histogram "
        "(the map-side-combine shape, target counts ride the lang column "
        "on the same row), collected and integer-merged on the driver "
        f"(≤ {_DSIR_B} rows x partitions); the ≤ {_DSIR_B}-entry integer "
        "log-ratio table then rides the task closure into pass 2, where "
        "each document folds Σ cnt·lr_e6 locally and emits its result "
        "row directly — zero shuffles, zero joins, no per-bigram rows "
        "ever leave a task. Hash buckets are phash60 (md5-derived — the "
        "cross-engine portable family, computed with a per-worker memo "
        "per distinct bigram), the paper's hashed-feature trick that "
        "makes the n-gram LM memory O(buckets), not O(vocab) — at "
        "100 TB both passes stay linear and driver state stays "
        f"{_DSIR_B} integers. Why not pure DataFrame ops: the previous "
        "declarative twin (explode + md5 expr + pinned pre-aggregate + "
        "2 broadcast joins) was measured 1.28 s vs 0.99 s at sf0.1 with "
        "identical output — the explode/checkpoint machinery IS the "
        "whole cost at bench scale.",
)
def q_text_dsir(spark, sf_dir):
    import math

    d = widen(table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text"
    )

    # Bounded per-worker memo (ADVICE r12): an uncapped dict grows
    # O(distinct bigrams) per worker — executor-OOM bait on a
    # high-cardinality 100 TB corpus. _dsir_buckets clears it wholesale
    # between batches at _DSIR_MEMO_CAP entries; the md5 value is a pure
    # function of the bigram, so cache state never affects results.
    # Ships empty in the task closure; each worker process grows its own
    # copy.
    _bucket_memo: dict = {}

    def _batch_bigrams(pdf):
        """Per Arrow batch: (bigram Series, doc-index array, doc token
        lengths, scorable-row mask) — r16 vectorization (guide §4.2, the
        q_heavy_hitters value_counts precedent): token pairing, boundary
        masking and counting run at numpy/pandas speed; interpreted
        Python touches each DISTINCT bigram once (the md5 memo), never
        each token instance. Bigram strings are byte-identical to the
        old per-token loop's `prev + " " + tok`."""
        import numpy as np
        import pandas as pd

        texts = pdf["text"].tolist()
        tok_lists = []
        scorable = np.zeros(len(texts), dtype=bool)
        for i, t in enumerate(texts):
            if t is None:
                continue
            tk = t.split(" ")
            if len(tk) < 2:
                continue
            scorable[i] = True
            tok_lists.append(tk)
        if not tok_lists:
            return None
        lens = np.array([len(tk) for tk in tok_lists], dtype=np.int64)
        flat = np.concatenate([np.array(tk, dtype=object) for tk in tok_lists])
        # Pair adjacent tokens, then drop the cross-document seams.
        pairs = pd.Series(flat[:-1]) + " " + pd.Series(flat[1:])
        seam = np.cumsum(lens)[:-1] - 1
        keep = np.ones(len(flat) - 1, dtype=bool)
        keep[seam] = False
        docidx = np.repeat(np.arange(len(tok_lists)), lens)[:-1][keep]
        return pairs[keep].reset_index(drop=True), docidx, lens, scorable

    def partials(it):
        import numpy as np
        import pandas as pd

        cr = np.zeros(_DSIR_B, dtype=np.int64)
        ct = np.zeros(_DSIR_B, dtype=np.int64)
        for pdf in it:
            got = _batch_bigrams(pdf)
            if got is None:
                continue
            bigrams, docidx, lens, scorable = got
            bk = _dsir_buckets(bigrams, _bucket_memo)
            np.add.at(cr, bk, 1)
            tgt_doc = (
                pdf["lang"].to_numpy()[scorable] == _DSIR_TARGET
            )
            np.add.at(ct, bk[tgt_doc[docidx]], 1)
        yield pd.DataFrame(
            {"bucket": range(_DSIR_B), "cr": cr, "ct": ct}
        )

    cr: dict = {}
    ct: dict = {}
    for r in d.mapInPandas(partials, "bucket int, cr long, ct long").collect():
        cr[r["bucket"]] = cr.get(r["bucket"], 0) + r["cr"]
        ct[r["bucket"]] = ct.get(r["bucket"], 0) + r["ct"]
    tot_r = sum(cr.values())
    tot_t = sum(ct.values())
    # lr exists only for buckets with raw mass (the oracle's raw-anchored
    # LEFT JOIN); scoring can only ever look up such buckets.
    # Half-away fixed-pointing (ADVICE r12): python round() is banker's
    # (half-to-even) while the oracle's DuckDB round() is half-away — a
    # log-ratio landing exactly on .5e-6 would flip the integer.
    # ADVICE r13: exact fractional-part test (deterministic.py), not
    # floor(|v|+0.5) — the inexact +0.5 can round up across a binade.
    _ha = py_half_away

    lr = {
        b: _ha(
            (
                math.log((ct.get(b, 0) + 1.0) / (tot_t + float(_DSIR_B)))
                - math.log((n + 1.0) / (tot_r + float(_DSIR_B)))
            )
            * 1_000_000
        )
        for b, n in cr.items()
        if n > 0
    }

    def score(it):
        import numpy as np
        import pandas as pd

        # lr values are exact ints ≤ ~1e7 and per-doc bigram counts are
        # corpus-bounded, so the float64 bincount accumulation stays
        # < 2^53 — every sum is exact, identical to the old int loop.
        lr_arr = np.zeros(_DSIR_B, dtype=np.float64)
        for b, v in lr.items():
            lr_arr[b] = v
        for pdf in it:
            n_out = np.zeros(len(pdf), dtype=np.int64)
            w_out = np.zeros(len(pdf), dtype=np.int64)
            got = _batch_bigrams(pdf)
            if got is not None:
                bigrams, docidx, lens, scorable = got
                bk = _dsir_buckets(bigrams, _bucket_memo)
                w_doc = np.bincount(
                    docidx, weights=lr_arr[bk], minlength=len(lens)
                )
                rows = np.flatnonzero(scorable)
                n_out[rows] = lens - 1
                w_out[rows] = np.rint(w_doc).astype(np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "n_bigrams": n_out,
                    "w_e6": w_out,
                }
            )

    scored = d.mapInPandas(
        score, "doc_id long, lang string, n_bigrams long, w_e6 long"
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_bigrams",
        "w_e6",
        F.round(F.col("w_e6").cast("double") / 1_000_000.0, 6).alias("logw"),
    )


# ---------------------------------------------------------------------------
# Token-budget corpus fill: select best docs per language until a token
# budget is reached.
# ---------------------------------------------------------------------------

_BUDGET_FRAC_NUM, _BUDGET_FRAC_DEN = 1, 2  # budget = 1/2 of each lang's tokens


@register(
    "q_corpus_budget_fill",
    # The oracle uses the NAIVE single-window formulation (rank every doc,
    # running token total, cut at the budget) — deliberately a different
    # algorithm than the Spark side's banded two-pass, so the hash match
    # checks the selection SEMANTICS, not a shared plan.
    oracle=f"""
        WITH d AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                   n_chars
            FROM documents
        ),
        r AS (
            SELECT doc_id, lang, n_tok,
                   COALESCE(CAST(sum(n_tok) OVER (
                       PARTITION BY lang
                       ORDER BY n_chars DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS BIGINT), 0) AS cum_before,
                   CAST(sum(n_tok) OVER (PARTITION BY lang) AS BIGINT)
                       AS tot
            FROM d
        )
        SELECT doc_id, lang, n_tok
        FROM r
        WHERE cum_before * {_BUDGET_FRAC_DEN} < tot * {_BUDGET_FRAC_NUM}
    """,
    origin="LLM",
    doc=f"Token-budget corpus fill — the curation step that assembles a "
        "training mix: per language, take documents best-first "
        "(n_chars desc, doc_id tie-break — the repo's quality key) until "
        f"{_BUDGET_FRAC_NUM}/{_BUDGET_FRAC_DEN} of that language's total "
        "whitespace tokens is reached (a doc is selected iff the tokens "
        "BEFORE it fall short of the budget, so the crossing doc is "
        "included — exact integer rule, no float boundary). THE SCALE "
        "POINT: the naive formulation is a per-language global sort with "
        "a running total — one reducer per language at 100 TB. This "
        "implementation is the banded two-pass instead: (1) aggregate "
        "docs into (lang, n_chars) bands — bounded by |langs| x "
        "|distinct lengths|, windows run on THAT table; (2) bands "
        "strictly above the cutoff select wholesale (their docs join by "
        "band key, no per-doc window), and only the single boundary band "
        "per language pays a per-doc running total — a partition of "
        "same-length docs, not the corpus. Shuffle: one map-side "
        "combined band aggregate + two equi joins; the per-doc sort "
        "exists only inside the boundary band.",
)
def q_corpus_budget_fill(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents")).select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
        "n_chars",
    )
    # Pass 1: bounded (lang, n_chars) band table with per-band token sums;
    # running totals best-first over the band table only.
    bands = d.groupBy("lang", "n_chars").agg(F.sum("n_tok").alias("btok"))
    wb = (
        Window.partitionBy("lang")
        .orderBy(F.desc("n_chars"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.partitionBy("lang")
    banded = bands.select(
        "lang",
        "n_chars",
        "btok",
        F.coalesce(F.sum("btok").over(wb), F.lit(0)).alias("cum_above"),
        F.sum("btok").over(wt).alias("tot"),
    )
    # Band classification against the budget (num/den of tot, exact
    # integer cross-multiplication — no float boundary):
    #   starts_in & !crosses : cum_above + btok stays under budget →
    #                          every doc's cum_before < budget, select
    #                          the whole band by key join, no per-doc work
    #   starts_in & crosses  : the budget lands inside this band → only
    #                          here does a per-doc running total run
    #   !starts_in           : band begins at/after the budget → dropped
    num, den = _BUDGET_FRAC_NUM, _BUDGET_FRAC_DEN
    marks = banded.select(
        "lang",
        "n_chars",
        "cum_above",
        "tot",
        "btok",
        (F.col("cum_above") * den < F.col("tot") * num).alias("starts_in"),
        (
            (F.col("cum_above") + F.col("btok")) * den >= F.col("tot") * num
        ).alias("crosses"),
    )
    whole_bands = marks.filter(F.col("starts_in") & ~F.col("crosses")).select(
        "lang", "n_chars"
    )
    sel_whole = d.join(whole_bands, ["lang", "n_chars"], "left_semi").select(
        "doc_id", "lang", "n_tok"
    )
    # Pass 2: per-doc refinement ONLY inside the boundary band of each
    # language (same-length docs, ordered by doc_id).
    bd = marks.filter(F.col("starts_in") & F.col("crosses")).select(
        "lang", "n_chars", "cum_above", "tot"
    )
    wdoc = (
        Window.partitionBy("lang", "n_chars")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sel_boundary = (
        d.join(F.broadcast(bd), ["lang", "n_chars"])
        .select(
            "doc_id",
            "lang",
            "n_tok",
            (
                F.col("cum_above")
                + F.coalesce(F.sum("n_tok").over(wdoc), F.lit(0))
            ).alias("cum_before"),
            "tot",
        )
        .filter(F.col("cum_before") * den < F.col("tot") * num)
        .select("doc_id", "lang", "n_tok")
    )
    return sel_whole.unionByName(sel_boundary)


@register(
    "q_corpus_funnel",
    oracle="""
        WITH sh AS MATERIALIZED (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text,' ')) - 2),
                       i -> string_split(text,' ')[i] || ' ' ||
                            string_split(text,' ')[i+1] || ' ' ||
                            string_split(text,' ')[i+2]))) AS s
            FROM documents
        ), sizes AS MATERIALIZED (
            SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        ), inter AS MATERIALIZED (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS MATERIALIZED (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE 10 * i >= 8 * (sa.n + sb.n - i)
        ), edges AS MATERIALIZED (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs
        ), reach AS (
            WITH RECURSIVE r(id, lbl) AS (
                SELECT DISTINCT src, src FROM edges
                UNION
                SELECT e.dst, r.lbl FROM r JOIN edges e ON e.src = r.id
            ) SELECT id, min(lbl) AS root FROM r GROUP BY id
        ), flags AS (
            SELECT d.doc_id,
                   d.doc_id = min(d.doc_id) OVER (PARTITION BY md5(d.text))
                       AS exact_keeper,
                   COALESCE(m.root, d.doc_id) = d.doc_id AS cc_root,
                   len(string_split(d.text, ' ')) BETWEEN 50 AND 100000
                   AND (length(d.text) - len(string_split(d.text, ' ')) + 1)
                       / CAST(len(string_split(d.text, ' ')) AS DOUBLE)
                       BETWEEN 3.0 AND 10.0
                   AND len(list_distinct(string_split(d.text, ' ')))
                       / CAST(len(string_split(d.text, ' ')) AS DOUBLE)
                       >= 0.3
                   AND len(regexp_extract_all(d.text, '[a-z]'))
                       / CAST(length(replace(d.text, ' ', '')) AS DOUBLE)
                       >= 0.6 AS quality_keep
            FROM documents d LEFT JOIN reach m ON m.id = d.doc_id
        ), agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n0,
                   CAST(count(*) FILTER (exact_keeper) AS BIGINT) AS n1,
                   CAST(count(*) FILTER (exact_keeper AND cc_root)
                        AS BIGINT) AS n2,
                   CAST(count(*) FILTER (exact_keeper AND cc_root
                                         AND quality_keep) AS BIGINT) AS n3
            FROM flags
        )
        SELECT stage, n_docs,
               round(CAST(n_docs AS DOUBLE) / CAST(n0 AS DOUBLE), 6)
                   AS retained_frac
        FROM (
            SELECT '0_raw' AS stage, n0 AS n_docs, n0 FROM agg
            UNION ALL SELECT '1_exact_dedup', n1, n0 FROM agg
            UNION ALL SELECT '2_near_dedup', n2, n0 FROM agg
            UNION ALL SELECT '3_quality_gate', n3, n0 FROM agg
        )
    """,
    origin="LLM",
    doc="Corpus-curation funnel — the observability dashboard every "
        "training-data pipeline keeps: survivor counts through the "
        "SEQUENTIAL stages raw → exact dedup (md5 keeper = min doc_id, "
        "the q_dedup_exact rule) → near-dup dedup (survivor iff it is "
        "its shingle-Jaccard component root — the q_dedup_cluster rule; "
        "docs outside the pair graph are their own root) → quality gate "
        "(the four q_quality_rules predicates). Each stage's count is "
        "conditioned on surviving ALL prior stages, so the four numbers "
        "are monotone and attribute kill volume per stage. Scale shape: "
        "ONE flags projection per document (the md5-keeper flag is a "
        "window over the md5 key, the CC root comes from the shared "
        "star-contraction labels of q_dedup_cluster, quality is "
        "scan-side scalar math), then a single conditional-count aggregate — the funnel "
        "itself adds no join and no extra fact pass beyond the pair "
        "pipeline the dedup stages already require.",
)
def q_corpus_funnel(spark, sf_dir):
    from pyspark.sql import Window

    from xml_processor_spark.functions.llm_dedup import (
        _star_contract,
        q_dedup_ngram_jaccard,
    )
    from xml_processor_spark.functions.llm_text import (
        _QR_MAX_TOKENS,
        _QR_MAX_WLEN,
        _QR_MIN_ALPHA,
        _QR_MIN_TOKENS,
        _QR_MIN_UNIQ,
        _QR_MIN_WLEN,
    )

    d = table(spark, sf_dir, "documents")
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    labels, _ = _star_contract(spark, pairs)
    toks = F.split("text", " ")
    n = F.size(toks)
    mean_wlen = (F.length("text") - n + 1) / n.cast("double")
    uniq = F.size(F.array_distinct(toks)) / n.cast("double")
    alpha = F.size(
        F.regexp_extract_all("text", F.lit("[a-z]"), F.lit(0))
    ) / F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    )
    quality = (
        n.between(_QR_MIN_TOKENS, _QR_MAX_TOKENS)
        & mean_wlen.between(_QR_MIN_WLEN, _QR_MAX_WLEN)
        & (uniq >= _QR_MIN_UNIQ)
        & (alpha >= _QR_MIN_ALPHA)
    )
    flags = (
        d.join(labels, d.doc_id == labels.id, "left")
        .withColumn(
            "exact_keeper",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(F.md5("text"))),
        )
        .withColumn(
            "cc_root",
            F.coalesce("root", "doc_id") == F.col("doc_id"),
        )
        .withColumn("quality_keep", quality)
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count(F.when(F.col("exact_keeper"), 1)).alias("n1"),
        F.count(
            F.when(F.col("exact_keeper") & F.col("cc_root"), 1)
        ).alias("n2"),
        F.count(
            F.when(
                F.col("exact_keeper")
                & F.col("cc_root")
                & F.col("quality_keep"),
                1,
            )
        ).alias("n3"),
    )
    stages = F.expr(
        "stack(4, '0_raw', n0, '1_exact_dedup', n1, "
        "'2_near_dedup', n2, '3_quality_gate', n3) AS (stage, n_docs)"
    )
    return agg.select(stages, "n0").select(
        "stage",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.col("n0").cast("double"), 6
        ).alias("retained_frac"),
    )
