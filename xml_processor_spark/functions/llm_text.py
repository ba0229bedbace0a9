"""Text-analysis operators (SURVEY §2.K) — wordcount, TF-IDF, n-grams,
lexicon sentiment, language stats.

All token work is native split/explode/groupBy (JVM, whole-stage codegen);
the lexicon is a broadcast map-side join (cf. sentiment-at-scale pattern,
PAPERS.md: EDBT 2016 Spark sentiment). Everything aggregates to counts and
integer weights — no float nondeterminism anywhere except the explicitly
rounded idf.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from xml_processor_spark.functions.deterministic import py_half_away, r6
from xml_processor_spark.io import table, widen
from xml_processor_spark.registry import register

_TOP_WORDS = 50

_LEXICON = [
    ("fast", 2), ("merge", 1), ("key", 1), ("order", 1), ("window", 2),
    ("scan", -2), ("sort", -1), ("table", -1), ("part", -1), ("spill", -3),
]


@register(
    "q_text_wordcount",
    oracle=f"""
        SELECT tok, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok
        ORDER BY n DESC, tok
        LIMIT {_TOP_WORDS}
    """,
    origin="LLM",
    doc="Global top-50 token counts (count desc, token asc total order).",
)
def q_text_wordcount(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(_TOP_WORDS)
    )


@register(
    "q_text_tfidf",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (SELECT count(*) AS n FROM documents)
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               round(tf.tf * ln((n.n + 1) / CAST(df.df + 1 AS DOUBLE)), 6) AS w
        FROM tf JOIN df USING (term) CROSS JOIN n
    """,
    origin="LLM",
    doc="TF-IDF per (doc, term): tf from a token groupBy, df from a "
        "term groupBy, idf = ln((N+1)/(df+1)) — two shuffles total. The "
        "df side is vocabulary-sized (unbounded at 100 TB), so no forced "
        "broadcast: AQE broadcasts it at test SFs and shuffle-joins on "
        "`term` at scale, where tf is already partitioned by term-bearing "
        "keys. The 1-row corpus count stays broadcast.",
)
def q_text_tfidf(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "term", "tf", "df",
            r6(
                F.col("tf")
                * F.log((F.col("n") + 1) / (F.col("df") + 1).cast("double"))
            ).alias("w"),
        )
    )


@register(
    "q_text_ngrams",
    oracle="""
        SELECT lang, bigram, count(*) AS n
        FROM (
            SELECT t.lang, t.toks[u.gs] || ' ' || t.toks[u.gs + 1] AS bigram
            FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents) t,
                 LATERAL (SELECT unnest(generate_series(1, len(t.toks) - 1)) AS gs) u
        )
        GROUP BY lang, bigram
    """,
    origin="LLM",
    doc="Bigram counts per language (adjacent-token pairs via an indexed "
        "array transform — no self-join).",
)
def q_text_ngrams(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    # sequence(1, 0) descends to [1, 0] and element_at(toks, 0) throws, so a
    # 1-token doc must short-circuit to no bigrams (the oracle's
    # generate_series(1, len-1) is already empty there).
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q_text_sentiment",
    oracle=f"""
        WITH lex(word, wt) AS (VALUES {", ".join(f"('{w}', {s})" for w, s in _LEXICON)}),
        toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        )
        SELECT t.doc_id, CAST(SUM(COALESCE(l.wt, 0)) AS BIGINT) AS score
        FROM toks t LEFT JOIN lex l ON t.tok = l.word
        GROUP BY t.doc_id
    """,
    origin="LLM",
    doc="Lexicon-based sentiment: tokens x broadcast 10-word lexicon, "
        "integer weight sum per document (EDBT'16 Spark-sentiment shape).",
)
def q_text_sentiment(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(_LEXICON, "word STRING, wt INT")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    return (
        toks.join(F.broadcast(lex), toks.tok == lex.word, "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce("wt", F.lit(0))).alias("score"))
    )


@register(
    "q_text_lang_stats",
    oracle="""
        SELECT lang, count(*) AS n_docs,
               round(avg(n_chars), 6) AS avg_chars,
               count(*) FILTER (WHERE n_chars <> length(text)) AS n_violations
        FROM documents GROUP BY lang
    """,
    origin="LLM",
    doc="Per-language doc count, average length, and metadata-vs-content "
        "violation count (n_chars <> length(text)) — a data-quality gate.",
)
def q_text_lang_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r6(F.avg("n_chars")).alias("avg_chars"),
        F.count(F.when(F.col("n_chars") != F.length("text"), 1)).alias(
            "n_violations"
        ),
    )


# ---------------------------------------------------------------------------
# Extended text analysis (BASELINE.json mandate): language-ID, quality
# scoring, token counting, document fingerprinting.
# ---------------------------------------------------------------------------

from xml_processor_spark.functions.deterministic import phash60, phash60_sql  # noqa: E402
from pyspark.sql import Window  # noqa: E402

_PROFILE_TOP = 20

# Shared by q_text_langid (doc-level prediction) and q_text_lang_confusion
# (the aggregated declared-vs-predicted matrix).
_LANGID_SQL = f"""
        WITH bg AS (
            SELECT doc_id, lang,
                   unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(text) - 1, 1)),
                       i -> substring(text, i, 2)))) AS b
            FROM documents
        ), prof_counts AS (
            SELECT lang AS plang, b, count(*) AS c FROM bg GROUP BY 1, 2
        ), prof AS (
            SELECT plang, b FROM (
                SELECT plang, b,
                       row_number() OVER (PARTITION BY plang
                                          ORDER BY c DESC, b) AS rn
                FROM prof_counts
            ) WHERE rn <= {_PROFILE_TOP}
        ), scores AS (
            SELECT g.doc_id, g.lang, p.plang, count(*) AS score
            FROM bg g JOIN prof p ON g.b = p.b
            GROUP BY 1, 2, 3
        )
        SELECT doc_id, lang, plang AS pred_lang, score
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY score DESC, plang) AS rn
              FROM scores)
        WHERE rn = 1
"""


@register(
    "q_text_langid",
    oracle=_LANGID_SQL,
    origin="LLM",
    doc="n-gram-heuristic language ID: per-language character-bigram "
        "profiles (top-20 by frequency) scored against each document's "
        "bigram set; argmax with lexicographic tie-break. The standard "
        "cheap lang-ID shape — profile build and scoring are two "
        "aggregations, no Python.",
)
def q_text_langid(spark, sf_dir):
    # widen(): char-bigram extraction is an interpreted higher-order
    # transform per document; spread the one-row-group local scan first.
    d = widen(table(spark, sf_dir, "documents"))
    bigrams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("text") - 1, F.lit(1))),
            lambda i: F.col("text").substr(i, F.lit(2)),
        )
    )
    # r16 (guide §2.3/§2.4): the per-doc distinct-bigram ARRAY is
    # materialized once (the profile-build branch and the scoring branch
    # both read it — lazily each re-ran the interpreted extraction over
    # the whole corpus), and scoring happens map-side against the
    # collected profile. The profile is bounded — |langs| × top-20
    # bigrams, the same bounded-codebook-in-closure pattern as
    # _km_assign_blas — so the old explode → broadcast-join →
    # groupBy(doc, lang, plang) → per-doc window pipeline (3 corpus-sized
    # Exchanges) collapses to one array_intersect + argmax per document:
    # score = |doc_bigrams ∩ profile(plang)| is exactly the join-count,
    # the Python fold keeps the FIRST maximum over plang-ascending
    # candidates (= ORDER BY score DESC, plang tie-break), and zero-score
    # languages never won under join semantics, hence score >= 1. The
    # table is corpus-sized, so it is kept on disk, like the shingle
    # tables of llm_dedup (_SH_CKPT_LEVEL).
    docs = d.select("doc_id", "lang", bigrams.alias("bg")).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY
    )
    bgx = docs.select("lang", F.explode("bg").alias("b"))
    prof_counts = bgx.groupBy(F.col("lang").alias("plang"), "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_prof = Window.partitionBy("plang").orderBy(F.col("c").desc(), "b")
    prof = (
        prof_counts.withColumn("rn", F.row_number().over(w_prof))
        .filter(F.col("rn") <= _PROFILE_TOP)
        .groupBy("plang")
        .agg(F.collect_list("b").alias("pbs"))
    )
    prows = sorted(prof.collect(), key=lambda r: r["plang"])
    if not prows:
        return docs.select(
            "doc_id",
            "lang",
            F.lit(None).cast("string").alias("pred_lang"),
            F.lit(None).cast("long").alias("score"),
        ).filter(F.lit(False))
    cands = [
        F.struct(
            F.size(
                F.array_intersect("bg", F.array(*[F.lit(b) for b in r["pbs"]]))
            )
            .cast("long")
            .alias("score"),
            F.lit(r["plang"]).alias("plang"),
        )
        for r in prows
    ]
    best = cands[0]
    for nxt in cands[1:]:
        best = F.when(nxt["score"] > best["score"], nxt).otherwise(best)
    return (
        docs.select("doc_id", "lang", best.alias("b"))
        .filter(F.col("b.score") >= 1)
        .select(
            "doc_id",
            "lang",
            F.col("b.plang").alias("pred_lang"),
            F.col("b.score").alias("score"),
        )
    )


_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@register(
    "q_text_quality",
    oracle=f"""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               round(len(list_distinct(string_split(text, ' ')))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS uniq_ratio,
               round((length(text) - len(string_split(text, ' ')) + 1)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS avg_tok_len,
               round(len(list_filter(string_split(text, ' '),
                                     t -> t IN ({_SW_SQL})))
                     / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stop_ratio,
               (length(text) <> n_chars) AS meta_mismatch
        FROM documents
    """,
    origin="LLM",
    doc="Quality scoring: token count, type/token ratio, mean token length "
        "(exact integer arithmetic: chars minus separators), stopword "
        "ratio, metadata-consistency flag — the filter features of a "
        "training-data quality gate, all JVM-side.",
)
def q_text_quality(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        r6(F.size(F.array_distinct(toks)) / n.cast("double")).alias("uniq_ratio"),
        r6((F.length("text") - n + 1) / n.cast("double")).alias("avg_tok_len"),
        r6(n_stop / n.cast("double")).alias("stop_ratio"),
        (F.length("text") != F.col("n_chars")).alias("meta_mismatch"),
    )


@register(
    "q_text_token_stats",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_ws_tokens,
               len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_runs,
               len(regexp_extract_all(text, '[a-z]{1,4}')) AS n_bpe_pieces,
               length(replace(text, ' ', '')) AS n_chars_nospace
        FROM documents
    """,
    origin="LLM",
    doc="Token counting: whitespace tokens, alphabetic runs, and a BPE-ish "
        "greedy <=4-char piece count via regex — the cheap token-budget "
        "estimators a data pipeline runs before the real tokenizer.",
)
def q_text_token_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), F.lit(0))).alias(
            "n_alpha_runs"
        ),
        F.size(
            F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), F.lit(0))
        ).alias("n_bpe_pieces"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias(
            "n_chars_nospace"
        ),
    )


_ROLL_MOD = 1_000_000_007
_FP_SHINGLE = 4


@register(
    "q_text_fingerprint",
    oracle=f"""
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(generate_series(1, len(text)),
                                      i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
                   (a, c) -> (a * 31 + c) % {_ROLL_MOD}) AS roll_fp,
               list_aggregate(
                   list_transform(
                       list_distinct(list_transform(
                           generate_series(1, greatest(len(string_split(text,' ')) - {_FP_SHINGLE - 1}, 1)),
                           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                                || ' ' || string_split(text,' ')[i+2] || ' ' || string_split(text,' ')[i+3])),
                       s -> {phash60_sql('s')}),
                   'min') AS min_shingle_fp
        FROM documents
    """,
    origin="LLM",
    doc="Document fingerprinting: (1) polynomial rolling hash over the "
        "character stream (base 31 mod 1e9+7, left fold — identical "
        "sequential fold in both engines); (2) winnowing-style minimum "
        "4-word-shingle fingerprint from the portable md5-derived hash. "
        "Both are content-defined IDs for incremental dedup.",
)
def q_text_fingerprint(spark, sf_dir):
    # widen(): the rolling-hash left fold is interpreted per character and
    # inherently sequential per document — parallelism must come from rows.
    d = widen(table(spark, sf_dir, "documents"))
    codes = F.transform(
        F.sequence(F.lit(1), F.length("text")),
        lambda i: F.ascii(F.col("text").substr(i, F.lit(1))).cast("long"),
    )
    roll = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda a, c: (a * 31 + c) % _ROLL_MOD,
    )
    toks = F.split("text", " ")
    sh4 = F.array_distinct(
        F.transform(
            F.sequence(
                F.lit(1), F.greatest(F.size(toks) - (_FP_SHINGLE - 1), F.lit(1))
            ),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + off) for off in range(_FP_SHINGLE)]
            ),
        )
    )
    min_fp = F.array_min(F.transform(sh4, lambda s: phash60(s)))
    return d.select(
        "doc_id", roll.alias("roll_fp"), min_fp.alias("min_shingle_fp")
    )


# ---------------------------------------------------------------------------
# Character-entropy quality signal.
# ---------------------------------------------------------------------------

@register(
    "q_text_entropy",
    oracle="""
        WITH ch AS (
            SELECT doc_id, unnest(string_split(text, '')) AS c
            FROM documents
        ), cnt AS (
            SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_distinct_chars,
               CAST(sum(k) AS BIGINT) AS n_chars_total,
               round(log2(CAST(sum(k) AS DOUBLE))
                     - sum(k * log2(CAST(k AS DOUBLE)))
                       / CAST(sum(k) AS DOUBLE), 6) AS char_entropy
        FROM cnt
        GROUP BY doc_id
    """,
    origin="LLM",
    doc="Character-entropy quality signal: Shannon entropy (bits/char) of "
        "the per-document character distribution, plus distinct-char and "
        "total counts. Low entropy flags degenerate/repetitive text, "
        "near-log2(alphabet) flags random noise — a standard corpus-"
        "curation filter. Algebraic form H = log2(n) - sum(k*log2(k))/n "
        "needs only per-(doc,char) counts: two map-side-combined "
        "aggregations, shuffle ∝ |docs| x |alphabet|, never per-char rows "
        "over the wire.",
)
def q_text_entropy(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    cnt = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    n = F.sum("k")
    return cnt.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_distinct_chars"),
        n.alias("n_chars_total"),
        F.round(
            F.log2(n.cast("double"))
            - F.sum(F.col("k") * F.log2(F.col("k").cast("double")))
            / n.cast("double"),
            6,
        ).alias("char_entropy"),
    )


# ---------------------------------------------------------------------------
# Bigram-LM log-probability quality score (KenLM-proxy filter).
# ---------------------------------------------------------------------------

_LP_SCALE = 1_000_000  # fixed-point 1e-6 units → order-independent sums


# Shared CTE block: the add-one-smoothed char-bigram LM scoring, reused
# verbatim by the q_text_bigram_logprob oracle and as the scoring stage of
# q_ppl_bucket's (the CCNet-style perplexity-bucket curation step).
_BIGRAM_LP_CTES = f"""
        bg AS (
            SELECT doc_id, substring(text, i, 2) AS bg
            FROM documents,
                 LATERAL (SELECT unnest(generate_series(1, len(text) - 1))
                          AS i) u
            WHERE len(text) >= 2
        ), m12 AS (
            SELECT bg, count(*) AS n12 FROM bg GROUP BY bg
        ), m1 AS (
            SELECT substring(bg, 1, 1) AS c1, count(*) AS n1
            FROM bg GROUP BY 1
        ), v AS (
            SELECT count(DISTINCT c) AS vsz
            FROM (SELECT unnest(string_split(text, '')) AS c FROM documents)
        ), terms AS (
            SELECT b.doc_id,
                   CAST(round(log2((m12.n12 + 1)
                                   / CAST(m1.n1 + v.vsz AS DOUBLE))
                              * {_LP_SCALE}) AS BIGINT) AS t
            FROM bg b
            JOIN m12 ON m12.bg = b.bg
            JOIN m1 ON m1.c1 = substring(b.bg, 1, 1)
            CROSS JOIN v
        ), scored AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_bigrams,
                   round(CAST(sum(t) AS DOUBLE) / {_LP_SCALE} / count(*), 6)
                       AS avg_logprob
            FROM terms
            GROUP BY doc_id
        )
"""


def _bigram_lm_scored(spark, sf_dir):
    """Shared scorer for q_text_bigram_logprob / q_ppl_bucket.

    Two linear Arrow passes over the corpus, zero shuffles, zero joins:

    1. Model pass — per-partition partial Counters of char bigrams plus
       the partition's character set (the map-side-combine shape, done in
       Python because it IS the whole stage); collected and merged on the
       driver. Driver state is bounded by the distinct-bigram vocabulary
       (≤ |alphabet|^2; 114 at sf0.1) — the same broadcastability
       assumption the previous broadcast-join formulation made. Per-term
       integer micro-log-probs t = round(log2((n12+1)/(n1+V))·1e6) are
       computed once per DISTINCT bigram; n1 is the first-char marginal
       of n12 (every c1 occurrence is some bigram c1||x occurrence), so
       no extra corpus pass exists for the unigram model.
    2. Score pass — the t-table rides the task closure (≪ the 10 MB
       broadcast-join threshold) and each document folds Σ t over its
       bigrams locally; output is |docs| rows, produced with NO exchange.

    Returns (doc_id, lang, n_bigrams, sum_t); consumers do the final
    fixed-point division JVM-side so rounding semantics stay identical to
    the oracle's. Why not pure DataFrame ops: the declarative twin
    (explode(transform(sequence, substr)) + 3 broadcast joins) is
    semantically identical but measured 2.0 s vs 1.0 s at sf0.1 — per-
    char expression eval costs ~1.6 µs/bigram in codegen vs ~0.2 µs in a
    batched Counter, and the model needs a second corpus pass either way.
    Both passes stay linear in corpus bytes at any SF.
    """
    import math

    d = widen(table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text"
    )

    def partials(it):
        import pandas as pd
        from collections import Counter

        c: Counter = Counter()
        chars: set = set()
        for pdf in it:
            for text in pdf["text"]:
                if text is None:
                    continue
                chars.update(text)
                if len(text) < 2:
                    continue
                prev = text[0]
                for ch in text[1:]:
                    c[prev + ch] += 1
                    prev = ch
        gs = list(c.keys()) + list(chars)
        ns = list(c.values()) + [None] * len(chars)
        yield pd.DataFrame({"g": gs, "n": pd.array(ns, dtype="Int64")})

    n12: dict = {}
    charset: set = set()
    for r in d.mapInPandas(partials, "g string, n long").collect():
        if r["n"] is None:
            charset.add(r["g"])
        else:
            n12[r["g"]] = n12.get(r["g"], 0) + r["n"]
    vsz = len(charset)
    n1: dict = {}
    for bg, n in n12.items():
        n1[bg[0]] = n1.get(bg[0], 0) + n
    # Half-away fixed-pointing (ADVICE r12): python round() is banker's
    # (half-to-even) while the oracle's DuckDB round() is half-away and
    # the pre-r12 engine used F.round (HALF_UP) — a log2 value landing
    # exactly on .5 in double would flip the integer. ADVICE r13: exact
    # fractional-part test (deterministic.py), not floor(|v|+0.5).
    t = {
        bg: py_half_away(v)
        for bg, v in (
            (bg, math.log2((n + 1) / (n1[bg[0]] + vsz)) * _LP_SCALE)
            for bg, n in n12.items()
        )
    }

    def score(it):
        import pandas as pd

        for pdf in it:
            ids, langs, ns, ss = [], [], [], []
            for doc_id, lang, text in zip(
                pdf["doc_id"], pdf["lang"], pdf["text"]
            ):
                if text is None or len(text) < 2:
                    continue
                s = 0
                prev = text[0]
                for ch in text[1:]:
                    s += t[prev + ch]
                    prev = ch
                ids.append(doc_id)
                langs.append(lang)
                ns.append(len(text) - 1)
                ss.append(s)
            yield pd.DataFrame(
                {"doc_id": ids, "lang": langs, "n_bigrams": ns, "sum_t": ss}
            )

    return d.mapInPandas(
        score, "doc_id long, lang string, n_bigrams long, sum_t long"
    )


@register(
    "q_text_bigram_logprob",
    oracle=f"""
        WITH {_BIGRAM_LP_CTES}
        SELECT doc_id, n_bigrams, avg_logprob FROM scored
    """,
    origin="LLM",
    doc="Character-bigram language-model score — the in-corpus proxy for "
        "the KenLM-perplexity quality filter: train add-one-smoothed "
        "bigram probabilities P(c2|c1) = (n12+1)/(n1+V) from the corpus "
        "itself, score each document by its mean log2 P over bigrams. "
        "Unusually low scores flag junk/noise, unusually high flag "
        "boilerplate. Per-term log-probs are fixed-pointed to 1e-6 BEFORE "
        "summing, so the per-doc aggregate is an order-independent "
        "integer sum (float addition order differs across partitionings). "
        "Scale shape: see _bigram_lm_scored — two linear Arrow passes "
        "(bounded-model partial counters, closure-scored fold), zero "
        "shuffles, zero joins; the final division + 6-dp round runs "
        "JVM-side on the exact integer (sum_t, n) pair so values are "
        "bit-identical to the declarative broadcast-join formulation "
        "(equality verified at sf0.1 before the swap).",
)
def q_text_bigram_logprob(spark, sf_dir):
    return _bigram_lm_scored(spark, sf_dir).select(
        "doc_id",
        "n_bigrams",
        F.round(
            F.col("sum_t").cast("double") / _LP_SCALE / F.col("n_bigrams"),
            6,
        ).alias("avg_logprob"),
    )


@register(
    "q_ppl_bucket",
    oracle=f"""
        WITH {_BIGRAM_LP_CTES}
        SELECT s.doc_id, d.lang, s.avg_logprob,
               CASE ntile(3) OVER (PARTITION BY d.lang
                                   ORDER BY s.avg_logprob DESC, s.doc_id)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM scored s JOIN documents d ON d.doc_id = s.doc_id
    """,
    origin="LLM",
    doc="CCNet-style perplexity bucketing — the curation step downstream "
        "of the LM score: per LANGUAGE, rank documents by bigram-LM score "
        "(high score = low perplexity) and split into head/middle/tail "
        "thirds; pipelines keep head+middle and drop or re-weight tail. "
        "ntile runs per-language with a unique (score, doc_id) tie-break, "
        "so bucket assignment is deterministic on any engine/partitioning "
        "and no global sort exists (the same per-stratum window discipline "
        "as q_sample_topquality). Sub-2-char docs have no bigrams and are "
        "excluded by the scorer in both dialects. lang rides along from "
        "the scoring pass (_bigram_lm_scored), so no join back to "
        "documents exists — the window shuffle on lang is the plan's only "
        "exchange.",
)
def q_ppl_bucket(spark, sf_dir):
    from pyspark.sql import Window

    scored = _bigram_lm_scored(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.round(
            F.col("sum_t").cast("double") / _LP_SCALE / F.col("n_bigrams"),
            6,
        ).alias("avg_logprob"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_logprob"), F.col("doc_id")
    )
    tile = F.ntile(3).over(w)
    return scored.select(
        "doc_id",
        "lang",
        "avg_logprob",
        F.when(tile == 1, "head")
        .when(tile == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring (the IR ranking function RAG retrieval uses).
# ---------------------------------------------------------------------------

_BM25_TERMS = ("dup", "scan", "query")  # rare + common: score variance
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "q_text_bm25",
    oracle=f"""
        WITH dl AS (
            SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
        ), stats AS (
            SELECT count(*) AS n, avg(dl) AS avgdl FROM dl
        ), tf AS (
            SELECT doc_id, w, count(*) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w IN ('dup', 'scan', 'query')
            GROUP BY doc_id, w
        ), df AS (
            SELECT w, count(*) AS df FROM tf GROUP BY w
        )
        SELECT tf.doc_id,
               round(SUM(
                   ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
                   * tf.tf * ({_BM25_K1} + 1)
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                      + {_BM25_B} * dl.dl / stats.avgdl))
               ), 6) AS bm25
        FROM tf
        JOIN df USING (w)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
    """,
    origin="LLM",
    doc="BM25 relevance scoring (Lucene-style positive idf, k1=1.2, "
        "b=0.75) of every document against a fixed term set — the ranking "
        "function RAG retrieval and search re-ranking run. Scale shape "
        "(r15 rewrite, guide §2.3/§2.4): the fixed query-term set means "
        "per-doc term frequencies are scan-side array expressions "
        "(size(filter(ws, ...)) per term), so the whole operator is TWO "
        "linear scans and ZERO fact shuffles — pass 1 folds every corpus "
        "statistic the score needs (N, avgdl, and per-term document "
        "frequencies as count_if(tf>0)) into ONE 1-row broadcast; pass 2 "
        "computes each doc's score per row against that broadcast. The "
        "prior shape exploded every token into a (doc, term) posting "
        "shuffle, joined df/dl/stats back in 3 jobs, and re-aggregated "
        "per doc — all of that is now per-row arithmetic. Grain note: "
        "one output row per input documents row (doc_id is the fixture "
        "PK at every scale point, oracle-checked); the oracle states the "
        "posting-join truth. Everything is JVM builtins — no Python in "
        "the plan.",
)
def q_text_bm25(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    tf_cols = [
        f"size(filter(ws, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    ]
    perdoc = d.selectExpr("doc_id", "split(text, ' ') AS ws").selectExpr(
        "doc_id", "size(ws) AS dl", *tf_cols
    )
    stats = perdoc.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def _score(i: int):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5)
            + 1
        )
        s = idf * F.col(f"tf{i}") * (_BM25_K1 + 1) / (
            F.col(f"tf{i}")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
        return F.when(F.col(f"tf{i}") > 0, s).otherwise(F.lit(0.0))

    total = _score(0)
    for i in range(1, len(_BM25_TERMS)):
        total = total + _score(i)
    any_term = F.col("tf0") > 0
    for i in range(1, len(_BM25_TERMS)):
        any_term = any_term | (F.col(f"tf{i}") > 0)
    return (
        perdoc.crossJoin(F.broadcast(stats))
        .where(any_term)
        .select("doc_id", F.round(total, 6).alias("bm25"))
    )


# --- r6 additions: calibrated quality score, boilerplate n-gram mining ----

# Logistic quality model: fixed interpretable weights over the exact
# features q_text_quality exposes. A stand-in for the fastText-style
# quality classifier of a production pipeline — the Spark-side shape
# (scan-side features -> scalar score -> threshold) is identical.
_QL_BIAS = -2.0
_QL_W_LEN, _QL_W_UNIQ, _QL_W_TOK = 2.5, 1.5, 1.0


@register(
    "q_quality_logistic",
    oracle=f"""
        SELECT doc_id, quality_score, (quality_score >= 0.5) AS keep FROM (
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-({_QL_BIAS}
                       + {_QL_W_LEN} * (least(n_chars, 1000) / 1000.0)
                       + {_QL_W_UNIQ} * (len(list_distinct(string_split(text, ' ')))
                             / CAST(len(string_split(text, ' ')) AS DOUBLE))
                       + {_QL_W_TOK} * (least((length(text) - len(string_split(text, ' ')) + 1)
                             / CAST(len(string_split(text, ' ')) AS DOUBLE), 8.0) / 8.0)
                   ))), 6) AS quality_score
            FROM documents
        )
    """,
    origin="LLM",
    doc="Calibrated document quality: logistic(w . features) over the "
        "exact quality features (capped length, type/token ratio, capped "
        "mean token length) with fixed published weights, plus the "
        "keep/drop decision at 0.5 — the quality-classifier gate of a "
        "training pipeline. Purely scan-side scalar math (one exp per "
        "row, zero shuffle); the keep flag derives from the ROUNDED score "
        "so both engines threshold the identical 6-dp value and a 1-ulp "
        "libm exp() difference cannot flip it.",
)
def q_quality_logistic(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    len_score = F.least(F.col("n_chars"), F.lit(1000)) / F.lit(1000.0)
    uniq_ratio = F.size(F.array_distinct(toks)) / n.cast("double")
    tok_norm = (
        F.least((F.length("text") - n + 1) / n.cast("double"), F.lit(8.0))
        / F.lit(8.0)
    )
    z = (
        F.lit(_QL_BIAS)
        + _QL_W_LEN * len_score
        + _QL_W_UNIQ * uniq_ratio
        + _QL_W_TOK * tok_norm
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return d.select("doc_id", score.alias("quality_score")).select(
        "doc_id",
        "quality_score",
        (F.col("quality_score") >= 0.5).alias("keep"),
    )


_BP_MIN_DOCS = 5  # an n-gram in >= 5 distinct docs is template/boilerplate


@register(
    "q_text_boilerplate",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text,' ')) - 2),
                       i -> string_split(text,' ')[i] || ' ' ||
                            string_split(text,' ')[i+1] || ' ' ||
                            string_split(text,' ')[i+2]))) AS ngram
            FROM documents
        )
        SELECT ngram, CAST(count(*) AS BIGINT) AS n_docs,
               min(doc_id) AS first_doc_id
        FROM sh GROUP BY ngram HAVING count(*) >= {_BP_MIN_DOCS}
    """,
    origin="LLM",
    doc=f"Boilerplate n-gram mining: 3-word shingles appearing in >= "
        f"{_BP_MIN_DOCS} DISTINCT documents (per-doc-distinct shingles, "
        "so the groupBy count IS document frequency), with the earliest "
        "doc as provenance — the discovery pass behind template/"
        "navigation-chrome removal in web-corpus cleaning. One map-side-"
        "combined groupBy on the shingle stream; the HAVING filter "
        "prunes the long unique tail before any further join.",
)
def q_text_boilerplate(spark, sf_dir):
    from xml_processor_spark.functions.llm_dedup import shingles

    d = widen(table(spark, sf_dir, "documents"))
    sh = d.select("doc_id", F.explode(shingles("text")).alias("ngram"))
    return (
        sh.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_docs") >= _BP_MIN_DOCS)
    )


# ---------------------------------------------------------------------------
# Rule-based quality gate (the Gopher/C4 hard-filter pattern).
# ---------------------------------------------------------------------------

# Gopher-style bounds, adapted to the fixture's synthetic text. Each rule is
# a named boolean so downstream can report per-rule kill counts (the way
# curation dashboards attribute losses), not just a survivor set.
_QR_MIN_TOKENS, _QR_MAX_TOKENS = 50, 100_000
_QR_MIN_WLEN, _QR_MAX_WLEN = 3.0, 10.0
_QR_MIN_UNIQ = 0.3
_QR_MIN_ALPHA = 0.6


@register(
    "q_quality_rules",
    oracle=f"""
        WITH m AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   (length(text) - len(string_split(text, ' ')) + 1)
                       / CAST(len(string_split(text, ' ')) AS DOUBLE)
                       AS mean_wlen,
                   len(list_distinct(string_split(text, ' ')))
                       / CAST(len(string_split(text, ' ')) AS DOUBLE)
                       AS uniq_ratio,
                   len(regexp_extract_all(text, '[a-z]'))
                       / CAST(length(replace(text, ' ', '')) AS DOUBLE)
                       AS alpha_frac
            FROM documents
        )
        SELECT doc_id,
               n_tokens BETWEEN {_QR_MIN_TOKENS} AND {_QR_MAX_TOKENS}
                   AS r_len,
               mean_wlen BETWEEN {_QR_MIN_WLEN} AND {_QR_MAX_WLEN}
                   AS r_word_len,
               uniq_ratio >= {_QR_MIN_UNIQ} AS r_uniq,
               alpha_frac >= {_QR_MIN_ALPHA} AS r_alpha,
               (n_tokens BETWEEN {_QR_MIN_TOKENS} AND {_QR_MAX_TOKENS})
                   AND mean_wlen BETWEEN {_QR_MIN_WLEN} AND {_QR_MAX_WLEN}
                   AND uniq_ratio >= {_QR_MIN_UNIQ}
                   AND alpha_frac >= {_QR_MIN_ALPHA} AS keep
        FROM m
    """,
    origin="LLM",
    doc="Rule-based quality gate — the Gopher/C4 hard-filter pattern "
        "complementing q_text_quality's metrics and q_quality_logistic's "
        "calibrated score: four named boolean rules (token-count bounds, "
        "mean-word-length bounds, type/token floor, alphabetic-character "
        "floor) plus their conjunction as the keep flag, so downstream "
        "can attribute kill counts per rule. Boundary compares happen on "
        "UNROUNDED doubles identically in both dialects (same exact "
        "integer-ratio arithmetic), so flags cannot flip between engines. "
        "Scan-side scalar math, zero shuffle, zero Python.",
)
def q_quality_rules(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    mean_wlen = (F.length("text") - n + 1) / n.cast("double")
    uniq = F.size(F.array_distinct(toks)) / n.cast("double")
    alpha = F.size(
        F.regexp_extract_all("text", F.lit("[a-z]"), F.lit(0))
    ) / F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    )
    r_len = n.between(_QR_MIN_TOKENS, _QR_MAX_TOKENS)
    r_wlen = mean_wlen.between(_QR_MIN_WLEN, _QR_MAX_WLEN)
    r_uniq = uniq >= _QR_MIN_UNIQ
    r_alpha = alpha >= _QR_MIN_ALPHA
    return d.select(
        "doc_id",
        r_len.alias("r_len"),
        r_wlen.alias("r_word_len"),
        r_uniq.alias("r_uniq"),
        r_alpha.alias("r_alpha"),
        (r_len & r_wlen & r_uniq & r_alpha).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit (corpus-health diagnostic).
# ---------------------------------------------------------------------------

_ZIPF_TOP = 1000  # fit over the top-N terms by frequency


@register(
    "q_text_zipf",
    oracle=f"""
        WITH tf AS (
            SELECT s AS term, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest(string_split(text, ' ')) AS s
                  FROM documents)
            GROUP BY s
        ), top AS (
            SELECT term, n,
                   row_number() OVER (ORDER BY n DESC, term) AS rank
            FROM tf
            ORDER BY n DESC, term
            LIMIT {_ZIPF_TOP}
        ), q AS (
            SELECT CAST(round(ln(rank) * 1e6) AS BIGINT) AS x,
                   CAST(round(ln(n) * 1e6) AS BIGINT) AS y
            FROM top
        ), s AS (
            SELECT CAST(count(*) AS BIGINT) AS k,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * x) AS sxx, sum(x * y) AS sxy
            FROM q
        )
        SELECT (SELECT count(*) FROM tf) AS n_terms,
               k AS n_fit,
               round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                   AS zipf_slope,
               round((CAST(sy AS DOUBLE)
                      - CAST(sx AS DOUBLE)
                        * ((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
                     / (CAST(k AS DOUBLE) * 1e6), 6) AS zipf_intercept
        FROM s
    """,
    origin="LLM",
    doc=f"Zipf rank-frequency fit — the corpus-health diagnostic "
        "(natural text follows slope ~ -1 in log-log rank/frequency; "
        "machine-generated or template-heavy corpora bend the curve): "
        f"least-squares slope+intercept of ln(count) vs ln(rank) over "
        f"the top-{_ZIPF_TOP} terms. Cross-engine float discipline: "
        "ln values are QUANTIZED to 1e-6 BIGINTs per term before any "
        "sum, so the regression sums are exact integers and the final "
        "slope is one identical double expression on both engines "
        "(float sums in engine-dependent order never happen). Scale "
        f"shape: term counts are one map-side-combined groupBy; the "
        f"top-{_ZIPF_TOP} is a distributed TakeOrdered (never a global "
        "sort); the fit runs on a constant {_ZIPF_TOP}-row table. "
        "Intercept is reported in ln-count units (y/1e6 descale).",
)
def q_text_zipf(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    # r16 (guide §2.4): the vocabulary table feeds TWO actions-worth of
    # branches (global term count + TakeOrdered top) — lazily each re-ran
    # the corpus token explode + groupBy. Materialize the vocab-sized
    # aggregate once; both branches read stored rows.
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_terms = tf.agg(F.count(F.lit(1)).alias("n_terms"))
    top = tf.orderBy(F.col("n").desc(), "term").limit(_ZIPF_TOP)
    w = Window.orderBy(F.col("n").desc(), "term")  # over <= _ZIPF_TOP rows
    q = top.withColumn("rank", F.row_number().over(w)).select(
        F.round(F.log(F.col("rank")) * 1e6).cast("long").alias("x"),
        F.round(F.log(F.col("n")) * 1e6).cast("long").alias("y"),
    )
    s = q.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    kd = F.col("k").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxxd = F.col("sxx").cast("double")
    sxyd = F.col("sxy").cast("double")
    slope = (kd * sxyd - sxd * syd) / (kd * sxxd - sxd * sxd)
    return (
        F.broadcast(n_terms)
        .crossJoin(s)
        .select(
            "n_terms",
            F.col("k").alias("n_fit"),
            F.round(slope, 6).alias("zipf_slope"),
            F.round((syd - sxd * slope) / (kd * 1e6), 6).alias(
                "zipf_intercept"
            ),
        )
    )


# --- q_text_keywords: top-k TF-IDF keyword extraction per document ---------

_KW_K = 3


@register(
    "q_text_keywords",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
        ), df AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), n AS (SELECT count(*) AS n FROM documents),
        w AS (
            SELECT tf.doc_id, tf.term,
                   round(tf.tf * ln((n.n + 1) / CAST(df.df + 1 AS DOUBLE)), 6)
                       AS w
            FROM tf JOIN df USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, w, rn AS kw_rank
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY w DESC, term) AS rn
              FROM w)
        WHERE rn <= {_KW_K}
    """,
    origin="LLM",
    doc=f"Keyword extraction: top-{_KW_K} TF-IDF terms per document — the "
        "per-doc topical signature used for tagging, clustering seeds, and "
        "retrieval filters. Composes the `q_text_tfidf` weights (cited "
        "pattern: q_graph_pagerank reuses q_dedup_ngram_jaccard) with a "
        "per-doc top-k window. CROSS-ENGINE ORDER DISCIPLINE: the rank "
        "sorts the 6-dp ROUNDED weight (the value both engines agree on "
        "bit-for-bit), never the raw double — a 1-ulp libm ln() "
        "difference could otherwise flip near-tied terms; remaining "
        "exact ties break on the term string. Scale: the window "
        "partitions by doc_id — the same key family the tf groupBy "
        "already shuffled on; no global sort, no new fact pass.",
)
def q_text_keywords(spark, sf_dir):
    from pyspark.sql import Window

    w = q_text_tfidf(spark, sf_dir).select("doc_id", "term", "w")
    win = Window.partitionBy("doc_id").orderBy(F.col("w").desc(), "term")
    return (
        w.withColumn("kw_rank", F.row_number().over(win))
        .filter(F.col("kw_rank") <= _KW_K)
        .select("doc_id", "term", "w", "kw_rank")
    )


# --- q_text_readability: Flesch-style reading-ease scoring ------------------


@register(
    "q_text_readability",
    oracle="""
        WITH base AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                   CAST(len(regexp_extract_all(text, '[aeiou]+'))
                        AS BIGINT) AS n_syll,
                   CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                        AS BIGINT) AS n_sent
            FROM documents
        )
        SELECT doc_id, n_words, n_syll, n_sent,
               round(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
                     - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6)
                   AS flesch,
               CASE WHEN round(206.835
                              - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
                              - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6)
                         >= 60 THEN 'easy'
                    WHEN round(206.835
                              - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
                              - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 6)
                         >= 30 THEN 'medium'
                    ELSE 'hard' END AS band
        FROM base
    """,
    origin="LLM",
    doc="Flesch-style reading-ease score per document — the readability "
        "gate a curation pipeline applies alongside quality scoring: "
        "words (whitespace tokens), syllables approximated as vowel "
        "GROUPS ([aeiou]+ runs — the standard cheap proxy), sentences as "
        "[.!?]+ runs floored at 1 (the fixture has no terminal "
        "punctuation; the floor keeps the formula total). The three "
        "counts are exact integers from identical regexes (character "
        "classes — no engine-divergent regex semantics), so the formula "
        "206.835 − 1.015·w/s − 84.6·syll/w combines constants with "
        "ratios of exact BIGINTs — identical doubles, and the "
        "easy/medium/hard band compares the 6-dp ROUNDED score, so a "
        "band can never flip between engines. Pure scan-side projection: "
        "zero shuffles, zero joins, zero Python.",
)
def q_text_readability(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.regexp_count("text", F.lit("[aeiou]+")).cast("long").alias("n_syll"),
        F.greatest(
            F.regexp_count("text", F.lit("[.!?]+")), F.lit(1)
        ).cast("long").alias("n_sent"),
    )
    flesch = r6(
        F.lit(206.835)
        - 1.015 * (F.col("n_words").cast("double") / F.col("n_sent"))
        - 84.6 * (F.col("n_syll").cast("double") / F.col("n_words"))
    )
    return base.select(
        "doc_id", "n_words", "n_syll", "n_sent",
        flesch.alias("flesch"),
    ).withColumn(
        "band",
        F.when(F.col("flesch") >= 60, "easy")
        .when(F.col("flesch") >= 30, "medium")
        .otherwise("hard"),
    )


@register(
    "q_text_lang_confusion",
    oracle=f"""
        WITH pred AS ({_LANGID_SQL})
        SELECT lang, pred_lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               round(CAST(count(*) AS DOUBLE)
                     / CAST(sum(count(*)) OVER (PARTITION BY lang)
                            AS DOUBLE), 6) AS share_of_declared,
               lang = pred_lang AS is_correct
        FROM pred
        GROUP BY 1, 2
    """,
    origin="LLM",
    doc="Language-ID confusion matrix: the declared `lang` column vs the "
        "bigram-profile prediction (the q_text_langid heuristic, shared "
        "via one CTE/pipeline), aggregated to |langs|x|langs| cells with "
        "each cell's share of its declared row — the QA artifact that "
        "tells you WHERE the cheap classifier fails before you trust it "
        "to route a 100 TB corpus. Scale shape: the doc-level prediction "
        "is the langid pipeline (two aggregations, broadcast profile); "
        "the confusion rollup is one map-side-combined groupBy onto a "
        "bounded |langs|^2 grid, and the share window runs over that grid.",
)
def q_text_lang_confusion(spark, sf_dir):
    pred = q_text_langid(spark, sf_dir)
    cell = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w_decl = Window.partitionBy("lang")
    return cell.select(
        "lang", "pred_lang", "n_docs",
        r6(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(w_decl).cast("double")
        ).alias("share_of_declared"),
        (F.col("lang") == F.col("pred_lang")).alias("is_correct"),
    )


@register(
    "q_text_simpson",
    oracle="""
        WITH tc AS (
            SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY 1, 2
        )
        SELECT lang,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS vocab,
               round(CAST(sum(CAST(c AS HUGEINT) * (c - 1)) AS DOUBLE)
                     / nullif(CAST(sum(c) AS DOUBLE)
                              * (CAST(sum(c) AS DOUBLE) - 1), 0), 6)
                   AS simpson,
               round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6)
                   AS ttr
        FROM tc GROUP BY lang
    """,
    origin="LLM",
    doc="Lexical-diversity panel per language: Simpson repeat-probability "
        "λ = Σc(c−1)/(N(N−1)) — the chance two random tokens coincide, "
        "the degenerate-corpus detector that catches boilerplate floods "
        "Zipf fits miss — plus type-token ratio. Σc(c−1) stays exact in "
        "decimal(38,0)/HUGEINT (c ~ 1e12 at 100 TB ⇒ c² ~ 1e24 ≪ 1e38); "
        "float only at the two final divisions. Scale shape: one "
        "(lang, token) map-side-combined fact shuffle, then a groupBy "
        "onto |langs| rows — no windows, no joins.",
)
def q_text_simpson(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tc = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d38 = "decimal(38,0)"
    m = tc.groupBy("lang").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.col("c").cast(d38) * (F.col("c") - 1)).alias("rep"),
    )
    n_d = F.col("n_tokens").cast("double")
    return m.select(
        "lang", "n_tokens", "vocab",
        # nullif: a 1-token language is 0/0 — NaN in DuckDB, NULL in
        # Spark; both dialects must agree on NULL
        r6(
            F.col("rep").cast("double") / F.nullif(n_d * (n_d - 1), F.lit(0.0))
        ).alias("simpson"),
        r6(F.col("vocab").cast("double") / n_d).alias("ttr"),
    )


@register(
    "q_text_hapax",
    oracle="""
        WITH tc AS (
            SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            GROUP BY 1, 2
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS vocab,
               CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
               CAST(count(*) FILTER (WHERE c = 2) AS BIGINT) AS n_dis,
               round(CAST(count(*) FILTER (WHERE c = 1) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE), 6) AS hapax_rate
        FROM tc GROUP BY lang
    """,
    origin="LLM",
    doc="Hapax/dis legomena census per language: how much of the "
        "vocabulary occurs exactly once (or twice) — the vocabulary-"
        "health gauge behind tokenizer sizing and OCR-noise detection "
        "(noisy corpora balloon the hapax rate with garbage types). "
        "Pure integer counts + one rounded ratio. Scale shape: one "
        "(lang, token) map-side-combined fact shuffle, FILTERed "
        "aggregates onto |langs| rows.",
)
def q_text_hapax(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tc = (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = tc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.count(F.when(F.col("c") == 1, 1)).alias("n_hapax"),
        F.count(F.when(F.col("c") == 2, 1)).alias("n_dis"),
    )
    return m.select(
        "lang", "vocab", "n_hapax", "n_dis",
        r6(
            F.col("n_hapax").cast("double") / F.col("vocab").cast("double")
        ).alias("hapax_rate"),
    )


# Jensen-Shannon: per-character term contributions are rounded to 1e-9
# fixed point BEFORE summing so the reduction over the (bounded) char
# alphabet is an exact integer in any partition order.
_JS_Q = 1e9


@register(
    "q_text_js_divergence",
    oracle=f"""
        WITH cc AS (
            SELECT lang, c, CAST(count(*) AS BIGINT) AS k
            FROM (SELECT lang, unnest(string_split(text, '')) AS c
                  FROM documents)
            GROUP BY 1, 2
        ),
        n AS (SELECT lang, CAST(sum(k) AS BIGINT) AS n FROM cc GROUP BY 1),
        p AS (
            SELECT cc.lang, cc.c,
                   CAST(cc.k AS DOUBLE) / CAST(n.n AS DOUBLE) AS p
            FROM cc JOIN n ON cc.lang = n.lang
        ),
        langs AS (SELECT DISTINCT lang FROM cc),
        chars AS (SELECT DISTINCT c FROM cc),
        grid AS (
            SELECT la.lang AS lang_a, lb.lang AS lang_b, chars.c
            FROM langs la JOIN langs lb ON la.lang < lb.lang
            CROSS JOIN chars
        ),
        pairs AS (
            SELECT g.lang_a, g.lang_b,
                   coalesce(a.p, 0.0) AS pa, coalesce(b.p, 0.0) AS pb
            FROM grid g
            LEFT JOIN p a ON a.lang = g.lang_a AND a.c = g.c
            LEFT JOIN p b ON b.lang = g.lang_b AND b.c = g.c
        ),
        terms AS (
            SELECT lang_a, lang_b,
                   CAST(round((
                       CASE WHEN pa > 0
                            THEN 0.5 * pa * log2(2.0 * pa / (pa + pb))
                            ELSE 0.0 END
                       + CASE WHEN pb > 0
                              THEN 0.5 * pb * log2(2.0 * pb / (pa + pb))
                              ELSE 0.0 END) * {_JS_Q}) AS BIGINT) AS t
            FROM pairs
        )
        SELECT lang_a, lang_b,
               round(CAST(sum(t) AS DOUBLE) / {_JS_Q}, 6) AS js_bits
        FROM terms GROUP BY 1, 2
    """,
    origin="LLM",
    doc="Pairwise Jensen-Shannon divergence (bits) between the "
        "character distributions of every language pair — the bounded, "
        "symmetric corpus-drift distance (0 = identical, 1 = disjoint) "
        "used to compare shards/snapshots before mixing them. "
        "The pair grid covers the FULL union alphabet so a char present in one side "
        "only still contributes its ½p·log2(2) mass (grid built from "
        "the lang×char marginals, not an inner join that would drop "
        "one-sided chars); each pair term is "
        "rounded to 1e-9 fixed point BEFORE the sum (the "
        "q_part_assortment discipline) so the alphabet reduction is an "
        "exact integer in any partition order. Scale shape: ONE "
        "per-character fact pass onto |langs×chars| cells; the pair "
        "join and sums run on that bounded grid (|langs|²·|alphabet|).",
)
def q_text_js_divergence(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    cc = (
        d.select("lang", F.explode(F.split("text", "")).alias("c"))
        .groupBy("lang", "c")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint()  # |langs×chars| — pin for the pair self-join
    )
    n = cc.groupBy("lang").agg(F.sum("k").alias("n"))
    p = cc.join(F.broadcast(n), "lang").select(
        "lang", "c", (F.col("k").cast("double") / F.col("n")).alias("p")
    )
    langs = cc.select("lang").distinct()
    chars = cc.select("c").distinct()
    la, lb = langs.alias("la"), langs.alias("lb")
    grid = (
        la.join(lb, F.col("la.lang") < F.col("lb.lang"))
        .select(
            F.col("la.lang").alias("lang_a"), F.col("lb.lang").alias("lang_b")
        )
        .crossJoin(chars.select(F.col("c").alias("gc")))
    )
    a, b = p.alias("a"), p.alias("b")
    pairs = (
        grid.join(
            a,
            (F.col("a.lang") == F.col("lang_a")) & (F.col("a.c") == F.col("gc")),
            "left",
        )
        .join(
            b,
            (F.col("b.lang") == F.col("lang_b")) & (F.col("b.c") == F.col("gc")),
            "left",
        )
        .select(
            "lang_a", "lang_b",
            F.coalesce(F.col("a.p"), F.lit(0.0)).alias("pa"),
            F.coalesce(F.col("b.p"), F.lit(0.0)).alias("pb"),
        )
    )
    mid = F.col("pa") + F.col("pb")
    term = (
        F.when(
            F.col("pa") > 0,
            0.5 * F.col("pa") * F.log2(2.0 * F.col("pa") / mid),
        ).otherwise(0.0)
        + F.when(
            F.col("pb") > 0,
            0.5 * F.col("pb") * F.log2(2.0 * F.col("pb") / mid),
        ).otherwise(0.0)
    )
    terms = pairs.select(
        "lang_a", "lang_b",
        F.round(term * _JS_Q).cast("long").alias("t"),
    )
    return terms.groupBy("lang_a", "lang_b").agg(
        r6(F.sum("t").cast("double") / _JS_Q).alias("js_bits")
    )


@register(
    "q_source_charmix",
    oracle="""
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(text)) AS BIGINT) AS n_chars,
               round(CAST(sum(len(regexp_replace(text, '[^a-z]', '', 'g'))
                          ) AS DOUBLE)
                     / CAST(sum(len(text)) AS DOUBLE), 6) AS letter_share,
               round(CAST(sum(len(regexp_replace(text, '[^0-9]', '', 'g'))
                          ) AS DOUBLE)
                     / CAST(sum(len(text)) AS DOUBLE), 6) AS digit_share,
               round(CAST(sum(len(regexp_replace(text, '[^ ]', '', 'g'))
                          ) AS DOUBLE)
                     / CAST(sum(len(text)) AS DOUBLE), 6) AS space_share,
               round(CAST(sum(len(regexp_replace(text, '[a-z0-9 ]', '', 'g'))
                          ) AS DOUBLE)
                     / CAST(sum(len(text)) AS DOUBLE), 6) AS other_share
        FROM documents GROUP BY source
    """,
    origin="LLM",
    doc="Character-class composition per source: letter / digit / space "
        "/ other shares of the char mass — the OCR-noise and "
        "binary-contamination smoke test run per ingest feed (a source "
        "whose other_share jumps is shipping garbage). Counts via "
        "class-regex strip-and-measure (scan-side, no per-char "
        "explode — q_text_js_divergence pays that only because it needs "
        "the distribution); exact integer sums, four rounded ratios. "
        "Scale shape: one map-side-combined groupBy onto |sources| "
        "rows; zero joins/windows/Python.",
)
def q_source_charmix(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    cls = lambda pat: F.length(F.regexp_replace("text", pat, ""))  # noqa: E731
    m = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(cls("[^a-z]")).alias("letters"),
        F.sum(cls("[^0-9]")).alias("digits"),
        F.sum(cls("[^ ]")).alias("spaces"),
        F.sum(cls("[a-z0-9 ]")).alias("others"),
    )
    share = lambda c: r6(  # noqa: E731
        F.col(c).cast("double") / F.col("n_chars").cast("double")
    )
    return m.select(
        "source", "n_docs", "n_chars",
        share("letters").alias("letter_share"),
        share("digits").alias("digit_share"),
        share("spaces").alias("space_share"),
        share("others").alias("other_share"),
    )


# --- winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the
# MOSS local document fingerprinting algorithm) ------------------------------
#
# k-gram rolling hashes, then in every window of w consecutive hashes keep
# the minimum (ties -> the RIGHTMOST minimum, the paper's rule). The kept
# (hash, position) set is the document fingerprint: guaranteed to share a
# fingerprint with any copy of a run >= w+k-1 tokens, with expected density
# 2/(w+1). Both properties make it the standard plagiarism / near-copy
# screen at corpus scale.
#
# Determinism: the 40-bit hash (first 10 md5 hex digits) and the position
# are packed into ONE int64 — combined = h40 * 2^20 + (2^20 - pos) — so the
# window MIN itself implements "min hash, rightmost position" in exact
# integer arithmetic; no float anywhere. The 2^20 packing bounds documents
# at 1M tokens (fixture max 100; a longer doc would need a wider position
# field, not a different plan).
_WIN_K = 4  # tokens per k-gram
_WIN_W = 5  # hashes per winnowing window
_WIN_POS = 1 << 20


@register(
    "q_text_winnowing",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
            WHERE len(string_split(text, ' ')) >= {_WIN_K}
        ),
        g AS (
            SELECT doc_id, u.i,
                   CAST(concat('0x', substring(md5(array_to_string(
                       list_slice(toks, u.i, u.i + {_WIN_K - 1}), ' ')),
                       1, 10)) AS BIGINT) AS h40,
                   len(toks) - {_WIN_K - 1} AS m
            FROM t, LATERAL (SELECT unnest(generate_series(
                     1, len(toks) - {_WIN_K - 1})) AS i) u
        ),
        wmin AS (
            SELECT doc_id, m, i,
                   min(h40 * {_WIN_POS} + ({_WIN_POS} - i))
                       OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN {_WIN_W - 1} PRECEDING
                             AND CURRENT ROW) AS sel
            FROM g
        ),
        fp AS (SELECT DISTINCT doc_id, m, sel
               FROM wmin WHERE i >= {_WIN_W})
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_fp,
               CAST(SUM(sel // {_WIN_POS}) AS BIGINT) AS h40_sum,
               CAST(SUM({_WIN_POS} - (sel % {_WIN_POS})) AS BIGINT)
                   AS pos_sum,
               round(CAST(count(*) AS DOUBLE) / max(m), 6) AS density
        FROM fp GROUP BY doc_id
    """,
    origin="LLM",
    doc=f"Winnowing document fingerprints (the MOSS algorithm): "
        f"{_WIN_K}-token k-gram hashes, min per {_WIN_W}-hash window with "
        "rightmost-min tie-breaking, distinct selected (hash, pos) pairs "
        "per document, plus the selected density (expected 2/(w+1) = 0.33 "
        "for random text — the guarantee the paper proves). Hash and "
        "position pack into one int64 so the window MIN is exact integer "
        "arithmetic end to end. Scale shape: explode is linear in corpus "
        "tokens, the window min is a per-doc sort (docs are bounded; the "
        "partition key is doc_id so skew equals max doc length, not "
        "corpus size), and the distinct + groupBy shuffle carries only "
        "selected fingerprints (~2/(w+1) of positions). No join, no "
        "Python, no all-pairs — fingerprint postings feed a downstream "
        "equi-join exactly like the minhash band tables.",
)
def q_text_winnowing(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    base = d.filter(F.size(toks) >= _WIN_K).select(
        "doc_id",
        toks.alias("toks"),
        (F.size(toks) - (_WIN_K - 1)).alias("m"),
    )
    grams = base.select(
        "doc_id",
        "m",
        F.explode(F.sequence(F.lit(1), F.col("m"))).alias("i"),
        "toks",
    ).select(
        "doc_id",
        "m",
        "i",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice("toks", F.col("i"), _WIN_K))),
                    1,
                    10,
                ),
                16,
                10,
            ).cast("long")
            * _WIN_POS
            + (F.lit(_WIN_POS) - F.col("i"))
        ).alias("combined"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(_WIN_W - 1), Window.currentRow)
    )
    sel = (
        grams.withColumn("sel", F.min("combined").over(w))
        .filter(F.col("i") >= _WIN_W)
        .select("doc_id", "m", "sel")
        .distinct()
    )
    # Decode before summing: a sum of packed 2^60-scale values overflows
    # int64; the decoded 40-bit hash / 20-bit position sums never do.
    return sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.sum(F.expr(f"sel div {_WIN_POS}")).alias("h40_sum"),
        F.sum(F.lit(_WIN_POS) - F.col("sel") % _WIN_POS).alias("pos_sum"),
        r6(F.count(F.lit(1)).cast("double") / F.max("m")).alias("density"),
    )


# Calibration: a linear length-based quality score s = clamp((n_chars -
# _CAL_LO) / _CAL_SPAN, 0, 1). The pseudo-label draws uniform u =
# phash60(doc_id)/2^60 and fires when u < s, so by construction the score
# IS the positive rate and a correct calibration table shows gap ≈ 0 —
# which is exactly what makes the machinery verifiable: any binning or
# rate-arithmetic bug shows up as a spurious gap.
_CAL_LO = 200
_CAL_SPAN = 800


@register(
    "q_quality_calibration",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   least(greatest(n_chars - {_CAL_LO}, 0), {_CAL_SPAN})
                       AS m,
                   CAST(concat('0x', substring(
                        md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                       AS u60
            FROM documents
        ), lab AS (
            SELECT least(CAST(m * 10 // {_CAL_SPAN} AS BIGINT), 9) AS bin,
                   m,
                   CAST(CAST(u60 AS DECIMAL(38,0)) * {_CAL_SPAN}
                        < CAST(m AS DECIMAL(38,0)) * 1152921504606846976
                        AS INT) AS y
            FROM s
        )
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(m) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) / {_CAL_SPAN}, 6)
                   AS mean_score,
               round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                   AS pos_rate,
               round(CAST(sum(m) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) / {_CAL_SPAN}
                     - CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                   AS calib_gap
        FROM lab GROUP BY bin
    """,
    origin="LLM",
    doc="Classifier calibration table (the reliability-diagram aggregate "
        "run before trusting any quality filter's threshold): documents "
        "binned by score decile; per bin the mean score is compared to "
        "the observed positive rate. Score and label are deterministic — "
        "score is exact rational m/800 (m an integer, summed exactly), "
        "the label draw compares phash60·800 < m·2^60 in decimal(38,0) "
        "(2^60·800 overflows int64), so both engines pick identical "
        "labels and the gap is pure machinery. Scale shape: one "
        "map-side-combined 10-group aggregate over the scan; no joins, "
        "no windows.",
)
def q_quality_calibration(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    m = F.least(
        F.greatest(F.col("n_chars") - _CAL_LO, F.lit(0)), F.lit(_CAL_SPAN)
    )
    u60 = phash60(F.col("doc_id").cast("string"))
    y = (
        u60.cast("decimal(38,0)") * _CAL_SPAN
        < m.cast("decimal(38,0)") * F.lit(1152921504606846976).cast(
            "decimal(38,0)"
        )
    ).cast("int")
    lab = d.select(
        F.least(F.floor(m * 10 / _CAL_SPAN).cast("long"), F.lit(9).cast("long")).alias("bin"),
        m.alias("m"),
        y.alias("y"),
    )
    n = F.count(F.lit(1))
    mean_score = F.sum("m").cast("double") / n.cast("double") / _CAL_SPAN
    pos_rate = F.sum("y").cast("double") / n.cast("double")
    return lab.groupBy("bin").agg(
        n.alias("n"),
        F.round(mean_score, 6).alias("mean_score"),
        F.round(pos_rate, 6).alias("pos_rate"),
        F.round(mean_score - pos_rate, 6).alias("calib_gap"),
    )


_HF_DIM = 64  # hashed feature dimensionality


@register(
    "q_text_hash_features",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        ), b AS (
            SELECT doc_id,
                   {phash60_sql('tok')} % {_HF_DIM} AS bucket,
                   CAST(count(*) AS BIGINT) AS c
            FROM t GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS nnz,
               CAST(sum(c) AS BIGINT) AS l1,
               CAST(sum(c * c) AS BIGINT) AS l2sq,
               md5(string_agg(CAST(bucket AS VARCHAR) || ':'
                              || CAST(c AS VARCHAR), ',' ORDER BY bucket))
                   AS vec_digest
        FROM b GROUP BY doc_id
    """,
    origin="LLM",
    doc=f"Hashing-trick featurization — the CountVectorizer/Vowpal "
        f"doc-vector every classical text classifier consumes: tokens "
        f"hash into {_HF_DIM} buckets (portable md5-derived phash60, the "
        "cross-engine hash family — Spark's xxhash64 has no DuckDB "
        "twin), per-doc bucket counts summarized as nnz / L1 / exact "
        "integer L2² plus an md5 digest of the canonical "
        "'bucket:count' vector string (sorted by bucket — the "
        "E-MM-IMAGE fixed-point-digest pattern, because the comparator "
        "cannot hash an array column). A digest match proves the ENTIRE "
        "sparse vector matches, not just its moments. Scale shape: "
        "explode → (doc, bucket) map-side-combined count → per-doc "
        "rollup with a sort_array'd collect bounded by the feature "
        f"dimension ({_HF_DIM} entries max per doc) — no join, two "
        "keyed shuffles.",
)
def q_text_hash_features(spark, sf_dir):
    d = widen(table(spark, sf_dir, "documents"))
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    b = (
        t.select("doc_id", (phash60("tok") % _HF_DIM).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vec_str = F.concat_ws(
        ",",
        F.transform(
            F.sort_array(F.collect_list(F.struct("bucket", "c"))),
            lambda s: F.concat(
                s["bucket"].cast("string"), F.lit(":"), s["c"].cast("string")
            ),
        ),
    )
    return b.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nnz"),
        F.sum("c").cast("long").alias("l1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("l2sq"),
        F.md5(vec_str).alias("vec_digest"),
    )
