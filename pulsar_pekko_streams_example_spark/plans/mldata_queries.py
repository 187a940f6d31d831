"""Training-data pipeline operators: TF-IDF ranking, deterministic stratified
sampling, a portable HyperLogLog sketch, and an end-to-end curation funnel.

These extend the LLM-data-pipeline surface (BASELINE.json north star) beyond
dedup/similarity: relevance scoring, reproducible sampling, cheap cardinality
estimation, and the single-pass funnel accounting a 100 TB curation run needs.

Cross-engine posture (see functions/hashing.py): every pseudo-random choice is
integer arithmetic replicated in the DuckDB oracle, TF-IDF uses a log-free
integer score (one final double division), and the HLL estimator sums exact
integer register weights before its single double division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pulsar_pekko_streams_example_spark.functions import hashing as H
from pulsar_pekko_streams_example_spark.operators.partitioning import spread
from pulsar_pekko_streams_example_spark.plans.registry import register
from pulsar_pekko_streams_example_spark.sources.tables import load_table, table_state

# ---------------------------------------------------------------------------
# TF-IDF top terms per document (log-free, integer-exact ranking)
# ---------------------------------------------------------------------------
TFIDF_K = 3


def _duck_tfidf_sql(k: int) -> str:
    toks = H.tokens("text", "duckdb")
    return f"""
        WITH tok AS (
          SELECT doc_id, unnest({toks}) AS term FROM documents
        ),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
        ),
        df AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term,
                 CAST((tf.tf * 1000000 * n.n_docs) // df.df AS BIGINT) AS score_micro
          FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        )
        SELECT doc_id, term, score_micro, CAST(rnk AS BIGINT) AS rnk
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score_micro DESC, term) AS rnk
          FROM scored
        ) t WHERE rnk <= {k}
        """


@register(
    "tfidf_top_terms",
    oracle=_duck_tfidf_sql(TFIDF_K),
    doc="Top-3 TF-IDF terms per document.  Term frequencies and document "
    "frequencies are two hash aggregates off one tokenize pass; the doc-"
    "frequency table (vocabulary-sized — orders of magnitude smaller than "
    "the corpus) broadcasts back onto the term counts.  The idf weight is "
    "the log-free rational tf*N/df floored at micro precision, so ranking "
    "is pure int64 arithmetic — bit-identical across engines; swap in "
    "ln((N+1)/(df+1)) at deploy time if calibrated scores matter more than "
    "exact replay.",
    tags=("text", "tfidf"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select(
        "doc_id", F.explode(F.expr(H.tokens("text", "spark"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), ["term"])
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.expr("CAST((tf * 1000000 * n_docs) div df AS LONG)").alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_micro").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TFIDF_K)
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (hash-gate per stratum)
# ---------------------------------------------------------------------------
SAMPLE_PERMILLE = 100  # 10 %


def _doc_gate(dialect: str) -> str:
    """Deterministic membership gate: polynomial hash of the doc id's decimal
    digits, mod 1000 — identical in both engines, stable across reruns."""
    cast = "STRING" if dialect == "spark" else "VARCHAR"
    return f"({H.word_hash(f'CAST(doc_id AS {cast})', dialect)}) % 1000"


@register(
    "stratified_sample_counts",
    oracle=f"""
        WITH g AS (
          SELECT lang,
                 CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS tc,
                 ({_doc_gate('duckdb')}) < {SAMPLE_PERMILLE} AS keep
          FROM documents
        )
        SELECT lang,
               COUNT(*) AS total_docs,
               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs,
               CAST(SUM(CASE WHEN keep THEN tc ELSE 0 END) AS BIGINT) AS sampled_tokens
        FROM g GROUP BY lang
        """,
    doc="Per-language 10% sample via a deterministic hash gate on doc_id — "
    "reproducible across reruns/partitionings (unlike rand()-based "
    "df.sample), no shuffle beyond the final small aggregate, and the gate "
    "composes with any downstream operator as a pushed filter.  The "
    "training-data answer to 'which exact rows were in last month's mix?'.",
    tags=("sampling",),
)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    keep = F.expr(f"({_doc_gate('spark')}) < {SAMPLE_PERMILLE}")
    tc = F.expr(f"CAST(size({H.tokens('text', 'spark')}) AS LONG)")
    return (
        docs.select("lang", keep.alias("keep"), tc.alias("tc"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("total_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("sampled_docs"),
            F.sum(F.when(F.col("keep"), F.col("tc")).otherwise(0)).cast("long").alias("sampled_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-size per-source holdout sample (round-16): the reservoir-sample
# shape.  stratified_sample_counts gates a fixed FRACTION per stratum; a
# release also needs a fixed COUNT per stratum — the R-doc eval/holdout
# manifest cut from every source regardless of source size.  Deterministic
# twin of reservoir sampling: rank docs inside each source by a hash of the
# doc id (uniform, reproducible, engine-identical) and keep the first R.
# One rank window partitioned by source — no global sort, no rand(); output
# is <= |sources| x R rows at any corpus size.
HOLDOUT_PER_SOURCE = 5


@register(
    "holdout_sample_manifest",
    oracle=f"""
        WITH ranked AS (
          SELECT source, doc_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY ({H.word_hash('CAST(doc_id AS VARCHAR)', 'duckdb')}),
                            doc_id,
                            coalesce({H.word_hash('text', 'duckdb')}, CAST(-1 AS BIGINT))
                 ) AS smp_rank
          FROM documents
        )
        SELECT source, doc_id, CAST(smp_rank AS BIGINT) AS smp_rank
        FROM ranked WHERE smp_rank <= {HOLDOUT_PER_SOURCE}
        """,
    doc=f"Fixed-size per-source holdout manifest: the {HOLDOUT_PER_SOURCE} "
    "docs each source contributes to the eval/holdout split, chosen by a "
    "deterministic hash rank over the doc id (the reproducible twin of "
    "reservoir sampling — same manifest on every rerun and partitioning, "
    "unlike rand()-based df.sample).  Ties on the hash break by (doc_id, "
    "content fingerprint), so duplicated ids with different texts rank "
    "deterministically too; the NULL-named source is its own stratum.  "
    "ONE rank window partitioned by source — no global sort — and the "
    "output is bounded by |sources| x R rows at any corpus size.  The "
    "manifest is the artifact a release publishes so its eval split is "
    "auditable and re-cuttable.",
    tags=("sampling", "curation", "added-r16"),
)
def holdout_sample_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(
        F.expr(H.word_hash("CAST(doc_id AS STRING)", "spark")),
        F.col("doc_id"),
        F.expr(f"coalesce({H.word_hash('text', 'spark')}, -1L)"),
    )
    return (
        docs.select(
            "source", "doc_id", F.row_number().over(w).cast("long").alias("smp_rank")
        )
        .filter(F.col("smp_rank") <= HOLDOUT_PER_SOURCE)
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog distinct-count sketch (64 registers)
# ---------------------------------------------------------------------------
HLL_M = 64  # registers
HLL_CAP = 25  # rho cap (hash payload is < 2^24 after register extraction)


def _rho_case(var: str, div: str) -> str:
    """1 + trailing-zero-count of ``var`` as a CASE chain — identical text in
    both dialects (``div``/``%`` integer ops only)."""
    clauses = [f"WHEN {var} = 0 THEN {HLL_CAP}"]
    for b in range(1, HLL_CAP - 1):
        clauses.append(f"WHEN ({var}) % {2 ** b} = {2 ** (b - 1)} THEN {b}")
    return "CASE " + " ".join(clauses) + f" ELSE {HLL_CAP - 1} END"


def _hll_exprs(dialect: str) -> tuple[str, str]:
    """(register, rho) expressions over a string column ``uid``."""
    h = H.word_hash("uid", dialect)
    div = "div" if dialect == "spark" else "//"
    reg = f"({h}) % {HLL_M}"
    payload = f"(({h}) {div} {HLL_M})"
    return reg, _rho_case(payload, div)


def _duck_hll_sql() -> str:
    reg, rho = _hll_exprs("duckdb")
    return f"""
        WITH u AS (SELECT CAST(user_id AS VARCHAR) AS uid FROM events),
        regs AS (
          SELECT {reg} AS reg, MAX({rho}) AS m FROM u GROUP BY 1
        ),
        tot AS (
          SELECT COUNT(*) AS used,
                 SUM(CAST(2 AS BIGINT) ** (30 - m)) AS present_weight
          FROM regs
        )
        SELECT CAST(used AS BIGINT) AS registers_used,
               (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_users,
               (CAST(0.709 AS DOUBLE) * {HLL_M} * {HLL_M} * 1073741824.0)
                 / CAST(present_weight + ({HLL_M} - used) * 1073741824 AS DOUBLE)
                 AS hll_estimate
        FROM tot
        """


@register(
    "hll_distinct_users",
    oracle=_duck_hll_sql(),
    doc="HyperLogLog distinct-user estimate with 64 registers, built from "
    "engine-portable integer arithmetic: register = hash%64, rho = trailing-"
    "zero rank of the hash payload, registers combine by MAX (map-side "
    "combinable, mergeable across any partitioning — the property that "
    "makes the sketch constant-size at 100 TB).  Register weights 2^(30-M) "
    "sum as exact integers so the single final double division is bit-"
    "identical in both engines; exact count emitted alongside for error "
    "inspection.  Raw estimator only (the linear-counting small-range "
    "branch needs ln(), which is not bit-portable).",
    tags=("sketch", "agg"),
)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(load_table(spark, sf_dir, "events"))
    reg, rho = _hll_exprs("spark")
    u = ev.select(F.expr("CAST(user_id AS STRING)").alias("uid"))
    regs = u.groupBy(F.expr(reg).alias("reg")).agg(F.expr(f"MAX({rho})").alias("m"))
    tot = regs.agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(F.expr("shiftleft(1L, 30 - m)")).alias("present_weight"),
    )
    exact = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    return (
        tot.crossJoin(F.broadcast(exact))
        .select(
            F.col("used").cast("long").alias("registers_used"),
            "exact_users",
            F.expr(
                # CAST(0.709 AS DOUBLE): a bare 0.709 literal is DECIMAL in
                # Spark but the mixed expression is DOUBLE in DuckDB — the
                # decimal division rounds differently at the last ulp
                f"(CAST(0.709 AS DOUBLE) * {HLL_M} * {HLL_M} * 1073741824.0)"
                f" / CAST(present_weight + ({HLL_M} - used) * 1073741824 AS DOUBLE)"
            ).alias("hll_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# Curation funnel: lang filter → quality gate → exact dedup → sample, ONE pass
# ---------------------------------------------------------------------------
FUNNEL_QUALITY_MIN = 640


def _duck_funnel_sql() -> str:
    toks = H.tokens("text", "duckdb")
    fp = H.word_hash("text", "duckdb")
    gate = _doc_gate("duckdb")
    return f"""
        WITH base AS (
          SELECT doc_id, lang,
                 {toks} AS w,
                 {fp} AS fp,
                 ({gate}) % 2 = 0 AS sampled
          FROM documents
        ),
        feat AS (
          SELECT doc_id, lang, fp, sampled,
                 CAST(len(w) AS BIGINT) AS tc,
                 CAST(len(list_distinct(w)) AS BIGINT) AS dt,
                 CAST(len(list_filter(w, t -> t = 'the' OR t = 'a' OR t = 'of'
                       OR t = 'and' OR t = 'to' OR t = 'in')) AS BIGINT) AS st
          FROM base
        ),
        q AS (
          SELECT *, 4 * least(tc, 100) + (300 * dt) // greatest(tc, 1)
                    + (300 * (tc - st)) // greatest(tc, 1) AS qm
          FROM feat
        ),
        keeper AS (
          SELECT fp, MIN(doc_id) AS keep_id FROM q
          WHERE lang = 'en' AND qm >= {FUNNEL_QUALITY_MIN}
          GROUP BY fp
        ),
        lvl AS (
          SELECT q.doc_id, q.tc,
                 CASE WHEN q.lang <> 'en' THEN 0
                      WHEN q.qm < {FUNNEL_QUALITY_MIN} THEN 1
                      WHEN q.doc_id <> k.keep_id THEN 2
                      WHEN NOT q.sampled THEN 3
                      ELSE 4 END AS stage_level
          FROM q LEFT JOIN keeper k ON q.fp = k.fp
        )
        SELECT CAST(stage AS BIGINT) AS stage,
               COUNT(*) AS docs,
               CAST(SUM(tc) AS BIGINT) AS tokens
        FROM (SELECT unnest(generate_series(0, stage_level)) AS stage, tc FROM lvl) t
        GROUP BY stage
        """


@register(
    "pipeline_funnel_counts",
    oracle=_duck_funnel_sql(),
    doc="Curation-funnel accounting — docs/tokens surviving each stage of "
    "raw → lang='en' → quality ≥ 640 → exact dedup (keep min doc_id per "
    "text fingerprint) → deterministic 50% sample.  Computed as ONE corpus "
    "scan: each doc gets its deepest-stage level (the dedup-survivor test "
    "is a per-fingerprint argmin joined back, the only shuffle), then a "
    "sequence-explode turns levels into cumulative stage counts — five "
    "stage reports without five re-scans.",
    tags=("pipeline", "dedup", "sampling"),
)
def pipeline_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = H.tokens("text", "spark")
    stop = " OR ".join(
        f"t = '{w}'" for w in ("the", "a", "of", "and", "to", "in")
    )
    q = docs.select(
        "doc_id",
        "lang",
        F.expr(H.word_hash("text", "spark")).alias("fp"),
        F.expr(f"({_doc_gate('spark')}) % 2 = 0").alias("sampled"),
        F.expr(f"CAST(size({toks}) AS LONG)").alias("tc"),
        F.expr(f"CAST(size(array_distinct({toks})) AS LONG)").alias("dt"),
        F.expr(f"CAST(size(filter({toks}, t -> {stop})) AS LONG)").alias("st"),
    ).withColumn(
        # greatest(tc, 1): empty docs score 0 instead of erroring the scan
        # (ANSI / DuckDB both reject x div 0) — same guard as textstats
        "qm",
        F.expr(
            "4 * least(tc, 100L) + (300 * dt) div greatest(tc, 1L) "
            "+ (300 * (tc - st)) div greatest(tc, 1L)"
        ),
    )
    keeper = (
        q.filter((F.col("lang") == "en") & (F.col("qm") >= FUNNEL_QUALITY_MIN))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    lvl = q.join(F.broadcast(keeper), ["fp"], "left").select(
        "tc",
        F.expr(
            f"CASE WHEN lang <> 'en' THEN 0 "
            f"WHEN qm < {FUNNEL_QUALITY_MIN} THEN 1 "
            f"WHEN doc_id <> keep_id THEN 2 "
            f"WHEN NOT sampled THEN 3 ELSE 4 END"
        ).alias("stage_level"),
    )
    return (
        lvl.select(F.explode(F.expr("sequence(0, stage_level)")).alias("stage"), "tc")
        .groupBy(F.col("stage").cast("long").alias("stage"))
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("tc").alias("tokens"))
    )


# ---------------------------------------------------------------------------
# N-gram language-model quality: bigram surprisal per language
# ---------------------------------------------------------------------------
_SPARK_BIGRAMS = (
    "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), "
    "i -> concat(element_at(w, i), '_', element_at(w, i + 1))) "
    "ELSE array() END"
)
_DUCK_BIGRAMS = (
    "CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)), "
    "i -> w[i] || '_' || w[i + 1]) ELSE [] END"
)


@register(
    "bigram_surprisal_quality",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, lang, {H.tokens('text', 'duckdb')} AS w FROM documents
        ),
        b AS (
          SELECT doc_id, lang, unnest({_DUCK_BIGRAMS}) AS bigram FROM tok
        ),
        freq AS (SELECT bigram, COUNT(*) AS f FROM b GROUP BY bigram),
        tot AS (SELECT COUNT(*) AS n FROM b),
        scored AS (
          SELECT doc_id, lang,
                 CAST(SUM(n // f) // COUNT(*) AS BIGINT) AS score
          FROM b JOIN freq USING (bigram) CROSS JOIN tot
          GROUP BY doc_id, lang
        )
        SELECT lang,
               COUNT(*) AS scored_docs,
               CAST(SUM(score) AS DOUBLE) / COUNT(*) AS avg_surprisal,
               CAST(MAX(score) AS BIGINT) AS max_surprisal
        FROM scored GROUP BY lang
        """,
    doc="Language-model-style quality proxy: mean inverse bigram frequency "
    "('surprisal') per document, rolled up per language.  A doc full of "
    "corpus-common bigrams scores low; one full of rare transitions scores "
    "high — the log-free integer surrogate of mean -log p(w_i|w_{i-1}) "
    "(swap in a real LM at deploy time; the dataflow — n-gram explode, "
    "vocabulary-sized frequency table joined back, per-doc mean — is "
    "identical).  All scoring is int64 division (N div f), so results are "
    "bit-identical across engines; docs with <2 tokens produce no bigrams "
    "and drop out of scoring.",
    tags=("text", "lm-quality"),
)
def bigram_surprisal_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select(
        "doc_id", "lang", F.expr(H.tokens("text", "spark")).alias("w")
    )
    big = tok.select(
        "doc_id", "lang", F.explode(F.expr(_SPARK_BIGRAMS)).alias("bigram")
    )
    freq = big.groupBy("bigram").agg(F.count(F.lit(1)).alias("f"))
    tot = big.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        big.join(freq, ["bigram"])  # vocabulary-sized side; AQE picks broadcast
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(F.expr("CAST(SUM(n div f) div COUNT(*) AS LONG)").alias("score"))
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("scored_docs"),
        (F.sum("score").cast("double") / F.count(F.lit(1))).alias("avg_surprisal"),
        F.max("score").alias("max_surprisal"),
    )


# ---------------------------------------------------------------------------
# Cross-corpus LM perplexity filter (CCNet shape): train slice scores held
# ---------------------------------------------------------------------------
# The most-deployed web-data quality filter (Wenzek et al., CCNet 2020):
# train a cheap LM on a trusted reference corpus, score candidate documents
# by perplexity, gate on the score.  Here the reference slice is doc_id%10<8
# (the same split convention as dedup_incremental_batch / train_split
# queries) and the LM is the add-one-smoothed bigram surrogate: unlike
# bigram_surprisal_quality (within-corpus, unsmoothed), held-out docs
# contain bigrams the model NEVER SAW, so smoothing and OOV accounting are
# load-bearing — they are exactly what the within-corpus query cannot test.


@register(
    "crosslm_perplexity_filter",
    oracle=f"""
        WITH tok AS (
          SELECT doc_id, source, {H.tokens('text', 'duckdb')} AS w,
                 doc_id % 10 < 8 AS is_train
          FROM documents
        ),
        b AS (
          SELECT doc_id, source, is_train, unnest({_DUCK_BIGRAMS}) AS bigram
          FROM tok
        ),
        freq AS (
          SELECT bigram, CAST(COUNT(*) AS BIGINT) AS f FROM b
          WHERE is_train GROUP BY bigram
        ),
        model AS (
          SELECT CAST(COALESCE(SUM(f), 0) AS BIGINT) AS n,
                 CAST(COUNT(*) AS BIGINT) AS v
          FROM freq
        ),
        held AS (
          SELECT h.doc_id, h.source,
                 CAST((m.n + m.v) // (COALESCE(fr.f, 0) + 1) AS BIGINT) AS s,
                 CASE WHEN fr.f IS NULL THEN 1 ELSE 0 END AS oov
          FROM b h LEFT JOIN freq fr USING (bigram) CROSS JOIN model m
          WHERE NOT h.is_train
        ),
        perdoc AS (
          SELECT doc_id, source,
                 CAST(SUM(s) // COUNT(*) AS BIGINT) AS score,
                 CAST(SUM(oov) AS BIGINT) AS oov_bigrams,
                 CAST(COUNT(*) AS BIGINT) AS bigrams
          FROM held GROUP BY doc_id, source
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS held_docs,
               CAST(SUM(score) AS DOUBLE) / COUNT(*) AS avg_surprisal,
               CAST(MAX(score) AS BIGINT) AS max_surprisal,
               CAST(SUM(oov_bigrams) * 1000 // SUM(bigrams) AS BIGINT)
                 AS oov_permille
        FROM perdoc GROUP BY source
        """,
    doc="CCNet-style cross-corpus quality filter (Wenzek et al. 2020): an "
    "add-one-smoothed bigram LM trained on the reference slice "
    "(doc_id%10<8) scores every HELD-OUT doc; per-source mean/max "
    "surprisal and OOV rate are the gating table.  Integer Laplace "
    "surrogate: bigram surprisal = (N + V) div (f + 1) with N = train "
    "bigram tokens, V = train bigram types — unseen transitions score the "
    "(N+V) ceiling, so the OOV mass that within-corpus scoring "
    "(bigram_surprisal_quality) never produces is first-class here.  One "
    "bigram explode serves both slices; the model is a vocabulary-sized "
    "frequency table LEFT-joined back (AQE broadcasts it) plus a 1-row "
    "(N, V) broadcast.  At 100 TB the reference model is built once and "
    "reused — the same standing-table shape as the BM25 df table.  All "
    "scoring is exact int64; the only doubles are the final per-source "
    "means (exact int sums divided once).",
    tags=("text", "lm-quality", "curation", "added-r14"),
)
def crosslm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _crosslm_perplexity_filter(load_table(spark, sf_dir, "documents"))


def _crosslm_perplexity_filter(docs: DataFrame) -> DataFrame:
    """Core over an explicit documents frame (property-tested against an
    independent Python bigram-LM reference)."""
    tok = spread(docs).select(
        "doc_id",
        "source",
        F.expr(H.tokens("text", "spark")).alias("w"),
        F.expr("doc_id % 10 < 8").alias("is_train"),
    )
    b = tok.select(
        "doc_id", "source", "is_train", F.explode(F.expr(_SPARK_BIGRAMS)).alias("bigram")
    )
    freq = (
        b.filter("is_train")
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    model = freq.agg(
        F.coalesce(F.sum("f"), F.lit(0)).cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    held = (
        b.filter(~F.col("is_train"))
        .join(freq, ["bigram"], "left")
        .crossJoin(F.broadcast(model))
        .select(
            "doc_id",
            "source",
            F.expr("CAST((n + v) div (coalesce(f, 0L) + 1L) AS BIGINT)").alias("s"),
            F.expr("CASE WHEN f IS NULL THEN 1 ELSE 0 END").alias("oov"),
        )
    )
    perdoc = held.groupBy("doc_id", "source").agg(
        F.expr("CAST(SUM(s) div COUNT(*) AS BIGINT)").alias("score"),
        F.sum("oov").cast("long").alias("oov_bigrams"),
        F.count(F.lit(1)).cast("long").alias("bigrams"),
    )
    return perdoc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("held_docs"),
        (F.sum("score").cast("double") / F.count(F.lit(1))).alias("avg_surprisal"),
        F.max("score").cast("long").alias("max_surprisal"),
        F.expr("CAST(SUM(oov_bigrams) * 1000 div SUM(bigrams) AS BIGINT)").alias(
            "oov_permille"
        ),
    )


# ---------------------------------------------------------------------------
# Quality-weighted deterministic sampling (importance sampling for data mixes)
# ---------------------------------------------------------------------------
WEIGHTED_MAX_PERMILLE = 300  # a perfect-quality doc is kept at 30%

from pulsar_pekko_streams_example_spark.operators import textstats  # noqa: E402


@register(
    "quality_weighted_sample_counts",
    oracle=f"""
        WITH {textstats.SQL_FEATURES_CTE.strip()},
        gated AS (
          SELECT lang, token_count,
                 ({H.word_hash("('wq-' || CAST(doc_id AS VARCHAR))", 'duckdb')}) % 1000
                   < (quality_milli * {WEIGHTED_MAX_PERMILLE}) // 1000 AS keep,
                 (quality_milli * {WEIGHTED_MAX_PERMILLE}) // 1000 AS thresh
          FROM scored
        )
        SELECT lang,
               COUNT(*) AS total_docs,
               CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS sampled_docs,
               CAST(SUM(CASE WHEN keep THEN token_count ELSE 0 END) AS BIGINT) AS sampled_tokens,
               CAST(SUM(thresh) AS BIGINT) AS expected_sampled_milli
        FROM gated GROUP BY lang
        """,
    doc="Importance sampling for training-data mixing: each doc is kept with "
    "probability proportional to its quality score (integer threshold "
    "quality_milli*300 div 1000 against a salted deterministic hash gate on "
    "doc_id) — reproducible across reruns and partitionings, composing as a "
    "pushed per-row predicate with zero pre-shuffles.  "
    "expected_sampled_milli (the sum of per-doc thresholds) lets the caller "
    "check realized vs expected rates per language.  The 'wq-' salt "
    "decorrelates this gate from the uniform stratified_sample_counts gate.",
    tags=("sampling", "curation"),
)
def quality_weighted_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = textstats.with_text_features(docs)
    gate = F.expr(H.word_hash("concat('wq-', CAST(doc_id AS STRING))", "spark")) % 1000
    thresh = F.expr(f"(quality_milli * {WEIGHTED_MAX_PERMILLE}) div 1000")
    gated = scored.select(
        "lang",
        "token_count",
        (gate < thresh).alias("keep"),
        thresh.alias("thresh"),
    )
    return gated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("sampled_docs"),
        F.sum(F.when(F.col("keep"), F.col("token_count")).otherwise(0))
        .cast("bigint")
        .alias("sampled_tokens"),
        F.sum("thresh").cast("bigint").alias("expected_sampled_milli"),
    )


# ---------------------------------------------------------------------------
# HLL register-merge rollup: per-type sketches merge upward, no rescan
# ---------------------------------------------------------------------------
def _hll_estimate_sql(used: str, weight: str) -> str:
    # identical text in both dialects: exact-integer weights, ONE double
    # division.  CAST(0.709 AS DOUBLE) is load-bearing: a bare 0.709 literal
    # is DECIMAL in Spark (decimal division, different last-ulp rounding)
    # but DOUBLE in the mixed DuckDB expression.
    return (
        f"(CAST(0.709 AS DOUBLE) * {HLL_M} * {HLL_M} * 1073741824.0)"
        f" / CAST({weight} + ({HLL_M} - {used}) * 1073741824 AS DOUBLE)"
    )


def _duck_hll_rollup_sql() -> str:
    reg, rho = _hll_exprs("duckdb")
    est = _hll_estimate_sql("used", "present_weight")
    return f"""
        WITH u AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                 user_id, CAST(user_id AS VARCHAR) AS uid
          FROM events
        ),
        regs AS (
          SELECT day, {reg} AS reg, MAX({rho}) AS m FROM u GROUP BY 1, 2
        ),
        merged AS (SELECT '*' AS day, reg, MAX(m) AS m FROM regs GROUP BY reg),
        allregs AS (SELECT * FROM regs UNION ALL SELECT * FROM merged),
        tot AS (
          SELECT day,
                 COUNT(*) AS used,
                 SUM(CAST(2 AS BIGINT) ** (30 - m)) AS present_weight
          FROM allregs GROUP BY day
        ),
        exacts AS (
          SELECT day, COUNT(DISTINCT user_id) AS exact_users FROM u GROUP BY 1
          UNION ALL
          SELECT '*', COUNT(DISTINCT user_id) FROM u
        )
        SELECT t.day AS scope,
               CAST(t.used AS BIGINT) AS registers_used,
               e.exact_users,
               {est} AS hll_estimate
        FROM tot t JOIN exacts e ON t.day = e.day
        """


@register(
    "hll_daily_rollup",
    oracle=_duck_hll_rollup_sql(),
    doc="The property that makes sketches worth their error at 100 TB: "
    "MERGEABILITY.  Per-event-type HLL register tables roll up to the "
    "all-types estimate by a register-wise MAX — no second scan of the "
    "corpus, and the same merge works across partitions, days, or tenants "
    "(pre-aggregate sketches per partition, merge on demand).  Exact "
    "distinct counts ride alongside per scope for error inspection; the "
    "estimator arithmetic is exact-integer weights + one double division, "
    "engine-identical.",
    tags=("sketch", "agg", "rollup"),
)
def hll_rollup_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(load_table(spark, sf_dir, "events"))
    reg, rho = _hll_exprs("spark")
    u = ev.select(
        F.expr("CAST(CAST(ts AS DATE) AS STRING)").alias("day"),
        "user_id",
        F.expr("CAST(user_id AS STRING)").alias("uid"),
    )
    regs = u.groupBy("day", F.expr(reg).alias("reg")).agg(F.expr(f"MAX({rho})").alias("m"))
    merged = (
        regs.groupBy("reg")
        .agg(F.max("m").alias("m"))
        .select(F.lit("*").alias("day"), "reg", "m")
    )
    allregs = regs.select("day", "reg", "m").unionByName(merged)
    tot = allregs.groupBy("day").agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(F.expr("shiftleft(1L, 30 - m)")).alias("present_weight"),
    )
    exacts = (
        u.groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .unionByName(
            u.agg(F.countDistinct("user_id").alias("exact_users")).select(
                F.lit("*").alias("day"), "exact_users"
            )
        )
    )
    est = _hll_estimate_sql("used", "present_weight")
    return (
        tot.join(exacts, ["day"])
        .select(
            F.col("day").alias("scope"),
            F.col("used").cast("long").alias("registers_used"),
            "exact_users",
            F.expr(est).alias("hll_estimate"),
        )
    )


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine similarity — the inverted-index counterpart of ANN
# ---------------------------------------------------------------------------
TFIDF_SIM_MAX_DF = 50       # rare-term postings only: df-capped inverted index
TFIDF_SIM_THRESHOLD = 0.35  # emit pairs with sparse cosine >= this
IDF_MILLI_CAP = 1_000_000   # bounds the IDF factor; w <= tf * 1e6 is NOT an
                            # int64-safe bound on w*w (tf ~3e3 on a rare term
                            # already overflows), so norms and dots accumulate
                            # in 128-bit exact types: DECIMAL(38,0) in Spark,
                            # HUGEINT in DuckDB — identical integers, one
                            # correctly-rounded cast to DOUBLE at the end


def _duck_tfidf_cosine_sql() -> str:
    toks = H.tokens("text", "duckdb")
    return f"""
        WITH tok AS (
          SELECT doc_id, unnest({toks}) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (
          SELECT term, COUNT(*) AS df FROM tf GROUP BY term
          HAVING COUNT(*) <= {TFIDF_SIM_MAX_DF}
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        w AS (
          SELECT tf.doc_id, tf.term,
                 CAST(tf.tf * LEAST((1000 * n.n_docs) // df.df, {IDF_MILLI_CAP})
                      AS BIGINT) AS w
          FROM tf JOIN df USING (term) CROSS JOIN n
        ),
        norms AS (
          -- HUGEINT accumulation: w*w can exceed int64 for long docs
          SELECT doc_id, SUM(CAST(w AS HUGEINT) * w) AS nrm2 FROM w GROUP BY doc_id
        ),
        dots AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 SUM(CAST(a.w AS HUGEINT) * b.w) AS dot
          FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, cosine FROM (
          SELECT d.doc_a, d.doc_b,
                 CAST(d.dot AS DOUBLE) / (sqrt(CAST(na.nrm2 AS DOUBLE))
                                          * sqrt(CAST(nb.nrm2 AS DOUBLE))) AS cosine
          FROM dots d
          JOIN norms na ON d.doc_a = na.doc_id
          JOIN norms nb ON d.doc_b = nb.doc_id
        ) t WHERE cosine >= {TFIDF_SIM_THRESHOLD}
        """


@register(
    "tfidf_cosine_pairs",
    oracle=_duck_tfidf_cosine_sql(),
    doc="Sparse document similarity — the inverted-index counterpart of the "
    "dense-embedding ANN family: TF-IDF weights on RARE terms only "
    "(df-capped postings, the sparse analog of the frequent-shingle cap), "
    "pair dot products via a term self-join (cost sum df^2 over rare "
    "terms, never docs^2), integer weight products and norms throughout — "
    "one sqrt+division per emitted pair is the only float step.  The "
    "IDF_MILLI_CAP bound keeps w*w partial sums inside int64 at any corpus "
    "size.",
    tags=("text", "tfidf", "similarity", "join"),
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs).select(
        "doc_id", F.explode(F.expr(H.tokens("text", "spark"))).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= TFIDF_SIM_MAX_DF)
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(F.broadcast(df), ["term"])
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.expr(
                f"CAST(tf * least((1000 * n_docs) div df, {IDF_MILLI_CAP}) AS LONG)"
            ).alias("w"),
        )
    )
    # 128-bit exact accumulation: cast each factor to DECIMAL(19,0) so the
    # product is DECIMAL(38,0) BEFORE any multiply can wrap int64 (Spark's
    # non-ANSI long multiply wraps silently; DuckDB raises — either way the
    # engines would diverge on long documents).
    w19 = F.col("w").cast("decimal(19,0)")
    norms = w.groupBy("doc_id").agg(F.sum(w19 * w19).alias("nrm2"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.hint("shuffle_hash")
        .join(
            b.hint("shuffle_hash"),
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(
            F.sum(
                F.col("a.w").cast("decimal(19,0)") * F.col("b.w").cast("decimal(19,0)")
            ).alias("dot")
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm2").alias("nrm2_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm2").alias("nrm2_b"))
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("nrm2_a").cast("double")) * F.sqrt(F.col("nrm2_b").cast("double"))
    )
    return (
        dots.join(na, ["doc_a"])
        .join(nb, ["doc_b"])
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= TFIDF_SIM_THRESHOLD)
        .select("doc_a", "doc_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Deterministic reservoir sample: fixed-k uniform sample per stratum
# ---------------------------------------------------------------------------
RESERVOIR_K = 50          # sample size per event_type
RESERVOIR_SALTS = 32      # stage-1 shards per stratum
_RES_PRIO = "(event_id * 2654435761) % 1000000007"  # deterministic priority


@register(
    "reservoir_sample_events",
    oracle=f"""
        WITH pri AS (
          SELECT event_type, event_id,
                 CAST({_RES_PRIO} AS BIGINT) AS priority
          FROM events
        )
        SELECT event_type, event_id, priority, CAST(rk AS BIGINT) AS rk
        FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY priority, event_id) AS rk
          FROM pri
        ) t WHERE rk <= {RESERVOIR_K}
        """,
    doc="Fixed-size uniform sample per stratum, the distributed reservoir: "
    "rank events by a deterministic integer hash priority and keep the k "
    "smallest per event_type — equivalent to reservoir sampling (each "
    "element's priority is an iid draw; the k smallest are a uniform "
    "k-subset) but reproducible across reruns and partitionings.  Two-stage "
    "top-k: stage 1 takes the k best within each of {RESERVOIR_SALTS} hash "
    "shards per stratum (window over (type, shard) — thousands of small "
    "groups, never one hot partition per type), stage 2 re-ranks the "
    "k x shards survivors per type (bounded rows).  The final k per type "
    "is identical to a single global rank, which is what the oracle runs.",
    tags=("sampling", "topk", "skew", "added-r3"),
)
def reservoir_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(load_table(spark, sf_dir, "events"))
    pri = ev.select(
        "event_type",
        "event_id",
        F.expr(f"CAST({_RES_PRIO} AS LONG)").alias("priority"),
        F.pmod("event_id", F.lit(RESERVOIR_SALTS)).alias("shard"),
    )
    w1 = Window.partitionBy("event_type", "shard").orderBy("priority", "event_id")
    stage1 = (
        pri.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= RESERVOIR_K)
        .drop("r1", "shard")
    )
    w2 = Window.partitionBy("event_type").orderBy("priority", "event_id")
    return (
        stage1.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= RESERVOIR_K)
        .select("event_type", "event_id", "priority", F.col("rk").cast("long").alias("rk"))
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization: per-dim affine quantize, reconstruction error
# ---------------------------------------------------------------------------
_EMB_DIM = 64


def _quant_exprs(dialect: str) -> tuple[str, str]:
    """(q, err_micro) expressions over columns x (double), mn, mx (per-dim
    bounds).  Identical arithmetic text in both dialects: integer quant
    bucket by floor, midpoint dequantization, absolute error floored to
    integer micro-units — every double op appears in the same order, the
    only engine-sensitive step (round) is avoided entirely."""
    div = "div" if dialect == "spark" else "//"
    q = (
        "CASE WHEN mx = mn THEN 0 ELSE "
        "LEAST(255, CAST(FLOOR((x - mn) * CAST(255 AS DOUBLE) / (mx - mn)) AS INT)) END"
    )
    xq = (
        "CASE WHEN mx = mn THEN mn ELSE "
        f"mn + (CAST({q} AS DOUBLE) + CAST(0.5 AS DOUBLE)) * (mx - mn) / CAST(255 AS DOUBLE) END"
    )
    # per-component error saturates at 10^15 micro-units (an error of 1e9 in
    # raw units — far beyond any real reconstruction error, which is bounded
    # by the per-dim calibration range): a float32-max component makes the
    # raw product ~1e44, which overflows DuckDB's BIGINT cast and Spark's
    # int64 SUM.  LEAST runs on DOUBLE in both engines (Spark's floor(double)
    # saturates silently at int64 max, DuckDB's floor stays DOUBLE), so the
    # capped value is BIGINT-safe everywhere — round-7 sweep finding.
    err = (
        f"CAST(LEAST(FLOOR(ABS(x - ({xq})) * CAST(1000000 AS DOUBLE)), "
        f"CAST(1000000000000000 AS DOUBLE)) AS BIGINT)"
    )
    return q, err


@register(
    "embedding_quantization_error",
    oracle=f"""
        WITH comp AS (
          -- range over the ACTUAL array length (a hardcoded {_EMB_DIM} fanned
          -- ragged corpora out to phantom NULL dims), and only FINITE
          -- components: a NaN/Inf component carries no reconstruction-error
          -- signal, poisons the min/max calibration, and diverges the
          -- engines (Spark's floor silently saturates NaN->0 where DuckDB's
          -- INT cast errors) — round-6 sweep findings
          SELECT label, CAST(r.range AS BIGINT) AS dim,
                 CAST(embedding[r.range] AS DOUBLE) AS x
          FROM embeddings
          CROSS JOIN LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS range) r
          WHERE isfinite(CAST(embedding[r.range] AS DOUBLE))
        ),
        stats AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM comp GROUP BY dim)
        SELECT label,
               COUNT(*) AS n_components,
               -- DECIMAL(38,0) accumulation + saturating total: int64 SUM of
               -- capped per-component errors can still overflow on a hostile
               -- corpus (Spark ANSI aborts, DuckDB widens to HUGEINT) —
               -- accumulate exactly, saturate the published total at int64
               CAST(LEAST(SUM(CAST({_quant_exprs('duckdb')[1]} AS DECIMAL(38,0))),
                          CAST(9000000000000000000 AS DECIMAL(38,0))) AS BIGINT)
                 AS sum_err_micro,
               -- divide the SATURATED BIGINT total, not the decimal sum:
               -- DuckDB's // on DECIMAL rounds (731.77 -> 732) where BIGINT
               -- division floors like Spark's div — and the published avg
               -- should derive from the published total anyway
               CAST(CAST(LEAST(SUM(CAST({_quant_exprs('duckdb')[1]} AS DECIMAL(38,0))),
                               CAST(9000000000000000000 AS DECIMAL(38,0))) AS BIGINT)
                    // COUNT(*) AS BIGINT)
                 AS avg_err_micro
        FROM comp JOIN stats USING (dim)
        GROUP BY label
        """,
    doc="Vector compression for ANN at scale: per-dimension affine int8 "
    "quantization (min/max calibrated over the corpus) and the per-label "
    "reconstruction error it costs.  The calibration table is d rows — "
    "broadcast — and the error roll-up is one map-side-combinable "
    "aggregate; the quantized corpus would be 4x smaller shuffle/cache "
    "weight for the IVF/LSH ANN paths.  All error accounting is floored "
    "integer micro-units: no double summation order, no engine-specific "
    "round() — floor/abs/min/max only, bit-identical across engines.",
    tags=("embeddings", "quantization", "similarity", "added-r3"),
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    comp = (
        emb.select(
            "label",
            F.posexplode("embedding").alias("pos", "xf"),
        )
        .select(
            "label",
            (F.col("pos") + 1).cast("long").alias("dim"),
            F.col("xf").cast("double").alias("x"),
        )
        # finite components only — the oracle's isfinite twin (NULL/NaN/±Inf
        # excluded from calibration, error accounting, and n_components)
        .filter(F.expr("NOT isnan(x) AND abs(x) < CAST('Infinity' AS DOUBLE)"))
    )
    stats = comp.groupBy("dim").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    _, err = _quant_exprs("spark")
    joined = comp.join(F.broadcast(stats), "dim")
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_components"),
        F.expr(
            f"CAST(LEAST(SUM(CAST({err} AS DECIMAL(38,0))), "
            f"CAST(9000000000000000000 AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("sum_err_micro"),
        F.expr(
            f"CAST(CAST(LEAST(SUM(CAST({err} AS DECIMAL(38,0))), "
            f"CAST(9000000000000000000 AS DECIMAL(38,0))) AS BIGINT) "
            f"div COUNT(*) AS BIGINT)"
        ).alias("avg_err_micro"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split manifest (90/5/5 hash gate)
# ---------------------------------------------------------------------------
SPLIT_TRAIN_LT = 900  # gate < 900  -> train (90 %)
SPLIT_VAL_LT = 950    # gate < 950  -> val   (5 %);  else test (5 %)


def _split_case(dialect: str) -> str:
    g = _doc_gate(dialect)
    return (
        f"CASE WHEN ({g}) < {SPLIT_TRAIN_LT} THEN 'train' "
        f"WHEN ({g}) < {SPLIT_VAL_LT} THEN 'val' ELSE 'test' END"
    )


@register(
    "train_split_manifest",
    oracle=f"""
        WITH base AS (
          SELECT source, {_split_case('duckdb')} AS split,
                 CAST(len({H.tokens('text', 'duckdb')}) AS BIGINT) AS tc
          FROM documents
        ),
        agg AS (
          SELECT source, split, COUNT(*) AS docs,
                 CAST(SUM(tc) AS BIGINT) AS tokens
          FROM base GROUP BY source, split
        )
        SELECT source, split, docs, tokens,
               CAST((1000 * docs) // SUM(docs) OVER (PARTITION BY source)
                    AS BIGINT) AS share_permille
        FROM agg
        """,
    doc="Reproducible train/val/test assignment: the split is a pure "
    "function of the doc id (portable integer hash mod 1000 -> 90/5/5 "
    "gates), so ANY future run — incremental batches included — routes a "
    "document to the same split with no membership table, no join, no "
    "coordination.  The manifest is one map-side-combinable aggregate per "
    "(source, split) plus a source-local window for the realized shares; "
    "at 100 TB the split column is computed inside the scan's codegen "
    "stage and the aggregate output is bounded by sources x 3.",
    tags=("sampling", "split", "added-r3"),
)
def train_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        F.expr(_split_case("spark")).alias("split"),
        F.expr(f"CAST(size({H.tokens('text', 'spark')}) AS LONG)").alias("tc"),
    )
    agg = base.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("tc").cast("long").alias("tokens"),
    )
    w = Window.partitionBy("source")
    return agg.select(
        "source",
        "split",
        "docs",
        "tokens",
        F.expr("1000 * docs").cast("long").alias("_num"),
        F.sum("docs").over(w).alias("_tot"),
    ).select(
        "source",
        "split",
        "docs",
        "tokens",
        F.expr("CAST(_num div _tot AS LONG)").alias("share_permille"),
    )


# Shingle width for the cross-source vocabulary-overlap sketch (sketch_queries
# imports it next to _hll_exprs so both engines build the same element set).
SHINGLE_N_FOR_OVERLAP = 3


# ---------------------------------------------------------------------------
# PMI collocations: pointwise-mutual-information surrogate for word pairs
# ---------------------------------------------------------------------------
PMI_MIN_SUPPORT = 5
PMI_TOPK = 20


@register(
    "pmi_collocations",
    oracle=f"""
        WITH docs_w AS (
          SELECT {H.tokens('text', 'duckdb')} AS w FROM documents
        ),
        uni AS (
          SELECT unnest(w) AS t FROM docs_w
        ),
        c_uni AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY t),
        n AS (SELECT COUNT(*) AS n_tokens FROM uni),
        big AS (
          SELECT unnest(w[1:len(w)-1]) AS w1, unnest(w[2:len(w)]) AS w2
          FROM docs_w WHERE len(w) >= 2
        ),
        c_big AS (
          SELECT w1, w2, COUNT(*) AS c_xy FROM big GROUP BY w1, w2
          HAVING COUNT(*) >= {PMI_MIN_SUPPORT}
        ),
        scored AS (
          SELECT b.w1, b.w2, CAST(b.c_xy AS BIGINT) AS c_xy,
                 CAST((b.c_xy::HUGEINT * n.n_tokens * 1000)
                      // (cx.c::HUGEINT * cy.c) AS BIGINT) AS pmi_ratio_milli
          FROM c_big b
          JOIN c_uni cx ON b.w1 = cx.t
          JOIN c_uni cy ON b.w2 = cy.t
          CROSS JOIN n
        )
        SELECT w1, w2, c_xy, pmi_ratio_milli
        FROM scored ORDER BY pmi_ratio_milli DESC, w1, w2 LIMIT {PMI_TOPK}
        """,
    doc="Collocation mining by a log-free PMI surrogate: the integer ratio "
    "1000 * c(xy) * N / (c(x) * c(y)) ranks exactly as PMI = log of the "
    "same quantity, with zero floats.  Adjacent-token bigrams come from "
    "one slice-and-zip of the token array (no self-join); bigram and "
    "unigram counts are two hash aggregates off the same tokenize pass; "
    "the vocabulary-sized unigram table joins back onto the bigram "
    "counts twice (broadcast at any corpus size — it is bounded by "
    "vocabulary, not corpus), and the token-count scalar is a 1-row "
    "cross join.  The numerator accumulates in DECIMAL(38,0)/HUGEINT so "
    "c(xy) * N * 1000 stays exact to N ~ 3e17 tokens; min support "
    f"{PMI_MIN_SUPPORT} keeps rare-pair noise out.  Top-k is ORDER BY + "
    "LIMIT (TakeOrderedAndProject, no global sort).",
    tags=("text", "statistics", "topk", "scale-default", "added-r3b"),
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs_w = spread(docs).select(F.expr(H.tokens("text", "spark")).alias("w"))
    uni = docs_w.select(F.explode("w").alias("t"))
    c_uni = uni.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n = uni.agg(F.count(F.lit(1)).alias("n_tokens"))
    big = docs_w.filter(F.expr("size(w) >= 2")).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), "
                "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c_big = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= PMI_MIN_SUPPORT)
    )
    cx = c_uni.select(F.col("t").alias("w1"), F.col("c").alias("c_x"))
    cy = c_uni.select(F.col("t").alias("w2"), F.col("c").alias("c_y"))
    scored = (
        c_big.join(F.broadcast(cx), "w1")
        .join(F.broadcast(cy), "w2")
        .crossJoin(F.broadcast(n))
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("long").alias("c_xy"),
            F.expr(
                "(CAST(c_xy AS DECIMAL(38,0)) * n_tokens * 1000) div "
                "(CAST(c_x AS DECIMAL(38,0)) * c_y)"
            ).alias("pmi_ratio_milli"),
        )
    )
    return scored.orderBy(
        F.col("pmi_ratio_milli").desc(), "w1", "w2"
    ).limit(PMI_TOPK)


# ---------------------------------------------------------------------------
# Context-window chunking stats: fixed window + stride over token sequences
# ---------------------------------------------------------------------------
CHUNK_W = 64  # tokens per chunk (context-window slice)
CHUNK_S = 48  # stride (CHUNK_W - CHUNK_S = 16 tokens of overlap)


def _chunk_exprs(div: str) -> dict[str, str]:
    n_chunks = (
        f"CASE WHEN n = 0 THEN 0 WHEN n <= {CHUNK_W} THEN 1 "
        f"ELSE 1 + (n - {CHUNK_W} + {CHUNK_S} - 1) {div} {CHUNK_S} END"
    )
    return {
        "n_chunks": n_chunks,
        "overlap": f"CASE WHEN n > {CHUNK_W} THEN (({n_chunks}) - 1) * {CHUNK_W - CHUNK_S} ELSE 0 END",
        "pad": f"CASE WHEN n = 0 THEN 0 ELSE {CHUNK_W} - (n - (({n_chunks}) - 1) * {CHUNK_S}) END",
    }


@register(
    "context_chunking_stats",
    oracle=f"""
        WITH d AS (
          SELECT source,
                 CAST(len({H.tokens('text', 'duckdb')}) AS BIGINT) AS n
          FROM documents
        ),
        c AS (
          SELECT source, n,
                 {_chunk_exprs('//')['n_chunks']} AS n_chunks,
                 {_chunk_exprs('//')['overlap']} AS overlap,
                 {_chunk_exprs('//')['pad']} AS pad
          FROM d
        )
        SELECT source,
               COUNT(*) AS docs,
               CAST(SUM(n) AS BIGINT) AS tokens,
               CAST(SUM(n_chunks) AS BIGINT) AS chunks,
               CAST(SUM(overlap) AS BIGINT) AS overlap_tokens,
               CAST(SUM(pad) AS BIGINT) AS pad_tokens,
               CAST((1000 * SUM(overlap + pad)) // GREATEST({CHUNK_W} * SUM(n_chunks), 1)
                    AS BIGINT) AS waste_permille
        FROM c GROUP BY source
        """,
    doc=f"Context-window chunking accounting — the RAG / pretraining prep "
    f"step that slices documents into {CHUNK_W}-token windows at stride "
    f"{CHUNK_S}: per source, how many chunks the corpus becomes and how "
    "much of the chunk budget is overlap duplication vs tail padding "
    "(waste permille of the total chunk-slot budget).  Pure closed-form "
    "integer arithmetic per document (ceil-div on the token count — the "
    "chunks are never materialized to be counted), evaluated inside the "
    "scan's codegen stage; one map-combinable aggregate, output bounded "
    "by source count.  The same formulas price a chunking config BEFORE "
    "running it over 100 TB.",
    tags=("text", "chunking", "statistics", "scale-default", "added-r3b"),
)
def context_chunking_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ex = _chunk_exprs("div")
    d = docs.select(
        "source",
        F.expr(f"CAST(size({H.tokens('text', 'spark')}) AS LONG)").alias("n"),
    ).select(
        "source",
        "n",
        F.expr(ex["n_chunks"]).alias("n_chunks"),
        F.expr(ex["overlap"]).alias("overlap"),
        F.expr(ex["pad"]).alias("pad"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n").cast("long").alias("tokens"),
        F.sum("n_chunks").cast("long").alias("chunks"),
        F.sum("overlap").cast("long").alias("overlap_tokens"),
        F.sum("pad").cast("long").alias("pad_tokens"),
        F.expr(
            f"CAST((1000 * SUM(overlap + pad)) div GREATEST({CHUNK_W} * SUM(n_chunks), 1) AS BIGINT)"
        ).alias("waste_permille"),
    )


# ---------------------------------------------------------------------------
# HLL distinct-count LATTICE: one scan, register-MAX rollups over a cube
# ---------------------------------------------------------------------------
_HLL_EST = (
    f"(CAST(0.709 AS DOUBLE) * {HLL_M} * {HLL_M} * 1073741824.0)"
    f" / CAST(present_weight + ({HLL_M} - used) * 1073741824 AS DOUBLE)"
)


def _duck_hll_cube_sql() -> str:
    reg, rho = _hll_exprs("duckdb")
    day = "CAST((epoch_us(ts) // 86400000000) % 7 AS BIGINT)"
    lattice_levels = [
        ("etype", "dow"),
        ("etype",),
        ("dow",),
        (),
    ]
    parts = []
    for keys in lattice_levels:
        gb = ", ".join(("reg",) + keys)
        sel_e = "etype" if "etype" in keys else "'*'"
        sel_d = "dow" if "dow" in keys else "CAST(-1 AS BIGINT)"
        outer_gb = ", ".join(keys) if keys else ""
        parts.append(f"""
          SELECT {sel_e} AS etype, {sel_d} AS dow,
                 COUNT(*) AS used,
                 SUM(CAST(2 AS BIGINT) ** (30 - m)) AS present_weight
          FROM (SELECT {", ".join(("reg",) + keys)}, MAX(m) AS m
                FROM base GROUP BY {gb})
          {("GROUP BY " + outer_gb) if outer_gb else ""}""")
    unioned = " UNION ALL ".join(parts)
    return f"""
        WITH raw AS (
          SELECT event_type AS etype, {day} AS dow,
                 CAST(user_id AS VARCHAR) AS uid
          FROM events
        ),
        base AS (
          SELECT etype, dow, {reg.replace('uid', 'uid')} AS reg,
                 MAX({rho}) AS m
          FROM raw GROUP BY 1, 2, 3
        ),
        est AS ({unioned}),
        exact AS (
          SELECT COALESCE(etype, '*') AS etype,
                 COALESCE(dow, CAST(-1 AS BIGINT)) AS dow,
                 COUNT(DISTINCT uid) AS exact_users
          FROM raw GROUP BY CUBE (etype, dow)
        )
        SELECT e.etype, e.dow,
               CAST(e.used AS BIGINT) AS registers_used,
               x.exact_users,
               {_HLL_EST} AS hll_estimate
        FROM est e JOIN exact x ON e.etype = x.etype AND e.dow = x.dow
        """


@register(
    "hll_cube_users",
    oracle=_duck_hll_cube_sql(),
    doc="Distinct-count LATTICE from one scan: per-(event_type, day-of-week) "
    "HLL register cells roll up to (type), (dow), and the grand total by "
    "register-wise MAX — the sketch-mergeability property applied across "
    "an aggregation cube, the way a 100 TB metrics store serves every "
    "drill-down from one standing register table without rescanning "
    "facts.  The base cell table is |types| x 7 x 64 rows; every rollup "
    "is an aggregate over THAT, not the corpus.  An exact COUNT(DISTINCT) "
    "CUBE (one Expand pass) joins on as the per-cell error audit; rolled-"
    "up keys use '*'/-1 sentinels so the 48-row lattice join is a plain "
    "equi-join in both engines.",
    tags=("sketch", "agg", "cube", "added-r3b"),
)
def hll_cube_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(load_table(spark, sf_dir, "events"))
    reg, rho = _hll_exprs("spark")
    raw = ev.select(
        F.col("event_type").alias("etype"),
        F.expr("CAST((unix_micros(ts) div 86400000000) % 7 AS BIGINT)").alias("dow"),
        F.expr("CAST(user_id AS STRING)").alias("uid"),
    )
    # The register cell table is |types| x 7 x 64 rows at ANY corpus size —
    # materialize it ONCE (eager localCheckpoint, the hot_shingles pattern)
    # so the four lattice levels aggregate the tiny checkpoint instead of
    # each rebuilding the corpus-scan subtree.  Measured before the fix:
    # union branches got fresh exprIds and ReuseExchange matched only the
    # exact-audit branch, so the plan scanned events FIVE times; now the
    # corpus is scanned once for the cells + once for the exact CUBE audit
    # (tests/test_plans.py::test_hll_cube_scans_corpus_twice_only pins it).
    base = (
        raw.groupBy("etype", "dow", F.expr(reg).alias("reg"))
        .agg(F.expr(f"MAX({rho})").alias("m"))
        .localCheckpoint(eager=True)
    )
    def level(keys: tuple[str, ...]):
        g = base.groupBy(*(list(keys) + ["reg"])).agg(F.max("m").alias("m"))
        agg = g.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("used"),
            F.sum(F.expr("shiftleft(1L, 30 - m)")).alias("present_weight"),
        )
        return agg.select(
            (F.col("etype") if "etype" in keys else F.lit("*")).alias("etype"),
            (F.col("dow") if "dow" in keys else F.lit(-1).cast("long")).alias("dow"),
            "used",
            "present_weight",
        )
    est = (
        level(("etype", "dow"))
        .unionByName(level(("etype",)))
        .unionByName(level(("dow",)))
        .unionByName(level(()))
    )
    exact = raw.cube("etype", "dow").agg(
        F.countDistinct("uid").alias("exact_users")
    ).select(
        F.coalesce("etype", F.lit("*")).alias("etype"),
        F.coalesce("dow", F.lit(-1).cast("long")).alias("dow"),
        "exact_users",
    )
    return est.join(F.broadcast(exact), ["etype", "dow"]).select(
        "etype",
        "dow",
        F.col("used").cast("long").alias("registers_used"),
        "exact_users",
        F.expr(_HLL_EST).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# BPE merge round: tokenizer-training primitive (pair counts -> merge -> recount)
# ---------------------------------------------------------------------------
BPE_TOPK = 5


def _duck_bpe_sql() -> str:
    def pairs_cte(sym_src: str) -> str:
        return f"""
          SELECT s1, s2, CAST(SUM(cnt) AS BIGINT) AS c FROM (
            SELECT cnt, syms[i] AS s1, syms[i + 1] AS s2
            FROM {sym_src}, LATERAL (SELECT unnest(range(1, len(syms))) AS i)
          ) GROUP BY 1, 2"""

    return f"""
        WITH words AS (
          SELECT t AS w, COUNT(*) AS cnt FROM (
            SELECT unnest({H.tokens('text', 'duckdb')}) AS t FROM documents
          ) GROUP BY t
        ),
        sym0 AS (
          SELECT cnt, string_split(w, '') AS syms FROM words
        ),
        pairs0 AS ({pairs_cte('sym0')}),
        top1 AS (
          SELECT s1, s2 FROM pairs0 ORDER BY c DESC, s1, s2 LIMIT 1
        ),
        sym1 AS (
          SELECT cnt,
                 list_reduce(
                   list_transform(syms, x -> [x]),
                   (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.s1
                                     AND x[1] = t.s2
                               THEN acc[1:len(acc) - 1] || [t.s1 || t.s2]
                               ELSE acc || x END
                 ) AS syms
          FROM sym0 CROSS JOIN top1 t
        ),
        pairs1 AS ({pairs_cte('sym1')}),
        ranked AS (
          SELECT CAST(0 AS BIGINT) AS stage, s1 || '+' || s2 AS pair, c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, s1, s2) AS rnk
          FROM pairs0
          UNION ALL
          SELECT CAST(1 AS BIGINT), s1 || '+' || s2, c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, s1, s2)
          FROM pairs1
        )
        SELECT stage, pair, c, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= {BPE_TOPK}
        """


@register(
    "bpe_merge_round",
    oracle=_duck_bpe_sql(),
    doc="One round of byte-pair-encoding tokenizer TRAINING: count adjacent "
    "symbol pairs over the frequency-weighted word vocabulary, merge the "
    "most frequent pair everywhere (greedy left-to-right, via an "
    "order-preserving array fold — string replace() would skip adjacent "
    "occurrences that share a boundary), and recount — reporting the "
    f"top-{BPE_TOPK} pairs before and after the merge.  Everything runs "
    "over the VOCABULARY (distinct words x counts), not the corpus: the "
    "corpus is touched once to build word counts, and each round's pair "
    "table is bounded by |vocab| x max word length.  The winning pair "
    "broadcasts as one row into the fold lambda.  Iterating this round "
    "yields the standard BPE merge list; the oracle replays the identical "
    "greedy fold in DuckDB, so the merge semantics themselves are "
    "cross-checked.",
    tags=("text", "tokenizer", "iterative", "added-r3b"),
)
def bpe_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        spread(docs)
        .select(F.explode(F.expr(H.tokens("text", "spark"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    sym0 = words.select("cnt", F.expr("split(w, '')").alias("syms"))

    def pairs_of(symdf: DataFrame) -> DataFrame:
        return (
            symdf.select(
                "cnt",
                F.explode(
                    F.expr(
                        "CASE WHEN size(syms) >= 2 THEN "
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS s1, "
                        "element_at(syms, i + 1) AS s2)) "
                        "ELSE CAST(array() AS array<struct<s1:string,s2:string>>) END"
                    )
                ).alias("p"),
            )
            .groupBy("p.s1", "p.s2")
            .agg(F.sum("cnt").cast("long").alias("c"))
        )

    pairs0 = pairs_of(sym0)
    top1 = pairs0.orderBy(F.col("c").desc(), "s1", "s2").limit(1).select("s1", "s2")
    sym1 = sym0.crossJoin(F.broadcast(top1)).select(
        "cnt",
        F.expr(
            "aggregate(syms, CAST(array() AS array<string>), "
            "(acc, x) -> CASE WHEN size(acc) > 0 AND element_at(acc, -1) = s1 "
            "AND x = s2 "
            "THEN concat(slice(acc, 1, size(acc) - 1), array(concat(s1, s2))) "
            "ELSE concat(acc, array(x)) END)"
        ).alias("syms"),
    )
    pairs1 = pairs_of(sym1)
    w0 = Window.orderBy(F.col("c").desc(), "s1", "s2")
    staged = pairs0.select(
        F.lit(0).cast("long").alias("stage"),
        F.concat_ws("+", "s1", "s2").alias("pair"),
        "c",
        F.row_number().over(w0).cast("long").alias("rnk"),
    ).unionByName(
        pairs1.select(
            F.lit(1).cast("long").alias("stage"),
            F.concat_ws("+", "s1", "s2").alias("pair"),
            "c",
            F.row_number().over(w0).cast("long").alias("rnk"),
        )
    )
    return staged.filter(F.col("rnk") <= BPE_TOPK)


# ---------------------------------------------------------------------------
# BPE encode/apply: train K merges, apply them, report the encoded corpus
# ---------------------------------------------------------------------------
# Completes the tokenizer story bpe_merge_round starts (train -> APPLY ->
# count, VERDICT r13 task 5): K = 3 chained training rounds (each round's
# winning pair is a 1-row broadcast into the next round's greedy fold),
# then per-merge statistics over the fully ENCODED vocabulary — exactly
# what a tokenizer-training pipeline inspects before committing a merge
# list.  Everything runs over the frequency-weighted word VOCABULARY, so
# each round is one vocab-bounded shuffle; the corpus is scanned once.
# A round with no pairs left selects the sentinel ('', '') at count -1
# (symbols are never empty strings, so the sentinel merge matches nothing
# and is excluded from the report) — the chain is total on any corpus.
BPE_ENCODE_MERGES = 3


def _duck_bpe_chain(k: int) -> str:
    """WITH-prefix shared by the BPE oracles: word counts, k chained
    (pairs -> top -> greedy-fold) rounds, each symN carrying (w, cnt,
    syms)."""
    def pairs_cte(sym_src: str) -> str:
        return f"""
          SELECT s1, s2, CAST(SUM(cnt) AS BIGINT) AS c FROM (
            SELECT cnt, syms[i] AS s1, syms[i + 1] AS s2
            FROM {sym_src}, LATERAL (SELECT unnest(range(1, len(syms))) AS i)
          ) GROUP BY 1, 2"""

    parts = [
        f"""
        WITH words AS (
          SELECT t AS w, COUNT(*) AS cnt FROM (
            SELECT unnest({H.tokens('text', 'duckdb')}) AS t FROM documents
          ) GROUP BY t
        ),
        sym0 AS (
          SELECT w, cnt, string_split(w, '') AS syms FROM words
        )"""
    ]
    for i in range(k):
        parts.append(
            f""",
        pairs{i} AS ({pairs_cte(f'sym{i}')}),
        top{i} AS (
          SELECT s1, s2, c FROM (
            SELECT s1, s2, c FROM pairs{i}
            UNION ALL SELECT '', '', CAST(-1 AS BIGINT)
          ) ORDER BY c DESC, s1, s2 LIMIT 1
        ),
        sym{i + 1} AS (
          SELECT w, cnt,
                 list_reduce(
                   list_transform(syms, x -> [x]),
                   (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = t.s1
                                     AND x[1] = t.s2
                               THEN acc[1:len(acc) - 1] || [t.s1 || t.s2]
                               ELSE acc || x END
                 ) AS syms
          FROM sym{i} CROSS JOIN top{i} t
        )"""
        )
    return "".join(parts)


def _duck_bpe_encode_sql(k: int) -> str:
    merge_union = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS merge_rank, s1, s2, c FROM top{i}"
        for i in range(k)
    )
    return _duck_bpe_chain(k) + (
        f""",
        mtok AS (
          SELECT merge_rank, s1 || '+' || s2 AS pair, s1 || s2 AS token
          FROM ({merge_union}) WHERE c >= 0
        ),
        totals AS (
          SELECT (SELECT CAST(SUM(cnt * len(syms)) AS BIGINT) FROM sym0) AS syms_before,
                 (SELECT CAST(SUM(cnt * len(syms)) AS BIGINT) FROM sym{k}) AS syms_after
        )
        SELECT m.merge_rank, m.pair, m.token,
               CAST(SUM(CASE WHEN list_contains(s.syms, m.token) THEN 1 ELSE 0 END)
                    AS BIGINT) AS vocab_words,
               CAST(SUM(s.cnt * len(list_filter(s.syms, x -> x = m.token)))
                    AS BIGINT) AS occurrences,
               MIN(t.syms_before) AS syms_before,
               MIN(t.syms_after) AS syms_after
        FROM mtok m CROSS JOIN sym{k} s CROSS JOIN totals t
        GROUP BY 1, 2, 3"""
    )


@register(
    "bpe_encode_stats",
    oracle=_duck_bpe_encode_sql(BPE_ENCODE_MERGES),
    doc=f"BPE tokenizer ENCODE/APPLY: train {BPE_ENCODE_MERGES} merges by "
    "chaining bpe_merge_round's round (pair counts over the "
    "frequency-weighted vocabulary -> greedy left-to-right merge of the "
    "most frequent pair, ties broken lexicographically), apply the full "
    "merge list, and report per-merge statistics of the ENCODED corpus: "
    "the merge table (rank, pair, token), how many vocabulary words still "
    "contain each merged token after ALL merges ran (later merges consume "
    "earlier tokens — the report shows the SURVIVING occurrences, which "
    "is what vocabulary pruning reads), the corpus-weighted occurrence "
    "count, and the corpus symbol totals before/after (the compression "
    "the merge list buys).  Each round's winner is a 1-row broadcast into "
    "the next fold; a pair-less round selects an unmatchable sentinel "
    "('', '') so the chain is total.  All work after the single corpus "
    "scan is bounded by |vocab| x max word length; at 100 TB the word "
    "count is the only corpus-sized shuffle — the standard "
    "tokenizer-training shape.  Oracle replays the identical greedy folds "
    "in DuckDB.",
    tags=("text", "tokenizer", "iterative", "added-r14"),
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    words, sym, tops = _shared_bpe_chain(spark, sf_dir)
    return _bpe_encode_stats_from_chain(words, sym, tops)


def _shared_bpe_chain(
    spark: SparkSession, sf_dir: str, k: int = BPE_ENCODE_MERGES
):
    """(words, sym, tops): the corpus vocabulary + the k-round BPE merge
    chain, built ONCE per (application, sf_dir, k) and shared by
    ``bpe_encode_stats`` and ``tokenizer_fertility_by_source`` (round 17,
    VERDICT r16 ask #4 / guide §2.4: the two queries rebuilt the identical
    eager vocab-bounded merge chain — k localCheckpoint jobs plus the one
    corpus-sized vocabulary scan — twice per registry pass).  The chain is
    the multi-consumer staging table of the tokenizer pipeline: train once,
    fan out encode-stats and fertility from the SAME merge list.  Same
    session-scoped posture as cache.shared_df (the long-standing
    shared-subtree design); cache.reset() drops it."""
    from pulsar_pekko_streams_example_spark.operators import cache

    def build():
        words = _bpe_vocab(
            load_table(spark, sf_dir, "documents")
        ).localCheckpoint(eager=True)
        sym, tops = _bpe_train_chain(words, k)
        return (words, sym, tops)

    return cache.shared_obj(
        spark, ("bpe_chain", sf_dir, table_state(sf_dir, "documents"), k), build
    )


def _bpe_vocab(docs: DataFrame) -> DataFrame:
    """(w, cnt): the frequency-weighted word vocabulary — the only
    corpus-sized pass of the BPE family."""
    return (
        spread(docs)
        .select(F.explode(F.expr(H.tokens("text", "spark"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _bpe_train_chain(words: DataFrame, k: int):
    """k chained BPE training rounds over a (w, cnt) vocabulary.

    Returns ``(sym, tops)``: ``sym`` = (w, cnt, syms) after all k merges
    applied; ``tops`` = the k 1-row winner frames (s1, s2, c) in merge
    order (sentinel ('', '') at c = -1 when a round had no pairs).  Spark
    twin of the ``_duck_bpe_chain`` CTE prefix; shared by
    ``bpe_encode_stats`` and ``tokenizer_fertility_by_source``."""
    # localCheckpoint (the pagerank pattern): each round consumes the prior
    # sym TWICE (pair counting + the next fold) and the chain is k deep, so
    # an unmaterialized lineage re-runs the corpus-sized vocabulary scan
    # O(k^2) times.  The checkpointed tables are vocab-bounded.
    from pulsar_pekko_streams_example_spark.operators.graph import _right_size

    words = _right_size(words.localCheckpoint(eager=True))
    sym = words.select("w", "cnt", F.expr("split(w, '')").alias("syms"))

    def pairs_of(symdf: DataFrame) -> DataFrame:
        return (
            symdf.select(
                "cnt",
                F.explode(
                    F.expr(
                        "CASE WHEN size(syms) >= 2 THEN "
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(element_at(syms, i) AS s1, "
                        "element_at(syms, i + 1) AS s2)) "
                        "ELSE CAST(array() AS array<struct<s1:string,s2:string>>) END"
                    )
                ).alias("p"),
            )
            .groupBy("p.s1", "p.s2")
            .agg(F.sum("cnt").cast("long").alias("c"))
        )

    tops = []
    for i in range(k):
        top = (
            pairs_of(sym)
            .unionByName(
                words.sparkSession.createDataFrame(
                    [("", "", -1)], "s1 string, s2 string, c long"
                )
            )
            .orderBy(F.col("c").desc(), "s1", "s2")
            .limit(1)
        )
        tops.append(top)
        sym = sym.crossJoin(F.broadcast(top.select("s1", "s2"))).select(
            "w",
            "cnt",
            F.expr(
                "aggregate(syms, CAST(array() AS array<string>), "
                "(acc, x) -> CASE WHEN size(acc) > 0 AND element_at(acc, -1) = s1 "
                "AND x = s2 "
                "THEN concat(slice(acc, 1, size(acc) - 1), array(concat(s1, s2))) "
                "ELSE concat(acc, array(x)) END)"
            ).alias("syms"),
        ).localCheckpoint(eager=True)
        sym = _right_size(sym)
    return sym, tops


def _bpe_encode_stats(docs: DataFrame, k: int = BPE_ENCODE_MERGES) -> DataFrame:
    """Core of ``bpe_encode_stats`` over an explicit documents frame — the
    property tests drive it on adversarial tiny corpora against an
    independent Python BPE reference (tests/test_properties.py)."""
    # checkpoint once here: `before` and the chain otherwise EACH re-run
    # the corpus-sized vocabulary scan (the chain's own checkpoint of an
    # already-materialized frame copies vocab rows, not the corpus)
    words = _bpe_vocab(docs).localCheckpoint(eager=True)
    sym, tops = _bpe_train_chain(words, k)
    return _bpe_encode_stats_from_chain(words, sym, tops)


def _bpe_encode_stats_from_chain(
    words: DataFrame, sym: DataFrame, tops: list[DataFrame]
) -> DataFrame:
    """The encode-stats report over an already-built merge chain (shared
    via ``_shared_bpe_chain`` in the registry query; built fresh in
    ``_bpe_encode_stats`` for the property tests)."""
    before = words.agg(
        F.sum(F.col("cnt") * F.length("w")).cast("long").alias("syms_before")
    )
    after = sym.agg(
        F.sum(F.col("cnt") * F.size("syms")).cast("long").alias("syms_after")
    )
    merges = None
    for i, top in enumerate(tops):
        m = top.select(
            F.lit(i + 1).cast("long").alias("merge_rank"),
            F.concat_ws("+", "s1", "s2").alias("pair"),
            F.concat("s1", "s2").alias("token"),
            "c",
        )
        merges = m if merges is None else merges.unionByName(m)
    merges = merges.filter(F.col("c") >= 0).drop("c")
    return (
        sym.crossJoin(F.broadcast(merges))
        .groupBy("merge_rank", "pair", "token")
        .agg(
            F.sum(
                F.expr("CASE WHEN array_contains(syms, token) THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias("vocab_words"),
            F.sum(F.expr("cnt * size(filter(syms, x -> x = token))"))
            .cast("long")
            .alias("occurrences"),
        )
        .crossJoin(F.broadcast(before))
        .crossJoin(F.broadcast(after))
        .select(
            "merge_rank", "pair", "token", "vocab_words", "occurrences",
            "syms_before", "syms_after",
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by source: the standard tokenizer-evaluation metric
# ---------------------------------------------------------------------------
# Fertility = tokens emitted per word; chars-per-token = how much text each
# token absorbs.  Computed per SOURCE against the corpus-trained merge list
# (the same 3-round chain as bpe_encode_stats), because a tokenizer trained
# on the pooled corpus systematically over-fragments minority sources —
# this table is how a pipeline detects that before training on the tokens.


@register(
    "tokenizer_fertility_by_source",
    oracle=_duck_bpe_chain(BPE_ENCODE_MERGES)
    + f""",
        perword AS (
          SELECT w, CAST(len(syms) AS BIGINT) AS nsym,
                 CAST(len(w) AS BIGINT) AS nchar
          FROM sym{BPE_ENCODE_MERGES}
        ),
        docw AS (
          SELECT source, unnest({H.tokens('text', 'duckdb')}) AS w FROM documents
        )
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS words,
               CAST(SUM(p.nchar) AS BIGINT) AS chars,
               CAST(SUM(p.nsym) AS BIGINT) AS tokens,
               CAST(SUM(p.nsym) * 1000 // COUNT(*) AS BIGINT) AS fertility_milli,
               CAST(SUM(p.nchar) * 1000 // SUM(p.nsym) AS BIGINT)
                 AS chars_per_token_milli
        FROM docw d JOIN perword p ON d.w = p.w
        GROUP BY d.source
        """,
    doc="Tokenizer fertility per source — THE standard tokenizer-quality "
    "metric: tokens-per-word and chars-per-token after applying the "
    f"corpus-trained {BPE_ENCODE_MERGES}-merge BPE chain "
    "(_bpe_train_chain, shared with bpe_encode_stats).  The encoded "
    "VOCABULARY (w -> symbol count) is the train-side artifact; the "
    "corpus joins to it by word, so the apply pass shuffles (source, "
    "word) keys — never symbol arrays — and the per-source roll-up is "
    "one map-side-combinable agg.  All-integer milli ratios.  A pooled "
    "tokenizer over-fragments minority sources; this is the table that "
    "shows it.  100 TB: vocabulary and corpus shuffle on the word key; "
    "the merge chain itself is vocab-bounded.",
    tags=("text", "tokenizer", "added-r14"),
)
def tokenizer_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, sym, _ = _shared_bpe_chain(spark, sf_dir)
    return _fertility_from_chain(load_table(spark, sf_dir, "documents"), sym)


def _tokenizer_fertility_by_source(
    docs: DataFrame, k: int = BPE_ENCODE_MERGES
) -> DataFrame:
    """Core over an explicit documents frame (property-tested against the
    same independent Python BPE reference as _bpe_encode_stats)."""
    sym, _ = _bpe_train_chain(_bpe_vocab(docs), k)
    return _fertility_from_chain(docs, sym)


def _fertility_from_chain(docs: DataFrame, sym: DataFrame) -> DataFrame:
    """The fertility report over an already-built merge chain (shared via
    ``_shared_bpe_chain`` in the registry query)."""
    perword = sym.select(
        "w",
        F.size("syms").cast("long").alias("nsym"),
        F.length("w").cast("long").alias("nchar"),
    )
    docw = spread(docs).select(
        "source", F.explode(F.expr(H.tokens("text", "spark"))).alias("w")
    )
    return (
        docw.join(perword, "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("words"),
            F.sum("nchar").cast("long").alias("chars"),
            F.sum("nsym").cast("long").alias("tokens"),
        )
        .select(
            "source",
            "words",
            "chars",
            "tokens",
            F.expr("tokens * 1000 div words").cast("long").alias("fertility_milli"),
            F.expr("chars * 1000 div tokens")
            .cast("long")
            .alias("chars_per_token_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users from daily HLL registers (sketch windowing)
# ---------------------------------------------------------------------------
HLL_ROLL_DAYS = 7


@register(
    "hll_rolling_7d_users",
    oracle=f"""
        WITH u AS (
          SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
                 CAST(user_id AS VARCHAR) AS uid
          FROM events
        ),
        regs AS (
          SELECT day, {_hll_exprs('duckdb')[0]} AS reg,
                 MAX({_hll_exprs('duckdb')[1]}) AS m
          FROM u GROUP BY 1, 2
        ),
        bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM regs),
        days AS (
          SELECT CAST(unnest(range(d0, d1 + 1)) AS BIGINT) AS day FROM bounds
        ),
        contrib AS (
          SELECT r.day + o.off AS day, r.reg, r.m
          FROM regs r, (SELECT unnest(range(0, {HLL_ROLL_DAYS})) AS off) o
        ),
        win AS (
          SELECT c.day, c.reg, MAX(c.m) AS m
          FROM contrib c JOIN days d ON c.day = d.day
          GROUP BY c.day, c.reg
        ),
        tot AS (
          SELECT day, COUNT(*) AS used,
                 SUM(CAST(2 AS BIGINT) ** (30 - m)) AS present_weight
          FROM win GROUP BY day
        )
        SELECT day, CAST(used AS BIGINT) AS registers_used,
               {_HLL_EST} AS hll_estimate
        FROM tot
        """,
    doc=f"Rolling {HLL_ROLL_DAYS}-day distinct users — the windowed-"
    "cardinality dashboard metric that is EXPENSIVE exactly (distinct "
    "does not decompose over sliding windows) and nearly free as sketch "
    "algebra: daily HLL register tables join across the trailing window "
    "and merge by register-wise MAX, so each output day reads "
    f"{HLL_ROLL_DAYS} x 64 register rows instead of re-scanning the "
    "window's raw events.  The range join is day-keyed over the BOUNDED "
    "register table (|days| x 64 rows at any corpus size); the corpus "
    "itself is scanned once to build the daily registers.  The same "
    "shape serves any trailing window — change the constant, not the "
    "scan.",
    tags=("sketch", "agg", "timeseries", "scale-default", "added-r3b"),
)
def hll_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(load_table(spark, sf_dir, "events"))
    reg, rho = _hll_exprs("spark")
    u = ev.select(
        F.expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)").alias("day"),
        F.expr("CAST(user_id AS STRING)").alias("uid"),
    )
    # localCheckpoint: the register table feeds BOTH the day-spine bounds
    # and the window fan-out below — without it Spark plans two full corpus
    # scans (no subplan reuse); the checkpointed table is |days| x 64 rows
    regs = (
        u.groupBy("day", F.expr(reg).alias("reg"))
        .agg(F.expr(f"MAX({rho})").alias("m"))
        .localCheckpoint(eager=True)
    )
    # dense day SPINE from the observed bounds (sequence + explode, the
    # gap-fill pattern): a day with zero events still has a trailing window
    # containing users, so it must get an output row — filtering to
    # OBSERVED days would leave silent holes in the dashboard series
    days = regs.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(F.explode(F.expr("sequence(d0, d1)")).alias("day"))
    # offset-explode instead of a range join: each daily register row
    # contributes to the 7 trailing windows it belongs to, turning window
    # membership into a plain equi-join (no nested loop); the semi-join
    # against the spine drops the ghost windows past max(day)
    contrib = regs.select(
        F.explode(
            F.array(*[F.lit(i) for i in range(HLL_ROLL_DAYS)])
        ).alias("off"),
        "day",
        "reg",
        "m",
    ).select((F.col("day") + F.col("off")).alias("day"), "reg", "m")
    win = (
        contrib.join(days, "day", "left_semi")
        .groupBy("day", "reg")
        .agg(F.max("m").alias("m"))
    )
    tot = win.groupBy("day").agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(F.expr("shiftleft(1L, 30 - m)")).alias("present_weight"),
    )
    return tot.select(
        "day",
        F.col("used").cast("long").alias("registers_used"),
        F.expr(_HLL_EST).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# Logistic-regression Newton step: a linear language-ID probe as ONE aggregate
# ---------------------------------------------------------------------------
# One Newton/IRLS step for logistic regression FROM beta = 0 is exp-free:
# p = sigmoid(0) = 1/2 and w = p(1-p) = 1/4 exactly, so the step is
#   beta = [X'WX]^-1 X'(y - 1/2) = 2 * (X'X)^-1 X'(2y - 1)
# — every sufficient statistic is an EXACT int64 sum (features are integer
# token/vocab counts, labels are 0/1), the shuffle carries nine scalars with
# map-side partials, and the 3x3 solve is Cramer's rule evaluated in double
# from the exact sums.  The determinant expressions are written ONCE and
# fed verbatim to both engines, so every multiply/subtract runs in the same
# order -> bit-identical doubles.  Further Newton steps need sigmoid (not
# bit-portable); at deploy time iterate in float and keep THIS query as the
# deterministic step-0 regression test of the feature plumbing.
# Overflow: dl, u <= ~1e4 tokens/doc keeps s11 = sum(dl^2) exact in int64 up
# to ~1e10 docs, and the double Cramer products are exact-input IEEE ops.
_LGT = {
    k: f"CAST({k} AS DOUBLE)"
    for k in ("n", "s1", "s2", "s11", "s12", "s22", "g0", "g1", "g2")
}
_LGT_DET = (
    "({n} * ({s11} * {s22} - {s12} * {s12}) "
    "- {s1} * ({s1} * {s22} - {s12} * {s2}) "
    "+ {s2} * ({s1} * {s12} - {s11} * {s2}))"
).format(**_LGT)
_LGT_DET0 = (
    "({g0} * ({s11} * {s22} - {s12} * {s12}) "
    "- {s1} * ({g1} * {s22} - {s12} * {g2}) "
    "+ {s2} * ({g1} * {s12} - {s11} * {g2}))"
).format(**_LGT)
_LGT_DET1 = (
    "({n} * ({g1} * {s22} - {s12} * {g2}) "
    "- {g0} * ({s1} * {s22} - {s12} * {s2}) "
    "+ {s2} * ({s1} * {g2} - {g1} * {s2}))"
).format(**_LGT)
_LGT_DET2 = (
    "({n} * ({s11} * {g2} - {g1} * {s12}) "
    "- {s1} * ({s1} * {g2} - {g1} * {s2}) "
    "+ {g0} * ({s1} * {s12} - {s11} * {s2}))"
).format(**_LGT)
# det = 0 (features linearly dependent — e.g. a degenerate corpus where
# every doc has identical length/vocab) -> betas NULL, never a div-by-zero
# whose inf/NULL convention could differ between engines
_LGT_BETAS = tuple(
    f"CASE WHEN {_LGT_DET} = 0.0 THEN NULL "
    f"ELSE 2.0 * {d} / {_LGT_DET} END AS {alias}"
    for d, alias in (
        (_LGT_DET0, "beta_intercept"),
        (_LGT_DET1, "beta_len"),
        (_LGT_DET2, "beta_vocab"),
    )
)


# feats + sums CTE text shared by logit_newton_langid and
# logit_reliability_curve (one definition, zero drift between the trainer
# and the apply pass).
_LGT_CTES_SQL = f"""
        WITH feats AS (
          SELECT len({H.tokens('text', 'duckdb')}) AS dl,
                 len(list_distinct({H.tokens('text', 'duckdb')})) AS u,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents
          WHERE text IS NOT NULL AND lang IS NOT NULL
        ),
        sums AS (
          SELECT COUNT(*) AS n,
                 SUM(dl) AS s1, SUM(u) AS s2,
                 SUM(dl * dl) AS s11, SUM(dl * u) AS s12, SUM(u * u) AS s22,
                 SUM(2 * y - 1) AS g0,
                 SUM(dl * (2 * y - 1)) AS g1,
                 SUM(u * (2 * y - 1)) AS g2,
                 CAST(SUM(y) AS BIGINT) AS n_pos
          FROM feats
        )
"""


def _logit_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the feats CTE: (dl, u, y) per usable doc."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        spread(docs)
        .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            F.expr(H.tokens("text", "spark")).alias("toks"),
            F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0)).alias("y"),
        )
        .select(
            F.size("toks").cast("long").alias("dl"),
            F.size(F.array_distinct("toks")).cast("long").alias("u"),
            "y",
        )
    )


def _logit_sums(feats: DataFrame) -> DataFrame:
    """Spark twin of the sums CTE: the nine sufficient statistics + n_pos."""
    return feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("s1"),
        F.sum("u").alias("s2"),
        F.sum(F.expr("dl * dl")).alias("s11"),
        F.sum(F.expr("dl * u")).alias("s12"),
        F.sum(F.expr("u * u")).alias("s22"),
        F.sum(F.expr("2L * y - 1L")).alias("g0"),
        F.sum(F.expr("dl * (2L * y - 1L)")).alias("g1"),
        F.sum(F.expr("u * (2L * y - 1L)")).alias("g2"),
        F.sum("y").cast("long").alias("n_pos"),
    )


@register(
    "logit_newton_langid",
    oracle=f"""{_LGT_CTES_SQL}
        SELECT CAST(n AS BIGINT) AS n_used, n_pos, {", ".join(_LGT_BETAS)}
        FROM sums
        """,
    doc="A TRAINING step as a query: the first Newton/IRLS iteration of a "
    "logistic language-ID probe (is-English ~ intercept + token count + "
    "distinct-token count) computed as ONE hash aggregate.  From beta=0 "
    "the step is exp-free (sigmoid(0)=1/2, w=1/4 exactly), so the nine "
    "sufficient statistics are exact int64 sums with map-side partials — "
    "at 100 TB the shuffle carries nine scalars per partition, the "
    "classic mergeable-statistics shape every distributed GLM trainer "
    "uses — and the closed-form 3x3 Cramer solve runs once on the driver "
    "row, written as ONE shared expression string so both engines "
    "evaluate bit-identically.  det=0 (collinear features) yields NULL "
    "betas, never an engine-specific div-by-zero.  The calibration story "
    "for quality classifiers: run this before spending GPU time to check "
    "the features separate at all.",
    tags=("mldata", "training", "agg", "added-r13"),
)
def logit_newton_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    sums = _logit_sums(_logit_feats(spark, sf_dir))
    return sums.selectExpr(
        "CAST(n AS BIGINT) AS n_used", "n_pos", *_LGT_BETAS
    )


# ---------------------------------------------------------------------------
# Feature correlation matrix: Pearson r over doc-level curation signals
# ---------------------------------------------------------------------------
# The question every curation run asks before trusting a filter: do the
# cheap signals (length, vocabulary, char count) actually co-vary with the
# expensive one (exact-duplicate membership)?  Pearson r is engine-portable
# WITHOUT rational tricks here because every sufficient statistic is an
# EXACT int64 sum (integer features, 0/1 label), the r formula's products
# run in double in one shared expression order, and IEEE-754 sqrt is
# correctly rounded in both engines — the only transcendental-adjacent op
# that IS bit-portable.  n*Sij products would overflow int64 near 1e9 docs,
# so they are computed in double FROM the exact sums (deterministic, same
# inputs -> same bits).
_FCM_FEATS = ("dl", "u", "nc", "bp")
_FCM_PAIRS = [
    (a, b)
    for i, a in enumerate(_FCM_FEATS)
    for b in _FCM_FEATS[i + 1 :]
]


def _fcm_corr(a: str, b: str) -> str:
    """Shared Pearson-r expression over the exact sums (identical text for
    Spark and DuckDB -> identical double bits; constant feature -> NULL)."""
    num = f"(CAST(n AS DOUBLE) * CAST(s_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
    va = f"(CAST(n AS DOUBLE) * CAST(s_{a}_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
    vb = f"(CAST(n AS DOUBLE) * CAST(s_{b}_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
    return (
        f"CASE WHEN {va} * {vb} <= 0.0 THEN NULL "
        f"ELSE {num} / SQRT({va} * {vb}) END"
    )


def _fcm_sum_sql() -> str:
    """The 14 exact sums (4 firsts + 10 second moments), identical algebra
    in both engines."""
    cols = [f"SUM({a}) AS s_{a}" for a in _FCM_FEATS]
    cols += [
        f"SUM({a} * {b}) AS s_{a}_{b}"
        for i, a in enumerate(_FCM_FEATS)
        for b in _FCM_FEATS[i:]
    ]
    return ", ".join(["COUNT(*) AS n"] + cols)


@register(
    "feature_correlation_matrix",
    oracle=f"""
        WITH tl AS (
          SELECT {H.tokens('text', 'duckdb')} AS toks, n_chars
          FROM documents
          WHERE text IS NOT NULL
        ),
        fp AS (
          SELECT len(toks) AS dl,
                 len(list_distinct(toks)) AS u,
                 n_chars AS nc,
                 {H.word_hash("array_to_string(toks[1:4], ' ')", 'duckdb')} AS f
          FROM tl
        ),
        feats AS (
          SELECT dl, u, nc,
                 CASE WHEN COUNT(*) OVER (PARTITION BY f) > 1
                      THEN 1 ELSE 0 END AS bp
          FROM fp
        ),
        sums AS (SELECT {_fcm_sum_sql()} FROM feats)
        {" UNION ALL ".join(
            f"SELECT '{a}' AS feat_a, '{b}' AS feat_b, "
            f"CAST(n AS BIGINT) AS n_used, {_fcm_corr(a, b)} AS corr FROM sums"
            for a, b in _FCM_PAIRS
        )}
        """,
    doc="Pearson correlation matrix over doc-level curation signals — token "
    "count, distinct-token count, char count, and boilerplate membership "
    "(shares its 4-token prefix hash with another doc, the "
    "boilerplate_prefix_report signal as a 0/1 label) — the sanity check "
    "a filtering run consults before trusting cheap proxies for "
    "expensive labels.  ONE aggregate pass computes all 14 exact int64 "
    "sufficient statistics with map-side partials (the shuffle carries "
    "15 scalars per partition at any corpus size); the label costs one "
    "prefix-hash-partitioned window before it.  The r formula runs in "
    "double off one shared expression string — IEEE sqrt is correctly "
    "rounded in both engines, so the matrix is bit-identical without "
    "rational arithmetic; a constant feature degrades to NULL, never a "
    "div-by-zero.  Output: 6 feature pairs.",
    tags=("mldata", "statistics", "added-r13"),
)
def feature_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = (
        spread(docs)
        .filter(F.col("text").isNotNull())
        .select(
            F.expr(H.tokens("text", "spark")).alias("toks"),
            F.col("n_chars").alias("nc"),
        )
        .select(
            F.size("toks").cast("long").alias("dl"),
            F.size(F.array_distinct("toks")).cast("long").alias("u"),
            "nc",
            F.expr(
                H.word_hash("array_join(slice(toks, 1, 4), ' ')", "spark")
            ).alias("f"),
        )
    )
    feats = fp.select(
        "dl",
        "u",
        "nc",
        F.when(
            F.count(F.lit(1)).over(Window.partitionBy("f")) > 1, F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("bp"),
    )
    sums = feats.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(a).alias(f"s_{a}") for a in _FCM_FEATS],
        *[
            F.sum(F.expr(f"{a} * {b}")).alias(f"s_{a}_{b}")
            for i, a in enumerate(_FCM_FEATS)
            for b in _FCM_FEATS[i:]
        ],
    )
    stacked = sums.selectExpr(
        "CAST(n AS BIGINT) AS n_used",
        f"stack({len(_FCM_PAIRS)}, "
        + ", ".join(f"'{a}', '{b}', {_fcm_corr(a, b)}" for a, b in _FCM_PAIRS)
        + ") AS (feat_a, feat_b, corr)",
    )
    return stacked.select("feat_a", "feat_b", "n_used", "corr")


# ---------------------------------------------------------------------------
# Spearman rank-correlation matrix (tie-corrected, no global row sort)
# ---------------------------------------------------------------------------
# The monotone complement of feature_correlation_matrix: Pearson answers
# "linear?", Spearman answers "monotone?" — the pair a feature-selection
# pass reports together.  The naive rank transform is a GLOBAL row sort
# (a single-partition window at 100 TB); instead, tie-corrected doubled
# average ranks come from the VALUE HISTOGRAM: for value v with cnt_v
# occurrences and `below` smaller-valued rows, 2*avg_rank = 2*below +
# cnt_v + 1 — exact int64, computed by a cumulative window over |distinct
# values| rows (~100 here, bounded by the signal's cardinality at any
# corpus size) and broadcast-joined back.  Ties are handled canonically
# (average ranks + Pearson-over-ranks), not by the tie-free Σd² shortcut,
# which is biased under ties.
_SPEAR_FEATS = ("dl", "u", "nc")
_SPEAR_PAIRS = [(a, b) for i, a in enumerate(_SPEAR_FEATS) for b in _SPEAR_FEATS[i + 1 :]]


def _spear_rho(n: str, sx: str, sy: str, sxx: str, syy: str, sxy: str) -> str:
    """Shared dialect-neutral double expression for Pearson over the exact
    integer rank sums (identical text in both engines => identical IEEE
    rounding).  Constant signal => zero denominator => NULL."""
    d = "CAST({} AS DOUBLE)"
    N, SX, SY = d.format(n), d.format(sx), d.format(sy)
    SXX, SYY, SXY = d.format(sxx), d.format(syy), d.format(sxy)
    num = f"({N} * {SXY} - {SX} * {SY})"
    denx = f"sqrt({N} * {SXX} - {SX} * {SX})"
    deny = f"sqrt({N} * {SYY} - {SY} * {SY})"
    return (
        f"CASE WHEN {denx} * {deny} = CAST(0 AS DOUBLE) THEN NULL "
        f"ELSE {num} / ({denx} * {deny}) END"
    )


def _duck_spearman_sql() -> str:
    rank_ctes = ",".join(
        f"""
        h_{s} AS (SELECT {s} AS v, CAST(COUNT(*) AS BIGINT) AS cnt FROM fp GROUP BY {s}),
        c_{s} AS (
          SELECT v, CAST(2 * (SUM(cnt) OVER (ORDER BY v) - cnt) + cnt + 1 AS BIGINT) AS r2
          FROM h_{s}
        )"""
        for s in _SPEAR_FEATS
    )
    joins = " ".join(
        f"JOIN c_{s} ON fp.{s} = c_{s}.v" for s in _SPEAR_FEATS
    )
    moment_cols = ", ".join(
        [f"CAST(SUM(CAST(r_{s} AS HUGEINT)) AS HUGEINT) AS s_{s}" for s in _SPEAR_FEATS]
        + [
            f"CAST(SUM(CAST(r_{a} AS HUGEINT) * r_{b}) AS HUGEINT) AS s_{a}_{b}"
            for i, a in enumerate(_SPEAR_FEATS)
            for b in _SPEAR_FEATS[i:]
        ]
    )
    branches = " UNION ALL ".join(
        f"SELECT '{a}' AS feat_a, '{b}' AS feat_b, n AS n_used, "
        + _spear_rho("n", f"s_{a}", f"s_{b}", f"s_{a}_{a}", f"s_{b}_{b}", f"s_{a}_{b}")
        + " AS rho FROM sums"
        for a, b in _SPEAR_PAIRS
    )
    return f"""
        WITH fp AS (
          SELECT CAST(len(toks) AS BIGINT) AS dl,
                 CAST(len(list_distinct(toks)) AS BIGINT) AS u,
                 CAST(n_chars AS BIGINT) AS nc
          FROM (SELECT {H.tokens('text', 'duckdb')} AS toks, n_chars
                FROM documents WHERE text IS NOT NULL)
        ),{rank_ctes},
        ranked AS (
          SELECT {', '.join(f'c_{s}.r2 AS r_{s}' for s in _SPEAR_FEATS)}
          FROM fp {joins}
        ),
        sums AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n, {moment_cols} FROM ranked
        )
        SELECT feat_a, feat_b, n_used, rho FROM ({branches})
        """


@register(
    "signal_spearman_matrix",
    oracle=_duck_spearman_sql(),
    doc="Tie-corrected Spearman rank correlation between the doc signals "
    "(token length, distinct types, char count) — the monotone complement "
    "of feature_correlation_matrix's Pearson.  The rank transform NEVER "
    "globally sorts rows: doubled average ranks (2*below + cnt + 1, exact "
    "int64) come from each signal's VALUE HISTOGRAM via a cumulative "
    "window over |distinct values| rows (bounded by signal cardinality, "
    "~100 here, regardless of corpus size) broadcast-joined back to the "
    "docs; rho is then Pearson over the integer ranks — HUGEINT/DECIMAL "
    "exact moment sums (rank products reach 4n^2 per row, past int64 at "
    "10^10 docs), one shared double expression per dialect for the final "
    "division.  Canonical tie handling (average ranks + Pearson-of-ranks; "
    "the tie-free 1 - 6*sum(d^2)/... shortcut is biased under ties, and "
    "doc-length signals tie heavily).  Constant signal => NULL rho.",
    tags=("statistics", "text", "added-r14"),
)
def signal_spearman_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signal_spearman_matrix(load_table(spark, sf_dir, "documents"))


def _signal_spearman_matrix(docs: DataFrame) -> DataFrame:
    """Core over an explicit documents frame (property-tested against an
    independent Python average-rank Spearman)."""
    fp = (
        spread(docs)
        .filter(F.col("text").isNotNull())
        .select(
            F.expr(H.tokens("text", "spark")).alias("toks"),
            F.col("n_chars").cast("long").alias("nc"),
        )
        .select(
            F.size("toks").cast("long").alias("dl"),
            F.size(F.array_distinct("toks")).cast("long").alias("u"),
            "nc",
        )
    )
    ranked = fp
    for s in _SPEAR_FEATS:
        h = fp.groupBy(F.col(s).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        c = h.select(
            "v",
            (2 * (F.sum("cnt").over(w) - F.col("cnt")) + F.col("cnt") + 1)
            .cast("long")
            .alias(f"r_{s}"),
        )
        ranked = ranked.join(F.broadcast(c), ranked[s] == c.v).drop("v")
    sums = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(F.col(f"r_{s}").cast("decimal(38,0)")).alias(f"s_{s}")
            for s in _SPEAR_FEATS
        ],
        *[
            F.sum(
                F.col(f"r_{a}").cast("decimal(38,0)") * F.col(f"r_{b}")
            ).alias(f"s_{a}_{b}")
            for i, a in enumerate(_SPEAR_FEATS)
            for b in _SPEAR_FEATS[i:]
        ],
    )
    branches = ", ".join(
        f"'{a}', '{b}', "
        + _spear_rho("n", f"s_{a}", f"s_{b}", f"s_{a}_{a}", f"s_{b}_{b}", f"s_{a}_{b}")
        for a, b in _SPEAR_PAIRS
    )
    return sums.selectExpr(
        "CAST(n AS BIGINT) AS n_used",
        f"stack({len(_SPEAR_PAIRS)}, {branches}) AS (feat_a, feat_b, rho)",
    ).select("feat_a", "feat_b", "n_used", "rho")


# ---------------------------------------------------------------------------
# Logit reliability curve: train THEN apply, in one DAG
# ---------------------------------------------------------------------------
# The natural follow-on to logit_newton_langid: score every doc with the
# step-1 betas and report the reliability diagram (per score bucket, how
# often is the doc actually English?).  Train-then-apply as a single query:
# pass 1 aggregates the nine sufficient statistics to one row, the betas
# derive from it and BROADCAST back over the corpus, pass 2 buckets the
# linear score and counts — two scans, zero extra shuffles beyond the
# 9-scalar aggregate.  The linear score stays in double off one shared
# expression (bit-identical betas in, fixed-order arithmetic); the
# positive rate per bucket is integer permille (exact DIV).  NULL betas
# (det=0) put every doc in a NULL bucket — one honest row, not an error.
_LGT_SCORE = (
    "(beta_intercept + beta_len * CAST(dl AS DOUBLE) "
    "+ beta_vocab * CAST(u AS DOUBLE))"
)
_LGT_BUCKET = f"CAST(FLOOR({_LGT_SCORE} * 20.0) AS BIGINT)"


@register(
    "logit_reliability_curve",
    oracle=f"""{_LGT_CTES_SQL},
        betas AS (
          SELECT {", ".join(_LGT_BETAS)} FROM sums
        ),
        bucketed AS (
          SELECT {_LGT_BUCKET} AS bucket, y
          FROM feats CROSS JOIN betas
        )
        SELECT bucket,
               COUNT(*) AS docs,
               CAST(SUM(y) AS BIGINT) AS en_docs,
               CAST((1000 * SUM(y)) // COUNT(*) AS BIGINT) AS en_permille
        FROM bucketed
        GROUP BY bucket
        """,
    doc="Reliability diagram for the step-1 logistic language-ID probe — "
    "train THEN apply in one DAG: the nine sufficient statistics "
    "aggregate to one row, the Cramer-solved betas broadcast back over "
    "the corpus (a 1-row BNLJ, the classic model-broadcast shape), and "
    "every doc's linear score buckets at 0.05 width into a per-bucket "
    "empirical positive rate.  The curve answers whether the probe's "
    "score ORDERING means anything before anyone sigmoid-calibrates it; "
    "monotone-increasing en_permille = usable probe.  Integer-permille "
    "rates (exact DIV) and a shared double score expression keep both "
    "engines bit-identical; det=0 degrades to a single NULL-bucket row.  "
    "100 TB: two corpus scans, shuffles carry nine scalars plus the "
    "bucket histogram.",
    tags=("mldata", "training", "statistics", "added-r13"),
)
def logit_reliability_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _logit_feats(spark, sf_dir)
    betas = _logit_sums(feats).selectExpr(*_LGT_BETAS)
    bucketed = feats.crossJoin(F.broadcast(betas)).select(
        F.expr(_LGT_BUCKET).alias("bucket"), "y"
    )
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("y").cast("long").alias("en_docs"),
        F.expr("(1000 * SUM(y)) DIV COUNT(*)").alias("en_permille"),
    )


# ---------------------------------------------------------------------------
# Context branching histogram: templated-text detection via n-gram contexts
# ---------------------------------------------------------------------------
@register(
    "context_branching_histogram",
    oracle=f"""
        WITH docs_w AS (
          SELECT {H.tokens('text', 'duckdb')} AS w FROM documents
        ),
        tri AS (
          SELECT unnest(w[1:len(w)-2]) AS w1,
                 unnest(w[2:len(w)-1]) AS w2,
                 unnest(w[3:len(w)]) AS w3
          FROM docs_w WHERE len(w) >= 3
        ),
        ctx3 AS (
          SELECT w1, w2, w3, COUNT(*) AS c FROM tri GROUP BY 1, 2, 3
        ),
        ctx AS (
          SELECT w1, w2,
                 CAST(COUNT(*) AS BIGINT) AS n_next,
                 CAST(SUM(c) AS BIGINT) AS occ
          FROM ctx3 GROUP BY 1, 2
        )
        SELECT n_next, COUNT(*) AS contexts, CAST(SUM(occ) AS BIGINT) AS occurrences
        FROM ctx WHERE occ >= 2
        GROUP BY 1
        """,
    doc="Templated-text detector: for every bigram context seen at least "
    "twice, how many DISTINCT next tokens follow it?  A corpus heavy in "
    "n_next=1 contexts (the context always continues the same way) is "
    "templated/boilerplate — the memorization-risk signal Lee et al.'s "
    "dedup work motivates, cheaper than any span join.  Trigrams come "
    "from one slice-and-zip of the token array (the pmi_collocations "
    "pattern, no self-join); the distinct-next count is two stacked "
    "hash aggregates — (w1,w2,w3) then (w1,w2) — both map-side "
    "combinable, so the shuffle tracks the distinct trigram vocabulary, "
    "not corpus positions.  The >= 2 occurrence gate runs on the "
    "aggregated context row (integer column, no fold re-eval).  All "
    "integer arithmetic.",
    tags=("text", "statistics", "dedup", "added-r13"),
)
def context_branching_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    docs_w = spread(docs).select(F.expr(H.tokens("text", "spark")).alias("w"))
    tri = docs_w.filter(F.expr("size(w) >= 3")).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 2), "
                "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2, "
                "element_at(w, i + 2) AS w3))"
            )
        ).alias("t")
    ).select("t.w1", "t.w2", "t.w3")
    ctx3 = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c"))
    ctx = ctx3.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_next"),
        F.sum("c").cast("long").alias("occ"),
    )
    return (
        ctx.filter(F.col("occ") >= 2)
        .groupBy("n_next")
        .agg(
            F.count(F.lit(1)).alias("contexts"),
            F.sum("occ").cast("long").alias("occurrences"),
        )
    )


# ---------------------------------------------------------------------------
# Largest-remainder quota apportionment: integer sample quotas per source
# ---------------------------------------------------------------------------
# mixture_temperature_weights says WHAT fraction each source deserves; a
# sampler needs integer QUOTAS that sum exactly to the batch size.  Rounding
# per-source floors loses slots and naive rounding can overshoot; the
# largest-remainder (Hare) method is the standard fix: floor every quota,
# then hand the leftover slots to the largest fractional remainders.  All
# integer arithmetic — quota floors and remainders are exact int64 (the
# remainder of T*c DIV N is T*c - floor*N), the rank window runs over the
# |sources| post-aggregate rows, and ties break by source name — so both
# engines replay exactly and the quotas ALWAYS sum to QUOTA_TOTAL.
QUOTA_TOTAL = 1000


@register(
    "quota_apportionment",
    oracle=f"""
        WITH per_src AS (
          SELECT source, COUNT(*) AS docs FROM documents GROUP BY source
        ),
        tot AS (SELECT SUM(docs) AS n FROM per_src),
        base AS (
          SELECT source, docs,
                 CAST(({QUOTA_TOTAL} * docs) // n AS BIGINT) AS floor_quota,
                 CAST({QUOTA_TOTAL} * docs - (({QUOTA_TOTAL} * docs) // n) * n
                      AS BIGINT) AS remainder
          FROM per_src CROSS JOIN tot
        ),
        ranked AS (
          SELECT source, docs, floor_quota, remainder,
                 ROW_NUMBER() OVER (ORDER BY remainder DESC, source) AS rnk,
                 SUM(floor_quota) OVER () AS floor_sum
          FROM base
        )
        SELECT source, CAST(docs AS BIGINT) AS docs, floor_quota,
               CAST(floor_quota + CASE WHEN rnk <= {QUOTA_TOTAL} - floor_sum
                                       THEN 1 ELSE 0 END AS BIGINT) AS quota
        FROM ranked
        """,
    doc="Integer sample quotas per source by the largest-remainder (Hare) "
    "method: floor every proportional share of QUOTA_TOTAL, then give the "
    "leftover slots to the largest fractional remainders (ties by source "
    "name).  The integer companion to mixture_temperature_weights — a "
    "batch sampler needs quotas that sum EXACTLY to the batch size, and "
    "this query guarantees it in pure int64 arithmetic (remainder = "
    "T*docs - floor*N, no floats anywhere).  One corpus aggregate, then "
    "windows over the |sources| rows only.  At 100 TB: the same "
    "source-count aggregate every mixture query already runs.",
    tags=("mldata", "sampling", "added-r13"),
)
def quota_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = spread(docs).groupBy("source").agg(F.count(F.lit(1)).alias("docs"))
    tot = per_src.agg(F.sum("docs").alias("n"))
    base = per_src.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "docs",
        f"CAST(({QUOTA_TOTAL}L * docs) DIV n AS BIGINT) AS floor_quota",
        f"CAST({QUOTA_TOTAL}L * docs - (({QUOTA_TOTAL}L * docs) DIV n) * n AS BIGINT) AS remainder",
    )
    w_rank = Window.orderBy(F.col("remainder").desc(), "source")
    w_all = Window.partitionBy()
    ranked = base.select(
        "source",
        "docs",
        "floor_quota",
        F.row_number().over(w_rank).alias("rnk"),
        F.sum("floor_quota").over(w_all).alias("floor_sum"),
    )
    return ranked.selectExpr(
        "source",
        "CAST(docs AS BIGINT) AS docs",
        "floor_quota",
        f"CAST(floor_quota + CASE WHEN rnk <= {QUOTA_TOTAL} - floor_sum "
        "THEN 1 ELSE 0 END AS BIGINT) AS quota",
    )
