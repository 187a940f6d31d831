"""Deduplication operators over the documents table.

Scale-first designs (the 100 TB rationale, per operator):

- exact dedup: hash-groupBy on a 64-ish-bit fingerprint — one shuffle of
  (fingerprint, doc_id), never of the text itself.
- n-gram Jaccard: inverted-index self-join (explode shingles → join on
  shingle → count per pair).  NEVER the O(n²) cross join: cost is bounded by
  Σ df(shingle)², and frequent-shingle capping keeps that linear-ish.
- MinHash+LSH: constant-size signature per doc (k=8 permutations), banded
  (4×2) so candidate generation is an equi-join on (band, signature) —
  the classic shingle→minhash→band→bucket-join pipeline.
- SimHash: frequency-weighted bit votes from word hashes → 16-bit fingerprint;
  hamming-near docs collide on the fingerprint directly.

All hashing is engine-portable arithmetic (functions/hashing.py) so the
DuckDB oracle reproduces every value exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsar_pekko_streams_example_spark.functions import hashing as H
from pulsar_pekko_streams_example_spark.operators.partitioning import spread

SHINGLE_N = 3

# Frequent-shingle cap: postings whose shingle occurs in more than MAX_DF
# docs are dropped before the inverted-index self-join.  The join's cost is
# Σ df(shingle)², so ONE stop-shingle ("in the of") with df=10⁶ contributes
# 10¹² candidate pairs at corpus scale; capping bounds every shingle's
# contribution at MAX_DF².  The default is far above any df the test corpora
# produce (so oracle-checked results are unchanged there) while bounding the
# blow-up at 100 TB.  The DuckDB oracles replicate the cap with the same
# constant, so semantics stay engine-identical even when the cap bites.
JACCARD_MAX_DF = 100_000


def tokenized(docs: DataFrame) -> DataFrame:
    """documents + tokens array column ``w`` (input spread so the explode /
    hash work downstream parallelizes even off a single-split scan)."""
    return spread(docs).withColumn("w", F.expr(H.tokens("text", "spark")))


def shingle_postings(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, s) — one row per distinct n-gram shingle per doc."""
    return (
        tokenized(docs)
        .select("doc_id", F.explode(F.expr(H.shingles(n, "spark"))).alias("s"))
    )


def dup_span_doc_coverage(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, spans, dup): per-document positional-span accounting —
    ``spans`` = token positions carrying an n-gram span, ``dup`` = positions
    whose span also occurs in at least one OTHER document.  The per-doc
    intermediate behind ``dup_span_coverage``; pipelines gate on it directly
    (e.g. drop docs with ``2 * dup >= spans`` — the mostly-boilerplate pile —
    as ``examples/curation_pipeline.py`` does).  Docs shorter than n tokens
    emit no row."""
    # TOTAL hash (coalesce to a sentinel no real hash produces: word_hash
    # folds to [0, P), so -1 is unreachable): the equi-join on h below is
    # null-rejecting, and with a nullable h Spark pushes isnotnull(h) onto
    # BOTH join inputs — each re-evaluating the hash fold per position on
    # top of the grouping key's eval (the semdedup_threshold_curve lesson:
    # plan-audit found the fold inside the pushed Filters).  h is never
    # NULL in practice (g is a concat of non-null tokens), so values are
    # unchanged — the coalesce exists to let constant-folding DELETE the
    # pushed filters.  Oracle twin carries the same coalesce for lockstep.
    pos = (
        tokenized(docs)
        .select(
            "doc_id",
            F.explode(F.expr(H.positional_shingles(n, "spark"))).alias("g"),
        )
        .select(
            "doc_id",
            F.expr(f"coalesce({H.word_hash('g', 'spark')}, -1L)").alias("h"),
        )
    )
    per_shingle = pos.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    dfs = per_shingle.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        per_shingle.join(dfs, ["h"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("spans"),
            F.sum(F.when(F.col("df") >= 2, F.col("c")).otherwise(0)).alias("dup"),
        )
    )


def dup_span_coverage(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Per-source duplicated-SPAN accounting: how much of the corpus TEXT
    (token positions, not whole docs) is covered by n-gram spans that also
    occur in another document — the position-level dedup signal of Lee et
    al., "Deduplicating Training Data Makes Language Models Better" (ACL
    2022), where doc-level Jaccard/MinHash sees only whole-document overlap.

    Per document: every token position i carries the shingle of tokens
    i..i+n-1; a position is DUPLICATED if its shingle occurs in at least one
    other document.  Rolled up per source: docs, span positions, duplicated
    span positions, integer permille coverage, and the count of documents
    with >= 50% duplicated positions (the "mostly boilerplate" pile a
    curation run routes to exact-substring dedup).

    Scale posture: shuffles carry (doc_id, shingle-hash int64) — never text;
    the per-doc position counts and the shingle doc-frequency are the SAME
    aggregate tree (df comes from the doc-distinct rows the position-count
    aggregate already produced), joined once on the hash — the standard
    inverted-index shape whose cost is O(positions), map-side combinable at
    both levels.  Documents shorter than n tokens have zero positions and
    are counted in ``docs`` but never in ``mostly_dup_docs``.  Hash
    collisions merge spans identically in both engines (the accepted
    fingerprinting tradeoff, as for MinHash)."""
    return (
        docs.select("doc_id", "source")
        .join(dup_span_doc_coverage(docs, n), ["doc_id"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.coalesce(F.sum("spans"), F.lit(0)).cast("long").alias("span_positions"),
            F.coalesce(F.sum("dup"), F.lit(0)).cast("long").alias("dup_span_positions"),
            F.expr(
                "CAST((1000 * coalesce(sum(dup), 0L)) "
                "div greatest(coalesce(sum(spans), 0L), 1L) AS LONG)"
            ).alias("dup_permille"),
            F.sum(F.when(2 * F.col("dup") >= F.col("spans"), 1).otherwise(0))
            .cast("long")
            .alias("mostly_dup_docs"),
        )
    )


def hot_shingles(posting: DataFrame, max_df: int) -> DataFrame:
    """(s) — shingles with document frequency > ``max_df``.  Tiny by
    construction: at most total_postings / max_df shingles can exceed the
    cap.  Callers materialize it ONCE (eager localCheckpoint) — as a lazy
    subtree it would re-derive the full posting list inside EVERY consumer
    of the capped postings (measured: 16 parquet scans instead of 4 in the
    jaccard plan, 2× total bench wall)."""
    return (
        posting.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("s")
    )


def cap_postings(posting: DataFrame, max_df: int) -> DataFrame:
    """Drop postings of shingles with document frequency > ``max_df``.

    One extra map-side-combinable aggregate over the postings (run eagerly,
    see ``hot_shingles``), then a broadcast anti-join — no new corpus-sized
    shuffle, and downstream consumers see only the tiny materialized hot
    set, not a second posting derivation."""
    hot = hot_shingles(posting, max_df).localCheckpoint(eager=True)
    return posting.join(F.broadcast(hot), ["s"], "left_anti")


def jaccard_pairs(
    docs: DataFrame | None,
    threshold: float,
    n: int = SHINGLE_N,
    posting: DataFrame | None = None,
    max_df: int | None = JACCARD_MAX_DF,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact shingle Jaccard ≥ threshold, computed
    over the shingle universe with document frequency ≤ ``max_df``.

    Inverted-index join: shuffle on shingle, aggregate intersection counts
    per pair, then derive the union from per-doc sizes.  The self-join is
    hinted to a shuffled-hash join so BOTH sides are the identical
    hashpartitioning(s) exchange — computed once and reused — rather than a
    one-sided broadcast that forces a second evaluation of the postings (and
    whose driver-side build would not survive a corpus-scale posting list).
    Per-doc sizes (one row per doc) join back onto the surviving pairs; AQE
    picks broadcast when that side measures small, shuffle join otherwise —
    the right call at both bench scale and corpus scale.

    ``max_df`` (JACCARD_MAX_DF above) bounds the quadratic hot-shingle
    fan-out; sizes derive from the CAPPED postings, so the result is the
    exact Jaccard over the reduced shingle universe — a well-defined metric
    both engines compute identically.  ``None`` disables the cap (used
    internally when the caller already capped the postings).

    ``posting`` lets a multi-consumer pipeline substitute a materialized
    (doc_id, s) posting list (operators/cache.py); sizes always derive from
    the postings, so the substitution is exact.
    """
    posting = posting if posting is not None else shingle_postings(docs, n)
    if max_df is not None:
        if hot is None:
            posting = cap_postings(posting, max_df)
        else:
            # caller supplies an already-materialized hot set (e.g. the
            # session-shared one) — skip the per-query derivation job
            posting = posting.join(F.broadcast(hot), ["s"], "left_anti")
    sizes = posting.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = posting.alias("a")
    b = posting.alias("b")
    inter = (
        a.hint("shuffle_hash")
        .join(
            b.hint("shuffle_hash"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame | None, n: int = SHINGLE_N, posting: DataFrame | None = None
) -> DataFrame:
    """(doc_id, m0..m{k-1}) MinHash signature from shingle hashes.

    The char-fold hash runs once per DISTINCT shingle (the vocabulary),
    then joins back to the postings — at any scale the vocabulary is orders
    of magnitude smaller than the posting list, and the join broadcasts."""
    posting = posting if posting is not None else shingle_postings(docs, n)
    shingle_hashes = (
        posting.select("s").distinct().withColumn("h", F.expr(H.word_hash("s", "spark")))
    )
    hashed = posting.join(shingle_hashes, ["s"])
    aggs = [
        F.min(F.expr(H.minhash_perm(i, "h"))).alias(f"m{i}") for i in range(H.N_MINHASH)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def lsh_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) — 2 signature rows combined per band."""
    rows_per_band = H.N_MINHASH // H.N_BANDS
    band_structs = []
    for b in range(H.N_BANDS):
        lo = b * rows_per_band
        combined = " + ".join(
            f"m{lo + r} * {31 ** (rows_per_band - 1 - r)}" for r in range(rows_per_band)
        )
        band_structs.append(f"struct({b}L AS band, CAST({combined} AS LONG) AS sig)")
    return sigs.select(
        "doc_id", F.explode(F.expr("array(" + ", ".join(band_structs) + ")")).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame | None,
    threshold: float,
    n: int = SHINGLE_N,
    posting: DataFrame | None = None,
    max_df: int | None = JACCARD_MAX_DF,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Full dedup pipeline: minhash → banded LSH buckets → candidate pairs →
    exact-Jaccard verification ≥ threshold.

    The frequent-shingle cap applies ONCE at pipeline entry (full-corpus
    document frequencies, materialized eagerly), so signatures, candidates
    and verification all see the same reduced shingle universe — the oracle
    replicates exactly that.  The nested ``jaccard_pairs`` runs uncapped
    because re-deriving df on the candidate subset would under-count and
    diverge from the oracle."""
    raw = posting if posting is not None else shingle_postings(docs, n)
    if max_df is not None:
        if hot is None:
            hot = hot_shingles(raw, max_df).localCheckpoint(eager=True)
        posting = raw.join(F.broadcast(hot), ["s"], "left_anti")
    else:
        hot = None
        posting = raw
    bands = lsh_bands(minhash_signatures(None, n, posting=posting))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        # the pair set is referenced twice below (verify join + candidate-doc
        # semi-join); materialize it ONCE so the whole minhash/banding pipeline
        # isn't replayed per reference.  Candidates are pairs of ids — tiny
        # relative to the corpus at any scale (that's the point of LSH)
        .localCheckpoint(eager=True)
    )
    # exact-verify ONLY docs that appear in some candidate pair: the inverted-
    # index join runs over the (usually tiny) candidate subset, not the corpus
    cand_docs = (
        cand.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id")).distinct()
    )
    if docs is not None:
        # re-tokenize ONLY the candidate docs (tiny — that's the point of
        # LSH) instead of dragging the corpus-wide posting subtree into the
        # 4 consumers of the verify join; the capped universe is restored by
        # anti-joining the SAME materialized hot set, so results are
        # identical to filtering the full capped postings
        sub = shingle_postings(docs.join(cand_docs, ["doc_id"], "left_semi"), n)
        if hot is not None:
            sub = sub.join(F.broadcast(hot), ["s"], "left_anti")
    else:
        sub = posting.join(cand_docs, ["doc_id"], "left_semi")
    verified = jaccard_pairs(None, threshold, n, posting=sub, max_df=None)
    return cand.join(verified, ["doc_a", "doc_b"]).select("doc_a", "doc_b", "jaccard")


def simhash_near_pairs(
    docs: DataFrame | None,
    max_hamming: int = 3,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ ``max_hamming``.

    Banded LSH over the 16-bit simhash: 4 bands × 4 bits, candidates are
    pairs colliding on any band, verified with ``bit_count(a ^ b)``.  With
    ``max_hamming ≤ 3`` and 4 bands this is EXACT by pigeonhole (3 differing
    bits can dirty at most 3 of the 4 bands), so the plain O(n²) hamming join
    is a valid oracle while the engine only ever joins bucket collisions —
    the property that makes simhash dedup linear-ish at 100 TB.
    """
    assert max_hamming < 4, "4-band exactness requires max_hamming <= 3"
    fps = fingerprints if fingerprints is not None else doc_simhashes(docs)
    sims = fps.select("doc_id", "simhash")
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({b}L AS band, CAST((simhash div {16 ** b}) % 16 AS LONG) AS val)"
                    for b in range(4)
                )
                + ")"
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(sim_a ^ sim_b) AS LONG)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_hamming_histogram(
    docs: DataFrame | None,
    max_hamming: int = 3,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """(hamming, pairs): histogram of near-pair counts by hamming distance,
    equal to ``simhash_near_pairs(docs).groupBy(hamming).count()`` but
    computed over DISTINCT simhash values.

    Docs sharing a fingerprint are interchangeable for this aggregate, so
    collapse to (simhash, cnt) first — with a 16-bit fingerprint there are at
    most 65 536 distinct values no matter the corpus size — then run the
    banded candidate join on the value histogram and weight each surviving
    value pair by cnt_u·cnt_v (C(cnt,2) on the diagonal).  Work scales with
    distinct fingerprints², not with the quadratic-ish doc-pair set: the
    aggregate-before-expand shape that keeps this O(1)-ish at 100 TB.
    """
    assert max_hamming < 4, "4-band exactness requires max_hamming <= 3"
    fps = fingerprints if fingerprints is not None else doc_simhashes(docs)
    vals = fps.groupBy("simhash").agg(F.count(F.lit(1)).alias("cnt"))
    bands = vals.select(
        "simhash",
        "cnt",
        F.explode(
            F.expr(
                "array("
                + ", ".join(
                    f"struct({b}L AS band, CAST((simhash div {16 ** b}) % 16 AS LONG) AS val)"
                    for b in range(4)
                )
                + ")"
            )
        ).alias("bv"),
    ).select("simhash", "cnt", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    u, v = bands.alias("u"), bands.alias("v")
    cand = (
        u.join(
            v,
            (F.col("u.band") == F.col("v.band"))
            & (F.col("u.val") == F.col("v.val"))
            & (F.col("u.simhash") <= F.col("v.simhash")),
        )
        .select(
            F.col("u.simhash").alias("sim_u"),
            F.col("v.simhash").alias("sim_v"),
            F.col("u.cnt").alias("cnt_u"),
            F.col("v.cnt").alias("cnt_v"),
        )
        .distinct()
    )
    weighted = (
        cand.withColumn("hamming", F.expr("CAST(bit_count(sim_u ^ sim_v) AS LONG)"))
        .filter(F.col("hamming") <= max_hamming)
        .withColumn(
            "pairs",
            F.when(
                F.col("sim_u") == F.col("sim_v"),
                (F.col("cnt_u") * (F.col("cnt_u") - F.lit(1)) / 2).cast("long"),
            ).otherwise(F.col("cnt_u") * F.col("cnt_v")),
        )
    )
    return (
        weighted.groupBy("hamming")
        .agg(F.sum("pairs").alias("pairs"))
        # the diagonal contributes 0 pairs for singleton fingerprints; drop
        # empty buckets so the histogram matches the pair-join formulation
        .filter(F.col("pairs") > 0)
    )


def doc_simhashes(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 16-bit frequency-weighted SimHash over word hashes.

    One row per doc_id by construction (the vote aggregation groups on it) —
    the simhash-only consumers (near-pair LSH, hamming histogram) use this
    directly and skip the full-text fingerprint hash + join that
    ``doc_fingerprints`` adds for its richer output."""
    words = tokenized(docs).select("doc_id", F.explode("w").alias("t"))
    # fold-hash each distinct token once; instances join the (tiny) map
    token_hashes = (
        words.select("t").distinct().withColumn("h", F.expr(H.word_hash("t", "spark")))
    )
    wh = words.join(token_hashes, ["t"])
    vote_aggs = [
        F.sum(
            F.expr(f"CASE WHEN {H.simhash_bit(j, 'h', 'spark')} = 1 THEN 1 ELSE -1 END")
        ).alias(f"s{j}")
        for j in range(H.SIMHASH_BITS)
    ]
    votes = wh.groupBy("doc_id").agg(*vote_aggs)
    simhash_expr = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(H.SIMHASH_BITS)
    )
    return votes.select(
        "doc_id", F.expr(f"CAST({simhash_expr} AS LONG)").alias("simhash")
    )


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash, fingerprint): 16-bit frequency-weighted SimHash over
    word hashes + full-text polynomial rolling-hash fingerprint.

    Exactly ONE row per doc_id, even when the corpus carries several physical
    rows for the same id (a certainty when 100 TB of shards merge): the token
    votes already merge across duplicates (groupBy doc_id), and the full-text
    fingerprint aggregates as MIN over the id's rows — both join inputs are
    per-doc_id aggregates, so the join can never fan out.  MIN is the
    documented tie-break for a lying identity column: deterministic, engine-
    portable (NULL-ignoring in both Spark and DuckDB), and the identity map
    on the well-formed corpora where doc_id is unique."""
    sim = doc_simhashes(docs)
    fp = (
        docs.select("doc_id", F.expr(H.word_hash("text", "spark")).alias("fingerprint"))
        .groupBy("doc_id")
        .agg(F.min("fingerprint").alias("fingerprint"))
    )
    return sim.join(fp, "doc_id").select("doc_id", "simhash", "fingerprint")


def jaccard_prefix_pairs(
    docs: DataFrame,
    threshold_numer: int,
    threshold_denom: int,
    n: int = SHINGLE_N,
) -> DataFrame:
    """Exact-threshold Jaccard pairs by PREFIX FILTERING (the PPJoin family
    — Chaudhuri et al. ICDE 2006, Xiao et al. WWW 2008): the standard exact
    alternative to this module's df-capped inverted index and MinHash-LSH.

    Order every doc's shingles by global rarity (df asc, shingle) and keep
    only the first ``sz - ceil(t*sz) + 1`` as its PREFIX; the prefix-filter
    theorem guarantees two docs with Jaccard >= t share at least one prefix
    shingle, so the candidate join runs on prefixes only.  Hot shingles
    sort LAST and almost never enter a prefix — the quadratic hot-shingle
    blowup the df cap exists to contain never happens here, and the result
    is the exact Jaccard over the FULL shingle universe (no cap, unlike
    ``jaccard_pairs``).  Verification joins each candidate pair back to the
    full postings, so verify cost is sum over candidates of |doc_a| — it
    tracks the candidate count, not the corpus square.

    Threshold is a rational (numer/denom) so the prefix length is exact
    int64 arithmetic: ``ceil(t*sz) = (tn*sz + td - 1) DIV td`` — identical
    in both engines.  Shuffles: postings by shingle (df), by doc_id (the
    per-doc rank window), prefixes by shingle (candidates), candidates by
    pair (verify).  Reference analog: none (pulsar-pekko-streams-example
    has no relational surface); extension operator per SURVEY §2.7."""
    tn, td = threshold_numer, threshold_denom
    posting = shingle_postings(docs, n)
    dfreq = posting.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window

    w_doc = Window.partitionBy("doc_id").orderBy("df", "s")
    w_sz = Window.partitionBy("doc_id")
    op = (
        posting.join(dfreq, ["s"])
        .select(
            "doc_id",
            "s",
            F.row_number().over(w_doc).alias("r"),
            F.count(F.lit(1)).over(w_sz).alias("sz"),
        )
    )
    # carry each doc's size ON the prefix rows (sz is functionally dependent
    # on doc_id — the same per-doc window count the removed standalone
    # ``sizes`` aggregate recomputed): the candidate pairs then arrive with
    # (sz_a, sz_b) attached and the verify stage needs no size re-join —
    # round-16 optimization, one fewer corpus-wide posting pass and two
    # fewer joins, identical jaccard values from identical sz inputs
    pre = op.filter(
        F.expr(f"r <= sz - (({tn}L * sz + {td - 1}L) DIV {td}L) + 1L")
    ).select("doc_id", "s", "sz")
    a = pre.alias("a")
    b = pre.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    pa = posting.select(F.col("doc_id").alias("doc_a"), "s")
    pb = posting.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    inter = (
        cand.join(pa, ["doc_a"])
        .join(pb, (F.col("doc_b") == F.col("b_id")) & (F.col("s") == F.col("sb")))
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= F.lit(tn) / F.lit(td))
        .select("doc_a", "doc_b", "jaccard")
    )
