"""Engine-vs-oracle parity on DEGENERATE corpora.

tests/test_empty_inputs.py proves queries don't *crash* on empty / 1-row
inputs; this file proves the four divergence risks the round-3 review named
stay CLOSED by checking full DuckDB parity on corpora crafted to fire each
one.  The standard corpora cannot reach these states (all-ASCII text, no
zero-norm embeddings, tf « 3000), so without these rows a regression would
stay parity-green until a corpus change detonated it in the driver.

1. zero-norm embedding  → cosine 0/0 NaN, NaN ORDER differs across engines
   (guarded: cosine := -1 when either norm is 0, operators/clustering.py).
2. non-ASCII text       → byte-vs-codepoint dims in image_resize_stats
   (guarded: oracle uses hex(encode(text)) byte semantics).
3. tf ≳ 3000 rare term  → Σw² int64 overflow in sparse TF-IDF
   (guarded: DECIMAL(38,0) / HUGEINT exact accumulation).
4. single-row input     → percent_rank 0/0
   (guarded: GREATEST(n-1, 1) in both engines).
"""

from __future__ import annotations

import shutil

import pytest

from pulsar_pekko_streams_example_spark.plans.registry import REGISTRY, all_queries

from tests.conftest import SF_SMOKE
from pulsar_pekko_streams_example_spark.verify import compare

all_queries()  # force registration

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def degenerate_sf(spark, tmp_path_factory):
    """sf0.001 with documents / embeddings / orders replaced by rows that
    fire every degenerate condition at once."""
    base = tmp_path_factory.mktemp("degenerate_sf")
    for t in TABLES:
        if t not in ("documents", "embeddings", "orders"):
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", str(base / f"{t}.parquet"))

    docs = [
        # non-ASCII: first code points are multi-byte in UTF-8, so byte- and
        # codepoint-indexed dim derivations disagree unless both sides use bytes
        (1, "héllo wörld éü text corpus", "de", "web", 26),
        (2, "日本語のテキスト sample", "ja", "web", 15),
        (3, "\U0001f600 emoji leads the doc", "en", "web", 21),
        # tf-overflow probe: one rare term repeated 3500x in a single doc;
        # w = tf * idf_milli can reach ~3.5e9 and w*w ~1.2e19 > int64 max
        (4, " ".join(["rareterm"] * 3500), "en", "synthetic", 8 * 3500 + 3499),
        (5, "rareterm appears here too so df is 2 and the idf stays finite", "en", "synthetic", 60),
        (6, "plain ascii control document", "en", "web", 28),
    ]
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(str(base / "documents.parquet"))

    dim = 16
    embs = [
        (1, [0.0] * dim, 0),                                  # zero-norm vector
        (2, [1.0] + [0.0] * (dim - 1), 0),
        (3, [0.0, 1.0] + [0.0] * (dim - 2), 1),
        (4, [float(i % 3 - 1) for i in range(dim)], 1),
        (5, [0.5] * dim, 2),
        (6, [-1.0] * dim, 2),
    ]
    spark.createDataFrame(
        embs, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(base / "embeddings.parquet"))

    # single-row orders: the percent_rank divisor-degeneracy corner
    spark.createDataFrame(
        [(1, 1, "O", 100.0, "1995-01-01 00:00:00", "1-URGENT")],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "CAST(o_orderdate AS TIMESTAMP) AS o_orderdate", "o_orderpriority",
    ).write.mode("overwrite").parquet(str(base / "orders.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def degenerate_duck(degenerate_sf):
    import duckdb

    import os

    con = duckdb.connect()
    for t in TABLES:
        path = f"{degenerate_sf}/{t}.parquet"
        # Spark writes a DIRECTORY of part files; the copied tables are files
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    yield con
    con.close()


# query → the degenerate condition it pins
PINNED = [
    ("kmeans_cluster_profile", "zero-norm embedding (NaN-cosine guard)"),
    ("semantic_dedup_probe", "zero-norm embedding in the probe path"),
    ("image_resize_stats", "non-ASCII byte-vs-codepoint dims"),
    ("tfidf_cosine_pairs", "tf~3500 rare term (int64 Σw² overflow)"),
    ("priority_price_rank_approx", "single-row percent_rank divisor"),
    # skewed sources (web=4, synthetic=2 docs): floor quotas sum to 999, so
    # the largest-remainder leftover-slot path actually allocates — the
    # uniform test corpus (20 sources x 25 docs) never exercises it
    ("quota_apportionment", "skewed sources: remainder slot allocated"),
    # round-16: dHash reads UTF-8 BYTES — multi-byte code points must
    # sample identically through hex(encode(text)) in the oracle
    ("image_neardup_pairs", "non-ASCII byte-sampled dHash grids"),
]


@pytest.mark.parametrize("name,why", PINNED, ids=[n for n, _ in PINNED])
def test_degenerate_parity(name, why, spark, degenerate_sf, degenerate_duck):
    spec = REGISTRY[name]
    assert spec.oracle is not None, f"{name} lost its oracle; this pin needs one"
    df = spec.build(spark, degenerate_sf)
    problems = compare(df, degenerate_duck.sql(spec.oracle))
    assert not problems, f"{name} [{why}]: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# Adversarial TEXT shapes (round-5 sweep findings)
#
# A full-registry probe over a documents table of pathological texts found
# two real defects the standard corpora cannot reach:
#   * token_count = 0 (empty / whitespace-only / punctuation-only docs):
#     the integer quality formula divided by zero — Spark ANSI and DuckDB
#     both ERROR the whole scan (guard: nullif/greatest, textstats.py).
#   * one multi-hundred-KB document: chunk_shared_pairs' fold-with-append
#     chunker re-copied O(doc) state per token — 187 s for ONE 200k-char doc
#     (fix: position-based chunk starts, linear in the doc).
# At 100 TB both shapes are certainties, so they stay pinned here.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def adversarial_text_sf(spark, tmp_path_factory):
    """sf0.001 with documents replaced by pathological text shapes."""
    base = tmp_path_factory.mktemp("adversarial_text_sf")
    for t in TABLES:
        if t != "documents":
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", str(base / f"{t}.parquet"))

    big = " ".join(f"w{i}" for i in range(4000))  # ~1/16 tokens are chunk boundaries
    docs = [
        (1, "", "en", "web", 0),                      # empty: token_count = 0
        (2, "   \t\n  ", "en", "web", 7),             # whitespace-only: token_count = 0
        (3, ".,;:!?", "en", "web", 6),                # punctuation-only
        (4, "x", "en", "synthetic", 1),               # single 1-char token
        (5, big, "en", "synthetic", len(big)),        # one huge many-chunk doc
        (6, "a normal control document with stop words the and of", "en", "web", 53),
    ]
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(str(base / "documents.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def adversarial_text_duck(adversarial_text_sf):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{adversarial_text_sf}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    yield con
    con.close()


PINNED_TEXT = [
    ("quality_histogram", "empty-doc quality: div-by-zero guard"),
    ("lang_quality_stats", "empty-doc ratios go NULL, not ERROR"),
    ("corpus_curation_funnel", "empty-doc quality in the funnel"),
    ("quality_weighted_sample_counts", "empty-doc quality as a weight"),
    ("pipeline_funnel_counts", "empty-doc quality, inline formula twin"),
    ("chunk_shared_pairs", "huge doc: linear position-based chunker"),
    ("context_chunking_stats", "huge doc: chunk-count window twin"),
    # round-12: empty/whitespace/punct docs all fall below the span length
    # (0 positions -> counted in docs, excluded from mostly_dup identically
    # in both engines); the huge unique doc pins the O(positions) path
    ("dup_span_coverage", "sub-span-length and huge docs: guarded coverage"),
    # round-16: empty/whitespace/huge byte streams through the dHash
    # sampler (n=0 -> all-zero grid; the huge doc strides its bytes)
    ("image_neardup_pairs", "empty and huge blobs: total dHash sampling"),
]


@pytest.mark.parametrize("name,why", PINNED_TEXT, ids=[n for n, _ in PINNED_TEXT])
def test_adversarial_text_parity(
    name, why, spark, adversarial_text_sf, adversarial_text_duck
):
    spec = REGISTRY[name]
    assert spec.oracle is not None, f"{name} lost its oracle; this pin needs one"
    df = spec.build(spark, adversarial_text_sf)
    problems = compare(df, adversarial_text_duck.sql(spec.oracle))
    assert not problems, f"{name} [{why}]: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# Adversarial EMBEDDING shapes (round-5 sweep findings)
#
# A full-registry probe over an embeddings table of pathological vectors
# found two real defect classes the standard corpora cannot reach:
#   * float32-near-max components: the exact DECIMAL(38,6) accumulation
#     (dsum / k-means update sums) ANSI-errored the whole job on a summand
#     >= 1e32 (a 3e38 component squares to ~1e77 in PQ distortion).  Fix:
#     TRY_CAST-total accumulation, identical in both engines.
#   * NaN cosines rank FIRST in a DESC window but LAST in the negated
#     array_sort argmax, so k-means assignments silently diverged; a zero
#     norm product is an ANSI DIVIDE_BY_ZERO.  Fix: similarity.safe_cos
#     (zero-norm / NaN cosine := -1) at every cosine site in BOTH engines,
#     plus the NULL-embedding exclusion contract in the ANN operators.
# At 100 TB truncated uploads and failed encoders make every one of these
# shapes a certainty, so they stay pinned here.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def adversarial_emb_sf(spark, tmp_path_factory):
    """sf0.001 with embeddings replaced by pathological vectors (dim = 64,
    the corpus contract): NaN / ±Inf / float32-max / zero-norm / NULL rows
    in centroid (vec_id < 8), probe (% 20 == 0), and ANN-query (% 100 == 0)
    positions."""
    base = tmp_path_factory.mktemp("adversarial_emb_sf")
    for t in TABLES:
        if t != "embeddings":
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", str(base / f"{t}.parquet"))

    dim = 64
    nan, inf = float("nan"), float("inf")
    def sane(seed):
        return [float((seed * (i + 3)) % 7 - 3) for i in range(dim)]
    rows = [
        (0, [0.0] * dim, 0),                        # zero-norm; centroid + probe + query
        (1, [nan] * dim, 0),                        # all-NaN centroid
        (2, [1.0] * 32 + [nan] * 32, 1),            # partial-NaN centroid
        (3, [1.0, None] + [0.5] * (dim - 2), 1),    # NULL-element centroid/codebook:
                                                    #   NULL cosine/L2 must rank WORST
                                                    #   in both engines, not capture
                                                    #   the corpus via array_sort's
                                                    #   NULL-field-first ordering
        (4, [-inf] + [1.0] * (dim - 1), 2),         # -Inf-spike centroid
        (5, [3.0e38] * dim, 2),                     # float32-near-max centroid
        (6, None, 3),                               # NULL-embedding centroid/codebook
        (7, sane(11), 3),                           # sane centroid; IVF centroid (%64==7)
        (8, [1.0e-30] * dim, 3),                    # tiny-norm vector
        (9, None, 4),                               # NULL embedding
        (10, [1.0, None] + [0.0] * (dim - 2), 4),   # NULL element
        (20, [0.0] * dim, 5),                       # zero-norm probe (%20==0)
        (40, sane(17), 5),                          # sane probe
        (41, [inf] + [0.0] * (dim - 1), 2),         # +Inf-spike vector
        (100, [nan] * dim, 6),                      # NaN ANN query (%100==0)
        (200, sane(23), 6),                         # sane ANN query (%100==0)
        # round-16 (ADVICE r15): EMPTY (non-NULL) embeddings — Spark's
        # sequence(1, size)=sequence(1,0) descends to [1,0] and element_at
        # throws where DuckDB's range(1,1) folds to 0.0.  vec_ids 49/88 are
        # BM25 top-20 candidates at sf0.001, so search_rerank_stage's
        # query-vector tie-break folds actually evaluate on the empty row.
        (49, [], 7),                                # EMPTY embedding, rerank candidate
        (88, sane(31), 7),                          # sane rerank candidate
        # round-16: RAGGED length (32 of 64 dims — a truncated upload).
        # Spark's zip_with NULL-pads the shorter side (NULL dot/L2 folds ->
        # -1 cosine / sentinel subdistance); the DuckDB twins now iterate
        # greatest(len, len) to reproduce exactly that, instead of folding
        # a real partial value over the shorter array.
        (43, [1.0] * 32, 2),                        # ragged 32-dim vector
    ] + [(i, sane(i), i % 8) for i in range(11, 20)] + [
        (i, sane(i * 7 + 1), i % 8) for i in range(21, 40)
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(base / "embeddings.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def adversarial_emb_duck(adversarial_emb_sf):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{adversarial_emb_sf}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    yield con
    con.close()


PINNED_EMB = [
    ("kmeans_cluster_profile", "NaN/zero-norm centroids: guarded argmax"),
    ("kmeans_update_components", "float32-max components: total dsum"),
    ("kmeans_round2_movement", "degenerate round-2 centroids: safe_cos"),
    ("pq_code_histogram", "1e77 squared distortion: total dsum"),
    ("semantic_dedup_probe", "zero-norm probe: safe_cos, no div-by-zero"),
    ("semdedup_threshold_curve", "NaN pair cosine banding: safe_cos"),
    ("ann_cosine_topk", "NaN query + NULL-embedding exclusion"),
    ("ann_cosine_topk_vectorized", "numpy twin of the safe_cos guards"),
    ("ann_lsh_topk", "NaN signatures bucket consistently"),
    ("ann_ivf_topk", "degenerate centroid/query in IVF probing"),
    # round-16: the trained quantizer must stay total when Lloyd's rounds
    # run over NaN/Inf/NULL-element/empty vectors (dsum excludes non-finite
    # components; safe_cos assigns degenerates at -1 in both engines)
    ("ann_ivf_trained_topk", "Lloyd's training over degenerate vectors"),
    # round-12: PQ codebook seeds land on the all-NaN (1), NULL-embedding
    # (9) and +Inf-spike (41) rows; the NaN query (100) exercises the
    # sentinel guard and the decimal ADC sum's identical Inf exclusion
    ("ann_pq_adc_topk", "NaN/Inf codebook + NaN query: guarded argmin/ADC"),
    # round-16: residual encoding composes every degenerate shape — the
    # residual of a NaN/Inf/NULL-element/ragged vector inherits its poison
    # and must still sentinel-guard into deterministic codes in both engines
    ("ann_ivfadc_residual_topk", "degenerate residuals: guarded codes/ADC"),
    ("ann_ivfadc_trained_topk", "trained lists x degenerate PQ codes"),
    ("ann_pq_trained_topk", "codebook training over degenerate subvectors"),
    ("ann_ivfadc_residual_refine_topk", "degenerate shortlist re-rank"),
    ("ann_ivf_trained_recall_report", "trained-curve ledger on degenerates"),
    ("embedding_near_dup", "NaN/Inf candidate pairs: safe_cos verify"),
    # round-14 hostile-sweep finding: Inf/Inf projection ratio = NaN, and an
    # Inf ratio, both erred the int64 floor cast -> NULL band now
    ("rp_projection_distortion", "Inf/NaN distance ratios: guarded band"),
    # round-7 sweep finding
    ("embedding_quantization_error", "float32-max err: saturated micro sum"),
    # round-16 (ADVICE r15): an EMPTY (non-NULL) embedding at a BM25
    # candidate id crashes an unguarded sequence(1, size) position fold on
    # Spark while DuckDB's range(1, len+1) folds to 0.0 — the query-vector
    # tie-break must be total on the empty shape in both engines
    ("search_rerank_stage", "empty embedding candidate: guarded position fold"),
]


@pytest.mark.parametrize("name,why", PINNED_EMB, ids=[n for n, _ in PINNED_EMB])
def test_adversarial_embedding_parity(
    name, why, spark, adversarial_emb_sf, adversarial_emb_duck
):
    spec = REGISTRY[name]
    assert spec.oracle is not None, f"{name} lost its oracle; this pin needs one"
    df = spec.build(spark, adversarial_emb_sf)
    problems = compare(df, adversarial_emb_duck.sql(spec.oracle))
    assert not problems, f"{name} [{why}]: " + "; ".join(problems)


def test_pair_cosines_match_safe_cos_on_degenerate_pairs(spark, tmp_path):
    """The Arrow pair-cosine fold behind scored_candidate_pairs must return
    what the declarative ``safe_cos(DOT(ea, eb), na * nb)`` returns in both
    engines, pair by pair — including the ragged zero-norm corner, where the
    prod = 0 branch wins over the NULL-padded dot (-1, not NULL)."""
    import duckdb
    from pyspark.sql import functions as F

    from pulsar_pekko_streams_example_spark.operators import similarity as S
    from pulsar_pekko_streams_example_spark.plans.data_queries import _duck_dot

    nan = float("nan")
    pairs = [
        (1, [0.0, 0.0], [0.0, 0.0, 0.0]),  # ragged, both zero-norm -> -1
        (2, [], [0.0]),  # ragged, empty vs zero-norm -> -1
        (3, [0.0, 0.0], [1.0, 2.0, 3.0]),  # ragged, one zero-norm -> -1
        (4, [1.0, 2.0], [1.0, 2.0, 3.0]),  # ragged, nonzero norms -> NULL
        (5, [1.0, None], [0.0, 0.0]),  # NULL element -> NULL
        (6, [0.0, 0.0], [0.0, 0.0]),  # zero-norm, same length -> -1
        (7, [1.0, 2.0], [2.0, 1.0]),  # sane
        (8, [nan, 1.0], [1.0, 1.0]),  # NaN -> -1
        (9, [1.0], [1.0, nan]),  # ragged, NaN norm -> NULL
    ]
    path = str(tmp_path / "pairs.parquet")
    spark.createDataFrame(
        pairs, "vec_a bigint, ea array<double>, eb array<double>"
    ).write.parquet(path)
    base = spark.read.parquet(path).select(
        "vec_a",
        F.lit(0).cast("bigint").alias("vec_b"),
        "ea",
        "eb",
        F.expr(S._norm("ea")).alias("na"),
        F.expr(S._norm("eb")).alias("nb"),
    )
    folded = base.select(
        "vec_a", "vec_b", "ea", "na", F.isnull("na").alias("hna"),
        "eb", "nb", F.isnull("nb").alias("hnb"),
    ).mapInPandas(S._pair_cosines, S._PAIR_COS_SCHEMA)
    declarative = base.select(
        "vec_a",
        F.expr(S.safe_cos(S.DOT.format(a="ea", b="eb"), "na * nb", "spark")).alias("cosine"),
    )
    duck_cos = S.safe_cos(
        _duck_dot("ea", "eb"),
        f"sqrt({_duck_dot('ea', 'ea')}) * sqrt({_duck_dot('eb', 'eb')})",
        "duckdb",
    )
    oracle = duckdb.sql(
        f"SELECT vec_a, {duck_cos} AS cosine FROM read_parquet('{path}/*.parquet')"
    ).fetchall()

    got = {r.vec_a: r.cosine for r in folded.collect()}
    want = {r.vec_a: r.cosine for r in declarative.collect()}
    assert got == want
    assert got == dict(oracle)
    assert [got[i] for i in (1, 2, 3, 4, 5, 6)] == [-1.0, -1.0, -1.0, None, None, -1.0]


# ---------------------------------------------------------------------------
# Adversarial EVENT shapes (round-5 sweep findings)
#
# The events table's `value` double and `props` JSON arrive from outside the
# engine; the probe found two crash classes the standard corpora cannot
# reach: a 1e35 value ANSI-aborted the exact DECIMAL revenue accumulation
# (ab_test_report) and overflowed int64 in the exact-integer MAD machinery
# (mad_robust_anomalies — fixed with the MAD_CLAMP envelope: outliers clamp
# and still count, NaN/NULL are excluded).  Timestamps at the epoch and far
# future, duplicate timestamps, NaN/±Inf values, and malformed JSON round
# out the class.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def adversarial_ev_sf(spark, tmp_path_factory):
    """sf0.001 with adversarial rows APPENDED to the real events table, so
    every query still sees a normal corpus plus the poison."""
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("adversarial_ev_sf")
    for t in TABLES:
        if t != "events":
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", str(base / f"{t}.parquet"))

    nan, inf = float("nan"), float("inf")
    extra = [
        (100001, "1970-01-01 00:00:00.000000", 9001, "purchase", 1.0e35, '{"k": 1}'),
        (100002, "2200-12-31 23:59:59.999999", 9001, "purchase", -1.0e35, '{"k": 2}'),
        (100003, "2024-06-01 12:00:00.000000", 9002, "error", nan, '{"k": 3}'),
        (100004, "2024-06-01 12:00:01.000000", 9002, "click", inf, '{"k": 4}'),
        (100005, "2024-06-01 12:00:02.000000", 9002, "click", -inf, '{"k": 5}'),
        (100006, "2024-06-01 12:00:03.000000", 9003, "purchase", 0.0, "not json"),
        (100007, "2024-06-01 12:00:03.000000", 9003, "purchase", -5.25, None),
        (100008, "2024-06-01 12:00:03.000000", 9003, "", 2.5, '{"k": 7}'),
        (100009, "2024-06-01 12:00:04.000000", 9003, "click", 1.0, '{"k": "NaN"}'),
        # sketch-family hostiles (round-6 sweep): negative and int64-boundary
        # user ids hit the CMS/bitmap/JCE hash-and-shift arithmetic (a raw
        # A*key overflows int64; % hands negatives negative buckets/shifts),
        # 1e300 hits the quantile-bin int64 cast, a single-value type and an
        # all-NaN type probe degenerate distributions/empty strata
        (100010, "2024-06-03 10:00:00.000000", -5, "click", -7.5, None),
        (100011, "2024-06-03 10:00:01.000000", -(2**63), "click", 100.0, None),
        (100012, "2024-06-03 10:00:02.000000", 2**63 - 1, "click", 1.0e300, None),
        (100013, "2024-06-03 10:00:03.000000", -5, "purchase", 1023.999, None),
        (100014, "2024-06-03 10:00:04.000000", -5, "purchase", 1024.0, None),
        (100015, "2024-06-04 10:00:00.000000", -68, "mono", 8.0, None),
        (100016, "2024-06-04 10:00:01.000000", -68, "mono", 8.0, None),
        (100017, "2024-06-04 10:00:02.000000", -68, "mono", 8.0, None),
        (100018, "2024-06-04 10:00:03.000000", 9004, "allnan", nan, None),
        (100019, "2024-06-04 10:00:04.000000", 9004, "allnan", nan, None),
        # -68 and -5: same pmod-63 bit as ids 58 / 121-off-by-word shapes —
        # the floor-div word keeps them bijective instead of colliding
        (100020, "2024-06-04 10:00:05.000000", 58, "click", 2.0, None),
    ]
    # Bot-storm slot: COOC_MAX_SLOT_USERS + 1 distinct users inside ONE
    # 5-minute window — the flash-event shape whose Σ users² wedge volume
    # the hot-slot cap exists to drop.  Bridge pair A (9100, 9101) shares
    # the storm slot plus TWO quiet slots: its edge exists ONLY if an
    # engine forgets the cap, so parity pins both engines applying it.
    # Bridge pair B (9102, 9103) shares THREE quiet slots plus the storm:
    # its edge must SURVIVE the cap in both engines.
    from pulsar_pekko_streams_example_spark.plans.data_queries import (
        COOC_MAX_SLOT_USERS,
    )

    storm_ts = "2024-07-01 00:01:00.000000"
    quiet = [
        "2024-07-02 10:00:00.000000",
        "2024-07-03 10:00:00.000000",
        "2024-07-04 10:00:00.000000",
    ]
    eid = 200000
    for i in range(COOC_MAX_SLOT_USERS + 1):
        extra.append((eid := eid + 1, storm_ts, 500000 + i, "click", 1.0, None))
    for u in (9100, 9101, 9102, 9103):
        extra.append((eid := eid + 1, storm_ts, u, "click", 1.0, None))
    for u in (9100, 9101):
        for ts in quiet[:2]:
            extra.append((eid := eid + 1, ts, u, "click", 1.0, None))
    for u in (9102, 9103):
        for ts in quiet:
            extra.append((eid := eid + 1, ts, u, "click", 1.0, None))
    ex = spark.createDataFrame(
        extra,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    ev.unionByName(ex).write.mode("overwrite").parquet(str(base / "events.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def adversarial_ev_duck(adversarial_ev_sf):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{adversarial_ev_sf}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    yield con
    con.close()


PINNED_EV = [
    ("ab_test_report", "1e35/NaN/Inf purchase values: total revenue dcast"),
    ("mad_robust_anomalies", "MAD_CLAMP envelope: clamp+count, NaN excluded"),
    ("zscore_anomalies", "NaN/Inf in mean/stddev accumulation"),
    ("value_percentiles", "NaN/Inf rank consistently in the exact sort"),
    ("latency_stats", "degenerate values in the latency aggregate"),
    ("daily_value_ohlc", "epoch/far-future days, NaN/Inf OHLC"),
    ("decayed_user_value", "extreme values under decay weights"),
    ("windowed_throughput", "epoch/far-future window buckets"),
    ("user_sessions", "duplicate timestamps + 230-year gap"),
    ("events_props_json_stats", "malformed + NULL props JSON"),
    ("payload_json_decode", "non-numeric k string: try_cast, no ANSI abort"),
    ("linear_attribution", "poisoned campaign payload attributes to NULL"),
    ("conversion_latency_histogram", "dup-ts conversion ordering"),
    # hot-slot cap family: the bot-storm slot must be dropped from the edge
    # universe IDENTICALLY in both engines (bridge pair A edge gone, bridge
    # pair B edge kept) — and the histogram must report the capped slot
    ("cooc_slot_df_histogram", "bot-storm slot lands in the top bucket, capped"),
    ("cooccurrence_degree_histogram", "storm slot dropped before the self-join"),
    ("cooccurrence_triangles", "triangle listing over the capped edge set"),
    ("cooccurrence_pagerank", "pagerank over the capped edge set"),
    ("kcore_peel_profile", "k-core peel over the capped edge set"),
    ("sql_recursive_reachability", "recursive BFS over the capped edge set"),
    # sketch family under boundary ids / degenerate distributions (round-6):
    ("cms_heavy_hitters", "±2^63 ids: canonical mod-P hash, no int64 overflow"),
    ("quantile_sketch_value", "1e300/Inf clamp, NaN excluded, mono/allnan strata"),
    ("bitmap_daily_retention", "negative ids: floor-div word + pmod bit bijection"),
    ("bitmap_weekly_rollup", "negative-id words OR-roll up identically"),
    ("join_cardinality_estimate", "negative ids bucket canonically on both sides"),
    ("hll_distinct_users", "boundary ids through the string-fold register hash"),
    ("hll_daily_rollup", "register-MAX rollup over hostile-id registers"),
    ("hll_cube_users", "lattice rollups + exact CUBE audit on hostile ids"),
]


@pytest.mark.parametrize("name,why", PINNED_EV, ids=[n for n, _ in PINNED_EV])
def test_adversarial_event_parity(
    name, why, spark, adversarial_ev_sf, adversarial_ev_duck
):
    spec = REGISTRY[name]
    assert spec.oracle is not None, f"{name} lost its oracle; this pin needs one"
    df = spec.build(spark, adversarial_ev_sf)
    problems = compare(df, adversarial_ev_duck.sql(spec.oracle))
    assert not problems, f"{name} [{why}]: " + "; ".join(problems)


def test_hot_slot_cap_actually_bites(spark, adversarial_ev_sf):
    """Anti-vacuity guard for the cap pins above: on this fixture the storm
    slot must actually EXCEED the cap, bridge pair A's edge must be GONE
    (its third shared slot was the storm slot), and bridge pair B's edge
    must SURVIVE (three quiet shared slots) — otherwise the graph-family
    parity pins would pass without exercising the cap at all."""
    from pulsar_pekko_streams_example_spark.plans.data_queries import (
        _shared_cooc_edges,
    )

    edges = {
        (r["ua"], r["ub"])
        for r in _shared_cooc_edges(spark, adversarial_ev_sf).collect()
    }
    assert (9100, 9101) not in edges, "cap did not drop the storm-slot edge"
    assert (9102, 9103) in edges, "cap dropped an edge it must keep"


# ---------------------------------------------------------------------------
# Adversarial ORDER/LINEITEM shapes (round-5 sweep findings)
#
# The probe with 1e35/NaN/Inf prices, negative quantities, discounts
# outside [0,1], NULL keys, and epoch/far-future dates found three crash
# sites: the YoY cents ledger and the reconciliation micro-quantizer let
# Spark's floor() saturate at int64 max and then ANSI-overflowed the
# downstream multiply/sum (fixed with explicit envelopes), and the rolling
# revenue window used a plain decimal cast (fixed with the total dcast).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def adversarial_ord_sf(spark, tmp_path_factory):
    """sf0.001 with adversarial rows APPENDED to orders and lineitem."""
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("adversarial_ord_sf")
    for t in TABLES:
        if t not in ("orders", "lineitem"):
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", str(base / f"{t}.parquet"))

    nan, inf = float("nan"), float("inf")
    o_extra = [
        (900001, 9001, "O", 1.0e35, "1970-01-01 00:00:00", "1-URGENT"),
        (900002, 9001, "F", -123.45, "2199-12-31 00:00:00", "5-LOW"),
        (900003, None, "O", nan, "2024-06-01 00:00:00", "3-MEDIUM"),
        (900004, 9002, None, inf, "2024-06-02 00:00:00", None),
        (900005, 9002, "O", 0.0, None, "2-HIGH"),
    ]
    l_extra = [
        (900001, 1, 1, 1, 1.0e20, 1.0e35, 0.5, 0.08, "N", "O", "1970-01-01 00:00:00"),
        (900001, 1, 1, 2, -5.0, -1.0, 1.5, -0.1, "R", "F", "2199-12-31 00:00:00"),
        (900003, None, None, 1, nan, nan, nan, nan, None, None, None),
        (900004, 2, 2, 1, 1.0, 1.0, inf, 0.0, "N", "O", "2024-06-02 00:00:00"),
    ]
    oo = spark.createDataFrame(
        o_extra,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    ll = spark.createDataFrame(
        l_extra,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    spark.read.parquet(f"{SF_SMOKE}/orders.parquet").unionByName(oo).write.mode(
        "overwrite"
    ).parquet(str(base / "orders.parquet"))
    spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").unionByName(ll).write.mode(
        "overwrite"
    ).parquet(str(base / "lineitem.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def adversarial_ord_duck(adversarial_ord_sf):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{adversarial_ord_sf}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    yield con
    con.close()


PINNED_ORD = [
    ("orders_yoy_growth", "1e35/NaN/negative prices: cents envelope"),
    ("order_reconciliation_report", "both feeds poisoned: micro envelope"),
    ("rolling_revenue_7d", "1e35 price in the range-frame window: dcast"),
    ("q1_pricing_summary", "NaN/Inf lineitem measures in the exact sums"),
    ("winsorized_price_stats", "garbage prices in exact order statistics"),
    ("rfm_customer_segments", "NULL custkey + extreme monetary values"),
    ("customer_spend_deciles_approx", "1e35 spend in the histogram bins"),
    ("incremental_daily_revenue", "epoch/far-future dates vs pushed cutoffs"),
    # round-7 sweep findings
    ("cohort_ltv_curve", "Inf/1e35 prices: cents envelope; NULL-date offset"),
    ("order_interarrival_histogram", "NULL dates: NULLS FIRST/LAST lag order"),
    ("orders_column_profile", "1e35*100 cents cast: profile envelope"),
    ("price_frontier_by_priority", "NULL-date day in the running-min window"),
    ("priority_price_rank_approx", "NaN/Inf prices in bin calibration"),
    ("q12_ship_latency_priority", "NULL priority: NOT IN counts 0 vs ELSE 1"),
    ("sql_api_monthly_returns", "-Inf revenue line: guarded portable text"),
    ("unpivot_lineitem_measures", "1e20 summand: 1-ULP decimal->double"),
    # round-14 hostile-sweep finding: 1e35 price overflowed the digit
    # extraction's int64 floor -> [1, 1e15) measure envelope now
    ("benford_price_audit", "1e35/NaN/Inf prices: digit envelope"),
]


@pytest.mark.parametrize("name,why", PINNED_ORD, ids=[n for n, _ in PINNED_ORD])
def test_adversarial_order_parity(
    name, why, spark, adversarial_ord_sf, adversarial_ord_duck
):
    spec = REGISTRY[name]
    assert spec.oracle is not None, f"{name} lost its oracle; this pin needs one"
    df = spec.build(spark, adversarial_ord_sf)
    problems = compare(df, adversarial_ord_duck.sql(spec.oracle))
    assert not problems, f"{name} [{why}]: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# Adversarial DIMENSION shapes (round-5 sweep): NULL keys/names/segments,
# dangling foreign keys, NaN/±Inf/1e35 balances and prices, hostile and
# non-ASCII strings in customer / supplier / part.  One crash found (the
# per-brand average's plain decimal window cast -> dcast); the rest pins
# that NULL dimension keys and garbage measures flow consistently through
# joins, windows, and the salted aggregate in both engines.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def adversarial_dim_sf(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("adversarial_dim_sf")
    for t in TABLES:
        if t not in ("customer", "supplier", "part"):
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", str(base / f"{t}.parquet"))

    nan, inf = float("nan"), float("inf")
    c_extra = [
        (980001, None, None, nan, None),
        (980002, "Ünïcodé name 日本", 999, -1.0e35, ""),
        (980003, "x' OR 1=1 --", 0, inf, "BUILDING"),
        # boundary/negative custkeys in the Bloom-filter BUILD segment: a
        # raw A*key bloom hash would int64-overflow (ANSI abort) on these
        # before the canonical mod-P reduction (functions/sketches.py)
        (2**63 - 1, "boundary key", 0, 1.0, "BUILDING"),
        (-(2**63), "int64-min key", 0, 1.0, "BUILDING"),
        (-42, "negative key", 0, 1.0, "BUILDING"),
        (None, "NULL custkey member", 0, 1.0, "BUILDING"),
    ]
    s_extra = [
        (970001, None, None, nan),
        (970002, "süpplier esc\\tname", 999, 1.0e35),
    ]
    p_extra = [
        (960001, None, None, None, None, nan),
        (960002, "pärt ünicode", "Brand#99", "", -5, -1.0e35),
    ]
    cc = spark.createDataFrame(
        c_extra,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    ss = spark.createDataFrame(
        s_extra, "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    )
    pp = spark.createDataFrame(
        p_extra,
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    for t, extra in (("customer", cc), ("supplier", ss), ("part", pp)):
        spark.read.parquet(f"{SF_SMOKE}/{t}.parquet").unionByName(extra).write.mode(
            "overwrite"
        ).parquet(str(base / f"{t}.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def adversarial_dim_duck(adversarial_dim_sf):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{adversarial_dim_sf}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    yield con
    con.close()


PINNED_DIM = [
    ("parts_above_brand_avg", "1e35 price in the per-brand window: dcast"),
    ("q2_cheapest_part_per_type", "NULL brand/type/price rank consistently"),
    ("q5_local_supplier_volume", "dangling nationkeys drop from the join"),
    ("salted_segment_event_agg", "NULL/empty segments through the salt"),
    ("nation_participation_full_outer", "bogus nationkey 999 in full outer"),
    ("bloom_membership", "±2^63/negative/NULL member keys: total bloom hash"),
    ("join_cardinality_estimate", "hostile custkeys bucket canonically"),
]


@pytest.mark.parametrize("name,why", PINNED_DIM, ids=[n for n, _ in PINNED_DIM])
def test_adversarial_dimension_parity(
    name, why, spark, adversarial_dim_sf, adversarial_dim_duck
):
    spec = REGISTRY[name]
    assert spec.oracle is not None, f"{name} lost its oracle; this pin needs one"
    df = spec.build(spark, adversarial_dim_sf)
    problems = compare(df, adversarial_dim_duck.sql(spec.oracle))
    assert not problems, f"{name} [{why}]: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# Adversarial DOCUMENT-IDENTITY shapes (round-5 sweep): duplicate doc_ids
# (a non-unique "primary" key is a certainty when 100 TB of shards merge),
# negative ids, n_chars disagreeing with the text, NULL lang/source.  The
# probe found no crashes; these pins hold the dedup family's tie-breaks and
# group semantics identical across engines on a corpus where the id column
# lies.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def adversarial_docid_sf(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("adversarial_docid_sf")
    for t in TABLES:
        if t != "documents":
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", str(base / f"{t}.parquet"))

    extra = [
        (0, "duplicate id zero doc", "en", "web", 21),
        (0, "duplicate id zero doc", "en", "web", 21),
        (-5, "negative doc id", "en", "web", 15),
        # -11 ≡ 9 under pmod but -11 % 10 = -1 under sign-of-dividend: pins
        # the incremental-batch split's sign-consistent double-mod oracle
        # (ADVICE r15 — a negative id must land in the NEW batch in BOTH
        # engines, and its text collides with a standing doc to leak)
        (-11, "negative doc id", "en", "web", 15),
        (999999, "n_chars lies here", "en", "web", -100),
        (999998, "lang is null", None, None, 12),
    ]
    ex = spark.createDataFrame(
        extra, "doc_id long, text string, lang string, source string, n_chars long"
    )
    spark.read.parquet(f"{SF_SMOKE}/documents.parquet").unionByName(ex).write.mode(
        "overwrite"
    ).parquet(str(base / "documents.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def adversarial_docid_duck(adversarial_docid_sf):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{adversarial_docid_sf}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    yield con
    con.close()


PINNED_DOCID = [
    ("dedup_exact_by_source", "exact-dup groups with a duplicated id"),
    ("dedup_minhash_lsh", "LSH pair tie-breaks under id collisions"),
    ("doc_fingerprints", "fingerprints keyed by a non-unique id"),
    ("lang_quality_stats", "NULL lang/source grouping"),
    ("corpus_curation_funnel", "duplicate ids through the whole funnel"),
    # round-7 sweep findings
    ("mixture_temperature_weights", "negative chars sum: clamped sqrt"),
    ("simhash_near_pairs", "duplicate doc_id: one sims row per id"),
    # round-15: the weights' APPLY stage on the same poisoned corpus —
    # clamped weights, dup/negative ids through the salt threshold
    ("mixture_resample_manifest", "negative chars x dup ids: total resample"),
    # round-16 (ADVICE r15): -11 ≡ 9 (mod 10) must split into the NEW batch
    # in both engines — DuckDB's sign-of-dividend % classified it standing
    # until the oracle's split became the sign-consistent double-mod
    ("dedup_incremental_batch", "negative id in the new-batch split"),
    ("cross_corpus_leak_report", "negative id leaking from a standing source"),
    # round-16: NULL text (empty blob) + the duplicated identical texts
    # (a hamming-0 diagonal pair through the C(cnt,2) weighting)
    ("image_neardup_pairs", "NULL-text blob + identical-blob diagonal"),
    # round-16: -11 ≡ 9 (mod 10) must land in the REMOVED class in both
    # engines (sign-consistent split), and dup id 0 must collapse
    ("corpus_snapshot_diff", "negative-id removal + dup-id collapse"),
    # round-16: -11 (batch) duplicates -5 (standing) -> a REAL cross-split
    # dup flows through the bitmap; false_negatives must stay 0
    ("dedup_bloom_probe_report", "cross-split dup through the bitmap"),
    # round-16: dup ids tie on every rank key (interchangeable rows),
    # NULL source is its own stratum, negative ids hash-rank cleanly
    ("holdout_sample_manifest", "dup/negative ids + NULL-source stratum"),
]


@pytest.mark.parametrize("name,why", PINNED_DOCID, ids=[n for n, _ in PINNED_DOCID])
def test_adversarial_docid_parity(
    name, why, spark, adversarial_docid_sf, adversarial_docid_duck
):
    spec = REGISTRY[name]
    assert spec.oracle is not None, f"{name} lost its oracle; this pin needs one"
    df = spec.build(spark, adversarial_docid_sf)
    problems = compare(df, adversarial_docid_duck.sql(spec.oracle))
    assert not problems, f"{name} [{why}]: " + "; ".join(problems)


def test_doc_fingerprints_operator_one_row_per_doc_id(spark, adversarial_docid_sf):
    """OPERATOR-level contract (round-7 deferral, closed round 8): even when
    the corpus carries duplicated physical rows for a doc_id, the fingerprint
    join aggregates per id and can never fan out — callers get exactly one
    (doc_id, simhash, fingerprint) row per id with no plan-layer distinct."""
    from pyspark.sql import functions as F

    from pulsar_pekko_streams_example_spark.operators import dedup

    docs = spark.read.parquet(f"{adversarial_docid_sf}/documents.parquet")
    # precondition: the corpus really does lie (doc_id 0 has duplicate rows)
    assert docs.filter(F.col("doc_id") == 0).count() >= 2
    fps = dedup.doc_fingerprints(docs)
    total, distinct_ids = fps.agg(
        F.count(F.lit(1)), F.countDistinct("doc_id")
    ).first()
    assert total == distinct_ids, "doc_fingerprints fanned out on duplicate ids"
    dup_rows = fps.filter(F.col("doc_id") == 0).collect()
    assert len(dup_rows) == 1
    # MIN tie-break over the id's physical rows: identical texts → the one hash
    assert dup_rows[0].fingerprint is not None


def test_token_budget_boundary_splits_fully_tied_pair(spark, tmp_path_factory):
    """ADVICE r15 (medium): the boundary prefix window's frame.  A corpus of
    three IDENTICAL physical rows (same doc_id, text, source → same quality
    level, token_count, and all three prefix keys) puts the 500-permille
    budget boundary in the MIDDLE of one fully-tied run: budget = floor(1.5t)
    admits exactly one of the three t-token rows.  Spark's rowsBetween gives
    the tied rows distinct prefix sums; DuckDB's default RANGE frame would
    hand all three ONE shared run value (0 selected) — the oracle pins ROWS
    BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW so both engines split the
    tie group identically.  Tied rows are interchangeable, so which physical
    row is picked cannot show in the per-source rollup."""
    import duckdb

    spec = REGISTRY["token_budget_selection"]
    base = tmp_path_factory.mktemp("tied_budget_sf")
    rows = [(0, "identical tied document text here", "en", "web", 33)] * 3
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(base / "documents.parquet"))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{base}/documents.parquet/*.parquet')"
    )
    df = spec.build(spark, str(base))
    problems = compare(df, con.sql(spec.oracle))
    con.close()
    assert not problems, "tied-boundary split diverged: " + "; ".join(problems)
    row = df.collect()[0]
    # the boundary really does split the tie group: 1 of 3 interchangeable
    # rows fits under floor(1.5t) — a RANGE-framed engine would select 0
    assert row.docs_total == 3 and row.docs_selected == 1, row


# ---------------------------------------------------------------------------
# NULL event timestamps (round-5 sweep): Spark's native F.window /
# session_window silently DROP rows with a NULL timestamp, while an
# arithmetic epoch_us(ts)//... GROUP BY keeps a NULL bucket — three window
# oracles diverged by exactly the timeless rows.  Contract: an event with
# no timestamp belongs to no time window (WHERE ts IS NOT NULL in the
# oracles, matching the native operators).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def adversarial_ts_sf(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("adversarial_ts_sf")
    for t in TABLES:
        if t != "events":
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", str(base / f"{t}.parquet"))

    extra = [
        (200001, None, 42, "click", 1.5, '{"k": 9}'),
        (200002, None, 42, "purchase", 2.5, '{"k": 9}'),
    ]
    ex = spark.createDataFrame(
        extra,
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").unionByName(ex).write.mode(
        "overwrite"
    ).parquet(str(base / "events.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def adversarial_ts_duck(adversarial_ts_sf):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{adversarial_ts_sf}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    yield con
    con.close()


PINNED_TS = [
    ("session_window_native", "native session_window drops timeless rows"),
    ("sliding_window_activity", "F.window drops timeless rows"),
    ("windowed_throughput", "tumbling window drops timeless rows"),
    ("user_sessions", "lag/cumsum twin stays consistent with NULL ts"),
]


@pytest.mark.parametrize("name,why", PINNED_TS, ids=[n for n, _ in PINNED_TS])
def test_adversarial_timestamp_parity(
    name, why, spark, adversarial_ts_sf, adversarial_ts_duck
):
    spec = REGISTRY[name]
    assert spec.oracle is not None, f"{name} lost its oracle; this pin needs one"
    df = spec.build(spark, adversarial_ts_sf)
    problems = compare(df, adversarial_ts_duck.sql(spec.oracle))
    assert not problems, f"{name} [{why}]: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# Exotic-UNICODE corpus (round-7): the text surface the ASCII-pathology
# fixture cannot reach.  Every character-level primitive (word_hash's
# split('')+ascii() fold, the single-space tokenizer, shingle concat,
# chunk hashing) must agree across engines on combining sequences,
# zero-width joiners, emoji ZWJ families, RTL override marks, NBSP
# (NOT a token separator), embedded NUL bytes, and the highest code point.
# Verified identical at adoption time (round-7 probe: every class hashes
# the same in both engines); this corpus keeps it that way.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def adversarial_unicode_sf(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("adversarial_unicode_sf")
    for t in TABLES:
        if t != "documents":
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", str(base / f"{t}.parquet"))

    docs = [
        (300001, "café café composed vs combining", "fr", "web", 34),
        (300002, "a‍b zwj inside a token twice a‍b", "en", "web", 35),
        (300003, "nbsp is not a separator one token", "en", "web", 36),
        (300004, "\U0001F468‍\U0001F469‍\U0001F467 family emoji doc", "en", "social", 20),
        (300005, "‮rtl‬ override marks wrap this", "ar", "web", 30),
        (300006, "nul\x00byte inside the text", "en", "web", 24),
        (300007, "\U0010FFFF highest code point leads", "en", "synthetic", 33),
        (300008, "​​​", "en", "web", 3),  # zero-width-only doc
        (300009, "plain ascii control document unicode corpus", "en", "web", 44),
    ]
    ex = spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    spark.read.parquet(f"{SF_SMOKE}/documents.parquet").unionByName(ex).write.mode(
        "overwrite"
    ).parquet(str(base / "documents.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def adversarial_unicode_duck(adversarial_unicode_sf):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{adversarial_unicode_sf}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    yield con
    con.close()


PINNED_UNICODE = [
    ("doc_fingerprints", "char-fold hash over every exotic class"),
    ("dedup_minhash_lsh", "shingle concat + minhash over unicode tokens"),
    ("simhash_near_pairs", "per-char bit votes on multi-byte text"),
    ("chunk_shared_pairs", "chunk-text hashing across code points"),
    ("lang_quality_stats", "quality ratios over zero-width-only docs"),
    ("token_count_histogram", "NBSP keeps tokens joined in both engines"),
]


@pytest.mark.parametrize("name,why", PINNED_UNICODE, ids=[n for n, _ in PINNED_UNICODE])
def test_adversarial_unicode_parity(
    name, why, spark, adversarial_unicode_sf, adversarial_unicode_duck
):
    spec = REGISTRY[name]
    assert spec.oracle is not None, f"{name} lost its oracle; this pin needs one"
    df = spec.build(spark, adversarial_unicode_sf)
    problems = compare(df, adversarial_unicode_duck.sql(spec.oracle))
    assert not problems, f"{name} [{why}]: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# COMPOUND corpus (round-7): every table poisoned AT ONCE.  The per-table
# fixtures above each assume the OTHER tables are sane; cross-table queries
# (fact-fact joins, dimension lookups, reconciliation) can hold contracts
# that only survive one hostile side.  This corpus composes the per-table
# poisons — duplicate/negative doc ids PLUS pathological texts, degenerate
# embeddings, hostile events (and timeless rows), poisoned orders+lineitem,
# and hostile dimensions — so every join sees garbage on BOTH sides.
# ---------------------------------------------------------------------------


def _unwrap_fixture(fn):
    while hasattr(fn, "__wrapped__"):
        fn = fn.__wrapped__
    return fn


def build_adversarial_all_sf(spark, tmp_path_factory) -> str:
    """Compose the per-table poisoned tables into one sf dir (also called by
    tools/sweep_hostile.py, so it must only need (spark, tmp_path_factory))."""
    import os

    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("adversarial_all_sf")
    poisoned: dict[str, str] = {}
    for fixture_name, tables in [
        ("adversarial_docid_sf", ["documents"]),
        ("adversarial_emb_sf", ["embeddings"]),
        ("adversarial_ev_sf", ["events"]),
        ("adversarial_ord_sf", ["orders", "lineitem"]),
        ("adversarial_dim_sf", ["customer", "supplier", "part"]),
    ]:
        d = _unwrap_fixture(globals()[fixture_name])(spark, tmp_path_factory)
        for t in tables:
            poisoned[t] = f"{d}/{t}.parquet"

    for t in TABLES:
        src = poisoned.get(t, f"{SF_SMOKE}/{t}.parquet")
        dst = str(base / f"{t}.parquet")
        if t == "documents":
            # dup/negative ids PLUS the pathological text shapes; the text
            # rows reuse ids 1-6, adding duplicate-id-with-DIFFERENT-text
            # hostility no per-table fixture reaches
            docs = spark.read.parquet(src)
            big = " ".join(f"w{i}" for i in range(4000))
            extra_rows = [
                (1, "", "en", "web", 0),
                (2, "   \t\n  ", "en", "web", 7),
                (3, ".,;:!?", "en", "web", 6),
                (5, big, "en", "synthetic", len(big)),
            ]
            ex = spark.createDataFrame(
                extra_rows,
                "doc_id bigint, text string, lang string, source string, n_chars bigint",
            )
            docs.unionByName(ex).write.mode("overwrite").parquet(dst)
        elif t == "events":
            # the hostile event rows PLUS timeless rows (NULL ts)
            ev = spark.read.parquet(src)
            ex = spark.createDataFrame(
                [
                    (200001, None, 42, "click", 1.5, '{"k": 9}'),
                    (200002, None, 42, "purchase", 2.5, '{"k": 9}'),
                ],
                "event_id long, ts string, user_id long, event_type string, "
                "value double, props string",
            ).withColumn("ts", F.col("ts").cast("timestamp"))
            ev.unionByName(ex).write.mode("overwrite").parquet(dst)
        elif os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copyfile(src, dst)
    return str(base)


@pytest.fixture(scope="module")
def adversarial_all_sf(spark, tmp_path_factory):
    return build_adversarial_all_sf(spark, tmp_path_factory)


@pytest.fixture(scope="module")
def adversarial_all_duck(adversarial_all_sf):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{adversarial_all_sf}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    yield con
    con.close()


# cross-table joins where BOTH sides are now hostile — the shapes the
# per-table pins cannot reach
PINNED_ALL = [
    ("q5_local_supplier_volume", "poisoned facts x hostile dims, 6-way join"),
    ("q9_product_profit", "poisoned lineitem x hostile part/supplier"),
    ("q12_ship_latency_priority", "NULL priority x poisoned shipdates"),
    ("rfm_customer_segments", "hostile customers x poisoned monetary values"),
    ("order_reconciliation_report", "both reconciliation feeds poisoned"),
    ("cohort_ltv_curve", "poisoned prices x dateless orders, one corpus"),
    ("nation_participation_full_outer", "hostile keys on both outer sides"),
    ("linear_attribution", "timeless + poisoned-payload event joins"),
    # round-7 compound-corpus findings: oracle-side dup-id fan-outs
    ("chunk_shared_pairs", "dup id x different text: per-ROW chunk streams"),
    ("decontamination_report", "dup id x different source: no src re-join"),
    # round-14: dup id x different text -> the boundary prefix window must
    # stay deterministic (secondary token_count key) and match the oracle
    ("token_budget_selection", "dup id x different text: boundary prefix"),
    # round-14 cross-table shapes: dup/negative doc ids on BOTH sides of the
    # docs<->embeddings join, and dup-id docs merging in per-doc LM scoring
    ("search_rerank_stage", "hostile candidate ids x degenerate embeddings"),
    ("crosslm_perplexity_filter", "dup id x different text in train AND held"),
    ("order_mixing_audit", "dup/negative ids: adjacency fan-out in lockstep"),
    # round-15: the audit's constructive twin and the provenance probe on
    # the same dup/negative-id + dup-id-x-different-text hostility
    ("training_order_generate", "dup ids tie the salt rank: output-set parity"),
    ("cross_corpus_leak_report", "dup id x different text on both probe sides"),
    # round-15: the two-pass prefix sum on dup ids / NULL-and-empty texts —
    # the coalesced token tie-break must keep both engines on one total order
    ("shard_plan_manifest", "dup id x NULL text: coalesced tc tie-break"),
]


@pytest.mark.parametrize("name,why", PINNED_ALL, ids=[n for n, _ in PINNED_ALL])
def test_adversarial_compound_parity(
    name, why, spark, adversarial_all_sf, adversarial_all_duck
):
    spec = REGISTRY[name]
    assert spec.oracle is not None, f"{name} lost its oracle; this pin needs one"
    df = spec.build(spark, adversarial_all_sf)
    problems = compare(df, adversarial_all_duck.sql(spec.oracle))
    assert not problems, f"{name} [{why}]: " + "; ".join(problems)


# ---------------------------------------------------------------------------
# Round-14: KMV set-operations on EMPTY input sets (ADVICE r13).
#
# kmv_sketch_setops estimates |A ∩ B| as (cboth * est_union) / cu.  When
# BOTH event sets are absent from the corpus, cu = 0: Spark 4 runs ANSI
# mode by default, so an unguarded division throws DIVIDE_BY_ZERO while
# DuckDB's `// 0` yields NULL — an engine/oracle divergence reachable on
# any corpus slice that simply lacks the two event types (a certainty in
# per-day partitions at 100 TB).  The estimator now short-circuits cu = 0
# to 0 in BOTH dialects; this corpus keeps it that way.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def empty_events_sf(spark, tmp_path_factory):
    """sf0.001 with events holding NO 'click' / 'purchase' rows, so every
    KMV sample, exact set, and union is empty (ca = cb = cu = 0)."""
    base = tmp_path_factory.mktemp("empty_events_sf")
    for t in TABLES:
        if t != "events":
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", str(base / f"{t}.parquet"))
    rows = [
        (1, "2024-01-01 00:00:00", 11, "view", 1.0, "{}"),
        (2, "2024-01-01 00:01:00", 12, "signup", 0.0, "{}"),
        (3, "2024-01-02 00:00:00", 13, "error", 0.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type",
        "value", "props",
    ).write.mode("overwrite").parquet(str(base / "events.parquet"))
    return str(base)


@pytest.fixture(scope="module")
def empty_events_duck(empty_events_sf):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{empty_events_sf}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    yield con
    con.close()


def test_kmv_empty_sets_parity(spark, empty_events_sf, empty_events_duck):
    """cu = 0 branch: engine must not raise (ANSI divide-by-zero) and must
    agree with the oracle that every estimate and exact count is 0."""
    spec = REGISTRY["kmv_sketch_setops"]
    df = spec.build(spark, empty_events_sf)
    problems = compare(df, empty_events_duck.sql(spec.oracle))
    assert not problems, "kmv_sketch_setops [empty sets, cu=0]: " + "; ".join(problems)
    row = df.collect()[0]
    assert row["est_intersection"] == 0 and row["est_union"] == 0
    assert row["exact_a"] == 0 and row["exact_b"] == 0


# ---------------------------------------------------------------------------
# Round-14: branch corners of the new analytics queries.
#
# (a) UNIFORM corpus (six identical docs, ids 0-5): every Spearman signal is
#     constant -> zero denominators -> rho must be NULL in BOTH engines (not
#     a divide error, not -0.0 vs NULL); the vocabulary is smaller than every
#     coverage depth -> saturation rows; no doc reaches any truncation length
#     -> all-zero loss rows; and no doc_id lands in the %10>=8 held slice ->
#     crosslm emits ZERO rows (empty-held parity).
# (b) HELD-ONLY corpus (ids 8/9/18/19): the training slice is EMPTY, so the
#     LM is N=0, V=0 and every held bigram is OOV scoring (0+0)//(0+1) = 0 —
#     the all-smoothing branch, with oov_permille pinned at 1000.
# ---------------------------------------------------------------------------


def _mini_docs_sf(spark, tmp_path_factory, name, rows):
    base = tmp_path_factory.mktemp(name)
    for t in TABLES:
        if t != "documents":
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", str(base / f"{t}.parquet"))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(str(base / "documents.parquet"))
    return str(base)


def _duck_for(sf_dir):
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}')")
    return con


@pytest.fixture(scope="module")
def uniform_docs_sf(spark, tmp_path_factory):
    text = "alpha beta alpha"
    rows = [(i, text, "en", "web", len(text)) for i in range(6)]
    return _mini_docs_sf(spark, tmp_path_factory, "uniform_docs_sf", rows)


@pytest.fixture(scope="module")
def held_only_docs_sf(spark, tmp_path_factory):
    rows = [
        (8, "the cat sat", "en", "web", 11),
        (9, "a dog ran far", "en", "web", 13),
        (18, "the dog sat", "en", "syn", 11),
        (19, "zz", "en", "syn", 2),  # <2 tokens: drops out of scoring
    ]
    return _mini_docs_sf(spark, tmp_path_factory, "held_only_docs_sf", rows)


PINNED_R14 = [
    ("signal_spearman_matrix", "constant signals: NULL rho, not an error"),
    ("vocab_coverage_curve", "2-type vocabulary: saturation at every depth"),
    ("truncation_loss_curve", "3-token docs: all-zero loss rows"),
    ("crosslm_perplexity_filter", "empty HELD slice: zero rows, no crash"),
    ("tokenizer_fertility_by_source", "uniform corpus: single-source fertility"),
    ("bpe_encode_stats", "2-type vocabulary: merges exhaust into the sentinel"),
    ("token_budget_selection", "single quality level: pure boundary-prefix path"),
]


@pytest.mark.parametrize("name,why", PINNED_R14, ids=[n for n, _ in PINNED_R14])
def test_round14_uniform_corpus_parity(name, why, spark, uniform_docs_sf):
    con = _duck_for(uniform_docs_sf)
    try:
        spec = REGISTRY[name]
        df = spec.build(spark, uniform_docs_sf)
        problems = compare(df, con.sql(spec.oracle))
        assert not problems, f"{name} [{why}]: " + "; ".join(problems)
        if name == "signal_spearman_matrix":
            assert all(r.rho is None for r in df.collect()), why
        if name == "crosslm_perplexity_filter":
            assert df.count() == 0, why
    finally:
        con.close()


def test_crosslm_empty_train_slice_parity(spark, held_only_docs_sf):
    """N=0, V=0 model: every held bigram is OOV and scores (0+0)//(0+1)=0;
    oov_permille is exactly 1000; <2-token docs drop out — identical in
    both engines (the all-smoothing branch a populated split never hits)."""
    con = _duck_for(held_only_docs_sf)
    try:
        spec = REGISTRY["crosslm_perplexity_filter"]
        df = spec.build(spark, held_only_docs_sf)
        problems = compare(df, con.sql(spec.oracle))
        assert not problems, "; ".join(problems)
        rows = {r.source: r for r in df.collect()}
        assert rows["web"].held_docs == 2 and rows["syn"].held_docs == 1
        for r in rows.values():
            assert r.avg_surprisal == 0.0 and r.oov_permille == 1000, r
    finally:
        con.close()


# ---------------------------------------------------------------------------
# Round-15 (ADVICE r14, medium): the rerank query-vector pick on a corpus
# where EVERY vec_id is duplicated with DIFFERENT vectors — the exact shape
# where `ORDER BY bm25_rank LIMIT 1` was a per-engine coin flip.  Two dup
# flavors per id: a REVERSED copy (identical norm², so the pick must fall
# through to the position-weighted second key) and a PERTURBED copy
# (different norm², resolved by the first key).  Every 7th vec_id is dropped
# entirely so the stage-1 top-k contains UNCOVERED candidates, pinning the
# round-15 left-join contract (candidates without an embedding stay in the
# output at cosine -1 instead of silently vanishing).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def dup_vecid_sf(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("dup_vecid_sf")
    for t in TABLES:
        if t != "embeddings":
            shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", str(base / f"{t}.parquet"))
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").filter(
        "vec_id % 7 <> 3"
    )
    reversed_dup = emb.withColumn("embedding", F.reverse("embedding"))
    perturbed_dup = emb.withColumn(
        "embedding",
        F.expr(
            "transform(embedding, (x, i) -> CAST(x + CAST(i % 3 AS FLOAT)"
            " - 1.0 AS FLOAT))"
        ),
    )
    emb.unionByName(reversed_dup).unionByName(perturbed_dup).write.mode(
        "overwrite"
    ).parquet(str(base / "embeddings.parquet"))
    return str(base)


def test_rerank_dup_vecid_and_uncovered_candidates(spark, dup_vecid_sf):
    con = _duck_for(dup_vecid_sf)
    try:
        spec = REGISTRY["search_rerank_stage"]
        df = spec.build(spark, dup_vecid_sf)
        problems = compare(df, con.sql(spec.oracle))
        assert not problems, "; ".join(problems)
        rows = df.collect()
        bm = REGISTRY["bm25_search_topk"].build(spark, dup_vecid_sf).collect()
        # left-join contract: the candidate SET survives incomplete coverage
        assert {r.doc_id for r in rows} == {r.doc_id for r in bm}
        uncovered = [r for r in rows if r.doc_id % 7 == 3]
        assert uncovered, "fixture must drop at least one candidate's vectors"
        assert all(r.cosine == -1.0 for r in uncovered)
        # covered candidates fan out over their three dup vectors — the fan
        # is the documented semantics, and parity above proves both engines
        # scored the SAME deterministic query vector across it
        covered_ids = {r.doc_id for r in rows if r.doc_id % 7 != 3}
        per_id = {
            d: sum(1 for r in rows if r.doc_id == d) for d in covered_ids
        }
        assert all(v == 3 for v in per_id.values()), per_id
    finally:
        con.close()
