"""Registry-wide physical-plan audit — the round-12 sweep as a ritual.

Builds every registry query at a small SF and inspects the EXECUTED plan
string for redundant-evaluation and join-shape smells that the oracle gate
cannot catch (results stay correct; only the plan is wasteful):

- ``CartesianProduct`` anywhere — always a bug (exit 1).
- An interpreted higher-order fold (``aggregate(zip_with/sequence/
  transform``, the engine's cosine/hash expressions) inside a Filter or a
  join residual — the semdedup_threshold_curve double-eval signature: a
  pushed null-rejecting or threshold predicate re-evaluates the fold per
  row on top of the projection/grouping eval.  Round-12 findings fixed this
  way: semdedup_threshold_curve (total cosine), dup_span_coverage and
  dedup_incremental_batch (total hash — coalesce to an unreachable
  sentinel lets constant folding delete the pushed isnotnull).
  Entries in ALLOWED_FOLD_FILTERS are the audited-and-intended cases where
  the predicate PRUNES (so the second eval runs on survivors only) — the
  GOOD pattern.
- Duplicate scoring subtrees (two+ BroadcastNestedLoopJoin passes):
  reported as a count for eyeballing — some are inherent (two k-means
  rounds), some were fixed round-12 (kmeans_cluster_profile's single-pass
  rollup).  A NEW query whose BNLJ count surprises you deserves the
  kmeans_cluster_profile treatment.

Usage (repo root, ~1-2 min):  python tools/audit_plans.py [sf_dir]
Exits non-zero on CartesianProduct or an UNALLOWED fold-in-filter.

Round-12 eyeball verdicts for the standing multi-BNLJ notes (all benign —
re-eyeball only NEW names): customer_spend_deciles_approx /
priority_price_rank_approx (tiny bin-boundary inequality joins),
tfidf_cosine_pairs / cooccurrence_pagerank / ngram_novelty_curve (1-row
totals cross-joined per branch/round), hll_vocab_overlap (source-pair
inequality join over ~20 sources), ann_ivf_topk (two corpus×centroid
passes, but the probes branch's pushed filter shrinks it to query rows —
good pattern), kmeans_round2_movement (two Lloyd's rounds are two scoring
passes by definition), semantic_dedup_probe / ann_pq_adc_topk (one scoring
pass per side of a deliberate recompute, see their docstrings).

Round-13 eyeball verdicts (both benign): kmv_sketch_setops (7 crossJoins
of 1-row aggregates — the stats assembly, sketch_queries.py; each side is
a single scalar row), ranking_rbo_report (a depth-bounded <=20 x <=20
inequality join of per-ranker tops against a broadcast — the RBO overlap
windows, data_queries.py).

Round-14 eyeball verdicts (benign): search_rerank_stage (crossJoins of the
1-row query vector and 1-row rank scaffolding against the <=20-row
candidate set — every BNLJ side is a broadcast bounded by BM25_TOPK,
data_queries.py); tokenizer_fertility_by_source (the BPE chain's three
1-row merge winners crossJoined per round, plus their recurrence in the
shared train subtree — all 1-row broadcasts, mldata_queries.py);
vocab_coverage_curve (4-row depths table inequality-joined to the <=10k
TakeOrdered head + a 1-row totals crossJoin, data_queries.py);
token_budget_selection (budget/threshold/boundary scaffolding crossJoins —
every BNLJ side is the <=1001-row quality histogram or a 1-row aggregate,
data_queries.py); ranking_kendall_tau (8 BNLJ passes: the id_i < id_j
inequality self-join of the <=20-row common-candidate set against its
broadcast twin, plus 1-row m/pairstats scaffolding crossJoins — every BNLJ
side is bounded by BM25_TOPK or is a single aggregate row, benign,
data_queries.py — VERDICT r14 task 3, the one unrecorded round-14 name);
bpe_encode_stats (the same BPE-chain 1-row merge-winner crossJoins already
recorded under tokenizer_fertility_by_source — the two queries share the
train subtree, mldata_queries.py).

Round-15 eyeball verdicts (benign): ann_ivf_recall_report (8 BNLJ passes:
the exact-ground-truth queries x corpus scoring crossJoin inherited from
cosine_topk, the IVF quantizer's corpus x broadcast-centroid passes already
recorded under ann_ivf_topk, the 8-row nprobe grid inequality-joined to the
<=|centroids|-row rank histogram, and 1-row tot scaffolding — every side
bounded by centroids/grid/1 row, data_queries.py); ann_pq_recall_report
(3 passes: the exact ground-truth crossJoin plus the PQ distance-table's
corpus x <=16-row codebook crossJoins recorded under ann_pq_adc_topk,
data_queries.py); ann_pq_refine_topk (the same inherited distance-table
codebook crossJoins — the refine stage itself is a pair-keyed equi-join +
broadcast query probe, operators/similarity.py::ann_pq_refine_topk);
ann_ivfadc_topk (the inherited IVF quantizer corpus x broadcast-centroid
passes + PQ distance-table codebook crossJoins, both recorded above — the
composed scoring join is an equi-join on (cent_id, m, code),
operators/similarity.py::ann_ivfadc_topk); ann_method_recall_matrix (15
passes = the sum of its five constituent index paths' recorded notes plus
one exact-ground-truth crossJoin per UNION branch — every pass is a
verbatim reuse of a standing query's dataflow, each individually
adjudicated above; the matrix adds only pair-keyed LEFT JOINs,
data_queries.py::ann_method_recall_matrix).

Round-16 eyeball verdicts (benign): ann_ivf_trained_topk (6 BNLJ passes:
two Lloyd's training rounds' corpus x broadcast-centroid assign passes —
the clustering.assign shape already recorded under kmeans_round2_movement
— plus the shared search pass's corpus x broadcast-trained-centroid
scoring and 1-row scaffolding; the quantizer side is bounded by
|centroids| rows at every step, operators/similarity.py::
ann_ivf_trained_topk); ann_method_recall_matrix (22 passes = the prior 15
plus ann_ivf_trained_topk's 6 training/search passes and its UNION
branch's exact-ground-truth crossJoin — all verbatim reuses of the
adjudicated dataflows above; the new ivf_trained branch still only adds a
pair-keyed LEFT JOIN); ann_ivf_recall_report (unchanged 8 passes — the
ADVICE r15 fix swapped the corpus-sized assignment broadcast for a
neighbor_id-keyed shuffle join, which REMOVES a broadcast rather than
adding a BNLJ; the remaining passes are the ones recorded in the round-15
paragraph); ann_ivfadc_residual_topk (6 BNLJ passes: the inherited IVF
quantizer corpus x broadcast-centroid scoring recorded under ann_ivf_topk,
plus the residual distance-table passes — corpus-residuals x the <=16-row
broadcast RESIDUAL codebook, and the bounded (queries x nprobe) query-
residual rows x the same codebook; the scoring join itself is an equi-join
on (cent_id, m, code), operators/similarity.py::ann_ivfadc_residual_topk);
ann_ivfadc_trained_topk (8 BNLJ passes: the two Lloyd's training rounds'
corpus x broadcast-centroid assign passes plus the trained-centroid
scoring pass — all recorded under ann_ivf_trained_topk — composed with the
PQ distance-table corpus x <=16-row codebook crossJoins recorded under
ann_pq_adc_topk; the composed scoring join is the (cent_id, m, code)
equi-join, operators/similarity.py::ann_ivfadc_trained_topk);
ann_pq_trained_topk (6 BNLJ passes: two per-subspace codebook-training
rounds' corpus x <=MxK-broadcast-codebook scoring passes — the
pq_distance_table shape recorded under ann_pq_adc_topk, re-run per round —
plus the final codes/query-table pass against the trained codebook; the
update step is a (m, code, subdim)-keyed hash aggregate, never a join,
operators/similarity.py::_trained_pq_codebook); ann_method_recall_matrix
(45 passes = the adjudicated sum of its NINE constituent index paths —
ivfadc_residual's 6, ivfadc_trained's 8, pq_trained's 6 included — plus
one exact-ground-truth crossJoin per UNION branch; every pass is a
verbatim reuse, the matrix itself adds only pair-keyed LEFT JOINs);
ann_ivfadc_residual_refine_topk (6 BNLJ passes: exactly
ann_ivfadc_residual_topk's recorded passes — the shortlist is reused
verbatim; the refine stage adds only a neighbor_id equi-join of
queries x r shortlist rows against embeddings plus the broadcast query
probe, operators/similarity.py::ann_ivfadc_residual_refine_topk); the
matrix note accordingly reads 52 = 45 + the refine branch's 6 + its
exact-ground-truth crossJoin, all previously adjudicated.

Round-16 late additions: ann_ivf_trained_recall_report (16 BNLJ passes:
the exact-ground-truth queries x corpus crossJoin, the two training
rounds' assign passes + trained-centroid scoring recorded under
ann_ivf_trained_topk, the 8-row nprobe grid inequality join against the
bounded rank histogram, and 1-row scaffolding — every side bounded by
centroids/grid/1 row).  While landing it the audit caught a REAL
fold-in-filter: a downstream equi-join on the trained cent_id pushed
isnotnull(<the whole clustering.assign array_sort fold>) into the
training crossJoin as a join residual; fixed by coalescing cent_id to the
unreachable -1 at every trained-cent select (both dialects), which makes
the key non-nullable so the predicate is elided — re-audited clean.

Round-16 OPTIMIZATION round update: ann_method_recall_matrix drops 52 → 45
BNLJ passes — the single-pass restructure (one exact ground-truth arm
joined once against the method-tagged UNION of the ten top-k outputs,
one groupBy(method) aggregate, oracle-proven identical) removes nine of
the ten per-branch exact-ground-truth crossJoins; the remaining 45 are
the adjudicated sum of the ten constituent index paths' own recorded
passes plus the single exact arm.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.getcwd())

FOLD = r"aggregate\(zip_with|aggregate\(sequence|aggregate\(transform"

# query -> (line_pattern, max_lines): the allowlist matches the SPECIFIC
# fold-filter line, not just the query name (round-13, ADVICE) — a NEW,
# different fold inside a Filter/residual in an already-allowlisted query
# must still fail the audit instead of riding the old exemption.  The
# pattern is matched against the node text with plan-tree prefix stripped;
# column ids (#NNN) vary per run so patterns anchor on operator + stable
# expression shape instead.
ALLOWED_FOLD_FILTERS = {
    # threshold residual prunes 467k pairs -> ~500 survivors; the projection
    # re-eval runs on survivors only
    "embedding_near_dup": (r"^BroadcastHashJoin .*nanvl\(CASE WHEN", 1),
    # the quality gate prunes docs before the funnel's survivor projections
    "pipeline_funnel_counts": (r"^Filter .*least\(cast\(size\(filter\(split\(text", 1),
}


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pulsar_pekko_streams_example_spark.session import get_spark
    from pulsar_pekko_streams_example_spark.plans import registry
    import pulsar_pekko_streams_example_spark.plans  # noqa: F401

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    failures: list[str] = []
    for name in sorted(registry.REGISTRY):
        try:
            df = registry.REGISTRY[name].build(spark, sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — report, keep auditing
            failures.append(f"{name}: BUILD_ERR {type(e).__name__}: {e}")
            continue
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        fold_filters = []
        for line in plan.splitlines():
            # strip the plan-tree prefix (indent + ':- +—' connectors), then
            # a plain prefix check — no backtracking-prone regex over the
            # (very long) expression text
            node = line.lstrip(" :+-*(0123456789)")
            if (
                node.startswith("Filter ") or "Join " in node[:40]
            ) and re.search(FOLD, line):
                fold_filters.append(node)
        if fold_filters:
            allowed = ALLOWED_FOLD_FILTERS.get(name)
            unmatched = (
                fold_filters
                if allowed is None
                else [n for n in fold_filters if not re.match(allowed[0], n)]
            )
            if unmatched:
                failures.append(
                    f"{name}: fold inside Filter/join residual not covered by "
                    f"allowlist ({len(unmatched)} lines) — e.g. {unmatched[0][:100]}"
                )
            elif allowed is not None and len(fold_filters) > allowed[1]:
                failures.append(
                    f"{name}: {len(fold_filters)} allowlisted-shaped fold "
                    f"filters, expected <= {allowed[1]} — a duplicated "
                    f"evaluation crept in behind the exemption"
                )
        bnlj = plan.count("BroadcastNestedLoopJoin")
        if bnlj >= 2:
            print(f"note {name}: {bnlj} BNLJ scoring passes (eyeball if new)")
    if failures:
        print("AUDIT FAILURES:")
        for f in failures:
            print("  " + f)
        return 1
    print(f"plan audit clean: {len(registry.REGISTRY)} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
