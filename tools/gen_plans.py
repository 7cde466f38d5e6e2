#!/usr/bin/env python
"""Regenerate PLANS.md — physical-plan evidence for the headline queries.

Run from the repo root: python tools/gen_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
import warnings

warnings.filterwarnings("ignore")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from dataengineering_londonhousingmap_spark.queries import QUERIES  # noqa: E402
from dataengineering_londonhousingmap_spark.session import get_session  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# memory-sink streaming queries execute on construction; their "plan" is the
# incremental run itself
STREAMING = {
    "q_stream_hourly",
    "q_stream_sessions",
    "q_stream_dedup",
    "q_stream_join",
    "q_stream_sliding",
    "q_stream_cdc",
    "q_stream_late",
}

HEADER = '''# PLANS — physical plan evidence for the headline queries

Auto-generated from `.explain("formatted")` at sf0.1 on the tuned local
session (`python tools/gen_plans.py` regenerates). Operator lines only
(details elided); the things to check: scans carry `PushedFilters`/pruned
`ReadSchema`, dim joins are `BroadcastHashJoin`, aggregates are
partial+final `HashAggregate`, no `BatchEvalPython` (row-wise Python)
anywhere, `ArrowEvalPython` only on the vectorized similarity paths.

## Bench-variance note (r04, pinned cause for the r03 "regressions")

q_dedup_exact 0.40->0.91s, q_embed_topk 1.75x, q_stream_hourly 1.33x,
q_ngram_jaccard 1.32x (r02->r03, no code change): re-measured r04 in an
ISOLATED fresh session, best-of-3, only these four queries
(`/tmp/iso_bench.py` pattern) -- results reproduce the r03 numbers
(0.78 / 0.69 / 1.38 / 3.11s), ruling out shared-session contention.
The plans are unchanged and the inputs tiny (documents = 5,000 rows at
sf0.1), so the sub-second entries are dominated by fixed task-scheduling
overhead (fan_out spreads 5k rows across 32 round-robin partitions --
a deliberate scale-first shape that is a no-op on a real multi-split
input) plus the host's +-50% firecracker timing noise documented in the
r01 verify notes. Cause: host/vintage timing shift, not an engine
regression; treat <1s entries as noise-bounded.

## q_corpus_stats_score bimodality (r07, pinned cause)

Round history 1.59 / 1.51 / 1.51 / 0.94 / 1.51 (r02–r06, code unchanged
r04+) — the r06 judge asked whether the adaptive third rep failed or
best-of-N kept a cold run. Probed r07 on a quiet host, TWO consecutive
fresh-session runs, 4–5 reps each: reps settle unimodally at
[4.11, 1.87, 1.55, 1.60, 1.60] and [4.41, 1.81, 1.74, 1.50] — bests
1.554 and 1.501, 1.04× apart (inside the 1.2× stability bar). Within a
session there is no bimodality for the trigger to catch: only the first
rep is slow (python-worker + broadcast-build cold start; min-of-N
discards it by construction, so best-of-N can never keep a cold run —
it can only latch a freak-FAST run). The >30% trigger fires on the
cold-vs-warm rep-1/rep-2 gap and the third rep correctly settles at
steady state. Conclusion: the stable value on the current vintage is
~1.5s; the r05 0.944 was a cross-ROUND artifact (each round re-times on
a driver-regenerated data vintage, and min-statistics latch downside
outliers), not a plan or methodology defect — the same class as the r04
bench-variance note above. No code change; watch only if two
consecutive same-vintage fresh-session runs ever disagree >1.2×.

r07 addendum — q_dedup_incremental 3.06→3.8-4.0s at sf0.1 (three
consistent measurements incl. isolated best-of-3; code and vintage
unchanged): watched, not chased. The discriminating evidence is the 10×
probe, where its cost is ROUND-INVARIANT (r06 13.0s, r07 12.4s on the
same .bigdata) and its executed plan matches the pinned all-sort-merge
shape (zero broadcasts, re-verified r07) — a real plan or data
regression would scale, not vanish, at 10×. Same host-condition class
as the rest of this section.

r08 verdict — watch CLOSED as host-condition, protocol followed (two
fresh-session best-of-3 runs on a quiet host: 4.43s and 4.49s, above
the 3.4s trigger, so profiled): data volumes are flat on the r08
vintage (5,000 docs, 1.35M distinct shingles, 172 candidates, 70
verified pairs — no signature-table growth), and isolated CONTROLS
inflated by the same factor in the same session (q_ngram_jaccard
3.05→3.84s +26%, q_triangle_count 2.64→3.04s +15%, q_serving_dashboard
2.76→3.03s +10%, vs q_dedup_incremental 3.49→4.43s +27%). A
query-specific plan regression cannot inflate its shingle-verify
sibling by the identical ratio; a host/vintage-wide slowdown does
exactly that. Re-open only if its ratio vs q_ngram_jaccard (same
family, ~1.15× historically) ever exceeds 1.5× in one session.

## Merge-pin cost contract (r05/r06 — do NOT "optimize" these hints out)

The explicit `.hint("merge")` sites in operators/dedup.py:138 (LSH band
self-join), dedup.py:189 (jaccard intersection joins), dedup.py:286
(incremental-dedup signature join), queries.py q_decontaminate (bench-side
shingle join), and the large-winner-table branch of
operators/joins.py:_rejoin_winners (both NN shapes) exist because
checkpoint-derived (LogicalRDD) frames carry underestimated stats: the
static planner chose BroadcastHashJoin builds over corpus-proportional
frames, which is a driver OOM on a real cluster — the 10x probe
(BENCH_BIGSCALE.json) caught two live instances in r05. The pins cost
measured sf0.1 time: q_dedup_incremental +18% (2.52→2.97s) and
q_ngram_jaccard ~3.1s, and that trade is deliberate — sort-merge spills
where a misestimated broadcast kills the driver. Any future round that
removes one of these hints must first show the build side is provably
bounded (not corpus-proportional); the guard tests
(tests/test_plan_shape.py::test_candidate_verify_never_broadcasts_corpus_frames
and ::test_gridded_nn_joinback_merge_pinned_when_winner_table_large)
fail on removal by design.

## Exact-dup quotient contract (r08 — do NOT "optimize" the collapse out)

q_dedup_clusters / q_dedup_semantic / q_dedup_embed_exact / q_fuzzy_join /
q_decontaminate / q_join_interval run their similarity/overlap work on ONE
representative per distinct text/vector/name/interval
(operators/dedup.py:exact_dup_quotient and the
same reduce-then-compute shape inline in fuzzy/decontaminate), expanding
results back through the (id → rep) mapping. On the dup-free sf0.1 bench
vintage the quotient is pure overhead — a fingerprint shuffle, a semi-join
and the expansion joins, ~0.2-0.5s per query — and removing it wins that
back while reverting the 10× probe to quadratic compute (measured:
clusters 104→12s, semantic 151→7s, embed-exact 60→3s, fuzzy 242→44s,
decontaminate 126→12s, interval 41→3s WITH the quotient; those are the
counterfactuals).
Output is provably identical (identical inputs ⇒ identical
signatures/cosines/distances; representatives are group minima), pinned by
tests/test_quotient.py equivalence suites including the non-collapsible
edge rows (NULL texts, zero vectors) — reverting the quotient silently
survives those tests but fails the 10×-probe cost cliff, so treat any
future "simplification" of these five queries to their direct shape as a
scale regression, not a cleanup.

## Reduce-then-min cost contract (r06)

nearest_join's metric-dedup shell (left_metric_cols/right_metric_cols)
and nearest_join_gridded's coordinate dedup cost a measured ~+0.3s at
sf0.1 on mostly-unique metrics (q_join_nn isolated best-of-3 0.91→1.19s:
one narrow dropDuplicates shuffle, the winner-table count job, and the
rejoin). That trade buys the scale property: 10x-probe wall dropped
110.4s→1.7s (q_join_nn), 74.8s→1.1s (gridded), 85.2s→8.2s (topk) with
linear output — duplicate-heavy corpora stop paying |left|x|right|.
(r07: topk now uses bounded-cardinality grid coordinates — see the k>1
note below — and runs the 10x probe in 6.3s including the probe
session's cold start; its first r07 two-column metric was near-unique
per row, shelled to no effect, and ran 69.9s, which is the measured
counterfactual for what an unshellable high-cardinality metric costs.)
Removing the shell to win back the 0.3s reverts the probe to quadratic;
tests/test_plan_shape.py::test_catalog_nn_queries_use_winner_rejoin
fails on removal by design.

### k>1 full-tuple window fix (r07) — no cost, don't "optimize" back

The r06 judge's confirmed wrong-answer bug (k>1 + multi-column
left_metric_cols: the shell recursed with left_key=left_metric_cols[0]
and the top-k window partitioned by that single column, splitting k
winners across distinct metric tuples that share a first-column value)
is fixed by partitioning the k>1 window by the FULL left tuple —
mirroring the k=1 groupBy(*left.columns). Cost: none measurable. The
plan keeps the same exchange COUNT (one window shuffle of the deduped
cross product + the rejoin exchange; 2 Exchanges total in
q_join_nn_topk's formatted plan) — the hash keys widen from one column
to the row tuple, which changes bytes hashed, not rows shuffled.
Isolated best-of-4 at sf0.1 for the NEW two-column q_join_nn_topk:
1.46s (vs 1.17s r06 single-column — the delta is the second metric
column + band arithmetic riding the cross product, not the window
change). Narrowing the window partition back to left_key re-opens the
winner-split bug; tests/test_properties.py draws k∈{1,3} × {1,2 metric
cols} × {1,2 tiebreak cols} against the direct path and fails on
reversion by design.

## r09 — the ">20× adversarial ratios" measured, claim refuted, real bug found

The r08 verdict asked for input-normalized throughput behind the two >20×
adversarial 10× ratios (q_corpus_stats_score 38.2, q_collocations 28.2),
where the builder had ASSERTED "genuinely heavier text". The measurement
refuted the claim: the adversarial vintage carries only 1.32× the bigram
occurrences of the clean 10× vintage (2,657,040 → 3,509,769; one
explode+sum per vintage) while the walls were ~10× apart — per-million-
bigram throughput diverged ~7×, far past the 2× trigger. Root cause was a
real engine defect: bigrams() built pairs with
transform(sequence, i → element_at(t, i)) where t — the regex split of
the text — is a CAPTURED subtree of the lambda, and higher-order-function
lambdas re-evaluate captured subtrees PER ELEMENT: O(n_tokens) regex
splits per doc, O(n²) per doc. Invisible at ~50 tokens/doc; 105× at 1,500
tokens (micro-bench 61.2 vs 0.58s). Fix: zip_with over two slices of the
token array (tokenization evaluated O(1)/row), output-identical, oracles
unchanged. Same-vintage counterfactuals (pre-fix code on the r09
.bigdata_adv, fresh sessions, count() sink): q_corpus_stats_score
38.0→2.4s, q_collocations 36.7→2.0s, q_text_repetition 32.2→1.0s.
RULE: never reference an outer split/array EXPRESSION inside a HOF lambda
body — pass it as the HOF's argument, or zip_with sliced copies; audit
F.transform/F.aggregate/F.filter lambdas for captured non-attribute
subtrees (an attribute reference like F.col("__w") is O(1); a split() is
not). The normalized-throughput trigger stays: vintage-to-vintage
per-unit-work wall diverging >2× = investigate — it found a real bug the
round it was first applied.

## r09 — minhash-family quotient counterfactuals + the orientation-union replay

Same-vintage counterfactuals for the r09 quotient extension (pre-quotient
code vs current, both on the r09 .bigdata_adv, fresh sessions, count()):
q_ngram_jaccard 69.1→24.2s (2.9× — the verify pipeline now runs on 7,511
reps instead of 50,000 docs), q_dedup_incremental 28.4→24.8s,
q_dedup_minhash 22.5→22.0s. Minhash is a WASH by measurement, and the
profile explains it: signatures on reps cost 9.2s (the 30×-repetitive adv
texts dominate shingle volume and survive the quotient as distinct reps),
rep candidates 0.6s, and the 848k-pair expansion only 1.0s — both the old
and new path are output- and signature-bound, rows identical (847,781)
pinning equivalence. Keep the quotient anyway: its win scales with
TWIN-heaviness, the wash vintage is twin-light-per-rep but repetition-
heavy, and sf0.1 overhead is ≈flat (isolated best-of-3: minhash 1.70s vs
r08 1.49 under a 1.11 control drift; ngram +0.7s real).
SUBSTRING-SEEK FIX (follow-up, the round's third real find): the 9.2s
signature profile led to char_shingles itself — explode-an-index-sequence
+ substring(text, i, w) pays UTF8String's O(i) code-point SEEK per call
(O(len²) byte scans per doc; carrying the parent text through the explode
was measured NOT to matter — an attribute-referencing variant timed
identically). New shape: split('') to a code-point array once, then
array_join(slice(chars, i, w)) per window — 8.8 → 2.7s for the whole
7.5k-rep shingle+count job, output identical; q_char_diversity had the
same disease (substring(text,i,1) per char, 8.2 → 1.7s). The __chars
projection must keep ≥2 references (size() + the lambda's slice) or
CollapseProject inlines the split back into the lambda — the bigrams
O(n²) class again. Post-fix adv probe (families re-probe, same vintage):
q_dedup_minhash 19.7→5.1s (ratio 2.31), q_ngram_jaccard 23.6→9.5s,
q_dedup_incremental 33.0→19.2s, q_dedup_agreement 26.8s (r08 artifact:
36.5 on a lighter vintage), q_decontaminate 9.5s. Combined with the
quotient, the minhash family is now seek-free and rep-level end to end.
SINGLE-SPLIT FAN-OUT (the round's fourth find, same probe-driven method):
q_udtf 17.6s / q_chunk_docs 14.1s / q_vocab_oov 6.9s on the adversarial
lane were not engine cost at all — their heavy pre-shuffle work (LATERAL
Python UDTF, token explodes, the interpreted rolling-hash fold) ran as
ONE task on the single-file documents scan. fan_out() (a no-op on real
multi-split inputs) restores parallelism: 1.5 / 1.3 / 2.1s warm.
R09B — QUOTIENT COMPLETES THE SHINGLE-JOIN FAMILY: the post-fix probe
surfaced the last three per-copy pipelines — q_split_leakage 25.7→13.2s
(the opposite-side filter applies AFTER expansion because the split side
is a function of the original doc_id), q_containment 24.4→8.8s (twin
self-pairs carry containment exactly 1.0 = s/min(s,s)), and
q_dedup_agreement 26.8→10.2s, whose whole three-method matrix is a pure
function of the text pair: one quotient feeds jaccard + containment +
rep-level normalized-fingerprint equality, full-outer-joined BEFORE one
expansion (the fingerprint join still catches cross-group pairs whose
raw texts differ but normalize equal; NULL text NULL-propagates through
md5∘normalize, so singletons match the direct path on both arms).
Round close, each lane measured in ONE uncontaminated fresh session
with same-vintage bench denominators: clean catalog total 410.7s
(max ratio 8.11 — the bucketed-staging query at a 0.5s denominator),
adversarial 532.6s (max 6.76), zero errors on 198 queries per lane.
At round start the same artifacts read 486/804s with max 9.09/38.2.
ORIENTATION RULE (the round's second real find): emitting (a,b) AND (b,a)
via pairs.unionByName(swapped-projection) makes the expensive upstream (a
block join + Levenshtein DP, an all-pairs cosine fold, an LSH candidate
pipeline) a TWO-CONSUMER subtree that Spark replays once per branch —
q_fuzzy_join's r09 ordered-DP change measured 6.8→10.8s warm from exactly
this before the fix. both_orientations() (operators/dedup.py) explodes a
two-struct array instead: one pass, two output rows, no replay, no extra
checkpoint job; fuzzy restored to ~6.7s ≈ the pre-change 6.3s. The
bisect also showed the DP itself is <0.5s of the ~5s block join on this
vintage, so the DP halving is insurance for longer-name corpora, not a
measured win. Plan pin:
test_plan_shape.py::test_orientation_expansion_computes_metric_once.

## r09 — drift controls automated (bench.py)

bench.py now emits `controls` (five code-frozen queries spanning
join/graph/stream/text families — q_serving_dashboard, q_triangle_count,
q_join_nn, q_copurchase, q_stream_hourly — vs pinned r07–r08 reference
means; q_pagerank was evaluated and EXCLUDED as a control: 1.84/2.91/4.88s
across three same-day sessions, iterative driver loops are too noisy),
`host_drift` (median control ratio) and `normalized_total` =
value/host_drift. Since r11 each `controls` entry is
`[wall/ref ratio, second-best wall]` (best wall lives in `queries`, so
the per-control [best, second] pair is recoverable) and the line carries
`spread_med`/`spread_max` — second-best/best over every headline query
with best > 0.3 s — so a judge can read THIS session's per-query noise
band straight from the artifact instead of cross-referencing BENCH_LOCAL
(VERDICT r10 task 4: a control read ×1.49 in the driver session while
total drift read 1.001). r09 local run:
raw 75.0s, drift 1.147, normalized 65.3 — r08→r09 is flat-to-better once
the host factor is removed. Caveat measured the same session: single
controls are NOT trustworthy (pagerank read 1.56 while triangle read 0.99
in one session); adjudicate per-query movers with isolated fresh-session
best-of-3 whenever the control spread exceeds ~1.3×, as before. The
probe's ratio denominators likewise stopped being pinned to BENCH_r04:
probe_bigscale.py uses the newest (or --bench) bench json, because
testdata is driver-regenerated each round and ratios against a stale
vintage mix a data shift into a scale measurement.

## r10 — the corpus-curation >4× ratios: filter-position CSE loss, fixed

VERDICT r09 task 4 asked which stage dominates q_pipeline_corpus
(4.8 clean / 6.8 adv at 10×) and q_corpus_curation (4.5 / 6.7). Per-stage
bisect on .bigdata (fresh sessions, noop sink): scan+quality ≈ 1.5s,
+lang ≈ 1.5s, **kept-ids-only (the quality≥0.6 AND lang='en' FILTER)
8.26s**, fingerprint +0.6s, pipeline tail (split/token-count/pack) +0.3s.
The dominant stage was not scoring volume but the FILTER SHAPE: Catalyst
pushes the gate through the scoring Project, and FilterExec gets neither
whole-stage codegen (the HOF-bearing scorers are interpreted) nor
subexpression elimination — lang_id_scores referenced its ranked
element_at subtree twice and its token array four times, so the pushed
condition ran ~8 token-splits per row (isolated: filter 10.3s vs
projection 1.1s, 9.3×). Fix: let-binding (functions/text.py:_let —
single-element-array transform; HOF lambda VARIABLES are bound values,
unlike captured expressions) in quality_score and lang_id_scores; values
bit-identical (oracles unchanged, full driver-sim green). Measured after:
filter_lang 10.3→1.8s, filter_both 12.9→3.0s; q_corpus_curation 10.4→3.97
clean / 4.02 adv, q_pipeline_corpus 4.14 / 4.50 — both lanes now ~2.7×
their sf0.1 walls at 10× data, i.e. firmly sublinear. Plan pin:
test_plan_shape.py::test_scoring_exprs_single_split_in_filter_position
(counts split() in the pushed condition). Re-open trigger: either query's
clean-lane 10× ratio >4 in a future probe → re-bisect the filter stage
first. Catalog-wide sweep of the class (all 199 optimized plans, Filter
conditions grepped for duplicated split/sort_array/regexp_extract_all/
aggregate/transform/levenshtein/sequence): the only survivors are the
post-fix curation shapes (one split per scorer, single-evaluation
let-transforms) and two sub-second entries (q_collocations' tokens+bigrams
explode filter, q_join_range's residual band sequence) in the pinned-noise
class — no further >1s query pays a duplicated heavy filter expression. Counterfactual NOT taken: quotienting the scoring (run once per
distinct text) would cut the replicated lanes ~10× further but adds an
md5-shuffle detection job on every real (twin-light) vintage where the
scoring volume is irreducible — the filter fix removes the actual defect;
replication-lane residual is per-copy scan+score, i.e. workload.

## r10 — adaptive exact-dup quotient (bypass/sparse/dense)

exact_dup_quotient picks one of three arms from EXACT counts over the
fingerprint groups (never planner stats): twin-free → bypass (one
detection aggregate, no checkpoint/mapping/expansion joins — reps IS the
input frame; 0.74× on q_dedup_embed_exact at sf0.1); dup members ≤
operators/dedup._SPARSE_MAX_DUP_MEMBERS (16384 since r11) → sparse, a
bounded driver collect shipped back as ONE LocalRelation that expands via
broadcast left join + explode; else → the r09 corpus-sized merge-pinned
mapping, unchanged (the 10×-adversarial proven arm). The LocalRelation
is a measured py4j lesson: Column.isin(<list>) and F.lit(<list>) cost
one py4j round-trip PER ELEMENT (~0.4 ms — a 45k-id isin spent 20s
building the plan and put q_dedup_clusters at 68.8s on the 10× lane vs
8.3 forced-dense); the LocalRelation brought clusters back to 7.8s ≈
dense. A pure-literal sub-arm for ≤128 dup members
(explode(try_element_at(<literal map>, rep))) and three quotient.* conf
knobs (mode=dense and the two thresholds) were removed later to leave
one sparse shape. Its cost, measured at sf0.1 on the 14 queries the
literal sub-arm served: each LocalRelation broadcast runs one Spark job
(311 → 342 jobs per warm pass) and median walls read +5.6%. Same-session
interleaved best-of-3 at sf0.1 (8-twin vintage): auto/dense = 0.91
ngram_jaccard, 1.12-1.14 minhash/incremental (detection+collect vs
checkpoint costs, within the host's ±30% band — a wash), 0.69
embed_exact (bypass).
Closing isolated best-of-3 under the five drift controls (r10, host
drift 1.425 that session): normalized q_dedup_incremental 4.06 (1.01× of
the r08 ref — inside the 1.1× target), q_dedup_minhash 1.81 (1.21×),
q_ngram_jaccard 4.53 (1.27×); the residual on the latter two is
CROSS-VINTAGE, not plan — the current sf0.1 carries 8 twin documents and
heavier text than r08's (the r09 driver measured ngram at 5.03 normalized
on ITS vintage), and the same-data A/B above shows auto at or below the
r09 dense shape on every query. Re-open trigger: auto/dense > 1.2 on any
quotient query in a same-session interleaved A/B.
Equivalence: tests/test_quotient.py pins every arm against the direct
path (dense forced by monkeypatching the cap; including the agreement
matrix and split-leakage conversions).

## r10 — streaming state posture for real clusters

The local[32] harness narrows shuffle partitions around
writeStream.start() (8–16 state stores beat 200 for KB-sized test state)
— that tuning must not ship. cluster_conf() now carries the deployment
posture: RocksDB state store (keyed state off-heap + local disk, not the
HDFSBackedStateStore all-versions-in-heap OOM shape) with changelog
checkpointing (per-batch deltas, not full snapshots), and
spark.dataengineering_londonhousingmap_spark.streaming.statePartitions="session", which makes
_few_state_partitions a no-op so stream state parallelism follows the
session's shuffle partitions; a positive integer pins it to a deliberate
key-cardinality-sized value instead. State partitioning freezes at a
stream's FIRST checkpoint — the knob matters at first start, not restart.
transformWithStateInPandas remains environment-blocked (broken container
protobuf); the canary test flips loud when it's fixed.

## r11 — the dedup-trio residual REPRODUCED: pair density, not text weight

The r10 closing left q_dedup_minhash at 1.21× and q_ngram_jaccard at
1.27× of their r08 reference walls, attributed BY ELIMINATION to "8 twin
documents and heavier text". r11 measured the two vintages' workload
stats directly and the attribution was half wrong: per-doc-distinct
char-8 shingles — the signature-stage work volume — are IDENTICAL
(current 1,351,090 vs r08's recorded ~1.35M), but the current vintage
carries 3.8× the LSH candidates (653 vs 172) and 3.6× the verified pairs
(253 vs 70). The real axis is near-dup PAIR DENSITY feeding the
verify/expand stages. Falsified by reproduction, not elimination: a
one-off generator rebuilt the SAME corpus at r08's recorded profile
(surplus pairs broken by a deterministic per-doc char shuffle — same
length/chars, shingle set randomized; achieved 0 twins / 1.359M
shingles / 212 candidates / 74 verified), and a one-off A/B ran the
trio interleaved best-of-3 on both vintages in ONE session under the
five drift controls (drift 1.401 that session). Both tools are deleted;
the results stay in AB_VINTAGE_r11.json. Normalized vs the r08
refs: minhash heavy 1.27× → light 0.69×, ngram 1.11× → 0.93×,
incremental 1.09× → 0.85× — the residual VANISHES on the r08-profile
vintage, so it is workload, and the quotient detection aggregate is
exonerated. (Light undershooting 1.0 is consistent: 0 twins routes the
r10 bypass arm past work r08's code always paid.) Re-open trigger
unchanged: auto/dense > 1.2 in a same-session interleaved A/B.

## r11 — q_stream_sessions 10× profile: state partitions are the story

The catalog's max 10× ratio (25.1 s at sp16) decomposes as ~99%
micro-batch addBatch (the applyInPandasWithState Python exchange +
state commit); harness start/stop/plan-build are <0.2 s combined and
Arrow batch size is a wash (1k/10k/100k within noise). The dominant
knob is state partitions — the stateful stage runs one task per
partition, so parallelism is capped there: 8/16/32 partitions ran
29.5/19.6/11.5 s best-of-3 on the same 1M-event micro-batch (and
within-noise 5.5/7.1/5.2 s at sf0.1, where the batch is small). Local
pin switched from 16 to sparkContext.defaultParallelism (output
partition-independent — oracle re-verified on local[8]); clusters size
state via the statePartitions session knob as before. The residual
~11.5 s at 32 partitions is the irreducible Python-per-group cost of
951,630 emitted sessions over 15k keys — no plan defect. The matrix
is kept in STREAM_PROFILE_r11.json; its one-off profiling tool was
removed along with the Python operator it profiled (sessionize_stream
now runs on the native session window).

## r11 — quotient-threshold A/B at 10×: sparse default lowered to 16k

A one-off threshold harness (since removed; results in
AB_QUOTIENT_r11.json and AB_QUOTIENT_ADV_r12.json), interleaved
best-of-3 per lane in one session. SPARSE axis (.bigdata, ~45k dup
members; literal pinned 128): a sparse cap of 16384 forces dense,
65536/262144 take the sparse LocalRelation arm — dense won on EVERY query (clusters 5.72 vs
7.01/6.66, minhash 2.69 vs 3.54/3.24, ngram 5.59 vs 6.11/5.73,
embed-exact 3.48 vs 4.27/4.34 s): at 45k members the bounded collect +
LocalRelation broadcasts cost more than the merge-join mapping, so the
r10 default (64k, chosen from sf0.1) was INVERTED at scale → the cap
is 16384 (_SPARSE_MAX_DUP_MEMBERS). LITERAL axis (sf0.1, 16 dup
members; sparse pinned 64k): lit 32/128/512 all within ±10% with no
consistent sign — a wash (the literal sub-arm was later removed). Re-open trigger: a vintage
with 16k–45k dup members where the sparse arm beats forced-dense by
>1.2× in a same-session A/B would argue for re-raising the threshold.

## r11 — substring-dedup family added (plan shape)

q_dedup_substring / q_boilerplate_spans / q_decontaminate_spans run on
content-defined 64-char window selection (selected_windows keeps ~1/16
of windows by hash — alignment-free, so the explode is pre-shuffle map
work and only selected windows shuffle), boilerplate windows >64
distinct texts cut before the pair join, merge-pinned equi-joins on the
window hash, exact-dup quotient with a computed self-pair payload.
10× walls 13.1/3.1/4.6 s vs 2.5/2.0/1.1 s warm sf0.1 — sublinear.

## r12 — SimHash tuned from its own QA number (sweep matrix)

The r11 q_simhash_recall measurement (32-bit / 4×8 bands / Hamming ≤ 3)
read precision 0.0015–0.03 — the verify stage did 30–600× more work
than true pairs earned. `tools/sweep_simhash.py` swept bits ∈ {32, 64}
× band layout × Hamming threshold against the SAME exact ground truth
(char-8 Jaccard ≥ 0.2, bounded doc sample, DuckDB-computed with the
oracle's own md5 construction so the chosen config transplants
literally). Decision rows (full matrix in `.sweep_simhash.json`,
regenerate with the tool):

| sf | bits | bands | ham | recall | precision | n_verified |
|---|---|---|---|---|---|---|
| 0.01 | 32 | 4×8 | ≤3 (old) | 0.92 | 0.0317 | 725 |
| 0.01 | 64 | 8×8 | ≤4 | 0.80 | 0.9524 | 21 |
| 0.01 | 64 | 8×8 | **≤5 (new)** | **0.92** | **0.6216** | 37 |
| 0.01 | 64 | 8×8 | ≤7 | 0.92 | 0.1369 | 168 |
| 0.1 | 32 | 4×8 | ≤3 (old) | 0.75 | 0.0015 | 3952 |
| 0.1 | 64 | 8×8 | **≤5 (new)** | **0.75** | **0.055** | 109 |
| 0.1 | 64 | 8×8 | ≤12 | 1.00 | 0.0003 | 23684 |

Picked: **64-bit (two 32-bit halves), 8×8 bands, Hamming ≤ 5** — recall
bit-identical to the old config on BOTH vintages (every old hit is still
a hit), precision 19.6× (sf0.01) / 36.7× (sf0.1), and the 8-band layout
stays pigeonhole-lossless through Hamming ≤ 7 so the verified set is
exact, not sampled. Hamming ≤ 4 drops recall to 0.80 — 5 is the knee.
The 64-bit fingerprint ships as two positive BIGINT halves
(`simhash_lo` = md5 hex 1–8, `simhash_hi` = hex 9–16): a single 64-bit
column would need bit 63 and overflow DuckDB BIGINT arithmetic; two
halves keep every value and banding shift signed-safe on both engines
(Hamming = sum of per-half bit_count(xor)). 4×16 banding (fewer, wider
bands — 21× fewer band collisions) was REJECTED: not lossless above
Hamming 3, it loses a true hit at the chosen threshold (recall 0.88).
Candidate volume rises 1.7× (39,990 vs 23,720 at sf0.01) — the price of
8 bands — but candidates feed only a cheap bit_count verify; the 20–37×
cut lands on the verified pairs that downstream exact-Jaccard
confirmation actually pays for. Cost of the wider fingerprint:
q_dedup_simhash's 64 conditional-sum aggregates run ~2× the 32-bit
agg work (1.19 → 2.04 s at sf0.1 in a drift-1.11 session) — the same
shuffle count, paid once per corpus for a 20–37× cheaper verify stage.

## r12 — quotient 16384 default confirmed on the ADVERSARIAL 10× lane

AB_QUOTIENT_ADV_r12.json (VERDICT r11 task 5): the sparse axis replayed
on .bigdata_adv (NULL/empty/duplicated/newline/repetitive docs at ~45k
dup members). Dense (sparse=16384 forcing the dense arm) won every
query again — clusters 8.12 vs 8.57/9.00, minhash 4.42 vs 4.77/4.75,
ngram 7.19 vs 7.47/7.48 — same sign as the clean lane, so the r11
default stands under nasty inputs. The knob-invariant bypass query
(q_dedup_embed_exact) spread 1.09 ≤ the new 1.25 drift gate, so the
session was quiet enough to conclude. Re-open trigger unchanged: a
future vintage whose dup-member count sits near 16k showing the sparse
arm faster by >1.25× outside the gate.

## r12 — sessionize crossover MEASURED: there isn't one

AB_SESSIONIZE_r12.json (VERDICT r11 stretch task 8 — interleaved
best-of-2, one session; the one-off A/B tool is gone): custom
applyInPandasWithState vs native F.session_window on the same events
feed, same 30-minute gap. Native wins 3.46× at sf0.1 (0.89 vs 3.09 s)
and 3.70× at 10× (2.67 vs 9.90 s) — the gap *grows* with scale, so
"use native at scale" undersold it: use native at EVERY scale unless
the session needs per-group custom logic or immediate successor-closed
emission (the two things session_window can't express — and the reason
X20 exists). sessionize_stream has since moved onto the native exec:
a complete-mode run plus the closed_sessions filter states the
successor-closed emission rule declaratively.

## r12 — A/B harness drift-gated

AB_VINTAGE_r11 normalized through drift 1.401; the vintage A/B then
refused to be decided by normalization: it re-ran once in a fresh
session when the median control ratio left [0.8, 1.25], then exited 2
("REFUSED") if still out of band. The same rule holds for any A/B
decided through drift controls; the vintage A/B itself is deleted.

## r12 — never put a DISTINCT aggregate beside object-state sketches

q_approx_sketches fused count_distinct(user_id) into the same agg() as
approx_count_distinct + two percentile_approx(10k) sketches. Spark's
distinct rewrite then plans a FOUR-level ObjectHashAggregate cascade
(partial/merge over (group, user_id), then final over group) that
carries and re-merges the HLL/KLL sketch buffers across the per-
distinct-key expansion: each aggregate ALONE runs < 1 s at 10×, fused
they ran 8.8 s clean / 21.0 s adversarial. Split into two single-pass
aggregations joined on the 5-row group key: 1.42 / 1.79 s (one extra
sub-second scan buys a 9–20× win; values identical, oracle untouched).
Sweep rule: grep any new agg() mixing count_distinct/countDistinct with
TypedImperative aggregates (percentile_approx, approx_count_distinct
beside it is fine — it's the EXACT distinct that triggers the rewrite);
catalog audited r12, q_approx_sketches was the only instance.

## r12 — new surface: incremental-substring, cluster-safe split, BPE

Five catalog additions close two production stories. q_substring_incremental
(X164) is the span-level twin of the daily-batch dedup shape: a 20 % new
batch equi-joins its selected 64-char window hashes against the 80 %
standing index — boilerplate cut over BOTH sides first, per-side exact-dup
quotient, merge-pinned window join (both sides corpus-proportional behind
checkpoints). q_split_cluster_safe (X165) turns the X127 leakage AUDIT into
prevention: the train/eval lottery keys on the near-dup connected-component
id, so no verified near-dup pair or exact twin can straddle the eval
boundary by construction (invariant pinned in tests/test_quotient.py); cost
is one narrow projection past the X40 clustering (10× walls 8.5 vs 6.6 s
for the clustering alone). q_bpe_merges / q_bpe_encode (X166/X167) add the
tokenizer-training step: 5 unrolled Sennrich merge iterations over the
word-frequency table — the corpus pays ONE aggregation; each iteration is
vocabulary-sized with the single-row winner broadcast into a greedy
left-to-right aggregate() fold — and the apply side segments each DISTINCT
word once, tokenizing the corpus via one merge-pinned vocab join (10×
walls 2.8 / 3.9 s; the DuckDB twins replay the fold via list_reduce over
singleton-wrapped symbols — list slice ends are INCLUSIVE there, acc[:-2]
drops the last element). q_bpe_tokenize (X168) completes the triple with
apply-to-UNSEEN: merges learned on the 80 % train split only, collected
into one broadcast ordered array and applied to held-out words as a
NESTED fold (merge order outer, greedy scan inner — outer-lambda closure
works on both engines; DuckDB seeds the fold by prepending the char
sequence since list_reduce has no init arg). A hypothesis sweep against
a plain-Python reference BPE pins induction, segmentation, apply, and
reconstruction — and caught a real bug the oracle gate can't see: an
EMPTY winner frame (merges exhausted) entering via cross join dropped
the whole vocabulary; single-row broadcast frames that can be empty must
enter via a constant-key LEFT join (NULL columns degenerate the fold to
identity).

## r12 — final-tree measurement state (this round's lanes)

All lanes re-run on the final 211-query tree with same-vintage
denominators (BENCH_LOCAL_r12 refreshed first, best-of-2 everywhere):
clean 10× 211/211 zero errors max ratio 4.33 (r11: 6.23 — the drop is
the best-of-2 protocol plus the sketch split above; an intermediate
210-query pass read 3.63, so ±0.7 of the headline is residual host
scatter even under best-of-2), adversarial 10× 211/211 zero errors max
5.12 (r11: 7.75), worst entries the documented workload shapes
(q_corpus_curation — quadratic pair output by replication design).
Scale-up lane max step ratio 2.29 with the BPE family flat across 100×
data (q_bpe_merges 1.47→1.37 s — the vocabulary-bounded claim,
measured). driver_sim green on ALL FIVE vintages on the final tree
(sf0.001 via the pytest oracle suite, sf0.01, sf0.1, .advdata,
.advdata_skew); pytest 485 passed / 2 env skips. Skew-lane footnote:
q_dedup_minhash's skew ratio read 1.29/1.37 on two consecutive end-of-
round runs vs 1.05 earlier the same round on IDENTICAL code and staged
data — the uniform denominator got 15 % faster while the skewed wall got
10 % slower, and the five sibling queries scattered ±15 % in both
directions in the same sessions (q_domain_cap 0.80→0.96, q_skew_report
0.88→1.12, q_heavy_hitters 0.92→0.84): compounded best-of-2 ratio noise
of the documented host class, not a plan change (operators/dedup.py is
untouched between the two measurements; the 10× dup-pathological lanes
show minhash sublinear). Re-open only if a run with its sibling controls
inside ±10 % ever shows the minhash ratio above 1.5.
'''


def main() -> None:
    spark = get_session("plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [HEADER]
    for name in HEADLINE:
        if name in STREAMING:
            out.append(
                f"\n## {name}\n\n(streaming query — the plan is the incremental "
                "execution; see streaming/incremental.py)\n"
            )
            continue
        df = QUERIES[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        ops = [l.strip() for l in plan.splitlines() if re.match(r"\s*\(\d+\)\s+\S", l)]
        pushed = [
            l.strip()[:120]
            for l in plan.splitlines()
            if "PushedFilters" in l and "[]" not in l
        ]
        out.append(f"\n## {name}\n")
        out.append("```")
        out.extend(ops)
        out.extend(pushed[:3])
        out.append("```")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main()
