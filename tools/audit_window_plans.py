"""Inventory-wide audit: window (per-group sort) partitioned by a
bounded-domain key.

This tool sweeps the OPTIMIZED plan of every inventory entry so a
scale-killer window cannot be added silently anywhere in the
inventory — the contract test (tests/test_inventory_contract.py::
test_inventory_window_audit_matches_reviewed_exceptions) pins the
audit's findings to the known exceptions list below.

Why it matters at 100 TB: a window partitioned by a key whose domain
does not grow with the data (lang, returnflag, segment — distinct
count <= 10 at every sf) puts ~1/|domain| of the CORPUS into ONE task.
An aggregation over the same key is fine (partial aggregation combines
map-side); the window is not, because a window is a per-group SORT of
all member rows.

Not every bounded-key window is a killer — the tool classifies each
Window node by the STRUCTURE of its input (read from the optimized
plan tree), because the sort cost is the input's size, not the key's:

- ``groups_limited``: Spark placed a ``WindowGroupLimit`` below the
  Window (a ``row_number() <= k`` filter) — a map-side partial top-k
  that ships at most k rows per group per task before the window's
  shuffle, exactly like partial aggregation. Safe at any scale
  (window_rank_topn, sample_reservoir_per_key, ...).
- ``agg_input``: the Window's immediate child is an Aggregate — the
  window sorts GROUPS, not corpus rows. Safe when the grouping keys
  bound the frame (the binned order-statistic entries: |domain| x
  n_buckets rows); the pinned contract test makes each such entry a
  reviewed, named exception rather than a silent pass.
- ``raw``: the window consumes corpus-scale rows partitioned ONLY by
  bounded-domain keys — the genuine scale-killer tier (one task holds
  ~1/|domain| of the corpus). Must be either fixed or documented as
  an sf-bounded exact diagnostic with a scale-safe sibling.
- ``opaque``: a partition key that is neither a plain column nor an
  expression whose cardinality the estimator can bound (most are
  LEGITIMATE: md5-prefix salts, band-hash buckets, time chunks —
  expressions that manufacture cardinality that grows with the data).
  Reported so a NEW opaque-key window is a visible, reviewed change.

Round-9 extensions (the two shapes the r8 verdict found the audit
structurally blind to):

- **Derived bounded keys**: a partition key that is an ALIAS over an
  expression (``(doc_id % 8) AS grp``) used to classify as a plain
  unknown column and pass silently. The audit now resolves each
  aliased key to its defining expression in the same plan and
  estimates its cardinality: a literal modulus (``x % K`` / ``pmod(x,
  K)``) caps the domain at K regardless of the input's cardinality,
  so K <= LOW_CARD_MAX classifies the key as bounded (reported as
  ``name=K``). A NON-literal modulus (e.g. ``doc_id % greatest(8,
  ceil(count/2048))``) is cardinality that grows with the corpus —
  not bounded.
- ``flatmap`` tier: ``FlatMapGroupsInPandas`` / ``MapGroups`` nodes
  (applyInPandas / UDAF executors) whose grouping keys are ALL
  bounded. Worse than a bounded-key window at scale: the whole group
  is materialized as ONE pandas frame in ONE Python worker — there is
  no sort/spill path at all. KNOWN_FLATMAP pins the reviewed list.

A ``bounded`` finding = a window/flatmap whose partition keys are ALL
either low-cardinality plain columns or literal-modulus derived keys;
its tier then decides severity. KNOWN_RAW is the reviewed exception
list for the ``raw`` tier; KNOWN_AGG_INPUT pins the reviewed
``agg_input`` entries; KNOWN_FLATMAP the reviewed per-group Python
executors.

Round-12 extensions (the two executor classes the r11 verdict and the
r12 self-review found the audit blind to):

- ``cogroup`` tier: ``FlatMapCoGroupsInPandas`` nodes (the
  applyInPandas cogroup executor); keys are read from the child
  Projects and ALL nodes are reported (a mapInArrow-minted key has no
  in-plan definition for the alias classifier). KNOWN_COGROUP pins.
- ``collect`` tier: Aggregate nodes whose output holds a value-buffer
  aggregate (collect_list/collect_set, exact percentile/median/mode,
  listagg). Buffers never spill, so group SIZE — not key cardinality
  — is the question, and only review answers it: ALL such nodes are
  reported by grouping-key name (``<global>`` for a whole-input
  buffer) and gated against KNOWN_COLLECT.

Usage: python tools/audit_window_plans.py [sf_dir]
Exits 1 if any ``raw``-tier bounded-key window, bounded-key flatmap,
cogroup, value-buffer aggregate, or ``opaque``-key window falls
outside its reviewed list.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Reviewed ``raw``-tier exceptions: window sorts on a bounded key
# whose input the classifier reads as raw rows. Keyed by entry name ->
# offending partition key set; each hit REVIEWED with the reason it is
# tolerated (documented diagnostic, pre-bounded input, or a planned
# two-pass rewrite tracked in COVERAGE.md). The r8 audit's initial
# sweep found 15; anything new fails the contract test until reviewed
# here.
KNOWN_RAW: dict[str, set[str]] = {
    # Input is pre-filtered to a constant slice (l_orderkey < 100, ~25
    # orders at any sf) — a rank-family SEMANTICS demo over a bounded
    # frame, not a corpus sort; the classifier can't see through the
    # Filter.
    "window_rank_family": {"l_returnflag"},
}

# Reviewed ``collect`` entries: Aggregate nodes whose output contains a
# per-group VALUE-BUFFER aggregate (collect_list/collect_set, exact
# percentile/median/mode, listagg) — the buffer holds the group's rows
# and, unlike a window sort, never spills, so group SIZE (not key
# cardinality) is the safety question and ONLY review can answer it
# (a corpus-keyed collect with a heavy-tailed key OOMs exactly like a
# bounded-keyed one). Every node is therefore reported by grouping-key
# name and pinned here with its size bound (r12 tier — the same
# blind-spot class the cogroup tier closed for Python executors).
# Known limitation (shared with every tier): a collect BELOW a
# persist()/checkpoint boundary hides inside InMemoryRelation — the
# LSH-bucket collect is pinned via the entries whose plans show it
# inline; the cluster-components consumers run the identical capped
# pipeline behind their persist.
KNOWN_COLLECT: dict[str, set[str]] = {
    # Banded-LSH pair expansion: one list per (band, bucket), size
    # capped at max_bucket_size by the anti-join AHEAD of the collect
    # (operators/dedup.py:215-220) — the cap is the entire point.
    "dedup_minhash_lsh": {"band", "bucket"},
    "dedup_minhash_survivors": {"band", "bucket"},
    "dedup_cross_modal_planted": {"band", "bucket"},
    "dedup_cross_modal_verdict": {"band", "bucket"},
    # Per-document token reassembly: group = one doc, buffer = that
    # doc's kept tokens — bounded by document length.
    "dedup_span_boilerplate": {"__id"},
    # Per-(doc, phrase) RAKE phrase rebuild — bounded by phrase length.
    "text_keywords_rake": {"doc_id", "phrase_id"},
    # Per-user event strings: the rn <= 20 filter runs BEFORE the
    # collect, so the buffer is <= 20 structs per user (the docstring
    # calls out the unbounded-collect OOM it avoids).
    "reshape_user_sequences": {"user_id"},
    # Dialect STRING_AGG/ARRAY_AGG semantics demos over DIM tables
    # (nation / orders priorities); the surface maps to Spark's
    # collect-based aggregate by design — corpus-scale string_agg has
    # the same contract in every SQL engine.
    "dialect_string_agg": {"_groupingexpression", "n_regionkey"},
    "dialect_array_agg": {"o_orderpriority"},
    # Exact percentile/median demos over l_returnflag (§2.4 parity
    # rows): the scale-safe twin is udaf_group_median_chunked
    # (grouped_global_rank value-chunk rank selection); these stay
    # pinned for the exact-aggregate SQL surface itself.
    "agg_percentiles": {"l_returnflag"},
    "agg_mode_median": {"l_returnflag"},
    # The approx-sketch entry ALSO computes the exact p50/p90 as the
    # oracle-comparable accuracy baseline — same demo class as above.
    "agg_approx_percentile": {"l_returnflag"},
    # (corpus_stats_by_stratum and events_anomaly_mad carried
    # corpus-sized-buffer pins for one commit each; both exact medians
    # are now grouped_global_rank value-chunk rank selections — the
    # tier's first driven fixes. Remaining pins are all capped
    # buffers, per-doc groups, or dim-table demos.)
}

# Reviewed ``agg_input`` entries: window over an Aggregate whose
# grouping bounds the frame. Reviewed once; pinned so new ones are
# visible.
KNOWN_AGG_INPUT: dict[str, set[str]] = {
    # Window over Aggregate[(key, bucket)]: |domain| x n_buckets rows.
    "agg_gini_binned": {"o_orderpriority"},
    "window_distribution_binned": {"o_orderpriority"},
    # The two-pass prefix-sum pattern itself (budget_fill, now routed
    # through grouped_prefix_sum): offsets window runs over
    # Aggregate[(lang, md5-prefix bucket)] — 256 rows per lang.
    "sample_token_budget": {"lang"},
    # All five share _user_edges, rewritten r8 to the two-pass chunked
    # lead (operators/sequence.py): the only event_type-partitioned
    # window left is the boundary stitch over one aggregated row per
    # (type, hour chunk) — span-bounded, map-side combined.
    "graph_adamic_adar": {"event_type"},
    "graph_degree_distribution": {"event_type"},
    "graph_neighbor_jaccard": {"event_type"},
    "graph_pagerank_users": {"event_type"},
    "graph_triangle_count": {"event_type"},
    # r8 rewrites of the per-group sequential/order-statistic scans:
    # chunked prefix decomposition (cusum, weighted median) and
    # grouped_global_rank (equidepth + distribution-function ntile,
    # winsorize cutpoints, interarrival gap quantiles, gini rank
    # moment) — the only bounded-key windows left are prefix-offset
    # chains over one aggregated row per chunk / value bucket.
    "events_cusum_changepoints": {"event_type"},
    "events_equidepth_quantiles": {"event_type"},
    "events_interarrival_profile": {"event_type"},
    "events_value_winsorize": {"event_type"},
    # r12 respell (the collect tier's first driven fix): both MAD
    # medians are grouped_global_rank value-chunk selections; the
    # event_type window left is the prefix-offset stitch over one
    # aggregated row per value chunk.
    "events_anomaly_mad": {"event_type"},
    "agg_gini_by_segment": {"o_orderpriority"},
    "agg_weighted_median": {"event_type"},
    "window_distribution_functions": {"o_orderpriority"},
    # r9 respell of the r8 derived-key finding (was raw: a corpus-scale
    # cumsum windowed on grp = doc_id % 8): the offset window now sees
    # one aggregated row per 4096-doc chunk; the corpus-scale window
    # partitions by (grp, chunk).
    "pack_sequences_chunked": {"grp=8"},
    # r9 addition, chunked by construction: rank + episode prefix sum
    # both via the two-pass primitives; the bare-type windows are the
    # offset stitches over one aggregated row per hour chunk.
    "events_sessionize_by_type": {"event_type"},
    # r10 scale twin of the pinned UDAF demo: the only bare-flag window
    # is grouped_global_rank's offsets stitch over one aggregated row
    # per ~1000-unit price chunk; the corpus-scale rank partitions by
    # (l_returnflag, __chunk).
    "udaf_group_median_chunked": {"l_returnflag"},
    # r11 grouped_carry rewrite (retired from KNOWN_RAW): the only
    # bare-type window left is the carry-in stitch over ONE aggregated
    # row per 512-bucket grid chunk; the grid-scale carry partitions by
    # (event_type, __chunk).
    "events_resample_locf": {"event_type"},
    "events_resample_interpolate": {"event_type"},
    # r9 addition: LPA shares _user_edges, so it inherits the same
    # boundary-stitch window over one aggregated row per (type, hour)
    # as the five graph entries above; the propagation rounds
    # themselves are join+groupBy only (no windows).
    "graph_label_propagation": {"event_type"},
}

# Reviewed ``opaque`` entries: windows whose partition key the
# classifier can neither bound nor prove unbounded (derived columns
# with no literal-modulus definition in the plan). Gated like raw /
# flatmap: a NEW opaque key fails the audit until a human reviews it
# here — previously this tier auto-passed, which is exactly how a
# bounded-parallelism `pid`-class key could slip through (r9 verdict).
# Opaque KEY NAMES reviewed as a CLASS: ``__chunk`` is the chunked
# two-pass decomposition's chunk column (operators/sequence.py
# primitives, plus pipeline_ops' inline cusum spelling of the same
# pattern) — chunk count is corpus-proportional BY CONSTRUCTION
# (value/time buckets of the order column). A (group, __chunk) window
# is the scale-SAFE spelling this audit exists to push entries toward,
# so it is allowed wherever it appears. A non-primitive column merely
# NAMED __chunk would ride this allowance — the contract test pins
# which source files may mint the name.
KNOWN_OPAQUE_KEYS: set[str] = {"__chunk"}

KNOWN_OPAQUE: dict[str, set[str]] = {
    # The two-phase zipWithIndex consumers (_partition_prefix_offsets):
    # Window.partitionBy("pid"), pid = spark_partition_id() over a
    # repartitionByRange whose partition count is CORPUS-PROPORTIONAL
    # (max(8, input scan partitions) — one range partition per
    # ~maxPartitionBytes). Cardinality grows with the data, so each
    # pid-task sorts a roughly fixed-size slice; the offsets frame the
    # windows ultimately stitch against is one row per partition.
    "reshape_global_ordinal": {"pid"},
    "shard_assign_bytes": {"pid"},
    # First-arrival pick per content fingerprint: fp is md5(text) —
    # cardinality grows with the corpus; rows per fp = that text's
    # duplicate count (the quantity dedup is removing).
    "dedup_incremental_new_docs": {"fp"},
    # Per-query MMR rerank: query_id domain = the query SET (a bounded
    # input, not the corpus); rows per query = the top-N candidate
    # pool the entry caps before reranking.
    "similarity_mmr_rerank": {"query_id"},
    # Ingest-monitoring curves: batch_id = event_id // batch_size —
    # grows with the corpus; rows per batch = the fixed batch size.
    # (stream_unified_drift_by_batch carried the same pin until r13:
    # its legs now window over the PERSISTED shared counts frame, so
    # batch_id's defining floor(event_id/250) expression sits behind
    # the InMemoryRelation boundary and the classifier correctly
    # reports the key unbounded — corpus-growing batch count, real
    # shuffle parallelism, nothing to pin. The standalone KS leg still
    # prints the definition inline and keeps its reviewed pin.)
    "stream_ks_drift_by_batch": {"batch_id"},
    # bucket = n_tokens/64 (length buckets): domain grows with max doc
    # LENGTH, not corpus. The corpus-scale rank runs within (bucket,
    # __chunk = exact length) via grouped_global_rank (r10 respell);
    # the remaining bare-bucket window is the offsets stitch over ONE
    # aggregated row per distinct length — the agg_input shape, filed
    # here only because the classifier can't bound the derived key.
    "pack_batches_bucketed": {"bucket"},
    # __g = concat(lang, source) stratum key for the r12 p50 respell
    # (grouped_global_rank value chunks): the corpus-scale rank runs
    # within (__g, __chunk = exact token count); the bare-__g window
    # is the offsets stitch over ONE aggregated row per (stratum,
    # distinct token count) — agg_input shape, filed here because the
    # concat key has no classifier-derivable bound.
    "corpus_stats_by_stratum": {"__g"},
    # grp = doc_id % N with N corpus-scaled (max(8, ceil(n_docs/2048)),
    # _packing_input_scaled): ~2048 docs per group at any scale. The
    # classifier correctly refuses to bound a non-literal modulus;
    # that non-literal N is exactly what makes it scale.
    "pack_sequences_greedy": {"grp"},
}

# Reviewed ``cogroup`` entries: EVERY FlatMapCoGroupsInPandas executor,
# by grouping-key name (see parse_cogroups for why this tier reports
# all nodes, not just bounded-key ones). All current members are the
# ANN search family (operators/similarity.py); each is scale-safe
# because its key set's cardinality grows with the corpus:
# - ``__blk`` (cosine_topk_blocked): block count = corpus scan
#   partitions × query scan partitions by default — corpus-proportional
#   by construction.
# - ``__list`` / ``__bucket`` + ``__ck`` (ivf/ivfpq/lsh): the list or
#   signature domain is FIXED (num_lists / 2^num_planes), so the r12
#   _subchunk split adds a ``__ck`` sub-chunk key whose default count
#   keeps lists × chunks tracking the corpus scan partition count
#   (_derive_chunks). At test sf the derived chunk count is 1 and no
#   __ck column appears — each pin includes __ck so the same entry
#   stays reviewed at any sf (the gate is subset-of-pin).
KNOWN_COGROUP: dict[str, set[str]] = {
    # blocked exact search: __blk domain = corpus blocks × query
    # blocks, both defaulting to the side's scan partition count —
    # corpus-proportional with no fixed-domain component.
    "similarity_topk_batch": {"__blk"},
    # r12 plain-PQ batch twin: same corpus-proportional __blk blocking
    # over the CODES table (pq_topk delegates here past its cap).
    "similarity_pq_batch": {"__blk"},
    # LSH bucket join: signature domain fixed at 2^num_planes;
    # _subchunk adds __ck (lsh consumers share ann_lsh_topk).
    "similarity_ann_lsh": {"__bucket", "__ck"},
    "similarity_ann_recall": {"__bucket", "__ck"},
    # IVF / IVFADC family: list domain fixed at num_lists; _subchunk
    # adds __ck so lists × chunks tracks the corpus scan partitions.
    "similarity_ivf": {"__list", "__ck"},
    "similarity_ivf_recall": {"__list", "__ck"},
    "similarity_ivfpq": {"__list", "__ck"},
    "similarity_ivfpq_batch": {"__list", "__ck"},
    "similarity_ivfpq_residual": {"__list", "__ck"},
}

# Reviewed ``flatmap`` entries: applyInPandas/MapGroups executors whose
# grouping keys are bounded — one Python worker holds 1/|domain| of the
# input frame. Each pin names why it is tolerated and the scale default.
KNOWN_FLATMAP: dict[str, set[str]] = {
    # The SURVEY §2.8 UDAF-parity demo (reference custom.cu analog):
    # applyInPandas IS the point of the entry. 3 groups = one third of
    # lineitem per worker at scale — its scale-safe twin is
    # udaf_group_median_chunked (grouped_global_rank value-chunk rank
    # selection, identical output + oracle, no Python executor); keep
    # the demo pinned ONLY for the applyInPandas surface itself.
    "udaf_group_median": {"l_returnflag"},
}

LOW_CARD_MAX = 10
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def low_cardinality_columns(sf_dir: str) -> set[str]:
    """Column names whose distinct count is <= LOW_CARD_MAX, measured
    from the data with DuckDB (bounded categorical domains stay bounded
    at every sf; key/id/value domains grow past the threshold even at
    sf0.001)."""
    import duckdb

    con = duckdb.connect()
    low: set[str] = set()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        rel = con.sql(f"SELECT * FROM '{path}' LIMIT 0")
        for col, typ in zip(rel.columns, rel.types):
            if str(typ).startswith(("BLOB", "STRUCT", "LIST", "FLOAT[]")):
                continue
            n = con.sql(f'SELECT count(DISTINCT "{col}") FROM \'{path}\'').fetchone()[0]
            if n <= LOW_CARD_MAX:
                low.add(col)
    return low


def _node_depth(line: str) -> int:
    """Tree depth of a plan line = offset of the node name past the
    ``:  +- `` scaffolding toString() draws."""
    return len(line) - len(line.lstrip(" :+-"))


# Nodes that merely arrange rows for their parent (no row-count or
# grouping change): skip them when classifying a Window's input. They
# appear when a persisted frame embeds its PHYSICAL plan inside
# InMemoryRelation — there a Window's child is mechanically
# Sort <- Exchange <- <real input>.
_PASS_THROUGH = (
    "Sort ", "Sort[", "Exchange", "ShuffleQueryStage", "AQEShuffleRead",
    "InputAdapter", "WholeStageCodegen", "ColumnarToRow",
    "Project", "Filter", "InMemoryRelation", "InMemoryTableScan",
    # AQE stage wrappers print their subtree inline — walk straight in
    # (ReusedExchange is NOT here: it is a leaf REFERENCE, resolved by
    # the plan_id jump in _meaningful_child)
    "TableCacheQueryStage", "BroadcastQueryStage", "ResultQueryStage",
    # a stacked Window preserves row count — the sort-input question is
    # about what ultimately feeds the stack (e.g. prefix-offset chains
    # compute O then P over the same per-chunk aggregate)
    "Window [",
)

_PLAN_ID_RE = re.compile(r"\[plan_id=(\d+)\]")


def _strip_codegen(body: str) -> str:
    """Drop the ``*(3) `` whole-stage-codegen prefix physical nodes carry."""
    if body.startswith("*(") and ") " in body:
        return body.split(") ", 1)[1]
    return body


def _meaningful_child(lines: list[str], i: int) -> str:
    """The first non-pass-through descendant of the node at line i,
    following the first-child chain (a plan's first child prints on
    the next line, one depth deeper). Project/Filter are pass-through
    for THIS audit: they don't change row counts enough to matter for
    the sort-input question (a selective Filter CAN bound the input —
    window_rank_family — but that stays a human review call in
    KNOWN_RAW, not an automatic pass)."""
    depth = _node_depth(lines[i])
    j = i + 1
    jumped: set[str] = set()
    while j < len(lines):
        nxt = lines[j]
        if not nxt.strip():
            j += 1
            continue
        d = _node_depth(nxt)
        if d <= depth:
            return ""
        body = _strip_codegen(nxt.lstrip(" :+-"))
        # ReusedExchange is a LEAF that references another Exchange by
        # plan_id (its subtree prints only at the original site). A
        # cached AQE physical plan routinely puts one directly under a
        # Window's Sort — treating it as an ordinary dead-end would
        # classify the window by a child we simply didn't follow. Jump
        # to the referenced exchange and keep walking from there.
        if body.startswith("ReusedExchange"):
            m = _PLAN_ID_RE.search(body)
            target = m.group(1) if m else None
            if target and target not in jumped:
                jumped.add(target)
                for k, cand in enumerate(lines):
                    cb = _strip_codegen(cand.lstrip(" :+-"))
                    if cb.startswith(("Exchange", "BroadcastExchange")) and (
                        f"[plan_id={target}]" in cb
                    ):
                        depth = _node_depth(cand)
                        j = k + 1
                        break
                else:
                    return body  # target not printed: report the reference
                continue
            return body
        # Filter is pass-through only while hunting the input; an
        # Aggregate/WindowGroupLimit behind filters still classifies.
        # (InMemoryRelation/InMemoryTableScan are in _PASS_THROUGH too:
        # the cached plan prints inside them, so we walk straight in.)
        if body.startswith(_PASS_THROUGH):
            depth = d
            j += 1
            continue
        return body
    return ""


def _alias_def(plan: str, token: str) -> str | None:
    """The defining expression of an aliased column in a plan string:
    the balanced expression immediately preceding `` AS name#id`` (the
    first definition found — exprIds are unique per plan, so one
    definition exists at most). Returns None for non-aliased (source)
    columns."""
    # exprId boundary: ``AS grp#12`` must not match ``AS grp#123``
    # (r9 review: prefix collisions attributed another column's
    # definition and could misclassify a bounded key as opaque)
    m = re.search(rf" AS {re.escape(token)}(?![0-9])", plan)
    if m is None:
        return None
    at = m.start()
    marker = m.group(0)
    # Backscan: balanced-paren expression if it ends with ")", else a
    # single token (identifier/function call without trailing paren is
    # always parenthesized in toString, so the simple cases suffice).
    i = at - 1
    if plan[i] == ")":
        depth = 0
        while i >= 0:
            if plan[i] == ")":
                depth += 1
            elif plan[i] == "(":
                depth -= 1
                if depth == 0:
                    break
            i -= 1
        # include a leading function name (cast(...), pmod(...))
        j = i - 1
        while j >= 0 and (plan[j].isalnum() or plan[j] == "_"):
            j -= 1
        return plan[j + 1 : at]
    while i >= 0 and plan[i] not in "[,( ":
        i -= 1
    return plan[i + 1 : at]


_MOD_RE = re.compile(r"%\s*(\d+)\)")
_PMOD_RE = re.compile(r"pmod\([^(),]*,\s*(\d+)\)")


def _est_cardinality(expr: str) -> int | None:
    """Upper bound on an expression's distinct-value count, when one is
    statically derivable: a LITERAL modulus caps the domain at its
    value no matter what feeds it. Multiple moduli -> the smallest
    (conservative: flags more). A modulus that is itself an expression
    (scalar subquery, greatest(...)) yields no bound — that is exactly
    the corpus-scaled group-count pattern. None = unknown."""
    mods = [int(m) for m in _MOD_RE.findall(expr)]
    mods += [int(m) for m in _PMOD_RE.findall(expr)]
    return min(mods) if mods else None


def _classify_key(token: str, plan: str, low_card: set[str]) -> tuple[str, str]:
    """(kind, label) for one partition/grouping key token.

    kind: ``bounded`` (low-card source column, or derived with literal
    modulus <= LOW_CARD_MAX), ``unbounded`` (plain column not low-card,
    or derived whose estimated bound exceeds the threshold), or
    ``opaque`` (expression with no derivable bound).
    """
    # A literal modulus above the bounded threshold is still a FIXED
    # domain — never "real parallelism" at 100 TB (pmod(x, 32) is one
    # task per 1/32 of the corpus forever). Such keys stay VISIBLE in
    # the opaque tier rather than vanishing as unbounded (r9 review:
    # the first cut silently dropped them, regressing the pre-r9
    # everything-unresolvable-is-visible guarantee).
    if "(" in token:  # inline (non-aliased) expression key
        card = _est_cardinality(token)
        if card is not None and card <= LOW_CARD_MAX:
            return ("bounded", f"expr={card}")
        if card is not None:
            return ("opaque", f"expr={card}")
        return ("opaque", token.split("#")[0][:40])
    name = token.split("#")[0]
    if name in low_card:
        return ("bounded", name)
    definition = _alias_def(plan, token)
    if definition is None:
        return ("unbounded", name)  # plain source column, high-card
    card = _est_cardinality(definition)
    if card is not None:
        if card <= LOW_CARD_MAX:
            return ("bounded", f"{name}={card}")
        return ("opaque", f"{name}={card}")
    return ("opaque", name)


def parse_flatmaps(plan: str) -> list[list[str]]:
    """Grouping-key token lists of every FlatMapGroupsInPandas /
    MapGroups node (the applyInPandas / Dataset.groupByKey executors:
    each group becomes ONE in-memory frame in ONE worker)."""
    out: list[list[str]] = []
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        if body.startswith(("FlatMapGroupsInPandas [", "MapGroups [")):
            keys = body.split("[", 1)[1].split("]", 1)[0]
            out.append([k for k in keys.split(", ") if k])
    return out


def _split_top_level(s: str) -> list[str]:
    """Split a projection list on top-level ``, `` (paren/bracket-depth
    aware — expressions like ``pmod(xxhash64(id#1, 42), 2) AS __ck#9``
    contain nested commas)."""
    parts, depth, start = [], 0, 0
    i = 0
    while i < len(s):
        ch = s[i]
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0 and s[i : i + 2] == ", ":
            parts.append(s[start:i])
            start = i + 2
            i += 1
        i += 1
    parts.append(s[start:])
    return [p for p in parts if p]


def _key_name(token: str) -> str:
    """Plain column name of one grouping-key projection token:
    ``__list#9`` → ``__list``; ``pmod(...) AS __ck#5`` → ``__ck``."""
    if " AS " in token:
        token = token.rsplit(" AS ", 1)[1]
    return token.split("#")[0].strip()


def parse_cogroups(plan: str) -> list[list[str]]:
    """Grouping-key NAME lists of every FlatMapCoGroupsInPandas node
    (the applyInPandas cogroup executor: one (left group, right group)
    pair per Python worker — the r11 verdict's audit blind spot: the
    node's toString carries only the two grouping-attribute COUNTS,
    ``FlatMapCoGroupsInPandas nLeft, nRight, func, [output]``; the keys
    are the LEADING nLeft/nRight columns of its two child Projects).

    Unlike the flatmap tier, findings here are ALL nodes (by key name),
    not just bounded-key ones: a cogroup key minted by mapInArrow
    (``__list``) has no in-plan definition, so the alias classifier
    reads it as an unbounded plain column and would pass the exact
    fixed-domain case the tier exists to catch. The executor class is
    rare (the ANN search family), so full review is cheap and
    fail-closed. A child that is not a Project yields ``<unparsed>`` —
    visible, never silent."""
    lines = plan.splitlines()
    out: list[list[str]] = []
    for i, line in enumerate(lines):
        body = line.lstrip(" :+-")
        if not body.startswith("FlatMapCoGroupsInPandas "):
            continue
        head = body.split(" ", 1)[1]
        try:
            n_left = int(head.split(",", 1)[0])
            n_right = int(head.split(",", 2)[1])
        except (ValueError, IndexError):
            out.append(["<unparsed>"])
            continue
        depth = _node_depth(line)
        children: list[str] = []
        child_depth = None
        for nxt in lines[i + 1 :]:
            if not nxt.strip():
                continue
            d = _node_depth(nxt)
            if d <= depth:
                break
            if child_depth is None:
                child_depth = d
            if d == child_depth:
                children.append(_strip_codegen(nxt.lstrip(" :+-")))
                if len(children) == 2:
                    break
        keys: set[str] = set()
        for child, n in zip(children, (n_left, n_right)):
            if not child.startswith("Project [") or not child.endswith("]"):
                keys.add("<unparsed>")
                continue
            toks = _split_top_level(child[len("Project [") : -1])
            if len(toks) < n:
                keys.add("<unparsed>")
                continue
            keys.update(_key_name(t) for t in toks[:n])
        if len(children) < 2:
            keys.add("<unparsed>")
        out.append(sorted(keys))
    return out


#: Per-group value-buffer aggregates (never spill; buffer ~ group
#: size). Negative lookbehind keeps bounded SKETCH aggregates out:
#: ``approx_percentile(`` / ``percentile_approx(`` don't match.
_BUFFER_AGG_RE = re.compile(
    r"(?<![A-Za-z_])(collect_list|collect_set|percentile|median|mode|listagg)\("
)


def _top_level_groups(s: str) -> list[str]:
    """Top-level ``[...]`` group contents of a node body (depth-aware —
    aggregate expressions nest brackets)."""
    groups: list[str] = []
    depth, start = 0, 0
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(s[start:i])
    return groups


def parse_collects(plan: str) -> list[list[str]]:
    """Grouping-key NAME lists of every Aggregate node whose output
    contains a value-buffer aggregate (_BUFFER_AGG_RE). Logical
    Aggregate toString is ``Aggregate [groupExprs], [outputExprs]``
    (one list = global aggregate, reported as ``<global>`` — the
    whole input in ONE buffer). Like the cogroup tier, ALL nodes are
    reported by key name rather than cardinality-classified: a
    collect buffer never spills, so group SIZE — knowable only by
    review — is the safety question, and a corpus-keyed collect with
    a heavy-tailed key is as dangerous as a bounded-keyed one."""
    out: list[list[str]] = []
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        if not body.startswith("Aggregate "):
            continue
        groups = _top_level_groups(body[len("Aggregate "):])
        if not groups or not _BUFFER_AGG_RE.search(groups[-1]):
            continue
        if len(groups) == 1:
            out.append(["<global>"])
        else:
            out.append(sorted(_key_name(t) for t in _split_top_level(groups[0])))
    return out


def parse_windows(plan: str) -> list[dict]:
    """Window nodes from an optimized-plan string, each with its
    partition columns and the node type of its IMMEDIATE child (the
    window's input). Window's toString is
    ``Window [funcs], [partitionCols], [orderCols]`` — the funcs list
    nests windowspecdefinition(...) brackets, so the partition/order
    lists are taken from the right."""
    lines = plan.splitlines()
    out: list[dict] = []
    for i, line in enumerate(lines):
        body = line.lstrip(" :+-")
        if not body.startswith("Window ["):
            continue
        parts = body.rstrip("]").rsplit("], [", 2)
        part_cols: list[str] = []
        if len(parts) == 3 and parts[1].strip():
            # full name#exprId tokens — _classify_key resolves aliases
            part_cols = parts[1].split(", ")
        child = _meaningful_child(lines, i)
        if child.startswith("WindowGroupLimit"):
            tier = "groups_limited"
        elif child.startswith(
            ("Aggregate", "HashAggregate", "SortAggregate", "ObjectHashAggregate")
        ):
            tier = "agg_input"
        else:
            tier = "raw"
        out.append({"partition": part_cols, "tier": tier, "child": child[:60]})
    return out


def window_partition_findings(df, low_card: set[str]):
    """Per-tier findings for one DataFrame's optimized plan. A window
    or flatmap counts as ``bounded`` only when it HAS a partition spec
    and EVERY key classifies bounded — low-cardinality plain column OR
    literal-modulus derived key (a single high-cardinality or
    manufactured key gives the shuffle real parallelism). Keys with no
    derivable bound are reported in ``opaque`` (unless a sibling key
    already unbounds the node). Global windows (empty partition) are a
    different audit — the optimizer resolves the safe ones to
    TakeOrderedAndProject and the headline plan pins cover those."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    findings: dict[str, list[str]] = {
        "raw": [], "agg_input": [], "groups_limited": [], "opaque": [],
        "flatmap": [], "cogroup": [], "collect": [],
    }

    def classify(cols: list[str]) -> tuple[str | None, list[str]]:
        kinds = [_classify_key(c, plan, low_card) for c in cols]
        if any(kind == "unbounded" for kind, _ in kinds):
            return None, []
        if all(kind == "bounded" for kind, _ in kinds):
            return "bounded", [label for _, label in kinds]
        return "opaque", [label for kind, label in kinds if kind == "opaque"]

    for w in parse_windows(plan):
        if not w["partition"]:
            continue
        verdict, labels = classify(w["partition"])
        if verdict == "bounded":
            findings[w["tier"]].extend(labels)
        elif verdict == "opaque":
            findings["opaque"].extend(labels)
    for keys in parse_flatmaps(plan):
        if not keys:
            continue
        verdict, labels = classify(keys)
        if verdict == "bounded":
            findings["flatmap"].extend(labels)
        elif verdict == "opaque":
            findings["opaque"].extend(labels)
    for keys in parse_cogroups(plan):
        findings["cogroup"].extend(keys)
    for keys in parse_collects(plan):
        findings["collect"].extend(keys)
    return findings


def audit(spark, sf_dir: str):
    """Sweep every inventory entry. Returns (findings, errors):
    findings maps tier -> {entry name -> sorted unique key list}.
    Construction-only: each entry's DataFrame is built (lazy) and its
    optimized plan read — no execution beyond what an entry's own
    construction triggers (a few entries run bounded jobs to derive
    centroids/caches; sf0.001 keeps that cheap)."""
    from warpdb_spark import inventory

    q, _ = inventory.load_all()
    low_card = low_cardinality_columns(sf_dir)
    tiers = (
        "raw", "agg_input", "groups_limited", "opaque", "flatmap",
        "cogroup", "collect",
    )
    findings: dict[str, dict[str, list[str]]] = {t: {} for t in tiers}
    errors: dict[str, str] = {}
    try:
        for name, fn in q.items():
            try:
                f = window_partition_findings(fn(spark, sf_dir), low_card)
            except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
                errors[name] = f"{type(e).__name__}: {e}"[:200]
                continue
            for t in tiers:
                if f[t]:
                    findings[t][name] = sorted(set(f[t]))
    finally:
        spark.catalog.clearCache()
    return findings, errors


def main() -> int:
    from warpdb_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("audit-window-plans", shuffle_partitions=8)
    findings, errors = audit(spark, sf_dir)

    print(f"# audited inventory at {sf_dir}")
    for tier in (
        "raw", "agg_input", "groups_limited", "opaque", "flatmap",
        "cogroup", "collect",
    ):
        hits = findings[tier]
        print(f"# {tier}: {len(hits)} entries")
        for name, cols in sorted(hits.items()):
            known = (
                "reviewed"
                if (tier == "raw" and name in KNOWN_RAW)
                or (tier == "agg_input" and name in KNOWN_AGG_INPUT)
                or (tier == "flatmap" and name in KNOWN_FLATMAP)
                or (
                    tier == "cogroup"
                    and set(cols) <= KNOWN_COGROUP.get(name, set())
                )
                or (
                    tier == "collect"
                    and set(cols) <= KNOWN_COLLECT.get(name, set())
                )
                or (
                    tier == "opaque"
                    and set(cols)
                    <= KNOWN_OPAQUE.get(name, set()) | KNOWN_OPAQUE_KEYS
                )
                or tier == "groups_limited"
                else "NEW"
            )
            print(f"  [{known}] {name}: {cols}")
    if errors:
        print(f"# construction errors: {len(errors)}")
        for name, err in sorted(errors.items()):
            print(f"  [error] {name}: {err}")

    rc = 0
    for tier, reviewed in (
        ("raw", KNOWN_RAW),
        ("flatmap", KNOWN_FLATMAP),
        ("cogroup", KNOWN_COGROUP),
        ("collect", KNOWN_COLLECT),
        ("opaque", KNOWN_OPAQUE),
    ):
        new = {}
        for n, cols in findings[tier].items():
            cols_set = set(cols)
            if tier == "opaque":
                cols_set -= KNOWN_OPAQUE_KEYS
            if cols_set and (n not in reviewed or not cols_set <= reviewed[n]):
                new[n] = sorted(cols_set)
        if new:
            print(f"FAIL: {tier}-tier findings outside the reviewed list: {new}")
            rc = 1
        fixed = sorted(set(reviewed) - set(findings[tier]))
        if fixed:
            print(f"NOTE: reviewed {tier} entries no longer found (fixed? prune): {fixed}")
    if rc == 0:
        print(
            "OK: no undocumented bounded-key window sorts, per-group "
            "Python executors, or value-buffer aggregates in the "
            "inventory"
        )
    return rc


if __name__ == "__main__":
    sys.exit(main())
