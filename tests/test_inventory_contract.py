"""Inventory loading contract: ``load_all()`` is a plain merge of the
submodules in module order, a name defined twice (or an oracle without
a query) fails loudly instead of being silently shadowed, and a
submodule that can't import is loud too (a silent except-ImportError
previously made 34 entries vanish)."""

import sys

import pytest

from warpdb_spark import inventory
from warpdb_spark.inventory import (
    analytics_ext,
    core_sql,
    curation_ext,
    pipeline_ops,
    retrieval_ops,
    scale_ops,
    tpch_extra,
)

MODULE_ORDER = (core_sql, tpch_extra, pipeline_ops, analytics_ext, retrieval_ops,
                scale_ops, curation_ext)


def test_load_all_merges_modules_in_order():
    q, o = inventory.load_all()
    assert list(q) == [n for m in MODULE_ORDER for n in m.QUERIES]
    assert all(callable(f) for f in q.values())
    # oracle coverage stays declared
    assert set(o) <= set(q)


def test_duplicate_name_across_modules_raises(monkeypatch):
    """A name defined in two modules used to be shadowed by the later
    module's callable (and oracle) without a word."""
    name = next(iter(core_sql.QUERIES))
    monkeypatch.setitem(curation_ext.QUERIES, name, core_sql.QUERIES[name])
    with pytest.raises(RuntimeError, match=f"defined twice: {name} \\(core_sql, curation_ext\\)"):
        inventory.load_all()


def test_oracle_without_query_raises(monkeypatch):
    monkeypatch.setitem(scale_ops.ORACLES, "no_such_entry", "SELECT 1")
    with pytest.raises(RuntimeError, match="no_such_entry"):
        inventory.load_all()


@pytest.mark.slow
def test_no_nested_typed_result_columns(spark, sf_dir):
    """The driver's canonicalizer runs pandas ``sort_values`` over the
    raw result columns and dies with ``TypeError: unhashable type:
    'list'`` on any array/map/struct-typed cell (the r4
    ``dialect_array_agg`` red row). Ban the class: every entry's result
    schema must be flat — serialize nested values (array_join/to_json)
    before returning them."""
    from pyspark.sql import types as T

    q, _ = inventory.load_all()
    offenders = {}
    try:
        for name, fn in q.items():
            # mostly analysis-only; a few entries (the two-phase
            # prefix-sum family) run driver-side aggregate jobs and
            # persist() at DataFrame-construction time
            schema = fn(spark, sf_dir).schema
            nested = [
                f.name
                for f in schema.fields
                if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
            ]
            if nested:
                offenders[name] = nested
    finally:
        # drop the construction-time persist()s so the shared session
        # fixture doesn't carry pinned DataFrames for the rest of the run
        spark.catalog.clearCache()
    assert not offenders, (
        "entries returning nested-typed columns (driver canonicalizer "
        f"cannot hash them): {offenders}"
    )


@pytest.mark.slow
def test_no_long_product_moment_sums(spark, sf_dir):
    """Ban the rows²-growth int64 overflow class: a SUM over a product
    of two long-typed columns (Σ i·x rank moments, Σ x² second
    moments) crosses int64 at a few million rows per group — ANSI mode
    crashes at scale, non-ANSI silently wraps (found live in round 6:
    agg_gini_by_segment and events_trend_ols both crashed a 20M-row
    replay). Integer product-moments must accumulate in decimal(38,0);
    tools/lint_moment_overflow.py holds the rule over every entry's
    analyzed plan."""
    from tools.lint_moment_overflow import lint_df

    q, _ = inventory.load_all()
    offenders = {}
    try:
        for name, fn in q.items():
            try:
                findings = lint_df(fn(spark, sf_dir))
            except Exception:
                continue  # construction failures are other tests' business
            if findings:
                offenders[name] = findings
    finally:
        spark.catalog.clearCache()
    assert not offenders, (
        f"long-product moment sums (int64 overflow at scale): {offenders}"
    )


def test_submodule_import_failure_is_loud(monkeypatch):
    """If pipeline_ops can't import, load_all must raise — not quietly
    drop its 34 entries and report a greener round than is real."""
    monkeypatch.delattr(inventory, "pipeline_ops", raising=False)
    monkeypatch.delitem(sys.modules, "warpdb_spark.inventory.pipeline_ops", raising=False)
    monkeypatch.setitem(sys.modules, "warpdb_spark.inventory.pipeline_ops", None)
    with pytest.raises(ImportError):
        inventory.load_all()


@pytest.mark.slow
def test_inventory_window_audit_matches_reviewed_exceptions(spark, sf_dir):
    """Inventory-WIDE extension of the headline window lint (r7 verdict
    item 5): sweep every entry's optimized plan with
    tools/audit_window_plans.py and pin the findings to the reviewed
    exception lists. A new bounded-key window sort anywhere in the 262
    entries — or an existing safe entry whose plan silently degrades to
    the raw tier — fails here until it is reviewed and either fixed or
    added to KNOWN_RAW with a reason. Equality (not subset) both ways:
    an entry that gets FIXED must also be pruned from the list, so the
    pins never go stale."""
    from tools.audit_window_plans import (
        KNOWN_AGG_INPUT,
        KNOWN_COGROUP,
        KNOWN_COLLECT,
        KNOWN_FLATMAP,
        KNOWN_OPAQUE,
        KNOWN_OPAQUE_KEYS,
        KNOWN_RAW,
        audit,
    )

    findings, errors = audit(spark, sf_dir)
    assert not errors, f"entries failed to construct during audit: {errors}"
    raw = {n: set(c) for n, c in findings["raw"].items()}
    agg = {n: set(c) for n, c in findings["agg_input"].items()}
    flatmap = {n: set(c) for n, c in findings["flatmap"].items()}
    assert raw == KNOWN_RAW, (
        "raw-tier bounded-key window sorts diverge from the reviewed "
        f"list — new offender or stale pin. findings={raw}"
    )
    assert agg == KNOWN_AGG_INPUT, (
        "agg-input bounded-key windows diverge from the reviewed list. "
        f"findings={agg}"
    )
    assert flatmap == KNOWN_FLATMAP, (
        "bounded-key applyInPandas/MapGroups executors diverge from the "
        f"reviewed list (one worker holds 1/|domain| of the input at "
        f"scale). findings={flatmap}"
    )
    # opaque tier (gated r10): after stripping the class-reviewed
    # __chunk key, findings must equal the per-entry pins exactly —
    # a NEW unbounded/underived window key needs a review note, and a
    # fixed one must be pruned.
    opaque = {
        n: set(c) - KNOWN_OPAQUE_KEYS for n, c in findings["opaque"].items()
    }
    opaque = {n: c for n, c in opaque.items() if c}
    assert opaque == KNOWN_OPAQUE, (
        "opaque-key windows diverge from the reviewed list — new "
        f"unclassifiable partition key or stale pin. findings={opaque}"
    )
    # cogroup tier (gated r12 — the r11 verdict's blind spot): the
    # ENTRY set must match the pins exactly (a retired cogroup must be
    # pruned); key sets match up to ``__ck``, the _subchunk column
    # whose presence depends on the corpus scan partition count at the
    # test sf (pins include it; a 1-partition test corpus won't).
    cogroup = {n: set(c) for n, c in findings["cogroup"].items()}
    assert set(cogroup) == set(KNOWN_COGROUP), (
        "FlatMapCoGroupsInPandas executors diverge from the reviewed "
        f"entry list. findings={cogroup}"
    )
    for n, keys in cogroup.items():
        assert keys <= KNOWN_COGROUP[n] and keys >= KNOWN_COGROUP[n] - {"__ck"}, (
            f"cogroup keys for {n} diverge from the reviewed pin: "
            f"found {keys}, pinned {KNOWN_COGROUP[n]}"
        )
    # collect tier (gated r12): every Aggregate with a value-buffer
    # aggregate (collect_list/set, exact percentile/median/mode,
    # listagg) must match the reviewed pins exactly — buffers never
    # spill, so each pin documents the group-SIZE bound that makes it
    # safe, and a fixed/respelled entry must be pruned.
    collect = {n: set(c) for n, c in findings["collect"].items()}
    assert collect == KNOWN_COLLECT, (
        "value-buffer aggregates diverge from the reviewed list — new "
        f"unreviewed collect/exact-percentile buffer or stale pin. "
        f"findings={collect}"
    )


def test_chunk_column_name_minted_only_in_reviewed_files():
    """The audit's KNOWN_OPAQUE_KEYS allowance passes any window keyed
    on ``__chunk`` because that name is the chunked two-pass
    primitives' corpus-proportional chunk column. That allowance is
    only sound while the name stays confined to the reviewed files —
    a new module naming some bounded column __chunk would silently
    ride it. Pin the file set."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "warpdb_spark"
    minters = sorted(
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "__chunk" in p.read_text()
    )
    assert minters == [
        "inventory/pipeline_ops.py",
        "operators/sequence.py",
    ], minters


def test_with_ties_plan_has_no_window_node(spark, sf_dir):
    """WITH TIES executes as the two-pass boundary-key plan (r10 verdict
    item 1): pass 1 TakeOrderedAndProject's the sort keys to the top-n
    and collects ONE boundary row; pass 2 filters the input by an
    explicit lexicographic predicate. The old spelling — rank() over an
    UNPARTITIONED Window — funneled the whole corpus through one task;
    this pin fails if any spelling of WITH TIES regresses to a Window
    node (the audit tool skips empty-partition windows by design, so
    the shape is pinned here)."""
    from warpdb_spark.api import WarpDB

    db = WarpDB(f"{sf_dir}/orders.parquet", table_name="orders", spark=spark)
    for sql in (
        # single key, the inventory entry's shape
        "SELECT o_custkey, count(*) AS n FROM orders "
        "GROUP BY o_custkey ORDER BY n DESC LIMIT 10 WITH TIES",
        # multi-key + explicit nulls placement + expression key
        "SELECT o_orderkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC NULLS FIRST, o_orderkey % 7 ASC "
        "FETCH FIRST 5 ROWS WITH TIES",
    ):
        df = db.query_sql(sql)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Window [" not in plan, (
            f"WITH TIES regressed to a window plan for {sql!r}:\n{plan}"
        )


class TestCapabilityOverlap:
    """Mechanized r10-incident guard (r10 verdict item 9): two late
    additions duplicated existing capabilities under new names. The
    overlap index (IDF-weighted distinctive-token similarity over
    oracle SQL) pins the strong-signal tier to a reviewed twins list
    and keeps the nearest-neighbor detector calibrated on the actual
    incident SQL recovered from git history."""

    # the two removed r10 oracles, verbatim (commit 1c73c4f's deletion)
    _TEMPERATURE_SQL = (
        r"WITH per AS (SELECT source, sum(len(string_split_regex(trim(text), "
        r"'\s+'))) AS n_tokens FROM documents GROUP BY source), "
        "tot AS (SELECT sum(n_tokens) AS z1, sum(sqrt(n_tokens)) AS z2 FROM per) "
        "SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, "
        "round(n_tokens / z1, 6) AS weight_t1, "
        "round(sqrt(n_tokens) / z2, 6) AS weight_t2, "
        "round((sqrt(n_tokens) / z2) / (n_tokens / z1), 6) AS upsample_x "
        "FROM per, tot"
    )
    _PII_SQL = (
        "WITH d AS (SELECT source, text "
        "|| CASE WHEN doc_id % 7 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END "
        "|| CASE WHEN doc_id % 11 = 3 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 254 + 1 AS VARCHAR) ELSE '' END "
        "|| CASE WHEN doc_id % 13 = 5 THEN ' call +1-555-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END AS t "
        "FROM documents), "
        r"m AS (SELECT source, len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9.]+\.com')) AS ne, "
        r"len(regexp_extract_all(t, '[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+')) AS ni, "
        r"len(regexp_extract_all(t, '\+1-555-[0-9]{4}')) AS np, "
        "length(t) - length(regexp_replace(regexp_replace(regexp_replace(t, "
        r"'[a-z0-9]+@[a-z0-9.]+\.com', '[EMAIL]', 'g'), "
        r"'[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+', '[IP]', 'g'), "
        r"'\+1-555-[0-9]{4}', '[PHONE]', 'g')) AS removed FROM d) "
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(CASE WHEN ne + ni + np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii, "
        "CAST(sum(ne) AS BIGINT) AS n_emails, CAST(sum(ni) AS BIGINT) AS n_ips, "
        "CAST(sum(np) AS BIGINT) AS n_phones, "
        "CAST(sum(removed) AS BIGINT) AS chars_removed "
        "FROM m GROUP BY source"
    )

    @pytest.fixture(scope="class")
    def idx(self):
        from warpdb_spark.inventory.overlap import OverlapIndex

        _, oracles = inventory.load_all()
        return OverlapIndex(oracles)

    def test_strong_signal_pairs_equal_reviewed_twins(self, idx):
        """Equality both ways: a NEW >=TWIN_THRESH pair needs a review
        note; a pruned/renamed entry must leave the allowlist too."""
        from warpdb_spark.inventory.overlap import ALLOWED_TWINS

        found = {(a, b) for _, a, b in idx.twin_pairs()}
        assert found == set(ALLOWED_TWINS), (
            f"new unreviewed: {sorted(found - set(ALLOWED_TWINS))}; "
            f"stale pins: {sorted(set(ALLOWED_TWINS) - found)}"
        )

    def test_r10_incident_pairs_rank_in_top3_nearest(self, idx):
        """The detector that would have caught the incident: both
        removed entries rank their true duplicate in the top-3 nearest
        existing capabilities."""
        top_t = [n for _, n in idx.nearest(self._TEMPERATURE_SQL, k=3)]
        assert "sample_mixture_alpha" in top_t, top_t
        top_p = [n for _, n in idx.nearest(self._PII_SQL, k=3)]
        assert "pii_scrub" in top_p, top_p

    def test_overlap_tool_passes_on_current_inventory(self):
        import subprocess
        import pathlib

        root = pathlib.Path(__file__).resolve().parents[1]
        res = subprocess.run(
            [sys.executable, str(root / "tools" / "check_overlap.py"),
             "similarity_topk_batch"],
            capture_output=True, text=True, timeout=240,
        )
        assert res.returncode == 0, res.stdout + res.stderr
        assert "nearest existing capabilities" in res.stdout

