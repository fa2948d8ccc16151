"""Mimic the driver's correctness gate: every registry query with an
oracle must match DuckDB exactly (row count, column names, values) at
sf0.001. The driver runs the same comparison at sf0.01.
"""

from __future__ import annotations

import math

import pytest

from gmall_realtime_ck_spark import registry

ORACLED = sorted(n for n in registry.BUILDERS if n in registry.ORACLES)
UNORACLED = sorted(n for n in registry.BUILDERS if n not in registry.ORACLES)
STREAM_ORACLED = sorted(n for n in registry.STREAM_BUILDERS if n in registry.ORACLES)


def _normalize(rows, columns):
    """Sort columns by name, then rows, mirroring the driver's
    order-insensitive compare.

    Round-3 lesson: the driver canonicalizer (pandas factorize) throws
    on list/dict cells — `corpus_inverted_index` shipped an
    array<bigint> column and went red while this gate, sorting on
    str(x), passed it. Reject non-scalar cells outright so the local
    gate is at least as strict as the driver for every value it can
    see (the schema-level lint in test_oracle_schema.py catches the
    empty-result case too). The canonical form itself lives in
    gmall_realtime_ck_spark.canon, SHARED with tools/preflight.py so
    the two local gates can never drift apart (r5 review finding)."""
    from gmall_realtime_ck_spark.canon import canonicalize

    try:
        return canonicalize(rows, columns)
    except TypeError as exc:
        raise AssertionError(str(exc)) from None


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(name, spark, tables, duck):
    df = registry.BUILDERS[name](tables)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    rel = duck.sql(registry.ORACLES[name])
    duck_cols = list(rel.columns)
    duck_rows = [tuple(r) for r in rel.fetchall()]

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"

    cols_s, norm_s = _normalize(spark_rows, spark_cols)
    cols_d, norm_d = _normalize(duck_rows, duck_cols)
    mismatches = [
        (a, b) for a, b in zip(norm_s, norm_d) if a != b
    ]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:5]}"


@pytest.mark.parametrize("name", UNORACLED)
def test_unoracled_query_runs(name, spark, tables):
    df = registry.BUILDERS[name](tables)
    assert df.count() >= 0


@pytest.mark.parametrize("name", STREAM_ORACLED)
def test_streaming_query_matches_oracle(name, spark, duck):
    from tests.conftest import SF_DIR

    df = registry.STREAM_BUILDERS[name](spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    rel = duck.sql(registry.ORACLES[name])
    duck_cols = list(rel.columns)
    duck_rows = [tuple(r) for r in rel.fetchall()]
    assert sorted(spark_cols) == sorted(duck_cols)
    cols_s, norm_s = _normalize(spark_rows, spark_cols)
    cols_d, norm_d = _normalize(duck_rows, duck_cols)
    assert norm_s == norm_d, f"{name}: streaming result diverges from batch oracle"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0


def test_contract_shape():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20


def test_priority_head_integrity():
    """The driver verifies the first 50 positions of queries().
    all_query_names() silently drops unimplemented _PRIORITY_HEAD
    names, so a typo there would silently burn a driver-row slot —
    pin that every head name resolves, is unique, is not bench-only,
    and the head fills the 50-slot window exactly."""
    declared = set(registry.BUILDERS) | set(registry.STREAM_BUILDERS)
    head = registry._PRIORITY_HEAD
    missing = [n for n in head if n not in declared]
    assert not missing, f"priority head names not implemented: {missing}"
    assert len(head) == len(set(head)), "duplicate names in priority head"
    assert len(head) == 50, f"head has {len(head)} names; the driver window is 50"
    assert not (set(head) & registry.BENCH_ONLY)
    assert registry.all_query_names()[:50] == head


def test_every_builder_documents_itself():
    """Judge-surface hygiene: every declared operator carries a real
    docstring (semantics + scale posture) — the repo's contract that
    a reader can understand any query without spelunking."""
    missing = [
        n for n, fn in {**registry.BUILDERS, **registry.STREAM_BUILDERS}.items()
        if not (fn.__doc__ and len(fn.__doc__.strip()) >= 40)
    ]
    assert not missing, f"undocumented builders: {missing}"


def test_no_orphan_oracles():
    """Every oracle key must name a declared query — an orphan oracle
    is dead SQL that silently rots (and confuses the driver's
    contract surface)."""
    declared = set(registry.BUILDERS) | set(registry.STREAM_BUILDERS) | registry.BENCH_ONLY
    orphans = sorted(set(registry.ORACLES) - declared)
    assert not orphans, f"oracles without queries: {orphans}"


def test_batch_twins_contract():
    """Every ``pipelines.BATCH_TWINS`` and ``pipelines.SPINE_TWINS`` row
    names a declared (so not bench-only) batch query, reuses its oracle
    verbatim and streams a table the registry has a file stream for —
    a batch twin in a mode whose bounded final table equals the batch
    result, a spine twin with a callable spine and poll — and is not
    also hand-written in ``STREAM_BUILDERS`` or listed in both tables."""
    from gmall_realtime_ck_spark.streaming import pipelines

    assert pipelines.BATCH_TWINS and pipelines.SPINE_TWINS
    declared = set(registry.all_query_names())
    rows = [(flow, batch, table) for flow, (batch, table, _) in pipelines.BATCH_TWINS.items()]
    rows += [(flow, batch, table) for flow, (batch, table, *_) in pipelines.SPINE_TWINS.items()]
    for flow, batch, table in rows:
        assert batch in declared and batch not in registry.BENCH_ONLY, flow
        assert flow in declared and flow in registry.STREAM_BUILDERS, flow
        assert registry.ORACLES[flow] == registry.ORACLES[batch], flow
        assert table in ("events", "documents"), flow
        assert flow not in pipelines.STREAM_BUILDERS, flow
    for flow, (_, _, mode) in pipelines.BATCH_TWINS.items():
        assert mode in ("append", "complete"), flow
        assert flow not in pipelines.SPINE_TWINS, flow
    for flow, (_, _, spine, poll) in pipelines.SPINE_TWINS.items():
        assert callable(spine) and callable(poll), flow


def test_ledger_queue_names_resolve():
    """tools/gen_ledger.py's rotation queues must reference declared
    queries only — a typo there silently prints a dead ledger row and,
    worse, next round's window rotation would burn a driver slot on a
    name that resolves to nothing (the same failure mode
    test_priority_head_integrity pins for the live window)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "gen_ledger",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "gen_ledger.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    declared = set(registry.BUILDERS) | set(registry.STREAM_BUILDERS)
    # Historical queue sets may reference queries since RETIRED from
    # the registry (their functions survive as test-only law fixtures;
    # mod.RETIRED records them) — those names are exempt from the
    # must-resolve check but must NOT still be declared.
    assert not (mod.RETIRED & declared), sorted(mod.RETIRED & declared)
    for qname, q in (
        ("R5_QUEUE", mod.R5_QUEUE),
        ("R6_HEAD", mod.R6_HEAD),
        ("R6_QUEUE", mod.R6_QUEUE),
        ("R7_HEAD", mod.R7_HEAD),
        ("R7_QUEUE", mod.R7_QUEUE),
        ("R8_QUEUE", mod.R8_QUEUE),
        ("R9_QUEUE", mod.R9_QUEUE),
        ("R10_QUEUE", mod.R10_QUEUE),
        ("R10_RECERT_REWIRED", mod.R10_RECERT_REWIRED),
        ("R11_QUEUE", mod.R11_QUEUE),
        ("R11_REWIRED", mod.R11_REWIRED),
        ("R11_RECERT_R5", mod.R11_RECERT_R5),
        ("R12_QUEUE", mod.R12_QUEUE),
        ("R12_REWIRED", mod.R12_REWIRED),
        ("R13_QUEUE", mod.R13_QUEUE),
        ("R14_QUEUE", mod.R14_QUEUE),
    ):
        missing = sorted(q - declared - mod.RETIRED)
        assert not missing, f"{qname} names not declared: {missing}"
    # Round-14 rotation contract (VERDICT r13 #2): the 5 pre-r13-session
    # additions (R14_QUEUE — the only oracled names without a driver
    # hash row) sit inside the 50-slot window, the window is exactly
    # 50 names, and every freshly-certified cohort (the whole r13
    # window: R13_QUEUE + the r7/r8-era re-certs, all green in
    # CORRECTNESS_r13) has rotated out to free re-certification slots
    # for the stalest surviving rows (the r8-era remainder + the
    # r9-era head).
    head = set(registry._PRIORITY_HEAD)
    assert len(registry._PRIORITY_HEAD) == 50
    assert len(head) == 50, "duplicate names in _PRIORITY_HEAD"
    assert mod.R14_QUEUE <= head, sorted(mod.R14_QUEUE - head)
    # Only the RECENTLY-certified cohorts are excluded from the window
    # (burning a slot on a fresh green row wastes it); older historical
    # queues (R5-R9) may legitimately re-enter as their rows go stale.
    assert not (mod.R13_QUEUE & head), sorted(mod.R13_QUEUE & head)
    assert not (mod.R12_QUEUE & head), sorted(mod.R12_QUEUE & head)
    assert not (mod.R12_REWIRED & head), sorted(mod.R12_REWIRED & head)
    assert not (mod.R11_QUEUE & head), sorted(mod.R11_QUEUE & head)
    assert not (mod.R11_REWIRED & head), sorted(mod.R11_REWIRED & head)
    assert not (mod.R11_RECERT_R5 & head), sorted(mod.R11_RECERT_R5 & head)
