"""SCD2 dimension history: versioning, closes, deletes, as-of reads."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from gmall_realtime_ck_spark.gmall import dim, dwd, fixtures

T = "dim_base_trademark"
# Two batches of Maxwell rows: C2 updates key 2 and deletes key 1
C1 = [("insert", 100, {"id": "1", "tm_name": "Redmi"}),
      ("insert", 100, {"id": "2", "tm_name": "Apple"}),
      ("update", 200, {"id": "1", "tm_name": "Redmi-Pro"})]
C2 = [("update", 300, {"id": "2", "tm_name": "Apple-CN"}),
      ("delete", 350, {"id": "1", "tm_name": "Redmi-Pro"})]


def _changes(spark, rows):
    lines = [
        json.dumps(
            {"database": "gmall", "table": "base_trademark", "type": typ, "ts": ts,
             "data": data}
        )
        for typ, ts, data in rows
    ]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    db = dwd.parse_topic_db(raw)
    cfg = dim.dim_config(spark, fixtures.TABLE_PROCESS_DIM_ROWS)
    return dim.dim_changes(db, cfg).filter(F.col("sink_table") == "dim_base_trademark")


def test_scd2_versions_and_asof(spark, tmp_path):
    store = str(tmp_path / "scd2store")
    c1 = _changes(spark, C1)
    hist = dim.scd2_merge(spark, c1, store, "dim_base_trademark")
    rows = {(r["row_key"], r["valid_from"], r["valid_to"]) for r in hist.collect()}
    assert (("1", 100, 200)) in rows  # first version closed at the update
    assert (("1", 200, None)) in rows  # open current version
    assert (("2", 100, None)) in rows

    # as-of reads pick the right version
    v150 = {r["row_key"]: r["data"]["tm_name"] for r in
            dim.dim_as_of(spark, store, "dim_base_trademark", 150).collect()}
    assert v150["1"] == "Redmi"
    v250 = {r["row_key"]: r["data"]["tm_name"] for r in
            dim.dim_as_of(spark, store, "dim_base_trademark", 250).collect()}
    assert v250["1"] == "Redmi-Pro"

    # a later batch: update key 2, delete key 1
    c2 = _changes(spark, C2)
    hist2 = dim.scd2_merge(spark, c2, store, "dim_base_trademark")
    rows2 = {(r["row_key"], r["valid_from"], r["valid_to"]) for r in hist2.collect()}
    assert ("2", 100, 300) in rows2
    assert ("2", 300, None) in rows2
    assert ("1", 200, 350) in rows2  # closed by the delete
    # after the delete, key 1 has no open version
    v400 = {r["row_key"] for r in
            dim.dim_as_of(spark, store, "dim_base_trademark", 400).collect()}
    assert v400 == {"2"}


def _history(hist):
    return sorted((r["row_key"], r["data"]["tm_name"], r["valid_from"], r["valid_to"] or -1)
                  for r in hist.collect())


def _as_of(spark, store, ts):
    return {r["row_key"]: r["data"]["tm_name"] for r in dim.dim_as_of(spark, store, T, ts).collect()}


@pytest.mark.parametrize("order", [["C1", "C2"], ["C1", "C2", "C1"], ["C2", "C1"], ["C2", "C1", "C2"]])
def test_late_and_replayed_batches_converge(spark, tmp_path, order):
    """Arrival order and replays do not change the history: a batch
    older than the stored history neither reopens a deleted key nor ends
    a later version."""
    store = str(tmp_path / "scd2store")
    for name in order:
        hist = dim.scd2_merge(spark, _changes(spark, {"C1": C1, "C2": C2}[name]), store, T)
    assert _history(hist) == [("1", "Redmi", 100, 200), ("1", "Redmi-Pro", 200, 350),
                              ("2", "Apple", 100, 300), ("2", "Apple-CN", 300, -1)]
    assert _as_of(spark, store, 400) == {"2": "Apple-CN"}


# Three batches for a reference model: key 1 is deleted and re-inserted,
# key 3's delete and re-insert share ts 300 across batches (the upsert
# wins), and C's key 2 delete ends the history of key 2
A = [("insert", 100, {"id": "1", "tm_name": "a"}), ("insert", 100, {"id": "2", "tm_name": "b"}),
     ("insert", 150, {"id": "3", "tm_name": "c"}), ("update", 200, {"id": "1", "tm_name": "a2"})]
B = [("delete", 250, {"id": "1", "tm_name": "a2"}), ("update", 300, {"id": "2", "tm_name": "b2"}),
     ("delete", 300, {"id": "3", "tm_name": "c"})]
C = [("insert", 300, {"id": "3", "tm_name": "c2"}), ("insert", 400, {"id": "1", "tm_name": "a3"}),
     ("delete", 450, {"id": "2", "tm_name": "b2"})]


def _model_versions(*batches):
    """Plain-Python SCD2: per key, the distinct changes in (ts, op) order;
    each non-delete change opens [ts, next change's ts), zero-length
    versions dropped."""
    changes = {(d["id"], ts, "D" if typ == "delete" else "U"): d["tm_name"]
               for batch in batches for typ, ts, d in batch}
    versions = []
    for key in {k for k, _, _ in changes}:
        chain = sorted((ts, op) for k, ts, op in changes if k == key)
        for (ts, op), nxt in zip(chain, chain[1:] + [(None, None)]):
            if op == "U" and nxt[0] != ts:
                versions.append((key, changes[key, ts, op], ts, nxt[0]))
    return versions


@pytest.mark.parametrize("order", [["A", "B", "C"], ["C", "A", "B", "A"], ["B", "C", "A", "C", "B"]])
def test_history_and_as_of_match_reference(spark, tmp_path, order):
    """History and as-of reads, at every change ts and between changes,
    equal a plain-Python model of the applied changes, whatever the
    batch order and replays."""
    store = str(tmp_path / "scd2store")
    batches = {"A": A, "B": B, "C": C}
    for name in order:
        hist = dim.scd2_merge(spark, _changes(spark, batches[name]), store, T)
    versions = _model_versions(A, B, C)
    assert _history(hist) == sorted((k, n, lo, hi or -1) for k, n, lo, hi in versions)
    for ts in range(50, 501, 25):
        expected = {k: n for k, n, lo, hi in versions if lo <= ts and (hi is None or ts < hi)}
        assert _as_of(spark, store, ts) == expected, ts


def test_replayed_merge_runs_few_jobs(spark, tmp_path):
    """A replayed batch over a 200-key history: one write of the
    deduplicated change rows, and no job to derive the returned history."""
    store = str(tmp_path / "scd2store")
    dim.scd2_merge(spark, _changes(spark, [("insert", 1, {"id": str(i), "tm_name": f"t{i}"})
                                           for i in range(200)]), store, T)
    batch = spark.createDataFrame(  # dim_changes() rows, without its config broadcast
        [(T, str(4 * i), {"id": str(4 * i), "tm_name": f"u{i}"}, "D" if i % 3 == 0 else "U", 2 + i)
         for i in range(47)],
        "sink_table string, row_key string, data map<string,string>, op string, ts bigint",
    )
    once = _history(dim.scd2_merge(spark, batch, store, T))

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("scd2-replay", "replay a merged batch")
        hist = dim.scd2_merge(spark, batch, store, T)
        sc.setJobGroup("scd2-after", "checks")
        assert len(tracker.getJobIdsForGroup("scd2-replay")) <= 2
        assert _history(hist) == once
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
