"""The DIM store's publish path: each table is one file, which a merge
writes once and commits by renaming it into place; reads declare the
schema, a replayed batch converges, a delete is kept as a tombstone, a
crash mid-merge leaves the previous snapshot, a table of other files is
refused, and the snapshot held on the driver follows the committed
file."""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gmall_realtime_ck_spark.gmall import dim, fixtures
from gmall_realtime_ck_spark.schemas import DIM_CHANGE

T = "dim_base_trademark"
CHANGES = "sink_table string, row_key string, data map<string,string>, op string, ts bigint"

# (row_key, tm_name, op, ts): b2 updates and deletes b1's keys, and
# writes one key twice
B1 = [("1", "a", "U", 100), ("2", "b", "U", 100), ("3", "c", "U", 100), ("1", "a2", "U", 150)]
B2 = [("2", "b2", "U", 200), ("3", None, "D", 250), ("4", "d", "U", 200),
      ("4", "d2", "U", 260), ("1", "a3", "U", 300)]


def _changes(spark, rows):
    return spark.createDataFrame(
        [(T, key, {"id": key, "tm_name": name}, op, ts) for key, name, op, ts in rows], CHANGES
    )


def _lww(*batches):
    """Plain-Python last-write-wins: per key the change with the greatest
    (ts, op), an upsert "U" beating a delete "D" at equal ts."""
    last = {}
    for key, name, op, ts in (row for batch in batches for row in batch):
        if key not in last or (ts, op) > last[key][1:]:
            last[key] = (name, ts, op)
    return {key: name for key, (name, _, op) in last.items() if op == "U"}


def _names(spark, store):
    return {r["row_key"]: r["tm_name"]
            for r in dim.dim_snapshot(spark, store, T, ["tm_name"]).collect()}


def _stage(directory, rows):
    """Write ``rows`` ((row_key, tm_name, ts)) as one parquet file in the
    3-column (row_key, data, ts) layout, as an initial load would."""
    os.makedirs(directory)
    pq.write_table(
        pa.table({"row_key": [k for k, _, _ in rows],
                  "data": pa.array([[("id", k), ("tm_name", n)] for k, n, _ in rows],
                                   pa.map_(pa.string(), pa.string())),
                  "ts": pa.array([ts for _, _, ts in rows], pa.int64())}),
        os.path.join(directory, "part-00000.parquet"),
    )


def _rows(df):
    """A store table as a sorted list, duplicates kept."""
    return sorted(((tuple(sorted(r["data"].items())),) + tuple(r[c] for c in df.columns if c != "data")
                   for r in df.collect()), key=repr)


def _apply(spark, store, merge, rows):
    """Merge one batch through either DIM sink; returns what it returns
    for the table."""
    if merge == "merge_dim_batch":
        return dim.merge_dim_batch(spark, _changes(spark, rows), store)[T]
    return dim.scd2_merge(spark, _changes(spark, rows), store, T)


@pytest.mark.parametrize("merge", ["merge_dim_batch", "scd2_merge"])
def test_replayed_batch_leaves_store_unchanged(spark, tmp_path, merge):
    """A batch re-run after a crash (same rows again) converges: the
    snapshot, and the SCD2 history, equal those after its first run."""
    store = str(tmp_path / "store")
    _apply(spark, store, merge, B1)
    once = _rows(_apply(spark, store, merge, B2))
    assert _rows(_apply(spark, store, merge, B2)) == once


def _fixture_lines(source, ids, ts):
    """Maxwell inserts for one table of fixtures.TABLE_PROCESS_DIM_ROWS."""
    _, _, cols, _, key = next(r for r in fixtures.TABLE_PROCESS_DIM_ROWS if r[0] == source)
    return [json.dumps({"database": "gmall", "table": source, "type": "insert", "ts": ts,
                        "data": {c: (str(i) if c == key else f"{c}-{i}") for c in cols.split(",")}})
            for i in ids]


def test_dim_reads_run_no_job_and_a_merge_few(spark, tmp_path):
    """Reads declare the store's schema, so reading every dim table runs
    no Spark job; a merge touching one table runs only the scan of its
    changes (the config broadcast and the scan)."""
    store = str(tmp_path / "store")
    lines = [l for r in fixtures.TABLE_PROCESS_DIM_ROWS for l in _fixture_lines(r[0], range(20), 1)]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    tables = dim.run_dim_pipeline(spark, raw, fixtures.TABLE_PROCESS_DIM_ROWS, store)
    assert sorted(tables) == sorted(r[1] for r in fixtures.TABLE_PROCESS_DIM_ROWS)
    raw2 = spark.createDataFrame([(l,) for l in _fixture_lines("base_trademark", [3, 30], 2)],
                                 "value string")

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("dim-reads", "read every dim table")
        for _, table, cols, _, _ in fixtures.TABLE_PROCESS_DIM_ROWS:
            dim.dim_snapshot(spark, store, table, cols.split(","))
        sc.setJobGroup("dim-merge", "merge a batch touching one table")
        merged = dim.run_dim_pipeline(spark, raw2, fixtures.TABLE_PROCESS_DIM_ROWS, store)
        sc.setJobGroup("dim-after", "checks")
        assert tracker.getJobIdsForGroup("dim-reads") == []
        assert len(tracker.getJobIdsForGroup("dim-merge")) <= 2
        assert merged[T].count() == 21
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_merge_runs_two_jobs_however_many_tables(spark, tmp_path):
    """A merge collects its changes once and applies them to the
    snapshots held on the driver: batches touching 1, 3 or all 4 dim
    tables each run at most 2 Spark jobs, and read no store."""
    store = str(tmp_path / "store")
    lines = [l for r in fixtures.TABLE_PROCESS_DIM_ROWS for l in _fixture_lines(r[0], range(20), 1)]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    dim.run_dim_pipeline(spark, raw, fixtures.TABLE_PROCESS_DIM_ROWS, store)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sources = [r[0] for r in fixtures.TABLE_PROCESS_DIM_ROWS]
    try:
        for n in (1, 3, 4):
            lines = [l for src in sources[:n] for l in _fixture_lines(src, [5, 40 + n], 2 + n)]
            raw = spark.createDataFrame([(l,) for l in lines], "value string")
            sc.setJobGroup(f"dim-merge-{n}", f"merge a batch touching {n} tables")
            merged = dim.run_dim_pipeline(spark, raw, fixtures.TABLE_PROCESS_DIM_ROWS, store)
            sc.setJobGroup("dim-after", "checks")
            assert len(merged) == n
            assert len(tracker.getJobIdsForGroup(f"dim-merge-{n}")) <= 2, n
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert dim.dim_snapshot(spark, store, "dim_sku_info", ["sku_name"]).count() == 23


STAGED = [("1", "a2", 150), ("2", "b", 100), ("3", "c", 100)]  # B1, merged


def test_merge_over_staged_table(spark, tmp_path):
    """A table staged as its one parquet file in the 3-column layout (an
    initial load) is merged last-write-wins, and the merge replaces that
    file with the committed one in ``DIM_CHANGE``."""
    store = str(tmp_path / "store")
    path = os.path.join(store, T)
    _stage(path, STAGED)
    assert {r["op"] for r in dim._log(spark, path).collect()} == {"U"}  # no op column: upserts
    assert _names(spark, store) == _lww(B1)
    merged = dim.merge_dim_batch(spark, _changes(spark, B2), store)[T]
    expected = _lww(B1, B2)
    assert {r["row_key"]: r["data"]["tm_name"] for r in merged.collect()} == expected
    assert _names(spark, store) == expected
    assert os.listdir(path) == ["part-00000.parquet"]
    assert spark.read.parquet(path).schema == DIM_CHANGE


def test_merge_refuses_a_table_with_other_files(spark, tmp_path):
    """A table directory holding a second part file (a multi-file staged
    load) cannot be replaced by one rename: the merge raises, names the
    file and leaves the table as it read before."""
    store = str(tmp_path / "store")
    path = os.path.join(store, T)
    _stage(path, STAGED)
    _stage(str(tmp_path / "second"), [("9", "z", 120)])
    os.replace(str(tmp_path / "second" / "part-00000.parquet"),
               os.path.join(path, "part-00001.parquet"))
    before = _names(spark, store)
    assert before == {**_lww(B1), "9": "z"}
    with pytest.raises(ValueError, match="part-00001.parquet"):
        dim.merge_dim_batch(spark, _changes(spark, B2), store)
    assert sorted(os.listdir(path)) == ["part-00000.parquet", "part-00001.parquet"]
    assert _names(spark, store) == before


def test_benchmark_staged_store_merges_in_place(spark, tmp_path):
    """The store the benchmark stages (``perfbench.gen.write_dim_store``,
    3-column files) is the committed layout: one merge leaves each
    touched table its one file, now in ``DIM_CHANGE``, reading as the
    plain-Python last write over the staged rows and the batch."""
    from perfbench.gen import write_dim_store

    store = str(tmp_path / "store")
    assert write_dim_store(store) > 0
    tables = {"dim_base_trademark": "tm_name", "dim_base_province": "name"}
    staged = {t: pq.read_table(os.path.join(store, t, "part-00000.parquet")).to_pylist()
              for t in tables}
    batch = []
    for t, col in tables.items():
        first, second = staged[t][:2]
        ts = max(r["ts"] for r in staged[t])
        batch += [(t, first["row_key"], {"id": first["row_key"], col: "renamed"}, "U", ts + 1),
                  (t, second["row_key"], None, "D", ts + 1),
                  (t, "new", {"id": "new", col: "added"}, "U", ts + 2),
                  (t, first["row_key"], {"id": first["row_key"], col: "older"}, "U", ts - 1)]
    dim.merge_dim_batch(spark, spark.createDataFrame(batch, CHANGES), store)

    for t, col in tables.items():
        path = os.path.join(store, t)
        assert os.listdir(path) == ["part-00000.parquet"]
        assert spark.read.parquet(path).schema == DIM_CHANGE
        rows = [(r["row_key"], dict(r["data"])[col], "U", r["ts"]) for r in staged[t]]
        rows += [(key, data and data[col], op, ts) for tt, key, data, op, ts in batch if tt == t]
        got = {r["row_key"]: r[col] for r in dim.dim_snapshot(spark, store, t, [col]).collect()}
        assert got == _lww(rows)


def _crash_writes_into(monkeypatch, table_dir):
    """Make every parquet write into ``table_dir`` (all DIM writes go
    through pyarrow) leave a truncated part file, then raise."""
    real_write_table = pq.write_table

    def write_table(table, where, *args, **kwargs):
        if os.path.commonpath([str(where), table_dir]) != table_dir:
            return real_write_table(table, where, *args, **kwargs)
        with open(where, "wb") as f:
            f.write(b"PAR1\0")
        raise OSError("injected crash")

    monkeypatch.setattr(pq, "write_table", write_table)


def _crash_commit(monkeypatch, table_dir):
    """Make the rename that commits a written snapshot fail."""

    def replace(src, dst):
        raise OSError("injected crash before the commit")

    monkeypatch.setattr(os, "replace", replace)


TIMES = sorted({ts for *_, ts in B1 + B2}) + [1000]  # every change ts, and after the last


def _read(spark, store, merge):
    """The snapshot, or the SCD2 history read as-of at each of TIMES."""
    if merge == "merge_dim_batch":
        return _names(spark, store)
    return {t: {r["row_key"]: r["data"]["tm_name"]
                for r in dim.dim_as_of(spark, store, T, t).collect()} for t in TIMES}


def _model(merge, *batches):
    """What ``_read`` returns after ``batches``, in plain Python."""
    if merge == "merge_dim_batch":
        return _lww(*batches)
    return {t: _lww(*[[row for row in batch if row[3] <= t] for batch in batches]) for t in TIMES}


@pytest.mark.parametrize("inject", [_crash_writes_into, _crash_commit], ids=["write", "commit"])
@pytest.mark.parametrize("merge", ["merge_dim_batch", "scd2_merge"])
def test_crash_in_merge_keeps_previous_snapshot(spark, tmp_path, merge, inject):
    """A merge that dies while writing its snapshot (or SCD2 history), or
    after writing it but before the commit, leaves the store reading the
    previous one; the next merge of the same batch then succeeds."""
    store = str(tmp_path / "store")
    _apply(spark, store, merge, B1)
    assert _read(spark, store, merge) == _model(merge, B1)

    with pytest.MonkeyPatch.context() as m:
        inject(m, os.path.join(store, T if merge == "merge_dim_batch" else T + "_scd2"))
        with pytest.raises(Exception, match="injected crash"):
            _apply(spark, store, merge, B2)
    assert _read(spark, store, merge) == _model(merge, B1)

    _apply(spark, store, merge, B2)
    assert _read(spark, store, merge) == _model(merge, B1, B2)


def test_older_upsert_after_a_delete_stays_deleted(spark, tmp_path):
    """A delete is kept as a tombstone: an upsert older than it, replayed
    after it, does not bring the key back, in the snapshot as in the
    SCD2 history."""
    store = str(tmp_path / "store")
    for rows in ([("1", "a", "U", 100)], [("1", None, "D", 350)], [("1", "a", "U", 100)]):
        merged = _apply(spark, store, "merge_dim_batch", rows)
        _apply(spark, store, "scd2_merge", rows)
    as_of = {r["row_key"]: r["data"]["tm_name"] for r in dim.dim_as_of(spark, store, T, 400).collect()}
    assert merged.collect() == []
    assert _names(spark, store) == as_of == {}


def test_as_of_after_last_change_equals_snapshot(spark, tmp_path):
    """One last-write rule: the same batches applied through both sinks
    give an as-of read at the last change ts equal to the snapshot, and
    both equal the plain-Python last write."""
    store = str(tmp_path / "store")
    for rows in (B1, B2):
        for merge in ("merge_dim_batch", "scd2_merge"):
            _apply(spark, store, merge, rows)
    last = max(ts for *_, ts in B1 + B2)
    as_of = {r["row_key"]: r["data"]["tm_name"] for r in dim.dim_as_of(spark, store, T, last).collect()}
    assert as_of == _names(spark, store) == _lww(B1, B2)


@pytest.mark.parametrize("staged", [False, True], ids=["new", "staged"])
def test_crash_in_first_merge_keeps_staged_rows(spark, tmp_path, staged):
    """A first merge that dies while writing leaves its partial file under
    the hidden temporary name and the table file as it was (the staged
    one, or none for a new table): readers see only the staged rows,
    and the next merge succeeds."""
    store = str(tmp_path / "store")
    path = os.path.join(store, T)
    table_file = os.path.join(path, "part-00000.parquet")
    before = [tuple(r) for r in (STAGED if staged else [])]
    if staged:
        _stage(path, STAGED)
        with open(table_file, "rb") as f:
            staged_bytes = f.read()
    with pytest.MonkeyPatch.context() as m:
        _crash_writes_into(m, path)
        with pytest.raises(Exception, match="injected crash"):
            _apply(spark, store, "merge_dim_batch", B2)
    assert ".part-00000.parquet.tmp" in os.listdir(path)
    if staged:
        with open(table_file, "rb") as f:
            assert f.read() == staged_bytes
    else:
        assert not os.path.exists(table_file)
    assert _names(spark, store) == {k: n for k, n, _ in before}

    _apply(spark, store, "merge_dim_batch", B2)
    assert _names(spark, store) == _lww([(k, n, "U", ts) for k, n, ts in before], B2)


def _random_batches(rng, n):
    """``n`` batches of (row_key, tm_name, op, ts). Shared keys get
    upserts and deletes at ts drawn from a few values, so equal ts recur
    across batches and an older upsert can arrive after a delete of its
    key; each batch also owns keys that get an upsert and a delete, at
    equal ts or either order. A row's name is a function of its
    (key, ts, op), so equal changes are equal rows."""
    batches = []
    for b in range(n):
        rows = [(k, None if op == "D" else f"{k}@{ts}", op, ts) for k in rng.sample("abcdef", 4)
                for ts, op in [(rng.choice((100, 200, 300)), rng.choice("UUD"))]]
        for i in range(3):
            key, t_u, t_d = f"{b}.{i}", rng.choice((100, 200)), rng.choice((100, 200))
            rows += [(key, f"{key}@{t_u}", "U", t_u), (key, None, "D", t_d)]
        rng.shuffle(rows)
        batches.append(rows)
    return batches


@pytest.mark.parametrize("seed", [1, 2])
def test_held_snapshot_follows_the_rule(spark, tmp_path, seed):
    """Seeded batches with equal-ts upsert/delete ties, applied in
    reverse order with replays: after each batch the snapshot merged on
    the driver equals the plain-Python last write, and after the last
    one it equals ``dim_as_of`` over the SCD2 history of the same
    batches."""
    rng = random.Random(seed)
    batches = _random_batches(rng, 4)
    order = batches[::-1]
    order.insert(rng.randrange(1, len(order) + 1), rng.choice(order))
    store = str(tmp_path / "store")
    for i, rows in enumerate(order):
        merged = _apply(spark, store, "merge_dim_batch", rows)
        _apply(spark, store, "scd2_merge", rows)
        expected = _lww(*order[:i + 1])
        assert {r["row_key"]: r["data"]["tm_name"] for r in merged.collect()} == expected
    last = max(ts for rows in batches for *_, ts in rows)
    as_of = {r["row_key"]: r["data"]["tm_name"] for r in dim.dim_as_of(spark, store, T, last).collect()}
    assert as_of == _names(spark, store) == _lww(*batches)


def test_merge_reads_a_version_committed_behind_its_back(spark, tmp_path):
    """A table file another writer commits through the same publish path
    replaces the driver's held copy: the next merge starts from it."""
    store = str(tmp_path / "store")
    _apply(spark, store, "merge_dim_batch", B1)
    other = [("2", "x", 120), ("7", "y", 120)]
    dim._publish(os.path.join(store, T),
                 [(k, {"id": k, "tm_name": n}, "U", ts) for k, n, ts in other])
    merged = _apply(spark, store, "merge_dim_batch", B2)
    expected = _lww([(k, n, "U", ts) for k, n, ts in other], B2)
    assert expected != _lww(B1, B2)
    assert {r["row_key"]: r["data"]["tm_name"] for r in merged.collect()} == expected
    assert _names(spark, store) == expected
