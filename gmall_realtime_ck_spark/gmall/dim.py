"""DIM layer: config-driven dimension maintenance.

The reference's DimApp (DIM/app/DimApp.java:87-237) consumes topic_db,
matches rows against the broadcast table_process_dim config
(TableProcessFunction.java:22-96), prunes columns to sink_columns
(:91-95), and writes to HBase with Redis-cache invalidation
(HBaseSinkFunction.java:36-65).

Spark-first: dim tables are parquet (Delta-style MERGE semantics done
manually — last-write-wins by (ts, op) per rowkey, deletes applied), kept
small and broadcast-joined by consumers, which removes the need for
HBase lookups (SURVEY §2.4 J6); the snapshot held on the driver (below)
takes the Redis cache's place for the merge.

Store layout: one directory per table, ``<store>/<table>/`` holding
the snapshot (one live row per key), and ``<store>/<table>_scd2/``
holding the SCD2 history as change rows. A merge writes its whole new
snapshot once, into a fresh version directory ``v<N>``, then commits
it by writing the version's name to ``_CURRENT.tmp`` and
``os.replace``-ing that over ``_CURRENT``: the rename is the commit
point. It then deletes every other entry of the table directory
(replaced versions, failed attempts). Readers resolve ``_CURRENT``; a
table directory without one is read as a plain parquet table (its own
files, not the uncommitted versions inside it), which is how an initial
load may be staged. Every read declares the store's schema
(``schemas.DIM_SNAPSHOT`` / ``schemas.DIM_CHANGE``), so it runs no
Spark job and never has to infer a schema from the files. Versions
are named without a leading ``_``, which Spark's file index would
hide; a store committed under the older ``_v<N>`` names reads as
before, and its next version is numbered past them.

Driver-held snapshot: the process keeps each snapshot table's
committed version on the driver, as ``{row_key: (data, ts)}``, keyed
by the version's directory and its inode and mtime. A merge collects
the batch's changes once (2 Spark jobs: the config broadcast and the
scan, whatever the tables touched), applies them to the held rows with
the last-write rule, and writes the new version with pyarrow as one
file; it reads the store only when the held copy is not the committed
version (the first merge in a process, a commit by another writer, a
staged table without a pointer). The held rows are the rows the
enrichment joins already collect to the driver to broadcast, so holding
them needs the driver memory those joins need anyway. One writer per
store is assumed, as with the reference's single DimApp.

Crash contract: a merge that fails or dies at any point before the
rename leaves ``_CURRENT`` naming the previous version, so readers and
the next merge see the previous snapshot, and the partial directory is
swept by the next commit. A replayed batch converges to the same
snapshot and the same history; the history is also the same whatever
order batches arrive in. The sweep deletes the replaced version,
so a DataFrame read before a merge must be evaluated before it.
"""

from __future__ import annotations

import os
import re
import shutil
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import DIM_CHANGE, DIM_SNAPSHOT, TABLE_PROCESS_DIM
from .dwd import parse_topic_db

_POINTER = "_CURRENT"
_VERSION = re.compile(r"_?v(\d+)")  # v<N>, and the older _v<N>

#: table directory -> (committed version's identity, {row_key: (data, ts)})
_HELD: dict[str, tuple[tuple, dict]] = {}


def _live(path: str) -> str:
    """The directory holding a table's committed snapshot: the version
    its pointer names, or the table directory itself without one."""
    try:
        with open(os.path.join(path, _POINTER)) as f:
            return os.path.join(path, f.read())
    except FileNotFoundError:
        return path


def _read(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    live = _live(path)
    if live == path and os.path.isdir(path):  # staged: skip versions not yet committed
        staged = sorted(os.path.join(path, e) for e in os.listdir(path)
                        if not e.startswith(("_", ".")) and not _VERSION.fullmatch(e))
        if not staged:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*staged)
    return spark.read.schema(schema).parquet(live)


def _publish(path: str, write: Callable[[str], None]) -> None:
    """Have ``write`` write a new version of the table at ``path`` into
    the directory it is given, commit it by renaming the pointer over
    the old one, then delete what it replaced."""
    os.makedirs(path, exist_ok=True)
    done = [int(m.group(1)) for m in map(_VERSION.fullmatch, os.listdir(path)) if m]
    version = f"v{max(done, default=0) + 1}"  # never reuses a failed attempt's name
    write(os.path.join(path, version))
    tmp = os.path.join(path, _POINTER + ".tmp")
    with open(tmp, "w") as f:
        f.write(version)
    os.replace(tmp, os.path.join(path, _POINTER))  # the commit point
    for entry in os.listdir(path):
        if entry not in (_POINTER, version):
            old = os.path.join(path, entry)
            if os.path.isdir(old):
                shutil.rmtree(old)
            else:
                os.remove(old)


def dim_config(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Config snapshot as a DataFrame. The reference preloads the JDBC
    snapshot in open() to beat broadcast races
    (TableProcessFunction.java:29-37); in Spark the config is re-read
    per micro-batch inside foreachBatch, so there is no race window.
    """
    return spark.createDataFrame(rows, TABLE_PROCESS_DIM)


def dim_changes(db: DataFrame, config: DataFrame) -> DataFrame:
    """J5/P5 — match CDC rows to configured dim tables, prune ``data``
    to sink_columns, stamp the rowkey. bootstrap-insert is an upsert
    like insert/update (DimApp.java:223-229 keeps it for dims).
    """
    cfg = F.broadcast(
        config.select(
            "source_table",
            "sink_table",
            F.split("sink_columns", ",").alias("keep_cols"),
            "sink_row_key",
        )
    )
    joined = db.join(cfg, F.col("table") == cfg.source_table)
    return joined.select(
        "sink_table",
        F.element_at("data", F.col("sink_row_key")).alias("row_key"),
        F.map_filter("data", lambda k, _: F.array_contains(F.col("keep_cols"), k)).alias("data"),
        F.when(F.col("type") == "delete", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "ts",
    )


def _latest(changes: DataFrame) -> DataFrame:
    """The one last-write rule: per row_key, the change with the greatest
    (ts, op), so an upsert "U" beats a delete "D" at equal ts; keys
    whose latest change is a delete are dropped. This is the Spark form
    ``dim_as_of`` uses; ``_apply`` is the same rule on driver rows, for
    ``merge_dim_batch``."""
    w = Window.partitionBy("row_key").orderBy(F.desc("ts"), F.desc("op"))
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("row_key", "data", "ts")
    )


def _rank(ts, op) -> tuple:
    """``_latest``'s order: (ts, op), a NULL ts lowest."""
    return (ts is not None, ts or 0, op)


def _apply(held: dict, changes: list) -> dict:
    """``_latest`` over the held rows, counted as upserts, and a batch's
    (row_key, data, op, ts) changes. On an exact tie the earlier row
    wins: a stored row over a batch row, the first of equal batch rows."""
    last = {key: (data, ts, "U") for key, (data, ts) in held.items()}
    for key, data, op, ts in changes:
        if key not in last or _rank(ts, op) > _rank(*last[key][1:]):
            last[key] = (data, ts, op)
    return {key: (data, ts) for key, (data, ts, op) in last.items() if op != "D"}


def _identity(path: str) -> tuple:
    """What names a table's committed version: its directory, inode and
    mtime, so a commit by another writer (or a file added to the
    version) is seen."""
    live = _live(path)
    st = os.stat(live)
    return live, st.st_ino, st.st_mtime_ns


def _held(spark: SparkSession, path: str) -> dict:
    """The committed snapshot of the table at ``path`` as
    ``{row_key: (data, ts)}``: the copy held since this process's last
    commit to it if that is still the committed version, else the
    store's rows (an unreadable store raises)."""
    if not os.path.isdir(path):
        return {}
    key = _identity(path)
    hit = _HELD.get(path)
    if hit is not None and hit[0] == key:
        return hit[1]
    return {r["row_key"]: (r["data"], r["ts"]) for r in _read(spark, path, DIM_SNAPSHOT).collect()}


def _write_snapshot(rows: dict, directory: str) -> None:
    """One parquet file of ``rows`` in the ``schemas.DIM_SNAPSHOT`` layout."""
    os.makedirs(directory)
    table = pa.table(
        {"row_key": pa.array(list(rows), pa.string()),
         "data": pa.array([None if d is None else list(d.items()) for d, _ in rows.values()],
                          pa.map_(pa.string(), pa.string())),
         "ts": pa.array([ts for _, ts in rows.values()], pa.int64())}
    )
    pq.write_table(table, os.path.join(directory, "part-00000.parquet"))


def merge_dim_batch(
    spark: SparkSession, changes: DataFrame, store_dir: str
) -> dict[str, DataFrame]:
    """K9 — apply a batch of dim changes to the parquet dim store:
    per sink_table, the committed snapshot plus the batch reduced by the
    last-write rule (``_apply``: last write by (ts, op) per row_key,
    deletes removed). Returns the new snapshots (also committed to
    store_dir), each a lazy read that runs no job until used.

    The batch is collected once, and applied on the driver to each
    table's held snapshot (module docstring); the new version is written
    with pyarrow. A merge therefore runs 2 Spark jobs (the config
    broadcast and the scan of ``changes``) however many tables it
    touches, plus one read per table whose held copy is not the
    committed version. Called from foreachBatch in streaming; idempotent
    per batch (replays converge to the same snapshot).
    """
    by_table: dict[str, list] = {}
    for table, *change in changes.select("sink_table", "row_key", "data", "op", "ts").collect():
        by_table.setdefault(table, []).append(change)
    out: dict[str, DataFrame] = {}
    for table in sorted(by_table):
        path = os.path.join(store_dir, table)
        rows = _apply(_held(spark, path), by_table[table])
        _publish(path, lambda d: _write_snapshot(rows, d))
        _HELD[path] = (_identity(path), rows)
        out[table] = _read(spark, path, DIM_SNAPSHOT)
    return out


def dim_snapshot(spark: SparkSession, store_dir: str, table: str, columns: list[str]) -> DataFrame:
    """Read one dim table from the store, exploding the pruned map back
    to typed columns for broadcast joins."""
    df = _read(spark, os.path.join(store_dir, table), DIM_SNAPSHOT)
    return df.select(
        "row_key", *[F.element_at("data", c).alias(c) for c in columns]
    )


def scd2_merge(
    spark: SparkSession, changes: DataFrame, store_dir: str, table: str
) -> DataFrame:
    """SCD-Type-2 variant of the dim sink: instead of last-write-wins,
    keep full version history. Beyond the reference's overwrite-only
    HBase sink (HBaseSinkFunction.java:36-65): enables as-of dimension
    joins for backfills.

    The history is stored as the change rows themselves
    (``schemas.DIM_CHANGE``, one row per (row_key, ts, op)): a merge
    unions the batch into them, drops duplicates and publishes the
    result. The stored set is therefore the same whatever order batches
    arrive in and however often one is replayed. Versions are derived
    on read by the chaining ``operators/relational.py::
    table_scd2_history`` uses: each non-delete change opens
    [ts, next change's ts) by (ts, op) per key, so a delete or a later
    upsert closes it. The dedup leaves at most one upsert per
    (row_key, ts), so no version has zero length. No caller outside
    the tests writes an SCD2 store, so no store in the earlier
    (valid_from, valid_to) layout exists and none is migrated.

    ``changes``: dim_changes() output filtered to one sink_table.
    Returns the new history as (row_key, data, valid_from, valid_to),
    valid_to NULL for the current version.
    """
    path = os.path.join(store_dir, table + "_scd2")
    log = changes.select("row_key", "data", "op", "ts")
    if os.path.isdir(path):
        log = _read(spark, path, DIM_CHANGE).unionByName(log)
    _publish(path, log.dropDuplicates(["row_key", "ts", "op"]).write.parquet)

    w = Window.partitionBy("row_key").orderBy("ts", "op")
    versions = _read(spark, path, DIM_CHANGE).select(
        "row_key", "data", "op",
        F.col("ts").alias("valid_from"), F.lead("ts").over(w).alias("valid_to"),
    )
    return versions.filter(F.col("op") != "D").drop("op")


def dim_as_of(spark: SparkSession, store_dir: str, table: str, ts: int) -> DataFrame:
    """Point-in-time dimension snapshot from the SCD2 history — the
    as-of join input for backfills: ``_latest`` over the changes up to
    ``ts``, the rule ``merge_dim_batch`` applies, so a read after the
    last change equals the snapshot."""
    log = _read(spark, os.path.join(store_dir, table + "_scd2"), DIM_CHANGE)
    return _latest(log.filter(F.col("ts") <= ts)).select("row_key", "data")


def run_dim_pipeline(
    spark: SparkSession, raw_topic_db: DataFrame, config_rows: list[tuple], store_dir: str
) -> dict[str, DataFrame]:
    """End-to-end DIM batch: parse ODS → match config → merge store."""
    db = parse_topic_db(raw_topic_db)
    cfg = dim_config(spark, config_rows)
    return merge_dim_batch(spark, dim_changes(db, cfg), store_dir)
