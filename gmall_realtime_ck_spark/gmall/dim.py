"""DIM layer: config-driven dimension maintenance.

The reference's DimApp (DIM/app/DimApp.java:87-237) consumes topic_db,
matches rows against the broadcast table_process_dim config
(TableProcessFunction.java:22-96), prunes columns to sink_columns
(:91-95), and writes to HBase with Redis-cache invalidation
(HBaseSinkFunction.java:36-65).

Spark-first: dim tables are parquet (Delta-style MERGE semantics done
manually — last write by (ts, op) per rowkey, deletes kept as
tombstones), kept small and broadcast-joined by consumers, which
removes the need for HBase lookups (SURVEY §2.4 J6); the tables held on
the driver (below) take the Redis cache's place for the merge.

Store layout: both stores of a table are the change log, in the one
layout ``schemas.DIM_CHANGE`` (row_key, data, op, ts), compacted by one
driver-side merge (``_merge``) under different keys:
``<store>/<table>/`` per row_key (the snapshot: each key's last change),
``<store>/<table>_scd2/`` per (row_key, ts, op) (the SCD2 history). A
merge writes the whole new table once, with pyarrow, into a fresh
version directory ``v<N>``, then commits it by writing the version's
name to ``_CURRENT.tmp`` and ``os.replace``-ing that over ``_CURRENT``:
the rename is the commit point. It then deletes every other entry of
the table directory (replaced versions, failed attempts). Readers
resolve ``_CURRENT``; a table directory without one is read as a plain
parquet table (its own files, not the uncommitted versions inside it),
which is how an initial load may be staged, also in the 3-column
(row_key, data, ts) layout, whose NULL ``op`` reads as an upsert
(``_log``). Every read declares ``schemas.DIM_CHANGE``, so it runs no
Spark job and never infers a schema from the files. Versions are named
without a leading ``_``, which Spark's file index would hide; a store
committed under the older ``_v<N>`` names reads as before, and its
next version is numbered past them.

Tombstones: Maxwell is at-least-once, so late and replayed CDC rows
are normal input. The snapshot keeps a delete as a row with op "D", so
an older upsert that arrives later cannot bring the key back; snapshot
reads filter tombstones out. They are kept forever, with no purge
horizon: the snapshot is bounded by the keys ever seen. Compacted per
key, not append-only, the log keeps enrichment reads plain scans.

Driver-held tables: the process keeps each table's committed version
on the driver, as its change rows, keyed by the version's directory
and its inode and mtime. A merge collects the batch's changes once (2
Spark jobs: the config broadcast and the scan, whatever the tables
touched), folds them into the held rows and publishes the result; it
reads the store only when the held copy is not the committed version
(the first merge in a process, a commit by another writer, a staged
table). The held snapshot rows are the rows the enrichment joins
already collect to broadcast, plus tombstones; the driver also holds
the SCD2 history of each table merged in the process (only the tests
call ``scd2_merge``). One writer per store is assumed, as with the
reference's single DimApp.

Crash contract: a merge that fails or dies at any point before the
rename leaves ``_CURRENT`` naming the previous version, so readers and
the next merge see the previous table, and the partial directory is
swept by the next commit. Replays and arrival order do not change
either store. The sweep deletes the replaced version, so a DataFrame
read before a merge must be evaluated before it.
"""

from __future__ import annotations

import os
import re
import shutil
from operator import itemgetter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import DIM_CHANGE, TABLE_PROCESS_DIM
from .dwd import parse_topic_db

_POINTER = "_CURRENT"
_VERSION = re.compile(r"_?v(\d+)")  # v<N>, and the older _v<N>
_ARROW = to_arrow_schema(DIM_CHANGE)

#: table directory -> (committed version's identity, its change rows)
_HELD: dict[str, tuple[tuple, list]] = {}


def _live(path: str) -> str:
    """The directory holding a table's committed version: the one its
    pointer names, or the table directory itself without one."""
    try:
        with open(os.path.join(path, _POINTER)) as f:
            return os.path.join(path, f.read())
    except FileNotFoundError:
        return path


def _read(spark: SparkSession, path: str) -> DataFrame:
    live = _live(path)
    if live == path and os.path.isdir(path):  # staged: skip versions not yet committed
        staged = sorted(os.path.join(path, e) for e in os.listdir(path)
                        if not e.startswith(("_", ".")) and not _VERSION.fullmatch(e))
        if not staged:
            return spark.createDataFrame([], DIM_CHANGE)
        return spark.read.schema(DIM_CHANGE).parquet(*staged)
    return spark.read.schema(DIM_CHANGE).parquet(live)


def _log(spark: SparkSession, path: str) -> DataFrame:
    """A table's change rows, a NULL ``op`` (staged without it) an upsert."""
    return _read(spark, path).withColumn("op", F.coalesce("op", F.lit("U")))


def _snapshot(spark: SparkSession, path: str) -> DataFrame:
    """A snapshot table's live rows (row_key, data, ts): no tombstones."""
    return _log(spark, path).filter(F.col("op") != "D").select("row_key", "data", "ts")


def _publish(path: str, rows: list) -> None:
    """Write ``rows`` ((row_key, data, op, ts) changes) as a new version
    of the table at ``path``, one parquet file in the
    ``schemas.DIM_CHANGE`` layout; commit it by renaming the pointer
    over the old one, then delete what it replaced."""
    os.makedirs(path, exist_ok=True)
    done = [int(m.group(1)) for m in map(_VERSION.fullmatch, os.listdir(path)) if m]
    version = f"v{max(done, default=0) + 1}"  # never reuses a failed attempt's name
    os.makedirs(os.path.join(path, version))
    table = pa.table({name: [r[i] for r in rows] for i, name in enumerate(_ARROW.names)},
                     schema=_ARROW)
    pq.write_table(table, os.path.join(path, version, "part-00000.parquet"))
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
    ``dim_as_of`` uses; ``_merge`` folds driver rows by the same order
    (``_rank``)."""
    w = Window.partitionBy("row_key").orderBy(F.desc("ts"), F.desc("op"))
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("row_key", "data", "ts")
    )


def _rank(change) -> tuple:
    """``_latest``'s order of a change: (ts, op), a NULL ts lowest."""
    _, _, op, ts = change
    return (ts is not None, ts or 0, op)


def _identity(path: str) -> tuple:
    """What names a table's committed version: its directory, inode and
    mtime, so a commit by another writer (or a file added to the
    version) is seen."""
    live = _live(path)
    st = os.stat(live)
    return live, st.st_ino, st.st_mtime_ns


def _merge(spark: SparkSession, path: str, changes: list, key) -> None:
    """Fold a batch of (row_key, data, op, ts) ``changes`` into the
    change log at ``path``: per ``key(change)``, the change with the
    greatest ``_rank`` is kept; on an exact tie the earlier one wins, a
    stored change over a batch change, the first of equal batch
    changes. The committed log is the copy held since this process's
    last commit to ``path`` if that is still the committed version,
    else the store's rows (an unreadable store raises). The result is
    published and held."""
    stored = []
    if os.path.isdir(path):
        hit = _HELD.get(path, (None, None))
        stored = hit[1] if hit[0] == _identity(path) else _log(spark, path).collect()
    last: dict = {}
    for change in (*stored, *changes):
        k = key(change)
        if k not in last or _rank(change) > _rank(last[k]):
            last[k] = change
    rows = list(last.values())
    _publish(path, rows)
    _HELD[path] = (_identity(path), rows)


def merge_dim_batch(
    spark: SparkSession, changes: DataFrame, store_dir: str
) -> dict[str, DataFrame]:
    """K9 — apply a batch of dim changes to the parquet dim store: per
    sink_table, ``_merge`` compacts the committed change log plus the
    batch per row_key (a delete stays as a tombstone). Returns each new
    snapshot's live rows (row_key, data, ts) as a lazy read.

    The batch is collected once and folded on the driver into each
    table's held log (module docstring): 2 Spark jobs (the config
    broadcast and the scan of ``changes``) however many tables it
    touches, plus one read per table whose held copy is not the
    committed version. Called from foreachBatch in streaming; replayed,
    late and reordered batches converge to the same snapshot.
    """
    by_table: dict[str, list] = {}
    for table, *change in changes.select("sink_table", "row_key", "data", "op", "ts").collect():
        by_table.setdefault(table, []).append(change)
    out: dict[str, DataFrame] = {}
    for table in sorted(by_table):
        path = os.path.join(store_dir, table)
        _merge(spark, path, by_table[table], itemgetter(0))
        out[table] = _snapshot(spark, path)
    return out


def dim_snapshot(spark: SparkSession, store_dir: str, table: str, columns: list[str]) -> DataFrame:
    """Read one dim table's live rows from the store, exploding the
    pruned map back to typed columns for broadcast joins."""
    df = _snapshot(spark, os.path.join(store_dir, table))
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

    The history is the change log compacted per (row_key, ts, op)
    (``_merge``; the snapshot's merge with a wider key), so the stored
    set is the same whatever order batches arrive in and however often
    one is replayed. Versions are derived on read by the chaining
    ``operators/relational.py::table_scd2_history`` uses: each
    non-delete change opens [ts, next change's ts) by (ts, op) per key,
    so a delete or a later upsert closes it. The key leaves at most one
    upsert per (row_key, ts), so no version has zero length.

    ``changes``: dim_changes() output filtered to one sink_table.
    Returns the new history as (row_key, data, valid_from, valid_to),
    valid_to NULL for the current version.
    """
    path = os.path.join(store_dir, table + "_scd2")
    rows = changes.select("row_key", "data", "op", "ts").collect()
    _merge(spark, path, rows, itemgetter(0, 3, 2))

    w = Window.partitionBy("row_key").orderBy("ts", "op")
    versions = _read(spark, path).select(
        "row_key", "data", "op",
        F.col("ts").alias("valid_from"), F.lead("ts").over(w).alias("valid_to"),
    )
    return versions.filter(F.col("op") != "D").drop("op")


def dim_as_of(spark: SparkSession, store_dir: str, table: str, ts: int) -> DataFrame:
    """Point-in-time dimension snapshot from the SCD2 history — the
    as-of join input for backfills: ``_latest`` over the changes up to
    ``ts``, the rule ``merge_dim_batch`` applies, so a read after the
    last change equals the snapshot."""
    log = _read(spark, os.path.join(store_dir, table + "_scd2"))
    return _latest(log.filter(F.col("ts") <= ts)).select("row_key", "data")


def run_dim_pipeline(
    spark: SparkSession, raw_topic_db: DataFrame, config_rows: list[tuple], store_dir: str
) -> dict[str, DataFrame]:
    """End-to-end DIM batch: parse ODS → match config → merge store."""
    db = parse_topic_db(raw_topic_db)
    cfg = dim_config(spark, config_rows)
    return merge_dim_batch(spark, dim_changes(db, cfg), store_dir)
