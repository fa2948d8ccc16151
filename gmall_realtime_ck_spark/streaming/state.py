"""Keyed stateful streaming operators (SURVEY.md §2.6, T1-T7).

The reference implements these with Flink ValueState + TTL; here they
are ``applyInPandasWithState`` (Arrow-batched, grouped state); T1's
keyed dedup is the built-in ``dropDuplicatesWithinWatermark``, called
in ``pipelines.flow_dedup_first``. Each has a batch oracle — tests
assert batch ≡ stream.

Emission logic is arrival-order-dependent per record (as in the
reference), but the *aggregated* outputs (per-day UV counts, etc.) are
order-independent: state tracks the set of seen days per key, so each
(key, day) emits exactly one flag no matter how records interleave.

Scale: state is partitioned by the group key across executors (RocksDB
/ HDFS-backed state store on a cluster); the per-day fields keep state
size O(keys), and the ``ttl_ms`` parameter arms GroupStateTimeout to
expire idle keys (the reference's 1-day ValueState TTL,
DwsTrafficVcChArIsNewPageViewWindow.java:70) so state is O(ACTIVE
keys).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_UV_STATE = StructType([StructField("seen_days", StringType())])
_UV_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("cur_date", StringType()),
        StructField("uv", LongType()),
    ]
)


def daily_uv_flags(events: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """T4 streaming — first-record-of-day flag per user
    (DwsTrafficVcChArIsNewPageViewWindow.java:62-107). Input needs
    ``user_id`` and a precomputed ``cur_date`` string column; emits one
    row per input record with uv ∈ {0,1}.

    ``ttl_ms`` reproduces the reference's ValueState TTL (1 day at
    :70 — `StateTtlConfig.newBuilder(Time.days(1))`): state idle for
    ttl_ms is dropped, so a key re-appearing later re-emits uv=1. This
    keeps state O(active keys) instead of O(all keys ever seen).
    """

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(columns=["user_id", "cur_date", "uv"])
            return
        seen = set((state.get[0] or "").split(",")) - {""} if state.exists else set()
        for pdf in pdf_iter:
            # vectorized: flag = first occurrence in batch AND not seen before
            dates = pdf["cur_date"]
            first_in_batch = ~dates.duplicated()
            flags = (first_in_batch & ~dates.isin(seen)).astype("int64")
            seen.update(dates[first_in_batch])
            yield pd.DataFrame({"user_id": user_id, "cur_date": dates, "uv": flags})
        state.update((",".join(sorted(seen)),))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(fn, _UV_OUT, _UV_STATE, "append", timeout)
    )


_REPAIR_STATE = StructType([StructField("first_date", StringType())])


def repair_is_new_stream(page: DataFrame, out_schema: StructType) -> DataFrame:
    """T3 streaming — new/old-visitor repair (DwdBaseLog.java:177-229):
    per mid, remember the first-visit date; is_new=1 on a later date is
    rewritten to 0; is_new=0 with no state backfills state with
    'yesterday' (so later same-day records stay 0), mirroring the
    reference's backfill at :207-215.

    Input columns: mid, is_new, cur_date (+ any passthrough present in
    ``out_schema``).
    """

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        first = state.get[0] if state.exists else None
        for pdf in pdf_iter:
            fixed = []
            for is_new, d in zip(pdf["is_new"], pdf["cur_date"]):
                if is_new == "1":
                    if first is None:
                        first = d
                    elif d != first:
                        is_new = "0"
                else:
                    if first is None:
                        first = "1970-01-01"  # unknown past, per reference backfill
                fixed.append(is_new)
            out = pdf.copy()
            out["is_new"] = fixed
            yield out[[f.name for f in out_schema.fields]]
        if first is not None:
            state.update((first,))

    return page.groupBy("mid").applyInPandasWithState(
        fn, out_schema, _REPAIR_STATE, "append", GroupStateTimeout.NoTimeout
    )


_LOGIN_STATE = StructType([StructField("last_date", StringType())])
_LOGIN_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("cur_date", StringType()),
        StructField("uu", LongType()),
        StructField("back", LongType()),
    ]
)


def login_flags(logins: DataFrame) -> DataFrame:
    """T6 streaming — unique + returning user flags
    (DwsUserUserLoginWindow.java:80-124): uu=1 on the first login of a
    new day; back=1 when the gap since the previous active date is
    ≥ 8 days (:108-111). Input: user_id, cur_date (sorted dates per key
    arrive in event order from the upstream watermark). Per-user state
    has no TTL: the last active date is what ``back`` is measured from.
    """
    from datetime import date

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        last = state.get[0] if state.exists else None
        for pdf in pdf_iter:
            uu, back = [], []
            for d in pdf["cur_date"]:
                if last is None:
                    uu.append(1)
                    back.append(0)
                    last = d
                elif d != last:
                    uu.append(1)
                    gap = (date.fromisoformat(d) - date.fromisoformat(last)).days
                    back.append(1 if gap >= 8 else 0)
                    if d > last:
                        last = d
                else:
                    uu.append(0)
                    back.append(0)
            yield pd.DataFrame(
                {"user_id": user_id, "cur_date": pdf["cur_date"], "uu": uu, "back": back}
            )
        if last is not None:
            state.update((last,))

    return logins.groupBy("user_id").applyInPandasWithState(
        fn, _LOGIN_OUT, _LOGIN_STATE, "append", GroupStateTimeout.NoTimeout
    )


def dedup_keep_latest(df: DataFrame, key_cols: list[str], out_schema: StructType,
                      flush_ms: int = 5000) -> DataFrame:
    """T2 streaming — the reference's commented alternative dedup: keep
    the LATEST record per key in state and flush it on a processing-time
    timer (DwsTradeSkuOrderWindow.java:156-195, 5 s timer). Emits the
    held record when the timeout fires (or when a newer record replaces
    it mid-batch the newest survives).

    Input must contain ``key_cols`` plus every field of ``out_schema``.
    """
    import json

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in out_schema.fields]
        if state.hasTimedOut:
            if state.exists:
                held = json.loads(state.get[0])
                state.remove()
                yield pd.DataFrame([held], columns=cols)
            return
        last = None
        for pdf in pdf_iter:
            if len(pdf):
                last = pdf.iloc[-1][cols].to_dict()
        if last is not None:
            clean = {
                k: (None if pd.isna(v) else (v.item() if hasattr(v, "item") else v))
                for k, v in last.items()
            }
            state.update((json.dumps(clean),))
            state.setTimeoutDuration(flush_ms)
        yield pd.DataFrame(columns=cols)

    return df.groupBy(*key_cols).applyInPandasWithState(
        fn,
        out_schema,
        StructType([StructField("held", StringType())]),
        "append",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


_FUNNEL_STATE = StructType(
    [
        StructField("t1", LongType()),
        StructField("t2", LongType()),
        StructField("t3", LongType()),
    ]
)
_FUNNEL_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", LongType()),
    ]
)


#: funnel qualifying window in epoch micros — MUST equal
#: operators.behavior.FUNNEL_WINDOW (24 h) for the shared oracle
_FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000


def funnel_stage_state(events: DataFrame) -> DataFrame:
    """Streaming ordered-funnel state machine (beyond-reference T-op):
    per user, track (t1, t2, t3) = first view, first qualifying click
    (> t1, within the 24 h window), first qualifying purchase (> t2,
    within the window) as epoch-micros state; emit the user's current
    max stage after each group call.

    Input columns: user_id, event_type, us (epoch micros). The update
    is monotone (t1/t2/t3 only move earlier as new history arrives), so
    on a bounded availableNow run — where each user's full history
    lands in one group call — the result is EXACTLY the batch funnel
    (oracle applies verbatim). Across multiple out-of-event-time-order
    micro-batches the stages are a monotone approximation, the same
    arrival-order property T1/T3 document.

    Scale: state is 3 longs per user — O(keys); the output stream is
    one row per (user, group call), aggregated downstream by max(stage)
    which is order-independent.
    """

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (uid,) = key
        t1, t2, t3 = state.get if state.exists else (None, None, None)
        parts = [pdf[["event_type", "us"]] for pdf in pdf_iter]
        pdf = pd.concat(parts) if parts else pd.DataFrame({"event_type": [], "us": []})
        et, us = pdf["event_type"], pdf["us"]

        v = us[et == "view"]
        if len(v):
            m = int(v.min())
            t1 = m if t1 is None else min(t1, m)
        if t1 is not None:
            c = us[(et == "click") & (us > t1) & (us <= t1 + _FUNNEL_WINDOW_US)]
            if len(c):
                m = int(c.min())
                t2 = m if t2 is None else min(t2, m)
        if t2 is not None:
            p = us[(et == "purchase") & (us > t2) & (us <= t2 + _FUNNEL_WINDOW_US)]
            if len(p):
                m = int(p.min())
                t3 = m if t3 is None else min(t3, m)

        stage = 3 if t3 is not None else 2 if t2 is not None else 1 if t1 is not None else 0
        state.update((t1, t2, t3))
        yield pd.DataFrame({"user_id": [uid], "stage": [stage]})

    return events.groupBy("user_id").applyInPandasWithState(
        fn, _FUNNEL_OUT, _FUNNEL_STATE, "append", GroupStateTimeout.NoTimeout
    )


_QUOTA_STATE = StructType([StructField("day_counts", StringType())])
_QUOTA_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("cur_date", StringType()),
        StructField("admitted", LongType()),
    ]
)


def user_quota_stream(events: DataFrame, quota: int) -> DataFrame:
    """Per-key streaming rate limiter: admit at most ``quota`` events
    per (user, day), carrying per-day admission counts in keyed state —
    the quota/backpressure screen applied per producer at ingest (the
    custom-stateful counterpart of the built-in window ops; batch
    oracle: ``operators.stateful.user_event_quota``).

    Rows inside each micro-batch are ordered by (ts, event_id) before
    counting, so a bounded single-batch run admits exactly the
    deterministic batch result; across micro-batches admission is
    arrival-ordered (ties to the reference's processing-order keyed
    state). Input needs user_id, event_id, ts and a precomputed
    ``cur_date`` string column.

    Scale: state per key is a {day: count} map string — O(active
    days), not O(events); keys partition across the state store like
    every other keyed operator.
    """

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        counts: dict[str, int] = (
            {k: int(v) for k, v in (x.split(":") for x in state.get[0].split(",") if x)}
            if state.exists and state.get[0]
            else {}
        )
        # Drain the iterator BEFORE sorting: a key whose micro-batch
        # exceeds arrow.maxRecordsPerBatch arrives as multiple chunks,
        # and per-chunk sorting would assign admission slots in chunk
        # order, diverging from the table_user_quota batch oracle's
        # global (ts, event_id) order. Memory is one key's micro-batch.
        pdf = pd.concat(list(pdf_iter), ignore_index=True).sort_values(["ts", "event_id"])
        # r14: skip the per-row dict lookup when the key has no prior
        # state (every key's first micro-batch — the entire bounded
        # run); the map(lambda) was ~a third of the per-key cost.
        prior = pdf["cur_date"].map(lambda d: counts.get(d, 0)) if counts else 0
        within_batch = pdf.groupby("cur_date").cumcount()
        admitted = ((prior + within_batch) < quota).astype("int64")
        for d, n in pdf["cur_date"].value_counts().items():
            counts[d] = counts.get(d, 0) + int(n)
        yield pd.DataFrame(
            {
                "user_id": user_id,
                "event_id": pdf["event_id"],
                "cur_date": pdf["cur_date"],
                "admitted": admitted,
            }
        )
        state.update((",".join(f"{k}:{v}" for k, v in sorted(counts.items())),))

    return events.groupBy("user_id").applyInPandasWithState(
        fn, _QUOTA_OUT, _QUOTA_STATE, "append", GroupStateTimeout.NoTimeout
    )


_ADMIT_STATE = StructType([StructField("taken", LongType())])
_ADMIT_OUT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("h", StringType()),
        StructField("accept", LongType()),
    ]
)


def admit_first_per_hash(docs: DataFrame) -> DataFrame:
    """Streaming first-wins admission keyed on a content hash: the
    first document carrying each hash is accepted, later carriers are
    rejected — with rows inside each micro-batch ordered by doc_id, so
    a bounded single-batch run admits exactly the deterministic
    keep-lowest-id batch result. Input needs ``doc_id``, ``h`` and a
    ``known`` long column (1 ⇒ the hash already exists in the accepted
    corpus manifest; those rows are rejected outright and do NOT claim
    the hash — matching the batch semantics where corpus membership is
    checked independently of within-batch ranking). State per key is
    one long.
    """

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        (h,) = key
        taken = bool(state.get[0]) if state.exists else False
        # Drain first: with >arrow.maxRecordsPerBatch duplicate docs for
        # one hash the iterator yields several chunks, and a per-chunk
        # positional gate could accept a later chunk's head where the
        # batch twin (global rn==1 on the lowest doc_id) would reject
        # it. Decide acceptance ONCE per key on the globally sorted
        # micro-batch.
        pdf = pd.concat(list(pdf_iter), ignore_index=True).sort_values("doc_id")
        pos_first = np.arange(len(pdf)) == 0
        not_known = ~pdf["known"].to_numpy().astype(bool)
        accept = (pos_first & not_known & (not taken)).astype("int64")
        if accept.any():
            taken = True
        yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(), "h": h, "accept": accept})
        state.update((1 if taken else 0,))

    return docs.groupBy("h").applyInPandasWithState(
        fn, _ADMIT_OUT, _ADMIT_STATE, "append", GroupStateTimeout.NoTimeout
    )


_K_FIRST_STATE = StructType(
    [
        StructField("kept", StringType()),
        StructField("full", LongType()),
        StructField("upd", LongType()),
    ]
)


def _decode(s: str, width: int):
    """Comma-joined int64 state string → ``(n, width)`` int64 array."""
    import numpy as np

    return np.array(s.split(",") if s else [], dtype="int64").reshape(-1, width)


def _k_first(cur, batch, k: int, full: int):
    """One k-first-set state transition: the k lexicographically-first
    DISTINCT rows of ``cur ∪ batch`` (int64 arrays of one width), and
    ``full`` latched to 1 once anything is cut. The k first rows of a
    union are the k first of the k first of its parts, so arrival order
    and batch boundaries are invisible (property-tested against a
    pure-set model in test_streaming) and a micro-batch merges as one
    vectorized lexsort; a replayed row collapses before the cut, so it
    cannot evict a kept one."""
    import numpy as np

    rows = np.concatenate([cur, batch])
    rows = rows[np.lexsort(rows.T[::-1])]
    if len(rows):
        rows = rows[np.r_[True, (rows[1:] != rows[:-1]).any(axis=1)]]
    return rows[:k], int(full or len(rows) > k)


def k_first_stream(df: DataFrame, key: str, cols: list[str], k: int) -> DataFrame:
    """Bounded keyed state: per ``key``, exactly the k first distinct
    ``cols`` tuples (int64) under their lexicographic order, plus a
    ``full`` flag — 0 ⇒ the kept set IS the key's whole distinct set,
    1 ⇒ something was cut. With ``cols=["h"]`` this is the KMV set
    sketch (Bar-Yossef et al. 2002: the K smallest distinct hashes,
    ``flow_kmv``/``flow_overlap_kmv``); with ``["h", "doc_id"]`` it is
    the per-domain quota (the CAP first documents by content hash,
    ``flow_domain_cap``). The k first set of a union is arrival-order
    independent, so the final set equals the batch one and the batch
    oracles apply verbatim. State per key is ≤ k·len(cols) longs.

    Output (update mode), rows ``(key, upd, *cols, full)``: a key emits
    its kept set only when a micro-batch changes it (set or flag),
    stamped with a per-key monotone ``upd``; a batch of already-kept or
    above-the-cut rows emits nothing. Update-mode sinks append, so the
    output is a CHANGELOG: consumers compact latest-``upd``-wins per key
    with ``pipelines.compact_latest_snapshot``.

    Expiry follows the key's type. A ``DateType`` key (an event day)
    arms EventTimeTimeout: the input must carry a watermarked event-time
    column, and a day's state is dropped without emitting once the
    watermark passes the day's end plus a 1-day grace, keeping total
    state O(open days × k). Any other key (event types, sources: a
    low-cardinality dimension) keeps its state forever.
    """
    dated = isinstance(df.schema[key].dataType, DateType)
    out = StructType(
        [df.schema[key], StructField("upd", LongType())]
        + [StructField(c, LongType()) for c in cols + ["full"]]
    )

    def fn(key_, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        import numpy as np

        (kv,) = key_
        if state.hasTimedOut:
            state.remove()
            return
        kept, full, upd = state.get if state.exists else ("", 0, 0)
        kept, full, upd = _decode(kept, len(cols)), int(full), int(upd)
        prev, prev_full = kept, full
        for pdf in pdf_iter:
            kept, full = _k_first(kept, pdf[cols].to_numpy(dtype="int64"), k, full)
        if dated:
            # day end + the 1-day grace, set on every call, unchanged set
            # or not: GroupState documents a timeout as lasting until the
            # next call (PySpark 4.1 happens to carry the old one over)
            expire_ms = int(pd.Timestamp(kv).value // 1_000_000) + 2 * 24 * 3600 * 1000
            state.setTimeoutTimestamp(max(expire_ms, state.getCurrentWatermarkMs() + 1))
        if state.exists and full == prev_full and np.array_equal(kept, prev):
            return
        upd += 1
        state.update((",".join(map(str, kept.ravel().tolist())), full, upd))
        yield pd.DataFrame(
            {key: kv, "upd": upd, **{c: kept[:, i] for i, c in enumerate(cols)}, "full": full}
        )

    return df.groupBy(key).applyInPandasWithState(
        fn,
        out,
        _K_FIRST_STATE,
        "update",
        GroupStateTimeout.EventTimeTimeout if dated else GroupStateTimeout.NoTimeout,
    )
