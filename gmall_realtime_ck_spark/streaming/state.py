"""Keyed stateful streaming operators (SURVEY.md §2.6, T1-T7).

The reference implements these with Flink ValueState + TTL; here they
are ``applyInPandasWithState`` (Arrow-batched, grouped state) or the
built-in ``dropDuplicatesWithinWatermark``. Each has a batch oracle in
``operators.stateful`` — tests assert batch ≡ stream.

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


def dedup_within_watermark(df: DataFrame, keys: list[str], ts_col: str, delay: str) -> DataFrame:
    """T1/T2 streaming — keyed dedup with bounded state
    (DwsTradeSkuOrderWindow.java:196-233, state TTL 10 s → here the
    watermark delay bounds the dedup horizon). Keeps the first arrival
    per key; Spark evicts state once the watermark passes.
    """
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


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


def _kmv_merge(cur, batch, k: int, sat: int):
    """One KMV state transition: merge a batch of hashes into the
    running K-smallest set. Returns (new_set, new_sat). K-smallest of
    a union equals K-smallest regardless of arrival order or batch
    boundaries, so the whole micro-batch merges as one vectorized
    numpy unique instead of row-at-a-time compare-against-max; ``sat``
    latches once anything is ever evicted/rejected (union exceeded K),
    which is exactly the "distinct count exceeded K" predicate —
    property-tested against a pure-set model in test_streaming."""
    import numpy as np

    merged = np.unique(np.concatenate([cur, batch]))
    if len(merged) > k:
        return merged[:k], 1
    return merged, sat


def _kmv_decode(hs: str):
    """Comma-joined int64 state string → int64 array (the KMV hash set
    and both halves of the domain-cap pair state)."""
    import numpy as np

    return np.array(hs.split(","), dtype="int64") if hs else np.array([], dtype="int64")


_KMV_STATE = StructType(
    [StructField("hashes", StringType()), StructField("saturated", LongType())]
)
_KMV_OUT = StructType(
    [
        StructField("d", DateType()),
        StructField("sketch_size", LongType()),
        StructField("saturated", LongType()),
        StructField("mk", LongType()),
    ]
)


def kmv_sketch_stream(dh: DataFrame, k: int) -> DataFrame:
    """Bounded-state KMV distinct-count sketch, live (Bar-Yossef et al.
    2002): per event-day, state is exactly the running K-smallest set
    of distinct user hashes (≤ K longs) plus one saturation flag — the
    production form of ``flow_kmv`` whose naive twin kept the full
    distinct (day, hash) set in dropDuplicates state. KMV's insert is
    a compare-against-max, and the K smallest of a union equal the K
    smallest regardless of arrival order, so each micro-batch merges
    vectorized (numpy unique over state ∪ batch) instead of row-at-a-
    time; an evicted hash can never re-enter (the set max only
    decreases), so the retained set is always the true K-smallest of
    everything seen.

    ``saturated`` records whether any arrival was ever evicted or
    rejected: 0 ⇒ the set IS the day's full distinct-hash set (exact
    count), 1 ⇒ estimate via (K−1)·2⁴⁴ div max(set). Each update emits
    one row per touched day; ``sketch_size``/``saturated`` are
    monotone non-decreasing and ``mk`` (the K-th smallest, null until
    the set fills) monotone non-increasing, so a poll-time
    max/max/min per day reads the current sketch.

    Input must carry a watermarked event-time column: state for a day
    is expired via EventTimeTimeout once the watermark passes day-end
    + a 1-day grace — closed days cost nothing forever after, keeping
    total state O(open days × K) longs.
    """

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (d,) = key
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({f.name: pd.Series(dtype="object") for f in _KMV_OUT.fields})
            return
        if state.exists:
            hs, sat = state.get
            cur, sat = _kmv_decode(hs), int(sat)
        else:
            cur, sat = _kmv_decode(""), 0
        for pdf in pdf_iter:
            cur, sat = _kmv_merge(cur, pdf["h"].to_numpy(dtype="int64"), k, sat)
        state.update((",".join(map(str, cur.tolist())), sat))
        # day end + the 1-day grace
        expire_ms = int(pd.Timestamp(d).value // 1_000_000) + 2 * 24 * 3600 * 1000
        state.setTimeoutTimestamp(max(expire_ms, state.getCurrentWatermarkMs() + 1))
        yield pd.DataFrame(
            {
                "d": [d],
                "sketch_size": [len(cur)],
                "saturated": [sat],
                "mk": [int(cur[-1]) if len(cur) == k else None],
            }
        )

    return dh.groupBy("d").applyInPandasWithState(
        fn, _KMV_OUT, _KMV_STATE, "update", GroupStateTimeout.EventTimeTimeout
    )


_KMVSET_STATE = StructType(
    [
        StructField("hashes", StringType()),
        StructField("saturated", LongType()),
        StructField("upd", LongType()),
    ]
)
_KMVSET_OUT = StructType(
    [
        StructField("tp", StringType()),
        StructField("upd", LongType()),
        StructField("h", LongType()),
        StructField("full", LongType()),
    ]
)


def kmv_set_sketch_stream(dh: DataFrame, k: int) -> DataFrame:
    """Bounded-state KMV SET sketch per string key: state is the
    running K-smallest distinct-hash set (≤ K longs) + saturation flag,
    merged vectorized per Arrow batch exactly like ``kmv_sketch_stream``
    — but each update emits the sketch's CONTENTS (one row per retained
    hash, stamped with a per-key update counter) rather than just its
    summary, so poll-time consumers can run set-OPERATION algebra
    (union/intersection/Jaccard between keys — see
    ``relational.kmv_pair_overlap``) on the latest snapshot: filter to
    each key's max ``upd``. The K-smallest set is arrival-order
    independent, so the final snapshot equals the batch sketch.

    Output contract (update mode): a key re-emits its ≤ K rows ONLY
    when the micro-batch actually changed the sketch — a batch of
    already-seen / too-large hashes emits nothing (a K-smallest set
    converges, so at production poll rates most batches go quiet and
    the sink stays near its steady-state size instead of growing by
    K rows per key per batch). Consumers must still treat the sink as
    a CHANGELOG and compact latest-``upd``-wins per key (the poll-time
    filter in ``pipelines.flow_overlap_kmv`` does exactly this):
    update-mode sinks append, so superseded snapshots remain until
    compaction. Rows-per-poll ≤ keys × K is pinned by
    tests/test_streaming.py::test_kmv_set_sketch_emits_only_on_change.

    No timeout: keys here are low-cardinality categories (event types,
    sources), so total state is O(keys × K) longs forever — the
    day-keyed sibling above is the one that needs event-time expiry.
    """
    import numpy as np

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (tp,) = key
        if state.exists:
            hs, sat, upd = state.get
            cur, sat, upd = _kmv_decode(hs), int(sat), int(upd)
        else:
            cur, sat, upd = _kmv_decode(""), 0, 0
        prev, prev_sat, existed = cur, sat, state.exists
        for pdf in pdf_iter:
            cur, sat = _kmv_merge(cur, pdf["h"].to_numpy(dtype="int64"), k, sat)
        if existed and sat == prev_sat and np.array_equal(cur, prev):
            # sketch unchanged — emit nothing, keep state (and upd) as-is
            yield pd.DataFrame({f.name: pd.Series(dtype="object") for f in _KMVSET_OUT.fields})
            return
        upd += 1
        state.update((",".join(map(str, cur.tolist())), sat, upd))
        yield pd.DataFrame(
            {"tp": tp, "upd": upd, "h": cur.tolist(), "full": sat}
        )

    return dh.groupBy("tp").applyInPandasWithState(
        fn, _KMVSET_OUT, _KMVSET_STATE, "update", GroupStateTimeout.NoTimeout
    )


_DOMCAP_STATE = StructType(
    [
        StructField("hashes", StringType()),
        StructField("ids", StringType()),
        StructField("upd", LongType()),
    ]
)
_DOMCAP_OUT = StructType(
    [
        StructField("source", StringType()),
        StructField("upd", LongType()),
        StructField("h", LongType()),
        StructField("doc_id", LongType()),
    ]
)


def _pair_merge(cur_h, cur_d, bh, bd, k: int):
    """One domain-cap state transition: merge a batch of (h, doc_id)
    pairs into the running K-first set under the total order
    (h, doc_id). Top-K sets under a total order compose (the same law
    the two-level ``topk_per_key`` rank rests on), so the whole
    micro-batch merges as one vectorized lexsort instead of row-at-a-
    time; exact duplicate pairs (a replayed document) collapse before
    the cut so replays cannot evict a legitimately-kept doc."""
    import numpy as np

    h = np.concatenate([cur_h, bh])
    d = np.concatenate([cur_d, bd])
    order = np.lexsort((d, h))  # primary h, tie-break doc_id
    h, d = h[order], d[order]
    if len(h):
        keep = np.ones(len(h), dtype=bool)
        keep[1:] = (h[1:] != h[:-1]) | (d[1:] != d[:-1])
        h, d = h[keep], d[keep]
    return h[:k], d[:k]


def domain_cap_stream(sh: DataFrame, cap: int) -> DataFrame:
    """Streaming per-domain quota admission with BOUNDED state: per
    source, state is exactly the running CAP-first set of (h, doc_id)
    pairs under content-hash order (2·CAP longs — the streaming twin
    of ``sampling.sample_domain_cap``, and the admission an ingest
    pipeline runs live so no domain floods the mixture between batch
    re-caps). The CAP-first set of a union is arrival-order
    independent, so the final snapshot equals the batch cap exactly
    and its oracle applies verbatim.

    Same changelog contract as ``kmv_sketch_stream``'s set sibling: a
    key re-emits its ≤ CAP rows only when a micro-batch actually
    changes the kept set (stamped with a per-key ``upd`` counter);
    consumers compact latest-``upd``-wins per source. No timeout —
    sources are a low-cardinality dimension, total state
    O(sources × CAP) longs.
    """
    import numpy as np

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        (src,) = key
        if state.exists:
            hs, ids, upd = state.get
            cur_h, cur_d, upd = _kmv_decode(hs), _kmv_decode(ids), int(upd)
        else:
            cur_h, cur_d, upd = _kmv_decode(""), _kmv_decode(""), 0
        prev_h, prev_d, existed = cur_h, cur_d, state.exists
        for pdf in pdf_iter:
            cur_h, cur_d = _pair_merge(
                cur_h,
                cur_d,
                pdf["h"].to_numpy(dtype="int64"),
                pdf["doc_id"].to_numpy(dtype="int64"),
                cap,
            )
        if existed and np.array_equal(cur_h, prev_h) and np.array_equal(cur_d, prev_d):
            yield pd.DataFrame({f.name: pd.Series(dtype="object") for f in _DOMCAP_OUT.fields})
            return
        upd += 1
        state.update(
            (",".join(map(str, cur_h.tolist())), ",".join(map(str, cur_d.tolist())), upd)
        )
        yield pd.DataFrame(
            {"source": src, "upd": upd, "h": cur_h.tolist(), "doc_id": cur_d.tolist()}
        )

    return sh.groupBy("source").applyInPandasWithState(
        fn, _DOMCAP_OUT, _DOMCAP_STATE, "update", GroupStateTimeout.NoTimeout
    )
