"""Self-tests of the benchmark's generators, statistics and checkers.

Pure Python, no Spark session:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import time
from decimal import Decimal

import pytest

from perfbench import dashboard, gen, trade_cdc, traffic_log
from perfbench.harness import Tracer, adopt_orphans, pct, reap_children, steal_share
from perfbench.replay import WARM_SEGMENTS, Replay


class _Ctx:
    seed = 7
    seconds = 2
    tracer = Tracer(False)


def test_same_seed_gives_identical_segments():
    a = [s.payload for s in gen.trade_segments(5, 12, 6)]
    assert a == [s.payload for s in gen.trade_segments(5, 12, 6)]
    assert a != [s.payload for s in gen.trade_segments(6, 12, 6)]
    b = [s.payload for s in gen.log_segments(5, 12, 40)]
    assert b == [s.payload for s in gen.log_segments(5, 12, 40)]
    assert b != [s.payload for s in gen.log_segments(6, 12, 40)]


def test_trade_segments_never_split_an_order():
    where: dict[str, set] = {}
    for seg in gen.trade_segments(3, 30, 8):
        for line in seg.lines:
            env = json.loads(line)
            data = env["data"]
            if env["table"] == "order_info":
                oid = data["id"]
            elif env["table"] == "sku_info":
                continue
            else:
                oid = data["order_id"]
            where.setdefault(oid, set()).add(seg.seq)
        assert {str(o.oid) for o in seg.orders} <= set(where)
    assert where and all(len(s) == 1 for s in where.values())


def test_percentile_needs_ten_samples_beyond():
    assert pct(list(range(19)), 50) is None
    assert pct(list(range(20)), 50) == 9.5
    assert pct(list(range(99)), 90) is None
    assert pct(list(range(100)), 90) is not None
    assert pct([], 50) is None


def _trade():
    wl = trade_cdc.Workload(_Ctx())
    wl.segments = gen.trade_segments(3, 10, 6)
    committed = set(range(10))
    got, _ = wl.expected(committed)
    return wl, committed, copy.deepcopy(got)


def test_trade_checker_passes_the_reference_output():
    wl, committed, got = _trade()
    assert wl.bad_segments(got, committed) == set()


def test_trade_checker_catches_a_mutated_dws_row():
    wl, committed, got = _trade()
    key = next(iter(got["sku"]))
    row = list(got["sku"][key])
    row[3] += Decimal("0.01")
    got["sku"][key] = tuple(row)
    assert len(wl.bad_segments(got, committed)) >= 1


def test_trade_checker_catches_a_wrong_enrichment_and_a_lost_payment():
    wl, committed, got = _trade()
    key = next(iter(got["prov"]))
    got["prov"][key] = (*got["prov"][key][:2], ("province-0",))
    got["pay"].popitem()
    assert len(wl.bad_segments(got, committed)) >= 2


def test_trade_checker_counts_uncommitted_segments():
    wl, _, _ = _trade()
    got, _ = wl.expected(set(range(8)))
    assert wl.bad_segments(got, set(range(8))) == {8, 9}


def test_traffic_checker_catches_a_wrong_daily_uv():
    wl = traffic_log.Workload(_Ctx())
    wl.segments = gen.log_segments(3, 10, 50)
    committed = set(range(10))
    want, _ = wl.expected(committed)
    got = copy.deepcopy(want)
    got["traffic"] = {k: (*v, 0) for k, v in want["traffic"].items()}
    done = {"dws": committed, "uv": committed}
    assert wl.bad_segments(got, done) == set()
    date = next(iter(got["uv"]))
    got["uv"][date] = (got["uv"][date][0] + 1, got["uv"][date][1])
    assert len(wl.bad_segments(got, done)) >= 1


def _dashboard():
    wl = dashboard.Workload(_Ctx())
    wl.live, wl.dates = "2024-12-23", ["2024-12-22", "2024-12-23"]
    wl.gmv = {"2024-12-22": Decimal("7.00")}
    wl.prov = {"2024-12-22": {"province-1": Decimal("7.00")}}
    wl.ch = {"2024-12-22": [{"ch": "web", "uv_ct": 3}]}
    wl.committed = dashboard.Committed(Decimal("10.00"), {"province-1": Decimal("10.00")})
    order = gen.Order(1, 1, wl.live, "", False, [(1, 1, 0, 0, 0, Decimal("5.00"))])
    wl.committed.add([order])
    return wl


def test_dashboard_checker_flags_a_stale_gmv():
    wl = _dashboard()
    assert wl._check("/gmv", wl.live, 15.0, 1) == (True, False)
    assert wl._check("/gmv", wl.live, 10.0, 1) == (False, True)
    # sent before the write committed: either total is right
    assert wl._check("/gmv", wl.live, 10.0, 0) == (True, False)


def test_dashboard_checker_matches_history_exactly():
    wl = _dashboard()
    assert wl._check("/gmv", "2024-12-22", 7.0, 1) == (True, False)
    assert wl._check("/gmv", "2024-12-22", 7.01, 1) == (False, False)
    assert wl._check("/province", "2024-12-22", [{"name": "province-1", "value": 7.0}], 1)[0]
    assert not wl._check("/ch", "2024-12-22", [{"ch": "web", "uv_ct": 2}], 1)[0]


def test_dashboard_run_without_a_fresh_read_fails(tmp_path):
    wl = _dashboard()
    wl.prov_path = str(tmp_path)
    (tmp_path / f"cur_date={wl.live}").mkdir()
    old = [(0.1, True, False, False, False)] * (dashboard.MIN_REQUESTS + 5)
    m = {"results": old, "writes": [(True, 1.0)], "wall": 10.0, "query_s": 0.0}
    assert wl.outcome(None, m).failed == 1
    fresh = [(0.1, True, False, False, True)] * dashboard.MIN_FRESH_READS
    m["results"] = old + fresh
    assert wl.outcome(None, m).failed == 0


def test_benchmark_json_lists_what_the_runner_reports():
    from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS[:2])
    assert any(m["name"] == "setup_s" for m in bench["end_to_end"])


def test_replay_schedules_only_the_measured_segments(tmp_path):
    r = Replay(str(tmp_path), [b""] * (WARM_SEGMENTS + 3), 0.5)
    r.start(100.0)
    r.stop()
    assert r.due == {WARM_SEGMENTS: 100.0, WARM_SEGMENTS + 1: 100.5, WARM_SEGMENTS + 2: 101.0}


def test_reap_children_waits_for_an_orphaned_grandchild():
    adopt_orphans()
    # the shell exits at once and leaves its background sleep behind
    subprocess.run(["sh", "-c", "sleep 60 & exit 0"], check=True)
    t = time.monotonic()
    reap_children(grace_s=0.2)
    assert time.monotonic() - t < 5
    with pytest.raises(ChildProcessError):
        os.waitpid(-1, os.WNOHANG)


def test_steal_share_is_the_steal_column_of_the_cpu_time_delta():
    before = [100, 0, 10, 500, 0, 0, 0, 40]
    after = [160, 0, 20, 530, 0, 0, 0, 70]  # 30 of 130 jiffies stolen
    assert abs(steal_share(before, after) - 30 / 130) < 1e-12
    assert steal_share([], []) == 0.0
