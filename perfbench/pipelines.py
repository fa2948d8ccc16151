"""``pipelines``: the ``trade_cdc`` and ``traffic_log`` replays in one run.

Both workloads set up in one session and their three queries warm up
together.  Then ``traffic_log``'s replay is measured, and after it
``trade_cdc``'s, so neither stream's figures include the other's
batches: a replay's queries stop once it is measured, and the trade
query waits idle meanwhile.  One run thus covers every layer of both
streams for one JVM start and one overlapped warm-up.
"""

from __future__ import annotations

import os

from . import trade_cdc, traffic_log
from .replay import stream_outcome, warm_up


class Workload:
    def __init__(self, ctx):
        self.parts = {"traffic_log": traffic_log.Workload(ctx),
                      "trade_cdc": trade_cdc.Workload(ctx)}

    @property
    def offered(self) -> dict:
        return {name: part.offered for name, part in self.parts.items()}

    def setup(self, spark, root: str) -> None:
        for name, part in self.parts.items():
            part.setup(spark, os.path.join(root, name))

    def start(self, spark) -> None:
        for part in self.parts.values():
            part.open(spark)
        warm_up(list(self.parts.values()))

    def measure(self, spark) -> list:
        return [part.measure(spark) for part in self.parts.values()]

    def outcome(self, spark, measured: list):
        return stream_outcome([part.check(spark, stats)
                               for part, stats in zip(self.parts.values(), measured)])
