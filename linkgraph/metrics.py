"""Per-superstep metrics / lineage records.

Reference analogue: Pregelix prints per-iteration wall time and runs the
always-on GlobalVertexCountAggregator / GlobalEdgeCountAggregator every
superstep (Driver.java:324-341, PregelixJob.java:102-104) and collects
performance counters per run (Driver.java:74-75, 196-200). The
north_rule upgrades this to a durable lineage record per superstep:
messages sent, delta norm, skew ratio, and per-partition row counts.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field


@dataclass
class SuperstepMetrics:
    superstep: int
    messages: int = 0
    delta: float | None = None
    changed: int | None = None
    rows: int = 0
    # max/mean rows per partition of the committed snapshot; filled by
    # CheckpointManager.save with rows_per_partition (None in
    # LoopResult.history: the loop runs no histogram pass)
    skew_ratio: float | None = None
    rows_per_partition: dict[int, int] = field(default_factory=dict)
    wall_sec: float = 0.0
    # user GlobalAggregator values for this superstep (reference:
    # GlobalAggregator.java:42-78, read per-iteration by the driver)
    extras: dict[str, float] = field(default_factory=dict)

    def to_json(self) -> str:
        d = asdict(self)
        d["rows_per_partition"] = {str(k): v for k, v in self.rows_per_partition.items()}
        return json.dumps(d, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "SuperstepMetrics":
        d = json.loads(s)
        d["rows_per_partition"] = {
            int(k): v for k, v in d.get("rows_per_partition", {}).items()
        }
        return cls(**d)


def partition_histogram(df) -> dict[int, int]:
    """Rows per physical partition of a (persisted) DataFrame — the
    per-partition lineage component of the checkpoint metadata."""
    from pyspark.sql import functions as F

    rows = df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    return {int(r["pid"]): int(r["count"]) for r in rows}


def skew_from_histogram(hist: dict[int, int]) -> float:
    if not hist:
        return 1.0
    vals = list(hist.values())
    mean = sum(vals) / len(vals)
    return (max(vals) / mean) if mean else 1.0
