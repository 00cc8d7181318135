"""One scaling-bench worker: PageRank (fixed updates) on the scaled
arithmetic graph at a given local[k] master. Prints one JSON line.

Usage: python tools/_scaling_run.py <cores> <n_vertices> <updates> [shuffle_partitions] [warmup]

Timed region = the superstep loop only (adjacency build + ranks init are
one-time graph-load costs in the reference too, Driver.java:239-256 vs
324-329); the JSON also reports the total including build.

Steady state: the first ``warmup`` supersteps (default 2) are excluded
from the steady_* metrics — they pay JIT/codegen compilation and the
first materialization of the cached adjacency (r1 trace: 33s -> 4.7s
within one run at 32 cores), which a long-running production job
amortizes to nothing. The raw per-step trace is always reported so the
exclusion is auditable.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    cores = int(sys.argv[1])
    n = int(sys.argv[2])
    updates = int(sys.argv[3])
    shuffle = int(sys.argv[4]) if len(sys.argv) > 4 else 2 * cores
    warmup = int(sys.argv[5]) if len(sys.argv) > 5 else 2

    from pyspark.sql import functions as F

    from linkgraph import get_spark, pagerank
    from linkgraph.docgraph import scaled_edges

    # Fixed per-core resources — the cluster-faithful model of "N vs 4N
    # executors": each executor brings a constant (cores, memory) slice,
    # so local[k] gets heap and GC threads proportional to k. Giving
    # every level the full machine's heap would over-provision the
    # small configs relative to a real N-executor cluster.
    heap_gb = max(3, int(cores * 1.5))
    # LINKGRAPH_GC selects the collector (A/B knob; measured both at
    # every level — BENCH/runs/scaling_levels_all.jsonl). Measured
    # result: G1 wins when the heap has headroom (32 cores/48g: steady
    # step 20.5s -> 13.0s vs ParallelGC; 8 cores/12g on 10M: 10.9s ->
    # 9.0s) but loses when it's tight (8 cores/12g on 40M:
    # GCLocker-retry thrash; 2 cores/3g: Java heap space OOM), so each
    # scaling level reports its best collector — per-deployment GC
    # tuning, as on a real cluster. Default stays ParallelGC (never
    # fails; the safe choice at unknown heap pressure).
    import os

    gc_name = os.environ.get("LINKGRAPH_GC", "parallel").lower()
    if gc_name == "g1":
        gc_opts = f"-XX:+UseG1GC -XX:ParallelGCThreads={max(2, cores)}"
    else:
        gc_name = "parallel"
        gc_opts = f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(2, cores)}"
    spark = get_spark(
        app_name=f"linkgraph-scaling-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=shuffle,
        extra_conf={
            "spark.driver.memory": f"{heap_gb}g",
            "spark.driver.extraJavaOptions": gc_opts,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    t_build0 = time.monotonic()
    edges = scaled_edges(spark, n, num_partitions=shuffle).persist()
    n_edges = edges.count()
    build_sec = time.monotonic() - t_build0

    t0 = time.monotonic()
    ranks, res = pagerank(
        edges,
        fixed_updates=updates,
        vertices=spark.range(n).select(F.col("id")),
        num_partitions=shuffle,
    )
    ranks.write.format("noop").mode("overwrite").save()
    total_sec = time.monotonic() - t0
    # loop_sec = the shuffle-bound superstep loop only; total_sec also
    # includes the one-time adjacency build + final write (the
    # reference's load/write phases, Driver.java:239-268).
    loop_sec = sum(h.wall_sec for h in res.history)

    # checksum so both parallelism levels can be shown to agree
    chk = ranks.agg(F.round(F.sum("rank"), 6).alias("s")).first()["s"]

    spark.stop()

    steps = [h.wall_sec for h in res.history]
    steady = sorted(steps[warmup:]) if len(steps) > warmup else sorted(steps)
    steady_median = steady[len(steady) // 2]
    # noise-robust companions (BENCH/noise_audit_2026-08-20.json): the
    # sandbox host intermittently stalls individual supersteps 2-6x
    # (zero guest-visible steal, memory/disk probes clean, reproduced
    # across GC/storage configs and code versions). The per-step MIN /
    # P25 isolate the systematic dataflow cost from those one-off
    # stalls; both ride next to the median so a reader can judge the
    # spread, and the raw trace stays authoritative.
    steady_min = steady[0]
    steady_p25 = steady[max(0, (len(steady) - 1) // 4)]
    print(
        json.dumps(
            {
                "cores": cores,
                "shuffle_partitions": shuffle,
                "n_vertices": n,
                "n_edges": n_edges,
                "updates": updates,
                "warmup_steps_excluded": warmup if len(steps) > warmup else 0,
                "heap_gb": heap_gb,
                "gc": gc_name,
                "build_sec": round(build_sec, 3),
                "total_sec": round(total_sec, 3),
                "loop_sec": round(loop_sec, 3),
                "per_step_sec": [round(s, 2) for s in steps],
                "median_step_sec": round(sorted(steps)[len(steps) // 2], 2),
                "steady_median_step_sec": round(steady_median, 3),
                "steady_min_step_sec": round(steady_min, 3),
                "steady_p25_step_sec": round(steady_p25, 3),
                # bimodality indicator for the automatic re-run policy
                # (tools/bench_scaling.py): a clean trace has median ~=
                # P25; host-contention stalls inflate the ratio
                "noise_ratio": round(steady_median / steady_p25, 3)
                if steady_p25
                else 1.0,
                "edges_per_sec_per_superstep": round(n_edges * updates / loop_sec, 1),
                "steady_edges_per_sec_per_superstep": round(n_edges / steady_median, 1),
                "p25_edges_per_sec_per_superstep": round(n_edges / steady_p25, 1),
                "rank_sum": chk,
            }
        )
    )


if __name__ == "__main__":
    main()
