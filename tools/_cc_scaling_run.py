"""One CC scaling-bench worker: connected components (min-label
propagation, delta plan) to fixpoint on the scaled arithmetic graph at
a given local[k] master. Prints one JSON line.

Usage: python tools/_cc_scaling_run.py <cores> <n_vertices> [shuffle_partitions]

Companion to _scaling_run.py (PageRank, the north-rule workload): CC is
the delta-plan algorithm — the frontier grows then shrinks, so
per-superstep work varies. Scaling comparisons therefore pair
supersteps BY INDEX across parallelism levels (superstep k performs the
identical frontier work at every level; the run asserts identical
superstep counts and label checksums), instead of using a single
steady-state median.

Same fixed per-core resource model as _scaling_run.py: heap = 1.5 GB x
cores, GC threads = cores — each "executor" brings a constant slice.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    cores = int(sys.argv[1])
    n = int(sys.argv[2])
    shuffle = int(sys.argv[3]) if len(sys.argv) > 3 else 2 * cores

    from pyspark.sql import functions as F

    from linkgraph import connected_components, get_spark
    from linkgraph.docgraph import scaled_edges

    heap_gb = max(3, int(cores * 1.5))
    gc_name = os.environ.get("LINKGRAPH_GC", "parallel").lower()
    if gc_name == "g1":
        gc_opts = f"-XX:+UseG1GC -XX:ParallelGCThreads={max(2, cores)}"
    else:
        gc_name = "parallel"
        gc_opts = f"-XX:+UseParallelGC -XX:ParallelGCThreads={max(2, cores)}"
    spark = get_spark(
        app_name=f"linkgraph-cc-scaling-{cores}",
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
    comp, res = connected_components(
        edges,
        vertices=spark.range(n).select(F.col("id")),
        num_partitions=shuffle,
    )
    comp.write.format("noop").mode("overwrite").save()
    total_sec = time.monotonic() - t0
    loop_sec = sum(h.wall_sec for h in res.history)

    # label checksum: both levels must produce the identical labeling
    chk = comp.agg(F.sum("component").alias("s")).first()["s"]

    spark.stop()

    steps = [round(h.wall_sec, 2) for h in res.history]
    print(
        json.dumps(
            {
                "algorithm": "connected_components",
                "cores": cores,
                "shuffle_partitions": shuffle,
                "n_vertices": n,
                "n_edges": n_edges,
                "heap_gb": heap_gb,
                "gc": gc_name,
                "build_sec": round(build_sec, 3),
                "total_sec": round(total_sec, 3),
                "loop_sec": round(loop_sec, 3),
                "supersteps": res.supersteps,
                "converged": res.converged,
                "per_step_sec": steps,
                "label_sum": int(chk),
            }
        )
    )


if __name__ == "__main__":
    main()
