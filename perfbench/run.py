"""Layered benchmark for linkgraph's superstep engine.

Run from the repository root:

    python3 perfbench/run.py --workload scaled_pr --seed 1 --seconds 10 --trace 0

One run is one process on ``local[nproc]``:

1. set-up: process start until ``get_spark`` returns and a first trivial
   job completes. The Spark part is a cold JVM start each time; it is
   done twice and their median (mean) counts;
2. inputs: the seeded graph (``inputs.py``) is written as parquet; the
   engine only ever sees ``spark.read.parquet(...)`` of it;
3. an untimed warm-up (``Bench.warm_up``);
4. repetitions until ``--seconds`` is used up. Each repetition times the
   algorithm call plus a forced ``noop`` write of its result, under a
   job group of its own, then checks the answer against a numpy oracle
   outside the timed region. A repetition that raises or fails the
   check counts in ``failed``; it is never dropped;
5. cc_ckpt only: the last repetition's run is crashed at its midpoint
   and resumed by a fresh call (``Bench.resume``).

With ``--trace 0`` the last stdout line carries the end-to-end metrics
(medians over the timed repetitions). With ``--trace 1`` every third repetition
is traced: traced ones record spans and read Spark's status store for
their job group, and the line carries the per-layer metrics, including
the tracing overhead (a traced ``run_s`` minus the mean of its
untraced neighbours).
Every run also leaves a record (seed, cores, steal, versions, commit,
repetitions, spans, per-superstep records) under ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid
from dataclasses import dataclass
from pathlib import Path

import benchenv
from checks import RANK_ATOL, Graph, check_components, check_pagerank
from inputs import seeded_edges
from layers import StatusReader, StatusStoreError, Tracer, call_layers, superstep_records


@dataclass(frozen=True)
class Workload:
    algo: str  # "pagerank" or "cc"
    vertices: int
    tiny_vertices: int  # for the self-test
    warmup_calls: int  # untimed full calls before the timed ones
    fixed_updates: int = 0  # PageRank: updates per call


# BENCHMARK.json lists the workloads and why each exists.
WORKLOADS = {
    "scaled_pr": Workload("pagerank", vertices=50_000, tiny_vertices=3_000,
                          warmup_calls=6, fixed_updates=5),
    "cc_ckpt": Workload("cc", vertices=10_000, tiny_vertices=3_000, warmup_calls=5),
}

E2E_UNITS = {"setup_s": "s", "run_s": "s", "edges_per_s": "1/s", "peak_rss_mb": "MB"}

LAYER_UNITS = {
    "partitioning.prologue_s": "s",
    "superstep.count": "count",
    "superstep.step_s": "s",
    "superstep.first_step_s": "s",
    "superstep.driver_gap_s": "s",
    "superstep.driver_gap_share": "ratio",
    "superstep.sql_execs": "count",
    "superstep.jobs": "count",
    "superstep.stages": "count",
    "superstep.tasks": "count",
    "exec.busy_s": "s",
    "exec.busy_share": "ratio",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "spill.disk_bytes": "B",
    "cc.frontier": "count",
    "checkpoint.save_s": "s",
    "checkpoint.save_jobs": "count",
    "checkpoint.bytes": "B",
    "checkpoint.load_s": "s",
    "checkpoint.resume_s": "s",
    "result.write_s": "s",
    "trace.overhead_s": "s",
    "fail_ratio": "ratio",
}

# --corrupt-ranks adds this to one rank: twice the oracle's tolerance
# (RANK_ATOL on rank * N), so the self-test shows the check is tight
CORRUPTION_SCALED = 2 * RANK_ATOL

# cold Spark starts per run; setup_s takes their median. Each costs about
# 10 s on a 4-vCPU guest; a third one would leave too little of a
# one-minute run for several repetitions.
SETUPS = 2


@dataclass
class Call:
    df: object
    res: object
    run_s: float
    write_s: float
    t0: float  # epoch seconds: call start, call return, write end
    t1: float
    t2: float
    records: object = None


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _release(res) -> None:
    """Free the cached result state between repetitions."""
    from linkgraph.superstep import release_local_checkpoint

    res.state.unpersist()
    release_local_checkpoint(res.state)


class Bench:
    def __init__(self, spark, name: str, args, tracer: Tracer, work: Path):
        self.spark = spark
        self.name = name
        self.w = WORKLOADS[name]
        self.args = args
        self.tracer = tracer
        self.work = work
        self.reader = StatusReader(spark)
        self.graph = None
        self.edges = None
        self.last_cc = None  # cc_ckpt: the last repetition, for resume()

    # -- one timed call ---------------------------------------------------
    def _call(self, tag: str, fn, read_store: bool) -> Call:
        group = f"perfbench-{self.name}-{tag}-{uuid.uuid4().hex[:12]}"
        mark = self.reader.mark() if read_store else None
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            t0, p0 = time.time(), time.perf_counter()
            with self.tracer.span(f"{tag}.call"):
                df, res = fn()
            t1, p1 = time.time(), time.perf_counter()
            with self.tracer.span(f"{tag}.result_write"):
                df.write.format("noop").mode("overwrite").save()
            t2, p2 = time.time(), time.perf_counter()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        call = Call(df, res, p2 - p0, p2 - p1, t0, t1, t2)
        if read_store:
            call.records = self.reader.read(group, mark, t0, t2)
        return call

    def _layers(self, call: Call, saves=()) -> tuple[dict, list]:
        steps = superstep_records(call.res.history, call.t1, call.records)
        layers = call_layers(call.res.history, steps, call.records, call.run_s,
                             call.write_s, list(saves))
        return layers, steps

    def _timed_methods(self, ck, log: dict) -> None:
        """Wrap this CheckpointManager instance's save/load to time them."""
        tracer = self.tracer
        for name in ("save", "load"):
            orig = getattr(ck, name)

            def timed(superstep, *a, _orig=orig, _name=name, **kw):
                with tracer.span(f"checkpoint.{_name}", superstep=superstep):
                    t0 = time.time()
                    try:
                        return _orig(superstep, *a, **kw)
                    finally:
                        log.setdefault(_name, []).append((superstep, t0, time.time()))

            setattr(ck, name, timed)

    # -- workloads ----------------------------------------------------------
    def _pagerank(self, idx: int, traced: bool) -> dict:
        from linkgraph import pagerank

        w = self.w
        call = self._call(
            f"pr{idx}",
            lambda: pagerank(self.edges, fixed_updates=w.fixed_updates),
            traced,
        )
        res = call.res
        rep = {"run_s": call.run_s, "supersteps": res.supersteps}
        if traced:
            rep["layers"], rep["steps"] = self._layers(call)
        with self.tracer.span("oracle.check"):
            pdf = call.df.toPandas()
            ranks = pdf["rank"].to_numpy().copy()
            if self.args.corrupt_ranks:
                ranks[0] += CORRUPTION_SCALED / self.graph.num_vertices
            rep["error"] = check_pagerank(
                self.graph, pdf["id"].to_numpy(), ranks, w.fixed_updates
            )
        _release(res)
        return rep

    def _cc_ckpt(self, idx: int, traced: bool) -> dict:
        from linkgraph import connected_components
        from linkgraph.checkpoint import CheckpointManager

        if self.last_cc is not None:
            shutil.rmtree(self.last_cc["ckdir"], ignore_errors=True)
            self.last_cc = None
        ckdir = self.work / f"ckpt-{idx}"
        log: dict = {}
        ck = CheckpointManager(self.spark, str(ckdir), every=1)
        self._timed_methods(ck, log)
        call = self._call(
            f"cc{idx}", lambda: connected_components(self.edges, ckpt=ck), traced
        )
        res = call.res
        rep = {"run_s": call.run_s, "supersteps": res.supersteps}
        with self.tracer.span("oracle.check"):
            labels = call.df.toPandas().sort_values("id")
            rep["error"] = check_components(
                self.graph, labels["id"].to_numpy(), labels["component"].to_numpy()
            )
        snapshots = ck.committed_supersteps()
        _release(res)
        if traced:
            saves = [(a, b) for _, a, b in log.get("save", [])]
            rep["layers"], rep["steps"] = self._layers(call, saves)
            rep["layers"].update({
                "checkpoint.save_s": statistics.median(b - a for a, b in saves),
                "checkpoint.bytes": statistics.median(
                    _dir_bytes(ckdir / f"superstep={k}") for k in snapshots
                ),
            })
        # kept for resume(), which crashes and resumes the last repetition
        self.last_cc = {"ckdir": ckdir, "rep": rep, "res": res,
                        "labels": labels, "snapshots": snapshots}
        return rep

    def resume(self) -> None:
        """Crash the last repetition's run at its midpoint and time a fresh
        call resuming from the checkpoints it left. Done once per run,
        after the timed repetitions; a wrong resume fails that repetition.
        The crash deletes ``_meta/K.json`` for every K past the midpoint:
        a superstep without its meta record is uncommitted (checkpoint.py
        commit protocol)."""
        from linkgraph import connected_components
        from linkgraph.checkpoint import CheckpointManager

        last, self.last_cc = self.last_cc, None
        if last is None or last["rep"]["error"]:
            return
        rep, res, ckdir = last["rep"], last["res"], last["ckdir"]
        try:
            mid = res.supersteps // 2
            for k in last["snapshots"]:
                if k > mid:
                    os.remove(ckdir / "_meta" / f"{k}.json")
            resume_log: dict = {}
            ck = CheckpointManager(self.spark, str(ckdir), every=1)
            self._timed_methods(ck, resume_log)
            again = self._call(
                "resume", lambda: connected_components(self.edges, ckpt=ck), False
            )
            with self.tracer.span("oracle.check"):
                labels = again.df.toPandas().sort_values("id")
                rep["error"] = self._resume_error(
                    res, again.res, mid, resume_log, last["labels"], labels
                )
            _release(again.res)
            rep["resume_s"] = again.run_s
            rep["resume_layers"] = {
                "checkpoint.load_s": sum(b - a for _, a, b in resume_log.get("load", [])),
                "checkpoint.resume_s": again.run_s,
            }
        except StatusStoreError:
            raise
        except Exception as exc:
            traceback.print_exc()
            rep["error"] = f"resume: {type(exc).__name__}: {exc}"
        finally:
            shutil.rmtree(ckdir, ignore_errors=True)
        if rep["error"]:
            print(f"perfbench: resume failed: {rep['error']}", file=sys.stderr)

    def _resume_error(self, res, res2, mid, resume_log, first, second) -> str | None:
        if mid < 1:
            return f"cc: {res.supersteps} supersteps leave no midpoint to resume from"
        loads = [k for k, _, _ in resume_log.get("load", [])]
        if loads != [mid]:
            return f"resume: loaded supersteps {loads}, expected [{mid}]"
        steps = [h.superstep for h in res2.history]
        if steps != list(range(1, res.supersteps + 1)):
            return f"resume: superstep sequence {steps}"
        if not (first["id"].to_numpy() == second["id"].to_numpy()).all() or not (
            first["component"].to_numpy() == second["component"].to_numpy()
        ).all():
            return "resume: labels differ from the uninterrupted run"
        return None

    def generate(self, vertices: int) -> None:
        """Write the seeded graph as parquet; the engine reads it back."""
        out = str(self.work / "edges")
        seeded_edges(self.spark, vertices, self.args.seed).write.parquet(out)
        self.graph = Graph(out)
        self.edges = self.spark.read.parquet(out)

    def warm_up(self) -> None:
        """Untimed full calls, so that the timed ones run on a JVM whose
        JIT has settled. On a 4-vCPU guest a cc_ckpt call took 8.3, 4.5,
        4.0, 3.8, 3.7 s as calls 1-5 and then held at 3.1-3.4 s for the
        next fifteen; scaled_pr calls settled after about six. Timing
        the tail of that curve made each run's figure depend on how far
        its JIT had got, and hypervisor steal slows the JIT too, so a
        stolen run was slower twice over."""
        from linkgraph import connected_components, pagerank
        from linkgraph.checkpoint import CheckpointManager

        for i in range(self.w.warmup_calls):
            if self.w.algo == "pagerank":
                out, res = pagerank(self.edges, fixed_updates=self.w.fixed_updates)
                out.write.format("noop").mode("overwrite").save()
                _release(res)
                continue
            ckdir = self.work / f"ckpt-warm-{i}"
            try:
                ck = CheckpointManager(self.spark, str(ckdir), every=1)
                out, res = connected_components(self.edges, ckpt=ck)
                out.write.format("noop").mode("overwrite").save()
                _release(res)
            finally:
                shutil.rmtree(ckdir, ignore_errors=True)

    def repetitions(self, seconds: float, tracing: bool) -> list[dict]:
        """Repetitions until ``seconds`` have passed, at least three (so
        that a median can pass over one disturbed repetition); the last
        one may end up to one repetition later.
        Traced runs go U T U U T U ... (U untraced, T traced): each T sits
        between two U's, so warm-up drift cancels in the overhead
        estimate.

        The end-to-end figures are medians over the untraced ones. The
        graphs are sized so that several repetitions fit after the
        warm-up; with one call per run, runs reported different points
        of the JVM's warm-up curve and spread far more."""
        rep_fn = self._pagerank if self.w.algo == "pagerank" else self._cc_ckpt
        reps = []
        start = time.monotonic()
        min_reps = 3
        while True:
            idx = len(reps)
            traced = tracing and idx % 3 == 1
            self.tracer.enabled = traced
            steal0 = benchenv.steal_ticks()
            try:
                rep = rep_fn(idx, traced)
            except StatusStoreError:
                raise
            except Exception as exc:
                traceback.print_exc()
                rep = {"error": f"{type(exc).__name__}: {exc}"}
            finally:
                self.tracer.enabled = tracing
            rep["traced"] = traced
            rep["steal_pct"] = benchenv.steal_pct(steal0, benchenv.steal_ticks())
            reps.append(rep)
            if rep["error"]:
                print(f"perfbench: repetition {idx} failed: {rep['error']}", file=sys.stderr)
            if len(reps) >= min_reps and time.monotonic() - start >= seconds:
                break
        if self.w.algo == "cc":
            self.resume()
        return reps


def _median(values, default=0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def _timed(reps, traced: bool) -> list[dict]:
    return [r for r in reps if r["traced"] == traced and not r["error"]]


def end_to_end(reps, setup_s, num_edges, peak_mb) -> dict:
    ok = _timed(reps, traced=False)
    return {
        "setup_s": setup_s,
        "run_s": _median(r["run_s"] for r in ok),
        "edges_per_s": _median(num_edges * r["supersteps"] / r["run_s"] for r in ok),
        "peak_rss_mb": peak_mb,
    }


def per_layer(reps) -> dict:
    traced = _timed(reps, traced=True)
    out = {name: _median(r["layers"].get(name, 0.0) for r in traced) for name in LAYER_UNITS}
    for r in reps:
        out.update(r.get("resume_layers", {}))
    out["trace.overhead_s"] = _median(
        r["run_s"] - (reps[i - 1]["run_s"] + reps[i + 1]["run_s"]) / 2
        for i, r in enumerate(reps[:-1])
        if r["traced"] and not (r["error"] or reps[i - 1]["error"] or reps[i + 1]["error"])
    )
    out["fail_ratio"] = sum(1 for r in reps if r["error"]) / len(reps)
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="local[k] cores (default: all available; more is refused)")
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: self-test graphs of a few thousand vertices")
    ap.add_argument("--corrupt-ranks", action="store_true",
                    help="self-test: perturb one rank before the oracle check")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    started = benchenv.process_start_monotonic()
    args = parse_args(argv)
    try:
        cores = benchenv.check_cores(args.cores or benchenv.available_cores())
        benchenv.import_linkgraph()
    except benchenv.SetupError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    work = benchenv.SCRATCH / f"run-{os.getpid()}"
    benchenv.confine_to_scratch(work)
    steal0 = benchenv.steal_ticks()
    tracing = args.trace == 1
    tracer = Tracer(tracing)
    w = WORKLOADS[args.workload]
    spark = None
    try:
        # set-up = interpreter start and imports (once) + the median of
        # SETUPS cold starts of a Spark JVM; the last one is kept. A traced
        # run reports no setup_s and starts once.
        prelude_s = time.monotonic() - started
        starts = []
        for _ in range(1 if tracing else SETUPS):
            if spark is not None:
                benchenv.stop_spark(spark)
            t0 = time.monotonic()
            spark = benchenv.start_spark(cores)
            starts.append(time.monotonic() - t0)
        setup_s = prelude_s + statistics.median(starts)
        if tracing:
            now = time.time()
            tracer.spans.append({"id": 0, "name": "setup", "parent": None,
                                 "start": now - setup_s, "end": now})
        bench = Bench(spark, args.workload, args, tracer, work)
        t0 = time.monotonic()
        with tracer.span("inputs"):
            bench.generate(w.vertices if args.size == "full" else w.tiny_vertices)
        gen_s = time.monotonic() - t0
        with tracer.span("warmup"):
            bench.warm_up()
        reps = bench.repetitions(args.seconds, tracing)
        peak_mb = benchenv.peak_rss_mb(benchenv.jvm_pid(spark))
        record_versions = benchenv.versions(spark)
    finally:
        if spark is not None:
            benchenv.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    steal1 = benchenv.steal_ticks()

    failed = sum(1 for r in reps if r["error"])
    e2e = end_to_end(reps, setup_s, bench.graph.num_edges, peak_mb)
    if tracing:
        values, units = per_layer(reps), LAYER_UNITS
    else:
        values, units = e2e, E2E_UNITS
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "vertices": bench.graph.num_vertices,
        "edges": bench.graph.num_edges,
        "nproc": benchenv.available_cores(),
        "cores": cores,
        "steal_pct": benchenv.steal_pct(steal0, steal1),
        "versions": record_versions,
        "commit": benchenv.git_commit(),
        "setup_s": setup_s,
        "setup_prelude_s": prelude_s,
        "setup_starts_s": starts,
        "gen_s": gen_s,
        "end_to_end": e2e,
        "repetitions": reps,
        "spans": tracer.spans,
    }
    records = benchenv.SCRATCH / "records"
    records.mkdir(parents=True, exist_ok=True)
    path = records / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    path.write_text(json.dumps(record, indent=1, default=str))
    print(f"perfbench: run record {path}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(reps),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
