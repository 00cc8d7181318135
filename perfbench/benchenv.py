"""Process-level plumbing for the benchmark: where the repository and
the scratch area are, how a Spark JVM is started and stopped, and the
host facts a run record carries.

Everything the benchmark writes goes under ``<root>/.perfbench/``:
Spark's local dirs, the JVM's and Python's temp dirs, the generated
inputs, checkpoint directories and the per-run record files.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRATCH = ROOT / ".perfbench"


class SetupError(RuntimeError):
    """The benchmark cannot run here (no linkgraph sources, too many cores)."""


def process_start_monotonic() -> float:
    """``time.monotonic()`` value at which this process was started, read
    from ``/proc/self/stat`` (10 ms resolution), so set-up time includes
    interpreter start and imports."""
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        start_ticks = int(fields[19])  # field 22 (starttime) of stat(5)
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.monotonic() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.monotonic()


def available_cores() -> int:
    return len(os.sched_getaffinity(0))


def check_cores(cores: int) -> int:
    nproc = available_cores()
    if cores > nproc:
        raise SetupError(f"refusing local[{cores}]: only {nproc} cores available")
    return cores


def import_linkgraph():
    """Put the checkout on ``sys.path`` and import the package, or fail."""
    if not (ROOT / "linkgraph" / "__init__.py").is_file():
        raise SetupError(f"no linkgraph sources under {ROOT}")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    import linkgraph

    return linkgraph


def confine_to_scratch(work: Path) -> None:
    """Point every temp/spill location of Python, the Spark launcher and
    the driver JVM into ``work`` before the JVM starts. Environment only:
    the session conf is whatever ``linkgraph.get_spark`` sets."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # -XX:-UsePerfData: no hsperfdata file under /tmp for either JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def start_spark(cores: int):
    """``get_spark`` on ``local[cores]`` (shuffle partitions = cores, as
    bench.py does) followed by the first trivial job."""
    from linkgraph import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes (PythonGatewayServer)
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise SetupError(f"no VmHWM for pid {pid}")


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of ``/proc/stat`` — the
    method bench.py uses to record hypervisor steal over a run."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


def git_commit() -> str:
    """HEAD commit read from ``.git`` without running git; ``unknown`` in
    a checkout that is not a repository."""
    git = ROOT / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = git / ref
        if ref_file.is_file():
            return ref_file.read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + ref):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def versions(spark) -> dict:
    return {
        "python": platform.python_version(),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }
