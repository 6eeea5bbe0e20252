"""Run hygiene, the closed-loop op recorder and the end-to-end metrics.

One process runs one workload: a fresh ``local[nproc]`` session whose
scratch (tables, Spark local dirs, JVM and Python temp files) lives
under the run's work directory, so a run reads and writes only inside
the checkout. ``stop_session`` ends the JVM and every Python worker it
started and waits for each to exit.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class CheckFailed(Exception):
    """An op's output disagreed with the benchmark's own expectation."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# ---------------------------------------------------------------- session


def isolate_scratch(work: str) -> None:
    """Point every temp/scratch location the session can touch at ``work``.
    Must run before pyspark is imported (its gateway launcher and
    ``tempfile`` read these once)."""
    import tempfile

    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the launcher starts: temp files in work, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    ).strip()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    # the library's own defaults apply: no inherited overrides
    for k in ("SPARK_GRAFT_DRIVER_MEM", "LEVI_WARM_WORKERS", "LEVI_SCRATCH_BASE"):
        os.environ.pop(k, None)
    tempfile.tempdir = None


DRIVER_MEMORY = "4g"


def start_session(work: str, app_name: str, conf: dict[str, str]):
    """``levi_spark.session.get_spark`` on ``local[nproc]`` with shuffle
    partitions = nproc, console progress off and the workload's ``conf``.
    Returns ``(spark, get_spark_s, first_job_s)``."""
    from levi_spark.session import get_spark

    n = nproc()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=app_name,
        master=f"local[{n}]",
        shuffle_partitions=n,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            **conf,
        },
    )
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(n, numPartitions=n).count()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM (peak resident set) of a process, in MiB; 0.0 once gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pids() -> list[int]:
    out = []
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    out.append(pid)
        except OSError:
            pass
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait until every process this
    run started (JVM, Python worker daemons) has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in started) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in started:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        for p in started:
            try:
                os.waitpid(p, 0)  # reaps direct children; others are gone
            except ChildProcessError:
                pass
            while _alive(p):
                time.sleep(0.05)


# ---------------------------------------------------------------- op loop


@dataclass
class OpRecord:
    # "read" (a query that commits nothing), "write" (commits a version) or
    # "pass" (a batch dedup pass: counted in ops_per_s, not in read latency)
    kind: str
    name: str
    seconds: float
    rows: int
    ok: bool
    jobs: int | None = None
    traced: bool = False


@dataclass
class Recorder:
    """Times each op, runs its output check outside the timed region, and
    counts failures. ``tracer`` (when set) records spans and Spark jobs."""

    spark: object
    tracer: object | None = None
    records: list[OpRecord] = field(default_factory=list)
    failures: int = 0  # every failed op, warm-up included
    busy: float = 0.0  # seconds spent inside timed ops
    measuring: bool = False

    def op(self, kind: str, name: str, fn, check=None, rows: int = 0):
        sc = self.spark.sparkContext
        tracing = self.tracer is not None and self.tracer.active
        if tracing:
            group = f"perfbench-op-{len(self.records)}"
            sc.setJobGroup(group, name)
            self.tracer.begin_request(name)
        t0 = time.perf_counter()
        try:
            result, ok = fn(), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            result, ok = None, False
        dt = time.perf_counter() - t0
        jobs = None
        if tracing:
            self.tracer.end_request()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", None)
        if ok and check is not None:
            try:
                check(result)
            except Exception as e:  # any check error is a wrong output
                print(f"[perfbench] check failed: {name}: {e!r}", file=sys.stderr)
                ok = False
        if not ok:
            self.failures += 1
        if self.measuring:
            self.busy += dt
            self.records.append(OpRecord(kind, name, dt, rows, ok, jobs, tracing))
        return result


def run_timed(recorder: Recorder, block, seconds: float, blocks: int | None = None):
    """Closed loop, one client: run whole blocks until ``seconds`` of op
    time have been measured (or exactly ``blocks`` blocks)."""
    recorder.measuring = True
    done = 0
    while (recorder.busy < seconds) if blocks is None else (done < blocks):
        block()
        done += 1
    recorder.measuring = False
    return done


def end_to_end(records: list[OpRecord]) -> dict:
    """Every end-to-end figure the records support (None where a figure
    has no samples: e.g. writes on a read-only workload, p90 below 100
    reads)."""
    busy = sum(r.seconds for r in records)
    reads = [r.seconds for r in records if r.kind == "read"]
    writes = [r.seconds for r in records if r.kind == "write"]
    return {
        "ops": len(records),
        "reads": len(reads),
        "writes": len(writes),
        "ops_per_s": len(records) / busy if busy else None,
        "read_p50_ms": statistics.median(reads) * 1e3 if reads else None,
        "read_p90_ms": (
            statistics.quantiles(reads, n=10, method="inclusive")[8] * 1e3
            if len(reads) >= 100 else None
        ),
        "write_p50_ms": statistics.median(writes) * 1e3 if writes else None,
        "rows_per_s": sum(r.rows for r in records) / busy if busy else None,
        "error_rate": sum(not r.ok for r in records) / max(1, len(records)),
    }


def median_ms_by_op(records: list[OpRecord]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for r in records:
        by.setdefault(r.name, []).append(r.seconds)
    return {k: statistics.median(v) * 1e3 for k, v in by.items()}
