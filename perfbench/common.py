"""Run context shared by every workload: the run's own work directory,
the Spark session (event log on only for traced runs), span recording,
peak-RSS reads, and the summary statistics the metrics are made of."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RESULTS_DIR = os.path.join(BENCH_DIR, "results")
SF = 0.1
MAX_CORES = 4


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def union_ms(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


class Tracer:
    """Spans recorded around the benchmark's calls into each layer.

    A span has a name, a layer, start and end (epoch ms), its parent and
    the operation it belongs to.  While a span is open, Spark jobs carry
    its id as their job description, so the event log attributes jobs,
    stages and tasks to it.  A disabled tracer records nothing and
    touches no Spark state: that is the untraced run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # set once the session exists

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "layer": layer,
            "op": op if op is not None else (parent or {}).get("op"),
            "parent": parent["id"] if parent else None,
            "t0": time.time() * 1000.0,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobDescription(sp["id"])
        try:
            yield sp
        finally:
            sp["t1"] = time.time() * 1000.0
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(self._stack[-1]["id"] if self._stack else None)


class Run:
    """One benchmark invocation: owns the work dir, the session and the
    JVM process, and releases all three in ``close``."""

    def __init__(self, workload: str, seed: int, trace: bool, max_cores: int = MAX_CORES):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        # one core is left to the driver side (the Python driver, py4j, the
        # JVM's GC and JIT threads): with as many task threads as cores, it
        # queued behind the tasks: on a 4-core box a tpch_sf01 pass ran
        # 1-10% faster on 3 task threads than on 4, in each of five seeds
        self.cores = max(1, min((os.cpu_count() or 1) - 1, max_cores))
        parent = os.path.join(BENCH_DIR, ".work")
        # work dirs of killed runs (their pid is gone) are removed here
        for d in os.listdir(parent) if os.path.isdir(parent) else []:
            pid = d.rsplit("-", 1)[-1]
            if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
        self.work = os.path.join(parent, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "local", "eventlog"):
            os.makedirs(os.path.join(self.work, sub))
        self.tracer = Tracer(trace)
        self.spark = None
        self._jvm_proc = None
        self.layer: dict[str, float] = {}  # per-layer values a workload measures
        self.record: dict = {}  # extra detail for the run record
        self.attempted = 0
        self.failures: list[dict] = []
        self.latencies: list[tuple[str, float]] = []  # (kind, ms) of timed ops

    def attempt(self, label: str, fn) -> bool:
        """Run one checked operation: ``fn`` may return a check to run
        next.  A failure is counted and recorded with its cause,
        never retried."""
        self.attempted += 1
        try:
            check = fn()
            if callable(check):
                check()
            return True
        except Exception as e:  # noqa: BLE001 — every failure is counted, the run goes on
            self.failures.append({"op": label, "cause": f"{type(e).__name__}: {e}"[:400]})
            return False

    def timed(self, kind: str, fn) -> None:
        """One timed operation.  ``fn`` returns None or a check to run
        after the clock stops; the latency counts only if both pass."""
        n = len(self.latencies) + len(self.failures)
        lat: list[float] = []

        def op():
            with self.tracer.span(kind, "op", op=f"o{n}"):
                t0 = time.perf_counter()
                check = fn()
                lat.append((time.perf_counter() - t0) * 1000.0)
            return check

        if self.attempt(f"{kind}#{n}", op):
            self.latencies.append((kind, lat[0]))

    def latencies_by_kind(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for kind, ms in self.latencies:
            out.setdefault(kind, []).append(ms)
        return out

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self):
        """The engine's own session factory, with the scratch and (for a
        traced run) event-log settings passed before the JVM starts."""
        tmp = self.path("tmp")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = tmp
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
        os.environ["PYTHONPATH"] = ":".join(paths)
        confs = [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir={self.path('eventlog')}",
            "--conf spark.eventLog.compress=false",
        ] if self.trace else []
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"']
            + confs
            + ["pyspark-shell"]
        )
        from oxidsql_spark.session import get_spark

        with self.tracer.span("get_spark", "session"):
            t0 = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.workload}")
            self.layer["session.start_s"] = time.perf_counter() - t0
        sc = self.spark.sparkContext
        self._jvm_proc = getattr(sc._gateway, "proc", None)
        if self.trace:
            self.tracer.sc = sc
        return self.spark

    def peak_rss_mb(self) -> float:
        jvm = vm_hwm_mb(self._jvm_proc.pid) if self._jvm_proc is not None else 0.0
        return vm_hwm_mb() + jvm

    def stop_session(self) -> None:
        """Stop Spark, shut the py4j gateway and wait for the JVM (and
        with it the Python workers it forked) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc = self._jvm_proc
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # a stuck JVM must not outlive the run
                proc.kill()
                proc.wait(timeout=30)

    def close(self) -> None:
        """Release everything the run created: the session and JVM, the
        work dir, and the engine's per-process artifact dirs (named with
        this pid), which are removed only now, never mid-run."""
        try:
            self.stop_session()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            for d in artifact_dirs():
                shutil.rmtree(d, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(self.work))  # only when no other run's dir is left
            except OSError:
                pass


def artifact_dirs() -> list[str]:
    """The engine's write-once artifact dirs built by this process: the
    operators name them ``oxidsql_<kind>_<input>_<pid>`` under the root
    ``dedup._artifact_tmp`` uses."""
    import glob

    from oxidsql_spark.operators.dedup import _artifact_tmp

    root = os.path.dirname(_artifact_tmp("kind", "input"))
    return sorted(glob.glob(os.path.join(root, f"oxidsql_*_{os.getpid()}")))
