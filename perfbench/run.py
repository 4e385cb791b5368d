"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from the seed, sets up, then runs one
client in a closed loop, in as many whole rounds as fit in ``--seconds``
(at least one), and prints one JSON object as
the last line of standard output: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the Spark event log is on, every
layer call is a span, and the metrics are the per-layer ones (the
traced run also prints per-kind layer rows, per-layer self time and the
tracing overhead).  A run record goes to ``perfbench/results/``.
See perfbench/README.md for the workloads and the layer map."""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import MAX_CORES, RESULTS_DIR, ROOT, SF, Run, geomean, median, union_ms  # noqa: E402

sys.path.insert(0, ROOT)

WORKLOADS = ("tpch_sf01", "facade_durable", "llm_ops_sf01", "rolling_admit")

# a lower cap on local[N] for some workloads.  The facade's statements are
# small jobs on a table of a few files: on a 4-core box they ran about as
# fast on 2 task threads as on 4, and UPDATE and DELETE, one sample each
# per round, spread less from run to run.
WORKLOAD_CORES = {"facade_durable": 2}

# A run holds one round (14-16 timed operations): not even the median has
# ten samples beyond it, so p50_ms stays in the run record only.
END_TO_END = {
    "setup_s": "s",
    "total_s": "s",
    "geomean_ms": "ms",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.layout_s": "s",
    "sources.table_warm_ms": "ms",
    "sources.artifact_dirs_built": "count",
    "operators.construct_ms": "ms",
    "operators.construct_jobs": "count",
    "exec.execute_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.idle_core_s": "s",
    "exec.driver_gap_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.gc_s": "s",
    "exec.python_stages": "count",
    "exec.python_stage_run_s": "s",
    "cachescope.held": "count",
    "cachescope.release_ms": "ms",
    "database.insert_ms": "ms",
    "database.insert_jobs": "count",
    "database.insert_driver_ms": "ms",
    "database.select_plan_ms": "ms",
    "database.select_exec_ms": "ms",
    "database.dml_ms": "ms",
    "database.reopen_ms": "ms",
    "versioned.bytes_written_per_insert": "bytes",
    "versioned.snapshots": "count",
    "versioned.files_latest": "count",
    "versioned.read_ms": "ms",
    "versioned.space_amp": "ratio",
    "statistics.stats_bytes": "bytes",
    "statistics.dumps_ms": "ms",
    "statistics.estimate_ms": "ms",
    "statistics.q_error_p50": "ratio",
    "statistics.q_error_max": "ratio",
    "statistics.ndv_rel_err": "ratio",
    "segstore.probe_admit_ms.audio": "ms",
    "segstore.probe_admit_ms.image": "ms",
    "segstore.probe_admit_ms.video": "ms",
    "segstore.probe_admit_ms.clusters": "ms",
    "segstore.segments": "count",
    "segstore.files_per_probe": "count",
    "segstore.bytes_written": "bytes",
    "segstore.compact_ms": "ms",
    "trace.overhead_s": "s",
}

# ROADMAP direction-2 fields of a per-kind (per-head) layer row
ROW_FIELDS = (
    "construct_s",
    "execute_s",
    "jobs",
    "stages",
    "tasks",
    "task_cpu_s",
    "python_runner_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
)


def make_workload(run: Run):
    if run.workload in ("tpch_sf01", "llm_ops_sf01"):
        from heads import TPCH_HEADS, TPCH_TABLES, Heads, bench_heads

        tpch = run.workload == "tpch_sf01"
        heads = [h for h in bench_heads() if (h in TPCH_HEADS) == tpch]
        return Heads(run, heads, cache_oracles=not tpch), TPCH_TABLES if tpch else None
    if run.workload == "facade_durable":
        from facade import Facade

        return Facade(run), ["lineitem"]
    from rolling import Rolling

    return Rolling(run), ["documents"]


def source_id() -> str:
    """The git commit when the tree is a checkout with history, else a
    digest of the engine sources (the run record's code identity)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for base in ("oxidsql_spark", "bench.py"):
        p = os.path.join(ROOT, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(p) for f in fs if f.endswith(".py")
        )
        for f in files:
            with open(f, "rb") as fh:
                h.update(fh.read())
    return "sha256:" + h.hexdigest()[:16]


def layer_analysis(run: Run) -> tuple[list[dict], dict[str, float]]:
    """Attribute event-log jobs to spans and derive, per op kind, the
    median layer row; fill the run's span-derived per-layer values
    (sums over kinds of the per-kind medians); return the rows and the
    per-layer self times."""
    import eventlog

    jobs = eventlog.parse(run.path("eventlog"))
    spans = [sp for sp in run.tracer.spans if "t1" in sp]
    by_span = eventlog.attribute(spans, jobs)
    kids = eventlog.span_tree(spans)
    by_id = {sp["id"]: sp for sp in spans}
    per_kind: dict[str, list[dict]] = {}
    for op in (sp for sp in spans if sp["layer"] == "op"):
        sub = [by_id[s] for s in eventlog.subtree(op["id"], kids)]
        dur = {}
        ljobs: dict[str, list[dict]] = {}
        for sp in sub:
            if sp is not op:
                dur[sp["layer"]] = dur.get(sp["layer"], 0.0) + sp["t1"] - sp["t0"]
            ljobs.setdefault(sp["layer"], []).extend(by_span.get(sp["id"], []))
        all_jobs = [j for js in ljobs.values() for j in js]
        st = eventlog.exec_stats(all_jobs, run.cores)
        exec_jobs = ljobs.get("exec", [])
        st.update(
            construct_ms=dur.get("operators", 0.0),
            construct_jobs=len(ljobs.get("operators", [])),
            execute_ms=dur.get("exec", 0.0),
            driver_gap_ms=max(
                0.0, dur.get("exec", 0.0) - union_ms((j["t0"], j["t1"]) for j in exec_jobs)
            ),
            release_ms=dur.get("cachescope", 0.0),
            op_driver_ms=max(
                0.0, op["t1"] - op["t0"] - union_ms((j["t0"], j["t1"]) for j in all_jobs)
            ),
        )
        per_kind.setdefault(op["name"], []).append(st)
    rows, acc = [], {}
    for kind in sorted(per_kind):
        med = {k: median(p[k] for p in per_kind[kind]) for k in per_kind[kind][0]}
        for k, v in med.items():
            acc[k] = acc.get(k, 0.0) + v
        row = {"kind": kind, "n": len(per_kind[kind])}
        row.update(
            construct_s=med["construct_ms"] / 1e3,
            execute_s=med["execute_ms"] / 1e3,
            python_runner_s=med["python_stage_run_s"],
        )
        row.update({k: med[k] for k in ROW_FIELDS if k in med})
        rows.append(row)
    run.layer.update(
        {
            "operators.construct_ms": acc.get("construct_ms", 0.0),
            "operators.construct_jobs": acc.get("construct_jobs", 0.0),
            "exec.execute_ms": acc.get("execute_ms", 0.0),
            "cachescope.release_ms": acc.get("release_ms", 0.0),
        }
    )
    for k in (
        "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "idle_core_s", "driver_gap_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes", "gc_s",
        "python_stages", "python_stage_run_s",
    ):
        run.layer[f"exec.{k}"] = acc.get(k, 0.0)
    inserts = per_kind.get("insert", [])
    run.layer["database.insert_jobs"] = median(p["jobs"] for p in inserts)
    run.layer["database.insert_driver_ms"] = median(p["op_driver_ms"] for p in inserts)
    return rows, eventlog.self_times(spans)


def end_to_end(run: Run, rounds: int, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "total_s": sum(ms for _, ms in run.latencies) / 1e3 / max(rounds, 1),
        "geomean_ms": geomean(median(v) for v in run.latencies_by_kind().values()),
        "p50_ms": median(ms for _, ms in run.latencies),
    }


def untraced_total(workload: str, seed: int) -> float | None:
    """total_s of an untraced record of this workload in the results
    dir: the same seed's if there is one, else the latest."""
    if not os.path.isdir(RESULTS_DIR):
        return None
    recs = []
    for f in os.listdir(RESULTS_DIR):
        if f.startswith(f"{workload}-") and "-trace0-" in f:
            with open(os.path.join(RESULTS_DIR, f)) as fh:
                rec = json.load(fh)
            if rec.get("correct"):
                recs.append(((rec["seed"] == seed, rec["finished_at"]), rec["metrics"]["total_s"]))
    return max(recs)[1] if recs else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # fail before any work when the engine is not importable
    import oxidsql_spark.session  # noqa: F401
    import tools.check_oracle  # noqa: F401

    import gen

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    baseline = untraced_total(args.workload, args.seed) if args.trace else None
    load_start = os.getloadavg()
    run = Run(args.workload, args.seed, bool(args.trace), WORKLOAD_CORES.get(args.workload, MAX_CORES))
    try:
        wl, tables = make_workload(run)
        t0 = time.perf_counter()
        with run.tracer.span("generate", "sources", op="setup"):
            files = gen.generate(run.path("data"), args.seed, SF, run.cores, tables)
        run.layer["sources.layout_s"] = time.perf_counter() - t0
        run.start_session()
        wl.setup(run.path("data"))
        # start the timed rounds from a collected heap on both sides, so a
        # collection set-up garbage made due lands outside the clock
        gc.collect()
        run.spark.sparkContext._jvm.System.gc()
        t_first = time.perf_counter()
        # whole rounds (a pass over every head, a statement block, a
        # batch through every store): at least one, and another only if
        # it fits in --seconds at the last round's pace, so every run
        # measures the same mix and the same number of rounds
        rounds = 0
        while True:
            t_round = time.perf_counter()
            for _ in range(wl.round_len):
                kind, fn = wl.next_op()
                run.timed(kind, fn)
            rounds += 1
            now = time.perf_counter()
            if now - t_first + (now - t_round) > args.seconds:
                break
        t_end = now
        wl.finish()
        run.layer["session.peak_rss_mb"] = run.peak_rss_mb()
        run.stop_session()
        metrics = end_to_end(run, rounds, t_first - T_START)
        rows, self_ms = layer_analysis(run) if run.trace else ([], {})
        if run.trace:
            run.layer["trace.overhead_s"] = (
                metrics["total_s"] - baseline if baseline is not None else 0.0
            )
    finally:
        run.close()

    failed = len(run.failures)
    correct = failed == 0 and len(run.latencies) > 0
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "correct": correct,
        "attempted": run.attempted,
        "failed": failed,
        "failures": run.failures,
        "metrics": metrics,
        "layer": {k: run.layer.get(k, 0.0) for k in PER_LAYER},
        "layer_rows": rows,
        "self_time_ms": self_ms,
        "ops": [[k, round(ms, 3)] for k, ms in run.latencies],
        "measured_s": t_end - t_first,
        "rounds": rounds,
        "cores_used": run.cores,
        "nproc": os.cpu_count(),
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "source": source_id(),
        "sf": SF,
        "layout_files": files,
        "finished_at": time.time(),
        **run.record,
    }
    os.makedirs(RESULTS_DIR, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(RESULTS_DIR, name), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    if run.trace:
        print(f"# per-kind layer rows ({args.workload}, medians over timed ops)")
        print("# " + " ".join(["kind", "n", *ROW_FIELDS]))
        for r in rows:
            print("  " + " ".join([r["kind"], str(r["n"])] + [f"{r.get(k, 0):.4g}" for k in ROW_FIELDS]))
        print("# self time per layer (ms): " + json.dumps({k: round(v, 1) for k, v in sorted(self_ms.items())}))
        print(f"# tracing overhead: total_s traced {metrics['total_s']:.4f} vs untraced "
              f"{'n/a (no untraced run recorded)' if baseline is None else f'{baseline:.4f}'}")
        out = {k: {"value": run.layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    for f in run.failures:
        print(f"# failed: {f['op']}: {f['cause']}")
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
