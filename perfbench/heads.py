"""Analytic-head workloads: registered bench heads at sf0.1, one client
in a closed loop, each pass in a seeded order.

Set-up warms the table leaves and runs every head twice.  The first run
goes through ``collect`` and is the correctness check: the head's rows
must match its DuckDB oracle on the same files under the canonical hash
of ``tools.check_oracle``.  The second is an untimed copy of a timed
execution.  Together they pay plan construction, codegen and artifact
builds, and warm the JIT: with one warm run per head, run-to-run spread
of a pass's time was ~13% of its median (quartiles, 6 seeds), with two
~5%.  A timed execution is plan construction,
the noop sink, and the release of the scoped caches the execution made,
inside the timed region, so no execution reuses an earlier one's
persists."""

from __future__ import annotations

import hashlib
import json
import os
import time

import duckdb
import numpy as np
from tools.check_oracle import _vhash

from common import RESULTS_DIR, artifact_dirs, median
from oxidsql_spark.cachescope import release_scoped_caches, scoped_cache_count
from oxidsql_spark.registry import load_all
from oxidsql_spark.sources import table

TPCH_HEADS = (
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9_profit",
    "tpch_q10",
    "tpch_q12_ship",
    "tpch_q13",
    "tpch_q14",
    "tpch_q17",
    "tpch_q18",
    "outer_join_agg",
    "window_topk",
    "events_hourly",
)
TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
ORACLE_CACHE = os.path.join(RESULTS_DIR, "oracle_digests.json")


def bench_heads() -> list[str]:
    return sorted(n for n, q in load_all().items() if q.bench)


class Heads:
    """``cache_oracles`` keeps each oracle's digest per (generator,
    seed, head) in the results dir: the LLM-operator heads' DuckDB
    oracles take minutes at sf0.1 (mm_video_dedup's alone ~3.5 min on
    4 cores), so they are derived once per seed and reused; the TPC-H
    oracles take ~0.1 s each and run every time."""

    def __init__(self, run, heads: list[str], cache_oracles: bool = False):
        self.run = run
        self.cache_oracles = cache_oracles
        self.queries = load_all()
        self.heads = list(heads)
        self.round_len = len(self.heads)
        self.rng = np.random.default_rng([run.seed, 1])
        self._order: list[str] = []
        self.held: dict[str, list[int]] = {}  # head -> scoped caches held at release

    def setup(self, data_dir: str) -> None:
        run = self.run
        tables = sorted(n[: -len(".parquet")] for n in os.listdir(data_dir))
        self.data = data_dir
        t0 = time.perf_counter()
        with run.tracer.span("table_warm", "sources", op="setup"):
            for t in tables:
                table(run.spark, data_dir, t).count()
        run.layer["sources.table_warm_ms"] = (time.perf_counter() - t0) * 1000
        self.duck = duckdb.connect()
        for t in tables:
            self.duck.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')"
            )
        for name in self.heads:
            run.attempt(f"warmup:{name}", lambda name=name: self._checked(name))
        for name in self.heads:
            run.attempt(f"warmup:{name}", lambda name=name: self._timed(name, record=False))
        run.layer["sources.artifact_dirs_built"] = len(artifact_dirs())

    def _checked(self, name: str) -> None:
        """Warmup execution of one head, checked against its oracle."""
        try:
            df = self.queries[name].fn(self.run.spark, self.data)
            rows = [tuple(r) for r in df.collect()]
        finally:
            release_scoped_caches()
        want = self._oracle_digest(name)
        if [len(rows), _vhash(df.columns, rows)] != want:
            raise AssertionError(f"{name}: {len(rows)} rows vs oracle {want[0]}, digest mismatch")

    def _oracle_digest(self, name: str) -> list:
        """[row count, canonical hash] of the head's DuckDB oracle."""
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py"), "rb") as fh:
            key = f"{hashlib.sha256(fh.read()).hexdigest()[:16]}:{self.run.seed}:{name}"
        cache = {}
        if self.cache_oracles and os.path.exists(ORACLE_CACHE):
            with open(ORACLE_CACHE) as fh:
                cache = json.load(fh)
            if key in cache:
                return cache[key]
        res = self.duck.sql(self.queries[name].oracle)
        orows = res.fetchall()
        digest = [len(orows), _vhash([d[0] for d in res.description], orows)]
        if self.cache_oracles:
            os.makedirs(RESULTS_DIR, exist_ok=True)
            cache[key] = digest
            with open(ORACLE_CACHE + ".tmp", "w") as fh:
                json.dump(cache, fh, indent=1, sort_keys=True)
            os.replace(ORACLE_CACHE + ".tmp", ORACLE_CACHE)
        return digest

    def next_op(self):
        if not self._order:
            self._order = [self.heads[i] for i in self.rng.permutation(len(self.heads))]
        name = self._order.pop(0)
        return name, lambda: self._timed(name)

    def _timed(self, name: str, record: bool = True) -> None:
        tr = self.run.tracer
        with tr.span("construct", "operators"):
            df = self.queries[name].fn(self.run.spark, self.data)
        with tr.span("execute", "exec"):
            df.write.format("noop").mode("overwrite").save()
        with tr.span("release", "cachescope"):
            if record:
                self.held.setdefault(name, []).append(scoped_cache_count())
            release_scoped_caches()

    def finish(self) -> None:
        # scoped persists each head held at release, summed over heads
        self.run.layer["cachescope.held"] = sum(median(v) for v in self.held.values())
