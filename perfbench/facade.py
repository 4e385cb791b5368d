"""facade_durable: a storage-backed ``OxidSparkDatabase`` session.

Set-up creates the FIXTURES ``people`` / ``cars`` demo tables with their
demo rows and a lineitem-shaped table loaded by ``INSERT … SELECT``
from the generated sf0.1 lineitem (600k rows), then runs seven untimed
warmup statements covering every kind.  The timed stream is one client
in a closed loop over a fixed 14-statement round (9 single-row INSERTs,
3 SELECTs, 1 UPDATE and 1 DELETE by key); the seed draws every key,
value and predicate.  The session ends by dropping the database object
and its views and reopening the same directory.

Every statement is mirrored into DuckDB once Spark acknowledges it:
each SELECT's rows are checked against DuckDB's answer over the source
parquet plus the recorded writes, and the reopened database must show
every acknowledged write."""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
from tools.check_oracle import _vhash

from common import dir_bytes, median
from oxidsql_spark.database import OxidSparkDatabase
from oxidsql_spark.versioned import VersionedTable

DEMO = [
    "CREATE TABLE people (id INT, name VARCHAR(255), age INT)",
    "CREATE TABLE cars (id INT, model VARCHAR(255), owner_id INT)",
    "INSERT INTO people VALUES (1, 'Elon', 20), "
    "(2, 'Dr. Emmett L. „Doc“ Brown', 30), (3, 'Marty McFly', NULL)",
    "INSERT INTO cars VALUES (1, 'Tesla Model 3', 1), (2, 'DeLorean DMC-12', 2)",
]
COLUMNS = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity INT, l_price BIGINT, l_returnflag VARCHAR(1), l_linestatus VARCHAR(1)"
)
LOAD = (
    "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, "
    "CAST(l_quantity AS INT) AS l_quantity, "
    "CAST(round(l_extendedprice * 100) AS BIGINT) AS l_price, "
    "l_returnflag, l_linestatus FROM src_lineitem"
)
# one round of the statement stream: 9 INSERTs, 3 SELECTs, 1 UPDATE, 1 DELETE
BLOCK = (
    "insert", "insert", "select", "insert", "insert", "update", "insert",
    "insert", "select", "insert", "insert", "delete", "insert", "select",
)
# untimed statements before the first round: every kind, inserts and
# selects more than once, so the first timed statements are not the ones
# still paying JIT compilation
WARMUP = ("insert", "select", "insert", "update", "insert", "select", "delete")
N_ORDERS = 150_000  # orders at sf0.1: the key domain of l_orderkey
TABLES = ("people", "cars", "lineitem")


class Facade:
    def __init__(self, run):
        self.run = run
        self.rng = np.random.default_rng([run.seed, 2])
        self.slot = 0
        self.recent: list[int] = []  # acknowledged insert keys
        self.touched: set[int] = set()  # every key an acknowledged write hit
        self.select_ms: list[tuple[float, float]] = []  # (plan, exec) per timed SELECT
        self.insert_bytes: list[int] = []
        self.table_bytes = 0
        self.storage = run.path("db")

    # -- set-up ------------------------------------------------------------

    def setup(self, data_dir: str) -> None:
        spark = self.run.spark
        src = os.path.join(data_dir, "lineitem.parquet")
        spark.read.parquet(src).createOrReplaceTempView("src_lineitem")
        self.duck = duckdb.connect()
        self.duck.sql(f"CREATE VIEW src_lineitem AS SELECT * FROM read_parquet('{src}/*.parquet')")
        with self.run.tracer.span("load", "database", op="setup"):
            self.db = OxidSparkDatabase(spark, self.storage)
            for stmt in DEMO + [f"CREATE TABLE lineitem ({COLUMNS})", f"INSERT INTO lineitem {LOAD}"]:
                self.db.query(stmt)
                self.duck.sql(stmt.replace("VARCHAR(255)", "VARCHAR").replace("VARCHAR(1)", "VARCHAR"))
        for kind in WARMUP:
            self.run.attempt(f"warmup:{kind}", self._op(kind, timed=False))
        self.round_len = len(BLOCK)

    # -- statement stream --------------------------------------------------

    def next_op(self):
        kind = BLOCK[self.slot % len(BLOCK)]
        self.slot += 1
        return kind, self._op(kind, timed=True)

    def _op(self, kind: str, timed: bool):
        """Draw one statement and return the callable that runs it; the
        callable returns the post-clock correctness check."""
        r = self.rng
        if kind == "insert":
            k = int(r.integers(0, N_ORDERS))
            vals = (
                k,
                int(r.integers(0, 20_000)),
                int(r.integers(0, 1_000)),
                int(r.integers(1, 8)),
                int(r.integers(1, 51)),
                int(r.integers(90_000, 10_500_000)),
                "ARN"[int(r.integers(0, 3))],
                "FO"[int(r.integers(0, 2))],
            )
            sql = "INSERT INTO lineitem VALUES ({}, {}, {}, {}, {}, {}, '{}', '{}')".format(*vals)
            return self._write(kind, sql, k, timed)
        if kind == "select":
            if self.recent and r.random() < 0.5:
                lo = self.recent[int(r.integers(0, len(self.recent)))] - int(r.integers(0, 200))
            else:
                lo = int(r.integers(0, N_ORDERS))
            sql = (
                "SELECT p.name, c.model, l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_price "
                "FROM people p, cars c, lineitem l "
                "WHERE p.id = c.owner_id AND c.id = l.l_linenumber "
                f"AND l.l_orderkey BETWEEN {lo} AND {lo + 200} "
                f"AND l.l_quantity >= {int(r.integers(1, 26))}"
            )
            return lambda: self._select(sql, timed)
        k = int(r.integers(0, N_ORDERS))
        if kind == "update":
            sql = f"UPDATE lineitem SET l_quantity = l_quantity + 1 WHERE l_orderkey = {k}"
        else:
            sql = f"DELETE FROM lineitem WHERE l_orderkey = {k}"
        return self._write(kind, sql, k, timed)

    def _write(self, kind: str, sql: str, key: int, timed: bool):
        def op():
            with self.run.tracer.span(kind, "database"):
                self.db.query(sql)
            return ack

        def ack():
            # acknowledged: mirror it, and (traced) measure what it wrote
            self.duck.sql(sql)
            self.touched.add(key)
            if kind == "insert":
                self.recent.append(key)
            if self.run.trace:
                now = dir_bytes(os.path.join(self.storage, "lineitem"))
                if timed and kind == "insert":
                    self.insert_bytes.append(now - self.table_bytes)
                self.table_bytes = now

        return op

    def _select(self, sql: str, timed: bool):
        tr = self.run.tracer
        with tr.span("select", "database"):
            t0 = time.perf_counter()
            df = self.db.query(sql)
            t1 = time.perf_counter()
            with tr.span("collect", "exec"):
                rows = [tuple(x) for x in df.collect()]
            t2 = time.perf_counter()
        cols = df.columns
        if timed:
            self.select_ms.append(((t1 - t0) * 1e3, (t2 - t1) * 1e3))

        def check():
            res = self.duck.sql(sql)
            want = res.fetchall()
            if len(rows) != len(want) or _vhash(cols, rows) != _vhash(
                [d[0] for d in res.description], want
            ):
                raise AssertionError(f"SELECT returned {len(rows)} rows, expected {len(want)}")

        return check

    # -- end of session ----------------------------------------------------

    def finish(self) -> None:
        self.run.attempt("reopen", self._reopen)
        if self.run.trace:
            self._layers()

    def _reopen(self) -> None:
        spark, tr = self.run.spark, self.run.tracer
        keys = ", ".join(str(k) for k in sorted(self.touched)) or "-1"
        checks = [
            "SELECT count(*) AS n, sum(l_quantity) AS q, sum(l_price) AS p, "
            "sum(l_orderkey) AS k FROM lineitem",
            f"SELECT * FROM lineitem WHERE l_orderkey IN ({keys})",
            "SELECT * FROM people",
            "SELECT * FROM cars",
        ]
        with tr.span("reopen", "database", op="reopen"):
            t0 = time.perf_counter()
            self.db = None
            for t in TABLES:
                spark.catalog.dropTempView(t)
            self.db = OxidSparkDatabase(spark, self.storage)
            got = [[tuple(r) for r in self.db.query(q).collect()] for q in checks]
            self.run.layer["database.reopen_ms"] = (time.perf_counter() - t0) * 1e3
        for q, rows in zip(checks, got):
            want = self.duck.sql(q).fetchall()
            if sorted(map(repr, rows)) != sorted(map(repr, want)):
                raise AssertionError(f"reopened table differs from acknowledged writes: {q[:60]}")

    def _layers(self) -> None:
        """Traced run only: the database, versioned and statistics
        values that are not span timings."""
        run, spark, r = self.run, self.run.spark, self.rng
        lat = run.latencies_by_kind()
        L = run.layer
        L["database.insert_ms"] = median(lat.get("insert", []))
        L["database.dml_ms"] = median(lat.get("update", []) + lat.get("delete", []))
        L["database.select_plan_ms"] = median(p for p, _ in self.select_ms)
        L["database.select_exec_ms"] = median(e for _, e in self.select_ms)

        vt = VersionedTable(spark, os.path.join(self.storage, "lineitem"))
        reads = []
        for _ in range(3):
            t0 = time.perf_counter()
            df = vt.read()
            reads.append((time.perf_counter() - t0) * 1e3)
        L["versioned.read_ms"] = median(reads)
        L["versioned.snapshots"] = len(vt.versions())
        L["versioned.files_latest"] = len(df.inputFiles())
        L["versioned.bytes_written_per_insert"] = median(self.insert_bytes)
        fresh = run.path("fresh")
        for t in TABLES:
            self.db.query(f"SELECT * FROM {t}").write.parquet(os.path.join(fresh, t))
        L["versioned.space_amp"] = dir_bytes(self.storage) / dir_bytes(fresh)

        st = self.db.stats("lineitem")
        t0 = time.perf_counter()
        blob = st.dumps()
        L["statistics.dumps_ms"] = (time.perf_counter() - t0) * 1e3
        L["statistics.stats_bytes"] = len(blob)
        preds = [
            f"l_quantity <= {int(r.integers(1, 50))}",
            f"l_linenumber = {int(r.integers(1, 8))}",
            f"l_returnflag = 'R' AND l_quantity > {int(r.integers(1, 50))}",
            f"l_orderkey < {int(r.integers(1, N_ORDERS))}",
            f"l_partkey BETWEEN 0 AND {int(r.integers(100, 20_000))}",
        ]
        est_ms, q_err = [], []
        for p in preds:
            t0 = time.perf_counter()
            est = st.estimate_cardinality(p)
            est_ms.append((time.perf_counter() - t0) * 1e3)
            act = max(1, self.duck.sql(f"SELECT count(*) FROM lineitem WHERE {p}").fetchone()[0])
            q_err.append(max(est / act, act / est))
        L["statistics.estimate_ms"] = median(est_ms)
        L["statistics.q_error_p50"] = median(q_err)
        L["statistics.q_error_max"] = max(q_err)
        errs = []
        for c in ("l_orderkey", "l_partkey", "l_suppkey"):
            true = self.duck.sql(f"SELECT count(DISTINCT {c}) FROM lineitem").fetchone()[0]
            errs.append(abs(st.ndv(c) - true) / true)
        L["statistics.ndv_rel_err"] = sum(errs) / len(errs)
