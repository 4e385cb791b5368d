"""Online statistics under UPDATE / DELETE / TRUNCATE: counters stay
exactly equal to a rebuild from the table, the sample holds only table
rows, and the maintenance runs within its job budget (one signed
aggregation per UPDATE/DELETE, none for buffered inserts, estimates,
or an empty-table reset)."""

from __future__ import annotations

import datetime
import decimal
import random
import uuid
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import types as T

from oxidsql_spark.database import AnalyzerError, OxidSparkDatabase
from oxidsql_spark.statistics import CountingHLL, OnlineTableStats, column_bucket_rho_counts


def _jobs_during(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs (status-tracker job ids)."""
    sc = spark.sparkContext
    group = f"stats_dml_{uuid.uuid4().hex}"  # the tracker keeps old groups' jobs
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setJobGroup("stats_dml_after", "after")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_exact(db: OxidSparkDatabase, name: str) -> None:
    """Every counter equals a fresh rebuild's, rowcount equals count(*),
    and every sample row is a table row."""
    spark = db.spark
    st = db.stats(name)
    st._flush()
    table = spark.table(name)
    fresh = OnlineTableStats(spark, st.schema)
    fresh.rebuild(table)
    for c in st.schema.names:
        got = st._sketches.get(c, CountingHLL(st.NDV_M))._counts
        want = fresh._sketches.get(c, CountingHLL(st.NDV_M))._counts
        assert np.array_equal(got, want), f"counters of {c} drifted"
    rows = Counter(tuple(r) for r in table.collect())
    assert st.rowcount == sum(rows.values())
    sampled = Counter(t for _, t in st._sample)
    assert all(rows[t] >= n for t, n in sampled.items()), "sample holds a non-table row"
    assert len(st._sample) <= st.sample_size


def test_driver_hash_split_matches_spark_counts_for_every_type(spark):
    """Buffered INSERT rows fold on the driver from Spark-computed hashes:
    the (bucket, rho) counters equal ``column_bucket_rho_counts`` for
    every facade type, NaN / -0.0 / '' / non-ASCII / NULL included."""
    schema = T.StructType(
        [
            T.StructField("i16", T.ShortType()),
            T.StructField("i32", T.IntegerType()),
            T.StructField("i64", T.LongType()),
            T.StructField("f64", T.DoubleType()),
            T.StructField("dec", T.DecimalType(12, 2)),
            T.StructField("b", T.BooleanType()),
            T.StructField("s", T.StringType()),
            T.StructField("d", T.DateType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rng = random.Random(7)
    specials = [float("nan"), -0.0, 0.0, float("inf"), 1e300, -2.5]
    rows = []
    for i in range(300):
        null = rng.random() < 0.1
        rows.append(
            (
                None if null else rng.randint(-(2**15), 2**15 - 1),
                None if null else rng.randint(-(2**31), 2**31 - 1),
                None if null else rng.randint(-(2**63), 2**63 - 1),
                None if null else rng.choice(specials + [rng.uniform(-1e6, 1e6)]),
                None if null else decimal.Decimal(rng.randint(-10**9, 10**9)) / 100,
                None if null else rng.random() < 0.5,
                None if null else rng.choice(["", "ä€😀", "plain", f"v{i % 37}"]),
                None
                if null
                else datetime.date(1970, 1, 1) + datetime.timedelta(days=rng.randint(-9000, 30000)),
                None
                if null
                else datetime.datetime(2001, 2, 3, 4, 5, 6, 789)
                + datetime.timedelta(seconds=rng.randint(0, 10**8)),
            )
        )
    rows += [rows[0], rows[1], (None,) * len(schema.fields)]  # duplicates and an all-NULL row
    df = spark.createDataFrame(rows, schema)
    want = column_bucket_rho_counts(df, schema.names, m=OnlineTableStats.NDV_M)

    st = OnlineTableStats(spark, schema)
    st.add_rows([tuple(r) for r in df.collect()])
    assert _jobs_during(spark, st._flush) == 0
    for c in schema.names:
        ref = CountingHLL(OnlineTableStats.NDV_M)
        ref.add_counts(want[c])
        assert np.array_equal(st._sketches[c]._counts, ref._counts), c
    assert st.rowcount == len(rows) == sum(n for _, _, n in want["__rows__"])
    assert len(st._sample) == len(rows)


_SEQUENCE_OPS = ("values", "values", "select", "update", "update_null", "delete")


def _random_session(db: OxidSparkDatabase, seed: int, n_ops: int) -> None:
    rng = random.Random(seed)
    db.query("CREATE TABLE seq_t (k BIGINT, g INT, s VARCHAR(8))")
    db.query(
        "INSERT INTO seq_t SELECT id, CAST(id % 13 AS INT), "
        "CASE WHEN id % 9 = 0 THEN NULL ELSE CONCAT('s', CAST(id % 31 AS STRING)) END "
        "FROM range(1500)"
    )
    for _ in range(n_ops):
        op = rng.choice(_SEQUENCE_OPS)
        x = rng.randint(0, 12)
        if op == "values":
            vals = ", ".join(
                f"({rng.randint(0, 3000)}, {rng.choice([str(x), 'NULL'])}, "
                f"{rng.choice([repr('n' + str(x)), 'NULL'])})"
                for _ in range(rng.randint(1, 3))
            )
            db.query(f"INSERT INTO seq_t VALUES {vals}")
        elif op == "select":
            db.query(f"INSERT INTO seq_t SELECT k + 5000, g + 1, s FROM seq_t WHERE g = {x}")
        elif op == "update":
            db.query(f"UPDATE seq_t SET g = g + 100, s = 'u{x}' WHERE k % 13 = {x}")
        elif op == "update_null":
            db.query(f"UPDATE seq_t SET s = NULL WHERE g = {x}")
        else:
            db.query(f"DELETE FROM seq_t WHERE g = {x} OR k % 17 = {x}")


@pytest.mark.parametrize("storage", [False, True], ids=["memory", "storage"])
def test_counters_stay_exact_under_a_random_dml_sequence(spark, tmp_path, storage):
    db = OxidSparkDatabase(spark, str(tmp_path / "db") if storage else None)
    _random_session(db, seed=11 if storage else 12, n_ops=12)
    _assert_exact(db, "seq_t")
    db.query("DROP TABLE seq_t")


def test_dml_job_budget_and_zero_job_reads(spark, tmp_path):
    """Storage-backed DELETE / UPDATE by key: one stats aggregation plus
    the data write, at most 3 jobs; folding buffered INSERT rows and
    estimating a cardinality run none."""
    db = OxidSparkDatabase(spark, str(tmp_path / "db"))
    db.query("CREATE TABLE jobs_t (k BIGINT, q INT, f VARCHAR(1))")
    db.query("INSERT INTO jobs_t SELECT id % 500, CAST(id % 50 AS INT), 'A' FROM range(4000)")
    st = db.stats("jobs_t")
    db.query("INSERT INTO jobs_t VALUES (7, 1, 'R'), (8, NULL, 'N')")
    assert st._pending
    assert _jobs_during(spark, st._flush) == 0
    assert _jobs_during(spark, lambda: st.estimate_cardinality("q <= 10 AND f = 'A'")) == 0

    assert _jobs_during(spark, lambda: db.query("DELETE FROM jobs_t WHERE k = 7")) <= 3
    assert _jobs_during(spark, lambda: db.query("UPDATE jobs_t SET q = q + 1 WHERE k = 9")) <= 3
    _assert_exact(db, "jobs_t")
    db.query("DROP TABLE jobs_t")


@pytest.mark.parametrize("storage", [False, True], ids=["memory", "storage"])
def test_nondeterministic_dml_is_refused_and_changes_nothing(spark, tmp_path, storage):
    db = OxidSparkDatabase(spark, str(tmp_path / "db") if storage else None)
    db.query("CREATE TABLE nd_t (k BIGINT, g INT)")
    db.query("INSERT INTO nd_t SELECT id, CAST(id % 10 AS INT) FROM range(1000)")
    before = sorted(tuple(r) for r in db.query("SELECT * FROM nd_t").collect())
    versions = db._vt("nd_t").versions() if storage else None
    blob = db.stats("nd_t").dumps()
    for stmt in (
        "DELETE FROM nd_t WHERE rand() < 0.5",
        "DELETE FROM nd_t WHERE k IN (SELECT id FROM range(1000) WHERE rand() < 0.5)",
        "UPDATE nd_t SET g = 0 WHERE rand() < 0.5",
        "UPDATE nd_t SET g = CAST(rand() * 10 AS INT) WHERE k < 10",
    ):
        with pytest.raises(AnalyzerError, match="nondeterministic"):
            db.query(stmt)
    for _ in range(2):  # in memory, a lazy random view would differ per read
        assert sorted(tuple(r) for r in db.query("SELECT * FROM nd_t").collect()) == before
    if storage:
        assert db._vt("nd_t").versions() == versions
    assert db.stats("nd_t").dumps() == blob
    db.query("DROP TABLE nd_t")


@pytest.mark.parametrize(
    "stmt,storage",
    [("DELETE FROM wipe_t", False), ("TRUNCATE TABLE wipe_t", True)],
    ids=["delete_all_memory", "truncate_storage"],
)
def test_delete_all_and_truncate_reset_stats_without_a_scan(spark, tmp_path, stmt, storage):
    db = OxidSparkDatabase(spark, str(tmp_path / "db") if storage else None)
    db.query("CREATE TABLE wipe_t (k BIGINT, s VARCHAR(4))")
    db.query("INSERT INTO wipe_t SELECT id, 'x' FROM range(300)")
    db.query("INSERT INTO wipe_t VALUES (1, 'y')")
    st = db.stats("wipe_t")
    scans = []
    st.update = st.fold_dml = lambda *a, **k: scans.append(a)
    jobs = _jobs_during(spark, lambda: db.query(stmt))
    # in memory the statement is a lazy view swap, so it runs no job at
    # all; on storage only the empty snapshot's write runs
    assert jobs == (1 if storage else 0) and not scans
    assert (st.rowcount, st._sample, st._pending) == (0, [], [])
    assert _jobs_during(spark, lambda: (st.ndv("k"), st.estimate_cardinality("k < 5"))) == 0
    assert st.ndv("k") == 0 and st.ndv("s") == 0
    assert st.estimate_cardinality("k < 5") == 1
    assert db.query("SELECT count(*) AS n FROM wipe_t").first()["n"] == 0
    del st.update, st.fold_dml
    db.query("INSERT INTO wipe_t VALUES (5, 'z')")
    _assert_exact(db, "wipe_t")
    db.query("DROP TABLE wipe_t")
