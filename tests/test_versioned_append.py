"""Append commits over manifests: driver-written tail files for
INSERT … VALUES (no Spark job, bytes independent of the table size),
Spark-written appends for INSERT … SELECT, time travel through every
append, crash isolation, pre-manifest directories, and the maintenance
verbs (OPTIMIZE, DESCRIBE HISTORY, VACUUM) over shared file sets."""

from __future__ import annotations

import datetime
import decimal
import json
import os

import pytest
from pyspark.sql import types as T

from oxidsql_spark.database import OxidSparkDatabase
from oxidsql_spark.versioned import VersionedTable


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _jobs_during(spark, fn) -> list[int]:
    """Spark job ids started while ``fn`` runs (status-tracker count)."""
    sc = spark.sparkContext
    sc.setJobGroup("append_job_count", "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup("append_job_count"))


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))


def _db_with_rows(spark, path: str, n: int) -> OxidSparkDatabase:
    db = OxidSparkDatabase(spark, storage_dir=path)
    db.query("CREATE TABLE t (id BIGINT, q INT, tag VARCHAR(8))")
    db.query(f"INSERT INTO t SELECT id, id % 50, 'x' FROM range({n})")
    return db


def test_insert_values_runs_no_spark_job(spark, tmp_path):
    db = _db_with_rows(spark, str(tmp_path / "db"), 1000)
    db.query("INSERT INTO t VALUES (5000, 1, 'warm')")
    jobs = _jobs_during(spark, lambda: db.query("INSERT INTO t VALUES (5001, 2, 'new')"))
    assert jobs == []
    got = db.query("SELECT q, tag FROM t WHERE id >= 5000 ORDER BY id").collect()
    assert [tuple(r) for r in got] == [(1, "warm"), (2, "new")]
    assert db.query("SELECT count(*) AS n FROM t").collect()[0].n == 1002


def test_insert_bytes_independent_of_table_size(spark, tmp_path):
    written = []
    for n in (1_000, 100_000):
        db = _db_with_rows(spark, str(tmp_path / f"db{n}"), n)
        vt = db._vt("t")
        db.query("INSERT INTO t VALUES (-1, 7, 'probe')")
        written.append(_dir_bytes(vt._vdir(vt.latest_version())))
        assert db.query("SELECT count(*) AS n FROM t").collect()[0].n == n + 1
    # tail (one row) + manifest + marker: the table size does not enter
    assert written[0] < 64 * 1024
    assert abs(written[0] - written[1]) <= 64, written


def test_time_travel_through_an_insert_sequence(spark, tmp_path):
    db = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "db"))
    db.query("CREATE TABLE t (id INT, v VARCHAR(10))")
    vt = db._vt("t")
    history = {vt.latest_version(): []}
    statements = [
        "INSERT INTO t VALUES (1, 'a')",
        "INSERT INTO t VALUES (2, 'b'), (3, NULL)",
        "INSERT INTO t SELECT id + 10, 's' FROM range(3)",
        "INSERT INTO t VALUES (4, 'd')",
        "DELETE FROM t WHERE id = 2",
        "INSERT INTO t VALUES (5, 'e')",
        "UPDATE t SET v = 'z' WHERE id = 5",
        "INSERT INTO t VALUES (6, 'f')",
    ]
    for stmt in statements:
        db.query(stmt)
        history[vt.latest_version()] = _rows(db.query("SELECT * FROM t"))
    assert vt.versions() == sorted(history)
    for v, want in history.items():
        assert _rows(vt.read(v)) == want, f"version {v}"
        got = db.query(f"SELECT * FROM t VERSION AS OF {v}")
        assert _rows(got) == want, f"VERSION AS OF {v}"
    reopened = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "db"))
    assert _rows(reopened.query("SELECT * FROM t")) == history[vt.latest_version()]


def test_crash_before_commit_marker_is_invisible_and_retry_commits(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "db")
    db = _db_with_rows(spark, path, 10)
    db.query("INSERT INTO t VALUES (100, 1, 'a')")
    vt = db._vt("t")
    before, committed = vt.versions(), _rows(db.query("SELECT * FROM t"))

    def crash(*_):
        raise RuntimeError("crash before _SUCCESS")

    monkeypatch.setattr(VersionedTable, "_seal", crash)
    with pytest.raises(RuntimeError):
        db.query("INSERT INTO t VALUES (101, 2, 'b')")
    monkeypatch.undo()
    debris = vt._vdir(before[-1] + 1)
    assert os.path.exists(os.path.join(debris, "tail.parquet"))  # tail was written
    assert vt.versions() == before
    assert _rows(OxidSparkDatabase(spark, storage_dir=path).query("SELECT * FROM t")) == committed

    db.query("INSERT INTO t VALUES (101, 2, 'b')")  # the retry
    assert vt.versions() == before + [before[-1] + 1]
    rows = _rows(OxidSparkDatabase(spark, storage_dir=path).query("SELECT * FROM t"))
    assert rows == sorted(committed + [(101, 2, "b")], key=repr)


def test_pre_manifest_directory_reopens_and_appends(spark, tmp_path):
    """A table directory in the layout written before manifests existed
    (plain `_v` snapshot dirs with Spark's own _SUCCESS, no manifest,
    no stats checkpoint) opens, time-travels, takes appends on top of
    its files and vacuums without losing them."""
    store = str(tmp_path / "db")
    tdir = os.path.join(store, "people")
    os.makedirs(tdir)
    with open(os.path.join(tdir, "_schema.json"), "w") as fh:
        json.dump(
            [
                {"name": "id", "type_name": "int", "length": None},
                {"name": "name", "type_name": "varchar", "length": 20},
            ],
            fh,
        )
    schema = "id int, name string"
    spark.createDataFrame([(1, "a")], schema).write.parquet(os.path.join(tdir, "_v00000001"))
    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.parquet(
        os.path.join(tdir, "_v00000002")
    )
    assert not os.path.exists(os.path.join(tdir, "_v00000002", "_manifest.json"))

    db = OxidSparkDatabase(spark, storage_dir=store)
    assert _rows(db.query("SELECT * FROM people")) == [(1, "a"), (2, "b")]
    db.query("INSERT INTO people VALUES (3, 'c')")
    db.query("INSERT INTO people SELECT 4, 'd'")
    assert _rows(db.query("SELECT * FROM people VERSION AS OF 1")) == [(1, "a")]
    db.query("VACUUM people RETAIN 1 VERSIONS")
    reopened = OxidSparkDatabase(spark, storage_dir=store)
    want = [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    assert _rows(reopened.query("SELECT * FROM people")) == want
    assert reopened.stats("people").rowcount == 4


def test_arrow_tail_reads_back_like_spark_files(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("s", T.ShortType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("l", T.LongType()),
            T.StructField("str", T.StringType()),
            T.StructField("bin", T.BinaryType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("dt", T.DateType()),
            T.StructField("dec", T.DecimalType(12, 2)),
            T.StructField("b", T.BooleanType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rows = [
        (
            -3,
            1 << 30,
            -(1 << 60),
            "ünï",
            b"\x00\xff",
            -0.5,
            datetime.date(1999, 12, 31),
            decimal.Decimal("-1234567.89"),
            True,
            datetime.datetime(2021, 3, 4, 5, 6, 7, 891011),
        ),
        (None,) * 10,
    ]
    vt = VersionedTable(spark, str(tmp_path / "arrow"))
    vt.write(spark.createDataFrame([], schema))
    vt.append_rows(rows)
    ref = spark.createDataFrame(rows, schema)
    assert vt.read().schema.simpleString() == ref.schema.simpleString()
    assert _rows(vt.read()) == _rows(ref)


def test_tail_rolls_into_a_base_file(spark, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "roll"))
    vt.write(spark.createDataFrame([(0, "x")], "k long, v string"))
    n_base, n_rows = len(vt.files()), 1
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2k")
    try:
        for k in range(100):
            vt.append_rows([(n_rows + j, os.urandom(24).hex()) for j in range(5)])
            n_rows += 5
            if vt._manifest(vt.latest_version())["tail"] is None:
                break
        else:
            pytest.fail("tail never rolled over")
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    rolled = vt._manifest(vt.latest_version())
    assert len(rolled["files"]) == n_base + 1
    vt.append_rows([(-1, "after")])
    after = vt._manifest(vt.latest_version())
    assert after["files"] == rolled["files"] and after["tail"] is not None
    assert vt.read().count() == n_rows + 1


def test_optimize_compacts_base_files_and_tail(spark, tmp_path):
    db = _db_with_rows(spark, str(tmp_path / "db"), 2000)
    for i in range(3):
        db.query(f"INSERT INTO t VALUES ({10_000 + i}, 1, 'tail')")
    vt = db._vt("t")
    before, n_before = _rows(db.query("SELECT * FROM t")), len(vt.files())
    assert n_before > 1 and vt._manifest(vt.latest_version())["tail"] is not None
    res = db.query("OPTIMIZE t").collect()[0]
    assert res.version == vt.latest_version() and res.n_files == 1
    assert len(vt.files()) == 1
    assert vt._manifest(res.version)["tail"] is None
    assert _rows(db.query("SELECT * FROM t")) == before
    assert len(vt.files(res.version - 1)) == n_before  # old layout still readable


def test_describe_history_counts_the_whole_file_set(spark, tmp_path):
    db = _db_with_rows(spark, str(tmp_path / "db"), 100)
    db.query("INSERT INTO t VALUES (1000, 1, 'a')")
    db.query("INSERT INTO t SELECT 1001, 2, 'b'")
    vt = db._vt("t")
    hist = {r.version: r for r in db.query("DESCRIBE HISTORY t").collect()}
    assert sorted(hist) == vt.versions()
    for v, r in hist.items():
        files = vt.files(v)
        assert r.n_files == len(files)
        assert r.n_bytes == sum(os.path.getsize(f) for f in files)
    latest = vt.latest_version()
    own = [f for f in os.listdir(vt._vdir(latest)) if f.endswith(".parquet")]
    assert hist[latest].n_files > len(own)  # references parent files


def test_vacuum_keeps_referenced_files_and_clears_debris(spark, tmp_path):
    db = _db_with_rows(spark, str(tmp_path / "db"), 500)
    db.query("INSERT INTO t VALUES (1000, 1, 'a')")
    db.query("INSERT INTO t VALUES (1001, 2, 'b')")
    vt = db._vt("t")
    latest = vt.latest_version()
    want = _rows(db.query("SELECT * FROM t"))
    debris = vt._vdir(latest + 1)  # a crashed commit attempt
    os.makedirs(debris)
    with open(os.path.join(debris, "tail.parquet"), "wb") as fh:
        fh.write(b"torn")
    superseded_tail = os.path.join(vt._vdir(latest - 1), "tail.parquet")
    assert os.path.exists(superseded_tail)

    removed = [r.removed_version for r in db.query("VACUUM t RETAIN 1 VERSIONS").collect()]
    assert sorted(removed) == list(range(1, latest))
    assert vt.versions() == [latest]
    assert all(os.path.exists(f) for f in vt.files())
    assert not os.path.exists(debris)
    assert not os.path.exists(superseded_tail)  # referenced by no retained version
    reopened = OxidSparkDatabase(spark, storage_dir=str(tmp_path / "db"))
    assert _rows(reopened.query("SELECT * FROM t")) == want
    with pytest.raises(Exception):
        db.query(f"SELECT * FROM t VERSION AS OF {latest - 1}")
