"""Statistics tests — mirrors the reference's seeded, bounded accuracy
assertions (counting_hyperloglog.rs:264-291 ±20%; bottomup.rs:523-606
sample-based cardinality estimation).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from oxidsql_spark.sources import table
from oxidsql_spark.statistics import SAMPLE_SIZE, TableSample, exact_ndv, ndv_sketch


def test_selectivity_estimate_within_tolerance(spark, sf_dir):
    """The reference's estimator test shape (bottomup.rs:599-605: expect
    ~4/10 for id<5), scaled: estimate vs true selectivity on orders."""
    o = table(spark, sf_dir, "orders")
    ts = TableSample(o)
    true_sel = o.filter(F.col("o_totalprice") > 200000.0).count() / ts.base_count
    est_sel = ts.estimate_selectivity(F.col("o_totalprice") > 200000.0)
    assert abs(est_sel - true_sel) < 0.08, (est_sel, true_sel)


def test_cardinality_floor_rule(spark, sf_dir):
    """floor at base/(2*SAMPLE_SIZE) and 1 — bottomup.rs:159-161."""
    o = table(spark, sf_dir, "orders")
    ts = TableSample(o)
    # impossible predicate → floored, never 0
    est = ts.estimate_cardinality(F.col("o_totalprice") < -1.0)
    assert est == max(int(ts.base_count / (2 * SAMPLE_SIZE)), 1)


def test_ndv_sketch_accuracy(spark, sf_dir):
    """HLL++ ndv within the reference's own ±20% test bound
    (counting_hyperloglog.rs:264-291)."""
    li = table(spark, sf_dir, "lineitem")
    approx = ndv_sketch(li, "l_orderkey", "l_partkey")
    exact = exact_ndv(li, "l_orderkey", "l_partkey")
    for c in approx:
        assert abs(approx[c] - exact[c]) / exact[c] < 0.2, (c, approx[c], exact[c])


def test_sample_deterministic(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    a = TableSample(o).sample.select("o_orderkey").collect()
    b = TableSample(o).sample.select("o_orderkey").collect()
    assert [r.o_orderkey for r in a] == [r.o_orderkey for r in b]


def test_analyze_feeds_cbo_and_broadcast_choice(spark, sf_dir):
    """ANALYZE TABLE statistics must reach the optimizer (the CBO path
    that subsumes the reference's DPccp + sample estimator): the leaf
    rowCount equals the analyzed count, and a small managed table joins
    broadcast WITHOUT an explicit hint — size chosen from catalog stats,
    exactly how the 100 TB cluster decides build sides."""
    from oxidsql_spark.sources import table
    from oxidsql_spark.statistics import analyze_table

    for t in ("cbo_nation", "cbo_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    table(spark, sf_dir, "nation").write.saveAsTable("cbo_nation")
    table(spark, sf_dir, "lineitem").write.saveAsTable("cbo_lineitem")
    try:
        analyze_table(spark, "cbo_nation", ["n_nationkey", "n_name"])
        analyze_table(spark, "cbo_lineitem")

        n = spark.table("cbo_nation")
        stats = n._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().isDefined()
        assert stats.rowCount().get() == 25

        li = spark.table("cbo_lineitem")
        j = li.join(n, li.l_suppkey == n.n_nationkey)  # no broadcast() hint
        plan = j._jdf.queryExecution().sparkPlan().toString()
        assert "BroadcastHashJoin" in plan
    finally:
        for t in ("cbo_nation", "cbo_lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_online_stats_fresh_after_insert_no_analyze(spark):
    """heap.rs:245-292 twin: INSERT maintains rowcount, ndv sketches,
    and the sample incrementally — estimates are fresh with NO ANALYZE.
    Mirrors the reference's planner test (bottomup.rs:523-606): 10 rows,
    predicate id < 5 → cardinality estimate 4."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE t_online (id INT, name VARCHAR(500))")
    for i in range(1, 11):
        db.query(f"INSERT INTO t_online VALUES ({i}, 'test')")
    st = db.stats("t_online")
    assert st.rowcount == 10
    assert st.estimate_cardinality("id < 5") == 4  # the reference's assert
    assert st.ndv("id") == 10  # HLL exact at tiny cardinalities
    assert st.ndv("name") == 1

    # set-oriented insert folds in the batch, still no rescan of old data
    db.query("INSERT INTO t_online SELECT id + 100, name FROM t_online")
    assert db.stats("t_online").rowcount == 20
    assert abs(db.stats("t_online").ndv("id") - 20) <= 1

    # delete subtracts counting-sketch counts — no rebuild, no rescan
    db.query("DELETE FROM t_online WHERE id > 100")
    assert db.stats("t_online").rowcount == 10
    assert db.stats("t_online").ndv("id") == 10
    db.query("DROP TABLE t_online")


def test_conjunct_fallback_estimator(spark, sf_dir):
    """statistics/mod.rs:24-31 estimation ladder on partial-match counts
    (bottomup.rs:133-156): full-match primary, exponential-backoff
    combine when no sample row matches every conjunct, 1/ndv for a
    zero-match equi conjunct."""
    from oxidsql_spark.sources import table
    from oxidsql_spark.statistics import TableSample

    orders = table(spark, sf_dir, "orders")
    ts = TableSample(orders, sample_size=1 << 30)  # sample == full table

    # 1. full matches exist → plain matching/total (equal to 1-predicate path)
    sel = ts.estimate_conjunct_selectivity(
        ["o_orderpriority = '1-URGENT'", "o_totalprice > 100"]
    )
    exact = orders.filter("o_orderpriority = '1-URGENT' AND o_totalprice > 100").count()
    assert abs(sel - exact / ts.sample_count) < 1e-9

    # 2. contradictory conjuncts → no full match; backoff combine must
    # land at or below the most selective single conjunct
    s_low = ts.estimate_selectivity("o_totalprice < 2000")
    sel2 = ts.estimate_conjunct_selectivity(
        ["o_totalprice < 2000", "o_totalprice > 500000"]
    )
    assert 0 < sel2 <= max(s_low, 1.0 / ts.sample_count) + 1e-9

    # 3. zero partial matches with known ndv → 1/ndv contribution
    full, partial = ts.conjunct_counts(["o_orderkey = -1"])
    assert full == 0 and partial == [0]
    sel3 = ts.estimate_conjunct_selectivity(["o_orderkey = -1"], zero_match_ndv=[15000])
    assert abs(sel3 - 1.0 / 15000) < 1e-12


def test_counting_hll_reference_bounds(spark):
    """CountingHLL twin of counting_hyperloglog.rs: estimate within the
    reference's own test tolerance (±20%, :264-291) at the reference
    geometry (m=64), and delete = exact counter subtraction."""
    from oxidsql_spark.statistics import CountingHLL, column_bucket_rho_counts

    # 200k distinct at m=64 — the reference test's own geometry
    n = 200_000
    df = spark.range(n).selectExpr("id AS a", "CAST(id % 500 AS STRING) AS b")
    counts = column_bucket_rho_counts(df, ["a", "b"], m=64)

    sk_a, sk_b = CountingHLL(64), CountingHLL(64)
    sk_a.add_counts(counts["a"])
    sk_b.add_counts(counts["b"])
    assert abs(sk_a.estimate() - n) <= 0.2 * n
    assert abs(sk_b.estimate() - 500) <= 0.2 * 500
    assert sum(c for _, _, c in counts["__rows__"]) == n

    # delete the top half: estimate tracks the survivors, no rescan of them
    dele = spark.range(n // 2, n).selectExpr("id AS a", "CAST(id % 500 AS STRING) AS b")
    sk_a.add_counts(column_bucket_rho_counts(dele, ["a"], m=64)["a"], sign=-1)
    assert abs(sk_a.estimate() - n // 2) <= 0.2 * (n // 2)


def test_counting_hll_duplicate_delete_property(spark):
    """The counting property max-register HLLs lack: deleting ONE copy of
    a duplicated value must not forget the value; deleting the last copy
    must."""
    from oxidsql_spark.statistics import CountingHLL, column_bucket_rho_counts

    vals = spark.createDataFrame([(i,) for i in range(200)] * 2, "a long")
    one_copy = spark.createDataFrame([(i,) for i in range(200)], "a long")

    sk = CountingHLL(1024)
    sk.add_counts(column_bucket_rho_counts(vals, ["a"], m=1024)["a"])
    before = sk.estimate()
    sk.add_counts(column_bucket_rho_counts(one_copy, ["a"], m=1024)["a"], sign=-1)
    assert sk.estimate() == before  # duplicates remain -> ndv unchanged
    sk.add_counts(column_bucket_rho_counts(one_copy, ["a"], m=1024)["a"], sign=-1)
    assert sk.estimate() == 0  # last copies gone -> empty


def test_online_stats_delete_subtracts_without_rescan(spark):
    """Facade DELETE maintains ndv by counter subtraction (the
    heap.rs:296-311 decrement path) — rebuild is never invoked."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE t_cdel (id INT, name VARCHAR(500))")
    db.query("INSERT INTO t_cdel SELECT id, 'x' FROM range(100)")
    assert abs(db.stats("t_cdel").ndv("id") - 100) <= 5

    db._stats_rebuild = lambda name: (_ for _ in ()).throw(
        AssertionError("DELETE must not rebuild")
    )
    db.query("DELETE FROM t_cdel WHERE id >= 50")
    st = db.stats("t_cdel")
    assert st.rowcount == 50
    assert abs(st.ndv("id") - 50) <= 3
    db.query("DROP TABLE t_cdel") if hasattr(db, "_drop") else None


def test_delete_evicts_null_rows_from_sample(spark):
    """Sample eviction on DELETE must be null-safe: with plain equality
    the anti-join never matches rows carrying a NULL, so deleted
    NULL-bearing rows would linger in the sample and skew estimates."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE t_nulldel (id INT, name VARCHAR(20))")
    db.query(
        "INSERT INTO t_nulldel SELECT CAST(id AS INT), "
        "CASE WHEN id % 2 = 0 THEN NULL ELSE 'x' END FROM range(40)"
    )
    st = db.stats("t_nulldel")
    assert any(t[1] is None for _, t in st._sample)  # NULLs sampled
    db.query("DELETE FROM t_nulldel WHERE name IS NULL")
    st = db.stats("t_nulldel")
    assert st.rowcount == 20
    assert all(t[1] is not None for _, t in st._sample), "NULL rows lingered"
    assert st._sample, "eviction overshot: surviving rows were dropped too"


def test_online_stats_update_adjusts_without_rescan(spark):
    """Facade UPDATE pairs a subtract (pre-image) with an add
    (post-image) on the counting sketches — no rebuild, rowcount
    unchanged, ndv tracks the rewrite."""
    from oxidsql_spark.database import OxidSparkDatabase

    db = OxidSparkDatabase(spark)
    db.query("CREATE TABLE t_cupd (id INT, grp INT)")
    db.query("INSERT INTO t_cupd SELECT id, CAST(id % 50 AS INT) FROM range(100)")
    st = db.stats("t_cupd")
    assert abs(st.ndv("grp") - 50) <= 3

    db._stats_rebuild = lambda name: (_ for _ in ()).throw(
        AssertionError("UPDATE must not rebuild")
    )
    # collapse every group to 0: ndv(grp) -> 1, rowcount unchanged
    db.query("UPDATE t_cupd SET grp = 0 WHERE true")
    st = db.stats("t_cupd")
    assert st.rowcount == 100
    assert st.ndv("grp") == 1
    assert abs(st.ndv("id") - 100) <= 5


def test_stats_checkpoint_survives_reopen_without_rescan(spark, tmp_path):
    """Durable facade: stats serialize next to the snapshots and a new
    session restores them with NO table rescan (the reference persists
    its sketch blobs into catalog VarBinary columns,
    catalog/mod.rs:574-577)."""
    from oxidsql_spark.database import OxidSparkDatabase
    from oxidsql_spark.statistics import OnlineTableStats

    d = str(tmp_path / "db")
    db = OxidSparkDatabase(spark, storage_dir=d)
    db.query("CREATE TABLE t_ck (id INT, name VARCHAR(50))")
    db.query("INSERT INTO t_ck SELECT id, 'x' FROM range(200)")
    db.query("DELETE FROM t_ck WHERE id >= 150")
    want_ndv = db.stats("t_ck").ndv("id")

    orig_rebuild = OnlineTableStats.rebuild
    OnlineTableStats.rebuild = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("reopen must not rescan")
    )
    try:
        db2 = OxidSparkDatabase(spark, storage_dir=d)
        st = db2.stats("t_ck")
        assert st.rowcount == 150
        assert st.ndv("id") == want_ndv
        assert st.estimate_cardinality("id < 75") > 0
    finally:
        OnlineTableStats.rebuild = orig_rebuild


def test_stats_blob_trimmed_and_round_trips_exactly(spark):
    """The stats checkpoint drops all-zero trailing rho columns and
    narrows the counters, yet restores ndv, rowcount, sample and the
    counter matrices exactly; a blob in the older full-int64 format
    still loads."""
    import pickle

    import numpy as np
    from pyspark.sql import types as T

    from oxidsql_spark.statistics import OnlineTableStats

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("g", T.StringType())]
    )
    st = OnlineTableStats(spark, schema)
    st.update(spark.range(20_000).selectExpr("id AS k", "cast(id % 7 AS string) AS g"))
    st.add_rows([(-1, "pending")])
    full_bytes = sum(sk._counts.nbytes for sk in st._sketches.values())
    blob = st.dumps()
    assert len(blob) < full_bytes / 4

    old = pickle.loads(blob)
    old["sketches"] = {
        c: (sk.m, sk._counts.tobytes()) for c, sk in st._sketches.items()
    }
    counts = {c: sk._counts.copy() for c, sk in st._sketches.items()}
    sample, pending = list(st._sample), list(st._pending)
    ndv = (st.ndv("k"), st.ndv("g"))  # folds the pending row in
    for data in (blob, pickle.dumps(old)):
        back = OnlineTableStats.loads(spark, schema, data)
        for c, want in counts.items():
            assert back._sketches[c]._counts.dtype == np.int64
            assert np.array_equal(back._sketches[c]._counts, want)
        assert back._sample == sample and back._pending == pending
        assert back.rowcount == 20_001
        assert (back.ndv("k"), back.ndv("g")) == ndv


def test_table_sample_close_releases_cache(spark, sf_dir):
    from oxidsql_spark.sources import table
    from oxidsql_spark.statistics import TableSample

    n0 = spark.sparkContext._jsc.getPersistentRDDs().size()
    with TableSample(table(spark, sf_dir, "customer")) as ts:
        assert ts.sample_count > 0
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == n0 + 1
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == n0


def test_count_min_overestimate_guarantee(spark, sf_dir):
    """The count-min bound, asserted over EVERY distinct term (not just
    the registered query's top-20): est >= exact always, and the
    overcount stays within the d-row collision expectation (n/w per
    row, generously bounded)."""
    from pyspark.sql import functions as F

    from oxidsql_spark.functions import tokens
    from oxidsql_spark.sources import table
    from oxidsql_spark.statistics import _CMS_W, cms_estimate, count_min_sketch

    terms = (
        table(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("term"))
    )
    n_rows = terms.count()
    exact = terms.groupBy("term").agg(F.count(F.lit(1)).alias("exact_n"))
    sketch = count_min_sketch(terms, "term")
    est = cms_estimate(sketch, exact.select("term"), "term")
    joined = exact.join(est, "term")
    under = joined.filter(F.col("cms_est") < F.col("exact_n")).count()
    assert under == 0, f"{under} terms undercounted — count-min bound violated"
    # generous collision bound: 8x the expected n/w overcount
    max_over = joined.agg(
        F.max(F.col("cms_est") - F.col("exact_n")).alias("m")
    ).first()["m"]
    assert max_over <= max(8 * n_rows // _CMS_W, 8), (max_over, n_rows)

    # unseen items are REPORTED (est 0 or a small collision count), not
    # dropped: the probe left-joins the sketch with absent buckets as 0,
    # so every input item appears in the output exactly once
    novel = spark.range(50).select(
        F.concat(F.lit("___cms_unseen_"), F.col("id").cast("string")).alias("term")
    )
    novel_est = cms_estimate(sketch, novel, "term")
    assert novel_est.count() == 50
    # min over d=4 independently-hashed buckets collides to >0 rarely;
    # the bulk of genuinely-unseen items must report 0
    assert novel_est.filter(F.col("cms_est") == 0).count() >= 45


def test_count_min_sketches_merge_exactly(spark, sf_dir):
    """Sketch mergeability, the property that makes per-shard frequency
    profiles roll up without raw data: summing two shards' sketches on
    (i, b) equals the whole-corpus sketch EXACTLY (counts are exact
    integers; only estimates are approximate)."""
    from pyspark.sql import functions as F

    from oxidsql_spark.functions import tokens
    from oxidsql_spark.sources import table
    from oxidsql_spark.statistics import count_min_sketch

    d = table(spark, sf_dir, "documents")
    terms = lambda df: df.select(F.explode(tokens(F.col("text"))).alias("term"))
    half_a = count_min_sketch(terms(d.filter(F.col("doc_id") % 2 == 0)), "term")
    half_b = count_min_sketch(terms(d.filter(F.col("doc_id") % 2 == 1)), "term")
    merged = {
        (r.i, r.b): r.cnt
        for r in half_a.unionByName(half_b)
        .groupBy("i", "b")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    whole = {(r.i, r.b): r.cnt for r in count_min_sketch(terms(d), "term").collect()}
    assert merged == whole and merged
