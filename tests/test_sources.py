"""Leaf memos in ``sources``: per-session, and an artifact leaf is
reused only while its build stamp is unchanged."""

from __future__ import annotations

import shutil

from oxidsql_spark.sources import artifact


def test_artifact_rebuilt_in_process_reads_new_rows(spark, tmp_path):
    path = str(tmp_path / "art")
    spark.range(5).selectExpr("id AS x").write.parquet(path)
    assert sorted(r.x for r in artifact(spark, path).collect()) == [0, 1, 2, 3, 4]
    assert artifact(spark, path) is artifact(spark, path)  # memoized

    shutil.rmtree(path)  # the rebuild deletes the old part files
    spark.range(10, 13).selectExpr("id AS x").write.parquet(path)
    assert sorted(r.x for r in artifact(spark, path).collect()) == [10, 11, 12]
