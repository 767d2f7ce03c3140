"""``util.fan_out`` recognises plain scans by analyzed-plan node names; these
tests catch a Spark upgrade that renames or wraps those nodes."""

import pytest
from pyspark.sql import functions as F

from lshdedup.util import fan_out


@pytest.fixture
def one_file_scan(spark, tmp_path, monkeypatch):
    monkeypatch.delenv("LSHDEDUP_FANOUT", raising=False)
    path = str(tmp_path / "one_file.parquet")
    spark.range(100).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_fan_out_fires_on_plain_parquet_scan(spark, one_file_scan):
    scan = one_file_scan.filter(F.col("id") > 3).select("id")
    assert scan.rdd.getNumPartitions() == 1
    out = fan_out(scan)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out.collect()) == list(range(4, 100))


def test_fan_out_is_noop_on_joined_frame(one_file_scan):
    other = one_file_scan.withColumnRenamed("id", "id2")
    joined = one_file_scan.join(other, F.col("id") == F.col("id2"))
    assert fan_out(joined) is joined
