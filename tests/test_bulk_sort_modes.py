"""Hudi ``hoodie.bulkinsert.sort.mode`` parity: NONE / PARTITION_SORT /
GLOBAL_SORT on ``bulk_insert``. The observable contract is layout, not rows:
GLOBAL_SORT buys disjoint per-file key ranges (keyed writes prune), a NONE
load of scattered keys cannot prune, and PARTITION_SORT sorts within files
at zero exchange cost. Row content is identical across modes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hudi_examples_spark.table import Table, TableConfig
from hudi_examples_spark.table.core import META_KEY

SCHEMA = "id STRING, n BIGINT, v INT"


def _rows(spark, lo=0, hi=600):
    # md5 keys: uniformly random — the regime where layout is earned, not free
    return spark.range(lo, hi).select(
        F.md5(F.col("id").cast("string")).alias("id"),
        F.col("id").alias("n"),
        F.lit(1).alias("v"),
    )


def _make(spark, tmp_path, name, sort_mode):
    t = Table.create(
        spark,
        str(tmp_path / name),
        SCHEMA,
        TableConfig(record_key=["id"], precombine="v"),
    )
    # repartition(8) scatters keys across tasks first, so NONE genuinely mixes
    t.bulk_insert(_rows(spark).repartition(8), sort_mode=sort_mode)
    return t


def test_global_sort_yields_disjoint_ranges_and_prunable_writes(spark, tmp_path):
    t_none = _make(spark, tmp_path, "none", "none")
    t_glob = _make(spark, tmp_path, "glob", "global_sort")

    def ranges(t):
        stats = t._load_file_stats()
        out = []
        for r in sorted(t.timeline.live_files()[0]):
            kr = (stats.get(r) or {}).get(META_KEY)
            if kr:
                out.append((kr[0], kr[1]))
        return sorted(out)

    rs = ranges(t_glob)
    assert len(rs) > 1
    for (lo1, hi1), (lo2, _hi2) in zip(rs, rs[1:]):
        assert hi1 <= lo2, "global_sort ranges must be disjoint"

    # a key-range-clustered update batch (keys in the bottom 1/8th of the md5
    # space) prunes on the sorted table, not on the NONE load — uniform
    # batches legitimately touch every range, so clustering is the test
    batch = (
        _rows(spark)
        .filter(F.col("id") < "20000000")
        .withColumn("v", F.lit(2))
    )
    t_glob2 = Table(spark, t_glob.base)
    t_glob2.upsert(batch)
    kp_glob = t_glob2.last_key_prune
    assert kp_glob["candidates"] < kp_glob["total"]

    t_none2 = Table(spark, t_none.base)
    t_none2.upsert(batch)
    kp_none = t_none2.last_key_prune
    assert kp_none["candidates"] == kp_none["total"], "scattered md5 keys can't prune"

    # identical content either way
    a = sorted(map(tuple, Table(spark, t_none.base).read().collect()))
    b = sorted(map(tuple, Table(spark, t_glob.base).read().collect()))
    assert a == b and len(a) == 600


def test_partition_sort_sorts_within_files(spark, tmp_path):
    t = Table.create(
        spark,
        str(tmp_path / "ps"),
        "id STRING, n BIGINT, seg STRING, v INT",
        TableConfig(record_key=["id"], precombine="v", partition_by=["seg"]),
    )
    df = spark.range(400).select(
        F.md5(F.col("id").cast("string")).alias("id"),
        F.col("id").alias("n"),
        F.concat(F.lit("s"), F.col("id") % 2).alias("seg"),
        F.lit(1).alias("v"),
    )
    t.bulk_insert(df.repartition(4), sort_mode="partition_sort")
    # every physical file is internally key-sorted
    for r in sorted(t.timeline.live_files()[0]):
        keys = [
            row[META_KEY]
            for row in t._read_files([r], with_deleted=False).select(META_KEY).collect()
        ]
        assert keys == sorted(keys), f"file {r} not key-sorted"
    assert t.read().count() == 400


def test_bad_mode_rejected(spark, tmp_path):
    t = Table.create(
        spark, str(tmp_path / "bad"), SCHEMA, TableConfig(record_key=["id"])
    )
    with pytest.raises(ValueError, match="sort_mode"):
        t.bulk_insert(_rows(spark, 0, 10), sort_mode="zorted")


def test_range_width_follows_the_input_not_the_host(spark):
    from hudi_examples_spark.table.core import _input_partitions

    assert _input_partitions(_rows(spark).repartition(8)) == 8
    assert _input_partitions(_rows(spark).repartition(3, "id").groupBy("id").count()) == 3
    # an input the optimizer proves empty plans no partition at all
    assert _input_partitions(_rows(spark).where("false")) == 1
