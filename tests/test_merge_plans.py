"""Plan shapes of the merged MOR reads and of a log commit.

Each snapshot side of a CDC read is merged once (one full outer join), the
log keys reach the broadcast semi/anti joins without an aggregate, a point
read's key filter reaches every parquet scan, and a log commit's write stage
is sized to the table's live partition dirs. Jobs are counted by job tag
from the JVM status tracker, so the counts are the ones Spark scheduled.
Also: a truncated staged file of any size fails the write before anything
is promoted.
"""

from __future__ import annotations

import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hudi_examples_spark.table import Table, TableConfig


def _mor_table(spark, tmp_path, n_parts=3):
    """A MOR table keyed on (id, p) over ``n_parts`` partitions with two live log
    commits (updates and deletes), plus the instant before the logs."""
    base = spark.range(0, 600).selectExpr(
        "id", f"cast(id % {n_parts} as int) AS p", "0L AS v", "cast(id AS string) AS s"
    )
    t = Table.create(
        spark,
        str(tmp_path / "t"),
        base.schema,
        TableConfig(record_key=["id", "p"], precombine="v", partition_by=["p"], table_type="mor"),
    )
    t.bulk_insert(base)
    lo = t.latest_instant()
    for v in (1, 2):
        batch = spark.range(0, 600, 7).selectExpr(
            "id",
            f"cast(id % {n_parts} as int) AS p",
            f"{v}L AS v",
            "'x' AS s",
            "CASE WHEN id % 3 = 0 THEN 'D' ELSE 'U' END AS _op",
        )
        t.write_cdc(batch)
    return t, lo


def _tagged(spark, tag, fn):
    """Run ``fn`` with every Spark job it launches tagged ``tag``; return
    its result and the tagged job ids."""
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jids = sorted(int(j) for j in sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
    return out, jids


def _result_stage_tasks(spark, jids) -> list[int]:
    """Task count of the final (result) stage of each job."""
    st = spark.sparkContext.statusTracker()
    return [st.getStageInfo(max(st.getJobInfo(j).stageIds)).numTasks for j in jids]


def _plan_nodes(df):
    """Every node of the physical plan (the initial plan of an adaptive one)."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            node = node.initialPlan()
        yield node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.length()))


def _promoted(t) -> list[str]:
    """Parquet files in the table dirs, staging excluded."""
    return sorted(
        os.path.relpath(os.path.join(r, f), t.base)
        for r, _d, fs in os.walk(t.base)
        if ".staging" not in r
        for f in fs
        if f.endswith(".parquet")
    )


def _live_dirs(t) -> int:
    files, _ = t.timeline.live_files()
    return len({os.path.dirname(r) for r in files})


def test_cdc_merges_each_side_once(spark, tmp_path):
    t, lo = _mor_table(spark, tmp_path)
    n, jids = _tagged(spark, "cdc-jobs", lambda: t.table_changes_cdc(start=lo).count())
    assert n == len(range(0, 600, 7))
    assert len(jids) <= 4, jids


def test_log_keys_broadcast_without_aggregate(spark, tmp_path):
    t, _ = _mor_table(spark, tmp_path)
    broadcasts = [
        n for n in _plan_nodes(t.read()) if n.getClass().getSimpleName() == "BroadcastExchangeExec"
    ]
    assert broadcasts
    for b in broadcasts:
        assert "HashAggregate" not in b.treeString(), b.treeString()


def test_point_read_filters_every_scan_by_record_key(spark, tmp_path):
    t, _ = _mor_table(spark, tmp_path)
    df = t.read_point(id=14, p=2)
    scans = [n for n in _plan_nodes(df) if n.getClass().getSimpleName() == "FileSourceScanExec"]
    assert len(scans) >= 2  # base files and log files
    for s in scans:
        pushed = s.metadata().apply("PushedFilters")
        assert "EqualTo(_hoodie_record_key,14:2)" in pushed, pushed
    rows = df.collect()
    assert [(r["id"], r["v"]) for r in rows] == [(14, 2)]


def test_point_read_falls_back_on_mismatched_key_type(spark, tmp_path):
    t, _ = _mor_table(spark, tmp_path)
    assert t._key_literal({"id": 14, "p": 2}) is not None
    assert t._key_literal({"id": 14}) is None  # not every key column given
    # a str for a bigint key, a float, a bool and an out-of-range int all
    # go through the data-column filter alone
    for v in ("14", 14.0, True, 1 << 63):
        assert t._key_literal({"id": v, "p": 2}) is None
    assert [r["id"] for r in t.read_point(id=14.0, p=2).collect()] == [14]
    assert [r["id"] for r in t.read_point(id=14).collect()] == [14]
    assert t.read_point(id=21, p=0).count() == 0  # deleted by the log


def test_log_commit_width_follows_live_partitions(spark, tmp_path):
    t, _ = _mor_table(spark, tmp_path)
    dirs = _live_dirs(t)
    # a batch narrower than the table: the write width is the table's, not
    # the session's (a wider batch keeps its own width, see the next test)
    batch = spark.range(0, 600, 11, 1).selectExpr(
        "id", "cast(id % 3 as int) AS p", "5L AS v", "'y' AS s", "'U' AS _op"
    )
    _, jids = _tagged(spark, "log-commit", lambda: t.write_cdc(batch))
    assert jids
    assert max(_result_stage_tasks(spark, jids)) <= dirs


def test_batch_opening_many_partitions_writes_in_parallel(spark, tmp_path):
    t, _ = _mor_table(spark, tmp_path, n_parts=1)
    assert _live_dirs(t) == 1
    batch = spark.range(1000, 1200, 1, 4).selectExpr(
        "id", "cast(1 + id % 24 as int) AS p", "1L AS v", "'z' AS s"
    )
    _, jids = _tagged(spark, "wide-commit", lambda: t.upsert(batch))
    assert max(_result_stage_tasks(spark, jids)) > 1
    # one file per new partition dir, as at any width
    new = [i for i in t.timeline.instants() if i.action == "deltacommit"][-1]
    per_dir = Counter(os.path.dirname(r) for r in new.files_added)
    assert len(per_dir) >= 20 and set(per_dir.values()) == {1}
    assert t.read().filter(F.col("id") >= 1000).count() == 200


def test_truncated_large_staged_file_fails_write_before_promotion(spark, tmp_path, monkeypatch):
    t = Table.create(
        spark,
        str(tmp_path / "t"),
        "id BIGINT, s STRING",
        TableConfig(record_key=["id"], table_type="cow"),
    )
    t.bulk_insert(spark.range(0, 10).selectExpr("id", "'a' AS s"))
    before_files = _promoted(t)
    n_instants = len(t.timeline.instants())

    from pyspark.sql.readwriter import DataFrameWriter

    real_parquet = DataFrameWriter.parquet

    def write_then_truncate(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        staged = [
            os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
        ]
        big = max(staged, key=os.path.getsize)
        size = os.path.getsize(big)
        assert size > 65536
        with open(big, "r+b") as fh:  # cut the footer off
            fh.truncate(size - 1024)

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_truncate)
    batch = spark.range(100, 40100, 1, 2).selectExpr("id", "sha2(cast(id AS string), 256) AS s")
    with pytest.raises(pa.ArrowInvalid):
        t.bulk_insert(batch)
    monkeypatch.undo()

    after_files = _promoted(t)
    assert after_files == before_files
    assert len(t.timeline.instants()) == n_instants
    assert t.read().count() == 10
    for rel in after_files:
        pq.read_metadata(os.path.join(t.base, rel))
