"""CDC reads equal a diff of the two snapshots they sit between.

``table_changes_cdc`` and ``table_changes_cdc_by_completion`` are checked
against a pandas diff of ``read(as_of=lo)`` and ``read(as_of=hi)`` on COW
and MOR, on the small two-snapshot path and on the key-pruned path, over a
window holding the cases a merge can get wrong: delete then re-insert,
insert then delete (nets out), updates at an equal precombine value, and
(MOR) partial-update logs.
"""

from __future__ import annotations

import pytest

from hudi_examples_spark.table import Table, TableConfig

SCHEMA = "k STRING, p INT, ts BIGINT, v DOUBLE, s STRING"
COLS = ["k", "p", "ts", "v", "s"]


def _rows(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _keys(spark, *keys):
    return spark.createDataFrame([(k,) for k in keys], "k STRING")


def _snapshot(tbl, instant) -> dict:
    """key -> (commit time, data row) of the merged snapshot at ``instant``."""
    pdf = tbl.read(as_of=instant, with_meta=True).toPandas()
    return {
        r["_hoodie_record_key"]: (r["_hoodie_commit_time"], tuple(r[c] for c in COLS))
        for r in pdf.to_dict("records")
    }


def _expected(tbl, lo, hi) -> dict:
    before, after = _snapshot(tbl, lo), _snapshot(tbl, hi)
    out = {}
    for key, (commit, row) in after.items():
        if commit > lo:
            op = "U" if key in before else "I"
            out[key] = (op, before[key][1] if key in before else None, row, commit)
    for key, (_commit, row) in before.items():
        if key not in after:
            out[key] = ("D", row, None, None)
    return out


def _got(df) -> dict:
    out = {}
    for r in df.collect():
        assert r["key"] not in out, f"key {r['key']} emitted twice"
        out[r["key"]] = (
            r["op"],
            tuple(r["before"]) if r["before"] is not None else None,
            tuple(r["after"]) if r["after"] is not None else None,
            r["commit_time"],
        )
    return out


@pytest.mark.parametrize("pruned", [False, True], ids=["small", "pruned"])
@pytest.mark.parametrize("table_type", ["cow", "mor"])
def test_cdc_equals_snapshot_diff(spark, tmp_path, table_type, pruned):
    tbl = Table.create(
        spark,
        str(tmp_path / "t"),
        SCHEMA,
        TableConfig(record_key=["k"], precombine="ts", partition_by=["p"], table_type=table_type),
    )
    if pruned:
        tbl.CDC_PRUNE_MIN_FILES = 0  # take the key-pruned path on a small table
        tbl.CDC_PRUNE_MIN_BYTES = 0
    tbl.insert(_rows(spark, [(f"k{i:02d}", i % 3, 1, float(i), "base") for i in range(30)]))
    lo, lo_ct = tbl.latest_instant(), tbl.latest_completion()

    tbl.delete(_keys(spark, "k01"))  # delete then re-insert: U
    tbl.upsert(_rows(spark, [("k01", 1, 5, 101.0, "back")]))
    tbl.upsert(_rows(spark, [("n01", 0, 1, 0.5, "new")]))  # insert then delete: nothing
    tbl.delete(_keys(spark, "n01"))
    # equal precombine: the later write wins
    tbl.upsert(_rows(spark, [("k02", 2, 1, 202.0, "eq"), ("k05", 2, 1, 205.0, "eq")]))
    tbl.upsert(_rows(spark, [("k05", 2, 1, 305.0, "eq2")]))
    tbl.delete(_keys(spark, "k04"))  # D
    tbl.upsert(_rows(spark, [("n02", 1, 1, 0.25, "new")]))  # I
    if table_type == "mor":
        # partial-update log: only v changes, the rest comes from the base
        tbl.update_partial(spark.createDataFrame([("k03", 7, 303.0)], "k STRING, ts BIGINT, v DOUBLE"))
    hi, hi_ct = tbl.latest_instant(), tbl.latest_completion()
    tbl.upsert(_rows(spark, [("k06", 0, 9, 606.0, "after-hi")]))  # outside the window

    want = _expected(tbl, lo, hi)
    assert want["k01"][0] == "U" and want["k04"][0] == "D" and want["n02"][0] == "I"
    assert "n01" not in want and "k06" not in want
    assert want["k05"][2][3] == 305.0
    if table_type == "mor":
        assert want["k03"][2] == ("k03", 0, 7, 303.0, "base")

    assert _got(tbl.table_changes_cdc(start=lo, end=hi)) == want
    assert _got(tbl.table_changes_cdc_by_completion(lo_ct, hi_ct)) == want
    if pruned:
        assert tbl.last_key_prune["total"] > 0
