"""``Timeline.instants()`` cache: the stat signature must see every rewrite,
and the cached parse must not be reachable from the instants it returns."""

from __future__ import annotations

import json
import os

from hudi_examples_spark.table.timeline import Instant, Timeline, new_instant


def test_same_size_rewrite_within_one_mtime_tick_is_seen(tmp_path):
    tl = Timeline(str(tmp_path))
    inst = new_instant()
    tl.write(Instant(inst, "commit", ["a.parquet"], [], {"v": "a"}))
    assert tl.instants()[0].meta == {"v": "a"}  # fills the cache
    path = os.path.join(tl.dir, f"{inst}.commit.json")
    before = os.stat(path)
    with open(path) as f:
        d = json.load(f)
    d["meta"]["v"] = "b"
    # the same rename protocol ``write`` uses, with the same byte size and the
    # old mtime pinned: what a coarse-mtime filesystem shows for a rewrite
    # inside one tick — only the inode tells the two files apart
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(d, f, indent=1)
    os.replace(tmp, path)
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns))
    after = os.stat(path)
    assert (after.st_size, after.st_mtime_ns) == (before.st_size, before.st_mtime_ns)
    assert after.st_ino != before.st_ino
    assert tl.instants()[0].meta == {"v": "b"}


def test_nested_meta_mutation_does_not_reach_the_cache(tmp_path):
    tl = Timeline(str(tmp_path))
    tl.write(Instant(new_instant(), "replacecommit", ["a.parquet"], [],
                     {"plan": {"groups": [["x.parquet"]]}}))
    tl.instants()[0].meta["plan"]["groups"].append(["y.parquet"])
    assert tl.instants()[0].meta == {"plan": {"groups": [["x.parquet"]]}}
