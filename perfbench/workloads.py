"""The benchmark's three closed-loop, single-client workloads.

- ``cow_ingest``: CDC batches into a copy-on-write table through
  ``DeltaStreamer.run_once``, each followed by one snapshot aggregate through
  ``sql.Engine.sql``. Loads the COW write path and ``clean``.
- ``mor_mixed``: the same batches into a merge-on-read table with inline
  compaction every 5 commits; each commit is followed by four reads (snapshot
  aggregate, ``read_point``, ``table_changes``, ``table_changes_cdc``).
- ``query_suite``: registry queries over generated star-schema tables, in a
  seed-shuffled order. Bypasses the table layer entirely.

Each workload times its operations with tracing off unless a ``Tracer`` is
passed, and checks every output against an independent oracle outside the
timed operations.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import traceback

import pyarrow.parquet as pq

import datagen
import oracle
from tracing import NullTracer, diff_files, tree_cpu_s, walk_files

AGG_SQL = ("SELECT ship_year, count(*) AS n, sum(l_quantity) AS q, max(v) AS mv "
           "FROM li GROUP BY ship_year")

#: registry queries of the query suite: TPC-H-style relational queries and
#: data-pipeline operators, each with a DuckDB oracle in the registry
RELATIONAL = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume", "q18_large_orders",
]
PIPELINE = ["dedup_exact", "dedup_minhash_lsh", "sim_knn_join", "dedup_embed_ann"]


#: nominal seconds of one timed round (a mor_mixed cycle or a query pass) on
#: a 4-core host; a run does ``seconds / round_s`` rounds
ROUND_S = 4.0


class Workload:
    """Shared op timing: latencies per op kind, attempts and failures.

    A run does a fixed number of rounds sized from ``seconds`` rather than
    looping until the time is up: with only a few rounds per run, a time box
    let the op mix follow the machine's speed (one round more or less, on
    either side of an inline compaction or of the first, slower pass), and
    that doubled the run-to-run spread."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer=None,
                 round_s: float = ROUND_S):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rounds = max(1, round(seconds / round_s))
        self.tr = tracer or NullTracer()
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup_parts: dict[str, float] = {}
        #: set-up time spent repeating steps beyond their median run
        self.setup_repeat_extra = 0.0
        self.window = (0.0, 0.0)
        self.window_s = 0.0
        self.window_cpu_s = 0.0

    def op(self, kind: str, fn):
        """Run one timed operation; a raise counts as a failed op."""
        self.attempted += 1
        with self.tr.span(f"op.{kind}", kind=kind):
            t = time.perf_counter()
            try:
                out = fn()
            except Exception:  # noqa: BLE001 - the loop keeps running and reports it
                self.failed += 1
                self.errors.append(f"{kind} raised:\n{traceback.format_exc()}")
                return None
            self.lat.setdefault(kind, []).append(time.perf_counter() - t)
        return out

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.errors.append(msg)

    def timed_setup(self, part: str, fn, repeat: int = 1):
        """Run a set-up step ``repeat`` times; its time is the median."""
        times, out = [], None
        for i in range(repeat):
            t = time.perf_counter()
            out = fn(i)
            times.append(time.perf_counter() - t)
        self.setup_parts[part] = statistics.median(times)
        self.setup_repeat_extra += sum(times) - statistics.median(times)
        return out


# ------------------------------------------------------------------ ingest

class Ingest(Workload):
    """cow_ingest / mor_mixed."""

    def __init__(self, spark, work, seed, seconds, table_type: str, base_rows: int,
                 warmup: int, reads: bool, tracer=None, round_s: float = ROUND_S):
        super().__init__(spark, work, seed, seconds, tracer, round_s)
        self.table_type = table_type
        self.base_rows = base_rows
        self.warmup = warmup
        self.reads = reads
        self.commit_bytes = 0
        self.batch_bytes = 0
        self.batch_rows = 0
        self.applied: list[datagen.BatchStats] = []
        self.timeline_probe: list[dict] = []
        self.cur: datagen.BatchStats | None = None

    # -------------------------------------------------------------- set-up
    def setup(self) -> None:
        from hudi_examples_spark.sql import Engine
        from hudi_examples_spark.streaming.ingestion import DeltaStreamer
        from hudi_examples_spark.table import Table, TableConfig

        gen = datagen.CdcGenerator(self.seed, self.base_rows)
        self.base_path = os.path.join(self.work, "base.parquet")
        bdir = os.path.join(self.work, "batches")
        os.makedirs(bdir, exist_ok=True)
        n_batches = self.warmup + self.rounds

        def generate(_):
            pq.write_table(gen.base_table(), self.base_path)
            self.batches, self.expect = [], []
            for i in range(n_batches):
                st = gen.write_batch(os.path.join(bdir, f"b{i:04d}.parquet"))
                self.batches.append(st)
                self.expect.append({"agg": gen.snapshot_agg(), "point": gen.live_key()})

        self.timed_setup("generate_s", generate)
        self.schema = self.spark.read.parquet(self.base_path).schema
        data_schema = self.spark.read.parquet(self.batches[0].path).schema

        def load(i):
            base = os.path.join(self.work, f"table{i}")
            t = Table.create(self.spark, base, self.schema, TableConfig(
                record_key=list(oracle.KEY), precombine="v", partition_by=["ship_year"],
                table_type=self.table_type))
            t.bulk_insert(self.spark.read.schema(self.schema).parquet(self.base_path))
            return t

        # the fixture load is timed three times on fresh tables; the last one is used
        self.table = self.timed_setup("load_s", load, repeat=3)
        for i in range(2):
            shutil.rmtree(os.path.join(self.work, f"table{i}"))
        self.warehouse = os.path.join(self.work, "warehouse")
        self.engine = Engine(self.spark, self.warehouse)
        self.engine.register("li", self.table)
        self._next = 0

        def source():
            self.cur = self.batches[self._next]
            self._next += 1
            return self.spark.read.schema(data_schema).parquet(self.cur.path)

        self.streamer = DeltaStreamer(
            self.table, source, op_col="_op", clean_retain=10,
            compact_every=5 if self.table_type == "mor" else None)
        self._install_probes()

        def warm(_):
            for _ in range(self.warmup):
                self.cycle(timed=False)

        self.timed_setup("warmup_s", warm)

    def _install_probes(self) -> None:
        tr, t = self.tr, self.table
        if not tr.enabled:
            return
        walk = lambda: walk_files(t.base)  # noqa: E731

        def after_write(sp, before, instant):
            d = diff_files(before, walk_files(t.base))
            inst = next(i for i in t.timeline.instants() if i.instant == instant)
            rows = sum(pq.read_metadata(os.path.join(t.base, p)).num_rows
                       for p in inst.files_added if p.endswith(".parquet"))
            sp.attrs.update(bytes_written=d["bytes_added"], files_added=len(inst.files_added),
                            files_removed=len(inst.files_removed), rows_added=rows,
                            batch_rows=self.cur.rows if self.cur else 0)

        def after_clean(sp, before, _):
            d = diff_files(before, walk_files(t.base))
            sp.attrs.update(files_deleted=d["files_removed"], bytes_freed=d["bytes_removed"])

        def after_compact(sp, before, _):
            d = diff_files(before, walk_files(t.base))
            sp.attrs.update(bytes_rewritten=d["bytes_added"])

        tr.wrap(self.streamer, "run_once", "streaming.run_once")
        tr.wrap(t, "write_cdc", "table.write", before=walk, after=after_write)
        tr.wrap(t, "clean", "table.clean", before=walk, after=after_clean)
        tr.wrap(t, "compact", "table.compact", before=walk, after=after_compact)
        tr.wrap(t, "read", "table.read")
        tr.wrap(t, "read_point", "table.read_point")
        tr.wrap(t, "table_changes", "table.table_changes")
        tr.wrap(t, "table_changes_cdc", "table.table_changes_cdc")
        tr.wrap(self.engine, "sql", "sql.dispatch")

    # ---------------------------------------------------------------- loop
    def cycle(self, timed: bool = True) -> None:
        b = self._next
        prev = self.table.latest_instant()
        before = walk_files(self.table.base)
        ok = self.op("commit", self.streamer.run_once) if timed else self.streamer.run_once()
        st = self.batches[b]
        self.check(ok is True, f"batch {b}: run_once returned {ok!r}")
        if timed:
            self.commit_bytes += diff_files(before, walk_files(self.table.base))["bytes_added"]
            self.batch_bytes += st.bytes
            self.batch_rows += st.rows
        self.applied.append(st)
        if timed and self.tr.enabled:
            self._probe_timeline()
        run = self.op if timed else (lambda _k, fn: fn())
        exp = self.expect[b]

        def snapshot_op():
            df = self.engine.sql(AGG_SQL)
            with self.tr.span("sql.exec"):
                return df.collect()

        rows = run("snapshot", snapshot_op)
        if rows is not None:
            got = {r["ship_year"]: (r["n"], float(r["q"]), r["mv"]) for r in rows}
            self.check(got == exp["agg"], f"batch {b}: snapshot aggregate {got} != {exp['agg']}")
        if not self.reads:
            return
        key = exp["point"]

        def point():
            df = self.table.read_point(l_orderkey=key["l_orderkey"], l_linenumber=key["l_linenumber"])
            with self.tr.span("table.read.point.exec"):
                return df.collect()

        def incr():
            df = self.table.table_changes(start=prev)
            with self.tr.span("table.read.incr.exec"):
                return df.count()

        def cdc():
            df = self.table.table_changes_cdc(start=prev)
            with self.tr.span("table.read.cdc.exec"):
                return df.count()

        got = run("point", point)
        if got is not None:
            self.check(len(got) == 1 and got[0]["v"] == key["v"]
                       and got[0]["l_quantity"] == key["l_quantity"],
                       f"batch {b}: point read of {key} returned {got}")
        n = run("incr", incr)
        if n is not None:
            self.check(n == st.inserts + st.updates,
                       f"batch {b}: table_changes rows {n} != I+U {st.inserts + st.updates}")
        n = run("cdc", cdc)
        if n is not None:
            self.check(n == st.rows, f"batch {b}: table_changes_cdc rows {n} != I+U+D {st.rows}")

    def _probe_timeline(self) -> None:
        tl = self.table.timeline
        t = time.perf_counter()
        insts = tl.instants()
        t_inst = time.perf_counter() - t
        t = time.perf_counter()
        files, _ = tl.live_files()
        t_live = time.perf_counter() - t
        sizes = walk_files(self.table.base)
        self.timeline_probe.append({
            "instants_s": t_inst, "live_files_s": t_live, "instants": len(insts),
            "live_files": len(files),
            "log_files": sum(1 for _i, a in files.values() if a == "deltacommit"),
            "live_bytes": sum(sizes.get(r, 0) for r in files),
        })

    def run(self) -> None:
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        for _ in range(self.rounds):
            self.cycle()
        self.window = (t0, time.perf_counter())
        self.window_cpu_s = tree_cpu_s(os.getpid()) - c0
        self.window_s = self.window[1] - t0

    # -------------------------------------------------------------- verify
    def verify(self) -> None:
        from hudi_examples_spark.sql import Engine

        con = oracle.connect(os.path.join(self.work, "duckdb"))
        want = oracle.digest(oracle.replay(con, self.base_path, [b.path for b in self.applied]))
        con.close()
        got = oracle.digest(self.table.read().toPandas())
        self.check(got == want, f"final snapshot (rows, hash) {got} != replay {want}")
        fresh = Engine(self.spark, self.warehouse)
        got2 = oracle.digest(fresh.sql("SELECT * FROM li").toPandas())
        self.check(got2 == want, f"fresh-handle snapshot {got2} != replay {want}")
        self.check(fresh.table("li") is not self.table, "the fresh catalog reused the live handle")
        sizes = walk_files(self.table.base)
        files, _ = self.table.timeline.live_files()
        self.total_bytes = sum(sizes.values())
        self.live_bytes = sum(sizes.get(r, 0) for r in files)

    # ------------------------------------------------------------- metrics
    def report(self) -> list[tuple]:
        """(name, value, unit, n, percentile) for every applicable metric."""
        c = self.lat.get("commit", [])
        out = [
            ("commit_p50_s", *p50(c), "s"),
            ("commit_tail_s", *tail(c), "s"),
            ("ingest_rows_per_s", self.batch_rows / sum(c) if c else 0.0, len(c), None, "rows/s"),
            ("write_amp", self.commit_bytes / self.batch_bytes if self.batch_bytes else 0.0,
             len(c), None, "ratio"),
            ("space_amp", self.total_bytes / self.live_bytes if self.live_bytes else 0.0,
             1, None, "ratio"),
            ("snapshot_read_p50_s", *p50(self.lat.get("snapshot", [])), "s"),
        ]
        if self.reads:
            out += [
                ("point_read_p50_s", *p50(self.lat.get("point", [])), "s"),
                ("incr_read_p50_s", *p50(self.lat.get("incr", [])), "s"),
                ("cdc_read_p50_s", *p50(self.lat.get("cdc", [])), "s"),
                ("read_tail_s", *tail([x for k in ("snapshot", "point", "incr", "cdc")
                                       for x in self.lat.get(k, [])]), "s"),
            ]
        return out


# ------------------------------------------------------------- query suite

class QuerySuite(Workload):
    def __init__(self, spark, work, seed, seconds, sf: float, tracer=None):
        super().__init__(spark, work, seed, seconds, tracer)
        self.sf = sf
        self.passes: list[float] = []
        self.first: dict[str, object] = {}
        self.row_counts: dict[str, set[int]] = {}

    def setup(self) -> None:
        from hudi_examples_spark import registry

        def generate(i):
            d = os.path.join(self.work, f"sf{i}")
            datagen.write_sf(d, self.sf, self.seed)
            return d

        # generation is timed three times; the last copy is queried
        self.sf_dir = self.timed_setup("generate_s", generate, repeat=3)
        for i in range(2):
            shutil.rmtree(os.path.join(self.work, f"sf{i}"))
        specs = {s.name: s for s in registry.all_specs()}
        self.specs = {n: specs[n] for n in RELATIONAL + PIPELINE}
        self.order = RELATIONAL + PIPELINE
        random.Random(self.seed).shuffle(self.order)

        def warm(_):
            for name in self.order:
                self._query(name)

        # one untimed pass compiles every query's code and starts the Python workers
        self.timed_setup("warmup_s", warm)

    def _query(self, name: str):
        spec = self.specs[name]
        layer = "relational" if name in RELATIONAL else "pipeline"
        with self.tr.span(f"operators.{layer}.build", query=name):
            df = spec.fn(self.spark, self.sf_dir)
        with self.tr.span(f"operators.{layer}.exec", query=name):
            return df.toPandas()

    def run(self) -> None:
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        for _ in range(self.rounds):
            tp = time.perf_counter()
            for name in self.order:
                pdf = self.op(name, lambda n=name: self._query(n))
                if pdf is None:
                    continue
                self.first.setdefault(name, pdf)
                self.row_counts.setdefault(name, set()).add(len(pdf))
            self.passes.append(time.perf_counter() - tp)
        self.window = (t0, time.perf_counter())
        self.window_cpu_s = tree_cpu_s(os.getpid()) - c0
        self.window_s = self.window[1] - t0

    def verify(self) -> None:
        con = oracle.connect(os.path.join(self.work, "duckdb"))
        for t in datagen.SF_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        for name in self.order:
            spec = self.specs[name]
            if name not in self.first:
                continue
            if spec.oracle is None:
                self.check(len(self.row_counts[name]) == 1,
                           f"{name}: row count changed across passes {self.row_counts[name]}")
                continue
            why = oracle.same_result(self.first[name], con.execute(spec.oracle).fetchdf())
            self.check(why is None, f"{name}: result differs from its DuckDB oracle: {why}")
        con.close()

    def report(self) -> list[tuple]:
        med = {n: statistics.median(v) for n, v in self.lat.items()}
        return [
            ("suite_pass_s", *p50(self.passes), "s"),
            ("relational_geomean_s", geomean([med[n] for n in RELATIONAL if n in med]),
             len(self.passes), 50, "s"),
            ("pipeline_geomean_s", geomean([med[n] for n in PIPELINE if n in med]),
             len(self.passes), 50, "s"),
        ]


# ------------------------------------------------------------- statistics

def p50(xs: list[float]) -> tuple[float, int, float]:
    """(median, n, 50)."""
    return (statistics.median(xs) if xs else 0.0), len(xs), 50


def tail(xs: list[float]) -> tuple[float, int, float]:
    """The highest percentile with at least ten samples beyond it, as
    (value, n, p); with ten samples or fewer, the maximum (p = 100)."""
    s = sorted(xs)
    if len(s) <= 10:
        return (s[-1] if s else 0.0), len(s), 100.0
    k = len(s) - 10
    return s[k - 1], len(s), round(100.0 * k / len(s), 1)


def geomean(xs: list[float]) -> float:
    return statistics.geometric_mean(xs) if xs else 0.0
