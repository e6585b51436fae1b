"""Per-layer metrics from a traced run.

Layer names follow the engine's modules. Busy time of a layer is reported as
its share of the timed operations' wall time (``*.share``); per-call
seconds, job and byte counts are per call of that layer. A layer a workload
never calls reports 0 (no calls, no share). Every value here, and every span,
also lands in the spans file, so a per-call time can be read there too.

Only spans inside the timed window count.
"""

from __future__ import annotations

import statistics

READ_KINDS = {
    # kind: (plan span, exec span)
    "snapshot": ("table.read", "sql.exec"),
    "point": ("table.read_point", "table.read.point.exec"),
    "incr": ("table.table_changes", "table.read.incr.exec"),
    "cdc": ("table.table_changes_cdc", "table.read.cdc.exec"),
}


def _plans(kind: str, named: dict, by_id: dict) -> list:
    """Plan spans of one read kind; a snapshot read counts only when it is the
    one ``Engine.sql`` makes (the other reads call ``Table.read`` inside)."""
    plans = named.get(READ_KINDS[kind][0], [])
    if kind == "snapshot":
        plans = [s for s in plans if s.parent is not None and by_id[s.parent].name == "sql.dispatch"]
    return plans


def _in_window(w, tr) -> tuple[list, dict[str, list]]:
    """Spans inside the timed window, and the same grouped by name."""
    t0, t1 = w.window
    spans = [s for s in tr.spans if s.start >= t0 and s.end <= t1]
    named: dict[str, list] = {}
    for s in spans:
        named.setdefault(s.name, []).append(s)
    return spans, named


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def compute(w, tr, status, session_s: float) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, calls) for every per-layer metric."""
    spans, named = _in_window(w, tr)
    by_id = {s.sid: s for s in tr.spans}
    kids = tr.children()
    stats = {s.sid: status.span_stats(s.sid) for s in spans}
    ops = [s for s in spans if s.name.startswith("op.")]
    busy = sum(s.dur for s in ops) or 1.0
    out: dict[str, tuple[float, str, int]] = {}

    def put(name, value, unit, n):
        out[name] = (float(value), unit, n)

    def total(ss, key):
        return sum(stats[s.sid][key] for s in ss)

    # ---- every workload: the session and Spark as seen from each operation
    n = len(ops)
    put("session.start_s", session_s, "s", 1)
    stages = total(ops, "stages")
    put("spark.tasks_per_stage", total(ops, "tasks") / stages if stages else 0.0, "count", n)
    put("spark.jobs_per_op", total(ops, "jobs") / max(n, 1), "count", n)
    put("op.spark_s", total(ops, "spark_s") / max(n, 1), "s", n)
    put("op.driver_s", _mean(max(0.0, s.dur - stats[s.sid]["spark_s"]) for s in ops), "s", n)
    run_s, cpu_s = total(ops, "run_s"), total(ops, "cpu_s")
    put("spark.executor_run_s", run_s / max(n, 1), "s", n)
    put("spark.executor_cpu_s", cpu_s / max(n, 1), "s", n)
    put("spark.run_minus_cpu_s", (run_s - cpu_s) / max(n, 1), "s", n)
    put("spark.gc_share", total(ops, "gc_s") / run_s if run_s else 0.0, "ratio", n)
    put("spark.shuffle_write_bytes", total(ops, "shuffle_write_bytes") / max(n, 1), "bytes", n)
    put("spark.spill_bytes", total(ops, "spill_bytes") / max(n, 1), "bytes", n)
    put("spark.input_bytes", total(ops, "input_bytes") / max(n, 1), "bytes", n)

    # ---- streaming.ingestion / streaming.sinks
    ro = named.get("streaming.run_once", [])
    put("streaming.run_once.share", sum(s.dur for s in ro) / busy, "ratio", len(ro))
    put("streaming.self.share", sum(tr.self_time(s, kids) for s in ro) / busy, "ratio", len(ro))

    # ---- table.core write (write_cdc)
    wr = named.get("table.write", [])
    nw = max(len(wr), 1)
    put("table.write.share", sum(s.dur for s in wr) / busy, "ratio", len(wr))
    put("table.write.driver_share",
        sum(max(0.0, s.dur - stats[s.sid]["spark_s"]) for s in wr) / busy, "ratio", len(wr))
    for key, name in (("jobs", "jobs"), ("stages", "stages"), ("tasks", "tasks"),
                      ("shuffle_write_bytes", "shuffle_write_bytes"), ("spill_bytes", "spill_bytes")):
        put(f"table.write.{name}", total(wr, key) / nw, "bytes" if "bytes" in key else "count", len(wr))
    for attr in ("bytes_written", "files_added", "files_removed"):
        put(f"table.write.{attr}", _mean(s.attrs.get(attr, 0) for s in wr),
            "bytes" if "bytes" in attr else "count", len(wr))
    batch_rows = sum(s.attrs.get("batch_rows", 0) for s in wr)
    put("table.write.rewrite_ratio",
        sum(s.attrs.get("rows_added", 0) for s in wr) / batch_rows if batch_rows else 0.0,
        "ratio", len(wr))

    # ---- table.core reads, one set per kind
    probe = getattr(w, "timeline_probe", [])
    live = _mean(p["live_bytes"] for p in probe)
    for kind, (_plan, exec_name) in READ_KINDS.items():
        plans = _plans(kind, named, by_id)
        execs = named.get(exec_name, [])
        nr = max(len(execs), 1)
        both = plans + execs
        put(f"table.read.{kind}.plan_share", sum(s.dur for s in plans) / busy, "ratio", len(plans))
        put(f"table.read.{kind}.exec_share", sum(s.dur for s in execs) / busy, "ratio", len(execs))
        put(f"table.read.{kind}.jobs", total(both, "jobs") / nr, "count", len(execs))
        put(f"table.read.{kind}.tasks", total(both, "tasks") / nr, "count", len(execs))
        inb = total(both, "input_bytes") / nr
        put(f"table.read.{kind}.input_bytes", inb, "bytes", len(execs))
        put(f"table.read.{kind}.scan_ratio", inb / live if live and execs else 0.0, "ratio", len(execs))

    # ---- table.timeline (direct calls after each commit)
    last = probe[-1] if probe else {}
    for key in ("instants", "live_files", "log_files"):
        put(f"table.timeline.{key}", last.get(key, 0), "count", len(probe))

    # ---- table.core services
    cp = named.get("table.compact", [])
    put("table.compact.share", sum(s.dur for s in cp) / busy, "ratio", len(cp))
    put("table.compact.jobs", total(cp, "jobs") / max(len(cp), 1), "count", len(cp))
    put("table.compact.bytes_rewritten", _mean(s.attrs.get("bytes_rewritten", 0) for s in cp),
        "bytes", len(cp))
    cl = named.get("table.clean", [])
    put("table.clean.share", sum(s.dur for s in cl) / busy, "ratio", len(cl))
    put("table.clean.files_deleted", _mean(s.attrs.get("files_deleted", 0) for s in cl), "count", len(cl))
    put("table.clean.bytes_freed", _mean(s.attrs.get("bytes_freed", 0) for s in cl), "bytes", len(cl))
    put("table.write_amp", _ratio(w, "commit_bytes", "batch_bytes"), "ratio", len(wr))
    put("table.space_amp", _ratio(w, "total_bytes", "live_bytes"), "ratio", 1)

    # ---- sql
    sd, se = named.get("sql.dispatch", []), named.get("sql.exec", [])
    put("sql.dispatch_share", sum(s.dur for s in sd) / busy, "ratio", len(sd))
    put("sql.exec_share", sum(s.dur for s in se) / busy, "ratio", len(se))

    # ---- operators (registry queries)
    for layer in ("relational", "pipeline"):
        b, e = named.get(f"operators.{layer}.build", []), named.get(f"operators.{layer}.exec", [])
        nq = max(len(e), 1)
        both = b + e
        run, cpu = total(both, "run_s"), total(both, "cpu_s")
        put(f"operators.{layer}.build_share", sum(s.dur for s in b) / busy, "ratio", len(b))
        put(f"operators.{layer}.exec_share", sum(s.dur for s in e) / busy, "ratio", len(e))
        put(f"operators.{layer}.jobs", total(both, "jobs") / nq, "count", len(e))
        put(f"operators.{layer}.tasks", total(both, "tasks") / nq, "count", len(e))
        put(f"operators.{layer}.shuffle_bytes", total(both, "shuffle_write_bytes") / nq, "bytes", len(e))
        put(f"operators.{layer}.spill_bytes", total(both, "spill_bytes") / nq, "bytes", len(e))
        put(f"operators.{layer}.cpu_share", cpu / run if run else 0.0, "ratio", len(e))
        put(f"operators.{layer}.gc_share", total(both, "gc_s") / run if run else 0.0, "ratio", len(e))
        if layer == "pipeline":
            put("operators.pipeline.run_minus_cpu_share", (run - cpu) / run if run else 0.0,
                "ratio", len(e))
    return out


def seconds_per_call(w, tr, status) -> dict[str, tuple[float, int]]:
    """Median seconds per call by layer, with the call count, for the spans
    file and the report."""
    _spans, named = _in_window(w, tr)
    by_id = {s.sid: s for s in tr.spans}
    kids = tr.children()
    out: dict[str, tuple[float, int]] = {}

    def med(name, xs):
        xs = list(xs)
        if xs:
            out[name] = (statistics.median(xs), len(xs))

    med("streaming.run_once_s", (s.dur for s in named.get("streaming.run_once", [])))
    med("streaming.self_s", (tr.self_time(s, kids) for s in named.get("streaming.run_once", [])))
    for name, key in (("table.write", "write"), ("table.compact", "compact"), ("table.clean", "clean")):
        ss = named.get(name, [])
        med(f"table.{key}.wall_s", (s.dur for s in ss))
        med(f"table.{key}.spark_s", (status.span_stats(s.sid)["spark_s"] for s in ss))
        med(f"table.{key}.driver_s", (max(0.0, s.dur - status.span_stats(s.sid)["spark_s"]) for s in ss))
    for kind, (_plan, exec_name) in READ_KINDS.items():
        med(f"table.read.{kind}.plan_s", (s.dur for s in _plans(kind, named, by_id)))
        med(f"table.read.{kind}.exec_s", (s.dur for s in named.get(exec_name, [])))
    probe = getattr(w, "timeline_probe", [])
    med("table.timeline.instants_s", (p["instants_s"] for p in probe))
    med("table.timeline.live_files_s", (p["live_files_s"] for p in probe))
    med("sql.dispatch_s", (s.dur for s in named.get("sql.dispatch", [])))
    med("sql.exec_s", (s.dur for s in named.get("sql.exec", [])))
    for layer in ("relational", "pipeline"):
        med(f"operators.{layer}.build_s", (s.dur for s in named.get(f"operators.{layer}.build", [])))
        med(f"operators.{layer}.exec_s", (s.dur for s in named.get(f"operators.{layer}.exec", [])))
        execs = [status.span_stats(s.sid) for s in named.get(f"operators.{layer}.exec", [])]
        for key in ("run_s", "cpu_s", "gc_s"):
            med(f"operators.{layer}.executor_{key}", (x[key] for x in execs))
        med(f"operators.{layer}.run_minus_cpu_s", (x["run_s"] - x["cpu_s"] for x in execs))
    return out


def _ratio(w, num: str, den: str) -> float:
    d = getattr(w, den, 0)
    return getattr(w, num, 0) / d if d else 0.0
