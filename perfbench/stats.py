"""Turns one run record (written by perfbench.Main) into the benchmark's
metrics. Pure functions, so the rules are tested apart from Spark."""
import json
import math
import statistics


def percentile(values, q, min_beyond=0):
    """Nearest-rank q-quantile of `values`, or None when fewer than
    `min_beyond` samples lie beyond it (a tail figure resting on a handful
    of samples is noise, not a measurement)."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def p90(values):
    """p90, reported only with at least ten samples beyond it."""
    return percentile(values, 0.9, min_beyond=10)


def failed_entries(record, check):
    """Entries whose output check failed: every one of their operations
    counts as failed."""
    return {e for e in record["entries"] if not check.get(e, (False, ""))[0]}


def split_ops(record, check):
    """(ok operations, failed operations). An operation fails when it raised
    or when its entry's output did not match the oracle."""
    bad = failed_entries(record, check)
    ok, failed = [], []
    for o in record["ops"]:
        (failed if o["error"] is not None or o["entry"] in bad else ok).append(o)
    return ok, failed


def end_to_end(record, check):
    """(attempted, failed, metrics). Failed operations are kept out of
    every timing: a pass's time is the sum of its successful operations."""
    ok, failed = split_ops(record, check)
    metrics = {"setup_s": (statistics.median(record["setup_s"]), "s")}
    if ok:
        wall, cpu = {}, {}
        for o in ok:
            wall[o["pass"]] = wall.get(o["pass"], 0.0) + o["ms"] / 1000.0
            cpu[o["pass"]] = cpu.get(o["pass"], 0.0) + o["cpu_ms"] / 1000.0
        ms = [o["ms"] for o in ok]
        metrics["pass_s"] = (statistics.median(wall.values()), "s")
        metrics["cpu_s_per_pass"] = (statistics.median(cpu.values()), "s")
        metrics["op_ms_p50"] = (statistics.median(ms), "ms")
        tail = p90(ms)
        if tail is not None:
            metrics["op_ms_p90"] = (tail, "ms")
    return len(record["ops"]), len(failed), metrics


LAYER_UNITS = {
    "tables.register_s": "s", "scan.bytes": "bytes", "scan.rows": "count",
    "plan.queries": "count", "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.idle_ms": "ms",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms",
    "spill.bytes": "bytes",
    "pins.blocks": "count", "pins.bytes": "bytes", "io.write_bytes": "bytes",
    "tmp.bytes": "bytes", "gc.ms": "ms", "gc.count": "count", "jit.ms": "ms",
    "heap.after_gc_mb": "MB", "stream.queries_started": "count",
    "stream.batches": "count", "stream.input_rows": "count",
    "stream.latest_offset_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.outside_batch_ms": "ms",
    "stream.events_per_s": "1/s", "stream.batch_ms_p50": "ms",
    "stream.batch_ms_p90": "ms", "state.commit_ms": "ms",
    "state.rows_total": "count", "state.rows_updated": "count",
    "state.memory_bytes": "bytes", "state.rocksdb_flush_ms": "ms",
    "state.rocksdb_checkpoint_ms": "ms", "state.sst_bytes": "bytes",
}


def per_layer(record):
    """Each layer counter as a mean per measured pass, plus the set-up's
    registration time and the micro-batch figures of the traced run."""
    passes = record["passes"]
    out = {"tables.register_s": statistics.median(record["register_s"])}
    computed = {"tables.register_s", "stream.events_per_s",
                "stream.batch_ms_p50", "stream.batch_ms_p90"}
    for name in LAYER_UNITS.keys() - computed:
        # A counter that never fired in a pass reads 0 for that pass.
        out[name] = sum(p["layers"].get(name, 0.0) for p in passes) / len(passes)
    batches = [b for p in passes for b in p["batch_ms"]]
    rows = sum(p["layers"].get("stream.input_rows", 0.0) for p in passes)
    wall_s = sum(p["layers"].get("stream.wall_ms", 0.0) for p in passes) / 1000.0
    out["stream.events_per_s"] = rows / wall_s if wall_s > 0 else 0.0
    out["stream.batch_ms_p50"] = statistics.median(batches) if batches else 0.0
    tail = p90(batches)
    if tail is not None:
        out["stream.batch_ms_p90"] = tail
    return {k: (v, LAYER_UNITS[k]) for k, v in out.items()}


def result_line(attempted, failed, metrics, wanted):
    """The run's last stdout line: exactly the keys `correct`, `attempted`,
    `failed` and `metrics`, with every metric named in `wanted`
    ({name: unit}). A wanted metric the run could not produce is an error."""
    missing = [m for m in wanted if m not in metrics]
    if missing:
        raise ValueError(f"run produced no value for {missing}")
    out = {}
    for name, unit in wanted.items():
        value, got_unit = metrics[name]
        if got_unit != unit:
            raise ValueError(f"{name}: unit {got_unit} != {unit}")
        out[name] = {"value": value, "unit": unit}
    # One failed operation makes the run incorrect: its timings would
    # otherwise read as a gain, since failed operations are left out of them.
    return json.dumps({"correct": attempted > 0 and failed == 0,
                       "attempted": attempted, "failed": failed, "metrics": out})
