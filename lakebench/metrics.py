"""Turns one run's raw record (written by lakebench.Main) into metrics."""

import statistics

import stats


def latencies(ops):
    """Per-op latency in ms, from the op's start to its return."""
    return [o["t1"] - o["t0"] for o in ops]


def _p50(xs):
    return statistics.median(xs) if xs else None


def failures(rec):
    ops = rec["ops"]
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in rec["checks"] if not c["ok"])
    return len(ops), min(failed, len(ops))


def op_ms(ops):
    """Median latency of each op kind, weighted by the kind's share of the
    ops: the typical op of the workload's mix, steadier than one median
    over a mix of kinds whose latencies differ. For a single-kind workload
    it is the plain median."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["t1"] - o["t0"])
    if not kinds:
        return None
    return sum(len(v) * statistics.median(v) for v in kinds.values()) / len(ops)


def end_to_end(rec):
    """The contract metrics, defined the same way for every workload."""
    return {
        "setup_s": (statistics.median(rec["setup_s"]), "s"),
        "op_ms": (op_ms([o for o in rec["ops"] if o["ok"]]), "ms"),
        "stored_bytes_per_input_byte": (rec["stored_bytes"] / rec["input_bytes"], "ratio"),
    }


def report(rec):
    """Every end-to-end metric under its workload-specific name, with the
    count of samples behind each timing. A p90 is given only when at least
    ten samples lie beyond it."""
    ops = [o for o in rec["ops"] if o["ok"]]
    attempted, failed = failures(rec)
    out = {
        "setup_s": {"value": statistics.median(rec["setup_s"]), "unit": "s", "n": len(rec["setup_s"])},
        "setup_each_s": {"value": rec["setup_s"], "unit": "s"},
        "warmup_s": {"value": rec["warmup_s"], "unit": "s"},
        "timed_s": {"value": rec["window_ms"] / 1000, "unit": "s"},
        "checks_s": {"value": rec["checks_s"], "unit": "s"},
        "failed_op_frac": {"value": failed / max(1, attempted), "unit": "ratio", "n": attempted},
        "live_heap_mb": {"value": rec["live_heap_mb"], "unit": "MB"},
        "stored_bytes_per_input_byte": {"value": rec["stored_bytes"] / rec["input_bytes"], "unit": "ratio"},
    }

    def timing(name, xs, q):
        if q == 0.5:
            v = _p50(xs)
        else:
            v = stats.percentile(xs, q) if stats.supported(len(xs), q) else None
        out[name] = {"value": v, "unit": "ms", "n": len(xs)}

    w = rec["workload"]
    lat = latencies(ops)
    if w == "ingest_drops":
        busy_s = sum(o["t1"] - o["t0"] for o in ops) / 1000.0
        out["ingest_rows_per_s"] = {"value": sum(o["rows"] for o in ops) / busy_s if busy_s else None,
                                    "unit": "rows/s", "n": len(ops)}
        timing("ingest_drop_p50_ms", lat, 0.5)
        timing("ingest_drop_p90_ms", lat, 0.9)
        lag = stats.lags(ops)
        timing("mirror_lag_p50_ms", lag, 0.5)
        timing("mirror_lag_p90_ms", lag, 0.9)
    elif w == "lake_reads":
        for kind in ("point", "range", "agg", "timetravel"):
            timing(f"{kind}_p50_ms", latencies([o for o in ops if o["kind"] == kind]), 0.5)
        timing("read_p90_ms", lat, 0.9)
    elif w == "text_curation":
        timing("curation_run_p50_ms", lat, 0.5)
    return out


def _per_op(total, n):
    return total / n if n else 0.0


def per_layer(rec, names):
    """Per-layer metrics from a traced run. `_ms` metrics named after a span
    are that span's self time per traced op; spans come only from traced ops."""
    ops = rec["ops"]
    traced = [o for o in ops if o["traced"] and o["ok"]]
    untraced = [o for o in ops if not o["traced"] and o["ok"]]
    n = len(traced)
    spans = rec["spans"]
    selfs = stats.self_times(spans)
    by_name = {}
    for s in spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
    roots = [s for s in spans if s["parent"] == 0]
    root_total = sum(s["t1"] - s["t0"] for s in roots)
    root_self = sum(selfs[s["id"]] for s in roots)

    ids = {str(o["id"]) for o in traced}
    stages = [s for s in rec["stages"] if s["op"] in ids]
    jobs = sum(1 for j in rec["jobs"] if j["op"] in ids)
    windows = [(o["t0"], o["t1"]) for o in traced]
    in_traced = [s for s in rec["stages"] if any(a <= s["submitted"] <= b for a, b in windows)]

    def stage_sum(key):
        return _per_op(sum(s[key] for s in stages), n)

    c = rec["counters"]
    m = {
        "sql.analysis_ms": _per_op(by_name.get("sql.parsing", 0.0) + by_name.get("sql.analysis", 0.0), n),
        "lake.commits": _per_op(sum(1 for s in spans if s["name"] == "lake.commit"), n),
        "spark.jobs_per_op": _per_op(jobs, n),
        "spark.tasks_per_op": stage_sum("tasks"),
        "spark.scan_bytes": stage_sum("input_bytes"),
        "spark.shuffle_bytes": stage_sum("shuffle_bytes"),
        "spark.spill_bytes": stage_sum("spill_bytes"),
        "spark.task_cpu_ms": stage_sum("cpu_ms"),
        "spark.gc_ms": stage_sum("gc_ms"),
        "jvm.live_heap_mb": rec["live_heap_mb"],
        "stream.mirror_lag_ms": _p50(stats.lags(ops)) or 0.0,
        "stream.unmirrored_ops": sum(1 for o in ops if "mirrored" not in o) if rec["workload"] == "ingest_drops" else 0,
        "trace.op_p50_ms": _p50(latencies(traced)) or 0.0,
        "trace.untraced_op_p50_ms": _p50(latencies(untraced)) or 0.0,
        "trace.span_coverage_frac": 1 - root_self / root_total if root_total else 0.0,
        "trace.uncovered_ms": _per_op(root_self, n),
        "trace.stages_untagged_frac":
            _per_op(sum(1 for s in in_traced if not s["op"]), len(in_traced)),
    }
    if m["trace.untraced_op_p50_ms"]:
        m["trace.overhead_frac"] = m["trace.op_p50_ms"] / m["trace.untraced_op_p50_ms"] - 1
    out = {}
    for name, unit in names:
        if name in m:
            v = m[name]
        elif name in c:
            v = c[name]
        elif name.endswith("_ms"):
            v = _per_op(by_name.get(name[:-3], 0.0), n)
        else:
            v = 0.0
        out[name] = {"value": float(v), "unit": unit}
    return out


def call_sites(rec):
    """Distinct Spark call sites per span name: a cross-check on the span tags."""
    out = {}
    for s in rec["stages"]:
        key = s["span"] or ("stream" if s["op"] == "stream" else "(none)")
        site = s["call_site"].split(" at ")[-1]
        if site not in out.setdefault(key, []) and len(out[key]) < 4:
            out[key].append(site)
    return out
