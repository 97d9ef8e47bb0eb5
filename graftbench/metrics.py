"""Metric math of the graft benchmark: percentiles under the
ten-samples-beyond rule, the join from a record's due time to the
micro-batch that committed it, span self time, and the metrics of one run
computed from the harness's raw JSON."""
import json
import math
import statistics

# ---------------------------------------------------------------- percentiles


def samples_beyond(n, q):
    """Samples ranked strictly above the nearest-rank q-quantile of n."""
    return n - max(1, math.ceil(q * n))


def supported(n, q, beyond=10):
    """A tail percentile is reported only with >= `beyond` samples above
    it; the median is reported from any non-empty sample."""
    return n > 0 and (q <= 0.5 or samples_beyond(n, q) >= beyond)


def percentile(samples, q, beyond=10):
    """Nearest-rank q-quantile of `samples`, a list of values or of
    (value, weight) pairs with whole weights (a weight counts that many
    samples). Raises ValueError when the rule above does not hold."""
    pairs = sorted((s, 1) if not isinstance(s, (tuple, list)) else tuple(s)
                   for s in samples)
    n = sum(w for _, w in pairs)
    if not supported(n, q, beyond):
        raise ValueError("p%g needs %d samples beyond it; %d samples"
                         % (q * 100, beyond, n))
    rank = max(1, math.ceil(q * n))
    seen = 0
    for v, w in pairs:
        seen += w
        if seen >= rank:
            return v
    return pairs[-1][0]


def median(values):
    return percentile(values, 0.5) if values else 0.0


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")

# ------------------------------------------------------- due-time join (live)


def due_join(ticks, batches, tps):
    """Latency samples of an open-loop run.

    ticks:   [{"due": ms, "starts": [...], "ends": [...]}] — per tick, the
             offsets [start, end) appended to each topic-partition, in
             `tps` order.
    batches: [(end_ms, {tp: end_offset})] in commit order; a batch commits
             every offset below its end offset not committed before.
    Returns ([(latency_ms, records)], uncommitted records, end of the last
    batch that committed any of them). A tick whose records straddle a
    batch boundary splits between the two batches.
    """
    ends = [[b[1].get(tp, 0) for tp in tps] for b in batches]
    samples = {}
    missing = 0
    last = None
    for t in ticks:
        for i, (s, e) in enumerate(zip(t["starts"], t["ends"])):
            lo = s
            for b, row in enumerate(ends):
                hi = min(e, row[i])
                if hi > lo:
                    lat = batches[b][0] - t["due"]
                    samples[lat] = samples.get(lat, 0) + hi - lo
                    last = max(last or batches[b][0], batches[b][0])
                    lo = hi
                if lo >= e:
                    break
            missing += e - lo
    return sorted(samples.items()), missing, last


def parse_offsets(end_offset):
    """graft-topiclog offset JSON {"topic": {"p": n}} -> {"topic:p": n}."""
    if not end_offset:
        return {}
    return {"%s:%s" % (t, p): n
            for t, ps in json.loads(end_offset).items() for p, n in ps.items()}

# ------------------------------------------------------------- span self time


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def self_times(spans):
    """{span id: its duration minus the part its children cover}. Children
    may overlap each other (parallel jobs) and are clipped to the parent."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def layer_self_ms(spans):
    out = {}
    st = self_times(spans)
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out

# --------------------------------------------------------------- one run


def _in(t, lo, hi):
    return lo <= t < hi


def spark_stats(probe, lo, hi, wall_ms, cpus, units=()):
    """Listener totals for the jobs started in [lo, hi). Planning time is
    the QueryExecution tracker phases of batch queries plus the
    queryPlanning phase of micro-batches, which never reach a
    QueryExecutionListener."""
    jobs = [j for j in probe["jobs"] if _in(j["start"], lo, hi)
            and "graftbench-flush" not in j["props"].get("spark.jobGroup.id", "")]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in probe["stages"] if s["id"] in stage_ids]
    tot = lambda k: sum(s[k] for s in stages)
    run_ms = tot("run_ms")
    return {
        "plan_ms": (sum(p["ms"] for p in probe["plans"] if _in(p["time"], lo, hi)) +
                    sum(u["durations"].get("queryPlanning", 0) for u in units
                        if "durations" in u and _in(u["start"], lo, hi))),
        "jobs": len(jobs),
        "stages": sum(1 for s in stages if s["tasks"] > 0),
        "tasks": tot("tasks"),
        "executor_run_ms": run_ms,
        "executor_cpu_ms": tot("cpu_ns") / 1e6,
        "gc_ms": tot("gc_ms"),
        "shuffle_read_bytes": tot("shuffle_read"),
        "shuffle_write_bytes": tot("shuffle_write"),
        "spill_bytes": tot("spill"),
        "input_bytes": tot("input"),
        "output_bytes": tot("output"),
        "max_task_ms": max([s["max_task_ms"] for s in stages] or [0]),
        "slot_busy_frac": run_ms / (wall_ms * cpus) if wall_ms > 0 else 0.0,
    }, jobs


def latency_samples(raw):
    """(latency_ms, records) samples, the count never committed, and the
    end of the timed wall window."""
    lo, hi = raw["window"]["start"], raw["window"]["end"]
    if raw["workload"] == "replicate_live":
        ticks = [t for t in raw["extra"]["ticks"] if _in(t["due"], lo, hi)]
        batches = [(u["end"], parse_offsets(u["end_offset"])) for u in raw["units"]]
        samples, missing, last = due_join(ticks, batches, raw["extra"]["tps"])
        # the window closes when its last record has committed
        return samples, missing, max(hi, last or hi)
    return [(u["end"] - u["due"], u["rows"]) for u in raw["units"]], 0, hi


def compute(raw):
    """End-to-end metrics, per-layer metrics and a report of one run."""
    w = raw["workload"]
    lo, hi = raw["window"]["start"], raw["window"]["end"]
    samples, missing, end = latency_samples(raw)
    wall = end - lo
    records = (sum(n for _, n in samples) + missing
               if w == "replicate_live" else raw["records"])
    timed = next(p for p in raw["phases"] if p["name"] == "timed")
    # units that started in the window or while the route caught up on it
    units = [u for u in raw["units"] if _in(u["start"], lo, timed["end"])]
    sp, jobs = spark_stats(raw["probe"], timed["start"], timed["end"],
                           timed["end"] - timed["start"], raw["cpus"], units)
    if w == "curate_batch":
        written = sp["shuffle_write_bytes"] + sp["output_bytes"] + sp["spill_bytes"]
        per_record = records
    else:
        written = raw["bytes_written"]
        per_record = raw["attempted"]
    setup_s = ((raw["session_ready_ms"] - raw["t0_ms"]) / 1000.0 +
               median(raw["setup_reps_s"]) + raw["warmup_s"])
    unit_ms = [u["end"] - u["start"] for u in units]
    e2e = {
        "setup_s": (setup_s, "s"),
        "records_per_s": (records / (wall / 1000.0), "records/s"),
        "latency_p50_ms": (percentile(samples, 0.5), "ms"),
        "latency_p90_ms": (percentile(samples, 0.9), "ms"),
        "batch_latency_p50_ms": (median(unit_ms), "ms"),
        "bytes_written_per_record": (written / per_record, "B/record"),
    }
    # per unit: wall not covered by any Spark job (the driver-side floor)
    gaps, jobs_per = [], []
    for u in units:
        ivs = [(j["start"], j["end"]) for j in jobs
               if _in(j["start"], u["start"], u["end"])]
        gaps.append((u["end"] - u["start"]) - covered(ivs, u["start"], u["end"]))
        jobs_per.append(len(ivs))
    layer = {
        "unit.count": (len(units), "count"),
        "unit.ms_p50": (median(unit_ms), "ms"),
        "unit.spark_gap_ms_p50": (median(gaps), "ms"),
        "unit.jobs_p50": (median(jobs_per), "count"),
        "jvm.session_s": ((raw["session_ready_ms"] - raw["t0_ms"]) / 1000.0, "s"),
        "jvm.heap_after_gc_peak_mb": (raw["probe"]["heap_after_gc_peak_mb"], "MB"),
        "trace.overhead_ms": (raw["trace_overhead_ms"], "ms"),
    }
    for k, v in sp.items():
        layer["spark." + k] = (v, _spark_unit(k))
    report = module_metrics(raw, units, jobs_per)
    report["error_rate"] = (raw["failed"] / max(raw["attempted"], 1), "fraction")
    report["latency.samples"] = (sum(n for _, n in samples), "count")
    report["latency.uncommitted"] = (missing, "count")
    for name in ("setup", "warmup"):
        p = next((p for p in raw["phases"] if p["name"] == name), None)
        if p:
            for k, v in spark_stats(raw["probe"], p["start"], p["end"],
                                    p["end"] - p["start"], raw["cpus"])[0].items():
                report["spark.%s.%s" % (name, k)] = (v, _spark_unit(k))
    if raw["spans"]:
        for k, v in layer_self_ms(raw["spans"]).items():
            report["self_ms." + k] = (v, "ms")
    return e2e, layer, report


def _spark_unit(k):
    if k.endswith("_ms"):
        return "ms"
    return {"slot_busy_frac": "fraction"}.get(k, "bytes" if k.endswith("bytes") else "count")


def module_metrics(raw, units, jobs_per):
    """The workload's own per-module layer metrics (traced run report)."""
    out = {}
    lay = raw["layer"]

    def p(vals, q=0.5):
        return percentile(vals, q) if vals and supported(len(vals), q) else None

    batches = [u for u in units if "durations" in u]
    if batches:
        d = lambda k: [u["durations"].get(k, 0) for u in batches]
        trig = d("triggerExecution")
        out.update({
            "streaming.batches": (len(batches), "count"),
            "streaming.trigger_ms_p50": (p(trig), "ms"),
            "streaming.query_planning_ms_p50": (p(d("queryPlanning")), "ms"),
            "streaming.get_batch_ms_p50": (p(d("getBatch")), "ms"),
            "streaming.add_batch_ms_p50": (p(d("addBatch")), "ms"),
            "streaming.wal_commit_ms_p50": (p(d("walCommit")), "ms"),
            "streaming.commit_offsets_ms_p50": (p(d("commitOffsets")), "ms"),
            "streaming.floor_ms_p50": (p([t - a for t, a in zip(trig, d("addBatch"))]), "ms"),
            "streaming.jobs_per_batch": (p(jobs_per), "count"),
            "sources.latest_offset_ms_p50": (p(d("latestOffset")), "ms"),
            "sources.input_rows_per_batch": (p([u["rows"] for u in batches]), "records"),
        })
    if "route_start_ms" in lay:
        out["streaming.route_start_ms"] = (p(lay["route_start_ms"]), "ms")
        out["streaming.route_stop_ms"] = (p(lay["route_stop_ms"]), "ms")
    if "append_ms" in lay:
        out.update({
            "sources.append_ms_p50": (p(lay["append_ms"]), "ms"),
            "sources.append_ms_p90": (p(lay["append_ms"], 0.9), "ms"),
            "sources.append_calls": (len(lay["append_ms"]), "count"),
            "sources.append_bytes": (lay["append_bytes"], "bytes"),
            "sources.log_bytes_end": (lay["log_bytes_end"], "bytes"),
            "gen.late_ms_p50": (p(lay["gen_late_ms"]), "ms"),
            "gen.late_ms_max": (max(lay["gen_late_ms"]), "ms"),
        })
    if "transform_ms" in lay:
        out["operators.transform_ms"] = (p(lay["transform_ms"]), "ms")
        out["operators.transform_read_ms"] = (p(lay["transform_read_ms"]), "ms")
        out["operators.transform_rows"] = (lay["transform_rows"], "rows")
    for st in ("exact_dedup", "near_dedup", "decontaminate", "quality", "token_budget"):
        if st + ".ms" in lay:
            out["operators.%s.ms" % st] = (lay[st + ".ms"], "ms")
            out["operators.%s.rows_out" % st] = (lay[st + ".rows_out"], "rows")
    if "shingle_band_ms" in lay:
        out["functions.shingle_band_ms"] = (p(lay["shingle_band_ms"]), "ms")
    return out
