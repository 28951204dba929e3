"""Metric arithmetic for the benchmark: turns the raw record one JVM run
writes (times, counts, intervals) into the end-to-end and per-layer
metrics. Pure functions; `test_metrics.py` covers them on tiny inputs.
"""
import math
import statistics

# round_tail_s is read at this percentile on every workload. Ten samples
# beyond p75 (see tail_percentile) would need 40 rounds; a cdc_batch run
# makes about 6, so its tail is thin, and p75 keeps at least one beyond.
TAIL_PCT = 75

# The end-to-end metrics, with units.
END_TO_END = [
    ("setup_s", "s"), ("heap_live_peak_mb", "MB"), ("changes_per_s", "1/s"),
    ("round_p50_s", "s"), ("round_tail_s", "s"), ("freshness_p50_s", "s"),
    ("freshness_p99_s", "s"), ("suite_total_s", "s"), ("query_p50_s", "s"),
    ("query_p95_s", "s"),
]

PER_LAYER = [
    ("capture.call_s", "s"), ("capture.events", "count"), ("log.append_s", "s"),
    ("sync.table_s", "s"), ("retention.wipe_s", "s"), ("replay.state_s", "s"),
    ("streaming.batches", "count"), ("streaming.empty_frac", "ratio"),
    ("streaming.addBatch_s", "s"), ("streaming.trigger_s", "s"),
    ("streaming.walCommit_s", "s"), ("streaming.queryPlanning_s", "s"),
    ("streaming.latestOffset_s", "s"), ("streaming.addBatch_growth", "ratio"),
    ("sink.csv_files", "count"), ("sync.watermark_s", "s"), ("sync.sinkColumns_s", "s"),
    ("sources.jdbcAbove_s", "s"), ("source.commit_ms", "ms"), ("source.late_ms", "ms"),
    ("queries.builder_s", "s"), ("queries.exec_s", "s"), ("queries.cdc_s", "s"),
    ("queries.analytics_s", "s"), ("queries.extension_s", "s"),
    ("memo.prewarm_s", "s"), ("memo.builds_in_window", "count"),
    ("spark.window_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.single_task_stage_frac", "ratio"),
    ("spark.driver_only_s", "s"), ("spark.job_active_s", "s"), ("spark.task_s", "s"),
    ("spark.slot_use", "ratio"), ("spark.shuffle_mb", "MB"), ("spark.spill_mb", "MB"),
    ("catalyst.plan_s", "s"), ("catalyst.write_plan_s", "s"), ("jvm.gc_s", "s"),
] + [("traced." + n, u) for n, u in END_TO_END if n != "setup_s"]

SLOTS = 4

# cdc_batch's suite_total_s is the time of a fixed script of this many
# rounds, from the run's mean round time.
BATCH_SCRIPT_ROUNDS = 5


def percentile(values, pct):
    """Nearest-rank percentile: the smallest sample with at least pct% of
    the samples at or below it."""
    if not values:
        return 0.0
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, pct):
    """How many of n samples lie strictly beyond the nearest-rank pct."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def tail_percentile(n, min_beyond=10):
    """The highest whole percentile with at least min_beyond of n samples
    beyond it, or None when n is too small for any."""
    for pct in range(99, 0, -1):
        if beyond(n, pct) >= min_beyond:
            return pct
    return None


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals, windows=None):
    """Total length covered by the union of [start, end] intervals,
    counting only the parts inside `windows` when given."""
    if windows is not None:
        clipped = []
        for s, e in intervals:
            for ws, we in windows:
                lo, hi = max(s, ws), min(e, we)
                if hi > lo:
                    clipped.append((lo, hi))
        intervals = clipped
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_only(jobs, windows):
    """Wall time of the windows minus the union of job intervals in them:
    the time no Spark job was running."""
    wall = sum(we - ws for ws, we in windows)
    return wall - union_length(jobs, windows)


def delivering_batch_ends(groups, batch_ends, slack_ms=2):
    """For each sink write group (mtime_ms, min_pk, max_pk), the end time of
    the micro-batch that wrote it: the first batch ending at or after the
    group's files were last modified (`slack_ms` absorbs the rounding of
    the two millisecond clocks)."""
    ends = sorted(batch_ends)
    out = []
    for mtime, lo, hi in groups:
        end = next((e for e in ends if e + slack_ms >= mtime), None)
        out.append((lo, hi, end if end is not None else mtime))
    return out


def freshness(scheduled_ms, groups, batch_ends):
    """Seconds from each change's scheduled commit time to the end of the
    batch that delivered it. Change i has audit_pk i + 1."""
    out = []
    for lo, hi, end in delivering_batch_ends(groups, batch_ends):
        for pk in range(lo, hi + 1):
            if 1 <= pk <= len(scheduled_ms):
                out.append((end - scheduled_ms[pk - 1]) / 1000.0)
    return out


def growth(values):
    """Median of the last tenth of a series over the median of its first
    tenth (at least one sample each)."""
    if len(values) < 2:
        return 1.0
    k = max(1, len(values) // 10)
    first = median(values[:k])
    return median(values[-k:]) / first if first > 0 else 1.0


def spark_layers(raw, per=1.0):
    """The Spark ledger of a traced run, divided by `per` (the suite's
    passes, so its numbers are per pass)."""
    windows = [tuple(w) for w in raw.get("trace_windows_ms", [])]
    jobs = [tuple(j) for j in raw.get("jobs_ms", [])]
    wall = sum(we - ws for ws, we in windows) / 1000.0
    active = union_length(jobs, windows) / 1000.0
    stages = raw.get("stages", 0)
    return {
        "spark.window_s": wall / per,
        "spark.jobs": len(jobs) / per,
        "spark.stages": stages / per,
        "spark.tasks": raw.get("tasks", 0) / per,
        "spark.single_task_stage_frac": raw.get("single_task_stages", 0) / stages if stages else 0.0,
        "spark.driver_only_s": driver_only(jobs, windows) / 1000.0 / per,
        "spark.job_active_s": active / per,
        "spark.task_s": raw.get("task_s", 0.0) / per,
        "spark.slot_use": raw.get("task_s", 0.0) / (SLOTS * active) if active else 0.0,
        "spark.shuffle_mb": raw.get("shuffle_mb", 0.0) / per,
        "spark.spill_mb": raw.get("spill_mb", 0.0) / per,
        "catalyst.plan_s": raw.get("catalyst_s", 0.0) / per,
        "catalyst.write_plan_s": raw.get("catalyst_write_s", 0.0) / per,
    }


def setup_seconds(raw):
    """Session start once, the median of the repeated input set-ups, then
    the one-off warm-up and memo prewarm."""
    return (raw["session_s"] + median(raw["setup_reps_s"]) + raw.get("warmup_s", 0.0)
            + raw.get("prewarm_s", 0.0))


def batch_metrics(raw):
    rounds = raw["rounds"]
    totals = [r["total_s"] for r in rounds]
    events = sum(r["events"] for r in rounds)
    fresh = []
    for r in rounds:
        fresh += [r["capture_s"] + r["append_s"] + r["sync_s"]] * r["events"]
    captures = [r["capture_s"] for r in rounds]
    e2e = {
        "changes_per_s": events / sum(totals) if totals else 0.0,
        "round_p50_s": median(totals),
        "round_tail_s": percentile(totals, TAIL_PCT),
        "freshness_p50_s": percentile(fresh, 50),
        "freshness_p99_s": percentile(fresh, 99),
        "suite_total_s": BATCH_SCRIPT_ROUNDS * statistics.mean(totals) if totals else 0.0,
        "query_p50_s": percentile(captures, 50),
        "query_p95_s": percentile(captures, 95),
    }
    layers = {
        "capture.call_s": median(captures),
        "capture.events": events / len(rounds) if rounds else 0.0,
        "log.append_s": median([r["append_s"] for r in rounds]),
        "sync.table_s": median([r["sync_s"] for r in rounds]),
        "retention.wipe_s": median([r["wipe_s"] for r in rounds]),
        "replay.state_s": raw.get("replay_s", 0.0),
    }
    return e2e, layers


def trickle_metrics(raw):
    changes = raw["changes"]
    scheduled = [c[0] for c in changes]
    batches = raw["batches"]
    ends = [b["end_ms"] for b in batches]
    groups = [tuple(g) for g in raw["sink_groups"] if g[2] > 0]
    fresh = freshness(scheduled, groups, ends)
    delivered = delivering_batch_ends(groups, ends)
    last_end = max((end for _, _, end in delivered), default=raw["change_window_ms"][1])
    span = (last_end - raw["change_window_ms"][0]) / 1000.0
    used_ends = {end for _, _, end in delivered}
    durations = lambda k: [b["durations_ms"].get(k, 0) / 1000.0 for b in batches]
    trigger = durations("triggerExecution")
    add = durations("addBatch")
    e2e = {
        "changes_per_s": len(fresh) / span if span > 0 else 0.0,
        "round_p50_s": median(trigger),
        "round_tail_s": percentile(trigger, TAIL_PCT),
        "freshness_p50_s": percentile(fresh, 50),
        "freshness_p99_s": percentile(fresh, 99),
        "suite_total_s": sum(trigger),
        "query_p50_s": percentile(add, 50),
        "query_p95_s": percentile(add, 95),
    }
    traced = raw.get("traced_calls", [])
    layers = {
        "streaming.batches": len(batches),
        "streaming.empty_frac": sum(1 for e in ends if e not in used_ends) / len(batches)
        if batches else 0.0,
        "streaming.addBatch_s": median(add),
        "streaming.trigger_s": median(trigger),
        "streaming.walCommit_s": median(durations("walCommit")),
        "streaming.queryPlanning_s": median(durations("queryPlanning")),
        "streaming.latestOffset_s": median(durations("latestOffset")),
        "streaming.addBatch_growth": growth(add),
        "sink.csv_files": raw.get("sink_files", 0),
        "sync.watermark_s": median([t["watermark_s"] for t in traced]),
        "sync.sinkColumns_s": median([t["sinkColumns_s"] for t in traced]),
        "sources.jdbcAbove_s": median([t["jdbcAbove_s"] for t in traced]),
        "source.commit_ms": median([c[2] - c[1] for c in changes]),
        "source.late_ms": percentile([max(0, c[1] - c[0]) for c in changes], 99),
    }
    return e2e, layers


def suite_metrics(raw):
    qs = raw["queries"]
    passes = max(1, raw.get("passes", 1))
    lat = [q["total_s"] for q in qs]
    by_query = {}
    for q in qs:
        by_query.setdefault(q["query"], []).append(q["total_s"])
    e2e = {
        "changes_per_s": len(lat) / sum(lat) if lat else 0.0,
        "round_p50_s": median(lat),
        "round_tail_s": percentile(lat, TAIL_PCT),
        "freshness_p50_s": percentile(lat, 50),
        "freshness_p99_s": percentile(lat, 99),
        "suite_total_s": sum(median(v) for v in by_query.values()),
        "query_p50_s": percentile(lat, 50),
        "query_p95_s": percentile(lat, 95),
    }
    fam = lambda f: sum(q["total_s"] for q in qs if q["family"] == f) / passes
    layers = {
        "queries.builder_s": sum(q["builder_s"] for q in qs) / passes,
        "queries.exec_s": sum(q["exec_s"] for q in qs) / passes,
        "queries.cdc_s": fam("cdc"),
        "queries.analytics_s": fam("analytics"),
        "queries.extension_s": fam("extension"),
        "memo.prewarm_s": raw.get("prewarm_s", 0.0),
        "memo.builds_in_window": raw.get("memo_builds_in_window", 0),
    }
    return e2e, layers


WORKLOADS = {"cdc_batch": batch_metrics, "cdc_trickle": trickle_metrics, "suite": suite_metrics}


def compute(raw):
    """(end-to-end metrics, per-layer metrics) of one run, both complete:
    a metric that a workload does not exercise reads 0 in the per-layer
    set."""
    e2e, layers = WORKLOADS[raw["workload"]](raw)
    e2e["setup_s"] = setup_seconds(raw)
    e2e["heap_live_peak_mb"] = raw["heap_live_peak_mb"]
    per = max(1, raw.get("passes", 1)) if raw["workload"] == "suite" else 1.0
    if raw.get("trace"):
        layers.update(spark_layers(raw, per))
    layers["jvm.gc_s"] = raw.get("gc_s", 0.0)
    for name, _ in END_TO_END:
        if name != "setup_s":
            layers["traced." + name] = e2e[name]
    return ({n: e2e[n] for n, _ in END_TO_END},
            {n: layers.get(n, 0.0) for n, _ in PER_LAYER})


def layer_table(layers):
    """The ROADMAP "Layer baseline" table (per pass of the suite sample),
    from a traced suite run's per-layer metrics."""
    wall = layers["spark.window_s"]
    share = lambda v: "%.1f%%" % (100.0 * v / wall) if wall else "-"
    rows = [
        ("wall", layers["spark.window_s"]),
        ("inside the query builder (incl. eager localCheckpoint jobs)", layers["queries.builder_s"]),
        ("driver-only (no Spark job running)", layers["spark.driver_only_s"]),
        ("Catalyst analysis + optimization + planning of the final write",
         layers["catalyst.write_plan_s"]),
        ("at least one job running", layers["spark.job_active_s"]),
    ]
    out = ["| layer (per pass) | s | share |", "|---|---|---|"]
    out += ["| %s | %.2f | %s |" % (n, v, share(v)) for n, v in rows]
    out.append("")
    out.append("jobs %.0f, stages %.0f, tasks %.0f; single-task stages %.0f%%; slot use %.2f"
               % (layers["spark.jobs"], layers["spark.stages"], layers["spark.tasks"],
                  100.0 * layers["spark.single_task_stage_frac"], layers["spark.slot_use"]))
    return "\n".join(out)
