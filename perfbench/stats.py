"""Turns one run's raw samples (written by `perfbench.Main`) into the
benchmark's metrics: the end-to-end metrics of an untraced run, and the
per-layer metrics of a traced run from its spans."""
import statistics

# Layer rank of each span kind: a span's parent is the innermost span of a
# lower rank whose interval contains it (the benchmark's own spans name
# their parent; listener spans are placed by time).
RANK = {"workload": 0, "poll": 1, "dashboard": 1, "table": 2, "sql": 3,
        "driver": 4, "spark": 4, "analyze": 5}
# Spark reports event times in whole milliseconds.
SLACK_NS = 1_000_000
TAIL_BEYOND = 10

# Every per-layer metric of a traced run, with its unit. Each is measured
# on both workloads; a count may read 0 where a workload lacks the layer.
PER_LAYER = {
    # read-plan probes of `curated` after each poll, and the store at the
    # end of the run
    "table.read_plan_raw_ms": "ms", "graft.read_plan_raw_ms": "ms",
    "table.read_calls": "count", "table.commits": "count",
    "table.data_dirs": "count", "table.log_bytes": "bytes",
    "table.data_bytes": "bytes",
    # history probe: `curated` grown past 32 commits after the checks
    "probe.table.read_plan_raw_ms.le32": "ms",
    "probe.table.read_plan_raw_ms.gt32": "ms",
    "probe.graft.read_plan_raw_ms.le32": "ms",
    "probe.graft.read_plan_raw_ms.gt32": "ms",
    "probe.fs.bytes_read.le32": "bytes", "probe.fs.bytes_read.gt32": "bytes",
    # engine.Analyze
    "analyze.rows": "count", "analyze.busy_ms": "ms",
    # streaming state, from StreamingQueryProgress
    "stream.state_rows": "count", "stream.state_bytes": "bytes",
    # Catalyst, from QueryExecution.tracker; wall time outside any job
    "driver.analysis_ms": "ms", "driver.optimization_ms": "ms",
    "driver.planning_ms": "ms", "driver.non_job_ms": "ms",
    # Spark execution, from the listener bus
    "spark.jobs": "count", "spark.tasks": "count", "spark.job_ms": "ms",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    # storage I/O through the counting file: filesystem
    "fs.bytes_read": "bytes", "fs.bytes_written": "bytes",
    "fs.list_calls": "count", "fs.open_calls": "count",
    "fs.create_calls": "count", "fs.rename_calls": "count",
    "fs.delete_calls": "count",
    # self time of each span layer, per poll
    "self.poll_ms": "ms", "self.sql_ms": "ms", "self.driver_ms": "ms",
    "self.spark_ms": "ms", "self.analyze_ms": "ms",
    # the JVM's CPU time per poll, and the share of the box's CPU the host
    # stole meanwhile (wall-clock noise on a shared virtual machine)
    "jvm.cpu_ms": "ms", "host.steal_share": "ratio",
    # the traced run's own end-to-end figures, for the tracing overhead; and
    # two with no bound (see end_to_end)
    "traced.poll_p50_ms": "ms", "traced.dashboard_p50_ms": "ms",
    "traced.poll_tail_ms": "ms",
}

# Times only one workload can measure: the sink calls of Pipeline.run
# (feed_batch; StreamingPipeline compacts only on the sink itself, so the
# stream gets no wrapper) and the micro-batch phases (feed_stream). They
# are printed and kept in the trace file, not reported as metrics, which
# would read 0 on every run of the other workload.
WORKLOAD_LAYER = {
    "table.exists_ms": "ms", "table.read_plan_ms": "ms",
    "table.commit_ms": "ms", "self.table_ms": "ms",
    "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.query_planning_ms": "ms", "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms", "stream.compaction_batch_ms": "ms",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs, beyond=TAIL_BEYOND):
    """(percentile, value): the highest percentile of `xs` with at least
    `beyond` samples above it, as the sample at rank n - beyond. With no
    more than `beyond` samples no percentile has that support, and the
    tail is the slowest sample: (100, max)."""
    n = len(xs)
    if n <= beyond:
        return 100.0, max(xs)
    k = n - beyond
    return 100.0 * k / n, sorted(xs)[k - 1]


def history_growth(xs):
    """Median of the second half of the samples over that of the first.
    Halves, not quarters: a run holds 6-12 polls, and a quarter of them
    would be decided by a single compaction or log-checkpoint poll."""
    h = len(xs) // 2
    return median(xs[-h:]) / median(xs[:h])


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _encloses(p, s):
    """Whether `p` can be the parent of `s`: a lower layer, or the same
    layer (nested SQL executions) over a strictly larger interval, with
    equal intervals ordered by id so nesting never forms a cycle."""
    if p is s or not (p["start_ns"] - SLACK_NS <= s["start_ns"]
                      and s["end_ns"] <= p["end_ns"] + SLACK_NS):
        return False
    if RANK[p["layer"]] != RANK[s["layer"]]:
        return RANK[p["layer"]] < RANK[s["layer"]]
    dp = p["end_ns"] - p["start_ns"]
    ds = s["end_ns"] - s["start_ns"]
    return dp > ds or (dp == ds and p["id"] < s["id"])


def resolve_parents(spans):
    """Fills in `parent` (0 = unknown) with the innermost enclosing span:
    the highest layer, then the shortest interval, then the latest id."""
    def inner(p):
        return RANK[p["layer"]], p["start_ns"] - p["end_ns"], p["id"]

    by_rank = sorted(spans, key=lambda s: RANK[s["layer"]])
    for s in spans:
        if s["parent"]:
            continue
        best = None
        for p in by_rank:
            if RANK[p["layer"]] > RANK[s["layer"]]:
                break
            if _encloses(p, s) and (best is None or inner(p) > inner(best)):
                best = p
        s["parent"] = best["id"] if best else 0
    return spans


def self_times(spans):
    """{span id: duration minus the part covered by its children}, in ns."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"]) -
            covered(kids.get(s["id"], []), s["start_ns"], s["end_ns"])
            for s in spans}


def poll_of(spans):
    """{span id: id of the poll span it descends from (or None)}."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        p = s
        while p is not None and p["layer"] != "poll":
            p = by_id.get(p["parent"])
        out[s["id"]] = p["id"] if p else None
    return out


def end_to_end(raw, gen_s):
    polls = [p["ms"] for p in raw["polls"]]
    rows = sum(p["rows"] for p in raw["polls"] if p["rows"] > 0)
    # No poll_tail_ms here: a run holds at most ten polls, so its tail is a
    # single poll (a compaction batch on feed_stream) whose run-to-run
    # spread exceeds any usable bound. Nor the dashboard's median: on
    # feed_stream it spread past its bound between runs. Traced runs report
    # both per layer.
    # store bytes after each poll over the input bytes accepted so far; the
    # median evens out the streaming path's compaction saw-tooth
    accepted, ratios = 0, []
    for p in raw["polls"]:
        accepted += p["input_bytes"]
        ratios.append(p["store_bytes"] / accepted)
    return {
        "setup_s": (median(raw["setup_s"]) + gen_s, "s"),
        "ingest_rows_per_s": (1000.0 * rows / sum(polls), "rows/s"),
        "poll_p50_ms": (median(polls), "ms"),
        "history_growth": (history_growth(polls), "ratio"),
        "store_bytes_per_input_byte": (median(ratios), "ratio"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }, {"polls": len(polls),
        "dashboard_refreshes": len(raw["dashboard_ms"])}


def per_layer(raw):
    """Per-poll means of each layer's counters and self times, from the
    traced run's spans, plus the end-of-run store shape and the history
    probe: (metrics, workload-only times)."""
    spans = resolve_parents(raw["spans"])
    own = self_times(spans)
    owner = poll_of(spans)
    polls = [s for s in spans if s["layer"] == "poll"]
    n = max(1, len(polls))
    m = {}

    def add(k, v):
        m[k] = m.get(k, 0.0) + v

    for s in spans:
        if owner[s["id"]] is None:
            continue
        dur = (s["end_ns"] - s["start_ns"]) / 1e6
        add(f"self.{s['layer']}_ms", own[s["id"]] / 1e6)
        a = s["attrs"]
        if s["layer"] == "table":
            add(f"table.{s['name']}_ms", dur)
            if s["name"] == "read_plan":
                add("table.read_calls", 1)
        elif s["layer"] == "analyze":
            add("analyze.rows", a.get("rows", 0))
            add("analyze.busy_ms", a.get("busy_ms", 0))
        elif s["layer"] == "driver":
            add(f"driver.{s['name']}_ms", dur)
        elif s["layer"] == "spark":
            add("spark.jobs", 1)
            add("spark.job_ms", dur)
            for k in ("tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes",
                      "shuffle_read_bytes", "shuffle_write_bytes",
                      "spill_bytes"):
                name = {"run_ms": "executor_run_ms",
                        "cpu_ms": "executor_cpu_ms"}.get(k, k)
                add(f"spark.{name}", a.get(k, 0))
    jobs_by_poll = {}
    for s in spans:
        if s["layer"] == "spark" and owner[s["id"]] is not None:
            jobs_by_poll.setdefault(owner[s["id"]], []).append(
                (s["start_ns"], s["end_ns"]))
    for p in polls:
        add("driver.non_job_ms", ((p["end_ns"] - p["start_ns"]) - covered(
            jobs_by_poll.get(p["id"], []), p["start_ns"], p["end_ns"])) / 1e6)
        for k, v in p["attrs"].items():
            if k.startswith("stream."):
                add(k, v)
    m = {k: v / n for k, v in m.items()}
    compaction = [p["attrs"]["stream.trigger_ms"] for p in polls
                  if p["attrs"].get("batch_id", 0) > 0
                  and p["attrs"]["batch_id"] % 10 == 0]
    if compaction:
        m["stream.compaction_batch_ms"] = median(compaction)
    samples = raw["polls"]
    for k in ("fs.bytes_read", "fs.bytes_written", "fs.list_calls",
              "fs.open_calls", "fs.create_calls", "fs.rename_calls",
              "fs.delete_calls", "jvm.cpu_ms", "host.steal_share"):
        m[k] = statistics.mean(p.get(k, 0.0) for p in samples)
    for k in ("table.read_plan_raw_ms", "graft.read_plan_raw_ms"):
        m[k] = median([p[k] for p in samples if k in p])
    m.update(raw.get("store_shape", {}))
    m.update(probe_step(raw.get("history_probe", [])))
    m["traced.poll_p50_ms"] = median([p["ms"] for p in samples])
    m["traced.dashboard_p50_ms"] = median(raw["dashboard_ms"])
    m["traced.poll_tail_ms"] = tail_percentile([p["ms"] for p in samples])[1]
    return ({k: (m.get(k, 0.0), u) for k, u in PER_LAYER.items()},
            {k: (m[k], u) for k, u in WORKLOAD_LAYER.items() if k in m})


def probe_step(rows, threshold=32, window=8):
    """Medians of the history probe's read-plan times and bytes over the
    `window` history lengths at or below `threshold` commits and above it."""
    out = {}
    for side, keep in (("le32", lambda c: threshold - window < c <= threshold),
                       ("gt32", lambda c: threshold < c <= threshold + window)):
        sel = [r for r in rows if keep(r["commits"])]
        for k in ("table.read_plan_raw_ms", "graft.read_plan_raw_ms",
                  "fs.bytes_read"):
            out[f"probe.{k}.{side}"] = median([r[k] for r in sel])
    return out
