"""Turn one run's raw record into the benchmark's metrics.

Pure functions over the JSON the harness JVM writes (and the span file of a
traced run), so the statistics can be tested without Spark:
  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import contextlib
import hashlib
import importlib.util
import io
import json
import math
import os
import re
import statistics
from datetime import datetime

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Percentiles tried for a timing's tail, highest first.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)

END_TO_END = (
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("pass_s", "s"),
    ("latency_p50_ms", "ms"),
    ("sustained_eps", "1/s"),
)

LAYERS = ("harness", "operators", "spark", "streaming", "streaming.exec",
          "log", "source", "sink")

PER_LAYER_FIXED = (
    ("log.produce_ms_p50", "ms"), ("log.produce_ms_p99", "ms"),
    ("log.list_ms", "ms"), ("log.maxid_ms", "ms"),
    ("log.segments_end", "count"), ("log.bytes_per_entry", "bytes"),
    ("log.decode_lines_per_s", "1/s"), ("log.encode_lines_per_s", "1/s"),
    ("log.bulk_produce_rows_per_s", "1/s"),
    ("source.triggers", "count"), ("source.nonempty_ratio", "frac"),
    ("source.latest_offset_ms", "ms"), ("source.rows_per_trigger", "count"),
    ("source.scan_rows_per_s", "1/s"),
    ("sink.write_s", "s"), ("sink.commit_s", "s"),
    ("sink.files_published", "count"), ("sink.staging_orphans", "count"),
    ("sink.append_rows_per_s", "1/s"), ("sink.sharded_append_rows_per_s", "1/s"),
    ("stream.query_planning_ms", "ms"), ("stream.add_batch_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.commit_offsets_ms", "ms"),
    ("stream.trigger_ms", "ms"), ("stream.coordination_ms", "ms"),
    ("state.commit_ms", "ms"), ("state.rows_total", "count"),
    ("state.memory_bytes", "bytes"),
    ("spark.jobs", "count"), ("spark.job_s", "s"), ("spark.driver_gap_s", "s"),
    ("spark.tasks", "count"), ("spark.max_stage_tasks", "count"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("query.build_s", "s"), ("query.action_s", "s"),
    ("consumer.delivered", "count"), ("consumer.duplicates", "count"),
    ("consumer.pending_end", "count"), ("consumer.dispatch_ms", "ms"),
    ("consumer.lag_entries_p99", "count"),
    ("tail.step0_p99_ms", "ms"), ("tail.step1_p99_ms", "ms"),
    ("tail.step2_p99_ms", "ms"), ("tail.step2_delivered_eps", "1/s"),
    ("tail.sustained_decision_eps", "1/s"),
    ("latency_tail_ms", "ms"),
    ("gen.late_ms_p99", "ms"),
    ("box.loadavg_start", "load"), ("box.loadavg_end", "load"),
    ("box.nproc", "count"), ("trace.overhead_frac", "frac"),
    ("error_rate", "frac"),
)


def per_layer_metrics(config):
    """Every per-layer metric as (name, unit); the same list on every workload."""
    out = list(PER_LAYER_FIXED)
    for wl in ("replay_catchup", "batch_mix"):
        out += [(f"query.{q}_s", "s") for q in config[wl]["queries"]]
    out += [(f"self.{layer}_s", "s") for layer in LAYERS]
    return out


def valid_name(name):
    return bool(NAME_RE.match(name))


# ---------------------------------------------------------------- statistics

def percentile(xs, p):
    """Linear-interpolated percentile (p in 0..100) of a non-empty sample."""
    s = sorted(xs)
    if len(s) == 1:
        return float(s[0])
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (k - lo))


def tail_percentile(xs, min_beyond=10):
    """The highest ladder percentile with at least `min_beyond` samples above
    it, as (percentile, value). With fewer than 2 * min_beyond samples no
    tail is supported and the median is returned.
    """
    n = len(xs)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:
            return p, percentile(xs, p)
    return 50.0, percentile(xs, 50.0)


def slope(points):
    """Least-squares slope of (x, y) points; 0 for fewer than two x values."""
    if len({x for x, _ in points}) < 2:
        return 0.0
    mx = statistics.fmean(x for x, _ in points)
    my = statistics.fmean(y for _, y in points)
    num = sum((x - mx) * (y - my) for x, y in points)
    den = sum((x - mx) ** 2 for x, _ in points)
    return num / den


def sustained(steps, p99_limit_ms, growth_limit):
    """The `sustained_eps` decision. Each step is a dict with `rate`, `p99_ms`
    (None when some event was never delivered), `growth` (seconds of delay
    the consumer falls behind per second of schedule: the backlog's growth)
    and `delivered_eps`. A step holds when its p99 meets the limit and its
    growth stays under `growth_limit`. Returns the delivered rate of the
    highest-rate step that holds, or 0.0.
    """
    best = None
    for st in steps:
        ok = (st["p99_ms"] is not None and st["p99_ms"] <= p99_limit_ms
              and st["growth"] < growth_limit)
        st["holds"] = ok
        if ok and (best is None or st["rate"] > best["rate"]):
            best = st
    return best["delivered_eps"] if best else 0.0


# ---------------------------------------------------------------- spans

def load_spans(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def reparent_streaming_jobs(spans):
    """Attach each streaming job to the addBatch phase of its micro-batch."""
    phase = {(s["attrs"].get("query_id"), s["attrs"].get("batch_id")): s["id"]
             for s in spans if s["name"] == "addBatch"}
    for s in spans:
        if s["name"] == "job" and s["attrs"].get("query_id"):
            key = (s["attrs"]["query_id"], int(s["attrs"]["batch_id"] or -1))
            if key in phase:
                s["parent"] = phase[key]
    return spans


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Seconds of self time per layer: each span's duration minus the part of
    its interval covered by its children.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        own = dur - covered(kids.get(s["id"], []), s["start_ms"], s["end_ms"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(own, 0.0) / 1000.0
    return out


# ---------------------------------------------------------------- checks

def oracle_failures(check_oracle_py, data_dir, check_dir):
    """Run the repository's type-strict DuckDB comparison on the set-up pass
    results; one failure (with its reason) per query that does not match.
    """
    spec = importlib.util.spec_from_file_location("check_oracle", check_oracle_py)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    try:
        with contextlib.redirect_stdout(buf):
            mod.main(data_dir, check_dir)
    except Exception as e:  # the checker itself broke: every query is unchecked
        return [{"op": "oracle", "reason": f"check_oracle failed: {e!r}"}]
    fails = []
    for line in buf.getvalue().splitlines():
        line = line.strip()
        if line.startswith("FAIL "):
            name, _, reason = line[5:].partition(": ")
            fails.append({"op": f"{name}/oracle", "reason": reason[:500]})
    return fails


# ---------------------------------------------------------------- workloads

def _median(xs, default=0.0):
    return float(statistics.median(xs)) if xs else default


def _timed(raw):
    return [p for p in raw.get("passes", []) if p["pass"] != "setup"]


def _progress(raw, windows=None):
    """Micro-batch progress events with their start in epoch ms; when
    `windows` is given, only those that started inside one of them."""
    evs = [dict(e, start_ms=_iso_ms(e["timestamp"])) for e in raw.get("progress", [])]
    if windows is None:
        return evs
    return [e for e in evs if any(w["start_ms"] <= e["start_ms"] <= w["end_ms"] for w in windows)]


def _iso_ms(ts):
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def query_mix(raw):
    timed = _timed(raw)
    walls = [p["wall_s"] for p in timed]
    lat = [s["total_s"] * 1000.0 for s in raw["samples"] if s["pass"] != "setup"]
    p_tail, tail = tail_percentile(lat)
    if raw["workload"] == "replay_catchup":
        items = sum(e["rows"] for e in _progress(raw, timed))
    else:
        items = sum(p["input_records"] for p in timed)
    e2e = {
        "setup_s": _median(raw["setup_s"]),
        "pass_s": _median(walls),
        "latency_p50_ms": percentile(lat, 50),
        "latency_tail_ms": tail,
        "sustained_eps": items / sum(walls),
    }
    detail = {"passes": len(timed), "pass_s": walls, "latency_samples": len(lat),
              "latency_tail_percentile": p_tail, "items": items}
    return e2e, detail


def tail_live(raw, config):
    """Per step: latency percentiles, and the least-squares slope of delivery
    time against due time. A slope of 1 means the pipeline keeps pace with
    the schedule; above 1 the backlog grows, and rate / slope is the rate
    actually delivered. Latency is the middle step's; the pass is the whole
    measured schedule, from its first due time to the last delivery, and
    `sustained_eps` is its events over that time. The three-step decision
    is kept in the detail.
    """
    c = config["tail_live"]
    due = raw["due_ms"]
    got = raw["delivered_ms"]
    steps = []
    for i, rate in enumerate(raw["rates"]):
        lo, hi = raw["step_bounds"][i], raw["step_bounds"][i + 1]
        pts = [(due[g], got[g]) for g in range(lo, hi) if got[g] >= 0]
        lat = [b - a for a, b in pts]
        beta = slope(pts) if len(pts) > 1 else float("inf")
        p_tail, tail = tail_percentile(lat) if lat else (None, None)
        steps.append({
            "rate": rate, "events": hi - lo, "delivered": len(lat),
            "p50_ms": percentile(lat, 50) if lat else None,
            "tail_percentile": p_tail, "tail_ms": tail,
            "p99_ms": percentile(lat, 99) if len(lat) == hi - lo else None,
            "growth": beta - 1.0,
            "delivered_eps": rate / beta if beta > 0 else 0.0})
    decision = sustained(steps, c["p99_limit_ms"], c["backlog_growth_limit"])
    mid = steps[len(steps) // 2]
    first, end = raw["step_bounds"][0], raw["step_bounds"][-1]
    live_s = (max(got) - due[first]) / 1000.0
    e2e = {
        "setup_s": _median(raw["setup_s"]),
        "pass_s": live_s,
        "latency_p50_ms": mid["p50_ms"],
        "latency_tail_ms": mid["tail_ms"],
        "sustained_eps": (end - first) / live_s,
    }
    detail = {"steps": steps, "sustained_decision_eps": decision,
              "latency_tail_percentile": mid["tail_percentile"],
              "latency_samples": mid["delivered"], "events": len(due)}
    return e2e, detail


def bulk_load(raw):
    rounds = raw["rounds"]
    walls = [r["wall_s"] for r in rounds]
    ops = [o for r in rounds for o in r["ops"]]
    lat = [o["s"] * 1000.0 for o in ops]
    p_tail, tail = tail_percentile(lat)
    e2e = {
        "setup_s": _median(raw["setup_s"]),
        "pass_s": _median(walls),
        "latency_p50_ms": percentile(lat, 50),
        "latency_tail_ms": tail,
        "sustained_eps": sum(o["rows"] for o in ops) / sum(walls),
    }
    rates = {}
    for o in ops:
        rates.setdefault(o["op"], []).append(o["rows"] / o["s"])
    detail = {"rounds": len(rounds), "pass_s": walls, "latency_samples": len(lat),
              "latency_tail_percentile": p_tail,
              "rows_per_s": {k: _median(v) for k, v in rates.items()}}
    return e2e, detail


# ---------------------------------------------------------------- per layer

def _phase_mean(triggers, key):
    return statistics.fmean(t["duration_ms"].get(key, 0) for t in triggers) if triggers else 0.0


def layer_metrics(raw, config, spans, e2e, detail, history):
    """Every per-layer metric for a traced run; a layer the workload does not
    use reads 0. Adds the per-query breakdown to `detail`."""
    wl = raw["workload"]
    m = {name: 0.0 for name, _ in per_layer_metrics(config)}
    timed = _timed(raw)
    npass = max(len(timed) if wl in ("replay_catchup", "batch_mix")
                else len(raw.get("rounds", [])) or 1, 1)
    windows = timed if wl in ("replay_catchup", "batch_mix") else None
    trig = _progress(raw, windows)

    # source and micro-batch phases
    consumer_id = raw.get("consumer_query_id")
    src = [t for t in trig if t["query_id"] != consumer_id]
    if trig:
        full = [t for t in src if t["rows"] > 0]
        m["source.triggers"] = len(src) / npass
        m["source.nonempty_ratio"] = len(full) / len(src) if src else 0.0
        m["source.latest_offset_ms"] = _phase_mean(src, "latestOffset")
        m["source.rows_per_trigger"] = statistics.fmean(t["rows"] for t in full) if full else 0.0
        m["stream.query_planning_ms"] = _phase_mean(trig, "queryPlanning")
        m["stream.add_batch_ms"] = _phase_mean(trig, "addBatch")
        m["stream.wal_commit_ms"] = _phase_mean(trig, "walCommit")
        m["stream.commit_offsets_ms"] = _phase_mean(trig, "commitOffsets")
        m["stream.trigger_ms"] = _phase_mean(trig, "triggerExecution")
        m["stream.coordination_ms"] = m["stream.trigger_ms"] - m["stream.add_batch_ms"]
        m["state.commit_ms"] = statistics.fmean(t["state_commit_ms"] for t in trig)
        m["state.rows_total"] = max(t["state_rows"] for t in trig)
        m["state.memory_bytes"] = max(t["state_memory_bytes"] for t in trig)

    # Spark jobs and stages inside the timed part
    if spans:
        spans = every = reparent_streaming_jobs(spans)
        writes = [s for s in every if s["name"] == "sink_write"]
        if wl != "tail_live":  # only the timed passes or rounds
            timed_trace = r"/round\d+$" if wl == "bulk_load" else r"/pass\d+$"
            spans = [s for s in spans if re.search(timed_trace, s["trace"])]
        jobs = [s for s in spans if s["name"] == "job"]
        stages = [s for s in spans if s["name"] == "stage"]
        m["spark.jobs"] = len(jobs) / npass
        m["spark.job_s"] = sum(j["end_ms"] - j["start_ms"] for j in jobs) / 1000.0 / npass
        m["spark.driver_gap_s"] = driver_gaps(spans) / npass
        m["spark.tasks"] = sum(s["attrs"].get("tasks", 0) for s in stages) / npass
        m["spark.max_stage_tasks"] = max((s["attrs"].get("tasks", 0) for s in stages), default=0)
        for key, name, scale in (("run_ms", "spark.task_run_s", 1e3), ("cpu_ns", "spark.task_cpu_s", 1e9),
                                 ("gc_ms", "spark.gc_s", 1e3),
                                 ("shuffle_write_bytes", "spark.shuffle_write_bytes", 1),
                                 ("spill_bytes", "spark.spill_bytes", 1)):
            m[name] = sum(s["attrs"].get(key, 0) for s in stages) / scale / npass
        detail["per_query"] = per_query(spans)
        for layer, secs in self_times(spans).items():
            if f"self.{layer}_s" in m:
                m[f"self.{layer}_s"] = secs / npass
        if writes:
            m["sink.write_s"] = _median([(w["end_ms"] - w["start_ms"]) / 1000.0 for w in writes])
            m["sink.commit_s"] = _median([commit_tail(w, every) for w in writes])

    # operators
    samples = [s for s in raw.get("samples", []) if s["pass"] != "setup"]
    if samples:
        m["query.build_s"] = sum(s["build_s"] for s in samples) / npass
        m["query.action_s"] = sum(s["action_s"] for s in samples) / npass
        by_q = {}
        for s in samples:
            by_q.setdefault(s["query"], []).append(s["total_s"])
        for q, xs in by_q.items():
            if f"query.{q}_s" in m:
                m[f"query.{q}_s"] = _median(xs)

    if wl == "tail_live":
        gen = raw.get("generator") or {}
        if gen.get("produce_ms"):
            m["log.produce_ms_p50"] = percentile(gen["produce_ms"], 50)
            m["log.produce_ms_p99"] = percentile(gen["produce_ms"], 99)
            m["gen.late_ms_p99"] = percentile(gen["late_ms"], 99)
        lags = [d - n for _, d, n in raw["lag_samples"]]
        m["consumer.lag_entries_p99"] = percentile(lags, 99) if lags else 0.0
        m["consumer.dispatch_ms"] = _median([t["duration_ms"].get("addBatch", 0) for t in trig
                                             if t["query_id"] == consumer_id and t["rows"] > 0])
        for i, st in enumerate(detail["steps"]):
            m[f"tail.step{i}_p99_ms"] = st["p99_ms"] or 0.0
        m["tail.step2_delivered_eps"] = detail["steps"][-1]["delivered_eps"]
        m["tail.sustained_decision_eps"] = detail["sustained_decision_eps"]
    probe = raw.get("bulk_probe")
    if wl == "bulk_load" or probe:
        rates = detail["rows_per_s"] if wl == "bulk_load" else bulk_load(probe)[1]["rows_per_s"]
        m["sink.append_rows_per_s"] = rates.get("append", 0.0)
        m["sink.sharded_append_rows_per_s"] = rates.get("sharded_append", 0.0)
        m["log.bulk_produce_rows_per_s"] = rates.get("bulk_produce", 0.0)
        m["source.scan_rows_per_s"] = _median([v for k, v in rates.items() if k.startswith("scan")])
    for k, v in list(raw.get("layer", {}).items()) + list((probe or {}).get("layer", {}).items()):
        if k in m:
            m[k] = v

    m["latency_tail_ms"] = e2e["latency_tail_ms"]
    m["box.loadavg_start"] = raw.get("loadavg_start", 0.0)
    m["box.loadavg_end"] = raw.get("loadavg_end", 0.0)
    m["box.nproc"] = os.cpu_count()
    m["error_rate"] = failed_count(raw["failures"]) / max(raw["attempted"], 1)
    m["trace.overhead_frac"] = overhead(wl, e2e, history)
    return m


OPS = ("query", "sink_write", "produce_at", "scan")


def driver_gaps(spans):
    """Seconds between consecutive Spark jobs of one operation (a query, an
    append or a scan), summed: the driver-side time (analysis, planning,
    re-planning, commit) no stage shows.
    """
    by_parent = {}
    ancestors = {s["id"]: s for s in spans}
    for j in spans:
        if j["name"] != "job":
            continue
        q = j
        while q is not None and q["name"] not in OPS:
            q = ancestors.get(q["parent"])
        if q is not None:
            by_parent.setdefault(q["id"], []).append(j)
    return sum(_gaps(jobs) for jobs in by_parent.values())


def _gaps(jobs):
    """Seconds in which none of `jobs` ran, between the first start and the
    last end."""
    jobs = sorted(jobs, key=lambda s: s["start_ms"])
    gap, end = 0.0, jobs[0]["end_ms"]
    for j in jobs[1:]:
        gap += max(j["start_ms"] - end, 0.0)
        end = max(end, j["end_ms"])
    return gap / 1000.0


def per_query(spans):
    """For each query name, the median over its runs of: Spark jobs, job
    seconds, driver gap between its jobs and the widest stage's task count.
    """
    by_id = {s["id"]: s for s in spans}
    runs = {}
    for j in spans:
        if j["name"] not in ("job", "stage"):
            continue
        q = by_id.get(j["parent"])
        while q is not None and q["name"] != "query":
            q = by_id.get(q["parent"])
        if q is not None:
            runs.setdefault(q["id"], []).append(j)
    out = {}
    for qid, items in runs.items():
        jobs = [j for j in items if j["name"] == "job"]
        stages = [j for j in items if j["name"] == "stage"]
        row = {"jobs": len(jobs),
               "job_s": sum(j["end_ms"] - j["start_ms"] for j in jobs) / 1000.0,
               "driver_gap_s": _gaps(jobs) if jobs else 0.0,
               "max_stage_tasks": max((t["attrs"].get("tasks", 0) for t in stages), default=0)}
        out.setdefault(by_id[qid]["attrs"]["query"], []).append(row)
    return {q: {k: _median([r[k] for r in rows]) for k in rows[0]} for q, rows in out.items()}


def commit_tail(write, spans):
    """Seconds from a sink write's last job end to the write's return: the
    driver-side reserve-and-rename commit.
    """
    ends = [s["end_ms"] for s in spans if s["name"] == "job" and s["parent"] == write["id"]]
    return (write["end_ms"] - max(ends)) / 1000.0 if ends else 0.0


def failed_count(failures):
    """Operations failed: a failure record may stand for several (events)."""
    return int(sum(f.get("count", 1) for f in failures))


def _primary(wl):
    return "latency_p50_ms" if wl == "tail_live" else "pass_s"


def history_file(history, wl, config, seconds, cpus):
    """Untraced results are kept per workload, settings, run length and core
    count, so a traced run is only compared with runs of the same work.
    """
    key = json.dumps([config.get(wl), seconds, cpus], sort_keys=True).encode()
    return os.path.join(history, f"{wl}-{hashlib.sha256(key).hexdigest()[:12]}.jsonl")


def overhead(wl, e2e, path):
    """Traced primary metric over the median of this checkout's untraced
    runs of the same workload, minus one; 0 when there are none yet.
    """
    if not os.path.exists(path):
        return 0.0
    with open(path) as fh:
        base = [json.loads(line)[_primary(wl)] for line in fh if line.strip()]
    return e2e[_primary(wl)] / statistics.median(base) - 1.0 if base else 0.0


def record_history(wl, e2e, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as fh:
        fh.write(json.dumps({_primary(wl): e2e[_primary(wl)]}) + "\n")


# ---------------------------------------------------------------- result

def assemble(raw, config, spans, traced, history):
    """The result line and its detail. `history` is the file that keeps the
    untraced runs' primary metric, for the tracing overhead.
    """
    wl = raw["workload"]
    if wl == "tail_live":
        e2e, detail = tail_live(raw, config)
    elif wl == "bulk_load":
        e2e, detail = bulk_load(raw)
    else:
        e2e, detail = query_mix(raw)
    e2e["peak_rss_mb"] = raw["peak_rss_mb"]
    failures = raw["failures"]
    units = dict(END_TO_END)
    if traced:
        layer = layer_metrics(raw, config, spans, e2e, detail, history)
        units = dict(per_layer_metrics(config))
        values = layer
    else:
        record_history(wl, e2e, history)
        values = e2e
    out = {name: {"value": values[name], "unit": units[name]} for name in units}
    detail.update({"end_to_end": e2e, "failures": failures})
    return {
        "correct": not failures,
        "attempted": int(raw["attempted"]),
        "failed": failed_count(failures),
        "metrics": out,
        "detail": detail,
    }
