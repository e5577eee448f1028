"""The benchmark's arithmetic: percentiles, pooled stream latency, interval
unions, span trees and self time. Pure functions over the raw records the
JVM harness writes; tested by test_metrics.py."""
import json
import math
import statistics

MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile of n."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_supported(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least MIN_BEYOND samples
    beyond it, or None when even the median lacks them."""
    for p in sorted(candidates, reverse=True):
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def file_latencies(replays):
    """Pooled per-file latency (ms) over every file of every replay: from
    the file drop until every micro-batch it caused has finished."""
    return [f["t1"] - f["t0"] for r in replays for f in r["files"]]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the intervals, optionally clipped to
    [lo, hi]. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (overlapping children count once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def self_time_by_name(spans):
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


class SpanBuilder:
    def __init__(self):
        self.spans = []

    def add(self, parent, name, start, end, op):
        sid = len(self.spans) + 1
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "start": start, "end": end, "op": op})
        return sid


def within(t, lo, hi):
    return lo <= t < hi


def batch_spans(ops, trace):
    """op > construct (parse, bind, translate), plan (analysis, optimization,
    planning; one plan span per query execution), execute; jobs sit under
    construct or execute by start time, stages under their job."""
    sb = SpanBuilder()
    stages = {}
    for s in trace["stages"]:
        if s["start"] >= 0 and s["end"] >= 0:
            stages.setdefault(s["id"], []).append(s)
    for op in ops:
        name, t0, t1, t2 = op["name"], op["t0"], op["t1"], op["t2"]
        root = sb.add(0, "op", t0, t2, name)
        cons = sb.add(root, "construct", t0, t1, name)
        tm = op.get("timings")
        if tm:
            end = t1
            for phase in ("translate", "bind", "parse"):
                d = tm.get(f"{phase}_ms", 0.0)
                sb.add(cons, phase, end - d, end, name)
                end -= d
        for qe in trace["phases"]:
            if not qe or not within(min(p[1] for p in qe), t0, t2):
                continue
            plan = sb.add(root, "plan", min(p[1] for p in qe),
                          max(p[2] for p in qe), name)
            for pname, a, b in qe:
                sb.add(plan, pname, a, b, name)
        ex = sb.add(root, "execute", t1, t2, name)
        for j in trace["jobs"]:
            if not within(j["start"], t0, t2):
                continue
            parent = cons if j["start"] < t1 else ex
            jid = sb.add(parent, "job", j["start"], max(j["start"], j["end"]), name)
            for sid in j["stages"]:
                for s in stages.get(sid, []):
                    sb.add(jid, "stage", s["start"], s["end"], name)
    return sb.spans


# Order of the trigger phases inside one micro-batch (MicroBatchExecution).
TRIGGER_PHASES = (("latestOffset", "source"), ("walCommit", "log"),
                  ("getBatch", "source"), ("queryPlanning", "plan"),
                  ("addBatch", "add_batch"), ("commitOffsets", "log"))


def iso_ms(s):
    import datetime as dt
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000


def stream_spans(replays, progress):
    """replay > file > micro-batch > source, log, plan, add_batch."""
    sb = SpanBuilder()
    for r in replays:
        root = sb.add(0, "replay", r["start"], r["end"], r["kind"])
        files = [(f, sb.add(root, "file", f["t0"], f["t1"], r["kind"]))
                 for f in r["files"]]
        for p in progress:
            start = iso_ms(p["timestamp"])
            if not within(start, r["start"], r["end"]):
                continue
            d = p.get("durationMs", {})
            end = start + d.get("triggerExecution", 0)
            parent = next((fid for f, fid in files
                           if within(start, f["t0"], f["t1"])), root)
            mb = sb.add(parent, "micro_batch", start, end, r["kind"])
            t = start
            for key, name in TRIGGER_PHASES:
                if key in d:
                    sb.add(mb, name, t, t + d[key], r["kind"])
                    t += d[key]
    return sb.spans


def op_windows(raw):
    if "ops" in raw:
        return [(o["t0"], o["t2"]) for o in raw["ops"]]
    return [(r["start"], r["end"]) for r in raw["replays"]]


def scheduler_layer(raw, cores):
    """Jobs, stages, tasks and executor task metrics inside the op windows,
    and the share of op time during which no task ran."""
    tr = raw["trace"]
    wins = op_windows(raw)

    def inside(t):
        return any(within(t, a, b) for a, b in wins)

    jobs = [j for j in tr["jobs"] if inside(j["start"])]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in tr["stages"] if s["id"] in stage_ids and s["start"] >= 0]
    tasks = [t for t in tr["tasks"] if inside(t[0])]
    busy = [(t[0], t[1]) for t in tasks]
    op_ms = sum(b - a for a, b in wins)
    idle = sum((b - a) - union_length(busy, a, b) for a, b in wins)
    task_ms = sum(t[1] - t[0] for t in tasks)
    return {
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": len(tasks),
        "scheduler.idle_ms": idle,
        "scheduler.core_util": task_ms / (op_ms * cores) if op_ms else 0.0,
        "executor.task_ms": float(sum(t[2] for t in tasks)),
        "executor.cpu_ms": float(sum(t[3] for t in tasks)),
        "executor.gc_ms": float(sum(t[4] for t in tasks)),
        "executor.shuffle_read_bytes": sum(t[5] for t in tasks),
        "executor.shuffle_write_bytes": sum(t[6] for t in tasks),
        "executor.spill_bytes": sum(t[7] for t in tasks),
        "executor.records_read": sum(t[8] for t in tasks),
    }


STREAM_KINDS = ("tumbling", "sliding", "session", "count", "join")
FAMILIES = ("dedup", "substring", "quality", "tokens", "ann")
COUNTS = {"translate.construct_jobs", "scheduler.jobs", "scheduler.stages",
          "scheduler.tasks", "executor.records_read", "expr.codegen_fallbacks",
          "streaming.batches", "streaming.state_rows", "streaming.late_rows_dropped"}


def unit(name):
    """Unit of a per-layer metric."""
    if name in COUNTS:
        return "count"
    if name.endswith("_bytes"):
        return "bytes"
    if name in ("scheduler.core_util", "trace.overhead"):
        return "ratio"
    return {"_ms": "ms", "_mb": "MB", "_s": "s"}[name[name.rindex("_"):]]


def streaming_layer(raw):
    out = {k: 0.0 for k in (
        "streaming.batches", "streaming.plan_ms", "streaming.source_ms",
        "streaming.log_ms", "streaming.add_batch_ms", "streaming.state_rows",
        "streaming.state_mb", "streaming.state_commit_ms",
        "streaming.late_rows_dropped", "streaming.watermark_lag_s")}
    for kind in STREAM_KINDS:
        out[f"streaming.{kind}.batch_p50_ms"] = 0.0
    replays = raw.get("replays")
    if not replays:
        return out
    wins = op_windows(raw)
    progress = [p for p in (json.loads(s) for s in raw["trace"]["progress"])
                if any(within(iso_ms(p["timestamp"]), a, b) for a, b in wins)]
    lags = []
    for p in progress:
        d = p.get("durationMs", {})
        out["streaming.batches"] += 1
        out["streaming.plan_ms"] += d.get("queryPlanning", 0)
        out["streaming.source_ms"] += d.get("latestOffset", 0) + d.get("getBatch", 0)
        out["streaming.log_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        out["streaming.add_batch_ms"] += d.get("addBatch", 0)
        ops = p.get("stateOperators", [])
        out["streaming.state_rows"] = max(
            out["streaming.state_rows"], sum(o.get("numRowsTotal", 0) for o in ops))
        out["streaming.state_mb"] = max(
            out["streaming.state_mb"],
            sum(o.get("memoryUsedBytes", 0) for o in ops) / 1048576.0)
        out["streaming.state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
        out["streaming.late_rows_dropped"] += sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops)
        et = p.get("eventTime", {})
        if "max" in et and "watermark" in et:
            lags.append((iso_ms(et["max"]) - iso_ms(et["watermark"])) / 1000.0)
    out["streaming.watermark_lag_s"] = statistics.median(lags) if lags else 0.0
    for r in replays:
        lat = [f["t1"] - f["t0"] for f in r["files"]]
        if lat:
            out[f"streaming.{r['kind']}.batch_p50_ms"] = statistics.median(lat)
    return out


def batch_layers(raw):
    ops = raw.get("ops", [])
    tr = raw["trace"]
    out = {"parser.parse_ms": 0.0, "translate.bind_ms": 0.0,
           "translate.translate_ms": 0.0, "translate.construct_ms": 0.0,
           "translate.construct_jobs": 0, "catalyst.analysis_ms": 0.0,
           "catalyst.optimization_ms": 0.0, "catalyst.planning_ms": 0.0,
           "expr.codegen_fallbacks": 0}
    for f in FAMILIES:
        out[f"operators.{f}_ms"] = 0.0
    for op in ops:
        tm = op.get("timings") or {}
        out["parser.parse_ms"] += tm.get("parse_ms", 0.0)
        out["translate.bind_ms"] += tm.get("bind_ms", 0.0)
        out["translate.translate_ms"] += tm.get("translate_ms", 0.0)
        out["translate.construct_ms"] += op["t1"] - op["t0"]
        out["translate.construct_jobs"] += sum(
            1 for j in tr["jobs"] if within(j["start"], op["t0"], op["t1"]))
        for name, a, b in (p for qe in tr["phases"] for p in qe):
            if within(a, op["t0"], op["t2"]) and name in ("analysis", "optimization", "planning"):
                out[f"catalyst.{name}_ms"] += b - a
        out["expr.codegen_fallbacks"] += op.get("codegen_fallbacks", 0)
        if op["family"] in FAMILIES:
            out[f"operators.{op['family']}_ms"] += op["t2"] - op["t0"]
    return out
