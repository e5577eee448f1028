#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline), copies the input tables out of data/ and
caches the DuckDB oracle hashes under .bench_build/; later runs reuse them.
A run starts one JVM, runs the workload's fixed op list once, checks every
output, and prints the metrics as the last line of stdout. --seconds is
accepted for the common interface; the op list, not the clock, sets the
amount of work. With --trace 1 the JVM is traced, and trace.overhead divides
its wall time by the median untraced wall time of the same build and
workload (an untraced run is made first when there is none). See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq

import metrics
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(HERE, "..", "src", "main", "scala")
DATA = os.path.join(HERE, "data")
# known_defects is not in BENCHMARK.json: it runs the two gates that fail
# their oracle on this input, so the defect can be shown (see README.md).
WORKLOADS = ("batch_gates", "fsql_stream", "known_defects")
FEED_FILES = 4          # files per fsql_stream replay
WARM_FEED_ROWS = 2000   # rows of the one warm-up file
JVM_TIMEOUT_S = 170
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sources():
    out = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return out + [os.path.join(HERE, "build.sbt"),
                  os.path.join(HERE, "project", "build.properties")]


def build():
    """Compile engine + harness; cached by a digest of every source.
    Returns (classpath, digest)."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {ENGINE_SRC}: run from a checkout root")
    stamp = digest(sources())
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        cp = open(cp_file).read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp, stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log("building engine and harness (sbt compile)")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1], stamp


def java(cp, args, work, logname):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                                  "perfbench.Main"] + args
    with open(os.path.join(work, logname), "w") as err:
        p = subprocess.run(cmd, cwd=work, stdout=err, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(open(os.path.join(work, logname)).read()[-4000:])
        fail(f"harness JVM exited with {p.returncode}")


def inputs(cp, stamp):
    """Input tables and oracle hashes, made once per input and cached. The
    tables are copied out of data/ so that no run writes beside the sources."""
    tables = sorted(glob.glob(os.path.join(DATA, "*.parquet")))
    if not tables:
        fail(f"input tables not found in {DATA}")
    data = os.path.join(BUILD, "data-" + digest(tables))
    if not os.path.isdir(data):
        tmp = data + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for t in tables:
            shutil.copyfile(t, os.path.join(tmp, os.path.basename(t)))
        os.rename(tmp, data)
    sql_file = os.path.join(BUILD, f"oracle-sql-{stamp}.json")
    if not os.path.exists(sql_file):
        work = os.path.join(BUILD, "oracle-dump")
        os.makedirs(work, exist_ok=True)
        java(cp, ["--dump-oracles", sql_file + ".tmp"], work, "dump.log")
        os.rename(sql_file + ".tmp", sql_file)
    sql = json.load(open(sql_file))
    checker = digest([os.path.join(HERE, "oracle.py"),
                      os.path.join(HERE, "..", "tools", "compare_oracle.py")])
    key = hashlib.sha256((data + checker + json.dumps(sql, sort_keys=True))
                         .encode()).hexdigest()[:16]
    hashes_file = os.path.join(BUILD, f"oracle-hashes-{key}.json")
    if not os.path.exists(hashes_file):
        log(f"computing {len(sql)} DuckDB oracle hashes (once per input)")
        with open(hashes_file + ".tmp", "w") as f:
            json.dump(oracle.oracle_hashes(sql, data), f)
        os.rename(hashes_file + ".tmp", hashes_file)
    return data, json.load(open(hashes_file))


def stage_feed(data, seed, feed):
    """Split `events` (in ts order) into FEED_FILES equal parquet files; the
    seed permutes the rows inside each file. Returns the row count."""
    ev = pq.read_table(os.path.join(data, "events.parquet")).sort_by("ts")
    rng = np.random.default_rng(seed)
    n = ev.num_rows
    bounds = [round(i * n / FEED_FILES) for i in range(FEED_FILES + 1)]
    os.makedirs(os.path.join(feed, "replay"))
    for i in range(FEED_FILES):
        part = ev.slice(bounds[i], bounds[i + 1] - bounds[i])
        part = part.take(rng.permutation(part.num_rows))
        pq.write_table(part, os.path.join(feed, "replay", f"part-{i:04d}.parquet"))
    os.makedirs(os.path.join(feed, "warm"))
    warm = ev.slice(0, WARM_FEED_ROWS)
    pq.write_table(warm.take(rng.permutation(warm.num_rows)),
                   os.path.join(feed, "warm", "part-0000.parquet"))
    return n


def check_batch(ops, hashes):
    """name -> None when the op passed, else why it failed."""
    out = {}
    for op in ops:
        name = op["name"]
        if op["error"]:
            out[name] = op["error"]
        elif name not in hashes:
            out[name] = None if os.path.isdir(op["result"]) else "no result"
        else:
            got = oracle.result_hash(op["result"])
            out[name] = None if got == hashes[name] else (
                f"hash {got.split(':')[0]} rows != oracle {hashes[name][:60]}")
    return out


def untraced_walls(stamp, workload):
    """wall_s of the untraced runs of this build and workload."""
    return [wall_s(json.load(open(p))) for p in glob.glob(
        os.path.join(BUILD, "runs", stamp, f"{workload}-*-0", "raw.json"))]


def run_jvm(cp, stamp, args, data, seed, trace):
    work = os.path.join(BUILD, "runs", stamp, f"{args.workload}-{seed}-{trace}")
    out = os.path.join(work, "raw.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    feed = os.path.join(work, "feed")
    rows = stage_feed(data, seed, feed) if args.workload == "fsql_stream" else 0
    java(cp, ["--workload", args.workload, "--seed", str(seed), "--trace", str(trace),
              "--cores", str(cores()), "--data", data, "--feed", feed,
              "--expected", os.path.join(BUILD, f"expected-{stamp}-{os.path.basename(data)}"),
              "--work", work, "--out", out], work, "jvm.log")
    raw = json.load(open(out))
    raw["input_rows"] = rows
    raw["work"] = work
    with open(out, "w") as f:
        json.dump(raw, f)
    return raw


def cores():
    return len(os.sched_getaffinity(0))


def wall_s(raw):
    return sum(b - a for a, b in metrics.op_windows(raw)) / 1000.0


def op_latencies(raw):
    """Per-op latency (ms): gate call to result written for the batch
    workloads; file drop to last micro-batch done for the stream."""
    if raw["workload"] == "fsql_stream":
        return metrics.file_latencies(raw["replays"])
    return [o["t2"] - o["t0"] for o in raw["ops"]]


def end_to_end(raw):
    return {"setup_s": (statistics.median(raw["setup_ms"]) / 1000.0, "s"),
            "wall_s": (wall_s(raw), "s"),
            "op_geomean_ms": (statistics.geometric_mean(op_latencies(raw)), "ms"),
            "live_heap_mb": (raw["live_heap_mb"], "MB")}


def context(raw):
    """Figures printed beside the metrics: sample count, the median, the
    highest percentile the sample supports, and the stream's input rate."""
    lat = op_latencies(raw)
    p = metrics.highest_supported(len(lat))
    out = {"setup_ms": [round(t) for t in raw["setup_ms"]],
           "warm_s": round(raw["warm_ms"] / 1000.0, 2),
           "ops": len(lat), "op_p50_ms": round(metrics.percentile(lat, 50), 1),
           "tail": f"p{p}={metrics.percentile(lat, p):.1f}ms" if p else "none"}
    if raw["workload"] == "fsql_stream":
        done = [r for r in raw["replays"] if r["files"]]
        replay_ms = sum(r["files"][-1]["t1"] - r["files"][0]["t0"] for r in done)
        out["rows_per_s"] = round(raw["input_rows"] * len(done) / (replay_ms / 1000.0))
    return " ".join(f"{k}={v}" for k, v in out.items())


def outcome(raw, hashes):
    """(attempted, failures: name -> reason)."""
    if raw["workload"] == "fsql_stream":
        checked = [r for r in raw["replays"] if r["detail"] != "unchecked"]
        return len(checked), {r["kind"]: r["detail"] for r in checked if not r["ok"]}
    checked = check_batch(raw["ops"], hashes)
    return len(checked), {k: v for k, v in checked.items() if v}


def per_layer(raw, untraced_wall):
    values = {"catalog.register_ms": statistics.median(raw["register_ms"]),
              "trace.overhead": wall_s(raw) / untraced_wall}
    values.update(metrics.batch_layers(raw))
    values.update(metrics.scheduler_layer(raw, raw["cores"]))
    values.update(metrics.streaming_layer(raw))
    return {k: (v, metrics.unit(k)) for k, v in values.items()}


def write_trace(raw):
    tr = raw["trace"]
    if raw["workload"] == "fsql_stream":
        spans = metrics.stream_spans(raw["replays"], [json.loads(p) for p in tr["progress"]])
    else:
        spans = metrics.batch_spans(raw["ops"], tr)
    path = os.path.join(raw["work"], "spans.jsonl")
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    summary = {k: round(v, 3) for k, v in sorted(metrics.self_time_by_name(spans).items())}
    with open(os.path.join(raw["work"], "self_time_ms.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(f"# spans: {path} ({len(spans)} spans)")
    print("# self time ms by span: " + json.dumps(summary))


def head():
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp, stamp = build()
    data, hashes = inputs(cp, stamp)
    if args.trace:
        base = untraced_walls(stamp, args.workload) or [
            wall_s(run_jvm(cp, stamp, args, data, args.seed, 0))]
        raw = run_jvm(cp, stamp, args, data, args.seed, 1)
        write_trace(raw)
        m = per_layer(raw, statistics.median(base))
    else:
        raw = run_jvm(cp, stamp, args, data, args.seed, 0)
        m = end_to_end(raw)
    attempted, fails = outcome(raw, hashes)
    for name, why in sorted(fails.items()):
        log(f"FAILED {name}: {why}")
    print(f"# workload={args.workload} seed={args.seed} cores={raw['cores']} "
          f"head={head()} attempted={attempted} failed={len(fails)} "
          f"fail_ratio={len(fails) / attempted:.4f} "
          f"warmup_failures={raw['warmup_failures']} cleanup_failures={raw['cleanup_failures']} "
          + context(raw))
    print(json.dumps({
        "correct": not fails, "attempted": attempted, "failed": len(fails),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


if __name__ == "__main__":
    main()
