#!/usr/bin/env python3
"""Benchmark entry point: build, stage inputs, run one workload, check outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. The last line of standard output is one
JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer ones with `--trace 1`.
The exit code is 0 only when every output check passed. See README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import layers  # noqa: E402
import stage  # noqa: E402

WORKLOADS = ["evm_daily_backfill", "evm_bulk_day", "corpus_curation"]
COUNTER_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count",
                 "task_s": "s", "gap_s": "s", "shuffle_mb": "MB",
                 "gc_s": "s"}
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"
# Spark 4 on JDK 17 needs these outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log("perfbench: " + msg)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for t in trees:
        paths = [t] if os.path.isfile(t) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(t) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine with the Scala harness (sbt) when sources changed;
    returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "perfbench-classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    os.makedirs(target, exist_ok=True)
    build_log = os.path.join(target, "perfbench-build.log")
    log("perfbench: building (log in %s)" % build_log)
    with open(build_log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S,
            # resolve only from the local cache, never the network
            env=dict(os.environ, COURSIER_MODE="offline")).returncode
    with open(build_log) as f:
        lines = f.read().strip().splitlines()
    if rc != 0 or not lines:
        log("\n".join(lines[-30:]))
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def run_jvm(cp, workload, work, seconds, trace):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed, pre-touched heap keeps peak RSS independent of GC timing
    cmd = (["java", "-Xmx" + HEAP, "-Xms" + HEAP, "-XX:+AlwaysPreTouch",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false"] +
           [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", workload,
            os.path.join(work, "in"), os.path.join(work, "out"),
            str(seconds), str(trace), result])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("benchmark process timed out (log in %s/jvm.log)" % work)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        fail("benchmark process failed with code %d" % rc)
    with open(result) as f:
        return json.load(f)


def tail_percentile(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it."""
    n = len(values)
    if n <= beyond:
        return None
    k = n - beyond  # samples at or below the reported value
    return 100.0 * k / n, sorted(values)[k - 1]


def input_rows(workload, expected, units):
    """Rows the units read, as staged."""
    if workload.startswith("evm_"):
        by_day = {e["day"]: e for e in expected["days"]}
        return sum(sum(by_day[u["day"]]["counts"].values()) for u in units)
    by = {e["shard"]: e for e in expected["shards"]}
    return sum(len(by[u["shard"]]["texts"]) + len(by[u["shard"]]["edges"])
               + stage.VECTORS + stage.EXACT_DUP_VECS + stage.NEAR_DUP_VECS
               for u in units)


def files_under(path, keep=lambda p: True):
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if keep(os.path.join(d, f))]


def input_bytes(workload, units, inp):
    """Bytes of the units' input files."""
    if workload.startswith("evm_"):
        days = ["block_date=%s%s" % (u["day"], os.sep) for u in units]
        paths = files_under(os.path.join(inp, "export"),
                            lambda p: any(d in p for d in days))
    else:
        paths = [p for u in units
                 for p in files_under(os.path.join(inp, u["shard"]))]
    return sum(os.path.getsize(p) for p in paths)


def unit_span_ids(res):
    return [s["id"] for s in res["spans"] if s["layer"] == "unit"]


def task_sum(res, span_ids, key):
    return sum(t[key] for sid, t in res["tasks"].items()
               if int(sid) in span_ids)


def end_to_end(workload, expected, res, stage_s, inp):
    """Metrics over the completed units (call only when all completed)."""
    walls = [(u["end_ms"] - u["start_ms"]) / 1000 for u in res["units"]]
    return {
        "setup_s": (stage_s + (res["loop_start_ms"] -
                               res["setup"]["jvm_start_ms"]) / 1000, "s"),
        "rows_per_s": (input_rows(workload, expected, res["units"]) /
                       sum(walls), "rows/s"),
        "day_p50_s": (statistics.median(walls), "s"),
        "write_amp": (res["written_bytes"] /
                      input_bytes(workload, res["units"], inp), "ratio"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024, "MB"),
    }, walls


def per_layer(workload, expected, res, inp, out):
    """Counters of the run's first unit, and core's of the set-up."""
    first = res["units"][0]
    unit = unit_span_ids(res)[0]
    spans = res["spans"]
    inc = layers.descendants(spans, [unit])
    core = {s["id"] for s in spans if s["layer"] == "core"}
    c = layers.layer_counters(spans, res["jobs"], res["tasks"], inc | core)
    m = {"%s.%s" % (l, k): (c[l][k], COUNTER_UNITS[k])
         for l in layers.LAYERS for k in layers.COUNTERS}

    def count(layer, key):
        return layers.span_counts(spans, inc, layer, key)
    evm = workload.startswith("evm_")
    m["sources.rows_in"] = (
        input_rows(workload, expected, [first]) if evm else 0, "rows")
    m["sources.mb_in"] = (
        input_bytes(workload, [first], inp) / 1e6 if evm else 0.0, "MB")
    write_ids = {s["id"] for s in spans
                 if s["id"] in inc and s["layer"] == "write"}
    m["write.mb_out"] = (task_sum(res, write_ids, "output_bytes") / 1e6, "MB")
    m["write.files_out"] = (len(files_under(
        os.path.join(out, "warehouse"),
        lambda p: p.endswith(".parquet") and
        "%sdt=%s%s" % (os.sep, first.get("day"), os.sep) in p)), "count")
    m["verify.checks_failed"] = (count("verify", "checks_failed"), "count")
    decoded = scanned = 0
    if evm:
        e = {e["day"]: e for e in expected["days"]}[first["day"]]
        decoded = len(e["transfers"]) + len(e["calls"])
        scanned = e["counts"]["logs"] + e["counts"]["traces"]
    m["parse.rows_decoded"] = (decoded, "rows")
    m["parse.decode_yield"] = (decoded / scanned if scanned else 0.0, "ratio")
    m["parse.readback_rows"] = (count("parse", "readback_rows"), "rows")
    batches = [b for b in res["batches"]
               if first["start_ms"] <= b["start_ms"] <= first["end_ms"]]
    m["streaming.batches"] = (len(batches), "count")
    for k, field in [("batch_p50_ms", "trigger_ms"),
                     ("add_batch_ms", "add_batch_ms"),
                     ("query_planning_ms", "query_planning_ms"),
                     ("wal_commit_ms", "wal_commit_ms"),
                     ("commit_offsets_ms", "commit_offsets_ms")]:
        m["streaming." + k] = (statistics.median(
            b[field] for b in batches) if batches else 0.0, "ms")
    cells = os.path.join(out, "synopsis", "gas_price")
    m["streaming.state_rows"] = (duckdb.connect().execute(
        "SELECT count(*) FROM %s WHERE CAST(dt AS VARCHAR) = ?"
        % check.scan(cells), [first["day"]]).fetchone()[0]
        if evm else 0, "rows")
    m["core.job_floor_ms"] = (statistics.median(
        res["setup"]["job_floor_ms"]), "ms")
    return m


def report(a, expected, res, stage_s, inp, out, work, host):
    """Prints the metrics and, traced, writes trace.jsonl; returns the
    metrics of the result line."""
    e2e, day_walls = end_to_end(a.workload, expected, res, stage_s, inp)
    for k, (v, unit) in e2e.items():
        print("%-12s %14.4f %s" % (k, v, unit))
    tail = tail_percentile(day_walls)
    print("day_tail_s   %s (n=%d)" % (
        "p%.1f %.4f s" % tail if tail else "n/a: fewer than 11 samples",
        len(day_walls)))
    if not a.trace:
        return e2e
    pl = per_layer(a.workload, expected, res, inp, out)
    # the traced run's own unit latency; against day_p50_s of an
    # untraced run it gives the tracing overhead
    pl["trace.day_p50_s"] = e2e["day_p50_s"]
    with open(os.path.join(work, "trace.jsonl"), "w") as f:
        f.write(json.dumps({"host": host, "workload": a.workload,
                            "seed": a.seed}) + "\n")
        jobs = {}
        for j in res["jobs"]:
            jobs[j["span"]] = jobs.get(j["span"], 0) + 1
        for s in res["spans"]:
            f.write(json.dumps(dict(
                s, jobs=jobs.get(s["id"], 0),
                tasks=res["tasks"].get(str(s["id"]), {}))) + "\n")
        for b in res["batches"]:
            f.write(json.dumps(dict(b, layer="streaming.batch")) + "\n")
    for k, (v, unit) in pl.items():
        print("%-36s %14.4f %s" % (k, v, unit))
    return pl


def main():
    # terminated by its caller, this still stops and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found under %s/src/main/scala" % ROOT)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp = build()

    work = os.path.join(ROOT, ".bench_build", "perfbench", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inp, out = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(inp)
    os.makedirs(out)
    t = time.perf_counter()
    expected = stage.stage(inp, out, a.workload, a.seed)
    stage_s = time.perf_counter() - t

    res = run_jvm(cp, a.workload, work, a.seconds, a.trace)
    problems = check.check(a.workload, expected, res["units"], out)
    failed = sum(1 for p in problems if p)
    for u, p in zip(res["units"], problems):
        for msg in p:
            log("FAILED unit %d: %s" % (u["index"], msg))

    host = dict(res["host"], job_floor_ms=statistics.median(
        res["setup"]["job_floor_ms"]))
    print("host " + json.dumps(host, sort_keys=True))
    print("units %d attempted, %d failed, failed_ratio %.4f ratio"
          % (len(problems), failed, failed / max(1, len(problems))))
    # no metric comes from a unit that failed
    correct = failed == 0 and len(problems) > 0
    metrics = report(a, expected, res, stage_s, inp, out, work, host) \
        if correct else {}
    print(json.dumps({
        "correct": correct, "attempted": len(problems), "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
