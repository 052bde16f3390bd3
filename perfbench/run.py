#!/usr/bin/env python3
"""The repo benchmark. One run of one workload:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from source (perfbench/build.py),
makes the workload's inputs from the seed, runs the engine in its own JVM
(and, for ingest_wire, the load generator in a second one), checks the
outputs, and prints two JSON lines on stdout: a detail line with every
workload-specific figure and the host evidence, then the result line
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` records spans and reports the per-layer
metrics. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import gen_tables  # noqa: E402

# ingest_wire: binary-front rate ladder, (msgs/s, share of the run's
# seconds), one message per produce request. The front acks about 10,000
# msgs/s on the 4-core host: the first step (well under half of that) gives
# the ack latency figures, 8000 sits below the knee and 16000 above it, long
# enough for a saturated rate.
WIRE_LADDER = [(4000, 4), (8000, 1), (16000, 5)]
# log_bulk: staged messages per cycle
BULK_MESSAGES = 30000
# analytics: table scale of the timed pass and of the warm set-up passes
ANALYTICS_SF = 0.01
ANALYTICS_WARM_SF = 0.001
RUN_TIMEOUT_S = 170

E2E = [("setup_s", "s"), ("op_typical_ms", "ms"), ("op_tail_ms", "ms"), ("work_per_s", "1/s"),
       ("peak_rss_mb", "MiB")]

# per-layer metrics: every traced run reports all of them; a layer the
# workload leaves idle reports 0
# analytics: (query, operator pack) pairs
QUERIES = [tuple(l.split()) for l in (BENCH / "analytics_queries.txt").read_text().splitlines()
           if l.strip() and not l.startswith("#")]
SPANS = ["client.produce", "client.poll", "serving.channel", "serving.coalesce_wait",
         "engine.produce_local", "engine.produce", "bulk.produce", "streaming.ingest",
         "sources.scan", "engine.poll", "engine.poll_scan", "operators.query",
         "operators.build", "operators.execute"]
PER_LAYER = [
    ("serving.channel_ack_ms_p50", "ms"), ("serving.channel_ack_ms_p99", "ms"),
    ("serving.front_ms_p50", "ms"), ("serving.front_ms_p99", "ms"),
    ("serving.coalesce_wait_ms_p50", "ms"), ("serving.groups_flushed", "count"),
    ("serving.msgs_per_group_mean", "count"), ("serving.flush_bytes_p50", "B"),
    ("serving.poll_ms_p99", "ms"), ("serving.poll_empty_ratio", "ratio"),
    ("engine.produce_local_ms_p50", "ms"), ("engine.produce_local_ms_p99", "ms"),
    ("engine.produce_local_calls", "count"), ("engine.files_per_flush", "count"),
    ("engine.bytes_written", "B"), ("engine.produce_s", "s"), ("engine.produce_jobs", "count"),
    ("engine.produce_shuffle_mb", "MiB"), ("engine.poll_commit_s", "s"),
    ("engine.poll_scan_s", "s"),
    ("streaming.batches", "count"), ("streaming.trigger_ms_p50", "ms"),
    ("streaming.add_batch_ms_p50", "ms"), ("streaming.wal_commit_ms_p50", "ms"),
    ("sources.plan_s", "s"), ("sources.scan_s", "s"), ("sources.files_planned", "count"),
    ("operators.plan_s", "s"), ("operators.exec_s", "s"), ("operators.jobs", "count"),
    ("operators.stages", "count"), ("operators.tasks", "count"),
    ("operators.aqe_replans", "count"), ("operators.shuffle_read_mb", "MiB"),
    ("operators.shuffle_write_mb", "MiB"), ("operators.spill_mb", "MiB"),
    ("operators.task_run_s", "s"), ("operators.task_cpu_s", "s"), ("operators.gc_s", "s"),
    ("operators.memo_build_s", "s"),
    ("functions.register_calls", "count"), ("functions.register_s", "s"),
    ("core.murmur3_ns_per_key", "ns"), ("core.partition_ordinal_ns_per_key", "ns"),
    ("core.minhash_ns_per_doc", "ns"),
] + [(f"operators.pack.{p}_s", "s") for p in sorted({p for _, p in QUERIES})] + [
    (f"selftime.{s}_s", "s") for s in SPANS] + [
    ("trace.spans", "count"), ("trace.overhead_s", "s")]

# the workload-specific figures of the detail line, by name and unit
DETAIL_UNITS = {
    "ack_p50_ms": "ms", "ack_p99_ms": "ms", "rest_ack_p50_ms": "ms", "rest_ack_p75_ms": "ms", "delivery_p99_ms": "ms",
    "max_rate_msgs_per_s": "msgs/s", "saturated_msgs_per_s": "msgs/s", "store_bytes_per_user_byte": "ratio",
    "bulk_produce_msgs_per_s": "msgs/s", "stream_ingest_msgs_per_s": "msgs/s",
    "topic_scan_msgs_per_s": "msgs/s", "bulk_poll_msgs_per_s": "msgs/s",
    "analytics_total_s": "s", "query_p50_s": "s", "query_p95_s": "s",
    "ops_failed_ratio": "ratio", "peak_rss_mb": "MiB", "setup_s": "s",
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class RunError(Exception):
    pass


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


def host_env():
    """The environment Tier-1 sets: Spark threads = nproc, driver heap =
    half the RAM clamped to [2, 8] GiB. Nothing else is tuned."""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if "SPARK_DRIVER_MEM" not in env:
        kb = 0
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kb = int(line.split()[1])
        env["SPARK_DRIVER_MEM"] = f"{min(8, max(2, kb // 2097152))}g"
    return env


def java_cmd(classes, tmp, heap, main, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-cp", build.classpath(classes), main] + [str(a) for a in args])


def cpu_ticks():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def wait(proc, deadline, what):
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise RunError(f"{what} did not finish in time")
    if proc.returncode != 0:
        raise RunError(f"{what} exited with code {proc.returncode}")


def stop_all(procs):
    for p in procs:
        if p.poll() is None:
            p.kill()
    for p in procs:
        try:
            p.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass


# ------------------------------------------------------------------ workloads


def engine_args(a, run_dir):
    return ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--out", run_dir]


def run_ingest_wire(a, classes, run_dir, tmp, env, deadline, procs):
    with open(run_dir / "engine.log", "w") as elog, open(run_dir / "load.log", "w") as llog:
        eng = subprocess.Popen(
            java_cmd(classes, tmp, env["SPARK_DRIVER_MEM"], "graft.perfbench.Main",
                     engine_args(a, run_dir)),
            cwd=ROOT, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=elog,
            text=True)
        procs.append(eng)
        ports = None
        while ports is None:
            line = eng.stdout.readline()
            if not line:
                raise RunError("engine exited before serving")
            if line.startswith("READY "):
                ports = line.split()[1:3]
            if time.monotonic() > deadline:
                raise RunError("engine did not start serving in time")
        load = subprocess.Popen(
            java_cmd(classes, tmp, "2g", "graft.perfbench.WireLoad", [
                "--bin", ports[0], "--rest", ports[1], "--seed", a.seed, "--seconds", a.seconds,
                "--trace", a.trace, "--out", run_dir,
                "--ladder", ",".join(f"{r}:{w}" for r, w in WIRE_LADDER)]),
            cwd=ROOT, env=env, stdout=llog, stderr=subprocess.STDOUT)
        procs.append(load)
        wait(load, deadline, "load generator")
        eng.stdin.write("STOP\n")
        eng.stdin.flush()
        wait(eng, deadline, "engine")
    e = json.loads((run_dir / "engine.json").read_text())
    ld = json.loads((run_dir / "load.json").read_text())
    d = dict(ld["end_to_end"])
    d["setup_s"] = e["end_to_end"]["setup_s"]
    d["store_bytes_per_user_byte"] = e["end_to_end"]["store_bytes"] / max(1, ld["user_bytes"])
    d["ops_failed_ratio"] = ld["failed"] / max(1, ld["attempted"])
    d["peak_rss_mb"] = e["peak_rss_mb"]
    layer = dict(e["per_layer"])
    layer.update(ld["per_layer"])
    m = {"setup_s": d["setup_s"],
         "op_typical_ms": d["ack_p50_ms"], "op_tail_ms": d["ack_p99_ms"],
         "work_per_s": d["saturated_msgs_per_s"],
         "peak_rss_mb": d["peak_rss_mb"]}
    host = dict(e["host"])
    host.update({k: v for k, v in ld["host"].items()})
    host["steps"] = ld["steps"]
    extra = {"failures": ld["failures"], "delivered": ld["delivered"]}
    return ld["attempted"], ld["failed"], m, d, layer, host, extra, e


def run_jvm_engine(a, classes, run_dir, tmp, env, deadline, procs, extra_args):
    with open(run_dir / "engine.log", "w") as elog:
        eng = subprocess.Popen(
            java_cmd(classes, tmp, env["SPARK_DRIVER_MEM"], "graft.perfbench.Main",
                     engine_args(a, run_dir) + extra_args),
            cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=elog, stderr=subprocess.STDOUT)
        procs.append(eng)
        wait(eng, deadline, "engine")
    return json.loads((run_dir / "engine.json").read_text())


def run_log_bulk(a, classes, run_dir, tmp, env, deadline, procs):
    e = run_jvm_engine(a, classes, run_dir, tmp, env, deadline, procs,
                       ["--messages", BULK_MESSAGES, "--root", tmp / "bulk"])
    d = dict(e["end_to_end"])
    d["peak_rss_mb"] = e["peak_rss_mb"]
    d["ops_failed_ratio"] = e["failed"] / max(1, e["attempted"])
    calls = e["phase_secs"]  # four plane calls per cycle
    cycles = [calls[i:i + 4] for i in range(0, len(calls), 4)]
    m = {"setup_s": d["setup_s"],
         "op_typical_ms": 1000 * statistics.median(sum(c) / 4 for c in cycles),
         "op_tail_ms": 1000 * statistics.median(max(c) for c in cycles),
         "work_per_s": e["msgs_per_cycle_s"],
         "peak_rss_mb": d["peak_rss_mb"]}
    return e["attempted"], e["failed"], m, d, dict(e["per_layer"]), dict(e["host"]), \
        {"cycles": e["cycles"]}, e


def geometric_mean(xs):
    """Geometric mean of the per-query times, as TPC-H's power metric
    aggregates them: every query counts, where the median query would
    switch between queries from run to run."""
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def slowest_quarter_mean(xs):
    """Mean of the slowest quarter of the samples: a tail figure that a
    dozen per-query medians support, where a single order statistic would
    swing with one query."""
    xs = sorted(xs)
    k = max(1, len(xs) // 4)
    return sum(xs[-k:]) / k


def run_analytics(a, classes, run_dir, tmp, env, deadline, procs):
    data = build.build_dir() / "data" / f"seed{a.seed}"
    main_dir, warm_dir = data / f"sf{ANALYTICS_SF}", data / f"sf{ANALYTICS_WARM_SF}"
    for d, sf in ((main_dir, ANALYTICS_SF), (warm_dir, ANALYTICS_WARM_SF)):
        if not (d / "_done").is_file():
            shutil.rmtree(d, ignore_errors=True)
            gen_tables.generate(d, int(a.seed), sf)
            (d / "_done").write_text("ok")
    names = ",".join(f"{q}:{p}" for q, p in QUERIES)
    e = run_jvm_engine(a, classes, run_dir, tmp, env, deadline, procs,
                       ["--data", main_dir, "--warm", warm_dir, "--queries", names])
    checks = json.loads((run_dir / "analytics-check.json").read_text())
    wrong = oracle_check(checks, main_dir)
    failed = e["failed"] + len(wrong)
    if wrong:
        log("analytics check failures: " + "; ".join(f"{q}: {w}" for q, w in sorted(wrong.items())))
    d = dict(e["end_to_end"])
    d["peak_rss_mb"] = e["peak_rss_mb"]
    d["ops_failed_ratio"] = failed / max(1, e["attempted"])
    m = {"setup_s": d["setup_s"],
         "op_typical_ms": 1000 * geometric_mean(e["query_secs"]),
         "op_tail_ms": 1000 * slowest_quarter_mean(e["query_secs"]),
         "work_per_s": e["queries_run"] / e["timed_s"],
         "peak_rss_mb": d["peak_rss_mb"]}
    return e["attempted"], failed, m, d, dict(e["per_layer"]), dict(e["host"]), \
        {"wrong": wrong, "passes": e["passes"]}, e


# ------------------------------------------------------------------ checks

SUM_SQL = {
    "num": 'sum(CAST("{c}" AS DOUBLE))',
    "str": 'sum(strlen("{c}"))',
    "bool": 'sum(CAST("{c}" AS INTEGER))',
    "ts": 'sum(epoch("{c}"))',
    "date": 'sum("{c}" - DATE \'1970-01-01\')',
    "bin": 'sum(octet_length("{c}"))',
    "list": 'sum(len("{c}"))',
    "map": 'sum(cardinality("{c}"))',
}


def oracle_check(checks, data_dir):
    """Each query's row count and column checksums against DuckDB running
    the query's oracle SQL over the same tables. Returns {query: reason}."""
    import duckdb
    con = duckdb.connect()
    for t in gen_tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / (t + '.parquet')}')")
    wrong = {}
    for q, c in checks.items():
        if "error" in c:
            wrong[q] = c["error"][:200]
            continue
        if not c.get("oracle"):
            wrong[q] = "no oracle SQL"
            continue
        sel = ["count(*)"]
        for col in c["cols"]:
            name = col["name"].replace('"', '""')
            sel.append(f'count("{name}")')
            if col["kind"] in SUM_SQL:
                sel.append(SUM_SQL[col["kind"]].format(c=name))
        sql = c["oracle"].strip().rstrip(";")
        try:
            row = con.execute(f"SELECT {', '.join(sel)} FROM ({sql}) AS oracle_result").fetchone()
        except Exception as ex:  # noqa: BLE001 - reported as a wrong answer
            wrong[q] = f"oracle failed: {str(ex)[:200]}"
            continue
        if row[0] != c["rows"]:
            wrong[q] = f"rows {c['rows']} != oracle {row[0]}"
            continue
        i = 1
        for col in c["cols"]:
            if row[i] != col["nonnull"]:
                wrong[q] = f"{col['name']}: non-null {col['nonnull']} != oracle {row[i]}"
                break
            i += 1
            if col["kind"] in SUM_SQL:
                got, exp = col["sum"], row[i]
                i += 1
                if not close(got, exp):
                    wrong[q] = f"{col['name']}: sum {got} != oracle {exp}"
                    break
    return wrong


def close(a, b):
    if a is None or b is None:
        return a is None and b is None
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))


# ------------------------------------------------------------------ trace report

def trace_report(run_dir, e):
    """Self time per span name (duration minus the durations of its
    children), front time per produce request (client ack minus channel
    time), and the tracing overhead (span count x measured span cost)."""
    spans = []
    for f in ("engine-spans.jsonl", "load-spans.jsonl"):
        p = run_dir / f
        if p.is_file():
            spans += [json.loads(l) for l in p.read_text().splitlines() if l]
    by_id = {f"{s['name']}:{s['req']}": s for s in spans}
    child = {}
    for s in spans:
        if s["parent"] in by_id:
            child[s["parent"]] = child.get(s["parent"], 0) + (s["end"] - s["start"])
    self_s = {}
    for s in spans:
        sid = f"{s['name']}:{s['req']}"
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + \
            max(0, s["end"] - s["start"] - child.get(sid, 0)) / 1e9
    out = {f"selftime.{n}_s": self_s.get(n, 0.0) for n in SPANS}
    channel = {s["req"]: s["end"] - s["start"] for s in spans if s["name"] == "serving.channel"}
    fronts = sorted((s["end"] - s["start"] - channel[s["req"]]) / 1e6
                    for s in spans if s["name"] == "client.produce" and s["req"] in channel)
    if fronts:
        out["serving.front_ms_p50"] = fronts[max(0, math.ceil(0.5 * len(fronts)) - 1)]
        out["serving.front_ms_p99"] = fronts[max(0, math.ceil(0.99 * len(fronts)) - 1)]
    cost = e.get("trace", {}).get("span_cost_ns", 0.0)
    out["trace.spans"] = len(spans)
    out["trace.overhead_s"] = len(spans) * cost / 1e9
    return out


# ------------------------------------------------------------------ main

RUNNERS = {"ingest_wire": run_ingest_wire, "log_bulk": run_log_bulk, "analytics": run_analytics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    a.seed, a.seconds, a.trace = str(a.seed), str(a.seconds), str(a.trace)
    try:
        classes = build.build()
    except build.BuildError as ex:
        log(f"build failed: {ex}")
        return 2
    # the first run in a checkout pays the build; the run's own budget starts after it
    deadline = time.monotonic() + RUN_TIMEOUT_S
    env = host_env()
    run_dir = build.build_dir() / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    tmp = build.build_dir() / "tmp" / run_dir.name
    for d in (run_dir, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    procs = []
    steal0, total0 = cpu_ticks()
    try:
        attempted, failed, m, detail, layer, host, extra, e = \
            RUNNERS[a.workload](a, classes, run_dir, tmp, env, deadline, procs)
    except (RunError, OSError, ValueError, KeyError) as ex:
        log(f"run failed: {ex!r}; logs in {run_dir}")
        return 1
    finally:
        stop_all(procs)
        shutil.rmtree(tmp, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests during the run
    host["cpu_steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    if a.trace == "1":
        layer.update(trace_report(run_dir, e))
        metrics = {n: {"value": float(layer.get(n, 0.0) or 0.0), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(m[n]), "unit": u} for n, u in E2E}
    bad = [n for n, v in metrics.items() if not math.isfinite(v["value"])]
    if bad:
        log(f"non-finite metrics: {bad}")
        return 1
    detail_line = {"workload": a.workload, "seed": int(a.seed), "trace": int(a.trace),
                   "figures": {k: {"value": v, "unit": DETAIL_UNITS.get(k, "")}
                               for k, v in sorted(detail.items())},
                   "host": host, **extra}
    print(json.dumps(detail_line, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
