#!/usr/bin/env python3
"""graft's benchmark: three workloads, oracle-checked outputs, warm and
fully materialised timing, and a traced per-layer run.

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, every metric

Workloads (BENCHMARK.json gates the last two and says why each was chosen):
  sql_batch       nine relational and windowed registry queries, closed loop
  pipeline_batch  qcg, qf8 and qcj: text kernels and a k-means loop, closed loop
  event_stream    q95's running aggregate over an open-loop file stream

The first run in a checkout builds graft and the JVM harness with sbt
(perfbench/build.sbt). Each run gets its own scratch root under
`.perfbench/`, removed when the run ends; traces and per-run provenance are
kept in `.perfbench/traces/`. The last stdout line is the result JSON:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["sql_batch", "pipeline_batch", "event_stream"]
RUN_LIMIT_S = 170
WORK = os.path.join(ROOT, ".perfbench")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "perfbench.stamp")
ORACLES = os.path.join(TARGET, "perfbench-oracles.json")

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_jars():
    """Spark's jars: SPARK_HOME's, else the directory the repository's own
    build (build.sbt `unmanagedBase`) compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BenchError("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def java_cmd(main_args, heap="2g", props=()):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cp = CLASSES + os.pathsep + os.path.join(spark_jars(), "*")
    return (["java"] + opens + [f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
                                "-Duser.timezone=UTC"]
            + list(props)
            + ["-cp", cp, "graft.perfbench.Main"] + main_args)


def build():
    """Compile graft and the harness once per source digest; returns seconds."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("no graft sources at src/main/scala/graft: nothing to benchmark")
    digest = source_digest()
    if (os.path.exists(STAMP) and os.path.exists(ORACLES)
            and open(STAMP).read().strip() == digest):
        return 0.0
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
               PERFBENCH_SPARK_JARS=spark_jars())
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(TARGET, exist_ok=True)
    tmp = os.path.join(WORK, "build-tmp")  # sbt's own temp files stay in the checkout
    os.makedirs(tmp, exist_ok=True)
    blog = os.path.join(TARGET, "build.log")
    with open(blog, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
                             "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=800).returncode
    if rc != 0:
        raise BenchError(f"sbt compile failed (exit {rc}); see {blog}")
    rc = subprocess.run(java_cmd(["oracles", ORACLES], heap="1g",
                                 props=[f"-Djava.io.tmpdir={tmp}"]), cwd=ROOT,
                        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                        timeout=120).returncode
    if rc != 0:
        raise BenchError("could not read the oracle SQL from the registry")
    with open(STAMP, "w") as f:
        f.write(digest)
    return time.time() - t0


# ---------------------------------------------------------------- one run

def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return []


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cmd, log_path, limit_s):
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(limit_s, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"the run exceeded its {limit_s:.0f} s limit")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            tail = [line for line in f.read().splitlines() if "WARN" not in line][-25:]
        raise BenchError(f"JVM exited {rc}:\n" + "\n".join(tail))


def run_one(workload, seed, seconds, trace, perturb, oracles, cores):
    run_dir = os.path.join(WORK, f"run-{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    load_start = loadavg()
    try:
        # Python side of set-up: fixtures and their DuckDB references.
        ops = oracles.get(workload, [])
        t0 = time.time()
        data = os.path.join(run_dir, "data")
        datagen.write(datagen.tables_for(workload, seed), data)
        if trace:
            datagen.write(datagen.probe_tables(seed), os.path.join(data, "probe"))
        refs = (check.references(data, {o: oracles["sql"][o] for o in ops}, cores)
                if ops else {})
        py_setup_s = time.time() - t0
        refs_path = os.path.join(run_dir, "refs.json")
        with open(refs_path, "w") as f:
            json.dump(refs, f)
        raw_path = os.path.join(run_dir, "raw.json")
        spawn_ms = time.time() * 1000.0
        cmd = java_cmd(["run", workload, str(seed), str(seconds), str(trace), run_dir,
                        refs_path, raw_path, perturb or "-", data],
                       props=[f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                              f"-XX:ActiveProcessorCount={cores}"])
        run_jvm(cmd, os.path.join(run_dir, "jvm.log"),
                RUN_LIMIT_S - (time.time() - T_START))
        with open(raw_path) as f:
            raw = json.load(f)
        raw["py_setup_s"] = py_setup_s
        raw["spawn_ms"] = spawn_ms
        if workload == "event_stream":
            raw["stream_check"] = stream_check(raw, oracles["sql"][oracles["stream"]])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    raw["provenance"] = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "nproc": cores, "loadavg_start": load_start, "loadavg_end": loadavg(),
        "spark": raw.get("spark_version"), "jdk": raw.get("jdk"), "commit": commit(),
        "source_sha256": open(STAMP).read().strip()}
    return raw


# ---------------------------------------------------------------- checks

def accepted_events(raw):
    """Events the query must have accepted: all but beyond-watermark and the
    flush sentinel (flags 2 and 3, see Stream.scala)."""
    return [e for e in raw["events"] if e[6] in (0, 1)]


def stream_check(raw, oracle_sql):
    acc = accepted_events(raw)
    expected = check.stream_expected([e[:5] for e in acc], oracle_sql)
    got = [tuple(r[:5]) for r in raw["sink"]]
    attempted, failed = check.compare_stream(expected, got)
    late = sum(1 for e in raw["events"] if e[6] == 2)
    dropped = sum(p["dropped_late_rows"] for p in raw["progress"])
    if late != dropped:
        log(f"event_stream: {late} events sent beyond the watermark, "
            f"{dropped} dropped by it")
    return {"attempted": attempted, "failed": failed + abs(late - dropped),
            "late_sent": late, "late_dropped": dropped}


# ---------------------------------------------------------------- metrics

def op_seconds(o):
    return o["build_s"] + o["action_s"]


def setup_seconds(raw):
    boot = (raw["session_ready_ms"] - raw["spawn_ms"]) / 1000.0
    return (raw["py_setup_s"] + boot + stats.median(raw["setup_reps_s"])
            + raw["prepare_s"])


def batch_end_to_end(raw):
    warm = [p for p in raw["warm"] if not p["traced"]]
    lat = [op_seconds(o) for p in warm for o in p["ops"]]
    tail, pct, n = stats.tail(lat)
    ops = [o for p in [raw["cold"]] + raw["warmup"] + raw["warm"] for o in p["ops"]]
    for o in ops:
        if not o["ok"]:
            log(f"pass {o['pass']}: {o['op']} failed: {o['err']}")
    return {
        "pass_s": stats.median([sum(op_seconds(o) for o in p["ops"]) for p in warm]),
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail,
        "cold_pass_s": sum(op_seconds(o) for o in raw["cold"]["ops"]),
    }, {"op_tail_percentile": pct, "op_samples": n,
        "attempted": len(ops), "failed": sum(1 for o in ops if not o["ok"]),
        "ops": [{k: o[k] for k in ("pass", "op", "build_s", "action_s", "ok", "err")}
                for o in ops]}


def stream_latencies_s(raw):
    """Latency of each measured file: the generator's unit of sending (one
    request of the open loop), done when the last result of its events is
    emitted. Events of one file share their creation time and mostly one
    trigger, so files, not events, are the independent samples."""
    acc = accepted_events(raw)
    lat = stats.event_latencies([(e[0], e[2], e[1], e[5]) for e in acc],
                                [(r[1], r[5]) for r in raw["sink"]])
    per_file = {}
    for e in acc:
        if e[7] == "measured" and e[0] in lat:
            per_file[e[5]] = max(per_file.get(e[5], 0), lat[e[0]])
    return [v / 1e6 for v in per_file.values()]


def drain_seconds(d):
    return (d["end_us"] - d["publish_us"]) / 1e6


def stream_end_to_end(raw):
    lat = stream_latencies_s(raw)
    tail, pct, n = stats.tail(lat)
    drains = [d for d in raw["drains"] if not d["traced"]]
    pass_s = stats.median([drain_seconds(d) for d in drains])
    sc = raw["stream_check"]
    return {
        "pass_s": pass_s,
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail,
        "cold_pass_s": raw["cold_s"],
    }, {"op_tail_percentile": pct, "op_samples": n,
        "drain_eps": drains[0]["events"] / pass_s if pass_s else 0.0,
        "attempted": sc["attempted"], "failed": sc["failed"],
        "late_sent": sc["late_sent"], "late_dropped": sc["late_dropped"]}


UNITS = {"pass_s": "s", "op_p50_s": "s", "op_tail_s": "s", "cold_pass_s": "s",
         "setup_s": "s", "peak_rss_mb": "MB"}


def end_to_end(workload, raw):
    m, extra = (stream_end_to_end if workload == "event_stream" else batch_end_to_end)(raw)
    m["setup_s"] = setup_seconds(raw)
    m["peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0
    return m, extra


# ---------------------------------------------------------------- output

def summary_lines(workload, m, extra):
    """Every end-to-end metric by name and unit (the stream's under their
    stream names too)."""
    att, fail = extra["attempted"], extra["failed"]
    tail_note = f"(p{extra['op_tail_percentile']:.1f}, n={extra['op_samples']})"
    lines = []
    if workload == "event_stream":
        lines += [
            f"event_latency_p50_ms   {m['op_p50_s'] * 1000:.1f} ms",
            f"event_latency_tail_ms  {m['op_tail_s'] * 1000:.1f} ms {tail_note}",
            f"drain_eps              {extra['drain_eps']:.0f} events/s",
            f"pass_s                 {m['pass_s']:.3f} s (one backlog drained)",
            f"cold_pass_s            {m['cold_pass_s']:.3f} s (query start to first result)",
            f"late events            {extra['late_sent']} sent beyond the watermark, "
            f"{extra['late_dropped']} dropped by it"]
    else:
        lines += [
            f"pass_s                 {m['pass_s']:.3f} s",
            f"op_p50_s               {m['op_p50_s']:.3f} s",
            f"op_tail_s              {m['op_tail_s']:.3f} s {tail_note}",
            f"cold_pass_s            {m['cold_pass_s']:.3f} s"]
    lines += [
        f"setup_s                {m['setup_s']:.3f} s",
        f"failed_frac            {fail / att if att else 0.0:.4f} ratio ({fail}/{att})",
        f"peak_rss_mb            {m['peak_rss_mb']:.0f} MB"]
    return [f"{workload:15s} {line}" for line in lines]


def result_json(metrics, units, attempted, failed):
    return json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}})


def save(name, obj):
    d = os.path.join(WORK, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, name)
    with open(path, "w") as f:
        json.dump(obj, f)
    return path


def bench(workload, seed, seconds, trace, perturb, oracles, cores):
    raw = run_one(workload, seed, seconds, trace, perturb, oracles, cores)
    m, extra = end_to_end(workload, raw)
    for line in summary_lines(workload, m, extra):
        print(line)
    prov = raw["provenance"]
    print(f"{workload:15s} provenance {json.dumps(prov)}")
    if trace:
        layer_metrics, units, tagged = layers.metrics(workload, raw)
        path = save(f"trace-{workload}-seed{seed}.json", {
            "provenance": prov, "end_to_end": m, "metrics": tagged,
            "spans": raw["trace"].get("spans", []), "jobs": raw["trace"].get("jobs", []),
            "stages": raw["trace"].get("stages", []), "plans": raw["trace"].get("plans", []),
            "progress": raw.get("traced_progress", [])})
        print(f"{workload:15s} trace written to {os.path.relpath(path, ROOT)}")
        return result_json(layer_metrics, units, extra["attempted"], extra["failed"])
    extra["setup_parts"] = {"py_setup_s": raw["py_setup_s"],
                            "boot_s": (raw["session_ready_ms"] - raw["spawn_ms"]) / 1000.0,
                            "fixture_reps_s": raw["setup_reps_s"],
                            "prepare_s": raw["prepare_s"]}
    save(f"result-{workload}-seed{seed}.json", {"provenance": prov, "end_to_end": m,
                                               "detail": extra})
    return result_json(m, UNITS, extra["attempted"], extra["failed"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--perturb", default="",
                    help="corrupt one operation's result (an op name, or 'stream') "
                         "to show the output check catches it")
    a = ap.parse_args()
    global T_START
    try:
        built = build()
        if built:
            log(f"built graft and the harness in {built:.0f} s")
        T_START = time.time()  # the build is not part of a run
        with open(ORACLES) as f:
            oracles = json.load(f)
        cores = len(os.sched_getaffinity(0))
        names = WORKLOADS if a.workload == "all" else [a.workload]
        for w in names:
            line = bench(w, a.seed, a.seconds, a.trace, a.perturb, oracles, cores)
            if a.workload == "all":
                T_START = time.time()
                print(f"{w:15s} {line}")
        if a.workload != "all":
            print(line)
    except BenchError as e:
        log(f"error: {e}")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
