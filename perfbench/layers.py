"""Per-layer metrics of a traced run, computed from the raw spans, jobs,
stages, planner phases and stream progress the JVM recorded, and tagged
with the map in layers.json."""
import json
import os

import stats

MAP = os.path.join(os.path.dirname(os.path.abspath(__file__)), "layers.json")


def load_map():
    with open(MAP) as f:
        return json.load(f)["metrics"]


def _spark_layers(jobs, stages, plans, window):
    """Scheduler, executor, shuffle, source and planner totals of the jobs
    and stages run inside `window` (seconds)."""
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    cpu_s = sum(s["cpu_ns"] for s in stages) / 1e9
    return {
        "sources.input_bytes": sum(s["input_bytes"] for s in stages),
        "sources.input_rows": sum(s["input_rows"] for s in stages),
        "catalyst.analysis_s": sum(x["analysis_ms"] for x in plans) / 1e3,
        "catalyst.optimization_s": sum(x["optimization_ms"] for x in plans) / 1e3,
        "catalyst.planning_s": sum(x["planning_ms"] for x in plans) / 1e3,
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": sum(s["tasks"] for s in stages),
        "scheduler.driver_gap_s": stats.driver_gap(
            window, [(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs]),
        "executor.run_core_s": run_s,
        "executor.cpu_core_s": cpu_s,
        "executor.cpu_share": cpu_s / run_s if run_s else 0.0,
        "executor.gc_core_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "shuffle.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1e3,
        "shuffle.spill_bytes": sum(s["spill_bytes"] for s in stages),
    }


def _pass_layers(raw, p):
    """Layer totals of one batch pass, from the trace records tagged p<n>."""
    tr = raw["trace"]
    prefix = f"p{p['pass']}."
    out = _spark_layers([j for j in tr["jobs"] if j["op"].startswith(prefix)],
                        [s for s in tr["stages"] if s["op"].startswith(prefix)],
                        [x for x in tr["plans"] if x["op"].startswith(prefix)],
                        (p["start_ms"] / 1e3, p["end_ms"] / 1e3))
    out.update({
        "queries.build_s": sum(o["build_s"] for o in p["ops"]),
        "queries.action_s": sum(o["action_s"] for o in p["ops"]),
        "codegen.compile_s": p["codegen_ns"] / 1e9,
        "codegen.classes": p["codegen_classes"],
    })
    return out


def _pass_seconds(p):
    return sum(o["build_s"] + o["action_s"] for o in p["ops"])


def batch(raw):
    traced = [p for p in raw["warm"] if p["traced"]]
    untraced = [p for p in raw["warm"] if not p["traced"]]
    per = [_pass_layers(raw, p) for p in traced]
    out = {k: stats.median([x[k] for x in per]) for k in per[0]}
    out["codegen.cold_compile_s"] = raw["cold"]["codegen_ns"] / 1e9
    out["codegen.cold_classes"] = raw["cold"]["codegen_classes"]
    out["trace.overhead_pass_s"] = (stats.median([_pass_seconds(p) for p in traced])
                                    - stats.median([_pass_seconds(p) for p in untraced]))
    out.update(_probes(raw))
    # streaming and state layers, from the run's short stream probe
    probe = stream(dict(raw["stream_probe"], trace=raw["trace"]))
    out.update({k: v for k, v in probe.items()
                if k.startswith(("streaming.", "state.", "trace.overhead_drain"))})
    return out


def _probes(raw):
    """Operator and kernel layers, from the traced run's direct calls."""
    probes = raw["probes"]
    out = {f"operators.{k}": v for k, v in probes["operators"].items()}
    out.update({f"functions.{k}": v for k, v in probes["functions"].items()})
    jobs = {}
    for j in raw["trace"]["jobs"]:
        if j["op"].startswith("probe.gram_ingest."):
            jobs[j["op"]] = jobs.get(j["op"], 0) + 1
    out["operators.gram_ingest_jobs"] = stats.median(list(jobs.values()))
    return out


def stream(raw):
    cfg = raw["config"]
    files = raw["files"]
    measured = [f for f in files if f[5] == "measured"]
    m0 = measured[0][1]
    m1 = raw["open_end_us"]
    prog = raw["traced_progress"]
    window = [p for p in prog if m0 <= p["start_us"] <= m1]

    def dur(p, *keys):
        return sum(p["duration_ms"].get(k, 0) for k in keys)

    # backlog at each trigger: files published by then minus files consumed
    published = sorted(f[2] for f in files if f[5] in ("warm", "measured"))
    first_open = next(i for i, f in enumerate(files) if f[5] == "warm")
    rows_before = sum(f[4] for f in files[:first_open])
    cum = 0
    backlog = []
    for p in sorted(prog, key=lambda p: p["batch"]):
        if m0 <= p["start_us"] <= m1:
            pub = sum(1 for t in published if t <= p["start_us"])
            consumed = max(0, cum - rows_before) / cfg["per_file"]
            backlog.append(pub - consumed)
        cum += p["input_rows"]
    lag_ms = [(f[2] - f[1]) / 1e3 for f in measured]
    # traced drain against the median of the untraced ones around it
    drain_s = {t: stats.median([(d["end_us"] - d["publish_us"]) / 1e6
                                for d in raw["drains"] if d["traced"] == t])
               for t in (False, True)}
    events = raw["drains"][0]["events"]
    tr = raw["trace"]
    jobs = [j for j in tr["jobs"] if m0 <= j["start_ms"] * 1e3 <= m1]
    ids = {j["job"] for j in jobs}
    out = _spark_layers(jobs, [s for s in tr["stages"] if s["job"] in ids],
                        [x for x in tr["plans"] if m0 <= x["end_ms"] * 1e3 <= m1],
                        (m0 / 1e6, m1 / 1e6))
    cold_ns, cold_classes = raw["codegen_cold"]
    open_ns, open_classes = raw["codegen_open"]
    return dict(out, **{
        "queries.build_s": raw["build_s"],
        "queries.action_s": sum(c[1] for c in raw["sink_calls"] if m0 <= c[0] <= m1) / 1e6,
        "codegen.compile_s": open_ns / 1e9,
        "codegen.classes": open_classes,
        "codegen.cold_compile_s": cold_ns / 1e9,
        "codegen.cold_classes": cold_classes,
        "trace.overhead_pass_s": drain_s[True] - drain_s[False],
        "streaming.trigger_ms": stats.median([dur(p, "triggerExecution") for p in window]),
        "streaming.add_batch_ms": stats.median([dur(p, "addBatch") for p in window]),
        "streaming.planning_ms": stats.median([dur(p, "queryPlanning") for p in window]),
        "streaming.offsets_ms": stats.median([dur(p, "latestOffset", "getBatch")
                                              for p in window]),
        "streaming.wal_ms": stats.median([dur(p, "walCommit", "commitOffsets")
                                          for p in window]),
        "streaming.batches": len(window),
        "streaming.backlog_files_max": max(backlog) if backlog else 0.0,
        "streaming.generator_lag_ms": stats.tail(lag_ms)[0],
        "state.commit_ms": stats.median([p["state_commit_ms"] for p in window]),
        "state.rows": window[-1]["state_rows"] if window else 0,
        "state.memory_bytes": max((p["state_memory_bytes"] for p in window), default=0),
        "state.dropped_late_rows": sum(p["dropped_late_rows"] for p in raw["progress"]),
        "trace.overhead_drain_eps": events / drain_s[False] - events / drain_s[True],
    })


def metrics(workload, raw):
    """(values, units, tagged) for every per-layer metric. Layers the
    workload bypasses are read from the traced run's probes."""
    spec = load_map()
    got = dict(stream(raw), **_probes(raw)) if workload == "event_stream" else batch(raw)
    values = {name: float(got[name]) for name in spec}
    units = {name: s["unit"] for name, s in spec.items()}
    tagged = {name: dict(s, value=values[name]) for name, s in spec.items()}
    return values, units, tagged
