#!/usr/bin/env python3
"""Paired perfbench comparison of two revisions, each run from a fresh export.

    python3 tools/perf_pairs.py BASE CHANGE --workload pipeline_batch --seeds 1001-1010
    python3 tools/perf_pairs.py HEAD~1 WORKTREE --workload event_stream --seeds 7,8,9 --trace 1
    python3 tools/perf_pairs.py --self-test

BASE and CHANGE are commit-ishes; WORKTREE means the working tree's tracked
changes as `git stash create` records them (untracked files are left out:
`git add` them first). Each side is exported with `git archive` into a
temporary root, so neither runs from a checkout that builds and tests have
used. `perfbench/run.py` then runs once per seed on each side, the side that
goes first alternating from pair to pair. The script prints, per metric, the
median and quartiles of each side, the change of the medians, how many pairs
the change won (by BENCHMARK.json's `better`, else lower is better), and
whether the medians differ by more than the base's interquartile range. It
exits 1 if any run was not correct or printed no result, and removes the
exports.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import stats  # noqa: E402


def parse_seeds(text):
    """'1001-1003,7' -> [1001, 1002, 1003, 7]."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.strip().partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def resolve(rev, repo):
    """The commit to export for `rev`; WORKTREE is the working tree's tracked
    changes, or HEAD when it has none."""
    if rev != "WORKTREE":
        return git(repo, "rev-parse", "--verify", rev + "^{commit}")
    return git(repo, "stash", "create") or git(repo, "rev-parse", "HEAD")


def git(repo, *args):
    return subprocess.run(["git", "-C", repo, *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def export(repo, commit, dest):
    """Extract `commit`'s tree into the new directory `dest`."""
    os.makedirs(dest)
    proc = subprocess.Popen(["git", "-C", repo, "archive", "--format=tar", commit],
                            stdout=subprocess.PIPE)
    with tarfile.open(fileobj=proc.stdout, mode="r|") as tar:
        if hasattr(tarfile, "data_filter"):
            tar.extractall(dest, filter="data")
        else:
            tar.extractall(dest)
    if proc.wait() != 0:
        raise RuntimeError(f"git archive {commit} failed")


def run_bench(root, workload, seed, seconds, trace, log):
    """One perfbench run in export `root`: its result JSON (the last stdout
    line), or None when it printed none. With `log` (a path ending in
    .log), the run's output goes there and the result and trace files it
    saved are copied next to it, under the log's name."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    if log:
        with open(log, "w") as f:
            f.write(proc.stdout + proc.stderr)
        traces = os.path.join(root, ".perfbench", "traces")
        for name in os.listdir(traces) if os.path.isdir(traces) else []:
            if name.endswith(f"-{workload}-seed{seed}.json"):
                shutil.copy(os.path.join(traces, name), f"{log[:-4]}-{name}")
        build_log = os.path.join(root, "perfbench", "target", "build.log")
        if proc.returncode != 0 and os.path.exists(build_log):
            shutil.copy(build_log, f"{log[:-4]}-build.log")
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, ValueError):
        return None


def pair_order(i):
    """Which side runs first in pair i: they alternate, base first."""
    return ("base", "change") if i % 2 == 0 else ("change", "base")


def directions(benchmark_json):
    """metric -> 'lower'/'higher' from BENCHMARK.json's metric lists."""
    try:
        with open(benchmark_json) as f:
            spec = json.load(f)
    except (OSError, ValueError):
        return {}
    return {m["name"]: m.get("better", "lower")
            for key in ("end_to_end", "per_layer") for m in spec.get(key, [])}


def quartiles(xs):
    """(q1, q3) by the inclusive method; a single sample is both."""
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(pairs, better):
    """Per metric, over the pairs where both sides report it: base and
    change medians and quartiles, relative change, wins and whether the gap
    of the medians exceeds the base's IQR. `pairs` is a list of
    {'base': result, 'change': result}."""
    names = []
    for p in pairs:
        for side in ("base", "change"):
            for k in (p[side] or {}).get("metrics", {}):
                if k not in names:
                    names.append(k)
    rows = []
    for name in names:
        both = [(p["base"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                for p in pairs if p["base"] and p["change"]
                and name in p["base"].get("metrics", {}) and name in p["change"].get("metrics", {})]
        if not both:
            continue
        base = [b for b, _ in both]
        change = [c for _, c in both]
        lower = better.get(name, "lower") == "lower"
        mb, mc = stats.median(base), stats.median(change)
        q1, q3 = quartiles(base)
        rows.append({
            "metric": name, "better": "lower" if lower else "higher", "n": len(both),
            "base_median": mb, "base_q1": q1, "base_q3": q3,
            "change_median": mc, "change_q1": quartiles(change)[0],
            "change_q3": quartiles(change)[1],
            "change_pct": 100.0 * (mc - mb) / mb if mb else 0.0,
            "wins": sum(1 for b, c in both if (c < b if lower else c > b)),
            "gap_exceeds_iqr": abs(mc - mb) > (q3 - q1)})
    return rows


def incorrect(pairs):
    """(pair index, side) of every run that printed no result or was not
    correct."""
    bad = []
    for i, p in enumerate(pairs):
        for side in ("base", "change"):
            r = p[side]
            if r is None or not r.get("correct") or r.get("failed", 0):
                bad.append((i, side))
    return bad


def render(rows):
    out = [f"{'metric':34s} {'base median (q1-q3)':>28s} {'change median (q1-q3)':>28s}"
           f" {'change':>8s} {'wins':>6s}  gap>IQR"]
    for r in rows:
        out.append(
            f"{r['metric']:34s} {r['base_median']:>10.4g} ({r['base_q1']:.4g}-{r['base_q3']:.4g})"
            .ljust(63)
            + f" {r['change_median']:>10.4g} ({r['change_q1']:.4g}-{r['change_q3']:.4g})".ljust(29)
            + f" {r['change_pct']:>+7.1f}% {r['wins']:>2d}/{r['n']:<3d}"
            + f"  {'yes' if r['gap_exceeds_iqr'] else 'no'}")
    return "\n".join(out)


def compare(args, runner=run_bench):
    repo = args.repo
    commits = {"base": resolve(args.base, repo), "change": resolve(args.change, repo)}
    # short: sbt's boot socket lives ~75 bytes below an export's root, and a
    # unix socket path must fit in 108
    tmp = tempfile.mkdtemp(prefix="pp-", dir=args.tmp)
    pairs = []
    try:
        roots = {}
        for side, commit in commits.items():
            roots[side] = os.path.join(tmp, side)
            export(repo, commit, roots[side])
            print(f"{side}: {args.base if side == 'base' else args.change} = {commit[:12]}",
                  file=sys.stderr)
        for i, seed in enumerate(parse_seeds(args.seeds)):
            pair = {"seed": seed}
            for side in pair_order(i):
                log = (os.path.join(args.log_dir, f"{args.workload}-{side}-seed{seed}.log")
                       if args.log_dir else None)
                pair[side] = runner(roots[side], args.workload, seed, args.seconds,
                                    args.trace, log)
                status = ("no result" if pair[side] is None
                          else "correct" if pair[side].get("correct") else "INCORRECT")
                print(f"pair {i + 1} seed {seed} {side}: {status}", file=sys.stderr)
            pairs.append(pair)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    rows = summarize(pairs, directions(os.path.join(repo, "BENCHMARK.json")))
    print(render(rows))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"commits": commits, "workload": args.workload, "pairs": pairs,
                       "summary": rows}, f, indent=1)
    bad = incorrect(pairs)
    for i, side in bad:
        print(f"not correct: pair {i + 1} (seed {pairs[i]['seed']}) {side}", file=sys.stderr)
    return 1 if bad else 0


def self_test():
    import unittest

    def result(correct=True, **metrics):
        return {"correct": correct, "attempted": 3, "failed": 0 if correct else 1,
                "metrics": {k: {"value": v, "unit": "s"} for k, v in metrics.items()}}

    class PerfPairs(unittest.TestCase):
        def test_seeds(self):
            self.assertEqual(parse_seeds("1001-1003,7"), [1001, 1002, 1003, 7])
            self.assertEqual(parse_seeds("5"), [5])

        def test_order_alternates(self):
            self.assertEqual([pair_order(i)[0] for i in range(4)],
                             ["base", "change", "base", "change"])

        def test_summary_medians_wins_and_direction(self):
            pairs = [{"base": result(t=b, rps=b), "change": result(t=c, rps=c)}
                     for b, c in [(1.0, 0.5), (2.0, 0.6), (3.0, 3.5), (4.0, 0.7)]]
            rows = {r["metric"]: r for r in summarize(pairs, {"rps": "higher"})}
            t = rows["t"]
            self.assertEqual(t["base_median"], 2.5)
            self.assertAlmostEqual(t["change_median"], 0.65)
            self.assertEqual((t["base_q1"], t["base_q3"]), (1.75, 3.25))
            self.assertEqual((t["wins"], t["n"]), (3, 4))
            self.assertAlmostEqual(t["change_pct"], -74.0)
            self.assertTrue(t["gap_exceeds_iqr"])
            self.assertEqual(rows["rps"]["wins"], 1)

        def test_incorrect_and_missing_runs_are_named(self):
            pairs = [{"base": result(t=1.0), "change": result(False, t=1.0)},
                     {"base": None, "change": result(t=1.0)}]
            self.assertEqual(incorrect(pairs), [(0, "change"), (1, "base")])
            self.assertEqual([r["n"] for r in summarize(pairs, {})], [1])

        def test_exports_alternate_and_are_removed(self):
            with tempfile.TemporaryDirectory() as d:
                repo = os.path.join(d, "repo")
                os.makedirs(repo)
                git(repo, "init", "-q")
                for text in ("one", "two"):
                    with open(os.path.join(repo, "f.txt"), "w") as f:
                        f.write(text)
                    git(repo, "add", "f.txt")
                    git(repo, "-c", "user.name=t", "-c", "user.email=t@t", "commit", "-qm",
                        text)
                with open(os.path.join(repo, "f.txt"), "w") as f:
                    f.write("three")
                seen = []

                def fake(root, workload, seed, seconds, trace, log):
                    with open(os.path.join(root, "f.txt")) as f:
                        seen.append((seed, f.read()))
                    return result(correct=seed != 3, t=float(len(seen)))

                args = argparse.Namespace(repo=repo, base="HEAD~1", change="WORKTREE",
                                          seeds="1-3", workload="w", seconds=1, trace=0,
                                          tmp=d, log_dir=None, out=None)
                self.assertEqual(compare(args, fake), 1)  # seed 3's runs are not correct
                self.assertEqual(seen, [(1, "one"), (1, "three"), (2, "three"),
                                        (2, "one"), (3, "one"), (3, "three")])
                self.assertEqual(sorted(os.listdir(d)), ["repo"])

    suite = unittest.defaultTestLoader.loadTestsFromTestCase(PerfPairs)
    return 0 if unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful() else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload", default="pipeline_batch")
    ap.add_argument("--seeds", default="1001-1010", help="e.g. 1001-1010 or 7,8,9")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tmp", default=None,
                    help="where the exports go, a short path (default: the system temp)")
    ap.add_argument("--log-dir", default=None, help="keep each run's output here")
    ap.add_argument("--out", default=None, help="write every result and the summary as JSON")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if not (a.base and a.change):
        ap.error("BASE and CHANGE are required")
    if a.log_dir:
        os.makedirs(a.log_dir, exist_ok=True)
    a.repo = ROOT
    return compare(a)


if __name__ == "__main__":
    sys.exit(main())
