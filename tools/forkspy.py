#!/usr/bin/env python3
"""Count the chmod/readlink/ls/stat processes a command launches.

    python3 tools/forkspy.py python3 perfbench/run.py --workload event_stream --seed 7
    python3 tools/forkspy.py --top 5 --log spy.tsv sbt -batch "testOnly graft.LocalFsSpec"
    python3 tools/forkspy.py --self-test

Without Hadoop's native library, Hadoop's local filesystem forks `chmod` to
set a file's permission, `readlink` to read a link status and `ls -ld` to
read a permission. This puts a logging wrapper for each of `chmod`,
`readlink`, `ls` and `stat` first on `PATH`, runs the command (its output
passes through), and then prints the launches per command and, per
command, the commonest path shapes: a path's last three components with
every UUID written `U` and every digit run `N`, so one checkpoint file per
batch counts as one shape. It exits with the command's status. A JVM resolves a bare
command name through the `PATH` it started with, so every JVM the command
forks is counted too.
"""
import argparse
import collections
import os
import re
import shlex
import shutil
import subprocess
import sys
import tempfile

COMMANDS = ("chmod", "readlink", "ls", "stat")

WRAPPER = """#!/bin/sh
printf '%s\\t%s\\n' {name} "$*" >> "$FORKSPY_LOG"
exec {real} "$@"
"""


def install(bin_dir, path):
    """Writes a logging wrapper into `bin_dir` for each command found on
    `path`."""
    for name in COMMANDS:
        real = shutil.which(name, path=path)
        if real is None:
            continue
        target = os.path.join(bin_dir, name)
        with open(target, "w") as f:
            f.write(WRAPPER.format(name=name, real=shlex.quote(real)))
        os.chmod(target, 0o755)


def shape(args):
    """The path shape of one launch's arguments: its last argument that looks
    like a path, `file:` dropped, UUIDs as U, digit runs as N, last three
    components."""
    paths = [a for a in args.split(" ") if "/" in a]
    if not paths:
        return "(no path)"
    p = re.sub(r"^file:", "", paths[-1])
    p = re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "U", p)
    p = re.sub(r"[0-9]+", "N", p)
    parts = [c for c in p.split("/") if c]
    return "/".join(parts[-3:]) if parts else "/"


def tally(lines):
    """{command: Counter of path shapes} from the wrappers' log lines."""
    counts = collections.defaultdict(collections.Counter)
    for line in lines:
        name, _, args = line.rstrip("\n").partition("\t")
        if name:
            counts[name][shape(args)] += 1
    return counts


def render(counts, top):
    out = []
    total = sum(sum(c.values()) for c in counts.values())
    out.append(f"forkspy: {total} launches")
    for name in sorted(counts, key=lambda n: -sum(counts[n].values())):
        c = counts[name]
        out.append(f"  {name:9s} {sum(c.values()):7d}")
        for s, n in c.most_common(top):
            out.append(f"    {n:7d}  {s}")
    return "\n".join(out)


def spy(cmd, top=10, keep_log=None, stdout=None):
    """Runs `cmd` under the wrappers; returns (exit status, counts)."""
    with tempfile.TemporaryDirectory(prefix="forkspy-") as d:
        bin_dir = os.path.join(d, "bin")
        os.makedirs(bin_dir)
        path = os.environ.get("PATH", os.defpath)
        install(bin_dir, path)
        log = keep_log or os.path.join(d, "launches.tsv")
        open(log, "w").close()
        env = dict(os.environ, PATH=bin_dir + os.pathsep + path, FORKSPY_LOG=log)
        status = subprocess.run(cmd, env=env, stdout=stdout).returncode
        with open(log) as f:
            counts = tally(f)
    print(render(counts, top), file=sys.stderr)
    return status, counts


def self_test():
    import unittest

    class ForkSpy(unittest.TestCase):
        def test_shape(self):
            self.assertEqual(shape("644 /tmp/run-3/ckpt/offsets/12"), "ckpt/offsets/N")
            self.assertEqual(shape("file:/tmp/a/state/0/7/.12.zip.crc"), "N/N/.N.zip.crc")
            self.assertEqual(shape("0644 /c/state/1/.7-0a1b2c3d-0e4f-4a5b-8c6d-0123456789ab.sst"),
                             "state/N/.N-U.sst")
            self.assertEqual(shape("-ld"), "(no path)")

        def test_counts_launches_of_a_child_and_its_children(self):
            with tempfile.TemporaryDirectory() as d:
                os.makedirs(os.path.join(d, "ckpt", "offsets"))
                f = os.path.join(d, "ckpt", "offsets", "7")
                open(f, "w").close()
                script = (f"chmod 600 {f}; chmod 644 {f}; readlink {f}; ls -ld {f} >/dev/null; "
                          f"sh -c 'stat {f} >/dev/null'")
                status, counts = spy(["sh", "-c", script], stdout=subprocess.DEVNULL)
                self.assertEqual(status, 0)
                got = {n: dict(c) for n, c in counts.items()}
                want = "ckpt/offsets/N"
                self.assertEqual(got, {"chmod": {want: 2}, "readlink": {want: 1},
                                       "ls": {want: 1}, "stat": {want: 1}})
                self.assertEqual(oct(os.stat(f).st_mode & 0o777), "0o644")

        def test_exit_status_passes_through(self):
            status, counts = spy(["sh", "-c", "exit 3"])
            self.assertEqual((status, dict(counts)), (3, {}))

    suite = unittest.defaultTestLoader.loadTestsFromTestCase(ForkSpy)
    return 0 if unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful() else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--top", type=int, default=10, help="path shapes shown per command")
    ap.add_argument("--log", default=None, help="keep every launch (command TAB args) here")
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("cmd", nargs=argparse.REMAINDER)
    a = ap.parse_args()
    if a.self_test:
        return self_test()
    if not a.cmd:
        ap.error("a command is required")
    return spy(a.cmd, a.top, a.log and os.path.abspath(a.log))[0]


if __name__ == "__main__":
    sys.exit(main())
