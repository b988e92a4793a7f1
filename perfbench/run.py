#!/usr/bin/env python3
"""dsq CLI benchmark for graft.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds graft from source on first use
(see build.py), generates the workload's inputs from the seed, drives the
real CLI (`graft.dsq.Cli`) as a user would, checks every output against
results computed apart from graft, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the run also replays
the workload in one traced JVM (trace/Trace.scala) and prints the
per-layer ones (layers.py). See README.md for workloads, metrics and bounds.
"""

import argparse
import glob
import json
import os
import re
import select
import shutil
import statistics
import subprocess
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import layers  # noqa: E402

LAUNCH_TIMEOUT_S = 150
PROMPT = b"dsq> "
FOOTER = re.compile(rb"\(\d+ rows?\)\n")
CACHE_FILL_NOTICE = "Cache invalid, re-import required."


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """One run's scratch: fresh java.io.tmpdir, Spark local dir, user.home
    and working directory under .bench_build/, removed when the run ends,
    so no cache, warehouse or history survives into another run."""

    def __init__(self, classes, trace_classes):
        self.root = os.path.join(build.OUT, "runs", uuid.uuid4().hex)
        self.dirs = {k: os.path.join(self.root, k)
                     for k in ("tmp", "home", "work", "local", "inputs", "trace")}
        for d in self.dirs.values():
            os.makedirs(d)
        jars = os.path.join(build.spark_jars(), "*")
        self.java = ["java"] + build.jvm_flags() + [
            f"-Djava.io.tmpdir={self.dirs['tmp']}", f"-Duser.home={self.dirs['home']}"]
        self.cli_cp = os.pathsep.join([classes, jars])
        self.trace_cp = os.pathsep.join([trace_classes, classes, jars])
        self.env = {k: v for k, v in os.environ.items() if not k.startswith("DSQ_")}
        self.env.update(SPARK_LOCAL_DIRS=self.dirs["local"], TMPDIR=self.dirs["tmp"])
        self.attempted = 0
        self.failed = 0
        self.wrong = 0  # wrong outputs, not counting oracle.KNOWN_FAULT

    def close(self):
        shutil.rmtree(self.root, ignore_errors=True)

    def input(self, name):
        return os.path.join(self.dirs["inputs"], name)

    def record(self, what, reason, mismatch=False, known_fault=False):
        """Count one operation; reason None means it succeeded. Any failure
        counts in `failed`; a wrong output also makes the run incorrect
        unless it is the known fault."""
        self.attempted += 1
        if reason is not None:
            self.failed += 1
            self.wrong += mismatch and not known_fault
            log(f"FAILED {what}{' (known fault)' if known_fault else ''}: {reason}")

    def spawn(self, main_args, cp=None, stdin=subprocess.DEVNULL):
        err = open(os.path.join(self.root, f"stderr-{uuid.uuid4().hex}.txt"), "w+b")
        p = subprocess.Popen(self.java + ["-cp", cp or self.cli_cp] + main_args,
                             cwd=self.dirs["work"], env=self.env, stdin=stdin,
                             stdout=subprocess.PIPE, stderr=err)
        return p, err


class Launch:
    """One process from spawn to exit: wall time to the last stdout byte
    and exit, time to the first stdout byte, peak RSS, output."""

    def __init__(self, run, main_args, cp=None):
        t0 = time.perf_counter()
        p, err = run.spawn(main_args, cp)
        chunks, first = [], None
        deadline = t0 + LAUNCH_TIMEOUT_S
        fd = p.stdout.fileno()
        while True:
            ready, _, _ = select.select([fd], [], [], max(0.0, deadline - time.perf_counter()))
            if not ready:
                p.kill()
                break
            data = os.read(fd, 1 << 20)
            if not data:
                break
            if first is None:
                first = time.perf_counter()
            chunks.append(data)
        _, status, usage = os.wait4(p.pid, 0)
        t_end = time.perf_counter()
        p.returncode = os.waitstatus_to_exitcode(status)
        p.stdout.close()
        err.seek(0)
        self.stderr = err.read().decode(errors="replace")
        err.close()
        self.rc = p.returncode
        self.wall_s = t_end - t0
        self.first_byte_s = (first if first is not None else t_end) - t0
        self.rss_mb = usage.ru_maxrss / 1024.0
        self.stdout = b"".join(chunks).decode(errors="replace")

    def failure(self):
        if self.rc != 0:
            return f"exit code {self.rc}: {self.stderr.strip().splitlines()[-1:]}"
        return None


def cli(run, args):
    return Launch(run, ["graft.dsq.Cli"] + args)


class Repl:
    """`dsq -i` with queries piped to stdin. A query is done when the next
    prompt appears; an error prints no footer, only text on stderr."""

    def __init__(self, run, files):
        self.p, self.err = run.spawn(["graft.dsq.Cli", "-i"] + files, stdin=subprocess.PIPE)
        self.out_fd = self.p.stdout.fileno()
        self.err_pos = 0
        out, _, _ = self._until_prompt(time.perf_counter())
        if not out.endswith(PROMPT):
            raise RuntimeError(f"REPL gave no prompt: {self._new_stderr()[-400:]}")
        self._new_stderr()  # Spark's start-up logging

    def _new_stderr(self):
        self.err.seek(self.err_pos)
        data = self.err.read()
        self.err_pos += len(data)
        return data.decode(errors="replace").strip()

    def _until_prompt(self, t0):
        """Read stdout until it ends with the prompt → (bytes, first byte
        time, footer time); times are None when never seen."""
        buf, first, footer = b"", None, None
        deadline = t0 + LAUNCH_TIMEOUT_S
        while not buf.endswith(PROMPT):
            ready, _, _ = select.select([self.out_fd], [], [],
                                        max(0.0, deadline - time.perf_counter()))
            data = os.read(self.out_fd, 1 << 20) if ready else b""
            if not data:
                break
            first = first or time.perf_counter()
            buf += data
            if footer is None and FOOTER.search(buf):
                footer = time.perf_counter()
        return buf, first, footer

    def query(self, q, filling=False):
        """→ (seconds to the footer, seconds to the first byte, output
        without the prompt, failure reason or None). With `filling`, the
        cache-fill notice on stderr is expected, not an error."""
        t0 = time.perf_counter()
        self.p.stdin.write(q.encode() + b"\n")
        self.p.stdin.flush()
        buf, first, footer = self._until_prompt(t0)
        err = self._new_stderr()
        if filling:
            err = "\n".join(x for x in err.splitlines() if x != CACHE_FILL_NOTICE)
        failure = None
        if not buf.endswith(PROMPT):
            failure = "REPL stopped answering"
        elif err:
            failure = "stderr: " + err.splitlines()[0][:300]
        elif footer is None:
            failure = "no footer"
        end = footer or time.perf_counter()
        text = buf[:-len(PROMPT)] if buf.endswith(PROMPT) else buf
        return end - t0, (first or end) - t0, text.decode(errors="replace"), failure

    def close(self):
        """Leave the session and wait for the process → peak RSS in MB."""
        try:
            self.p.stdin.write(b"exit\n")
            self.p.stdin.close()
        except BrokenPipeError:
            pass
        deadline = time.perf_counter() + 60
        while True:
            left = deadline - time.perf_counter()
            ready, _, _ = select.select([self.out_fd], [], [], max(0.0, left))
            if not ready:
                self.p.kill()
                break
            if not os.read(self.out_fd, 1 << 16):
                break
        _, status, usage = os.wait4(self.p.pid, 0)
        self.p.returncode = os.waitstatus_to_exitcode(status)
        self.p.stdout.close()
        self.err.close()
        return usage.ru_maxrss / 1024.0


# --- workloads -----------------------------------------------------------------
#
# Each workload sets up, then runs whole rounds of the same operations
# for up to --seconds (at least one round), and returns a Result.
# Its `spec` tells the traced replay which operations to run, and `check`
# judges a traced operation's output the way the untraced one was judged.

class Result:
    def __init__(self, setup_s, latencies, first_bytes, rss_mb, spec, check, faulty=()):
        self.setup_s, self.latencies, self.first_bytes = setup_s, latencies, first_bytes
        self.rss_mb, self.spec, self.check = rss_mb, spec, check
        self.faulty = set(faulty)  # query texts of oracle.KNOWN_FAULT operations


def rounds_for(seconds, one_round):
    """Run whole rounds while one more, as long as the last, still ends
    within `seconds`; the first round always runs. → rounds run."""
    t0 = time.perf_counter()
    r = 0
    while True:
        start = time.perf_counter()
        one_round(r)
        r += 1
        now = time.perf_counter()
        if now - t0 + (now - start) > seconds:
            return r


def launch_rounds(run, args, argv, check, what):
    """Closed loop of one-shot launches, one client. Outputs are checked
    after the loop, so that a round is the launch alone."""
    launches = []
    rounds_for(args.seconds, lambda _: launches.append(cli(run, argv)))
    for launch in launches:
        reason, mismatch = launch.failure(), False
        if reason is None:
            reason = check(launch)
            mismatch = reason is not None
        run.record(what, reason, mismatch)
    return ([x.wall_s for x in launches], [x.first_byte_s for x in launches],
            statistics.median(x.rss_mb for x in launches))


def timed_gen(what, make):
    """Generate a workload's inputs. Not part of `setup_s`, which times
    graft's set-up only; the time goes to the log."""
    t0 = time.perf_counter()
    made = make()
    log(f"generated {what} in {time.perf_counter() - t0:.2f} s")
    return made


VERSION_PROBES = 5


def version_probe(run):
    """One `dsq --version` launch: the CLI starts and parses its flags,
    without a Spark session. → seconds from spawn to exit."""
    launch = cli(run, ["--version"])
    if launch.rc != 0 or not launch.stderr.startswith("dsq "):
        raise RuntimeError(f"dsq --version failed: exit {launch.rc}, {launch.stderr[-300:]!r}")
    return launch.wall_s


def cli_export(run, args):
    """One-shot launches of a SELECT … WHERE returning most rows of a
    nested JSONL file, rendered as JSON."""
    path = run.input("events.jsonl")
    records = timed_gen("events.jsonl", lambda: gen.export_jsonl(path, args.seed))["records"]
    setup_s = statistics.median(version_probe(run) for _ in range(VERSION_PROBES))
    threshold = oracle.export_threshold(args.seed)
    q = oracle.export_query(threshold)
    expected = oracle.export_expected(records, threshold)
    if len(expected) != sum(r["amount"] > threshold for r in records):
        raise RuntimeError("oracle and generator disagree on the export's row count")

    lat, fb, rss = launch_rounds(run, args, [path, q],
                                 lambda launch: oracle.check_json(launch.stdout, expected),
                                 "export launch")
    spec = {"cache": 0, "render": "json", "files": [path], "warmup": [], "queries": [q]}
    return Result(setup_s, lat, fb, rss, spec, lambda q_, out: oracle.check_json(out, expected))


WARMUP_ROUNDS = 3


def repl_mix(run, args):
    """One `dsq -i` session over CSV, JSON-array and parquet inputs;
    rounds of the query templates in oracle.repl_round, each query timed
    alone."""
    files = timed_gen("repl inputs", lambda: gen.repl_inputs(run.dirs["inputs"], args.seed))["files"]
    t0 = time.perf_counter()
    repl = Repl(run, files)
    setup_s = time.perf_counter() - t0
    duck = oracle.ReplOracle(files)
    # query text → its DuckDB query and ordering, and the expected rows
    # once computed; the seeded parameters make the text identify the result
    known, expected, faulty = {}, {}, set()

    def check(q, text):
        duck_sql, ordered = known[q]
        if q not in expected:
            expected[q] = duck.expected(duck_sql)
        return oracle.check_pretty(text, expected[q], ordered)

    def queries(r):
        for tmpl, q, duck_sql, ordered in oracle.repl_round(args.seed, r):
            known[q] = (duck_sql, ordered)
            if tmpl == oracle.KNOWN_FAULT:
                faulty.add(q)
            yield tmpl, q

    latencies, first_bytes, measured, by_template = [], [], [], {}
    try:
        # warm-up rounds, part of set-up: the first fills the -C cache of
        # every input, the rest let the JIT settle (after only one more,
        # query times still fell 20-30% over the next five rounds)
        warmup = [tq for r in range(-WARMUP_ROUNDS, 0) for tq in queries(r)]
        for tmpl, q in warmup:
            lat, fb, text, failure = repl.query(q, filling=True)
            setup_s += lat
            failure = failure or check(q, text)
            if failure and tmpl != oracle.KNOWN_FAULT:
                raise RuntimeError(f"warm-up {tmpl} query failed: {failure}")
        # the run's java.io.tmpdir is fresh and private, so the session can
        # only have made one content-hash directory, with a view per input
        caches = glob.glob(os.path.join(run.dirs["tmp"], "dsqspark-cache-*"))
        if len(caches) != 1 or not all(
                os.path.exists(os.path.join(caches[0], f"t_{i}", "_SUCCESS"))
                for i in range(len(files))):
            raise RuntimeError(f"warm-up did not fill the -C cache of every input: {caches}")

        answers = []  # checked after the loop, so DuckDB runs between no queries

        def one_round(r):
            for tmpl, q in queries(r):
                lat, fb, text, failure = repl.query(q)
                answers.append((tmpl, q, text, failure))
                latencies.append(lat)
                first_bytes.append(fb)
                measured.append(q)
                by_template.setdefault(tmpl, []).append(round(lat, 3))

        rounds = rounds_for(args.seconds, one_round)
    finally:
        rss = repl.close()
    for tmpl, q, text, failure in answers:
        mismatch = False
        if failure is None:
            failure = check(q, text)
            mismatch = failure is not None
        run.record(f"repl {tmpl}", failure, mismatch, tmpl == oracle.KNOWN_FAULT)
    log(f"repl_mix: {rounds} rounds, {len(measured)} queries, seconds by template {by_template}")
    # the replay's warm-up starts from an empty cache, as this session did
    spec = {"cache": 1, "render": "pretty", "files": files, "fresh_tmp": True,
            "warmup": [q for _, q in warmup], "queries": measured}
    return Result(setup_s, latencies, first_bytes, rss, spec, check, faulty)


WORKLOADS = {"cli_export": cli_export, "repl_mix": repl_mix}


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(res):
    # Peak RSS is logged, not reported: it moved 13% between runs of
    # identical code, more than a bound can allow (README.md).
    log(f"peak RSS {res.rss_mb:.1f} MB")
    return {
        "latency_s": metric(statistics.median(res.latencies), "s"),
        "first_byte_s": metric(statistics.median(res.first_bytes), "s"),
        "setup_s": metric(res.setup_s, "s"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        classes, trace_classes = build.build(log)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    run = Run(classes, trace_classes)
    try:
        res = WORKLOADS[args.workload](run, args)
        if args.trace:
            metrics = layers.traced(run, args, res, log, Launch)
        else:
            metrics = end_to_end(res)
    finally:
        run.close()
    print(json.dumps({"correct": run.wrong == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
