#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine and print its metrics.

    python3 perfbench/run.py --workload batch_hot --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build) and caches the resulting classpath under the build directory
($CARGO_TARGET_DIR, default .bench_build), keyed by a digest of every
source file, so later runs start the JVM directly. Everything a run writes
stays inside the checkout: .bench_build for the build, .bench_work for the
run itself (deleted afterwards; traced runs keep their spans in
.bench_work/traces).

The last stdout line is the result object; the line before it, starting
with "# context", stamps the run with the code digest, nproc, heap, load
average, a CPU-speed probe and free disk before and after.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)
import metrics  # noqa: E402

HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_digest():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [p for p in tops if os.path.isfile(p)]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def run_bounded(cmd, cwd, env, timeout, log):
    """Run cmd in its own process group; kill the whole group on timeout.
    Returns (exit code or None on timeout, stdout text)."""
    with open(log, "wb") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
            return p.returncode, out.decode(errors="replace")
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None, ""
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def classpath(deadline):
    """Build engine + benchmark once per source digest; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found next to perfbench/ (run from a repository checkout)")
    digest = source_digest()
    bdir = build_dir()
    cache = os.path.join(bdir, f"classpath-{digest}.txt")
    if os.path.isfile(cache):
        with open(cache) as f:
            return f.read().strip(), digest
    os.makedirs(os.path.join(bdir, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = [f"-Djava.io.tmpdir={os.path.join(bdir, 'tmp')}", "-Xmx2g",
            "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "build.log")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BENCH, env, max(60, deadline - time.time()), log)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"build failed (exit {code}); log in {log}")
    with open(cache, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip(), digest


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_probe_s():
    """Seconds a fixed pure-Python loop takes: the host's speed at the time."""
    t = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i
    return round(time.perf_counter() - t, 4)


def context(digest, phase, ctx):
    load = os.getloadavg()
    ctx[f"loadavg_{phase}"] = [round(x, 2) for x in load]
    ctx[f"cpu_probe_s_{phase}"] = cpu_probe_s()
    ctx[f"disk_free_mb_{phase}"] = shutil.disk_usage(ROOT).free // (1 << 20)
    if phase == "before":
        commit = None
        if os.path.isdir(os.path.join(ROOT, ".git")):
            try:
                commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                        capture_output=True, timeout=10).stdout.strip() or None
            except (OSError, subprocess.SubprocessError):
                commit = None
        ctx.update({"git_commit": commit, "source_digest": digest, "nproc": cores(),
                    "heap": HEAP})


def java_cmd(cp, args):
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(args.work, "tmp")
    # C1-only JIT: a run lives well under a minute, and C2 compilation then
    # competes with the workload for the cores; on a 4-core VM C1-only runs
    # were ~25% shorter and their run-to-run spread about halved.
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores()), "--work", args.work, "--bench", BENCH]
    return cmd


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def read_jsonl(path):
    if not os.path.isfile(path):
        return []
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    started = time.time()

    if not args.selftest and args.workload not in ("batch_hot", "cdc_lambda", "speed_stream"):
        fail(f"unknown workload {args.workload!r}")
    cp, digest = classpath(started + BUILD_TIMEOUT_S)

    work_root = os.path.join(ROOT, ".bench_work")
    args.work = os.path.join(work_root, f"{args.workload or 'selftest'}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(args.work, "tmp"), exist_ok=True)
    try:
        if args.selftest:
            return selftest(cp, args)
        ctx = {}
        context(digest, "before", ctx)
        log = os.path.join(args.work, "engine.log")
        code, _ = run_bounded(java_cmd(cp, args), ROOT, dict(os.environ), RUN_TIMEOUT_S, log)
        record_path = os.path.join(args.work, "record.json")
        if code != 0 or not os.path.isfile(record_path):
            sys.stderr.write(open(log, errors="replace").read()[-4000:])
            fail(f"engine run failed (exit {code})")
        with open(record_path) as f:
            record = json.load(f)
        context(digest, "after", ctx)
        bench = load_benchmark()
        for c in record["checks"]:
            if not c["ok"]:
                print(f"perfbench: check {c['name']} failed: {c['detail']}", file=sys.stderr)
        correct, attempted, failed = metrics.counts_summary(record)
        if args.trace:
            spans = read_jsonl(os.path.join(args.work, "spans.jsonl"))
            progress = read_jsonl(os.path.join(args.work, "progress.jsonl"))
            names = [m["name"] for m in bench["per_layer"]]
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            values = metrics.per_layer(record, spans, progress, names)
            traces = os.path.join(work_root, "traces")
            os.makedirs(traces, exist_ok=True)
            for part in ("spans.jsonl", "progress.jsonl", "record.json"):
                src = os.path.join(args.work, part)
                if os.path.isfile(src):
                    shutil.copy(src, os.path.join(traces, f"{record['run']}.{part}"))
        else:
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
            values = metrics.end_to_end(record)
        samples = len(metrics.primary_latencies(record))
        ctx.update({"workload": args.workload, "seed": args.seed, "traced": bool(args.trace),
                    "samples": samples, "samples_beyond_p90": metrics.beyond(samples, 90),
                    "session_s": record["session_s"], "setup_reps_s": record["setup_s"],
                    "window_s": (record["window_end_ns"] - record["window_start_ns"]) / 1e9,
                    "extra": record["extra"], "wall_s": round(time.time() - started, 2)})
        print("# context " + json.dumps(ctx, sort_keys=True))
        print(metrics.result_line(correct, attempted, failed, values, units))
        return 0
    finally:
        shutil.rmtree(args.work, ignore_errors=True)


def selftest(cp, args):
    suite = unittest.defaultTestLoader.discover(BENCH, pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    code, out = run_bounded(
        ["java", "-Duser.timezone=UTC", "-cp", cp, "perfbench.SelfTest"], ROOT,
        dict(os.environ), RUN_TIMEOUT_S, os.path.join(args.work, "selftest.log"))
    print(out.strip())
    ok = ok and code == 0
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
