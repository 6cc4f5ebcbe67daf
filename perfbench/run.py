#!/usr/bin/env python3
"""Benchmark of the chess ETL engine: one workload, one seed, one result line.

Run from the repository root:

    python3 perfbench/run.py --workload query_board --seed 1 --seconds 21 --trace 0

Builds the program and the benchmark harness from source with sbt on first use
(perfbench/build.sbt), then runs the harness (perfbench.Main) in one JVM on a
local[nproc] Spark session. The last stdout line is one JSON object with the
keys correct, attempted, failed and metrics: with --trace 0 every end_to_end
metric of BENCHMARK.json, with --trace 1 every per_layer metric. The run's
metadata and every failure reason are printed on the lines before it.

    python3 perfbench/run.py --selftest

runs every workload at toy size and checks the printed metric names against
BENCHMARK.json and that a corrupted expected digest is reported as a failed op.

    python3 perfbench/run.py --workload query_board --write-expected

rewrites perfbench/expected/<workload>.json from a run of the current program.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(BENCH, ".work")
BUILD_DIR = os.path.join(WORK, "build")
CONFIG = os.path.join(BENCH, "workloads.json")
EXPECTED = os.path.join(BENCH, "expected")
# a run must end within 180 s; this leaves the Python side its few seconds
JVM_CAP_S = 175
# nominal JVM start-up and one GraftSession.create, for planning a run's time
JVM_START_S = 15
SETUP_S = 0.5
BUILD_TIMEOUT_S = 840
HEAP = "2g"
# what spark-submit would pass to a JDK 17 Spark driver (the program's build.sbt
# sets the same list for its own forked runs)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def source_fingerprint():
    """Hash of everything the build compiles: the program and the harness."""
    h = hashlib.sha1()
    roots = ["build.sbt", "project", "src/main", os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target" and x != "project")
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(set(files)):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def fixture_fingerprint():
    h = hashlib.sha1()
    base = os.path.join(BENCH, "fixtures")
    for d, dirs, fs in os.walk(base):
        dirs.sort()
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles with sbt unless the last build saw the same sources."""
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = source_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        fail("the program's sources (build.sbt, src/main/scala) are not here")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail(f"build printed no classpath; log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], stamp


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def plan(cfg, seconds, trace):
    """Passes of a run: as many whole passes as the workload's nominal pass
    time fits into seconds, at least one, so every run does the same work.
    A traced run needs at least three (untraced, traced, untraced) after the
    cold first pass of a workload that has one."""
    planned = max(1, int(seconds / cfg["pass_s"]))
    if not trace:
        return planned
    offset = 1 if cfg.get("cold_first_pass") else 0
    return offset + max(3, (planned - offset) | 1)


def time_limit(cfg, passes, setup_reps):
    """Twice the run's nominal time (the host's speed varies about 2x), at
    most JVM_CAP_S."""
    nominal = JVM_START_S + setup_reps * SETUP_S + cfg["warm_s"] + passes * cfg["pass_s"]
    return min(JVM_CAP_S, 2 * nominal)


def java(classpath, work, args, log, timeout=JVM_CAP_S):
    """Runs perfbench.Main with args in a JVM whose scratch space is work/."""
    for d in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC", "-Duser.language=en", "-Duser.country=US",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-cp", classpath, "perfbench.Main", "--work", work, "--config", CONFIG] + args
    with open(log, "w") as out:
        rc = run_group(cmd, timeout, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log, errors="replace") as f:
            tail = f.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"benchmark JVM {f'timed out after {timeout:.0f} s' if rc is None else f'exited {rc}'}; "
             f"log in {log}")


def scaled_inputs(classpath, stamp, workload, profile):
    """The workload's ScaleData copies, made once per build and config."""
    with open(CONFIG) as f:
        cfg = json.load(f)["profiles"][profile][workload]
    if cfg.get("factor", 1) <= 1:
        return None
    out = os.path.abspath(os.path.join(BUILD_DIR, f"scaled-{profile}-{workload}"))
    key = stamp + json.dumps(cfg, sort_keys=True)
    done = out + ".stamp"
    if os.path.exists(done):
        with open(done) as f:
            if f.read() == key:
                return out
    work = os.path.abspath(os.path.join(WORK, "scale"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    java(classpath, work, ["--workload", workload, "--profile", profile,
                           "--make-scaled", out], os.path.join(work, "jvm.log"))
    with open(done, "w") as f:
        f.write(key)
    shutil.rmtree(work)
    return out


def run_jvm(classpath, stamp, workload, seed, seconds, trace, profile, expected=None,
            write_expected=None):
    """Runs one benchmark JVM in a fresh work dir; returns its result dict."""
    scaled = scaled_inputs(classpath, stamp, workload, profile)
    with open(CONFIG) as f:
        config = json.load(f)
    cfg = config["profiles"][profile][workload]
    passes = plan(cfg, seconds, trace)
    work = os.path.abspath(os.path.join(WORK, workload))
    shutil.rmtree(work, ignore_errors=True)
    result = os.path.join(work, "result.json")
    args = ["--workload", workload, "--seed", str(seed), "--passes", str(passes),
            "--trace", "1" if trace else "0", "--profile", profile, "--result", result]
    if scaled:
        args += ["--scaled", scaled]
    if expected:
        args += ["--expected", expected]
    if write_expected:
        args += ["--write-expected", os.path.abspath(write_expected)]
    java(classpath, work, args, os.path.join(work, "jvm.log"),
         time_limit(cfg, passes, config["setup_reps"]))
    if not os.path.exists(result):
        fail(f"benchmark JVM wrote no result; log in {work}")
    with open(result) as f:
        return json.load(f)


def declared():
    with open("BENCHMARK.json") as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


# per-layer metrics of layers a workload does not run through read 0 there
NOT_RUN = {"chess_pipeline": ("entry.", "family.", "layout."), "query_board": ("chess.",)}


def measured(res, trace):
    """The metrics a run reported, with the layers its workload does not run
    through filled in as 0 on a traced run."""
    got = dict(res["metrics"])
    if trace:
        for k, unit in declared()[1].items():
            if k not in got and k.startswith(NOT_RUN[res["meta"]["workload"]]):
                got[k] = {"value": 0, "unit": unit}
    return got


def line(res, trace):
    """The contract's result line: exactly the declared metrics, declared units."""
    e2e, layer = declared()
    want = layer if trace else e2e
    got = measured(res, trace)
    missing = [k for k in want if k not in got]
    if missing:
        fail(f"the run did not measure {', '.join(missing)}")
    unknown = sorted(set(got) - set(e2e) - set(layer))
    if unknown:
        fail(f"the run measured undeclared metrics {', '.join(unknown)}")
    wrong = [k for k in want if got[k]["unit"] != want[k]]
    if wrong:
        fail(f"unit mismatch for {', '.join(wrong)}")
    return {"correct": bool(res["correct"]) and res["failed"] == 0,
            "attempted": int(res["attempted"]), "failed": int(res["failed"]),
            "metrics": {k: {"value": got[k]["value"], "unit": want[k]} for k in want}}


def report(res, trace, source):
    meta = dict(res["meta"], source_sha1=source, fixture_sha1=fixture_fingerprint())
    print("meta " + json.dumps(meta, sort_keys=True))
    for r in res["failures"]:
        print("FAILED " + r)
    out = line(res, trace)
    print(json.dumps(out))


def selftest(classpath, source):
    e2e, layer = declared()
    problems = []
    for w in ("query_board", "chess_pipeline"):
        exp = os.path.join(WORK, f"selftest-{w}.json")
        a = run_jvm(classpath, source, w, 7, 1, False, "selftest",
                    write_expected=exp if w != "chess_pipeline" else None)
        la = line(a, False)
        if set(measured(a, False)) != set(e2e) or not la["correct"]:
            problems.append(f"{w} --trace 0: names {sorted(measured(a, False))}, "
                            f"failures {a['failures']}")
        corrupted = None
        if w != "chess_pipeline":
            with open(exp) as f:
                digests = json.load(f)
            corrupted = sorted(digests)[0]
            digests[corrupted]["digest"] = "0" * 32
            with open(exp, "w") as f:
                json.dump(digests, f)
        b = run_jvm(classpath, source, w, 7, 1, True, "selftest",
                    expected=exp if corrupted else None)
        lb = line(b, True)
        # a traced run reports the end-to-end metrics too; line() prints only
        # the per-layer ones
        if set(measured(b, True)) != set(e2e) | set(layer):
            problems.append(f"{w} --trace 1: names {sorted(measured(b, True))} differ "
                            f"from end_to_end + per_layer")
        if corrupted:
            hit = [r for r in b["failures"] if r.startswith(corrupted + " ")]
            if lb["failed"] < 1 or not hit or lb["correct"]:
                problems.append(f"{w}: corrupted digest of {corrupted} not reported "
                                f"(failed={lb['failed']}, reasons={b['failures']})")
        elif not lb["correct"]:
            problems.append(f"{w} --trace 1 failed: {b['failures']}")
        print(f"selftest {w}: attempted {la['attempted']}+{lb['attempted']}, "
              f"failed {la['failed']}+{lb['failed']}")
    for p in problems:
        print("SELFTEST PROBLEM " + p)
    if problems:
        sys.exit(1)
    print("selftest ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=21)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-expected", action="store_true")
    args = ap.parse_args()
    if not os.path.exists("BENCHMARK.json"):
        fail("run from the repository root (BENCHMARK.json not found)")
    classpath, source = build()
    if args.selftest:
        return selftest(classpath, source)
    with open(CONFIG) as f:
        if args.workload not in json.load(f)["profiles"]["full"]:
            fail(f"unknown workload {args.workload!r}")
    expected = os.path.join(EXPECTED, f"{args.workload}.json")
    has_digests = args.workload != "chess_pipeline"
    if args.write_expected:
        if not has_digests:
            fail("chess_pipeline checks against its generator, not a digest file")
        run_jvm(classpath, source, args.workload, args.seed, 1, False, "full",
                write_expected=expected)
        print(f"wrote {expected}")
        return
    if has_digests and not os.path.exists(expected):
        fail(f"missing expected digests {expected}")
    res = run_jvm(classpath, source, args.workload, args.seed, args.seconds, bool(args.trace),
                  "full", expected=expected if has_digests else None)
    report(res, bool(args.trace), source)


if __name__ == "__main__":
    main()
