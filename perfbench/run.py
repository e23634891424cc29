"""End-to-end benchmark of `graft.api.EventsAggregator.run`.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source with sbt (offline; skipped
when the sources are unchanged since the last build), generates seeded
inputs (cached by workload and seed), then starts two harness JVMs one after
the other and drives each in a closed loop: one `run` call at a time, each
followed by an independent check of its output. The first call in each
fresh JVM is a cold run; warm calls follow until `--seconds` (split over
the two JVMs) have passed. With `--trace 1` one JVM is started, a traced
run follows its untraced ones, and its per-layer metrics are printed
instead.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Every `run` call and every output check is one operation. The exit
code is non-zero, and no metrics are printed, when a check fails, a call
fails or the harness dies, or the checker's self-test does not reject a
corrupted output.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# one vCPU is left to the JVM's compiler and GC threads and to the checker:
# on a 4-vCPU host local[3] measured both faster and steadier than local[4]
CORES = max(1, min(3, (os.cpu_count() or 1) - 1))
# A fixed heap keeps run time from following G1's heap resizing. A fixed
# young generation makes G1 collect every ~128 MB allocated, so the heap in
# use after a collection (`peak_heap_mb`) is sampled several times in every
# run; with G1's own sizing a warm run of the interval workload allocates
# ~1 GB into a ~1 GB eden and is never sampled at all.
HEAP, YOUNG = "2g", "128m"
# Times differ from JVM to JVM on the same input: the two JVMs of one run
# differed by 10% at the median in their cold runs and by 12% in their
# medians of three warm runs. So a run starts two JVMs one after the other,
# each set up, run cold, then warm, and reports medians over both: setup_s
# and cold_run_s over two samples, run_s over all warm runs. A traced run
# reports no end-to-end metric, so it needs only one JVM.
JVMS = 2
MIN_WARM = 3           # warm runs per JVM at least, however short --seconds is
SAMPLE_SHARE = 0.15    # share of stays whose every cell is compared

# Inputs follow the distributions of the program's own synthetic corpus,
# `graft.cli.GenFixtures` (see gen.py), at `per_stay` = 200 chartevents a
# stay as in the repo's earlier end-to-end timings; the stay counts are cut
# so that a run fits the benchmark's time budget.
WORKLOADS = {
    # reference defaults: output cells outnumber input events ~80:1, so
    # densify and the per-stay CSV writer dominate and the scan is small
    "hourly_zero_csv": {
        "sources": ["chartevents", "inputevents", "outputevents", "procedureevents"],
        "timestep": 3600, "fill": "zero", "sink": "csv",
        "stays": 48, "per_stay": 200,
    },
    # interval sources only, linear interpolation: intervalExpand and the
    # three-window fill path dominate
    "hourly_interp_intervals": {
        "sources": ["inputevents", "procedureevents"], "timestep": 3600,
        "fill": "interp", "sink": "long-parquet",
        "stays": 48, "per_stay": 200,
    },
}
for _name, _wl in WORKLOADS.items():
    _wl["name"] = _name

# the JDK 17 module openings Spark needs outside spark-submit (the same list
# as the program's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# --------------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the build reads: both build definitions and all
    main sources of the program and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classes_stamp(classpath):
    """Size and modification time of every file in the classpath's
    directories. These are the program's and the harness's class
    directories, which another build of the same checkout (the program's own
    `sbt compile` of another commit, say) may overwrite while the sources
    here stay unchanged; such a change must force a rebuild."""
    h = hashlib.sha256()
    for entry in classpath.split(os.pathsep):
        for d, _, fs in sorted(os.walk(entry)):
            for f in sorted(fs):
                st = os.stat(os.path.join(d, f))
                h.update(f"{os.path.join(d, f)} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    for p in ("build.sbt", "src/main/scala/graft/api/EventsAggregator.scala"):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"program source {p} not found under {ROOT}; nothing to build")
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        classpath = open(cp_file).read()
        if open(stamp_file).read() == stamp + classes_stamp(classpath):
            return classpath
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    # offline always: the build resolves only from local caches
    env["SBT_OPTS"] = " ".join(
        [env.get("SBT_OPTS", "-Xmx3g"), "-Dsbt.offline=true"] +
        (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []))
    log("building program and harness with sbt")
    t0 = time.monotonic()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"sbt build failed (exit {p.returncode})")
    cps = [line for line in p.stdout.splitlines()
           if ".jar" in line and os.pathsep in line and not line.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    classpath = cps[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp + classes_stamp(classpath))
    log(f"built in {time.monotonic() - t0:.1f} s")
    return classpath


# ----------------------------------------------------------------- harness

class Harness:
    """One harness JVM, driven line by line over stdin/stdout."""

    def __init__(self, classpath, wl, in_dir):
        args = ["--input", in_dir, "--timestep", str(wl["timestep"]),
                "--fill", wl["fill"], "--sink", wl["sink"],
                "--sources", ",".join(wl["sources"]), "--cores", str(CORES)]
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.stderr = open(os.path.join(WORK, "harness.log"), "a")
        opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        start_ms = int(time.time() * 1000)
        self.proc = subprocess.Popen(
            ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", *opens,
             "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
             "-cp", classpath, "perfbench.Harness", *args, "--start-ms", str(start_ms)],
            cwd=ROOT, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.stderr, text=True, bufsize=1)
        self.setup_s = self.reply("ready")["setup_s"]

    def reply(self, kind):
        for line in self.proc.stdout:
            if line.startswith("@@"):
                got, _, body = line[2:].partition(" ")
                body = json.loads(body)
                if got == "error":
                    raise RuntimeError(body["message"])
                if got != kind:
                    raise RuntimeError(f"expected @@{kind}, got @@{got}")
                return body
        raise RuntimeError(f"harness exited (code {self.proc.wait()}) before @@{kind}; "
                           f"see {self.stderr.name}")

    def call(self, cmd, dst, kind):
        try:
            self.proc.stdin.write(f"{cmd} {dst}\n")
        except OSError as e:
            raise RuntimeError(f"harness gone ({e}); see {self.stderr.name}")
        return self.reply(kind)

    def close(self):
        """Stop the JVM and wait until it has ended."""
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.stderr.close()


# ------------------------------------------------------------------- main

def du(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    phases = {}
    mark = [time.monotonic()]

    def phase(name):
        now = time.monotonic()
        phases[name] = round(phases.get(name, 0.0) + now - mark[0], 2)
        mark[0] = now

    classpath = build()
    phase("build")
    in_dir = gen.cached(os.path.join(WORK, "inputs"), wl, a.seed)
    phase("generate")
    exp = check.Expected(in_dir, wl)
    sample = exp.sample(a.seed, SAMPLE_SHARE)
    phase("expected")
    out_root = os.path.join(WORK, "out", f"{a.workload}-s{a.seed}")
    shutil.rmtree(out_root, ignore_errors=True)
    os.makedirs(out_root)

    attempted = failed = 0
    correct = True

    def checked(dst):
        """One output check (an operation); returns True when it passes."""
        nonlocal attempted, failed, correct
        attempted += 1
        problems = check.check(dst, exp, sample)
        if problems:
            failed += 1
            correct = False
            for p in problems[:10]:
                log(f"CHECK FAILED {dst}: {p}")
        return not problems

    def run_once(h, dst, cmd="run", kind="done"):
        """One `run` call (an operation) plus the check of its output. Every
        call writes a fresh directory; all are deleted only after the last
        timed call, so no deletion's disk traffic lands inside one. A call
        that fails makes the whole run incorrect."""
        nonlocal attempted, failed, correct
        attempted += 1
        try:
            body = h.call(cmd, dst, kind)
        except RuntimeError as e:
            failed += 1
            correct = False
            log(f"run failed: {e}")
            return None
        checked(dst)
        return body

    setups, colds, warm, trace, output_bytes = [], [], [], None, 0
    jvms = 1 if a.trace else JVMS
    for j in range(jvms):
        h = Harness(classpath, wl, in_dir)
        setups.append(h.setup_s)
        phase("setup")
        try:
            dst = os.path.join(out_root, f"cold{j}")
            cold = run_once(h, dst)
            phase("cold")
            if cold is None:
                break
            colds.append(cold["s"])
            if j == 0:
                if correct:
                    missed = check.self_test(dst, exp, sample)
                    if missed:
                        correct = False
                        log(f"SELF-TEST FAILED: checker accepted: {', '.join(missed)}")
                output_bytes = du(dst)
                phase("self_test")
            n, t0 = 0, time.monotonic()
            while correct and (n < MIN_WARM or time.monotonic() - t0 < a.seconds / jvms):
                body = run_once(h, os.path.join(out_root, f"warm{j}-{n}"))
                if body is None:
                    break
                warm.append(body)
                n += 1
            phase("warm")
            if a.trace and correct:
                trace = run_once(h, os.path.join(out_root, "traced"), "trace", "trace")
                phase("trace")
        finally:
            h.close()
            phase("close")
        if not correct:
            break

    if not correct or (a.trace and trace is None):
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                          "metrics": {}}))
        sys.exit(1)
    run_s = statistics.median(w["s"] for w in warm)
    heap_mb = statistics.median(w["heap_mb"] for w in warm)
    log(f"cold {[round(c, 3) for c in colds]} s; warm n={len(warm)} median {run_s:.3f} s "
        f"{[round(w['s'], 3) for w in warm]}; heap after GC {heap_mb:.0f} MB "
        f"{[round(w['heap_mb']) for w in warm]}; setup {setups}; "
        f"{exp.input_rows} input rows, {exp.cell_count} cells; phases {phases}")
    if a.trace:
        m = trace["metrics"]
        m["api.overlap"] = m["api.sources_serial.s"] / run_s
        m["trace.overhead_s"] = trace["run_s"] - run_s
        if trace["plan_mismatch"]:
            log(f"trace prefixes differ from aggregate() for {trace['plan_mismatch']}")
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        with open(os.path.join(WORK, "trace", f"{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump(dict(trace, workload=a.workload, seed=a.seed, untraced_run_s=run_s),
                      f, indent=1)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {d["name"]: d["unit"] for d in json.load(f)["per_layer"]}
        metrics = {k: {"value": m[k], "unit": u} for k, u in units.items() if k in m}
        if len(metrics) < len(units):
            log(f"trace lacks {sorted(set(units) - set(metrics))}")
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "cold_run_s": (statistics.median(colds), "s"),
            "run_s": (run_s, "s"),
            "events_per_s": (exp.input_rows / run_s, "1/s"),
            "cells_per_s": (exp.cell_count / run_s, "1/s"),
            "output_bytes": (output_bytes, "bytes"),
            "peak_heap_mb": (heap_mb, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    shutil.rmtree(out_root, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
