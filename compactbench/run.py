#!/usr/bin/env python3
"""Compaction benchmark runner.

Builds the engine (the checkout's root sbt project) and the benchmark from
source (once per source change), runs one workload in one JVM for a fixed
measuring time and prints its result as the last stdout line:

    python3 compactbench/run.py --workload mor_compact --seed 1 --seconds 25 --trace 0
    python3 compactbench/run.py --smoke

Run from the root of the checkout. See compactbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "compactbench-stamp")
CLASSPATH = os.path.join(TARGET, "compactbench-classpath")
RUNTIME = os.path.join(ROOT, ".bench_build", "compactbench")
MAX_LINE = 1900  # the result line must fit a 2000-character tail
DEADLINE_S = 175  # every measured run ends within 180 s

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[compactbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(d, "build.sbt") for d in (ROOT, HERE)]
    files += [os.path.join(d, "project", "build.properties") for d in (ROOT, HERE)]
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed since the last build;
    returns the runtime classpath and whether this call built."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as c:
                    return c.read().strip(), False
    log("building engine and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    if "compactbench" not in cp and "classes" not in cp:
        raise SystemExit(f"unexpected classpath line: {cp[:200]}")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp, True


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    units = lambda ms: {m["name"]: m["unit"] for m in ms}
    return units(b["end_to_end"]), units(b["per_layer"]), b["workloads"]


def check_metrics(metrics, want, what):
    got = {k: v.get("unit") for k, v in metrics.items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(got) & set(want) if got[k] != want[k])
        raise SystemExit(f"{what}: metric set differs from BENCHMARK.json "
                         f"(missing {missing}, extra {extra}, wrong unit {wrong})")
    for k, v in metrics.items():
        if not isinstance(v.get("value"), (int, float)):
            raise SystemExit(f"{what}: metric {k} has no numeric value")


def run_jvm(cp, args, deadline):
    work = os.path.join(RUNTIME, f"work-{os.getpid()}")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={work}-tmp"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "compactbench.Main", "--work", work] + args
    os.makedirs(work + "-tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(30, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("benchmark JVM exceeded its time limit")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(work + "-tmp", ignore_errors=True)
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on tiny inputs and check the metric names")
    a = ap.parse_args()
    start = time.monotonic()
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}: run from a full checkout")
    e2e, layer, workloads = declared()
    cp, built = build()
    if a.smoke:
        code, lines = run_jvm(cp, ["--smoke", "--seed", str(a.seed)], time.monotonic() + 600)
        results = [json.loads(l) for l in lines if l.startswith('{"smoke"')]
        if code != 0:
            raise SystemExit(f"smoke run exited with {code}")
        seen = set()
        for r in results:
            check_metrics(r["metrics"], layer if r["trace"] else e2e,
                          f"smoke {r['smoke']} trace={r['trace']}")
            seen.add((r["smoke"], r["trace"]))
        want = {(w["name"], t) for w in workloads for t in (0, 1)}
        if seen != want:
            raise SystemExit(f"smoke: missing results for {sorted(want - seen)}")
        print(json.dumps({"smoke": "ok", "runs": len(results)}))
        return
    if not a.workload:
        raise SystemExit("--workload is required")
    # a run that had to build gets its full time limit after the build
    deadline = (time.monotonic() if built else start) + DEADLINE_S
    record = os.path.join(RUNTIME, f"record-{a.workload}-{a.seed}-t{a.trace}.json")
    code, lines = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", str(a.trace),
                               "--record", record], deadline)
    results = [l for l in lines if l.startswith('{"correct"')]
    if not results:
        raise SystemExit(f"no result line (JVM exit code {code})")
    line = results[-1]
    res = json.loads(line)
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        raise SystemExit(f"result keys {sorted(res)}")
    check_metrics(res["metrics"], layer if a.trace else e2e, a.workload)
    if len(line) > MAX_LINE:
        raise SystemExit(f"result line is {len(line)} characters, limit {MAX_LINE}")
    log(f"full record: {os.path.relpath(record, ROOT)}")
    print(line, flush=True)
    if code != 0 or not res["correct"]:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
