#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the benchmark from source with sbt (offline), into the checkout. Each run
starts one JVM, which measures the workload and checks its outputs. The
full record of a run (per-layer numbers, spans, checks, and the cause of
any failure) is written under .bench_build/perfbench/runs/.

Extra options, for maintenance only:
    --queries all         sweep every query instead of the fixed sample
    --record <file>       write the result hashes of the queries run
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_LIMIT_S = 170  # the whole run, build excluded, must end within 180 s
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, artifact=None, record=None):
    """Report a lost run: never silently. Keeps the cause in the artifact."""
    sys.stderr.write(f"perfbench: {msg}\n")
    if artifact:
        rec = record or {}
        rec.setdefault("error", msg)
        os.makedirs(os.path.dirname(artifact), exist_ok=True)
        with open(artifact, "w") as f:
            json.dump(rec, f, indent=1)
        sys.stderr.write(f"perfbench: record written to {artifact}\n")
    sys.exit(1)


def sources_stamp():
    """Fingerprint of everything the build compiles."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
            os.path.relpath(BENCH, ROOT) + "/build.sbt",
            os.path.relpath(BENCH, ROOT) + "/project/*.properties",
            os.path.relpath(BENCH, ROOT) + "/src/main/**/*"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                st = os.stat(p)
                h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(artifact):
    """Compile the engine and the benchmark once per checkout; return the
    runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources in this directory (run from the root of a checkout)", artifact,
             {"stage": "build"})
    stamp_file = os.path.join(OUT, "classpath.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = sources_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    t0 = time.time()
    with open(log, "w") as lf:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "export perfbench/Runtime/fullClasspath"],
                             cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            kill(p)
            fail(f"build timed out after {BUILD_LIMIT_S} s (log: {log})", artifact, {"stage": "build"})
        lf.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        fail(f"build failed with exit {p.returncode} (log: {log})", artifact,
             {"stage": "build", "build_log_tail": lines[-30:]})
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    sys.stderr.write(f"perfbench: built in {time.time() - t0:.0f} s\n")
    return cp


def kill(p):
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([w["name"] for w in b["workloads"]], [m["name"] for m in b["end_to_end"]],
            [m["name"] for m in b["per_layer"]])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--queries", default="sample", choices=["sample", "all"])
    ap.add_argument("--record")
    a = ap.parse_args()
    started = time.time()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{int(started * 1000)}"
    artifact = os.path.join(OUT, "runs", run_id + ".json")
    try:
        workloads, e2e, layers = declared()
    except (OSError, ValueError, KeyError) as e:
        fail(f"BENCHMARK.json unreadable: {e}", artifact)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; BENCHMARK.json lists {workloads}", artifact)

    t_build = time.time()
    cp = build(artifact)
    # a maintenance sweep over every query runs longer
    limit = RUN_LIMIT_S if a.queries == "sample" else 3600
    deadline = started + (time.time() - t_build) + limit

    work = os.path.join(OUT, "work", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", artifact, "--work", work,
        "--data", os.path.join(BENCH, "data", "sf0.01"),
        "--hashes", os.path.join(BENCH, "sweep_hashes.tsv"), "--queries", a.queries]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    errf = open(os.path.join(work, "stderr.log"), "w+")
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=errf,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    timed_out = False
    try:
        out, _ = p.communicate(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        timed_out = True
        kill(p)
        out = ""
    errf.seek(0)
    err_tail = errf.read().splitlines()[-40:]
    errf.close()

    record = {}
    if os.path.isfile(artifact):
        try:
            with open(artifact) as f:
                record = json.load(f)
        except ValueError:
            record = {}
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    shutil.rmtree(work, ignore_errors=True)
    if timed_out or p.returncode != 0 or result is None:
        record.update({"exit_code": p.returncode, "timed_out": timed_out, "stderr_tail": err_tail})
        why = record.get("error") or (err_tail[-1] if err_tail else "no output")
        fail(f"{a.workload} run lost ({'timed out' if timed_out else f'exit {p.returncode}'}): {why}",
             artifact, record)

    want = layers if a.trace else e2e
    if sorted(result["metrics"]) != sorted(want):
        fail(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(want)}",
             artifact, record)
    if a.trace:
        record["trace_overhead"] = overhead(a.workload, record.get("end_to_end", {}))
    with open(artifact, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(result))


def overhead(workload, traced):
    """Traced minus untraced, as a share of the untraced value, against the
    most recent untraced run of the same workload in this checkout."""
    runs = sorted(glob.glob(os.path.join(OUT, "runs", f"{workload}-s*-t0-*.json")),
                  key=os.path.getmtime)
    for path in reversed(runs):
        try:
            with open(path) as f:
                base = json.load(f).get("end_to_end")
        except (OSError, ValueError):
            continue
        if base:
            return {"against": os.path.basename(path),
                    "share": {k: (traced[k] - v) / v for k, v in base.items()
                              if k in traced and v}}
    return {"against": None, "note": "no untraced run of this workload recorded yet"}


if __name__ == "__main__":
    main()
