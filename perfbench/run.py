#!/usr/bin/env python3
"""Layered devkit benchmark: builds the engine plus the harness in this
directory from source, runs one workload in a fresh JVM and prints one JSON
result as its last line of output.

    python3 perfbench/run.py --workload battery|app|feed|all --seed N \
        --seconds S --trace 0|1 [--tiny]

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
--workload all runs the three workloads in turn and reports each one's
named metrics (battery_s, app_round_p50_ms, feed_append_p50_ms, ...).
--tiny runs each workload at a token size (smoke test only).
Everything the run writes stays under .bench_build/ at the repo root; see
README.md in this directory.
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
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
FIXTURE = os.path.join(HERE, "fixture")
EXPECTED = os.path.join(HERE, "expected", "battery_fingerprints.json")
WORKLOADS = ("battery", "app", "feed")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


CHILDREN = set()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.add(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        CHILDREN.discard(p)


def stop_children(signum, _frame):
    """On SIGTERM/SIGINT, kill every running child group and wait for it."""
    for p in list(CHILDREN):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    sys.exit(128 + signum)


def source_hash():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".properties"))]
    files.append(os.path.join(HERE, "build.sbt"))
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Dsbt.server.forcestart=false", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    out = os.path.join(BUILD, "build.log")
    log("building (sbt compile), log in .bench_build/build.log")
    t0 = time.time()
    with open(out, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Compile/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=fh,
                       stderr=subprocess.STDOUT)
    if rc != 0:
        with open(out) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"build failed (exit {rc})")
    with open(out) as fh:
        cp = [l.strip() for l in fh if l.startswith("/") and ".jar" in l][-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(want)
    log(f"built in {time.time() - t0:.0f}s")
    return cp


def heap_mb():
    """A quarter of physical memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 2048
    return max(2048, min(8192, kb // 1024 // 4))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java(cp, work, args, logf):
    """Run graft.perfbench.Main in a fresh JVM; output goes to logf."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap_mb()}m", "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
        "-cp", cp, "graft.perfbench.Main", "--work", work, "--fixture", FIXTURE] + args
    os.makedirs(os.path.dirname(logf), exist_ok=True)
    with open(logf, "w") as fh:
        return run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, env=env, stdout=fh,
                         stderr=subprocess.STDOUT)


def run_jvm(cp, workload, seed, seconds, trace, tiny):
    """One workload in a fresh JVM; returns the harness's result dict."""
    tag = f"{workload}-s{seed}-t{trace}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "result.json")
    logf = os.path.join(BUILD, "logs", f"{tag}.log")
    rc = java(cp, work, ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                         "--trace", str(trace), "--expected", EXPECTED, "--out", out]
              + (["--tiny"] if tiny else []), logf)
    if rc != 0 or not os.path.exists(out):
        with open(logf) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"{workload}: harness exited {rc} without a result")
    with open(out) as f:
        res = json.load(f)
    if trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.move(os.path.join(work, "trace.jsonl"), os.path.join(traces, f"{tag}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return res


def history_file(workload):
    return os.path.join(BUILD, "history", f"{workload}.jsonl")


def untraced_ops_per_s(workload):
    """ops_per_s of the untraced runs of this workload in this checkout."""
    try:
        with open(history_file(workload)) as f:
            return [json.loads(l)["ops_per_s"] for l in f if l.strip()]
    except OSError:
        return []


def cpu_ticks():
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_one(cp, workload, seed, seconds, trace, tiny):
    disk0 = shutil.disk_usage(ROOT).free
    if trace and not tiny and not untraced_ops_per_s(workload):
        log(f"no untraced {workload} run yet in this checkout; running one for the overhead base")
        run_one(cp, workload, seed, seconds, 0, tiny)
    steal0, total0 = cpu_ticks()
    res = run_jvm(cp, workload, seed, seconds, trace, tiny)
    steal1, total1 = cpu_ticks()
    res["env"].update({
        "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "git_commit": git_commit(), "fixture": os.path.relpath(FIXTURE, ROOT),
        "seed": seed, "heap_mb": heap_mb(), "run_seconds": seconds,
        "free_disk_before_bytes": disk0, "free_disk_after_bytes": shutil.disk_usage(ROOT).free})
    ops = res["end_to_end"].get("ops_per_s", {}).get("value")
    if not trace and not tiny and ops:
        os.makedirs(os.path.dirname(history_file(workload)), exist_ok=True)
        with open(history_file(workload), "a") as f:
            f.write(json.dumps({"seed": seed, "ops_per_s": ops}) + "\n")
    if trace:
        base = sorted(untraced_ops_per_s(workload))
        # traced time / untraced time - 1, against the median untraced run
        over = base[len(base) // 2] / ops - 1 if base and ops else 0.0
        res["per_layer"]["trace.overhead"] = {"value": over, "unit": "ratio"}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    path = os.path.join(BUILD, "results", f"{workload}-s{seed}-t{trace}.json")
    with open(path, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    print(f"# {workload}: result {os.path.relpath(path, ROOT)}")
    print(f"# {workload}: env {json.dumps(res['env'], sort_keys=True)}")
    print(f"# {workload}: named {json.dumps(res['named'], sort_keys=True)}")
    if res["problems"] or res["failures"]:
        print(f"# {workload}: problems {json.dumps(res['problems'] + res['failures'])}")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
    cp = build()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    results = [run_one(cp, w, a.seed, a.seconds, a.trace, a.tiny) for w in names]
    if a.workload == "all":
        metrics = {}
        for w, r in zip(names, results):
            metrics.update(r["named"])
            metrics[f"setup_s.{w}"] = r["end_to_end"]["setup_s"]
    else:
        r = results[0]
        metrics = r["per_layer"] if a.trace else r["end_to_end"]
    print(json.dumps({
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics}, sort_keys=True))


if __name__ == "__main__":
    main()
