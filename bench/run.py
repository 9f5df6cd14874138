#!/usr/bin/env python3
"""Benchmark driver: one workload run, end to end.

    python3 bench/run.py --workload reference_hw --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (bench/build.sbt); later runs reuse the build
while the sources are unchanged. Each run then

  1. generates its inputs from --seed (bench/gen.py),
  2. sets up in a fresh JVM on the compiled classpath (setup_s: JVM launch
     until inputs and artifacts exist and the warm-up is done),
  3. measures in that JVM for about --seconds: timed passes, then the
     workload's online phase (--trace 0), or alternating untraced and traced
     passes plus a traced online phase (--trace 1),
  4. checks every output (ingest_stream also against the library's DuckDB
     oracle SQL), and
  5. prints one JSON line: {"correct", "attempted", "failed", "metrics"}.

A result file (and, traced, a trace file) with full provenance goes to
bench/results/. All scratch lives under bench/.runs/<run>/ and is removed at
exit. Extra flags for the smoke test: --scale tiny, --perturb c1,c2.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen
import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("reference_hw", "artifact_lifecycle", "ingest_stream")
RUN_BUDGET_S = 170.0  # everything after the build must end within this
BUILD_BUDGET_S = 850.0

# The flags build.sbt gives the forked `run` (with the heap from
# driver_mem), so the JVM matches the library's own launches (minus sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            if os.path.basename(d) == "target":
                continue
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(fp):
    """Compile library + benchmark; cache the classpath by source hash."""
    stamp = os.path.join(BENCH, "target", "bench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("fingerprint") == fp:
            return got["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the local repositories only, as the repo's own build does
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True,
                           text=True, timeout=BUILD_BUDGET_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    lines = [l for l in p.stdout.splitlines()
             if "classes" in l and ".jar" in l and not l.startswith("[")]
    if not lines:
        die("build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def driver_mem():
    """The heap build.sbt gives `run` (SPARK_DRIVER_MEM, else its default),
    unless that exceeds the machine's physical memory. Then the JVM's own
    default applies, a quarter of physical memory. On a 4-vCPU, 16 GB VM
    build.sbt's 48g made 3 of 5 artifact_lifecycle runs 1.5-1.9x slower
    than the rest; with the default heap 1 of 13 was."""
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem is None:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'"SPARK_DRIVER_MEM",\s*"(\w+)"', f.read())
        if not m:
            die("build.sbt names no SPARK_DRIVER_MEM default")
        mem = m.group(1)
    units = {"k": 2 ** 10, "m": 2 ** 20, "g": 2 ** 30, "t": 2 ** 40}
    want = int(mem[:-1]) * units[mem[-1].lower()] if mem[-1].lower() in units else int(mem)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return mem if want <= phys else f"{phys // 4 // 2 ** 20}m"


def jvm_flags(run_dir):
    mem = driver_mem()
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags + ["-Dspark.ui.enabled=false",
                    "-Dspark.sql.session.timeZone=UTC",
                    f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=1g",
                    f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]


class Runner:
    """Starts child processes with a shared deadline; kills and reaps
    them on timeout or interruption."""

    def __init__(self, budget):
        self.deadline = time.time() + budget
        self.proc = None

    def run(self, cmd, log):
        left = self.deadline - time.time()
        if left <= 5:
            die("run budget exhausted")
        with open(log, "ab") as lf:
            self.proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=lf,
                                         start_new_session=True)
            try:
                rc = self.proc.wait(timeout=left)
            except subprocess.TimeoutExpired:
                self.kill()
                die(f"timed out: {' '.join(cmd[-12:])}")
            finally:
                self.proc = None
        return rc

    def kill(self):
        p = self.proc
        if p is not None and p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except OSError:
                pass
            p.wait()


def quantile(xs, q):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))
    return s[k]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("normal", "tiny"), default="normal")
    ap.add_argument("--perturb", default="")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("library sources (src/main/scala/graft) not found; run from a checkout")
    fp = fingerprint()
    cp = build(fp)

    nproc = os.cpu_count() or 1
    threads = nproc
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}"
    run_dir = os.path.join(BENCH, ".runs", tag)
    res_dir = os.path.join(BENCH, "results")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(res_dir, exist_ok=True)
    runner = Runner(RUN_BUDGET_S)

    def on_signal(signum, _frame):
        runner.kill()
        shutil.rmtree(run_dir, ignore_errors=True)
        die(f"interrupted by signal {signum}")
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    try:
        result = measure(a, cp, fp, threads, nproc, run_dir, res_dir, tag, runner)
    finally:
        runner.kill()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def generate(a, data):
    tiny = a.scale == "tiny"
    info = {}
    if a.workload == "reference_hw":
        info["n-points"] = gen.points(a.seed, 4000 if tiny else 60_000,
                                      os.path.join(data, "points"))
        info["n-vectors"] = gen.vectors(a.seed, 2000 if tiny else 15_000, 16,
                                        os.path.join(data, "vectors"))
    else:
        gen.corpus(a.seed, 200 if tiny else 1000, os.path.join(data, "corpus"))
    return info


def measure(a, cp, fp, threads, nproc, run_dir, res_dir, tag, runner):
    data = os.path.join(run_dir, "data")
    t_gen = time.time()
    info = generate(a, data)
    t_gen = time.time() - t_gen
    flags = jvm_flags(run_dir)
    provenance = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "traced": bool(a.trace), "threads": threads, "nproc": nproc,
        "commit": commit(), "source_sha256": fp, "jvm_flags": flags,
        "scale": a.scale,
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    log = os.path.join(run_dir, "jvm.log")
    jdir = os.path.join(run_dir, "jvm")
    os.makedirs(jdir)
    out = os.path.join(jdir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--threads", str(threads), "--run-dir", jdir, "--data", data,
            "--out", out, "--scale", a.scale,
            "--trace-out", os.path.join(res_dir, tag + ".trace.json"),
            "--provenance", json.dumps(provenance)]
    for k, v in info.items():
        args += [f"--{k}", str(v)]
    if a.perturb:
        args += ["--perturb", a.perturb]
    t0 = time.time()
    rc = runner.run(["java"] + flags + ["-cp", cp, "bench.Main"] + args, log)
    jvm_wall = time.time() - t0
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(tail(log))
        die(f"JVM exited with {rc}")
    with open(out) as f:
        final = json.load(f)

    attempted = final["attempted"]
    failures = final["failures"]
    if a.workload == "ingest_stream" and not final.get("error"):
        ok, bad = oracle.compare(os.path.join(jdir, "oracle_sql.json"),
                                 os.path.join(jdir, "results"),
                                 os.path.join(data, "corpus"),
                                 set(a.perturb.split(",")))
        attempted += ok + len(bad)
        failures += bad
    if final.get("error"):
        sys.stderr.write(tail(log))
    if failures:
        print("bench: failed checks: " + ",".join(failures), file=sys.stderr)

    lat = final.pop("latency_ms", None) or []
    record = {"provenance": provenance, "gen_s": t_gen, "jvm_wall_s": jvm_wall,
              "latency_samples": len(lat), "attempted": attempted,
              "failures": failures, "jvm": final}
    if a.trace == 0:
        if not lat or not final.get("pass_s") or "ready_ms" not in final:
            sys.stderr.write(tail(log))
            die("run produced no measurements")
        metrics = {
            # launch of the JVM until inputs, artifacts and warm-up are done
            "setup_s": {"value": final["ready_ms"] / 1000.0 - t0, "unit": "s"},
            "pass_s": {"value": statistics.median(final["pass_s"]), "unit": "s"},
            "latency_p50_ms": {"value": quantile(lat, 0.50), "unit": "ms"},
        }
    else:
        layers = final.get("layers")
        if not layers:
            sys.stderr.write(tail(log))
            die("traced run produced no per-layer numbers")
        layers["fail_ratio"] = len(failures) / max(1, attempted)
        # the tail: the highest percentile with at least ten samples beyond
        # it, capped at p99 (HW3 items: p99; 30 traced serve requests: p67)
        if lat:
            q = min(0.99, max(0.5, 1 - 10 / len(lat)))
            layers["latency_tail_ms"] = quantile(lat, q)
            record["latency_tail_quantile"] = q
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in per_layer_spec()}
    record["metrics"] = metrics
    with open(os.path.join(res_dir, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    return {"correct": not failures, "attempted": max(1, attempted),
            "failed": len(failures), "metrics": metrics}


def per_layer_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


def commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def tail(path, n=6000):
    try:
        with open(path, errors="replace") as f:
            return f.read()[-n:]
    except OSError:
        return ""


if __name__ == "__main__":
    main()
