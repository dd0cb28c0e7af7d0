#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name|all> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt (offline, once
per checkout; the build is reused while no source changes), runs one
workload in one JVM, prints every metric with its unit and, as the last
line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. Exits 1 when an output check failed and
2 when the program cannot be built or run. See perfbench/NOTES.md.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
SWEEPS = ["queries_overhead"]
WORKLOADS = ["etl_50k"] + SWEEPS
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the program's own
# build passes the same list to its forked runs).
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


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    inputs = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        inputs += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in inputs:
        if p.is_file():
            st = p.stat()
            h.update(f"{p.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
            f"-Dsbt.global.base={BUILD / 'sbt-global'}", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles program and benchmark; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources next to the benchmark (expected build.sbt and "
             f"src/main/scala in {ROOT})")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the program")
    BUILD.mkdir(exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building program and benchmark with sbt")
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def run_jvm(cp, workload, main_args, deadline):
    """Runs perfbench.Main; returns the text of its result file."""
    work = BUILD / "work" / workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    # a fixed heap: no resizing collections while the window runs
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + main_args
           + ["--bench", str(BENCH), "--work", str(work), "--result", str(result)])
    # the JVM's stdout goes to stderr: the last stdout line is the result
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{workload}: run exceeded its time limit")
    if rc != 0 or not result.is_file():
        fail(f"{workload}: the benchmark JVM exited with code {rc}")
    return result.read_text()


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec, spec["per_layer" if trace else "end_to_end"]


def report(res, spec_metrics):
    """Prints the human-readable lines; returns the contract's result."""
    names = [m["name"] for m in spec_metrics]
    got = res["metrics"]
    if sorted(got) != sorted(names):
        fail(f"metric names {sorted(got)} do not match BENCHMARK.json {sorted(names)}", 3)
    for m in spec_metrics:
        v = got[m["name"]]
        if v["unit"] != m["unit"]:
            fail(f"{m['name']}: unit {v['unit']} != BENCHMARK.json {m['unit']}", 3)
    wl, info = res["workload"], res["info"]
    print(f"== {wl}  seed {res['seed']}  trace {res['trace']}  cores {res['cores']}")
    for n in names:
        print(f"{wl}  {n:<28} {got[n]['value']:.6g} {got[n]['unit']}")
    if "op_p50_s" in info:
        print(f"{wl}  {'op_p50_s':<28} {info['op_p50_s']:.6g} s  (median of "
              "each operation kind's median; not in BENCHMARK.json)")
        print(f"{wl}  {'op_tail_s':<28} {info['op_tail_s']:.6g} s  "
              f"(p{info['op_tail_percentile']:.1f} of {int(info['op_samples'])} "
              "samples; not in BENCHMARK.json)")
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(f"{wl}  {'fail_ratio':<28} {failed / attempted:.6g} 1  "
          f"({failed} of {attempted} operations and checks)")
    for k in sorted(info):
        if not k.startswith("op_"):
            print(f"{wl}  info {k}: {json.dumps(info[k])}")
    for n in res["notes"]:
        print(f"{wl}  note: {n}")
    for f in res["failures"]:
        print(f"{wl}  FAILED: {f}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": got}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true",
                    help="write a sweep's result fingerprints to perfbench/pinned/ "
                         "(only after its queries passed the DuckDB oracle)")
    args = ap.parse_args()
    if args.pin:
        if args.workload not in SWEEPS:
            fail(f"--pin applies to {', '.join(SWEEPS)}")
        text = run_jvm(build(), args.workload, ["--pin", args.workload],
                       time.time() + RUN_LIMIT_S)
        (BENCH / "pinned" / f"{args.workload}.tsv").write_text(text)
        log(f"pinned {len(text.splitlines())} fingerprints")
        return
    if not (ROOT / "BENCHMARK.json").is_file():
        fail("BENCHMARK.json not found at the repository root")
    spec, spec_metrics = expected_metrics(args.trace)
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    cp = build()
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = []
    for wl in workloads:
        t0 = time.time()
        res = json.loads(run_jvm(
            cp, wl, ["--workload", wl, "--seed", str(args.seed), "--seconds",
                     str(seconds), "--trace", str(args.trace)], t0 + RUN_LIMIT_S))
        results.append((wl, report(res, spec_metrics)))
        log(f"{wl}: {time.time() - t0:.1f} s")
    if len(results) == 1:
        out = results[0][1]
    else:
        out = {"correct": all(r["correct"] for _, r in results),
               "attempted": sum(r["attempted"] for _, r in results),
               "failed": sum(r["failed"] for _, r in results),
               "metrics": {f"{wl}/{n}": v for wl, r in results
                           for n, v in r["metrics"].items()}}
    print(json.dumps(out), flush=True)
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
