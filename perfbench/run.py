#!/usr/bin/env python3
"""Run one benchmark workload against the forget-table library and print its summary.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload forget_table --seed 1 --seconds 20 --trace 0

The first run builds the library and the harness with sbt (offline) and
caches the classpath in `.bench_build/`; later runs start the harness
with plain `java`. The runner generates the workload's inputs from the
seed (gen.py), starts the harness once, and prints a few plain lines
followed by one JSON summary line. Standard output carries no other
brace, so the summary parses by last line, by line scan and by slicing
from the first `{` to the last `}`. The harness's own output goes to a
log file next to its full result (`.bench_build/runs/...`).
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
SPEC = os.path.join(ROOT, "BENCHMARK.json")
SUITE_DATA = os.path.join(HERE, "data", "sf0.01")
SUITE_EXPECTED = os.path.join(HERE, "expected", "suite.tsv")
HARNESS_TIMEOUT_S = 165

sys.path.insert(0, HERE)
import gen  # noqa: E402

# What `spark-submit` would add on JDK 17 (as the library's build.sbt does).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    """A run that must end without a summary line."""


def build_inputs():
    """The files whose content decides what the build produces."""
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def ensure_build(log):
    """Build with sbt unless the cached classpath matches the sources; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError("the library's sources (build.sbt, src/main/scala) are not in "
                         f"{ROOT}; run from the root of a full checkout")
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    with open(os.path.join(BUILD, "build.log")) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cps = [ln for ln in lines if not ln.startswith("[") and os.pathsep in ln]
    if r.returncode != 0 or not cps:
        raise BenchError(f"build failed (exit {r.returncode}); see .bench_build/build.log")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (empty where there is none)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two samples."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else float("nan")


def suite_queries():
    with open(SUITE_EXPECTED) as f:
        return [ln.split("\t")[0] for ln in f if ln.strip() and not ln.startswith("#")]


def run_harness(classpath, args, run_dir):
    """Start the harness for one run and return its parsed result file."""
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    for d in (inputs, work, tmp):
        os.makedirs(d, exist_ok=True)
    gen.generate(args.workload, args.seed, inputs,
                 suite_queries() if args.workload == "suite" else ())
    result = os.path.join(run_dir, "result.json")
    cmd = (["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--inputs", inputs, "--work", work,
              "--out", result, "--data", SUITE_DATA, "--expected", SUITE_EXPECTED])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"harness ran over {HARNESS_TIMEOUT_S} s; see {run_dir}/harness.log")
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(inputs, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.isfile(result):
        raise BenchError(f"harness exited {code}; see {run_dir}/harness.log")
    with open(result) as f:
        return json.load(f)


def summarize(result, spec, trace):
    """The contract's summary object for one harness result."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    have = result["per_layer"] if trace else result["end_to_end"]
    if trace:
        # a layer the workload does not touch did no work: 0, not missing
        have = {m["name"]: 0.0 for m in wanted if m["name"] not in have} | have
    missing = [m["name"] for m in wanted if have.get(m["name"]) is None]
    if missing:
        raise BenchError("harness did not report: " + ", ".join(missing))
    return {
        "correct": bool(result["correct"]) and result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: {"value": float(have[m["name"]]), "unit": m["unit"]}
                    for m in wanted},
    }


def plain(text):
    """A line that cannot be mistaken for the summary: no braces."""
    return text.replace("{", "(").replace("}", ")")


def render(lines, summary):
    """Standard output of a run: plain lines, then the summary as the last line."""
    return "".join(plain(ln) + "\n" for ln in lines) + json.dumps(summary) + "\n"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        with open(SPEC) as f:
            spec = json.load(f)
        if args.workload not in {w["name"] for w in spec["workloads"]}:
            raise BenchError(f"unknown workload {args.workload}")
        classpath = ensure_build(lambda s: print(plain(s), file=sys.stderr))
        run_dir = os.path.join(BUILD, "runs",
                               f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        load_start = os.getloadavg()
        cpu_start = cpu_times()
        t0 = time.time()
        result = run_harness(classpath, args, run_dir)
        steal = steal_share(cpu_start, cpu_times())
        summary = summarize(result, spec, args.trace)
    except (BenchError, OSError, subprocess.SubprocessError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    d = result["detail"]
    lines = [
        f"workload {args.workload} seed {args.seed} trace {args.trace}: "
        f"{result['attempted']} ops, {result['failed']} failed, {time.time() - t0:.1f} s wall",
        f"check: {result['why']}",
        f"host: nproc {os.cpu_count()}, loadavg start {load_start[0]:.2f} "
        f"end {os.getloadavg()[0]:.2f}, in-run start {d['host.load_start']:.2f} "
        f"end {d['host.load_end']:.2f}, cpu steal {steal:.3f}",
        "detail: " + ", ".join(f"{k} {v:.6g}" for k, v in sorted(d.items())
                               if not k.startswith("host.")),
        f"full result: {os.path.relpath(run_dir, ROOT)}/result.json",
    ]
    sys.stdout.write(render(lines, summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
