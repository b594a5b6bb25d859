#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

  python3 perfbench/run.py --workload reports --seed 1 --seconds 20 --trace 0

Builds the engine from source (cached per source hash), makes the
workload's inputs, and runs the workload in a fresh JVM with one
closed-loop client: JVM and session start plus two untimed warm-up passes
are the set-up, then the workload's operations repeat, pass after pass,
until the passes' times (with the time the hypervisor stole taken out)
add up to `--seconds`, and at least three passes. The end-to-end
metrics are medians over those passes. Every operation's output is then
checked, and each metric is printed with its unit. The last stdout line
is one JSON object with the keys `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. The full self-documenting record (and, when
traced, the spans) lands in
.bench_build/perfbench/runs/<workload>-seed<seed>-trace<t>/.
Exits non-zero when an output check fails or the run cannot be made.
See perfbench/README.md for the workloads and the metric map.
"""
import argparse
import datetime as dt
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import checks  # noqa: E402
import gen_reports  # noqa: E402

# The operations of each workload are defined in perfbench/scala (Harness.Workloads).
WORKLOADS = ("reports", "corpus")
# Scale of the inputs: (catalog scale factor, reports event count).
FULL = ("0.01", 10_000)
SMOKE = ("0.001", 2_000)
# Days the reports events span: Top10 writes one directory per day.
REPORT_DAYS = 14
# A fixed, pre-touched heap (-Xms = -Xmx, AlwaysPreTouch): otherwise the
# resident high-water mark follows how much of the heap G1 happened to
# touch, which moved it by up to 15 % between identical runs.
HEAP = "-Xmx2g"
# C1 only: every pass plans its queries anew and Spark's code generator
# compiles fresh classes for them, which C2 kept compiling in the
# background through every timed pass (13-18 s of CPU per 5-7 s reports
# pass on two task slots, falling pass after pass).
JIT = "-XX:TieredStopAtLevel=1"
# Runs started above this 1-minute load average, or whose machine had
# more than this share of its CPU time stolen by the hypervisor during
# the run, are not evidence.
QUIET_LOADAVG = 2.0
QUIET_STEAL = 0.05
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def testdata_dir(root, sf):
    """The read-only tables of scale factor `sf`, as TESTDATA.md lists them."""
    with open(os.path.join(root, "TESTDATA.md")) as f:
        m = re.search(r"^\|\s*" + re.escape(sf) + r"\s*\|\s*`([^`]+)`", f.read(), re.M)
    if not m or not os.path.isdir(m.group(1)):
        die(f"tables for sf{sf} named by TESTDATA.md are not present")
    return m.group(1).rstrip("/")


def reports_inputs(root, seed, n_events):
    """Generated once per (seed, size) and reused, so set-up measures the engine."""
    d = os.path.join(root, build.BUILD_DIR, "inputs",
                     f"reports-seed{seed}-n{n_events}-d{REPORT_DAYS}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_reports.generate(tmp, seed, n_events, days=REPORT_DAYS)
        os.rename(tmp, d)
    return d


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields[:8])
    except (OSError, IndexError, ValueError):
        return None


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs")
    a = p.parse_args(argv)

    root = os.getcwd()
    for need in ("BENCHMARK.json", "TESTDATA.md", "tools/check.py", "src/main/scala"):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a full repository checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    declared = manifest["per_layer" if a.trace else "end_to_end"]

    t_start = time.time()
    utc_start = dt.datetime.now(dt.timezone.utc).isoformat(timespec="seconds")
    la_start = loadavg()
    ticks_start = cpu_ticks()
    classes, source_hash = build.build(root)
    sf, n_events = SMOKE if a.smoke else FULL
    if a.workload == "reports":
        inputs = reports_inputs(root, a.seed, n_events)
    else:
        inputs = testdata_dir(root, sf)

    run_dir = os.path.join(root, build.BUILD_DIR, "runs",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cores = min(2, nproc)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opens = [x for pkg in ADD_OPENS for x in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]
    cmd = [build.java(), HEAP, HEAP.replace("-Xmx", "-Xms"), "-XX:+AlwaysPreTouch", JIT,
           *build.JVM_FLAGS, *opens,
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(root, 'perfbench', 'log4j2.properties')}",
           "-cp", cp, "perfbench.Harness",
           "--workload", a.workload, "--trace", str(a.trace),
           "--cores", str(cores), "--run-dir", run_dir, "--inputs", inputs, "--seed", str(a.seed),
           "--seconds", str(a.seconds),
           "--spawn-ms", str(int(time.time() * 1000))]
    t_jvm = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
        # the engine JVM never outlives this process, whatever stops it
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        try:
            rc = proc.wait(timeout=150)
        except subprocess.TimeoutExpired:
            die(f"the run did not finish in time; see {run_dir}/jvm.log")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        die(f"the engine run failed (exit {rc})")
    with open(result_path) as f:
        res = json.load(f)

    t_check = time.time()
    ops = res["info"]["ops"]
    if a.workload == "reports":
        verdicts = checks.check_reports(root, inputs, os.path.join(run_dir, "out"), ops)
    else:
        verdicts = checks.check_catalog(root, inputs, os.path.join(run_dir, "out"), ops)
    wrong = sum(1 for ok, _ in verdicts.values() if not ok)
    la_end = loadavg()
    ticks_end = cpu_ticks()
    steal = None
    if ticks_start and ticks_end and ticks_end[1] > ticks_start[1]:
        steal = (ticks_end[0] - ticks_start[0]) / (ticks_end[1] - ticks_start[1])
    attempted, failed = res["attempted"], res["failed"]
    e2e = dict(res["end_to_end"])
    e2e["failed_frac"] = {"value": failed / attempted, "unit": "frac"}
    e2e["wrong_frac"] = {"value": wrong / len(ops), "unit": "frac"}
    measured = res["per_layer"] if a.trace else e2e

    summary = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "smoke": a.smoke, "nproc": nproc, "local_n": cores, "jvm_heap": HEAP,
        "git_commit": git_commit(root), "source_sha256": source_hash, "utc_start": utc_start,
        "loadavg_start": la_start, "loadavg_end": la_end, "steal_frac": steal,
        "evidence": (bool(la_start) and la_start[0] <= QUIET_LOADAVG
                     and steal is not None and steal <= QUIET_STEAL),
        "wall_s": {"prepare": t_jvm - t_start, "engine": t_check - t_jvm,
                   "checks": time.time() - t_check},
        "inputs": inputs, "engine": res["info"], "errors": res["errors"],
        "checks": {k: {"ok": ok, "detail": d} for k, (ok, d) in verdicts.items()},
        "end_to_end": e2e, "per_layer": res["per_layer"],
    }
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)

    print(f"# {a.workload} seed={a.seed} trace={a.trace} local[{cores}] nproc={nproc} "
          f"spark={res['info']['spark_version']} heap={HEAP} commit={summary['git_commit'][:12]} "
          f"utc={utc_start} loadavg={la_start}->{la_end} "
          f"steal={steal if steal is None else round(steal, 3)}"
          + ("" if summary["evidence"] else " NOT-EVIDENCE(loadavg>2 or steal>5%)"))
    for op, (ok, detail) in verdicts.items():
        print(f"# check {op}: {'ok' if ok else 'WRONG'} ({detail})")
    for err in res["errors"]:
        print(f"# failed {err}")
    for name, m in e2e.items():
        print(f"{a.workload} {name} {m['value']:.6g} {m['unit']}")
    if a.trace:
        for name in sorted(res["per_layer"]):
            m = res["per_layer"][name]
            print(f"{a.workload} {name} {m['value']:.6g} {m['unit']}")
    print(f"# record: {os.path.relpath(run_dir, root)}/summary.json"
          + (" and spans.json" if a.trace else ""))

    metrics, problems = {}, []
    for d in declared:
        m = measured.get(d["name"])
        if m is None or m["value"] is None:
            problems.append(f"metric {d['name']} missing")
        elif m["unit"] != d["unit"]:
            problems.append(f"metric {d['name']} in {m['unit']}, declared {d['unit']}")
        else:
            metrics[d["name"]] = {"value": m["value"], "unit": m["unit"]}
    for msg in problems:
        sys.stderr.write(f"perfbench: {msg}\n")
    correct = wrong == 0 and failed == 0 and not problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
