#!/usr/bin/env python3
"""Benchmark of the ingestion daemon and the query board.

Usage, from the repository root:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

Workloads (see perfbench/NOTES.md): daemon, board_mix.
Builds the program from source on first use (perfbench/build.py), runs
the workload in one JVM with local[4], checks every output, and prints one
JSON line last on stdout: correct, attempted, failed and the end-to-end
metrics of BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1).
The full report (every figure, tail percentiles, spans) goes to stderr and
to .perfbench/out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ("daemon", "board_mix")
# the board's tables are fixed, like the project's own test tables
BOARD_SEED = 42
BUDGET_S = 170  # a run must end within 180 s; the first build has its own allowance
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(root, classes, args, work, deadline):
    import build
    cp = f"{classes}:{os.path.join(build.spark_jars(root), '*')}"
    cmd = ["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("the JVM overran the time budget; killed")
    if rc != 0:
        die(f"the JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    # accepted for the common interface; every run does a fixed amount of
    # work, so that a faster program shows as a shorter wall
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        die("--workload is required")
    start = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        die(f"no program sources at {root}/src/main/scala; run from the repository root")
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        die("BENCHMARK.json not found")

    import build
    b0 = time.time()
    classes = build.build(root)
    deadline = start + (time.time() - b0) + BUDGET_S  # a fresh build gets its own time
    state = os.path.join(root, ".perfbench")
    workload = a.workload or "board_mix"
    tag = "selftest" if a.selftest else f"{workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(state, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = ""
        if workload == "board_mix":
            import board_data
            data = board_data.generate(BOARD_SEED, os.path.join(state, "data"))
        out = os.path.join(work, "result.json")
        args = ["--workload", workload, "--seed", str(a.seed), "--trace", str(a.trace), "--work", work, "--out", out, "--data", data]
        if a.selftest:
            args += ["--selftest", "1"]
        run_jvm(root, classes, args, work, deadline)
        with open(out) as f:
            res = json.load(f)
        if a.selftest:
            return selftest(res, data, work, state)
        result(a, spec, res, data, work, state)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result(a, spec, res, data, work, state):
    failed, attempted = res["failed"], res["attempted"]
    unexpected = res["unexpected"]
    notes = list(res["unexpected_notes"])
    logic = list(res["check_logic_failures"])
    if a.workload == "board_mix":
        import oracle
        with open(os.path.join(work, "board-out", "oracle_sql.json")) as f:
            sql = json.load(f)
        bad, why, lg = oracle.check(data, res["board"], sql, os.path.join(state, "oracle-cache"))
        failed += bad
        unexpected += bad
        notes += why
        logic += lg
        res["report"]["failed_share"] = {"value": failed / attempted, "unit": "share"}
    want = [m["name"] for m in spec["end_to_end" if a.trace == 0 else "per_layer"]]
    have = res["e2e"] if a.trace == 0 else res["per_layer"]
    missing = [m for m in want if m not in have or have[m]["value"] is None]
    if missing:
        die(f"metrics not measured: {missing}")
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "known_defect_files": res["known_defect"], "unexpected_failures": unexpected,
              "unexpected_notes": notes[:10], "check_logic_failures": logic,
              "report": res["report"], "per_layer": res["per_layer"]}
    print(json.dumps(report, indent=1), file=sys.stderr)
    os.makedirs(os.path.join(state, "out"), exist_ok=True)
    with open(os.path.join(state, "out", f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(dict(report, spans=res["spans"]), f)
    print(json.dumps({
        "correct": unexpected == 0 and not logic,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: have[m] for m in want},
    }))


def selftest(res, data, work, state):
    import oracle
    msgs = list(res["messages"])
    ok = res["selftest_ok"]
    # a wrong oracle row must fail the compare
    with open(os.path.join(work, "board-out", "oracle_sql.json")) as f:
        sql = json.load(f)
    bad, why, logic = oracle.check(data, res["board"], sql, os.path.join(state, "oracle-cache"))
    msgs.append(f"board outputs vs oracle: {'all match' if bad == 0 else why}")
    msgs.append("wrong oracle row: " + ("NOT DETECTED: " + "; ".join(logic) if logic else "detected"))
    ok = ok and bad == 0 and not logic
    for m in msgs:
        print(f"[selftest] {m}")
    print(f"[selftest] {'PASS' if ok else 'FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
