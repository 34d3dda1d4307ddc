"""Run the benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (see build.py), then runs
one workload in its own JVM and Spark session. The last line of standard
output is one JSON object: correct, attempted, failed, and the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1) named in
BENCHMARK.json. `--workload all` runs every workload in turn and prints
each one's end-to-end metrics by name and unit.

Everything the run writes stays under .bench_build/ of the checkout: the
compiled classes, the working directory of the run (deleted afterwards),
Spark's scratch space, and the span file of a traced run
(.bench_build/traces/<workload>-seed<N>.jsonl).
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys
import threading

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["ledger_session", "textops_mix"]
# One run must end within 180 s; a stuck JVM is killed before that.
RUN_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(main, args):
    tmp = build.OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + opens
            + ["-cp", build.classpath(), main] + args)


def java_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["SPARK_LOCAL_DIRS"] = str(build.OUT / "tmp" / "spark-local")
    return env


def run_jvm(main, args, timeout=RUN_TIMEOUT_S):
    """Run a JVM, echo its stdout, return (exit code, last stdout line)."""
    p = subprocess.Popen(java_cmd(main, args), env=java_env(), cwd=build.ROOT,
                         stdout=subprocess.PIPE, text=True)
    timer = threading.Timer(timeout, p.kill)
    timer.start()
    last = ""
    try:
        for line in p.stdout:
            line = line.rstrip("\n")
            if line.strip():
                last = line
            if not line.startswith("{"):
                print(line, flush=True)
        code = p.wait()
    finally:
        timer.cancel()
        if p.poll() is None:
            p.kill()
            p.wait()
    return code, last


def expected_metrics(trace):
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_one(workload, seed, seconds, trace):
    work = build.OUT / "work" / f"{workload}-{seed}-{os.getpid()}"
    trace_out = build.OUT / "traces" / f"{workload}-seed{seed}.jsonl"
    try:
        code, last = run_jvm("perfbench.Main", [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--dir", str(work), "--trace-out", str(trace_out)])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise RuntimeError(f"{workload}: JVM exited with {code}")
    result = json.loads(last)
    names = set(result["metrics"])
    want = expected_metrics(trace)
    if names != want:
        raise RuntimeError(f"{workload}: metrics differ from BENCHMARK.json: "
                           f"missing {sorted(want - names)}, extra {sorted(names - want)}")
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        build.build()
        if a.selftest:
            code, _ = run_jvm("perfbench.SelfTest", [str(build.OUT / "selftest")], timeout=900)
            shutil.rmtree(build.OUT / "selftest", ignore_errors=True)
            sys.exit(code)
        if a.workload == "all":
            for w in WORKLOADS:
                r = run_one(w, a.seed, a.seconds, 0)
                print(f"== {w}: correct={r['correct']} attempted={r['attempted']} "
                      f"failed={r['failed']}")
                for n, m in r["metrics"].items():
                    print(f"{w} {n} {m['value']} {m['unit']}")
            return
        if a.workload not in WORKLOADS:
            ap.error(f"--workload must be one of {WORKLOADS} or all")
        r = run_one(a.workload, a.seed, a.seconds, a.trace)
        print(json.dumps(r), flush=True)
    except (build.BuildError, RuntimeError, ValueError, OSError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
