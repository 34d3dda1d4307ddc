"""Steadiness check: run workloads on several seeds and report, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) as a share
of the median, beside the metric's bound from BENCHMARK.json.

    python3 perfbench/spread.py --seeds 1-10 [--workload W ...] [--out FILE]

Each run is `run.py --trace 0` in its own process, as the benchmark is
normally invoked; wall time per run is reported too. With --out, every
run's result is appended to FILE as one JSON line.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import run  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.loads((run.build.ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    for w in a.workload or [x["name"] for x in spec["workloads"]]:
        values, walls = {}, []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, str(run.build.HERE / "run.py"),
                                "--workload", w, "--seed", str(s),
                                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": s, "wall_s": walls[-1], **r}) + "\n")
            if not r["correct"]:
                print(f"{w} seed {s}: correct=false failed={r['failed']}/{r['attempted']}")
            for n, m in r["metrics"].items():
                values.setdefault(n, []).append(m["value"])
        print(f"== {w}: runs={len(walls)} wall_s median={statistics.median(walls):.1f} "
              f"max={max(walls):.1f}")
        for n, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [vs[0]] * 3
            spread = (q[2] - q[0]) / med if med else float("inf")
            flag = "" if n == "setup_s" or spread < bounds[n] / 3 else \
                ("  <- above bound/3" if spread < bounds[n] else "  <- ABOVE BOUND")
            print(f"  {n:22s} median={med:<14.6g} spread={spread:.3f} "
                  f"bound={bounds[n]}{flag}")
        sys.stdout.flush()


if __name__ == "__main__":
    main()
