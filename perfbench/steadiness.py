"""Steadiness report: repeat each workload in fresh processes and print,
per end-to-end metric, the median and the quartile spread as a share of
the median (``statistics.quantiles(values, n=4)``), next to each run's
host steal time. Workload order alternates between repetitions.

    python3 perfbench/steadiness.py --first-seed 101

``--seconds`` defaults to ``run_seconds`` in ``BENCHMARK.json``.

Seeds are ``--first-seed`` + repetition number. In the first repetition
each untraced run is followed at once by a traced run of the same seed;
the pair gives the tracing overhead and the traced run's self-time
accounting. The tables go to stdout; the raw runs go to
``.perfbench/steadiness.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10  # repetitions per workload


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    result = json.loads(lines[-1])
    info = json.loads(lines[-2].removeprefix("info "))
    return {"workload": workload, "seed": seed, "info": info, **result}


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def tracing_overhead(untraced: dict, traced: dict) -> dict:
    """Traced against untraced round medians of one seed, and the traced
    run's accounting of round wall time."""
    with open(os.path.join(ROOT, traced["info"]["trace_files"][1])) as f:
        layers = json.load(f)
    out = {"seed": traced["seed"], "steal_s": [untraced["info"]["steal_s"],
                                              traced["info"]["steal_s"]]}
    for metric, ms in layers["traced"].items():
        out[metric] = ms / untraced["metrics"][metric]["value"] - 1
    out.update(layers["accounting"])
    return out


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    from run import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    ap.add_argument("--seconds", type=int, default=run_seconds)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    workloads = list(WORKLOADS)

    runs: list[dict] = []
    overhead: dict[str, dict] = {}
    for i in range(RUNS):
        for w in workloads if i % 2 == 0 else workloads[::-1]:
            r = run_once(w, args.first_seed + i, args.seconds, 0)
            runs.append(r)
            m = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
            print(f"{w} seed {r['seed']} steal {r['info']['steal_s']:.2f}s "
                  f"failed {r['failed']}/{r['attempted']} {m}", flush=True)
            if i == 0:
                t = run_once(w, r["seed"], args.seconds, 1)
                overhead[w] = tracing_overhead(r, t)
                print(f"{w} seed {t['seed']} traced: {overhead[w]}", flush=True)
    with open(os.path.join(ROOT, ".perfbench", "steadiness.json"), "w") as f:
        json.dump({"runs": runs, "tracing_overhead": overhead}, f, indent=1)

    print(f"\n{'workload':10} {'metric':14} {'median':>12} {'IQR/median':>11}")
    for w in workloads:
        mine = [r for r in runs if r["workload"] == w]
        for name in mine[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in mine]
            print(f"{w:10} {name:14} {statistics.median(vals):12.4f} {spread(vals):11.4f}")
        steal = [r["info"]["steal_s"] for r in mine]
        print(f"{w:10} {'steal_s/run':14} {statistics.median(steal):12.4f}"
              f"  min {min(steal):.2f} max {max(steal):.2f}")

    print(f"\n{'workload':10} {'round wall ms':>13} {'round self ms':>13} "
          f"{'probe ms':>9} {'apply ovh':>9} {'read ovh':>9}")
    for w, o in overhead.items():
        print(f"{w:10} {o['round_wall_ms']:13.0f} {o['round_self_ms']:13.0f} "
              f"{o['probe_ms']:9.0f} {o['apply_p50_ms']:+9.1%} {o['read_p50_ms']:+9.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
