"""Steadiness check: repeat a workload over several seeds and judge each
end-to-end metric's run-to-run spread against its bound.

    python3 perfbench/steady.py --workload kafsql --runs 5 [--first-seed 1]
                                [--trace-overhead]

Runs ``run.py`` once per seed, one after another, from the checkout root.
For every end-to-end metric of ``BENCHMARK.json`` it prints the median,
the inter-quartile spread as a share of the median, the bound, and a
verdict: ``steady`` (spread within a third of the bound), ``within-bound``,
``noisy``, ``exempt`` (``setup_s``: only its median is bounded) or
``refused`` (a percentile the runs' op counts cannot support).
``--trace-overhead`` also makes a traced run per seed and prints how far
its median latency sits from the untraced runs'.
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
sys.path.insert(0, HERE)

import stats  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["report"] = [ln for ln in lines[:-1] if ln.startswith("#")]
    return res


def summarize(spec: dict, results: list[dict]) -> list[dict]:
    samples = [r["attempted"] for r in results]
    return [
        stats.verdict(m, [r["metrics"][m["name"]]["value"] for r in results], samples)
        for m in spec["end_to_end"]
    ]


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args(argv)

    results, traced = [], []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        r = run_once(args.workload, seed, args.seconds, 0)
        r["seed"] = seed
        results.append(r)
        line = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {seed}: ops={r['attempted']} failed={r['failed']} {line}", flush=True)
        if args.trace_overhead:
            traced.append(run_once(args.workload, seed, args.seconds, 1))

    print(f"\n{args.workload}: {len(results)} runs, ops per run "
          f"{min(r['attempted'] for r in results)}..{max(r['attempted'] for r in results)}, "
          f"failed {sum(r['failed'] for r in results)}")
    ok = all(r["correct"] for r in results)
    for v in summarize(spec, results):
        if v["status"] == "refused":
            print(f"  {v['name']:<18} refused: {v['why']}")
            continue
        print(f"  {v['name']:<18} median {v['median']:>12.4f}  spread {v['spread']:6.1%}  "
              f"bound {v['bound']:5.0%}  {v['status']}")
        ok = ok and v["status"] in ("steady", "within-bound", "exempt")
    if traced:
        plain = statistics.median(r["metrics"]["latency_p50_ms"]["value"] for r in results)
        with_tr = statistics.median(r["metrics"]["trace.op_latency_p50_ms"]["value"] for r in traced)
        print(f"  tracing overhead: p50 {with_tr:.1f} ms traced vs {plain:.1f} ms untraced "
              f"({(with_tr - plain) / plain:+.1%})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
