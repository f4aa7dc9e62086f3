"""Run the benchmark at several seeds and summarize each metric.

    python3 perfbench/repeat.py --workload mor_stream_compact \\
        --seconds 15 --seeds 1 2 3 4 5 [--trace 1] [--json out.json]

Runs one benchmark process per seed, one after another, and prints for
every metric its median, quartiles and spread (interquartile distance over
the median, from ``statistics.quantiles(values, n=4)``), plus each run's
wall time and correctness.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
RUN = HERE / "run.py"
sys.path.insert(0, str(HERE.parent))
from perfbench.stats import spread  # noqa: E402


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) < 2:
        return {"median": med, "q1": med, "q3": med, "spread": None, "n": 1}
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": spread(values) if med else None, "n": len(values)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--json")
    args = ap.parse_args(argv)

    runs = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(RUN), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines \
            else None
        runs.append({"seed": seed, "wall_s": wall, "rc": proc.returncode,
                     "result": result, "report": lines[:-1]})
        ok = result["correct"] if result else False
        print(f"seed {seed}: rc={proc.returncode} wall={wall:.1f}s "
              f"correct={ok}", flush=True)
    names = sorted({n for r in runs if r["result"]
                    for n in r["result"]["metrics"]})
    table = {}
    for n in names:
        vals = [r["result"]["metrics"][n]["value"] for r in runs
                if r["result"] and n in r["result"]["metrics"]]
        table[n] = summary(vals)
        s = table[n]
        spread = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
        print(f"{n:<44} median={s['median']:<12.6g} q1={s['q1']:<12.6g} "
              f"q3={s['q3']:<12.6g} spread={spread}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s")
    if args.json:
        Path(args.json).write_text(json.dumps(
            {"workload": args.workload, "seconds": args.seconds,
             "trace": args.trace, "runs": runs, "metrics": table},
            indent=1))
    return 0 if all(r["result"] and r["result"]["correct"]
                    for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
