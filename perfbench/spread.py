"""Run-to-run spread of the end-to-end metrics, as the acceptance check
takes it: one run per seed, one after another, then per metric the
distance between the first and third quartile of the run values
(``statistics.quantiles(values, n=4)``) as a share of their median.

Run from the repository root::

    python3 perfbench/spread.py --workload knn_dtw --seeds 701-710 \\
        --seconds 25 --save runs_knn.jsonl

Each run's two last stdout lines (record and result) are appended to
``--save`` as one JSON line, so a set can be summarized again later with
``--load``.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END  # noqa: E402


def seed_list(text: str) -> list[int]:
    """'701-710' or '1,5,9' -> seeds."""
    if "-" in text:
        lo, hi = (int(x) for x in text.split("-"))
        return list(range(lo, hi + 1))
    return [int(x) for x in text.split(",")]


def run_one(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600).stdout
    lines = out.strip().splitlines()
    return {"seed": seed, "record": json.loads(lines[-2])["perfbench_record"],
            "result": json.loads(lines[-1])}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def summarize(runs: list[dict]) -> str:
    lines = ["| metric | median | q1 | q3 | (q3−q1)/median | bound |",
             "|---|---|---|---|---|---|"]
    for name, (_, _, bound) in END_TO_END.items():
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med, q1, q3, s = spread(vals)
        lines.append(f"| `{name}` | {med:.4g} | {q1:.4g} | {q3:.4g} | {s:.3f} | {bound} |")
    ops = [o for r in runs for o in r["record"]["ops"]]
    counts = sorted({(o["jobs"], o["stages"]) for o in ops})
    steal = [r["record"]["steal_frac"] for r in runs]
    wall = [r["record"]["wall_s"] for r in runs]
    lines += [
        "",
        f"- seeds {', '.join(str(r['seed']) for r in runs)}; {len(ops)} timed ops, "
        f"{sum(1 for o in ops if o['errors'])} failed; every run `correct`: "
        f"{all(r['result']['correct'] for r in runs)}; (jobs, stages) of every op: {counts}.",
        f"- timed ops per run: {sorted(len(r['record']['ops']) for r in runs)}.",
        f"- run wall time: median {statistics.median(wall):.1f} s, max {max(wall):.1f} s; "
        f"steal per run: median {statistics.median(steal):.3f}, max {max(steal):.3f}.",
    ]
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--save", help="append each run here as a JSON line")
    ap.add_argument("--load", help="summarize the runs saved here instead")
    args = ap.parse_args(argv)
    if args.load:
        with open(args.load) as f:
            runs = [json.loads(line) for line in f if line.strip()]
    else:
        runs = []
        for seed in seed_list(args.seeds):
            run = run_one(args.workload, seed, args.seconds)
            runs.append(run)
            m = {k: round(v["value"], 4) for k, v in run["result"]["metrics"].items()}
            print(f"[spread] {args.workload} seed {seed}: {m}", file=sys.stderr, flush=True)
            if args.save:
                with open(args.save, "a") as f:
                    f.write(json.dumps(run, default=str) + "\n")
    print(summarize(runs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
