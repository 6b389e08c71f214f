"""Repeat benchmark runs and judge them.

    python3 perfbench/repeat.py spread --workload sync_incremental --seeds 1-10
    python3 perfbench/repeat.py pins --workload sync_incremental --seed 1

``spread`` runs the untraced workload once per seed and prints, for each
end-to-end metric, the median and the inter-quartile spread as a share of
the median next to a third of the metric's bound. It exits 1 when a spread
other than ``setup_s``'s reaches a third of its bound.

``pins`` makes two traced runs with one seed and compares the counters that
steal cannot move (jobs, py4j calls, checkpoints, instants, manifests,
metadata files). It exits 1 when one differs, naming it.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from stats import p50, spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """One benchmark run: its result line and its run record."""
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=False,
    )
    if out.returncode != 0:
        raise RuntimeError(f"run failed ({out.returncode}): {out.stderr[-2000:]}")
    record = next(
        json.loads(line.split(" ", 1)[1])
        for line in out.stderr.splitlines()
        if line.startswith("perfbench-record ")
    )
    return json.loads(out.stdout.strip().splitlines()[-1]), record


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def bench() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def cmd_spread(args) -> int:
    spec = bench()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {m: [] for m in bounds}
    for seed in seeds(args.seeds):
        result, record = run_once(args.workload, seed, spec["run_seconds"], 0)
        if args.save:
            with open(args.save, "a") as fh:
                fh.write(json.dumps({"result": result, "record": record}) + "\n")
        for m in bounds:
            values[m].append(result["metrics"][m]["value"])
        print(
            f"seed {seed}: failed {result['failed']}/{result['attempted']} "
            f"steal {record['steal_jiffies']} run {record['run_s']:.1f}s "
            + " ".join(f"{m}={result['metrics'][m]['value']:.4g}" for m in bounds),
            flush=True,
        )
    worst = 0
    for m, vals in values.items():
        s = spread(vals)
        ok = m == "setup_s" or s < bounds[m] / 3
        worst |= not ok
        print(f"{m:24s} median {p50(vals):.5g} spread {s:.4f} (third of bound {bounds[m] / 3:.4f})"
              f"{'' if ok else '  TOO WIDE'}")
    return int(worst)


def cmd_pins(args) -> int:
    spec = bench()
    a = run_once(args.workload, args.seed, spec["run_seconds"], 1)[1]["pinned"]
    b = run_once(args.workload, args.seed, spec["run_seconds"], 1)[1]["pinned"]
    differ = {k: (a.get(k), b.get(k)) for k in sorted(set(a) | set(b)) if a.get(k) != b.get(k)}
    for k, (x, y) in differ.items():
        print(f"differs: {k} {x} != {y}")
    print(f"{len(a) - len(differ)} of {len(a)} pinned counters repeat")
    return int(bool(differ))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True)
    sp.add_argument("--seeds", default="1-10")
    sp.add_argument("--save", help="append each run's result and record to this JSON-lines file")
    pp = sub.add_parser("pins")
    pp.add_argument("--workload", required=True)
    pp.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    return cmd_spread(args) if args.cmd == "spread" else cmd_pins(args)


if __name__ == "__main__":
    sys.exit(main())
