"""Steadiness check: run workloads repeatedly on one commit and print, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
over the runs, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload ingest_live --seeds 1-5
    python3 perfbench/steady.py --seeds 1-10 --sets 2 --out spread.json
    python3 perfbench/steady.py --workload search_hot --seeds 1-3 --trace

``--sets 2`` repeats the whole set and also checks that the second set's
median is no worse than the first's by more than the bound. ``--trace``
adds one traced run per seed and prints the tracing overhead: the traced
run's end-to-end value against the untraced one's, as a share of the
untraced median. Run from the root of a checkout; runs go one at a time.
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


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(cfg: dict, workload: str, seed: int, trace: bool) -> dict:
    cmd = [*cfg["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(cfg["run_seconds"]), "--trace", str(int(trace))]
    if cmd[0] == "python3":
        cmd[0] = sys.executable
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: {workload} seed {seed} (exit {proc.returncode})")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def worse(metric: dict, first: float, second: float) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    d = (second - first) / first
    return d if metric["better"] == "lower" else -d


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        cfg = json.load(fh)
    e2e = {m["name"]: m for m in cfg["end_to_end"]}
    workloads = args.workload or [w["name"] for w in cfg["workloads"]]
    seeds = _seeds(args.seeds)
    report: dict = {}
    ok = True
    for wl in workloads:
        sets = []
        for s in range(args.sets):
            rows = []
            for seed in seeds:
                res = run_once(cfg, wl, seed, False)
                ok &= res["correct"] and res["failed"] == 0
                rows.append({k: v["value"] for k, v in res["metrics"].items()})
                print(f"{wl} set {s + 1} seed {seed}: "
                      + ", ".join(f"{k}={v:.4g}" for k, v in rows[-1].items()),
                      flush=True)
            sets.append(rows)
        report[wl] = {}
        for name, m in e2e.items():
            meds = []
            for s, rows in enumerate(sets):
                med, iqr = spread([r[name] for r in rows])
                meds.append(med)
                flag = "" if name == "setup_s" or iqr <= m["bound"] else "  OVER BOUND"
                if flag:
                    ok = False
                print(f"{wl:12s} set {s + 1} {name:16s} median {med:10.4g} "
                      f"spread {iqr:6.3f} bound {m['bound']:.3f}{flag}")
                report[wl].setdefault(name, []).append({"median": med, "spread": iqr})
            for s in range(1, len(meds)):
                w = worse(m, meds[0], meds[s])
                if w > m["bound"]:
                    ok = False
                print(f"{wl:12s} set {s + 1} vs 1 {name:16s} worse by {w:+.3f}"
                      + ("  OVER BOUND" if w > m["bound"] else ""))
        if args.trace:
            untraced = {n: statistics.median(r[n] for rows in sets for r in rows) for n in e2e}
            traced: dict[str, list[float]] = {}
            for seed in seeds:
                res = run_once(cfg, wl, seed, True)
                ok &= res["correct"] and res["failed"] == 0
                for k, v in res["metrics"].items():
                    if k.startswith("traced."):
                        traced.setdefault(k[len("traced."):], []).append(v["value"])
            for name, xs in traced.items():
                over = worse(e2e[name], untraced[name], statistics.median(xs))
                print(f"{wl:12s} tracing overhead {name:16s} {over:+.3f}")
                report[wl].setdefault("tracing_overhead", {})[name] = over
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
