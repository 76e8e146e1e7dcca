#!/usr/bin/env python3
"""Steadiness check: run sets of benchmark runs and report each
end-to-end metric's spread against its bound in ``BENCHMARK.json``.

    python3 perfbench/steady.py --runs 10 --sets 2 [--workloads warehouse,curation]

Each set runs every workload ``--runs`` times, each with another seed,
one run at a time. A metric's spread is the distance between the first
and third quartile of its values (``statistics.quantiles(n=4)``) as a
share of their median; it must stay within the bound (``setup_s`` is
exempt). With two or more sets, each set's median must also not be
worse than the first set's by more than the bound. Prints one line per
workload and metric; exits 1 if any check fails or any run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def worsening(first: float, later: float, better: str) -> float:
    """How much worse ``later`` is than ``first``, as a share of ``first``
    (negative when it is better)."""
    change = (later - first) / first
    return change if better == "lower" else -change


def run_once(workload: str, seed: int, seconds: int, trace: int = 0) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}: {proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["steal"] = [ln.split("host steal ")[1].split(":")[0] for ln in lines if ln.startswith("pass")]
    return res


def assess(sets: list[dict[str, list[float]]], spec: list[dict]) -> list[dict]:
    """One row per metric: its spread in every set, and each later set's
    median worsening against the first set's."""
    rows = []
    for m in spec:
        name, bound = m["name"], m["bound"]
        spreads = [spread(s[name]) for s in sets]
        medians = [statistics.median(s[name]) for s in sets]
        drifts = [worsening(medians[0], med, m["better"]) for med in medians[1:]]
        ok = all(d <= bound for d in drifts) and (name == "setup_s" or all(x <= bound for x in spreads))
        rows.append({"metric": name, "bound": bound, "medians": medians, "spreads": spreads,
                     "drifts": drifts, "ok": ok})
    return rows


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    all_ok = True
    for wl in args.workloads.split(","):
        sets = []
        failed = attempted = 0
        for k in range(args.sets):
            values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
            for i in range(args.runs):
                seed = args.first_seed + 1000 * k + i
                res = run_once(wl, seed, bench["run_seconds"])
                failed += res["failed"]
                attempted += res["attempted"]
                for name in values:
                    values[name].append(res["metrics"][name]["value"])
                print(f"# {wl} set {k} seed {seed}: "
                      + " ".join(f"{n}={v[-1]:.4g}" for n, v in values.items())
                      + f" steal={','.join(res['steal'])}", flush=True)
            sets.append(values)
        print(f"{wl}: failed {failed}/{attempted}")
        all_ok &= failed == 0
        for row in assess(sets, bench["end_to_end"]):
            all_ok &= row["ok"]
            print(f"{wl} {row['metric']}: medians {' '.join(f'{m:.4g}' for m in row['medians'])}"
                  f" spreads {' '.join(f'{s:.3f}' for s in row['spreads'])}"
                  f" worsening {' '.join(f'{d:+.3f}' for d in row['drifts']) or '-'}"
                  f" bound {row['bound']} {'ok' if row['ok'] else 'FAIL'}", flush=True)
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
