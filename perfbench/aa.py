"""A/A self-check: two sets of runs of the same code, against the bounds.

    python3 perfbench/aa.py [--runs N]

Run from the root of a checkout.  For each workload in BENCHMARK.json it
makes 2 x N untraced runs, alternating between set A and set B, each with
its own seed (1, 2, ...), then one traced run.  It prints, for every
end-to-end metric, each set's median and spread (the distance between
the first and third quartile as a share of the median) beside the
metric's bound.  A metric passes if set B's median is not worse than set
A's by more than the bound and both spreads are within a third of the
bound; ``setup_s`` spread is shown but not judged.  The last block is
the tracing overhead: the traced run's wall time per query against the
untraced runs' median.  Exit code 1 if any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cmd: list[str], workload: str, seed: int, seconds: int, trace: int) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed ({proc.returncode}): {' '.join(args)}")
    lines = proc.stdout.strip().splitlines()
    print(f"  {workload} seed={seed} trace={trace} {time.time() - t0:.0f}s  {lines[-2]}",
          flush=True)
    return json.loads(lines[-1])


def _spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seed, ok, report = 1, True, {}
    for wl in (w["name"] for w in bench["workloads"]):
        sets: dict[str, list[dict]] = {"A": [], "B": []}
        for i in range(2 * args.runs):
            res = _run(bench["command"], wl, seed, bench["run_seconds"], 0)
            seed += 1
            ok &= res["correct"]
            sets["AB"[i % 2]].append(res["metrics"])
        traced = _run(bench["command"], wl, seed, bench["run_seconds"], 1)
        seed += 1
        report[wl] = {"sets": sets, "traced": traced["metrics"]}
        print(f"\n{wl}: {'metric':<16} {'unit':>6} {'median A':>11} {'median B':>11} "
              f"{'spread A':>9} {'spread B':>9} {'bound/3':>7}  verdict")
        for m in bench["end_to_end"]:
            a = [r[m["name"]]["value"] for r in sets["A"]]
            b = [r[m["name"]]["value"] for r in sets["B"]]
            ma, mb = statistics.median(a), statistics.median(b)
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            sa, sb = _spread(a), _spread(b)
            judged = m["name"] != "setup_s"
            good = worse <= m["bound"] and (not judged or max(sa, sb) <= m["bound"] / 3)
            ok &= good
            print(f"{'':>{len(wl)}}  {m['name']:<16} {m['unit']:>6} {ma:>11.4f} {mb:>11.4f} "
                  f"{sa:>9.3f} {sb:>9.3f} {m['bound'] / 3:>7.3f}  "
                  f"{'ok' if good else 'FAIL'}{'' if judged else ' (spread not judged)'}")
        untraced = statistics.median(
            1.0 / r["throughput_qps"]["value"] for r in sets["A"] + sets["B"])
        traced_q = traced["metrics"]["trace.wall_per_query_s"]["value"]
        print(f"{'':>{len(wl)}}  tracing overhead: {traced_q:.4f} s/query traced vs "
              f"{untraced:.4f} untraced ({100 * (traced_q / untraced - 1):+.1f}%); "
              f"harness gap {100 * traced['metrics']['trace.gap_share']['value']:.2f}% "
              "of traced query wall\n")
    out = os.path.join(ROOT, ".perfbench", "aa", f"aa-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(f"{'PASS' if ok else 'FAIL'}; runs in {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
