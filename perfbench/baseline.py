"""Measure a 4-core baseline and write it to ``perfbench/baseline_4core.json``.

    python3 perfbench/baseline.py [--seeds 10] [--out perfbench/baseline_4core.json]

Run from the repository root. For each seed 1..N it runs every workload
once with ``--trace 0`` (the workloads alternating seed by seed), then a
second set of the same seeds right after, then one traced run per workload
on the canonical seed. Each end-to-end metric gets its median, its
quartiles (``statistics.quantiles(values, n=4)``), the interquartile range
over the median, and, for the second set, its median's change against the
first set's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one_run(workload: str, seed: int, trace: int, seconds: int) -> tuple[dict, dict, list]:
    """(info line, result line, span lines) of one benchmark run."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
    info = next((l["perfbench"] for l in lines if "perfbench" in l), {})
    if p.returncode != 0 or not lines or "correct" not in lines[-1]:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    return info, lines[-1], [l for l in lines if "span" in l]


def stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "iqr_over_median": (q3 - q1) / med,
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--out", default=os.path.join("perfbench", "baseline_4core.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    seeds = list(range(1, args.seeds + 1))
    runs: dict = {w: [[], []] for w in names}
    host: dict = {}
    for s in (0, 1):
        for seed in seeds:
            for w in names:
                info, res, _ = one_run(w, seed, 0, seconds)
                host = {k: info.get(k) for k in
                        ("nproc", "master", "spark", "python", "git_commit", "source_sha256")}
                runs[w][s].append((info, res))
                print(json.dumps({"set": s + 1, "workload": w, "seed": seed,
                                  **{k: v["value"] for k, v in res["metrics"].items()}}),
                      flush=True)
    out: dict = {
        "what": (
            f"4-core baseline of perfbench: {args.seeds} seeds per workload (python3 "
            f"perfbench/run.py --workload W --seed N --seconds {seconds} --trace 0, the "
            "workloads alternating seed by seed), a second set of the same seeds run right "
            "after (end_to_end_repeat), and one traced run on the canonical seed (--trace 1). "
            "Written by perfbench/baseline.py. Never compare with the local[32] "
            "BENCH_r0*.json history."
        ),
        "host": host,
        "workloads": {},
    }
    for w in names:
        first, second = runs[w]
        e2e, rep = {}, {}
        for m in bench["end_to_end"]:
            a = stats([r["metrics"][m["name"]]["value"] for _, r in first])
            b = stats([r["metrics"][m["name"]]["value"] for _, r in second])
            e2e[m["name"]] = {"unit": m["unit"], **a}
            b["change_vs_first"] = b["median"] / a["median"] - 1
            rep[m["name"]] = b
        info, res, spans = one_run(w, 1, 1, seconds)
        out["workloads"][w] = {
            "seeds": seeds,
            "all_correct": all(r["correct"] for _, r in first + second),
            "end_to_end": e2e,
            "end_to_end_repeat": rep,
            "samples": [{**i["samples"], "phases": i.get("phases")} for i, _ in first + second],
            "traced_seed_1": {"correct": res["correct"], "spans": spans,
                              "metrics": res["metrics"]},
        }
    with open(os.path.join(ROOT, args.out), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
