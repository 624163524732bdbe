"""Steadiness record of the benchmark: run it over several seeds, then fold
sets of such runs into STEADINESS.json.

    python3 perfbench/steadiness.py run OUT.jsonl --workload W --seeds 101-110 [--trace 1]
    python3 perfbench/steadiness.py fold perfbench/STEADINESS.json \\
        --set A_mix.jsonl,A_etl.jsonl --set B_mix.jsonl,B_etl.jsonl \\
        [--traced T_mix.jsonl,T_etl.jsonl] [--shape shape.jsonl]

``run`` executes ``run.py`` once per seed, from the root of the checkout
this file sits in, and appends one JSON line per run: its result, the
per-op samples and the run's host record (CPU steal, other tenants' CPU,
the CPU-speed probe).  ``fold`` gives per workload and end-to-end metric
the median and quartiles of each set, the spread (IQR over median) next to
the metric's bound, the ratio of each later set's median to the first's,
and the traced runs' overhead on ``job_s``.  ``--shape`` adds the output of
``shape.py`` (fixture tables against the generator's).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# runs whose host lost less CPU than this to steal (set-up plus timed loop)
# are folded again on their own, to separate the harness's spread from the
# host's
CALM_STEAL_S = 2.0


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _hardware() -> str:
    with open("/proc/cpuinfo") as f:
        model = next((l.split(":", 1)[1].strip() for l in f if l.startswith("model name")), "unknown CPU")
    with open("/proc/meminfo") as f:
        mem_gib = int(f.readline().split()[1]) / 2**20
    return f"{len(os.sched_getaffinity(0))} vCPU ({model}), {mem_gib:.0f} GiB RAM"


def run(args: argparse.Namespace) -> None:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    with open(args.out, "a") as out:
        for seed in _seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [*bench["command"], "--workload", args.workload, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 else {}
            info = json.loads(lines[-2])["run_info"] if p.returncode == 0 else {}
            row = {
                "workload": args.workload, "seed": seed, "trace": args.trace, "rc": p.returncode,
                "elapsed": round(time.time() - t0, 1), "end_utc": time.strftime("%H:%M:%S", time.gmtime()),
                "hardware": _hardware(), "correct": res.get("correct"), "attempted": res.get("attempted"),
                "failed": res.get("failed"), "metrics": {k: v["value"] for k, v in res.get("metrics", {}).items()},
                "ops": info.get("op_seconds"), "host": info.get("host"),
            }
            if p.returncode != 0:
                row["stderr_tail"] = p.stderr[-3000:]
            out.write(json.dumps(row) + "\n")
            out.flush()
            print(json.dumps({k: row[k] for k in ("workload", "seed", "rc", "elapsed", "metrics")}), flush=True)


def _stats(vals: list[float], bound: float | None) -> dict:
    q1, _, q3 = statistics.quantiles(vals, n=4)
    med = statistics.median(vals)
    return {"median": med, "q1": q1, "q3": q3, "iqr_over_median": (q3 - q1) / med, "bound": bound, "n": len(vals)}


def _steal(row: dict) -> float:
    return row["host"]["setup"]["steal_s"] + row["host"]["timed"]["steal_s"]


def _calm(rows: list[dict], bounds: dict) -> dict:
    calm = [r for r in rows if _steal(r) < CALM_STEAL_S]
    out = {"max_steal_s": CALM_STEAL_S, "n": len(calm)}
    if len(calm) >= 4:
        out["metrics"] = {k: _stats([r["metrics"][k] for r in calm], bounds[k]) for k in bounds}
    return out


def _rows(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def fold(args: argparse.Namespace) -> None:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    why = {w["name"]: w["why"] for w in bench["workloads"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads: dict[str, dict] = {}
    hardware = set()
    for files in args.set:
        for path in files.split(","):
            rows = _rows(path)
            w = workloads.setdefault(rows[0]["workload"], {"why": why[rows[0]["workload"]], "sets": []})
            hardware.update(r["hardware"] for r in rows)
            w["sets"].append({
                "all_correct": all(r["correct"] for r in rows),
                "attempted": sum(r["attempted"] for r in rows),
                "failed": sum(r["failed"] for r in rows),
                "metrics": {k: _stats([r["metrics"][k] for r in rows], bounds[k]) for k in bounds},
                "calm_runs": _calm(rows, bounds),
                "runs": [
                    {"seed": r["seed"], "end_utc": r["end_utc"], "elapsed_s": r["elapsed"],
                     **{k: round(v, 4) for k, v in r["metrics"].items()},
                     "passes": len(next(iter(r["ops"].values()))),
                     "steal_s": round(_steal(r), 2),
                     "others_busy_s": round(r["host"]["setup"]["others_busy_s"] + r["host"]["timed"]["others_busy_s"], 2),
                     "cpu_probe_s": r["host"]["cpu_probe_s"]}
                    for r in rows
                ],
            })
    for w in workloads.values():
        first = w["sets"][0]["metrics"]
        for s in w["sets"][1:]:
            s["median_over_first_set"] = {k: m["median"] / first[k]["median"] for k, m in s["metrics"].items()}
    for path in (args.traced or "").split(","):
        if path:
            rows = _rows(path)
            w = workloads[rows[0]["workload"]]
            traced = statistics.median(r["metrics"]["trace.job_s"] for r in rows)
            untraced = statistics.median(r["job_s"] for s in w["sets"] for r in s["runs"])
            w["trace_overhead"] = {"traced_job_s_median": traced, "untraced_job_s_median": untraced,
                                   "overhead_frac": traced / untraced - 1, "traced_runs": len(rows),
                                   "all_correct": all(r["correct"] for r in rows)}
    out = {"hardware": sorted(hardware), "run_seconds": bench["run_seconds"], "workloads": workloads}
    if args.shape:
        out["input_shape"] = _rows(args.shape)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    for name, w in workloads.items():
        for i, s in enumerate(w["sets"]):
            print(name, i, {k: (round(m["median"], 3), round(m["iqr_over_median"], 3)) for k, m in s["metrics"].items()})
            calm = s["calm_runs"]
            print("   calm runs", calm["n"], {k: (round(m["median"], 3), round(m["iqr_over_median"], 3))
                                           for k, m in calm.get("metrics", {}).items()})
            print("   median / first set", {k: round(v, 3) for k, v in s.get("median_over_first_set", {}).items()})
        print(name, "trace overhead", round(w.get("trace_overhead", {}).get("overhead_frac", float("nan")), 3))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("out")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 101-110 or 1,5,9")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    f = sub.add_parser("fold")
    f.add_argument("out")
    f.add_argument("--set", action="append", required=True, help="comma-separated run files, one per workload")
    f.add_argument("--traced")
    f.add_argument("--shape")
    args = ap.parse_args()
    (run if args.cmd == "run" else fold)(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
