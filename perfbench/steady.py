"""Steadiness check: is the benchmark's spread inside its own bounds?

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads etl_daily ...] [--trace]

Run from the repository root. For each set and workload it runs the command
in BENCHMARK.json once per seed (seeds 1..runs, the same seeds in every set)
and reports, per end-to-end metric, the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread (q3 - q1) / median
against the metric's bound, plus the largest distance of a later set's
median from the first set's, either way. It exits 1 when a spread or that
distance exceeds the bound, and notes spreads above a third of it.
``--trace`` adds one traced run per seed and reports the tracing overhead
as traced ``trace.pass_s`` over untraced ``pass_s``. The host's core count
and load average are recorded with the results, which are also written to
.perfbench_out/steady-<time>.json, and so is each run's CPU steal share:
the part of the host's CPU time the hypervisor gave to other guests, one
cause of whole runs going slow on a shared host.
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


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0, ticks0 = time.perf_counter(), cpu_ticks()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    # Share of the host's CPU time the hypervisor gave to other guests.
    delta = [b - a for a, b in zip(ticks0, cpu_ticks())]
    steal = delta[7] / max(1, sum(delta))
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if proc.returncode != 0 or result is None or not result["correct"]:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}, result {result}")
    return {"wall_s": wall, "steal": steal, **{k: v["value"] for k, v in result["metrics"].items()}}


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def host() -> dict:
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg()}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--trace", action="store_true")
    args = p.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"host_before": host(), "sets": [], "steal": [], "overhead": {}}
    for s in range(args.sets):
        runs = {w: [run_once(spec, w, seed, 0) for seed in range(1, args.runs + 1)] for w in workloads}
        report["sets"].append({w: {m: summarize([r[m] for r in rs]) for m in [*bounds, "wall_s"]}
                               for w, rs in runs.items()})
        report["steal"].append({w: [round(r["steal"], 3) for r in rs] for w, rs in runs.items()})
    if args.trace:
        for w in workloads:
            traced = [run_once(spec, w, seed, 1)["trace.pass_s"] for seed in range(1, args.runs + 1)]
            base = report["sets"][0][w]["pass_s"]["median"]
            report["overhead"][w] = statistics.median(traced) / base - 1
    report["host_after"] = host()

    ok = True
    print(f"host {report['host_before']} -> {report['host_after']['loadavg']}")
    print(f"{'workload':<12}{'metric':<14}{'bound':>7}" + "".join(
        f"{'med' + str(i):>11}{'spread' + str(i):>9}" for i in range(args.sets)) + f"{'drift':>8}  verdict")
    for w in workloads:
        for m, bound in [*bounds.items(), ("wall_s", None)]:
            cells, fails, notes = "", [], []
            first = report["sets"][0][w][m]["median"]
            for i, st in enumerate(report["sets"]):
                cells += f"{st[w][m]['median']:>11.4g}{st[w][m]['spread']:>9.3f}"
                if bound is not None and st[w][m]["spread"] > bound:
                    fails.append(f"spread{i}>bound")
                elif bound is not None and st[w][m]["spread"] > bound / 3:
                    notes.append(f"spread{i}>bound/3")
            drift = max(abs(st[w][m]["median"] / first - 1) for st in report["sets"])
            if bound is not None and drift > bound:
                fails.append("drift>bound")
            ok = ok and not fails
            print(f"{w:<12}{m:<14}{bound if bound is not None else '-':>7}{cells}{drift:>8.3f}  "
                  f"{', '.join(fails + notes) or 'ok'}")
    for i, st in enumerate(report["steal"]):
        for w, v in st.items():
            print(f"set {i} {w}: CPU steal share per run {v}")
    for w, o in report["overhead"].items():
        print(f"tracing overhead on {w}: {o:+.1%} of pass_s")

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"steady-{time.strftime('%Y%m%dT%H%M%S')}.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"report: {os.path.relpath(out, ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
