"""Record the steadiness baseline: one traced run per workload, then two
sets of ten untraced runs per workload of ``BENCHMARK.json``, alternated
in time, then a few untraced runs of each workload it does not gate.

    python3 cdcbench/record_baseline.py

Set A uses seeds 1-10 and set B seeds 11-20. Runs go round by round: in
round i every gated workload runs once for each set, and the set that goes
first alternates from round to round, so drift of the machine over the
recording hits both sets alike. Each run is as long as ``run_seconds`` in
``BENCHMARK.json``. Progress goes to stdout; the result goes to
``cdcbench/baseline/baseline_c<nproc>.json``: per workload and set, the
median, quartiles and IQR/median of every end-to-end metric, the ratio of
the two sets' medians, and the traced run's per-layer metrics with its
tracing overhead (traced end-to-end value minus the untraced median).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, WORKLOADS  # noqa: E402

ROUNDS = 10
SETS = {"A": 1, "B": 11}  # set -> first seed
UNGATED_RUNS = 5
TRACE_SEED = 1
_E2E_LINE = re.compile(r"^(\S+) (\S+) (\S+)$")


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """The final JSON of one run, plus its stamp, end-to-end summary lines
    and wall time."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["stamp"] = json.loads(next(ln for ln in lines if ln.startswith("# cdcbench ")).split(" ", 5)[5])
    out["e2e"] = {m.group(1): float(m.group(2)) for m in map(_E2E_LINE.match, lines)
                  if m and m.group(1) in END_TO_END}
    out["wall_s"] = time.time() - t0
    return out


def _summary(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "iqr_over_median": (q3 - q1) / med,
            "values": values}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    gated = [w["name"] for w in bench["workloads"]]
    ungated = [w for w in WORKLOADS if w not in gated]
    stamp: dict = {}
    traced = {}
    errors: list[str] = []  # runs that exited non-zero
    # traced runs first: a harness error shows before the long part
    for wl in WORKLOADS:
        traced[wl] = _run(wl, TRACE_SEED, seconds, 1)
        stamp.update(traced[wl]["stamp"])
        print(f"traced {wl} wall {traced[wl]['wall_s']:.1f}s", flush=True)
    runs: dict[str, dict[str, list]] = {wl: {s: [] for s in SETS} for wl in WORKLOADS}
    for i in range(ROUNDS):
        order = list(SETS) if i % 2 == 0 else list(SETS)[::-1]
        for wl in gated:
            for s in order:
                try:
                    r = _run(wl, SETS[s] + i, seconds, 0)
                except RuntimeError as e:  # recorded, and the recording goes on
                    errors.append(str(e)[-2000:])
                    print(f"round {i} {wl} set {s} FAILED", flush=True)
                    continue
                runs[wl][s].append(r)
                stamp.update(r["stamp"])
                print(f"round {i} {wl} set {s} seed {SETS[s] + i} wall {r['wall_s']:.1f}s "
                      f"failed {r['failed']}/{r['attempted']} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
    # an ungated workload: UNGATED_RUNS runs of set A, for its drain rate
    for wl in ungated:
        for i in range(UNGATED_RUNS):
            try:
                r = _run(wl, SETS["A"] + i, seconds, 0)
            except RuntimeError as e:
                errors.append(str(e)[-2000:])
                print(f"ungated {wl} seed {SETS['A'] + i} FAILED", flush=True)
                continue
            runs[wl]["A"].append(r)
            print(f"ungated {wl} seed {SETS['A'] + i} wall {r['wall_s']:.1f}s "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
    out = {"recorded_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
           "run_seconds": seconds, "rounds": ROUNDS, "gated": gated,
           "seeds": {s: [first, first + ROUNDS - 1] for s, first in SETS.items()},
           "trace_seed": TRACE_SEED, "failed_runs": errors, "workloads": {}}
    for wl in WORKLOADS:
        sets = {s: {k: _summary([r["metrics"][k]["value"] for r in rs]) for k in END_TO_END}
                for s, rs in runs[wl].items() if rs}
        both = [r for rs in runs[wl].values() for r in rs]
        medians = {k: statistics.median(r["metrics"][k]["value"] for r in both) for k in END_TO_END}
        layers = {k: v["value"] for k, v in traced[wl]["metrics"].items()}
        entry = {
            "sets": sets,
            "failed": [r["failed"] for r in both],
            "attempted": [r["attempted"] for r in both],
            "correct": all(r["correct"] for r in both),
            "run_wall_s_median": statistics.median(r["wall_s"] for r in both),
            "traced": {
                "per_layer": layers,
                "coverage": {k: v for k, v in layers.items() if k.startswith("trace.")},
                "end_to_end": traced[wl]["e2e"],
                "overhead": {k: traced[wl]["e2e"][k] - medians[k] for k in traced[wl]["e2e"]},
                "failed": traced[wl]["failed"],
                "attempted": traced[wl]["attempted"],
                "wall_s": traced[wl]["wall_s"],
            },
        }
        if len(sets) == 2:
            entry["median_ratio_b_over_a"] = {k: sets["B"][k]["median"] / sets["A"][k]["median"]
                                              for k in END_TO_END}
        out["workloads"][wl] = entry
    out["stamp"] = {k: v for k, v in stamp.items() if k not in ("seed", "workload", "scale")}
    os.makedirs(os.path.join(HERE, "baseline"), exist_ok=True)
    path = os.path.join(HERE, "baseline", f"baseline_c{out['stamp']['nproc']}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote", path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
