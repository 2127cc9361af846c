"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --seeds 1-10 --out perfbench/baseline/set1.json
    python3 perfbench/spread.py --seeds 1-5 --workloads extract_job --out /tmp/x.json
    python3 perfbench/spread.py --compare perfbench/baseline/set1.json perfbench/baseline/set2.json
    python3 perfbench/spread.py --report perfbench/baseline/set1.json

A set runs `run.py` once per workload and seed with BENCHMARK.json's
`run_seconds`, end-to-end metrics only (`--trace 0`). For every metric it
records the ten values, their median and quartiles (Python's
`statistics.quantiles(values, n=4)`), and the spread: (Q3 - Q1) / median.
A spread within the metric's bound passes; the benchmark aims for a third
of it. `--compare` checks that the second set's median is not worse than
the first's by more than the bound, for every metric and workload.
`--report` recomputes a saved set's summary with the current bounds.
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values: list, bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("inf")
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "spread": spread, "bound": bound, "within_bound": spread <= bound,
            "within_third": spread < bound / 3}


def run_set(spec: dict, workloads: list, seed_list: list, out: Path) -> dict:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    result = {"run_seconds": spec["run_seconds"], "seeds": seed_list, "workloads": {}}
    for w in workloads:
        per_metric = {k: [] for k in bounds}
        runs = []
        for s in seed_list:
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            if proc.returncode != 0:
                sys.exit(f"{w} seed {s}: run failed with {proc.returncode}\n{proc.stdout[-2000:]}")
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            records = [json.loads(ln) for ln in lines[:-1] if ln.startswith('{"record"')]
            passes = next((r for r in records if r["record"] == "passes"), {})
            corpus = next((r for r in records if r["record"] == "corpus"), {})
            runs.append({"seed": s, "wall_s": round(wall, 1), "correct": res["correct"],
                         "attempted": res["attempted"], "failed": res["failed"],
                         "digest": corpus.get("digest"),
                         "pass_s": {k: v for k, v in passes.items() if k != "record"}})
            for k in bounds:
                per_metric[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {s}: {wall:.0f} s, correct={res['correct']}, "
                  + ", ".join(f"{k}={res['metrics'][k]['value']:.4g}" for k in bounds), flush=True)
        result["workloads"][w] = {
            "runs": runs,
            "metrics": {k: summarize(v, bounds[k]) for k, v in per_metric.items()}}
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps(result, indent=1) + "\n")
    return result


def report(result: dict) -> bool:
    ok = True
    for w, body in result["workloads"].items():
        for k, m in body["metrics"].items():
            flag = "ok" if m["within_third"] else ("within bound" if m["within_bound"] else "TOO WIDE")
            if k != "setup_s" and not m["within_bound"]:
                ok = False
            print(f"{w:14s} {k:14s} median {m['median']:12.4f}  spread {m['spread']:.4f}"
                  f"  bound {m['bound']:.3f}  {flag}")
    return ok


def compare(a: dict, b: dict, spec: dict) -> bool:
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    ok = True
    for w in a["workloads"]:
        for k, ma in a["workloads"][w]["metrics"].items():
            mb = b["workloads"][w]["metrics"][k]
            worse = (ma["median"] - mb["median"]) if better[k] == "higher" else (mb["median"] - ma["median"])
            share = worse / ma["median"] if ma["median"] else 0.0
            good = share <= ma["bound"]
            ok &= good
            print(f"{w:14s} {k:14s} {ma['median']:12.4f} -> {mb['median']:12.4f}"
                  f"  worse by {share:+.4f} (bound {ma['bound']:.3f}) {'ok' if good else 'FAIL'}")
    return ok


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", type=Path)
    ap.add_argument("--compare", nargs=2, type=Path)
    ap.add_argument("--report", type=Path, help="re-summarize a set with the current bounds")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.report:
        bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
        res = json.loads(a.report.read_text())
        for body in res["workloads"].values():
            body["metrics"] = {k: summarize(m["values"], bounds[k]) for k, m in body["metrics"].items()}
        a.report.write_text(json.dumps(res, indent=1) + "\n")
        sys.exit(0 if report(res) else 1)
    if a.compare:
        ok = compare(json.loads(a.compare[0].read_text()), json.loads(a.compare[1].read_text()), spec)
        sys.exit(0 if ok else 1)
    if a.out is None:
        sys.exit("--out is required")
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    ok = report(run_set(spec, workloads, seeds(a.seeds), a.out))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
