"""Steadiness check: run every workload on several seeds and report, per
end-to-end metric, the median, the quartiles and the quartile spread as a
share of the median (`statistics.quantiles(values, n=4)`), against the bound
in BENCHMARK.json.

    python3 cepbench/steady.py --seeds 1 2 3 4 5 6 7 8 9 10 [--workloads cep_hotkey] [--out FILE]
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload, seed, seconds):
    cmd = [sys.executable, str(ROOT / "cepbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.monotonic()
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    res["wall_s"] = time.monotonic() - t0
    return res


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--out")
    a = ap.parse_args()
    report = {}
    for w in a.workloads:
        runs = [run(w, s, spec["run_seconds"]) for s in a.seeds]
        rows = {"wall_s": [r["wall_s"] for r in runs], "correct": all(r["correct"] for r in runs),
                "failed": sum(r["failed"] for r in runs), "metrics": {}}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            rows["metrics"][m["name"]] = {"values": vals, "median": med, "q1": q1, "q3": q3,
                                          "spread": (q3 - q1) / med, "bound": m["bound"]}
            print(f"{w} {m['name']}: median {med:.6g} {m['unit']}, spread {(q3 - q1) / med:.3f} "
                  f"(bound {m['bound']})", flush=True)
        print(f"{w}: correct={rows['correct']} failed={rows['failed']} "
              f"run wall median {statistics.median(rows['wall_s']):.1f} s", flush=True)
        report[w] = rows
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
