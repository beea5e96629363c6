"""Write the traced-run record: for each workload, one untraced and one
traced run on the same seed, the per-layer ledger of the traced run, and
the tracing overhead (traced `wall_s` minus untraced `wall_s`).

    python3 perfbench/record.py --seed 7 --out perfbench/RECORD.json
    python3 perfbench/record.py --seed 7 --workload curation_stream --seconds 60 \
        --out perfbench/RECORD_curation_60s.json

Run from the root of a checkout. Each run is a separate `perfbench/run.py`
process, exactly as the benchmark command runs it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys

import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    lines = proc.stdout.strip().splitlines()
    return {"record": json.loads(lines[-2]), "summary": json.loads(lines[-1])}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--seconds", type=int, help="default: BENCHMARK.json run_seconds")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = args.workload or [w["name"] for w in spec["workloads"]]
    seconds = args.seconds or spec["run_seconds"]
    out = {
        "seed": args.seed,
        "run_seconds": seconds,
        "host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                 "python": platform.python_version()},
        "predictions": {k: {"moves": m, "on": list(w)} for k, (m, w) in layers.PREDICTIONS.items()},
        "workloads": {},
    }
    for name in names:
        plain = run(name, args.seed, seconds, 0)
        traced = run(name, args.seed, seconds, 1)
        rec_p, rec_t = plain["record"], traced["record"]
        out["workloads"][name] = {
            "end_to_end": rec_p["end_to_end"],
            "error_rate": rec_p["error_rate"],
            "failures": rec_p["failures"] + rec_t["failures"],
            "leaked_rdds": rec_p["leaked_rdds"],
            "tmp_mb_left": rec_p["tmp_mb_left"],
            "tracing_overhead_s": rec_t["end_to_end"]["wall_s"] - rec_p["end_to_end"]["wall_s"],
            "traced_wall_s": rec_t["end_to_end"]["wall_s"],
            "per_layer": rec_t["per_layer"],
            "ledger": rec_t["ledger"],
        }
        print(name, "done", file=sys.stderr, flush=True)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
