"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Runs every workload in BENCHMARK.json once untraced and once traced, on
sf0.001-sized events and about 4k synthetic turns, and fails unless each
run exits 0, passes every output check and reports every metric that
BENCHMARK.json names. Takes about five minutes on 4 cores.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, trace: int) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {proc.returncode}:\n"
                             f"{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            try:
                out = run_once(wl["name"], trace)
            except AssertionError as err:
                failures.append(str(err))
                continue
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                failures.append(f"{wl['name']} trace={trace}: metrics {sorted(got.items())} "
                                f"!= BENCHMARK.json {sorted(want.items())}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                failures.append(f"{wl['name']} trace={trace}: output check failed: {out}")
            print(f"{wl['name']} trace={trace}: {out['attempted']} reps, "
                  f"{out['failed']} failed, {len(got)} metrics", flush=True)
    for f in failures:
        print("FAIL", f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
