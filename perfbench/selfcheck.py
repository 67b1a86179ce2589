"""Fast self-check of the benchmark on sf0.001 inputs (corpus factor 1).

    python3 perfbench/selfcheck.py

Runs every workload twice through the real command line with
``--seconds 1`` (so the minimum of three passes): untraced, and traced
with the first result deliberately corrupted. Passes when every run prints each metric BENCHMARK.json
names, with its unit; the clean runs have no failed operation; and each
corrupted run counts exactly one.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _run(workload: str, trace: int, corrupt: bool) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"]
    if corrupt:
        cmd.append("--corrupt")
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd[1:])} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in spec["workloads"]:
        for trace, section, corrupt in ((0, "end_to_end", False), (1, "per_layer", True)):
            res = _run(w["name"], trace, corrupt)
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            tag = f"{w['name']} trace={trace}"
            if got != want:
                problems.append(f"{tag}: metrics {sorted(got.items())} != {sorted(want.items())}")
            if res["failed"] != int(corrupt) or res["correct"] == corrupt:
                problems.append(f"{tag}: failed={res['failed']} correct={res['correct']}")
            print(f"{tag}: {res['attempted']} operations, {res['failed']} failed", flush=True)
    for p in problems:
        print("FAIL", p)
    print("self-check", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
