#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json untraced and traced with
``--scale tiny`` and fails if a run exits non-zero, fails a check, or
leaves out (or adds) any metric BENCHMARK.json names. It also checks that
the benchmark refuses to run, without printing a result, in a directory that holds
only BENCHMARK.json and perfbench/.
"""
from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=300,
    )


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    errors = []

    for workload in (w["name"] for w in bench["workloads"]):
        for trace, wanted in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            before = len(errors)
            proc = _run(ROOT, workload, trace)
            where = f"{workload} --trace {trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                errors.append(f"{where}: exit code {proc.returncode}")
                continue
            result = json.loads(lines[-1])
            if set(result) != RESULT_KEYS:
                errors.append(f"{where}: result keys {sorted(result)}")
                continue
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                errors.append(f"{where}: correct={result['correct']} failed={result['failed']}")
            got = result["metrics"]
            for m in wanted:
                value = got.get(m["name"], {}).get("value")
                if not isinstance(value, (int, float)) or not math.isfinite(value):
                    errors.append(f"{where}: metric {m['name']} missing or not a number")
                elif got[m["name"]]["unit"] != m["unit"]:
                    errors.append(f"{where}: metric {m['name']} has unit {got[m['name']]['unit']}")
            extra = set(got) - {m["name"] for m in wanted}
            if extra:
                errors.append(f"{where}: metrics not in BENCHMARK.json: {sorted(extra)}")
            print("ok  " if len(errors) == before else "bad ", where, flush=True)

    bare = ROOT / ".bench_run" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(bare, bench["workloads"][0]["name"], 0)
    if proc.returncode == 0 or proc.stdout.strip():
        errors.append("in a directory without the program the benchmark did not refuse")
    shutil.rmtree(bare, ignore_errors=True)

    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
