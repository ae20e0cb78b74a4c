"""Self-test of the benchmark at tiny scale (a few minutes on 4 cores).

    python3 perfbench/selftest.py

For every workload it makes one untraced and one traced run and checks both
result lines against BENCHMARK.json: the exact metric names, their units,
finite values, ``correct`` true and no failures. Then it injects one wrong
result per workload and checks that the run reports it: ``correct`` false,
``failed`` >= 1 and ``error_rate`` > 0. Exits non-zero on the first
mismatch.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
INJECT = {"build_query": "topk", "maintain": "delete"}


def run(workload: str, trace: int, inject: str | None = None) -> tuple[dict, dict]:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
        "--seconds", "1", "--trace", str(trace), "--tiny",
    ]
    if inject:
        cmd += ["--inject-wrong", inject]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def check_schema(line: dict, specs: list[dict], what: str) -> None:
    assert set(line) == {"correct", "attempted", "failed", "metrics"}, f"{what}: keys {set(line)}"
    want = {m["name"]: m["unit"] for m in specs}
    got = line["metrics"]
    assert set(got) == set(want), f"{what}: metrics differ: {set(got) ^ set(want)}"
    for name, m in got.items():
        assert m["unit"] == want[name], f"{what}: {name} unit {m['unit']} != {want[name]}"
        v = m["value"]
        assert isinstance(v, (int, float)) and math.isfinite(v), f"{what}: {name} = {v}"
    assert isinstance(line["attempted"], int) and line["attempted"] >= 1, what
    assert isinstance(line["failed"], int), what


def main() -> int:
    for w in (m["name"] for m in SPEC["workloads"]):
        for trace, specs in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
            detail, line = run(w, trace)
            check_schema(line, specs, f"{w} trace {trace}")
            assert line["correct"] and line["failed"] == 0, f"{w}: {line} {detail['failures']}"
            assert detail["error_rate"] == 0, f"{w}: error_rate {detail['error_rate']}"
        assert "tracing_overhead" in detail and detail["layers"], f"{w}: no trace detail"
        print(f"PASS {w}: schema, units, oracle checks, trace", flush=True)
        detail, line = run(w, trace=0, inject=INJECT[w])
        assert not line["correct"] and line["failed"] >= 1, f"{w}: injection not counted: {line}"
        assert detail["error_rate"] > 0, f"{w}: injected error_rate {detail['error_rate']}"
        print(f"PASS {w}: injected wrong result counted ({detail['failures'][0][:80]})", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
