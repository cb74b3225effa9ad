"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

For each workload it makes two tiny runs:

- an untraced clean run, which must exit 0, report ``correct`` and print
  every end-to-end metric by name with its unit;
- a traced run with ``--plant-fault`` (a deleted sink record, or a
  perturbed registry row), which must exit non-zero, report the failed
  operation and still print every per-layer metric with its unit.

Exits non-zero if any expectation fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def bench(workload: str, *flags: str) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--tiny", *flags],
        capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else {}


def expect(ok: bool, what: str, problems: list[str]) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        problems.append(what)


def main() -> int:
    problems: list[str] = []
    for wl in run.WORKLOADS:
        rc, res = bench(wl, "--trace", "0")
        expect(rc == 0 and res.get("correct") is True,
               f"{wl}: clean run exits 0 and is correct", problems)
        got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
        expect(got == run.E2E_UNITS,
               f"{wl}: every end-to-end metric printed with its unit", problems)

        rc, res = bench(wl, "--trace", "1", "--plant-fault")
        expect(rc != 0 and res.get("correct") is False
               and res.get("failed", 0) >= 1,
               f"{wl}: planted fault is caught and exits non-zero", problems)
        got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
        expect(got == run.per_layer_units(),
               f"{wl}: every per-layer metric printed with its unit", problems)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
