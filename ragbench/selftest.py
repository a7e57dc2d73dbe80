"""Self-test of the output checks: a run with one planted wrong result
must come back ``correct: false`` with at least one failed operation.

    python3 ragbench/selftest.py

Plants, per workload: agent_search_updates — one search hit's score is
moved by 1e-6 (visible at 8 dp); corpus_build — one row of the dedup
clusters is dropped before the comparison with the DuckDB oracle.
Exits 0 when every plant is caught.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    caught = True
    for workload in ("agent_search_updates", "corpus_build"):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "3", "--trace", "0", "--plant-fault"],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
        )
        result = json.loads(out.stdout.strip().splitlines()[-1])
        ok = out.returncode == 0 and not result["correct"] and result["failed"] > 0
        print(f"{workload}: planted fault {'caught' if ok else 'MISSED'} "
              f"(correct={result['correct']}, failed={result['failed']})")
        caught &= ok
    return 0 if caught else 1


if __name__ == "__main__":
    sys.exit(main())
