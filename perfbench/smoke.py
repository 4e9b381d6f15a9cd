"""Harness smoke test: every workload on tiny inputs.

    python3 perfbench/smoke.py

For each workload in BENCHMARK.json it makes three runs of run.py with
``--size smoke``: untraced, traced, and untraced with one result
deliberately corrupted.  It asserts that the first two pass the
correctness gate and report exactly the end-to-end and per-layer metrics
BENCHMARK.json names, that layer spans cover every timed operation to
within 5%, that the traced run wrote every span to its spans file, and
that the gate rejects the corrupted run.  It prints the
tracing overhead: traced minus untraced wall of the timed operations.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
        "--seconds", "1", "--trace", str(trace), "--size", "smoke", *extra,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-4000:]
    report, result = (json.loads(line) for line in p.stdout.splitlines()[-2:])
    return report, result


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    end_to_end = {m["name"] for m in bench["end_to_end"]}
    per_layer = {m["name"] for m in bench["per_layer"]}
    for workload in (w["name"] for w in bench["workloads"]):
        report, result = run(workload, 0)
        assert result["correct"] and result["failed"] == 0, report["checks"]
        assert set(result["metrics"]) == end_to_end, set(result["metrics"]) ^ end_to_end

        traced_report, traced = run(workload, 1)
        assert traced["correct"], traced_report["checks"]
        assert set(traced["metrics"]) == per_layer, set(traced["metrics"]) ^ per_layer
        coverage = traced["metrics"]["trace.min_span_coverage"]["value"]
        assert coverage >= 0.95, coverage
        spans = (ROOT / traced_report["facts"]["spans_file"]).read_text().splitlines()
        assert len(spans) == traced["metrics"]["trace.spans"]["value"], len(spans)

        _, corrupted = run(workload, 0, "--corrupt")
        assert not corrupted["correct"] and corrupted["failed"] >= 1, corrupted

        overhead = traced_report["timed_wall_s"] - report["timed_wall_s"]
        print(
            f"{workload}: ok; span coverage >= {coverage:.3f}; tracing overhead "
            f"{overhead:+.2f} s on {report['timed_wall_s']:.2f} s of timed work"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
