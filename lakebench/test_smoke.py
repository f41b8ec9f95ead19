"""Smoke test of the lifecycle benchmark at sf0.001 (`--size smoke`).

Runs all three workloads untraced and traced, each for one closed-loop
iteration, and checks that every metric named in BENCHMARK.json is printed
with its unit and that every correctness check passed.

    python3 -m pytest lakebench/test_smoke.py -q

Takes a few minutes: each workload run starts its own Spark session.
"""

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
WORKLOADS = ["cow_upsert", "mor_mixed", "dedup_ingest"]


def _run(trace: int, tmp_path) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "all", "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=tmp_path, stdout=subprocess.PIPE, text=True, timeout=1500,
    )
    return p.returncode, p.stdout.strip().splitlines()


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_printed_and_every_check_passes(trace, section, tmp_path):
    rc, lines = _run(trace, tmp_path)
    result = json.loads(lines[-1])
    assert rc == 0, lines[-40:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    metrics = result["metrics"]
    for w in WORKLOADS:
        for spec in SPEC[section]:
            got = metrics[f"{w}.{spec['name']}"]
            assert got["unit"] == spec["unit"], (w, spec)
            assert isinstance(got["value"], (int, float)), (w, spec)
    # an untraced run's report names every end-to-end number too
    report = "\n".join(lines[:-1])
    for spec in SPEC["end_to_end"] if trace == 0 else ():
        assert f"# {spec['name']} = " in report
