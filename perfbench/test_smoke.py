"""Smoke test of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Every case runs the benchmark in its own process, as a real run does,
through a wrapper that shrinks the inputs before it calls ``run.main``.
Spark start and warm-up still dominate, so the whole file takes several
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

# tiny inputs: 100 bulk pages (a 20-page warm-up prefix), recrawl batches
# of 12 pages
TINY = f"""
import sys
sys.path[:0] = [{ROOT!r}, {HERE!r}]
import kg, run
run.BULK_PAGES, run.WARM_PAGES, run.BATCH_PAGES = 100, 20, 12
"""
MAIN = "sys.exit(run.main(sys.argv[1:]))\n"


def _session_members(sid: int) -> list:
    """Live processes of session ``sid``."""
    members = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rpartition(")")[2].split()[3]) == sid:
            members.append(int(pid))
    return members


def _bench(workload: str, trace: int, seed: int = 3, patch: str = ""):
    """Run the benchmark on tiny inputs, after ``patch``, in a session of
    its own; assert that no process of that session outlives it.  Return
    the stdout lines, the parsed last line and the stderr."""
    args = ["--workload", workload, "--seed", str(seed), "--seconds", "1",
            "--trace", str(trace)]
    p = subprocess.Popen([sys.executable, "-c", TINY + patch + MAIN, *args], cwd=ROOT,
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    out, err = p.communicate(timeout=900)
    assert p.returncode == 0, err[-4000:]
    assert _session_members(p.pid) == [], "a process of the run outlived it"
    lines = out.splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return lines, result, err


def _assert_metrics(workload, lines, result, names):
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    for name, unit in names.items():
        assert any(line.startswith(f"{workload} {name} = ") and f" {unit} (n=" in line
                   for line in lines), name


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_end_to_end_metrics_are_printed_with_units(workload):
    lines, result, _ = _bench(workload, trace=0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    _assert_metrics(workload, lines, result, run.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert any(line.startswith(f"{workload} host controls: ") for line in lines)


def test_per_layer_metrics_are_printed_and_counts_repeat():
    results = []
    for workload, seed in (("kg_recrawl", 3), ("kg_recrawl", 3), ("kg_bulk", 3)):
        lines, result, _ = _bench(workload, trace=1, seed=seed)
        assert result["correct"] and result["failed"] == 0
        _assert_metrics(workload, lines, result, run.PER_LAYER)
        with open(os.path.join(run.WORK, f"trace-{workload}-seed{seed}.json")) as fh:
            spans = json.load(fh)["spans"]
        build = [s for s in spans if s["name"] == "build"][-1]
        stages = [s for s in spans if s["parent"] == build["id"]]
        assert len(stages) == 5
        assert sum(s["end"] - s["start"] for s in stages) + result["metrics"][
            "stages.unattributed_s"]["value"] == pytest.approx(build["end"] - build["start"])
        results.append(result["metrics"])
    # job and row counts of two runs of one seed
    counts = [{k: v["value"] for k, v in m.items() if "jobs" in k or "rows" in k}
              for m in results[:2]]
    assert len(counts[0]) == 11
    assert counts[0] == counts[1]


# One mention of one hub page ends a character late, in the program's
# output: the build's stage 1 (kg_bulk) or the stream's own stage 1
# (kg_recrawl; the batch reference it is checked against stays intact).
CORRUPT = """
from pyspark.sql import functions as F
import {module} as target
real = target.detect_mentions

def shifted(pages, *a, **kw):
    df = real(pages, *a, **kw)
    hit = (F.col("url") == "synth://9") & (F.col("mention_id") == 0)
    return df.withColumn("char_end", F.when(hit, F.col("char_end") + 1)
                         .otherwise(F.col("char_end")))

target.detect_mentions = shifted
"""


@pytest.mark.parametrize("workload, module, check", [
    ("kg_bulk", "kg", "mention byte identity"),
    ("kg_recrawl", "kgkit.streaming.kg_stream",
     "stream reads equal the batch pipeline over latest versions"),
])
def test_a_shifted_char_end_is_a_failed_operation(workload, module, check):
    _, result, err = _bench(workload, trace=0, patch=CORRUPT.format(module=module))
    assert not result["correct"]
    # stderr lines are "[<seconds since start> s] <message>"
    messages = [line.partition(" s] ")[2] for line in err.splitlines()]
    failed = [m for m in messages if m.startswith("FAILED: ")]
    assert len(failed) == result["failed"] >= 1
    assert all(line.startswith(f"FAILED: {check}: ") for line in failed), failed


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_bulk", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout == ""
