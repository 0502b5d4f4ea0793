"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload at the ``smoke`` size (sf0.01): once untraced and twice
traced with the same seed. Each run starts its own Spark session, so the
file takes several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402

WORKLOADS = ("catalog_rw", "corpus_prep", "olap_queries")
# counts that must repeat exactly for a fixed seed
COUNTS = (
    "spark.jobs",
    "spark.stages",
    "engine.save.tasks",
    "engine.files_per_save",
    "engine.files_per_get",
    "engine.bytes_written_per_user_byte",
    "scratch.persist_calls",
    "dedup.near_dup_pairs",
    "pipeline.survivor_ratio",
    "packing.fill_ratio",
)
# workload-named metrics of the untraced run's detail line
DETAIL = {
    "catalog_rw": {
        "catalog.save_p50_s": "s",
        "catalog.get_p50_s": "s",
        "catalog.rows_per_s": "1/s",
        "catalog.space_amp": "ratio",
    },
    "corpus_prep": {"prep.shard_p50_s": "s", "prep.docs_per_s": "1/s"},
    "olap_queries": {"olap.pass_s": "s", "olap.query_p50_s": "s"},
}


def bench(workload: str, seed: int, trace: int, cwd: str = ROOT) -> tuple[int, list[dict]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )
    lines = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]
    return proc.returncode, lines


@pytest.fixture(scope="module", params=WORKLOADS)
def runs(request):
    w = request.param
    return w, [bench(w, seed=7, trace=t) for t in (0, 1, 1)]


def metric_units(line: dict) -> dict[str, str]:
    return {k: m["unit"] for k, m in line["metrics"].items()}


def test_untraced_run_prints_every_end_to_end_metric(runs):
    w, ((code, lines), _, _) = runs
    assert code == 0
    detail, result = lines[-2]["detail"], lines[-1]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert metric_units(result) == run.END_TO_END
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert detail["failed_ratio"]["value"] == 0
    assert {k: detail[k]["unit"] for k in DETAIL[w]} == DETAIL[w]


def test_traced_runs_repeat_their_counts(runs):
    w, (_, (code1, lines1), (code2, lines2)) = runs
    assert code1 == code2 == 0
    first, second = lines1[-1], lines2[-1]
    assert first["correct"] and second["correct"]
    assert metric_units(first) == metric_units(second) == run.PER_LAYER
    for name in COUNTS:
        assert first["metrics"][name] == second["metrics"][name], name
    if w == "corpus_prep":
        assert first["metrics"]["dedup.near_dup_pairs"]["value"] > 0
        assert first["metrics"]["pipeline.exec_s"]["value"] > 0
    if w == "catalog_rw":
        assert first["metrics"]["engine.files_per_save"]["value"] > 0
        assert first["metrics"]["engine.save.write_s"]["value"] > 0


def test_seed_decides_the_inputs():
    a, b, c = (datagen.make_tables(0.01, s) for s in (1, 1, 2))
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, lines = bench("catalog_rw", seed=1, trace=0, cwd=str(tmp_path))
    assert code != 0 and lines == []
