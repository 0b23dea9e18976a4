"""Self-test of the repo benchmark (perfbench/run.py) at the tiny size.

    python3 -m pytest perfbench/tests -q

Each workload runs once; a traced run prints every per-layer metric; a
run whose outputs lose one row counts every op as failed; the Python
reference of the curate pass equals the repo's DuckDB twin; the
benchmark's KB rows are datagen.synthetic_kb's; and a directory without
the engine makes the benchmark fail without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(*args: str, cwd: str = ROOT, timeout: int = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


def _assert_metrics(out: dict, spec: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want
    for v in out["metrics"].values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]] + ["kb_align"])
def test_workload_runs_once_and_prints_every_metric(workload):
    out = _result(_run("--workload", workload, "--seed", "1", "--seconds", "0",
                       "--trace", "0", "--size", "tiny"))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    _assert_metrics(out, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_traced_run_prints_every_per_layer_metric():
    out = _result(_run("--workload", "crawl_kg", "--seed", "2", "--seconds", "0",
                       "--trace", "1", "--size", "tiny"))
    assert out["correct"]
    _assert_metrics(out, SPEC["per_layer"])
    m = {k: v["value"] for k, v in out["metrics"].items()}
    for layer in ("sources.warc", "pipeline", "tableio", "align", "operators.blocking"):
        assert m[f"{layer}.wall_s"] > 0, layer
    assert m["tableio.jobs"] > 0 and m["extract.triples_per_page"] > 0
    assert 0 <= m["trace.unattributed_share"] < 1


def test_dropped_output_row_counts_as_failed():
    out = _result(_run("--workload", "kg_rank", "--seed", "3", "--seconds", "0",
                       "--trace", "0", "--size", "tiny", "--corrupt-output"))
    assert not out["correct"]
    assert out["attempted"] >= 1 and out["failed"] == out["attempted"]


def test_curate_reference_equals_duckdb_twin(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    from workloads import CorpusCurate

    from ontoemma_spark.plans import demo_queries as dq

    wl = CorpusCurate(4, str(tmp_path), "tiny")
    wl.generate()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{wl.path}')")
        twin = wl._norm(con.execute(dq.SQL_CURATE_CORPUS).fetchall())
    finally:
        con.close()
    assert twin == wl.expected and len(twin) > 0


def test_kb_rows_are_the_synthetic_kb_fixture():
    from workloads import _kb_rows

    from ontoemma_spark import datagen

    class Rows:  # stands in for the session: createDataFrame hands back its rows
        def createDataFrame(self, rows, schema):
            return rows

    ents, _edges = datagen.synthetic_kb(Rows(), "KB", 40, id_offset=7)
    mine = [
        (*(r[k] for k in ("research_entity_id", "canonical_name", "aliases", "definition",
                          "source_urls", "category", "other_contexts")),
         dict(r["additional_details"]))
        for r in _kb_rows("KB", range(7, 47))
    ]
    assert mine == ents


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("--workload", "crawl_kg", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path), timeout=60)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
