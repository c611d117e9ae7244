"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The inputs are shrunk (same grids, fewer points) so each Spark run
takes well under a minute.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import gen, run

SMALL = {
    "transform_national": ("1km", 20_000, 47, False),
    "pages_pipeline": ("5km", 3_000, 24, True),
}


@pytest.fixture
def small_inputs(monkeypatch):
    monkeypatch.setattr(gen, "SPECS", SMALL)


@pytest.fixture
def saved_environ():
    """``run`` points the JVM and the Python workers at its own work
    directory through the environment; put it back afterwards."""
    before = dict(os.environ)
    yield
    os.environ.clear()
    os.environ.update(before)


@pytest.mark.parametrize("workload", list(SMALL))
def test_same_seed_gives_identical_inputs(tmp_path, small_inputs, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    for name in names:
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read(), name
    with open(os.path.join(a, "grid.par"), "rb") as fa, \
            open(os.path.join(c, "grid.par"), "rb") as fc:
        assert fa.read() != fc.read()


def _run_national(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "SETUP_REPS", 1)
    result, report = run.run("transform_national", 3, 1.0, 0, str(tmp_path / "bench"))
    return result, report


def test_clean_run_has_no_errors(tmp_path, small_inputs, saved_environ, monkeypatch):
    result, report = _run_national(tmp_path, monkeypatch)
    assert result["correct"] and result["failed"] == 0, report["failed_checks"]
    assert report["error_rate"] == 0.0
    assert set(result["metrics"]) == set(run.END_TO_END)


def test_corrupted_output_raises_error_rate(tmp_path, small_inputs, saved_environ, monkeypatch):
    from jgdtrans_rs_spark.engine import Engine
    from pyspark.sql import functions as F

    forward = Engine.forward

    def corrupted(self, df, *args, **kw):
        out = forward(self, df, *args, **kw)
        return out.withColumn("out_lat", F.col("out_lat") + 1e-9)

    monkeypatch.setattr(Engine, "forward", corrupted)
    result, report = _run_national(tmp_path, monkeypatch)
    assert not result["correct"] and result["failed"] > 0
    assert report["error_rate"] > 0.0
    assert "forward_sample_bit_exact" in report["failed_checks"]


def test_benchmark_json_lists_what_the_run_prints():
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        k: v[:2] for k, v in run.LAYERS.items()}
