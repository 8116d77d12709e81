"""Self-test of the benchmark, at a tiny size where it can be.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that every workload prints every end-to-end metric with its unit
and no failed operation, that a planted wrong answer is counted as a
failed operation, that changing the seed changes the inputs but not the
metric names, that the workloads' per-layer metrics cover BENCHMARK.json's,
that a traced run of each workload produces its per-layer metrics, and
that the benchmark command leaves no process running when it exits.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(tmp_path, name, seed=1, trace=False):
    res = run.run_workload(name, seed, 0.0, trace, scale="tiny",
                           out_root=str(tmp_path))
    return res, run._result_line(res, SPEC, trace)


def _units(line, kind):
    return {k: v["unit"] for k, v in line["metrics"].items()}, {
        m["name"]: m["unit"] for m in SPEC[kind]}


BENCH_WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def test_benchmark_names_the_workloads():
    assert sorted(BENCH_WORKLOADS) == sorted(workloads.WORKLOADS)


@pytest.mark.parametrize("name", BENCH_WORKLOADS)
def test_workload_prints_every_metric(tmp_path, name):
    res, line = _run(tmp_path, name)
    got, want = _units(line, "end_to_end")
    assert got == want
    assert line["correct"] and line["failed"] == 0
    assert line["attempted"] >= 1
    assert all(v["value"] > 0 for v in line["metrics"].values())
    assert res["named"]["failed_ops_ratio"] == 0
    run._report(res)   # the named figures print with their units


def test_planted_wrong_answer_counts_as_failed(tmp_path, monkeypatch):
    real = workloads.Q.q_pip_count

    def wrong(spark, sf_dir):
        from pyspark.sql import functions as F
        return real(spark, sf_dir).withColumn("n_docs", F.col("n_docs") + 1)

    monkeypatch.setattr(workloads.Q, "q_pip_count", wrong)
    res, line = _run(tmp_path, "spatial_joins")
    assert res["checks"]["pip_count"] is False
    assert line["failed"] >= 1 and not line["correct"]


def test_seed_changes_inputs_not_metric_names(tmp_path):
    a, line_a = _run(tmp_path / "a", "spatial_joins", seed=1)
    b, line_b = _run(tmp_path / "b", "spatial_joins", seed=2)
    assert a["input"]["doc_id_start"] != b["input"]["doc_id_start"]
    assert set(line_a["metrics"]) == set(line_b["metrics"])


def test_workload_layers_cover_per_layer_metrics():
    produced = run.COMMON_LAYERS.union(
        *(workloads.WORKLOADS[w].layer_names() for w in BENCH_WORKLOADS))
    assert produced == {m["name"] for m in SPEC["per_layer"]}


def test_result_line_rejects_unproduced_metric():
    spec = {"per_layer": [{"name": "operators.nothing.s", "unit": "s"}]}
    with pytest.raises(KeyError):
        run._result_line({"layers": {}, "failed": 0, "attempted": 1}, spec,
                         True)


# a layer metric that is a count or size of work the workload does, so it
# is positive on a correct traced run
WORK_DONE = {
    "spatial_joins": ["operators.sjoin.candidate_pairs",
                      "operators.knn.window.rows_per_result",
                      "queries.knn_join.jobs"],
    "dedup_curation": ["operators.dedup.candidate_pairs",
                       "operators.dedup.max_bucket",
                       "operators.components.jobs"],
    "warc_ingest": ["sources.warc.records", "functions.textkernels.rows",
                    "plans.store.delta_bytes"],
}


@pytest.mark.parametrize("name", BENCH_WORKLOADS)
def test_traced_run_emits_its_layer_metrics(tmp_path, name):
    # run._layers raises unless the keys are exactly the declared names
    res, line = _run(tmp_path, name, trace=True)
    assert set(res["layers"]) == (run.COMMON_LAYERS
                                  | workloads.WORKLOADS[name].layer_names())
    got, want = _units(line, "per_layer")
    assert got == want
    assert line["correct"]
    for key in WORK_DONE[name] + ["spark.jobs", "spark.tasks"]:
        assert line["metrics"][key]["value"] > 0, key


def test_command_leaves_no_process_behind():
    # with this process as subreaper, whatever the command leaves running
    # is re-parented here, so it shows among this process's descendants
    import subprocess
    from probes import _tree, adopt_orphans
    adopt_orphans()
    before = set(_tree(os.getpid()))
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "dedup_curation", "--seed", "1", "--seconds", "0", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=170)
    left = set(_tree(os.getpid())) - before
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.splitlines()[-1])["correct"]
    assert not left
