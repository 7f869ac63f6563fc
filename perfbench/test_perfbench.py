"""The benchmark's own tests, in quick mode on a scale-0.001 lake.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import lake  # noqa: E402
import layers  # noqa: E402
import worker  # noqa: E402

QUICK = ["--seed", "1", "--seconds", "1", "--scale", "0.001"]


def _bench(workload: str, trace: int) -> tuple[dict, str]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--trace", str(trace), *QUICK],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


@pytest.mark.parametrize("workload,trace,section", [
    ("olap", 0, "end_to_end"),
    ("ingest", 1, "per_layer"),
])
def test_every_metric_present_with_its_unit(workload, trace, section):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[section]
    res, report = _bench(workload, trace)
    assert res["correct"], report
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert res["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(res["metrics"][m["name"]]["value"], (int, float))
    lines = {ln.split(" = ")[0][2:]: ln for ln in report.splitlines()
             if ln.startswith("# ") and " = " in ln}
    for m in spec:  # the report names it too, with unit and sample count
        assert f" {m['unit']} (n=" in lines[m["name"]], lines.get(m["name"])


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    base = tmp_path_factory.mktemp("perfbench")
    dirs = {d: str(base / d) for d in ("lake", "scratch", "local")}
    lake.write(dirs["lake"], seed=1, scale=0.001)
    os.environ["PUDL_SCRATCH"] = dirs["scratch"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    sys.path.insert(0, ROOT)
    from pudatalake_spark import loaders, registry, session

    registry.load_all()
    spark = session.get_spark(app_name="perfbench-tests", master="local[2]")
    loaders.load(spark, dirs["lake"])
    cfg = {"workload": "test", "sf_dir": dirs["lake"], "oracle_keys": [],
           "write_dirs": [dirs["scratch"], dirs["local"]]}
    b = worker.Bench(cfg, spark, registry)
    b.start_tracing()
    yield b
    spark.stop()


def test_skipped_stages_add_no_tasks(bench):
    """q_agg_groupby's final AQE job lists the shuffle-map stage an
    earlier job ran; that stage counts as skipped and adds 0 tasks."""
    store = bench.spark.sparkContext._jsc.sc().statusStore()
    bench.run_key("q_agg_groupby", 1)  # warm-up, untraced
    bench.tracer["jobs"].new(read=False)
    spans = bench.tracer["spans"].spans
    first = len(spans)
    rec = bench.run_key_traced("q_agg_groupby", 1, None)
    assert rec["ok"]
    assert rec["layers"]["exec.stages_skipped"] > 0
    jobs = [s["attrs"] for s in spans[first:] if s["kind"] == "job"]
    stages = {sid: store.lastStageAttempt(sid)
              for j in jobs for sid in layers.stage_ids(store.job(j["id"]))}
    listed = sum(len(layers.stage_ids(store.job(j["id"]))) for j in jobs)
    assert sum(j["stages_run"] + j["stages_skipped"] for j in jobs) == listed
    ran = [st for st in stages.values() if st.status().toString() != "SKIPPED"]
    assert sum(j["tasks"] for j in jobs) == sum(st.numTasks() for st in ran)
    assert sum(j["stages_run"] for j in jobs) == len(ran) < listed


def test_blocks_alive_matches_persistent_rdds(bench):
    spark = bench.spark
    df = spark.range(1000).localCheckpoint(eager=True)
    try:
        n = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert n >= 1
        assert layers.blocks_alive(spark) == n
        assert layers.storage_mb(spark) > 0
    finally:
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
    del df


def test_recheck_catches_a_builder_whose_output_changes(bench):
    """A key without an oracle is built again after the steady passes;
    a builder that returns other rows the second time fails the check."""
    builds = []

    def drifting(spark, _sf_dir):
        builds.append(1)
        return spark.range(10 + len(builds))

    class Registry:
        QUERIES = {"drifting": drifting}

        @staticmethod
        def clear_caches(spark):
            spark.catalog.clearCache()

    b = worker.Bench(dict(bench.cfg, keys=["drifting"]), bench.spark, Registry)
    for p in (0, worker.CHECK_PASS):
        assert b.run_key("drifting", p)["ok"]
    b.recheck(worker.CHECK_PASS + 1)
    (check,) = b.checks
    assert check["ok"] and check["rows"] > 0 and check["schema_ok"]
    assert check["stable"] is False
    assert not b.errors
