"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark and take about a minute each.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import eventlog, inputs, procstat, run  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")
# the recorded log: two passes of pip_join + tile_pyramid_rollup over
# 1000 points (14 pip rows each), then two jobs tagged "probe sink"
WINDOWS = [(1792177552367, 1792177556663), (1792177557474, 1792177558731)]

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_eventlog_pass_metrics():
    log = eventlog.parse(LOG)
    m = eventlog.pass_metrics(log, "pass", WINDOWS)
    assert m["jobs"] == 5.0 and m["stages"] == 5.0 and m["tasks"] == 8.0
    assert m["task_run_s"] == pytest.approx(2.454)
    assert m["task_cpu_s"] == pytest.approx(0.51157182)
    assert m["gc_s"] == pytest.approx(0.0665)
    assert m["spill_mb"] == 0.0
    assert m["shuffle_write_mb"] == m["shuffle_read_mb"] == pytest.approx(0.064453125)
    assert m["fixed_overhead_s"] == pytest.approx(0.9935)
    assert m["task_skew"] == 1.0
    # every job is attributed to at most one pass
    per_pass = [set(eventlog._jobs_of_pass(log, "pass", i)) for i in range(2)]
    assert not per_pass[0] & per_pass[1]


def test_eventlog_sql_metrics_and_tags():
    log = eventlog.parse(LOG)
    # 1000 probe-side points per execution, 14 rows out of the join
    assert eventlog.probe_rows_per_output(log, "pip_join") == pytest.approx(1000 / 14)
    assert eventlog.probe_rows_per_output(log, "no_such_operator") == 0.0
    assert eventlog.jobs_tagged(log, "probe sink") == 2


def test_union_of_stage_intervals():
    assert eventlog._union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert eventlog._union_ms([(0, 30), (5, 15)]) == 30
    assert eventlog._union_ms([]) == 0


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for group, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in spec[group]} == table
        for name, unit in table.items():
            assert NAME.fullmatch(name), name
            assert UNIT.fullmatch(unit), unit
    assert not set(run.END_TO_END) & set(run.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)


def test_inputs_are_seeded():
    a, b, c = inputs.points_table(1, 100), inputs.points_table(1, 100), inputs.points_table(2, 100)
    assert a.equals(b) and not a.equals(c)
    # the documents fixture: the same rows in a seed-dependent order
    d1, d2 = inputs.documents_table(1, 5000), inputs.documents_table(2, 5000)
    assert d1.num_rows == 5000 and d1.sort_by("doc_id").equals(d2.sort_by("doc_id"))
    assert d1.column("doc_id").to_pylist() != d2.column("doc_id").to_pylist()
    assert inputs.documents_table(1, 200).equals(d1.slice(0, 200))
    c1 = inputs.corpus_table(3, 20)
    assert c1.equals(inputs.corpus_table(3, 20))
    assert c1.column("doc_id")[0].as_py() == f"doc-{inputs.corpus_offset(3, 20):09d}"


def test_inputs_cache_keyed_by_seed_and_size(tmp_path):
    p1 = inputs.ensure_inputs(str(tmp_path), 1, {"points": 10, "nation": 25})
    p2 = inputs.ensure_inputs(str(tmp_path), 2, {"points": 10, "nation": 25})
    p3 = inputs.ensure_inputs(str(tmp_path), 1, {"points": 20})
    assert len({p1["points"], p2["points"], p3["points"]}) == 3
    assert p1["nation"] == p2["nation"]
    assert sorted(os.listdir(p1["points"])) == [f"part-{i:03d}.parquet" for i in range(8)]


def test_procstat_sees_this_process():
    split = procstat.cpu_split(os.getpid())
    assert split["driver"] > 0
    assert os.getpid() in procstat.tree_stats(os.getpid())


def _smoke(workload: str, sizes: dict) -> dict:
    """One traced run of ``workload`` at tiny input sizes with a single
    warm-up pass, in a fresh interpreter (the run owns its JVM and
    process environment)."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from perfbench import run, workloads;"
        f"workloads.WORKLOADS[{workload!r}].sizes = {sizes!r};"
        f"workloads.WORKLOADS[{workload!r}].warmup_passes = 1;"
        f"sys.exit(run.main(['--workload', {workload!r}, '--seed', '7', '--seconds', '1', '--trace', '1']))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, ROOT], capture_output=True, text=True, timeout=600, cwd=ROOT
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert set(result["metrics"]) == set(run.PER_LAYER)
    return {k: v["value"] for k, v in result["metrics"].items()}


@pytest.mark.skipif(not os.path.isdir("/proc/self"), reason="needs /proc")
def test_smoke_snap_tiles():
    m = _smoke("snap_tiles", {"corpus": 240})
    for name in ("functions.parse_s", "kernel.snap_s", "kernel.members", "kernel.vertices", "snap_tiles.tile_rows"):
        assert m[name] > 0, name
    assert m["sources.span_violations"] == 0
    assert m["spatial_queries.knn_join_s"] == 0


@pytest.mark.skipif(not os.path.isdir("/proc/self"), reason="needs /proc")
def test_smoke_spatial_joins():
    m = _smoke("spatial_joins", {"points": 20_000, "nation": 25, "documents": 200})
    for name in ("functions.parse_s", "functions.fallback_rows", "kernel.snap_s", "kernel.members"):
        assert m[name] == 0, name
    assert m["spatial_queries.knn_join_s"] > 0
    assert m["spatial_queries.pip_candidates_per_row"] > 1
    assert m["dedup.minhash_lsh_s"] > 0
