"""Tests of the benchmark's own machinery (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import itertools
import json
import random
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9_.-]+")

# The layer -> metric map the README documents: for each layer, its
# per-layer metrics, the end-to-end metrics it should move and the
# workloads it should move them on.
LAYERS = {
    "session": (
        ["session.start_s", "session.restart_s"],
        ["setup_s"],
        ["curation", "serving"],
    ),
    "sources.io": (
        ["io.parquet_reads", "io.parquet_read_s", "io.csv_reads", "io.csv_read_s"],
        ["latency_p50_s"],
        ["curation", "serving"],
    ),
    "plans": (
        [
            "plans.build_s",
            "plans.exec_s",
            "plans.build_jobs",
            "plans.exec_jobs",
            "plans.stages",
            "plans.tasks",
        ],
        ["latency_p50_s"],
        ["curation"],
    ),
    "plans.datapipe memos": (
        ["memo.build_s", "memo.dead_app_entries"]
        + [f"memo.build_s.{f}" for f in run.MEMO_FAMILIES],
        ["ops_per_s"],
        ["curation"],
    ),
    "executor": (
        [
            "exec.task_run_s",
            "exec.task_cpu_s",
            "exec.deser_s",
            "exec.gc_s",
            "exec.shuffle_read_mb",
            "exec.shuffle_write_mb",
            "exec.input_mb",
            "exec.spill_mb",
            "exec.failed_tasks",
            "exec.busy_frac",
        ],
        ["ops_per_s"],
        ["curation"],
    ),
    "streaming.pipeline": (
        [
            "stream.batches",
            "stream.batch_p50_ms",
            "stream.trigger_ms",
            "stream.add_batch_ms",
            "stream.wal_commit_ms",
            "stream.commit_offsets_ms",
            "stream.query_planning_ms",
            "stream.latest_offset_ms",
            "stream.get_batch_ms",
            "stream.temp_views_left",
            "stream.active_queries_left",
        ],
        ["latency_p50_s", "heap_live_mb"],
        ["curation"],
    ),
    "ml.pipeline": (["ml.train_s", "ml.load_model_s"], ["setup_s"], ["serving"]),
    "operators.serving": (
        ["serving.plan_s", "serving.exec_s", "serving.jobs_per_request"],
        ["latency_p50_s"],
        ["serving"],
    ),
    "resources": (
        [
            "res.temp_views",
            "res.catalog_tables",
            "res.warehouse_mb",
            "res.driver_rss_mb",
            "res.jvm_rss_mb",
        ],
        ["peak_rss_mb", "heap_live_mb"],
        ["curation"],
    ),
    "tracing": (["trace.overhead_frac"], [], ["curation", "serving"]),
}


def _files(root: Path) -> dict[str, bytes]:
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def _generate(root: Path, seed: int) -> dict[str, bytes]:
    gen.write_corpus(str(root / "data"), seed)
    gen.write_uploads(str(root / "uploads"), seed, 8)
    gen.write_training_trips(str(root / "train" / "train.csv"), seed, 200)
    return _files(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    first = _generate(tmp_path / "a", 7)
    second = _generate(tmp_path / "b", 7)
    assert first == second
    assert len(first) == 10 + 8 + 1
    other = _generate(tmp_path / "c", 8)
    assert other.keys() == first.keys()
    assert all(other[k] != first[k] for k in first if "region" not in k and "nation" not in k)


def test_same_seed_gives_the_same_request_order():
    names = [f"op{i}" for i in range(8)]
    a = list(itertools.islice(gen.op_order(3, names), 20))
    b = list(itertools.islice(gen.op_order(3, names), 20))
    assert a == b
    assert all(sorted(p) == names for p in a)
    assert a != list(itertools.islice(gen.op_order(4, names), 20))


def test_uploads_carry_the_fixture_edge_cases():
    text = "".join(gen.trips_csv(random.Random(s), 200) for s in range(5))
    rows = [line.split(",") for line in text.splitlines() if not line.startswith("VendorID")]
    assert any(r[3] == "" for r in rows)  # null passengers
    assert any(r[3] == "0" for r in rows)  # zero passengers
    assert any(r[4] == "0.0" for r in rows)  # zero distance
    assert any(r[2] <= r[1] for r in rows)  # dropoff at or before pickup
    assert all(1 <= n <= 1000 for n in gen.upload_sizes(11, 200))


@pytest.mark.parametrize("n", list(range(1, 130)) + [500, 1000])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    q = run.tail_quantile(n, 0.9)
    assert 0.5 <= q <= 0.9
    value = run.percentile(values, q)
    beyond = sum(v > value for v in values)
    if n >= 20:
        assert beyond >= run.TAIL_BEYOND
        if 0.5 < q < 0.9:
            # The highest sample that still has ten beyond it: the next
            # sample up has only nine.
            assert value == pytest.approx(values[-run.TAIL_BEYOND - 1])
    else:
        # Too few samples for a tail: report the median.
        assert q == 0.5
    if n >= 92:
        assert q == 0.9


def test_percentile_interpolates_between_ranks():
    assert run.percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert run.percentile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert run.percentile([5.0], 0.9) == 5.0
    assert run.percentile([float(i) for i in range(11)], 0.9) == 9.0


def test_metric_names_are_well_formed():
    names = (
        list(run.END_TO_END)
        + list(run.PER_LAYER)
        + [m["name"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]]
        + [w["name"] for w in BENCHMARK["workloads"]]
    )
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]


def test_benchmark_json_matches_run_py():
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in BENCHMARK["per_layer"]] == list(run.PER_LAYER)
    for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]:
        assert m["unit"] == {**run.END_TO_END, **run.PER_LAYER}[m["name"]]
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(run.WORKLOADS)


def test_layer_table_is_in_benchmark_json():
    e2e = {m["name"] for m in BENCHMARK["end_to_end"]}
    per_layer = {m["name"] for m in BENCHMARK["per_layer"]}
    workloads = {w["name"] for w in BENCHMARK["workloads"]}
    for layer, (metrics, moves, on) in LAYERS.items():
        assert set(metrics) <= per_layer, layer
        assert set(moves) <= e2e, layer
        assert set(on) <= workloads, layer
    covered = {m for metrics, _, _ in LAYERS.values() for m in metrics}
    assert covered == per_layer
