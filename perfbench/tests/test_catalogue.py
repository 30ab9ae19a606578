"""Every layer metric of BENCHMARK.json names the end-to-end metrics and
workloads it should move, and those exist."""

from perfbench.metrics import END_TO_END, MOVES, PER_LAYER
from perfbench.workloads import WORKLOADS


def test_every_layer_metric_has_a_moves_entry():
    assert set(MOVES) == set(PER_LAYER)


def test_moves_name_only_kept_metrics_and_workloads():
    for name, moves in MOVES.items():
        for metric, workload in moves:
            assert metric in END_TO_END, name
            assert workload in WORKLOADS, name
