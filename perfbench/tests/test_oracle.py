"""The benchmark's oracles on tiny hand-checked cases, and its op accounting."""

import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import oracle, procfs  # noqa: E402
from perfbench.harness import Context, closed_loop, last_over_first  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

#  id 1: [0,1]²   id 2: [1,2]² (touches 1 at (1,1))
#  id 3: [3,4]²   id 4: [0.25,0.5]² (inside 1)
BOXES = pd.DataFrame({
    "id": [1, 2, 3, 4],
    "xmin": [0.0, 1.0, 3.0, 0.25], "ymin": [0.0, 1.0, 3.0, 0.25],
    "xmax": [1.0, 2.0, 4.0, 0.5], "ymax": [1.0, 2.0, 4.0, 0.5],
})


@pytest.fixture
def boxes():
    return oracle.Boxes(BOXES)


def test_intersects_is_closed(boxes):
    assert boxes.intersects((1.0, 1.0, 1.0, 1.0)).tolist() == [1, 2]
    assert boxes.intersects((2.5, 2.5, 2.9, 2.9)).tolist() == []


def test_contains_means_window_contains_entry(boxes):
    assert boxes.contains((0.0, 0.0, 1.0, 1.0)).tolist() == [1, 4]
    assert boxes.contains((0.2, 0.2, 0.6, 0.6)).tolist() == [4]


def test_nearest_uses_point_to_box_distance_and_keeps_ties(boxes):
    # from (1.5, 0): d² = 0.25 (1), 1 (2), 1.0625 (4), 11.25 (3)
    assert boxes.nearest(1.5, 0.0, 1).tolist() == [1]
    assert boxes.nearest(1.5, 0.0, 2).tolist() == [1, 2]
    # from (0.5, 1.5) boxes 1 and 2 tie at d² = 0.25
    assert boxes.nearest(0.5, 1.5, 1).tolist() == [1, 2]
    assert boxes.nearest(0.0, 0.0, 10).tolist() == [1, 2, 3, 4]


def test_self_join_both_orders_distinct_ids_inside_window(boxes):
    want = oracle.pair_codes([1, 2, 1, 4], [2, 1, 4, 1])
    assert boxes.self_join((0.0, 0.0, 2.0, 2.0)).tolist() == sorted(want)


def test_mirror_follows_writes(boxes):
    boxes.insert(pd.DataFrame({
        "id": [9], "xmin": [1.0], "ymin": [1.0], "xmax": [1.0], "ymax": [1.0],
    }))
    boxes.delete(np.array([2]))
    assert boxes.intersects((1.0, 1.0, 1.0, 1.0)).tolist() == [1, 9]


def test_points_in_boxes_is_closed():
    polys = pd.DataFrame({
        "pxmin": [0.0, 0.5], "pymin": [0.0, 0.5],
        "pxmax": [1.0, 0.6], "pymax": [1.0, 0.6],
    })
    px, py = np.array([0.5, 1.0, 2.0]), np.array([0.5, 1.0, 2.0])
    assert oracle.points_in_boxes(px, py, polys).tolist() == [2, 1, 0]


def _ctx(tmp_path):
    return Context(
        spark=None, conf=None, work=str(tmp_path), seed=0, seconds=0.0,
        tracer=Tracer(None, enabled=False),
    )


def test_wrong_result_counts_as_failed(tmp_path, boxes):
    ctx = _ctx(tmp_path)
    want = boxes.intersects((1.0, 1.0, 1.0, 1.0))
    ctx.attempt("read", lambda: [1, 2], lambda got: oracle.same(got, want))
    ctx.attempt("read", lambda: [1], lambda got: oracle.same(got, want))
    ctx.attempt("read", lambda: [1, 2, 2], lambda got: oracle.same(got, want))
    assert (ctx.ops.attempted, ctx.ops.failed) == (3, 2)
    assert len(ctx.ops.latency["read"]) == 3


def test_raising_op_counts_as_failed_without_latency(tmp_path):
    ctx = _ctx(tmp_path)
    out = ctx.attempt("read", lambda: 1 / 0, lambda got: True)
    assert out == (None, None)
    assert (ctx.ops.attempted, ctx.ops.failed) == (1, 1)
    assert "read" not in ctx.ops.latency


def test_rng_streams_are_seeded_and_independent(tmp_path):
    a, b = _ctx(tmp_path), _ctx(tmp_path)
    assert a.rng("ops").integers(1 << 30) == b.rng("ops").integers(1 << 30)
    assert a.rng("ops").integers(1 << 30) != a.rng("rects").integers(1 << 30)


def test_closed_loop_runs_at_least_the_steps_asked():
    steps = []
    closed_loop(0.0, steps.append, at_least=2)
    assert steps == [0, 1]


def test_drift_compares_each_kind_last_to_first():
    got = last_over_first({"a": [1.0, 3.0, 2.0], "b": [2.0, 1.0], "c": [5.0]})
    assert got == [2.0, 0.5]


def test_process_tree_memory_and_wait():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in procfs.descendants(os.getpid())
        with procfs.PeakMemory() as mem:
            time.sleep(2 * procfs.INTERVAL)
        assert len(mem.at_peak) >= 2
        assert mem.peak > procfs.pss_bytes(os.getpid()) > 0
        assert 0 < mem.peak_without_jvm <= mem.peak
    finally:
        child.kill()
        child.wait()
    assert procfs.wait_gone([child.pid], timeout=5) == []
