"""``index_rw``: the reference's test2 stream of mixed reads and writes
against one ``api.Index``.

Reads plan on the driver (manifest totals, extents, file map) before a
small Spark job; writes change the layout those plans read: an insert adds
files to buckets and drops the file map, a delete rewrites buckets, a
compaction merges files again.  So a read-side cache that costs writes, or
serves a stale plan after one, shows here.  ``flagship`` and ``joins``
never touch a stored index.

One cycle of the stream, in this fixed order, each read and write with
seeded parameters::

    intersects, contains, nearest, count,
    insert, intersects, nearest,
    delete, contains, count,
    compact,
    intersects, contains, nearest, count

The index is built with files of at most ``ROWS_PER_FILE`` rows, so each
bucket splits into z-disjoint files under a file map.  The compaction
restores that layout: it re-splits the files and rebuilds the file map.  So
the first and the last four reads of a cycle read the same kind of layout,
and their ratio shows state that builds up across the writes.  Every run
measures whole cycles, so each run holds the same mix of op types.
"""

from __future__ import annotations

import time

import pandas as pd

from perfbench import data, oracle
from perfbench.harness import (
    Context, Outcome, closed_loop, dir_stats, p50,
)
from perfbench.trace import spark_layers

N_RECTS = 30_000
# bench.py builds 600k rows with 20k-row files: about two files per bucket
ROWS_PER_FILE = N_RECTS // 30
INSERT_ROWS = 2_000
DELETE_IDS = 1_000
K = 10
READS = ("intersects", "contains", "nearest", "count")
CYCLE = (
    *READS,
    "insert", "intersects", "nearest",
    "delete", "contains", "count",
    "compact",
    *READS,
)
WRITES = ("insert", "delete", "compact")
WINDOW = {"intersects": 0.01, "contains": 0.05, "count": 0.01}


def run(ctx: Context) -> Outcome:
    from libspatialindex_spark import api
    from libspatialindex_spark.operators import index_build, knn, range_query
    from libspatialindex_spark.plans import stats

    spark, conf, tr = ctx.spark, ctx.conf, ctx.tracer
    rects = data.boxes(ctx.rng("rects"), N_RECTS)

    t0 = time.perf_counter()
    src = data.write_parquet(rects, ctx.fresh_dir("rects"))
    t1 = time.perf_counter()
    idx = api.Index.create(
        spark.read.parquet(src), ctx.fresh_dir("index"), conf,
        max_records_per_file=ROWS_PER_FILE,
    )
    build_s = time.perf_counter() - t1
    built_bytes = dir_stats(idx.stored.data_path)[1]
    live = oracle.Boxes(rects)
    warm = ctx.rng("warm-up")
    for kind in READS:
        _read_api(idx, kind, *_read_args(warm, kind))
    setup_s = time.perf_counter() - t0
    ctx.log("set-up done")

    ops_rng, next_id = ctx.rng("ops"), [N_RECTS]
    drift: list[float] = []  # per cycle: last reads over first reads
    twins: list[tuple[float, object]] = []  # (untraced read s, traced root)
    fs_after_write: list[tuple[int, float]] = []
    scanned_per_returned: list[float] = []
    files_planned: list[int] = []

    def read(i: int, kind: str) -> float | None:
        args = _read_args(ops_rng, kind)
        want = _oracle(live, kind, args)

        def check(got) -> bool:
            return got == len(want) if kind == "count" else oracle.same(got, want)

        def api_read():
            return _read_api(idx, kind, *args)

        if not ctx.trace:
            return ctx.attempt(kind, api_read, check)[1]

        def traced():
            layer = "knn" if kind == "nearest" else "range_query"
            with tr.span(f"op.{kind}", op=i) as root:
                with tr.span("index_build.relation"):
                    rel = idx.stored.relation(idx.box)
                with tr.span(f"{layer}.plan"):
                    if kind == "intersects":
                        df = range_query.intersects_query(rel, *args)
                    elif kind == "contains":
                        df = range_query.contains_what_query(rel, *args)
                    elif kind == "count":
                        df = range_query.count_intersects(rel, *args)
                    else:
                        df = knn.knn_query(rel, *args, K)
                with tr.span(f"{layer}.exec"):
                    got = (
                        df.collect()[0]["n"] if kind == "count"
                        else [r.id for r in df.select("id").collect()]
                    )
            return got, root, rel

        twin, out = ctx.twin(kind, api_read, traced, check, len(twins))
        if out is None:
            return None
        twins.append((twin, out[1]))
        rel = out[2]
        if kind != "nearest":
            files_planned.append(rel.files_planned_for_box(*args))
        if kind in ("intersects", "contains"):
            q, io = stats.observed_query(rel, *args, predicate=kind)
            q.write.format("noop").mode("overwrite").save()
            got = io()
            scanned_per_returned.append(
                got["rows_scanned"] / max(got["rows_returned"], 1)
            )
        return twin

    def write(i: int, kind: str) -> None:
        if kind == "insert":
            rows = data.boxes(ops_rng, INSERT_ROWS, first_id=next_id[0])
            next_id[0] += INSERT_ROWS

            def op():
                idx.insert(spark.createDataFrame(rows), build_id=f"insert-{i}")
                live.insert(rows)
        elif kind == "delete":
            victims = ops_rng.choice(live.id, DELETE_IDS, replace=False)

            def op():
                idx.delete(spark.createDataFrame(pd.DataFrame({"id": victims})))
                live.delete(victims)
        else:
            def op():
                idx.compact(max_records_per_file=ROWS_PER_FILE)
                index_build.refresh_file_map(idx.stored)

        def traced():
            with tr.span(f"op.{kind}", op=i) as root:
                with tr.span(f"mutations.{kind}"):
                    op()
            return root

        # a write returns nothing; every later read checks its effect
        out, _ = ctx.attempt(kind, traced if ctx.trace else op, lambda _: True)
        if ctx.trace and out is not None:
            most, nbytes = dir_stats(idx.stored.data_path)
            fs_after_write.append((most, nbytes / len(live)))

    def cycle(c: int) -> None:
        secs = [
            (write if kind in WRITES else read)(c * len(CYCLE) + j, kind)
            for j, kind in enumerate(CYCLE)
        ]
        first, last = secs[:len(READS)], secs[-len(READS):]
        if None not in first + last:
            drift.append(sum(last) / sum(first))

    elapsed = closed_loop(ctx.seconds, cycle)
    ctx.log("loop done")
    lat = ctx.ops.latency
    reads = [s for k in READS for s in lat.get(k, [])]
    writes_s = [s for k in WRITES for s in lat.get(k, [])]

    layers = {}
    if ctx.trace and twins:
        def spans(name):
            return [s.seconds for s in tr.named(name)]

        def jobs(*names):
            """Per-op median of the jobs of an op's ``names`` spans."""
            per_op = []
            for root in (s for s in tr.spans if s.parent is None):
                kids = [c for c in tr.children(root) if c.name in names]
                if kids:
                    per_op.append(sum(c.counters["jobs"] for c in kids))
            return p50(per_op)

        layers = {
            "index_build.build_s": build_s,
            "index_build.bytes_per_row": built_bytes / N_RECTS,
            "index_build.relation_s": p50(spans("index_build.relation")),
            "index_build.relation_jobs": jobs("index_build.relation"),
            "range_query.plan_s": p50(spans("range_query.plan")),
            "range_query.exec_s": p50(spans("range_query.exec")),
            "range_query.exec_jobs": jobs("range_query.exec"),
            "plans.files_planned": p50(files_planned),
            "plans.rows_scanned_per_returned": p50(scanned_per_returned),
            "knn.plan_s": p50(spans("knn.plan")),
            "knn.exec_s": p50(spans("knn.exec")),
            "knn.jobs": jobs("knn.plan", "knn.exec"),
            "mutations.insert_s": p50(spans("mutations.insert")),
            "mutations.delete_s": p50(spans("mutations.delete")),
            "mutations.compact_s": p50(spans("mutations.compact")),
            "mutations.jobs": jobs(*(f"mutations.{k}" for k in WRITES)),
            "plans.fs.files_per_bucket_max": p50([m for m, _ in fs_after_write]),
            "plans.fs.bytes_per_live_row": p50([b for _, b in fs_after_write]),
            **spark_layers(tr, [root for _, root in twins]),
            "trace.overhead_s": p50([r.seconds - t for t, r in twins]),
            "trace.accounted_share": p50([
                sum(c.seconds for c in tr.children(r)) / t for t, r in twins
            ]),
        }
    return Outcome(
        setup_s=setup_s,
        throughput_per_s=(len(reads) + len(writes_s)) / elapsed,
        latency_s_p50=p50(reads),
        slow_op_s=sum(writes_s) / max(len(writes_s), 1),
        layers=layers,
        drift=drift,
    )


def _read_args(rng, kind: str) -> tuple:
    return data.point(rng) if kind == "nearest" else data.window(rng, WINDOW[kind])


def _read_api(idx, kind: str, *args):
    """One read through the public ``api.Index`` surface, ids collected."""
    if kind == "count":
        return idx.intersects_count(args)
    if kind == "nearest":
        df = idx.nearest(*args, K)
    elif kind == "intersects":
        df = idx.intersects(args)
    else:
        df = idx.contains(args)
    return [r.id for r in df.select("id").collect()]


def _oracle(live: oracle.Boxes, kind: str, args):
    if kind == "nearest":
        return live.nearest(*args, K)
    if kind == "contains":
        return live.contains(args)
    return live.intersects(args)
