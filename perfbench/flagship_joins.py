"""``flagship_joins``: the engine's three join shapes on unindexed inputs.

Each round runs, in this order:

* ``pass``: one ``pipeline.run_on`` pass of the BASELINE join + tile +
  re-encode pipeline over the generator's image table (skewness 2.0) and a
  seeded polygon layer;
* ``self_join``: ``spatial_join.self_join_query`` on a seeded 0.03-side
  window (the q05 shape);
* ``knn_join``: ``knn.knn_join`` of 1,000 seeded query points, k = 10 (the
  q19 / test1 shape).

The self-join and the kNN join run over a derived relation prepared as q19
prepares it: spread to the core count, then a lazy local checkpoint.  The
codec does about half of a pass's work; the shuffle joins and the multi-job
kNN rounds do the joins' work; the stored index does none of it.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import data, oracle
from perfbench.harness import (
    CORES, Context, Outcome, closed_loop, last_over_first, p50,
)
from perfbench.trace import spark_layers

N_IMAGES = 10_000
N_POLYS = 20_000
N_RECTS = 100_000
N_QUERIES = 1_000
K = 10
WINDOW = 0.03
CHECKED_QUERIES = 25  # kNN-join queries checked against the oracle per op
FIDELITY_SAMPLE = 32
KINDS = ("pass", "self_join", "knn_join")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Pipeline:
    """The ``pass`` op and its noop-sink prefix ladder."""

    def __init__(self, ctx: Context):
        from libspatialindex_spark import pipeline

        self.ctx, self.pipeline = ctx, pipeline
        self.polys_pdf = data.polys(ctx.rng("polys"), N_POLYS)
        self.ladder: list[tuple[float, object]] = []  # (untraced s, root)

    def setup(self) -> None:
        ctx = self.ctx
        self.polys = ctx.spark.read.parquet(
            data.write_parquet(self.polys_pdf, ctx.fresh_dir("polys"))
        )
        self.ipath = ctx.fresh_dir("images")
        t0 = time.perf_counter()
        self.images = self.pipeline.materialize_images(
            ctx.spark, N_IMAGES, self.ipath, skewness=2.0, partitions=2 * CORES
        )
        self.materialize_s = time.perf_counter() - t0

    def run_on(self):
        return self.pipeline.run_on(
            self.images, self.polys, self.ctx.conf, n_images=N_IMAGES
        )

    def prepare_oracle(self) -> None:
        img = pq.read_table(self.ipath, columns=["x", "y", "bytes", "image_id", "fmt"])
        hits = oracle.points_in_boxes(
            img["x"].to_numpy(), img["y"].to_numpy(), self.polys_pdf
        )
        self.want_rows = int(hits.sum())
        nbytes = np.array([len(b) for b in img["bytes"].to_pylist()])
        self.bytes_in = int((hits * nbytes).sum())
        self.fmt_of = dict(zip(img["image_id"].to_pylist(), img["fmt"].to_pylist()))

    def ok(self, r) -> bool:
        return (
            r.n_join_rows == self.want_rows and r.n_images == N_IMAGES
            and r.out_bytes > 0
        )

    def op(self, i: int) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        if not ctx.trace:
            ctx.attempt("pass", self.run_on, self.ok)
            return
        from libspatialindex_spark.operators import spatial_join, tiling

        def traced():
            with tr.span("op.pass", op=i) as root:
                with tr.span("sources.scan"):
                    _noop(self.images)
                joined = spatial_join.point_in_box_join(
                    self.images, self.polys, "x", "y", self.pipeline.POLY_BOX,
                    ctx.conf, broadcast_boxes=True,
                )
                with tr.span("spatial_join.pip"):
                    _noop(joined)
                tiled = tiling.assign_tiles(joined, ctx.conf)
                with tr.span("tiling.assign"):
                    _noop(tiled)
                with tr.span("tiling.reencode"):
                    _noop(tiling.reencode(tiled))
                with tr.span("pipeline.run_on"):
                    r = self.run_on()
            return r, root

        twin, out = ctx.twin("pass", self.run_on, traced, self.ok, i)
        if out is not None:
            self.ladder.append((twin, out[1]))
            self.result = out[0]

    def check_fidelity(self) -> None:
        """Decoded-pixel fidelity of the re-encode (untimed, once per run):
        exact for lossless rows, PSNR ≥ 40 dB for lossy ones, captions
        unchanged."""
        from libspatialindex_spark.operators import spatial_join, tiling

        tiled = tiling.assign_tiles(
            spatial_join.point_in_box_join(
                self.images, self.polys, "x", "y", self.pipeline.POLY_BOX,
                self.ctx.conf,
            ),
            self.ctx.conf,
        )
        rep = tiling.fidelity_report(
            tiled, tiling.reencode(tiled), sample=FIDELITY_SAMPLE
        )
        lossless = rep["image_id"].map(self.fmt_of) == "png"
        self.ctx.ops.record("fidelity", None, bool(
            len(rep) > 0 and rep["caption_equal"].all()
            and (rep["psnr"][lossless] == np.inf).all()
            and (rep["psnr"][~lossless] >= 40.0).all()
        ))

    def layers(self) -> dict:
        tr = self.ctx.tracer
        rung = {
            name: [next(c for c in tr.children(root) if c.name == name).seconds
                   for _, root in self.ladder]
            for name in ("sources.scan", "spatial_join.pip", "tiling.assign",
                         "tiling.reencode", "pipeline.run_on")
        }

        def added(hi: str, lo: str) -> float:
            return p50([a - b for a, b in zip(rung[hi], rung[lo])])

        done = self.result
        return {
            "sources.materialize_s": self.materialize_s,
            "sources.scan_s": p50(rung["sources.scan"]),
            "spatial_join.pip_s": added("spatial_join.pip", "sources.scan"),
            "spatial_join.pip_rows": self.want_rows,
            "tiling.assign_s": added("tiling.assign", "spatial_join.pip"),
            "tiling.reencode_s": added("tiling.reencode", "tiling.assign"),
            "tiling.codec_calls_per_image": done.n_join_rows / N_IMAGES,
            "tiling.bytes_out_per_in": done.out_bytes / self.bytes_in,
            "pipeline.agg_s": added("pipeline.run_on", "tiling.reencode"),
        }


class Joins:
    """The ``self_join`` and ``knn_join`` ops over the derived relation."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.rects = data.boxes(ctx.rng("rects"), N_RECTS)
        self.live = oracle.Boxes(self.rects)
        self.rng, self.check_rng = ctx.rng("ops"), ctx.rng("checks")
        self.twins: list[tuple[float, object]] = []
        self.pairs: list[int] = []

    def setup(self) -> None:
        from libspatialindex_spark.operators.relation import SpatialRelation
        from libspatialindex_spark.sources import testdata as td

        ctx = self.ctx
        src = data.write_parquet(self.rects, ctx.fresh_dir("rects"))
        df = td.spread(ctx.spark.read.parquet(src), "id").localCheckpoint(eager=False)
        self.rel = SpatialRelation(
            df, ctx.conf, max_extent=(td.MAX_EXTENT, td.MAX_EXTENT)
        )
        self.rel.df.count()  # the checkpoint is written by the first action

    def queries(self, rng) -> pd.DataFrame:
        return pd.DataFrame({
            "qid": np.arange(N_QUERIES, dtype=np.int64),
            "qx": data.lattice(rng, N_QUERIES),
            "qy": data.lattice(rng, N_QUERIES),
        })

    def self_join(self, w):
        from libspatialindex_spark.operators import spatial_join

        return spatial_join.self_join_query(self.rel, *w)

    def knn_join(self, qdf):
        from libspatialindex_spark.operators import knn

        return knn.knn_join(self.rel, qdf, K)

    def warm(self) -> None:
        rng = self.ctx.rng("warm-up")
        self.self_join(data.window(rng, WINDOW)).toPandas()
        self.knn_join(self.ctx.spark.createDataFrame(self.queries(rng))).toPandas()

    def self_join_ok(self, w):
        want = self.live.self_join(w)
        return lambda got: oracle.same(oracle.pair_codes(got.id1, got.id2), want)

    def knn_ok(self, q: pd.DataFrame):
        pick = self.check_rng.choice(N_QUERIES, CHECKED_QUERIES, replace=False)
        want = {int(i): self.live.nearest(q.qx[i], q.qy[i], K) for i in pick}

        def check(got: pd.DataFrame) -> bool:
            ids = got.groupby("qid")["id"]
            return ids.ngroups == N_QUERIES and all(
                oracle.same(ids.get_group(i), w) for i, w in want.items()
            )
        return check

    def _op(self, i: int, kind: str, plan, ok) -> None:
        """``plan()`` builds the join, ``toPandas`` runs it; a traced run
        also runs the op with a span around each of the two steps."""
        ctx, tr = self.ctx, self.ctx.tracer
        if not ctx.trace:
            ctx.attempt(kind, lambda: plan().toPandas(), ok)
            return
        layer = "spatial_join.self_join" if kind == "self_join" else "knn.join"

        def traced():
            with tr.span(f"op.{kind}", op=i) as root:
                with tr.span(f"{layer}_plan"):
                    df = plan()
                with tr.span(f"{layer}_exec"):
                    out = df.toPandas()
            return out, root

        twin, out = ctx.twin(kind, lambda: plan().toPandas(), traced, ok, i)
        if out is not None:
            self.twins.append((twin, out[1]))
            if kind == "self_join":
                self.pairs.append(len(out[0]))

    def ops(self, i: int) -> None:
        w = data.window(self.rng, WINDOW)
        self._op(i, "self_join", lambda: self.self_join(w), self.self_join_ok(w))
        q = self.queries(self.rng)
        qdf = self.ctx.spark.createDataFrame(q)
        self._op(i + 1, "knn_join", lambda: self.knn_join(qdf), self.knn_ok(q))

    def layers(self) -> dict:
        tr = self.ctx.tracer

        def spans(name):
            return [s.seconds for s in tr.named(name)]

        return {
            "spatial_join.self_join_plan_s": p50(spans("spatial_join.self_join_plan")),
            "spatial_join.self_join_exec_s": p50(spans("spatial_join.self_join_exec")),
            "spatial_join.self_join_pairs": p50(self.pairs),
            "knn.join_plan_s": p50(spans("knn.join_plan")),
            "knn.join_exec_s": p50(spans("knn.join_exec")),
            "knn.join_jobs": p50([
                tr.subtree_counters(r)["jobs"] for _, r in self.twins
                if r.name == "op.knn_join"
            ]),
        }


def run(ctx: Context) -> Outcome:
    # bench.py's pipeline-section splits: the codec stage is CPU-bound, so
    # the small image table is split by compute, not by IO
    ctx.spark.conf.set("spark.sql.files.maxPartitionBytes", str(2 * 1024 * 1024))
    ctx.spark.conf.set("spark.sql.files.openCostInBytes", str(256 * 1024))
    pipe, joins = Pipeline(ctx), Joins(ctx)

    t0 = time.perf_counter()
    pipe.setup()
    joins.setup()
    pipe.run_on()  # warm-up: one untimed op of each kind
    joins.warm()
    setup_s = time.perf_counter() - t0
    ctx.log("set-up done")
    pipe.prepare_oracle()

    def round_(r: int) -> None:
        pipe.op(3 * r)
        joins.ops(3 * r + 1)

    # three rounds at least: the first timed round still runs 10-30 % slow
    # (JIT compilation goes on after the warm-up), and the median of three
    # does not pick it; the drift check compares each kind's last op with
    # its first
    elapsed = closed_loop(ctx.seconds, round_, at_least=3)
    ctx.log("loop done")
    pipe.check_fidelity()
    lat = ctx.ops.latency

    layers = {}
    if ctx.trace and pipe.ladder and joins.twins:
        # a pass's ladder rungs telescope: its traced op is the run_on rung
        ops = [(t, ctx.tracer.children(r)[-1]) for t, r in pipe.ladder]
        ops += joins.twins
        layers = {
            **pipe.layers(),
            **joins.layers(),
            **spark_layers(ctx.tracer, [sp for _, sp in ops]),
            "trace.overhead_s": p50([sp.seconds - t for t, sp in ops]),
            "trace.accounted_share": p50([
                (sp.seconds if sp.name == "pipeline.run_on" else
                 sum(c.seconds for c in ctx.tracer.children(sp))) / t
                for t, sp in ops
            ]),
        }
    return Outcome(
        setup_s=setup_s,
        throughput_per_s=sum(len(lat.get(k, [])) for k in KINDS) / elapsed,
        latency_s_p50=p50(lat.get("pass", [])),
        slow_op_s=p50(lat.get("knn_join", [])),
        layers=layers,
        drift=last_over_first({k: lat.get(k, []) for k in KINDS}),
    )
