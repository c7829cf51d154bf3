"""The benchmark's workloads: inputs, one timed pass, output checks.

Each workload drives only the public API of ``cminer_spark``. Inputs
come from ``synth_transcripts(seed=<seed>)`` and are written as
parquet tables; a pass reads them back through
``read_table("parquet:...")``, the Iceberg seam, and writes every
result with ``write_table``.

Every call into ``cminer_spark`` during a pass is one operation
(:class:`Ops`). After the pass, outside its timer, each operation's
output is compared with the independent reference of
:mod:`perfbench.reference`; an operation that raises or whose output
differs counts as failed.
"""

from __future__ import annotations

import hashlib
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa

from perfbench import reference as ref
from perfbench.tracing import TracedCheckpoint

# Input sizes, in conversations (synth_transcripts n_convs).
INGEST_CONVS = 40_000
GRAPH_CONVS = 2_500
# Analytics loop settings: PageRank runs its convergence path
# (tol > 0, L1 observed every superstep) but is capped at
# PR_MAX_ITER supersteps; LPA runs at most LPA_ROUNDS rounds.
PR_TOL = 1e-9
PR_MAX_ITER = 3
LPA_ROUNDS = 2
RANK_ATOL = 1e-6


@dataclass
class Ops:
    """Names of the operations a pass has started, in order, plus the
    values the calls returned that the checks and counters need."""

    names: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def __call__(self, name: str, fn, *args, **kwargs):
        self.names.append(name)
        return fn(*args, **kwargs)


@dataclass
class Context:
    spark: object
    tracer: object
    inputs: Path
    out: Path


def _api():
    from cminer_spark.sources.tables import read_table, write_table

    return read_table, write_table


def _parquet(path: Path) -> str:
    return f"parquet:{path}"


def _checkpoint(ctx: Context, name: str, ops: Ops):
    """A fresh durable checkpoint directory, traced in traced runs."""
    from cminer_spark.plans import SuperstepCheckpoint

    d = ctx.out / f"ck_{name}"
    shutil.rmtree(d, ignore_errors=True)
    with ctx.tracer.span("checkpoint"):
        ck = SuperstepCheckpoint(ctx.spark, str(d))
    if ctx.tracer.enabled:
        ck = TracedCheckpoint(ck, ctx.tracer)
        ops.info.setdefault("checkpoints", []).append(ck)
    return ck


def _dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / 2**20


def _ranked(path: Path, column: str) -> tuple[np.ndarray, np.ndarray]:
    t = ref.read_parquet(path, ["v_id", column]).sort_by("v_id")
    return t.column("v_id").to_numpy(), t.column(column).to_numpy()


class Workload:
    name = ""
    layers: tuple[str, ...] = ()
    # Untimed passes before timing. A fixed count, not a duration, so
    # every run's JVM has done the same work when timing starts.
    warmup_passes = 1

    def __init__(self, scale: float = 1.0):
        self.scale = scale

    def convs(self, n: int) -> int:
        return max(int(n * self.scale), 50)

    def prepare(self, spark, inputs: Path, seed: int) -> None:
        raise NotImplementedError

    def reference(self, inputs: Path) -> dict:
        """Expected outputs, plus the input sizes ``turns``, ``edges``
        and ``vertices``."""
        raise NotImplementedError

    def run_pass(self, ctx: Context, ops: Ops) -> None:
        raise NotImplementedError

    def check(self, ctx: Context, ops: Ops, want: dict) -> list[str]:
        """Names of the operations whose output differs."""
        raise NotImplementedError

    def counters(self, ctx: Context, ops: Ops) -> dict:
        return {}

    def final_checks(self, ctx: Context, want: dict) -> tuple[int, int]:
        """Check-only operations run once after the timed passes:
        ``(attempted, failed)``."""
        return 0, 0


class Ingest(Workload):
    """Transcripts → edges + vertices, both written as tables."""

    name = "ingest"
    layers = ("session", "tables", "edges")
    # after one warm-up pass the next pass still ran 30% slower
    warmup_passes = 3

    def prepare(self, spark, inputs, seed):
        from cminer_spark.synth import synth_transcripts

        _, write_table = _api()
        t = synth_transcripts(spark, self.convs(INGEST_CONVS), seed=seed)
        write_table(t, _parquet(inputs / "transcripts"))

    def reference(self, inputs):
        t = ref.read_parquet(inputs / "transcripts")
        digests = pa.array(
            [hashlib.sha256(s.encode()).hexdigest() for s in t.column("text").to_pylist()],
            pa.string(),
        )
        edges = ref.edge_rows(t)
        verts = ref.vertex_rows(t)
        return {
            "turns": np.int64(t.num_rows),
            "edges": np.int64(edges.num_rows),
            "vertices": np.int64(verts.num_rows),
            "edge_rows": ref.canonical(edges),
            "vertex_rows": ref.canonical(verts),
            "text_rows": ref.canonical(
                pa.table(
                    {"conv_id": t.column("conv_id"), "turn_idx": t.column("turn_idx"), "h": digests}
                )
            ),
        }

    def run_pass(self, ctx, ops):
        from cminer_spark.operators import extract_edges, vertices_from_transcripts

        read_table, write_table = _api()
        tr = ctx.tracer
        with tr.span("tables"):
            turns = ops("read_table", read_table, ctx.spark, _parquet(ctx.inputs / "transcripts"))
        edges = tr.lazy("edges", lambda: ops("extract_edges", extract_edges, turns))
        verts = tr.lazy(
            "edges", lambda: ops("vertices_from_transcripts", vertices_from_transcripts, turns)
        )
        with tr.span("tables"):
            ops("write_table", write_table, edges, _parquet(ctx.out / "edges"))
            ops("write_table", write_table, verts, _parquet(ctx.out / "vertices"))
        tr.release()

    def check(self, ctx, ops, want):
        bad = []
        edges = ref.read_parquet(ctx.out / "edges")
        if not ref.same_rows(edges.select(["src_key", "dst_key", "type"]), want["edge_rows"]):
            bad.append("extract_edges")
        verts = ref.read_parquet(ctx.out / "vertices")
        # one id per key, the same in both outputs: the distinct
        # (key, id) endpoints of the edges are exactly the vertices
        ends = pa.concat_tables(
            [
                edges.select(["src_key", "src"]).rename_columns(["k", "i"]),
                edges.select(["dst_key", "dst"]).rename_columns(["k", "i"]),
            ],
            promote_options="permissive",
        ).group_by(["k", "i"]).aggregate([])
        ids = ref.canonical(verts.select(["v_key", "v_id"]).rename_columns(["k", "i"]))
        if not (
            ref.same_rows(ref.joined_labels(verts), want["vertex_rows"])
            and ref.same_rows(ends, ids)
        ):
            bad.append("vertices_from_transcripts")
        return bad

    def counters(self, ctx, ops):
        return {"edges.rows_out": ref.read_parquet(ctx.out / "edges", ["src"]).num_rows}

    def final_checks(self, ctx, want):
        """Per-turn text equality through ``passthrough_turns``:
        ``sha2(text)`` of its output against hashlib over the source."""
        from pyspark.sql import functions as F

        from cminer_spark.operators import passthrough_turns

        read_table, write_table = _api()
        turns = read_table(ctx.spark, _parquet(ctx.inputs / "transcripts"))
        hashed = passthrough_turns(turns).select(
            "conv_id", "turn_idx", F.sha2("text", 256).alias("h")
        )
        write_table(hashed, _parquet(ctx.out / "passthrough"))
        got = ref.read_parquet(ctx.out / "passthrough")
        return 1, int(not ref.same_rows(got, want["text_rows"]))


class Analytics(Workload):
    """PageRank, CC, LPA and triangles over a pre-extracted edge table,
    each with a durable checkpoint where it takes one."""

    name = "analytics"
    layers = ("session", "tables", "pagerank", "components", "lpa", "triangles", "checkpoint")

    def prepare(self, spark, inputs, seed):
        from cminer_spark.operators import extract_edges
        from cminer_spark.synth import synth_transcripts

        _, write_table = _api()
        turns = synth_transcripts(spark, self.convs(GRAPH_CONVS), seed=seed)
        write_table(extract_edges(turns), _parquet(inputs / "edges"))

    def reference(self, inputs):
        g = ref.Graph.from_parquet(inputs / "edges")
        rank, _ = ref.pagerank(g, tol=PR_TOL, max_iter=PR_MAX_ITER)
        lpa, _ = ref.label_propagation(g, LPA_ROUNDS)
        return {
            "ids": g.ids,
            "rank": rank,
            "component": ref.components(g),
            "label": lpa,
            "triangles": ref.triangles(g),
            "turns": np.int64(ref.turn_count(inputs / "edges")),
            "edges": np.int64(len(g.src)),
            "vertices": np.int64(g.n),
        }

    def run_pass(self, ctx, ops):
        from cminer_spark.operators import (
            connected_components,
            label_propagation,
            pagerank,
            triangle_counts,
        )

        read_table, write_table = _api()
        tr = ctx.tracer
        with tr.span("tables"):
            edges = ops("read_table", read_table, ctx.spark, _parquet(ctx.inputs / "edges"))
        ck = _checkpoint(ctx, "pagerank", ops)
        t0 = time.perf_counter()
        with tr.span("pagerank"):
            ranks, info = ops(
                "pagerank", pagerank, edges, tol=PR_TOL, max_iter=PR_MAX_ITER, checkpoint=ck
            )
        ops.info["pagerank_s"] = time.perf_counter() - t0
        ops.info["pagerank"] = info
        ck = _checkpoint(ctx, "components", ops)
        with tr.span("components"):
            cc, cinfo = ops("connected_components", connected_components, edges, checkpoint=ck)
        ops.info["components"] = cinfo
        ck = _checkpoint(ctx, "lpa", ops)
        with tr.span("lpa"):
            lpa, linfo = ops(
                "label_propagation", label_propagation, edges, max_rounds=LPA_ROUNDS, checkpoint=ck
            )
        ops.info["lpa"] = linfo
        with tr.span("triangles"):
            tri, total = ops("triangle_counts", triangle_counts, edges)
        ops.info["triangles"] = total
        with tr.span("tables"):
            for name, df in (("ranks", ranks), ("cc", cc), ("lpa", lpa), ("tri", tri)):
                ops("write_table", write_table, df, _parquet(ctx.out / name))

    def check(self, ctx, ops, want):
        ids = want["ids"]
        bad = []
        got_ids, rank = _ranked(ctx.out / "ranks", "rank")
        if not (np.array_equal(got_ids, ids) and np.allclose(rank, want["rank"], rtol=0, atol=RANK_ATOL)):
            bad.append("pagerank")
        for name, table, col in (
            ("connected_components", "cc", "component"),
            ("label_propagation", "lpa", "label"),
        ):
            got_ids, got = _ranked(ctx.out / table, col)
            if not (np.array_equal(got_ids, ids) and np.array_equal(got, want[col])):
                bad.append(name)
        got_ids, tri = _ranked(ctx.out / "tri", "triangles")
        if not (
            np.array_equal(got_ids, ids)
            and np.array_equal(tri, want["triangles"])
            and ops.info["triangles"] == int(want["triangles"].sum()) // 3
        ):
            bad.append("triangle_counts")
        return bad

    def counters(self, ctx, ops):
        info = ops.info["pagerank"]
        cks = ops.info.get("checkpoints", [])
        return {
            "pagerank.supersteps": info.iterations,
            "pagerank.salted": int(info.salted),
            "components.rounds": ops.info["components"].rounds,
            "lpa.rounds": ops.info["lpa"].rounds,
            "triangles.total": ops.info["triangles"],
            "checkpoint.saves": sum(ck.saves for ck in cks),
            "checkpoint.mb": sum(_dir_mb(ctx.out / f"ck_{n}") for n in ("pagerank", "components", "lpa")),
        }


WORKLOADS = {w.name: w for w in (Ingest, Analytics)}
