"""Generic vertex-centric superstep API (Pregel-style).

Every iterative graph operator in this repo — PageRank, CC, LPA,
HITS, Katz, k-core, ANF, coloring, MIS, Borůvka — is the same loop:
join state to edges, aggregate messages by destination, update state,
observe a convergence scalar, double-buffer the state. This module
exposes that loop as a PUBLIC operator so users can run vertex
programs the specialized operators don't ship, without touching the
machinery (reference has nothing comparable — its engine is a
single-process recursive miner, `/root/reference/src/CMiner/CMiner.py`;
the API shape follows the published Pregel/GraphFrames aggregate-
messages model re-expressed as DataFrame plans).

Everything is declarative ``pyspark.sql.functions`` Column
expressions — no per-row Python anywhere, whole-stage codegen end to
end, and the same scale design as the built-in operators:

* ONE hash shuffle for messages (edges ⋈ state, ``shuffle_hash``
  hinted — the state side is a parquet scan with unknown stats and
  Catalyst would otherwise sort-merge and re-sort the adjacency every
  superstep), one for the destination aggregate, one state join;
* state rides the :class:`~cminer_spark.plans.checkpoint.
  EphemeralStateStore` parquet double-buffer (flat plans, bounded
  storage) or a durable
  :class:`~cminer_spark.plans.checkpoint.SuperstepCheckpoint` with
  per-partition lineage + exact resume;
* the ``stop`` aggregate rides the state write via ``Observation`` —
  convergence detection costs zero extra jobs per superstep.

Hub-vertex salting is NOT applied here (the generic layer can't know
which aggregate is salt-decomposable); for power-law in-degree use
the specialized operators or pre-salt the edge frame.

Vocabulary inside the hooks:

* ``messages`` exprs see the edge columns as-is (``src``, ``dst``,
  any attrs) plus the SOURCE vertex state as ``src_<col>``;
* ``aggregates`` exprs see the message aliases, grouped by ``dst``;
* ``update`` exprs see the OLD state columns by name plus the
  aggregate aliases (NULL where no message arrived — coalesce);
* ``stop`` is an aggregate over the updated frame and may compare
  new vs old via ``prev_<col>``; the loop stops when it evaluates
  to 0/NULL.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cminer_spark.operators.graph import _und_sym, vertex_ids
from cminer_spark.plans.checkpoint import (
    EphemeralStateStore,
    SuperstepCheckpoint,
    truncate_lineage,
)

__all__ = ["pregel", "pregel_components", "PregelInfo"]


@dataclass
class PregelInfo:
    supersteps: int = 0
    converged: bool = False
    resumed_from: int | None = None


def pregel(
    edges: DataFrame,
    initial_state: DataFrame,
    messages: dict[str, Column],
    aggregates: dict[str, Column],
    update: dict[str, Column],
    max_supersteps: int = 20,
    stop: Column | None = None,
    checkpoint: SuperstepCheckpoint | None = None,
    name: str = "pregel",
) -> tuple[DataFrame, PregelInfo]:
    """Run a vertex program; returns ``(state, info)``.

    ``edges(src, dst, ...)`` — messages flow src → dst exactly as
    given (symmetrize first for undirected semantics).
    ``initial_state(v_id, <state cols>)`` — every vertex that should
    ever hold state must appear (vertices absent from ``edges`` never
    receive messages but still update).
    ``update`` must provide an expression for EVERY state column.
    """
    state_cols = [c for c in initial_state.columns if c != "v_id"]
    if "v_id" not in initial_state.columns:
        raise ValueError("initial_state needs a v_id column")
    if not state_cols:
        raise ValueError("initial_state needs at least one state column")
    if set(update) != set(state_cols):
        raise ValueError(
            f"update must cover exactly the state columns {state_cols}, "
            f"got {sorted(update)}"
        )
    clash = set(aggregates) & set(state_cols)
    if clash:
        raise ValueError(f"aggregate aliases collide with state: {clash}")

    info = PregelInfo()
    spark = initial_state.sparkSession
    edges = edges.persist()
    store = EphemeralStateStore(spark, name)
    try:
        state = initial_state
        start = 0
        if checkpoint is not None:
            resume = checkpoint.latest()
            if resume is not None:
                start, state, _ = resume
                info.resumed_from = start
        state = truncate_lineage(state)

        for step in range(start + 1, max_supersteps + 1):
            src_state = state.select(
                F.col("v_id").alias("src"),
                *[F.col(c).alias(f"src_{c}") for c in state_cols],
            )
            msgs = edges.join(src_state.hint("shuffle_hash"), "src").select(
                F.col("dst").alias("v_id"),
                *[e.alias(a) for a, e in messages.items()],
            )
            agg = msgs.groupBy("v_id").agg(
                *[e.alias(a) for a, e in aggregates.items()]
            )
            sel = [F.col("v_id")]
            sel += [update[c].alias(c) for c in state_cols]
            sel += [F.col(c).alias(f"prev_{c}") for c in state_cols]
            new_state = state.join(
                agg.hint("shuffle_hash"), "v_id", "left"
            ).select(*sel)

            obs = None
            to_save = new_state.select("v_id", *state_cols)
            if stop is not None:
                from pyspark.sql import Observation

                obs = Observation(f"{name}_stop_{step}")
                to_save = new_state.observe(obs, stop.alias("s")).select(
                    "v_id", *state_cols
                )
            state = (
                checkpoint.save(step, to_save, {"superstep": step})
                if checkpoint is not None
                else store.save(to_save, step)
            )
            info.supersteps = step
            if obs is not None:
                val = obs.get["s"]
                if checkpoint is not None:
                    checkpoint.update_metrics(step, {"stop": val})
                if not val:
                    info.converged = True
                    break
        # Detach the result from the ephemeral store before deleting
        # it (same pattern as pagerank) — the returned frame must
        # outlive the store's temp directory.
        if checkpoint is None and info.supersteps > start:
            state = truncate_lineage(state)
        return state, info
    finally:
        store.close()
        edges.unpersist()


def pregel_components(
    edges: DataFrame,
    rounds: int,
    vertices: DataFrame | None = None,
    stop_when_stable: bool = False,
) -> DataFrame:
    """Hash-min connected components expressed AS a vertex program —
    the differential twin of
    :func:`~cminer_spark.operators.components.hashmin_components`
    (same symmetrization, same update, bit-identical labels at every
    round; parity-tested + gate-shared oracle)."""
    sym = _und_sym(edges).toDF("src", "dst")
    state0 = vertex_ids(edges, vertices).select(
        "v_id", F.col("v_id").alias("component")
    )
    labels, _info = pregel(
        sym,
        state0,
        messages={"m": F.col("src_component")},
        aggregates={"mn": F.min("m")},
        update={
            "component": F.least(
                F.col("component"), F.coalesce(F.col("mn"), F.col("component"))
            )
        },
        max_supersteps=rounds,
        stop=(
            F.sum(
                (F.col("component") != F.col("prev_component")).cast("long")
            )
            if stop_when_stable
            else None
        ),
        name="pregel_cc",
    )
    return labels
