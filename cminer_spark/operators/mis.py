"""Maximal independent set — distributed Luby rounds, deterministic.

The reference engine has no MIS surface; this extends the superstep
family (SURVEY §2.7) with the classic symmetry-breaking primitive
(Luby 1986): per round, an undecided vertex enters the set iff its
priority beats every undecided neighbor's, then its neighbors leave.
MIS is the building block for distributed coloring / scheduling /
landmark selection over the transcript link graph.

Determinism without RNG state: the per-vertex priority is
``md5(cast(v_id as string))`` — a fixed, engine-portable hash, so runs
are bit-reproducible at any partition count AND the DuckDB oracle can
recompute the identical priorities (gate ``mis_luby``). md5 behaves
like the uniform random priorities Luby's analysis wants (O(log n)
rounds w.h.p.), unlike raw ids, whose monotone runs serialize chains.
Winners are decided by strict ``<`` on the hex priority alone: an md5
collision between two distinct 64-bit vertex ids would be required
for a tie (practically impossible); a tie merely defers both vertices
to a later round, never mis-decides one.

Scale design:

* one round = two shuffle-hash joins of the |V|-sized state onto the
  persisted symmetric adjacency + one ``groupBy(min)`` — the
  min-priority gather is map-side combinable, so a 10^7-degree hub
  reduces to one row per reducer key;
* the undecided frontier SHRINKS geometrically (each round decides a
  constant expected fraction of active edges), and decided vertices
  drop out of the active-edge join on both sides — late rounds touch
  a vanishing subgraph;
* the undecided-count convergence probe rides the state write via
  ``df.observe()`` — one job per round;
* state is ``(v_id, status)`` through ``truncate_lineage`` /
  :class:`SuperstepCheckpoint` (priorities are recomputed, never
  stored).

Semantics: undirected simple projection of ``edges(src, dst)`` —
parallel edges collapse, self-loops are ignored (the repo-wide
projection convention, matching k-core/LPA); a vertex whose only
edge is a self-loop therefore counts as isolated and enters the set.

Gate: ``mis_luby`` (fixed-round variant vs the unrolled DuckDB
oracle recomputing the same md5 priorities).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cminer_spark.operators.graph import _und_sym, vertex_ids
from cminer_spark.plans.checkpoint import SuperstepCheckpoint, truncate_lineage
from cminer_spark.plans.loopconf import superstep_conf

__all__ = ["maximal_independent_set", "MISInfo"]

UNDECIDED = "undecided"
IN_SET = "in"
OUT = "out"


@dataclass
class MISInfo:
    rounds: int = 0
    converged: bool = False
    undecided: list = field(default_factory=list)
    resumed_from: int | None = None


def _pri(col):
    return F.md5(F.col(col).cast("string"))


def maximal_independent_set(
    edges: DataFrame,
    max_rounds: int = 20,
    vertices: DataFrame | None = None,
    checkpoint: SuperstepCheckpoint | None = None,
    stop_when_done: bool = True,
) -> tuple[DataFrame, MISInfo]:
    """Luby MIS over the undirected simple projection of
    ``edges(src, dst)``.

    Returns ``(df(v_id, status), info)`` with ``status`` one of
    ``'in' | 'out' | 'undecided'`` — after convergence (no vertex
    undecided) the ``'in'`` rows are a maximal independent set.
    ``stop_when_done=False`` runs exactly ``max_rounds`` rounds (the
    fixed-depth gate variant).
    """
    info = MISInfo()

    sym = _und_sym(edges).persist()

    st = vertex_ids(edges, vertices).select(
        "v_id", F.lit(UNDECIDED).alias("status")
    )

    start_round = 0
    if checkpoint is not None:
        resume = checkpoint.latest()
        if resume is not None:
            # statuses are monotone (undecided→in/out, never back), so
            # resuming AT a round replays it idempotently — identical
            # output to the uninterrupted run
            start_round, st, _ = resume
            info.resumed_from = start_round
    st = truncate_lineage(st)
    n_sym = sym.count()

    # Loop-scoped config (plans/loopconf.py): shuffle partitions sized
    # to the symmetric adjacency, AQE off — one scheduler job per round.
    with superstep_conf(edges.sparkSession, n_sym):
        for rnd in range(start_round + 1, max_rounds + 1):
            und = st.where(F.col("status") == UNDECIDED)
            act = sym.join(
                und.select(
                    F.col("v_id").alias("nbr"), _pri("v_id").alias("pu")
                ).hint("shuffle_hash"),
                "nbr",
            ).join(
                und.select(F.col("v_id").alias("v")).hint("shuffle_hash"), "v"
            )
            mn = act.groupBy(F.col("v").alias("v_id")).agg(F.min("pu").alias("mp"))
            scored = st.join(mn.hint("shuffle_hash"), "v_id", "left")
            is_winner = (F.col("status") == UNDECIDED) & (
                F.col("mp").isNull() | (_pri("v_id") < F.col("mp"))
            )
            winners = scored.where(is_winner).select("v_id")
            outs = (
                sym.join(
                    winners.select(F.col("v_id").alias("nbr")).hint(
                        "shuffle_hash"
                    ),
                    "nbr",
                )
                .select(F.col("v").alias("v_id"))
                .distinct()
            )
            new_st = (
                scored.join(
                    outs.select("v_id", F.lit(1).alias("is_out")).hint(
                        "shuffle_hash"
                    ),
                    "v_id",
                    "left",
                )
                .select(
                    "v_id",
                    F.when(is_winner, F.lit(IN_SET))
                    .when(
                        (F.col("status") == UNDECIDED)
                        & F.col("is_out").isNotNull(),
                        F.lit(OUT),
                    )
                    .otherwise(F.col("status"))
                    .alias("status"),
                )
            )

            obs = None
            to_save = new_st
            if stop_when_done:
                from pyspark.sql import Observation

                obs = Observation(f"mis_und_{rnd}")
                to_save = new_st.observe(
                    obs,
                    F.sum(
                        (F.col("status") == UNDECIDED).cast("long")
                    ).alias("und"),
                )

            st = (
                checkpoint.save(rnd, to_save, {"round": rnd})
                if checkpoint is not None
                else truncate_lineage(to_save)
            )
            undecided = int(obs.get["und"] or 0) if obs is not None else -1
            if checkpoint is not None:
                checkpoint.update_metrics(rnd, {"undecided": undecided})
            info.rounds = rnd
            info.undecided.append(undecided)
            if undecided == 0:
                info.converged = True
                break

    sym.unpersist()
    return st, info
