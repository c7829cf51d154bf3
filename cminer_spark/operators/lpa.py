"""Synchronous label propagation with deterministic tie-breaking.

Each round every vertex adopts the most frequent label among its
(undirected) neighbors; ties break to the smallest label, so runs are
bit-reproducible at any partition count (SURVEY §7.3 — LPA ties MUST
be deterministic). Pure DataFrame: the per-round update is ONE
combinable aggregate — ``groupBy(v).agg(mode(label, true))``
(deterministic mode: most frequent, ties to lowest) — one exchange
per round, no sort, no per-row Python.

SURVEY §2.7 mapping table entry: "Label propagation".
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cminer_spark.operators.graph import _und_sym, vertex_ids
from cminer_spark.plans.checkpoint import SuperstepCheckpoint, truncate_lineage
from cminer_spark.plans.loopconf import superstep_conf


def _lpa_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round: ``(v_id, label, label_prev)``.

    The per-vertex argmax is ONE combinable aggregate:
    ``mode(label, deterministic=True)`` is exactly "most frequent
    neighbor label, ties to the lowest label", with map-side partial
    aggregation (per-partition label→count maps merge associatively).
    This collapses the previous two-level shape — a
    ``groupBy(v_id, label).count()`` exchange followed by a
    per-vertex argmax window (second exchange + sort) — into a single
    exchange on ``v_id`` and no sort. Measured on the sf0.1 events
    graph (4 rounds, best of 3): window 8.39s, min(struct) 7.61s
    (SortAggregate fallback — struct buffers aren't hash-aggregable),
    mode 7.39s. Plan-guarded by
    tests/test_plans.py::test_lpa_round_argmax_is_combinable_no_window.
    """
    winner = (
        sym.join(
            labels.select(F.col("v_id").alias("u"), "label").hint(
                "shuffle_hash"
            ),
            "u",
        )
        .groupBy(F.col("v").alias("v_id"))
        .agg(F.mode("label", True).alias("new_label"))
    )
    return labels.join(winner.hint("shuffle_hash"), "v_id", "left").select(
        "v_id",
        F.coalesce("new_label", "label").alias("label"),
        F.col("label").alias("label_prev"),
    )


@dataclass
class LPAInfo:
    rounds: int = 0
    converged: bool = False
    resumed_from: int | None = None


def label_propagation(
    edges: DataFrame,
    max_rounds: int = 10,
    vertices: DataFrame | None = None,
    initial_labels: DataFrame | None = None,
    checkpoint: SuperstepCheckpoint | None = None,
    stop_when_stable: bool = True,
) -> tuple[DataFrame, LPAInfo]:
    """Run synchronous LPA on the undirected projection of
    ``edges(src, dst)``.

    ``initial_labels(v_id, label)`` defaults to ``label = v_id``.
    Returns ``(labels(v_id, label), info)``.
    """
    info = LPAInfo()

    sym = _und_sym(edges).toDF("u", "v").persist()
    all_v = vertex_ids(edges, vertices).persist()

    if initial_labels is not None:
        labels = all_v.join(initial_labels, "v_id", "left").select(
            "v_id", F.coalesce("label", F.col("v_id")).alias("label")
        )
    else:
        labels = all_v.select("v_id", F.col("v_id").alias("label"))

    start_round = 0
    if checkpoint is not None:
        resume = checkpoint.latest()
        if resume is not None:
            # resuming AT the fixpoint costs one redundant round whose
            # deterministic-tie update is idempotent (changed == 0) —
            # identical labels to the uninterrupted run, so unlike
            # PageRank no saved-metric convergence check is needed
            start_round, labels, _ = resume
            info.resumed_from = start_round
    labels = truncate_lineage(labels)
    n_sym = sym.count()

    # Loop-scoped config (plans/loopconf.py): shuffle partitions sized
    # to the symmetric adjacency, AQE off — one scheduler job per round.
    with superstep_conf(edges.sparkSession, n_sym):
        for rnd in range(start_round + 1, max_rounds + 1):
            new_labels = _lpa_round(sym, labels)

            # The changed-count rides the state materialization via
            # df.observe() — stop_when_stable costs zero extra jobs per
            # round (the old-vs-new join is the one already producing
            # new_labels; label_prev is consumed by the observation and
            # never persisted).
            obs = None
            to_save = new_labels.select("v_id", "label")
            if stop_when_stable:
                from pyspark.sql import Observation

                obs = Observation(f"lpa_chg_{rnd}")
                to_save = new_labels.observe(
                    obs,
                    F.sum(
                        (F.col("label") != F.col("label_prev")).cast("long")
                    ).alias("chg"),
                ).select("v_id", "label")

            labels = (
                checkpoint.save(rnd, to_save, {"round": rnd})
                if checkpoint is not None
                else truncate_lineage(to_save)
            )
            changed = int(obs.get["chg"] or 0) if obs is not None else -1
            if checkpoint is not None:
                checkpoint.update_metrics(rnd, {"changed": changed})
            info.rounds = rnd
            if changed == 0:
                info.converged = True
                break

    sym.unpersist()
    all_v.unpersist()
    return labels, info
