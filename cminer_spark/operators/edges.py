"""Edge extraction from multi-turn transcripts — vectorized Arrow kernel.

Input: the transcripts table ``(conv_id, turn_idx, role, text, tool,
ts)``. Output: the engine's labeled directed multigraph edge table
(SURVEY §1.1 — the Spark encoding of the reference's
``MultiDiGraph``, ``/root/reference/src/Graph/Graph.py:22``):

* ``replies_to`` edges: turn *i* → turn *i-1* within a conversation
  (stable turn ordering);
* ``invokes`` edges: a tool-call turn → the tool's hub vertex.

Vertex identity is a stable 64-bit ``xxhash64`` of a human-readable
string key (``"<conv_id>#<turn_idx>"`` for turns, ``"tool:<name>"``
for tools) computed JVM-side — the Python kernel never hashes.

Scale design:

* ``repartition(conv_id)`` + ``sortWithinPartitions(conv_id,
  turn_idx)`` co-locates and orders each conversation, so pairing is a
  per-partition streaming pass — no driver involvement, no global
  sort.
* The kernel is ``mapInArrow`` (raw Arrow record batches; the pandas
  twin is kept as the readable reference implementation and for the
  ``passthrough_turns`` invariant path). Conversations can straddle
  Arrow batch boundaries inside a partition, so the kernel holds back
  the trailing (possibly incomplete) conversation of each batch and
  prepends it to the next — O(max conversation length) memory,
  independent of partition size.
* All per-batch work is numpy/pandas vectorized — no per-row Python
  (BASELINE.json input_hint requirement).
* The kernel emits COMPACT columns only — ``(conv_id, src_turn,
  dst_turn, tool)``, where the pairing itself is numpy slice/mask
  arithmetic (zero string allocation in Python). Key formatting
  (``conv#turn`` / ``tool:name``) and ``xxhash64`` run JVM-side in
  whole-stage codegen. Measured on 16.6M edges this roughly halves
  Arrow transfer and lifts 4→16-core scaling efficiency of the whole
  extraction from ~0.54 to the PageRank-class range, because the
  Python stage stops being a memory-bandwidth hog.

Parallel-edge ``key`` (reference identity triple ``(src, dst, key)``,
``src/Graph/Graph.py:44-54``): this extraction emits at most one edge
per (turn, predecessor) and (turn, tool), so ``key`` is constantly 0
and is attached without a shuffle. ``with_parallel_keys=True``
computes true per-(src,dst) ranks via a window for inputs that need
multigraph keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_KERNEL_SCHEMA = "conv_id string, src_turn int, dst_turn int, tool string"
_TURNS_SCHEMA = "conv_id string, turn_idx int, text string"

REPLIES_TO = "replies_to"
INVOKES = "invokes"


def _edges_from_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized pairing for one complete set of conversations.

    ``pdf`` must be sorted by (conv_id, turn_idx) and contain only
    whole conversations. Emits one row per edge in compact form:
    a ``replies_to`` edge is ``(conv_id, src_turn, dst_turn, NULL)``
    (``dst_turn`` = the turn of the actual predecessor row, not
    ``src_turn - 1`` — non-dense turn indices pair correctly); an
    ``invokes`` edge is ``(conv_id, src_turn, NULL, tool)``. All work
    is numpy slice/mask arithmetic — no per-row Python, no string
    allocation; key strings + hashes are built JVM-side. Kept as the
    readable reference the Arrow kernel is parity-tested against.
    """
    import numpy as np

    conv = pdf["conv_id"].to_numpy()
    turn = pdf["turn_idx"].to_numpy()

    chunks: list[pd.DataFrame] = []
    if len(pdf) > 1:
        # null-safe adjacency (NULL conv_ids form one conversation;
        # bare == misses NaN-encoded missing strings)
        nulls = pd.isna(conv)
        same_conv = (conv[1:] == conv[:-1]) | (nulls[1:] & nulls[:-1])
        chunks.append(
            pd.DataFrame(
                {
                    "conv_id": conv[1:][same_conv],
                    "src_turn": turn[1:][same_conv],
                    "dst_turn": turn[:-1][same_conv],
                    "tool": np.full(int(same_conv.sum()), None, dtype=object),
                }
            )
        )

    tool = pdf["tool"]
    has_tool = (tool.notna() & (tool != "")).to_numpy()
    n_tools = int(has_tool.sum())
    if n_tools:
        chunks.append(
            pd.DataFrame(
                {
                    "conv_id": conv[has_tool],
                    "src_turn": turn[has_tool],
                    "dst_turn": np.full(n_tools, None, dtype=object),
                    "tool": tool.to_numpy()[has_tool],
                }
            )
        )

    if not chunks:
        return pd.DataFrame(
            {
                "conv_id": pd.Series(dtype=str),
                "src_turn": pd.Series(dtype="int32"),
                "dst_turn": pd.Series(dtype="int32"),
                "tool": pd.Series(dtype=str),
            }
        )
    return pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]


def _edges_from_arrow(tbl):
    """Arrow-native twin of :func:`_edges_from_batch`: the pairing runs
    directly on Arrow buffers (``pyarrow.compute`` slice/compare/take),
    so the 16M conversation-id strings of a big partition are NEVER
    materialized as Python objects — the dominant cost of the pandas
    path was exactly that Arrow→object→Arrow round trip."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    conv = tbl.column("conv_id").combine_chunks()
    turn = pc.cast(tbl.column("turn_idx").combine_chunks(), pa.int32())
    tool = pc.cast(tbl.column("tool").combine_chunks(), pa.string())
    n = len(conv)

    pieces = []
    if n > 1:
        # null-safe adjacency: two adjacent NULL conv_ids belong to the
        # same (single NULL-keyed) conversation — the semantics of the
        # pandas twin's object-array equality (None == None), which a
        # bare pc.equal would silently drop (null → treated as false)
        lo, hi = conv.slice(0, n - 1), conv.slice(1)
        adj_eq = pc.or_(
            pc.fill_null(pc.equal(hi, lo), False),
            pc.and_(pc.is_null(hi), pc.is_null(lo)),
        )
        mask = adj_eq.to_numpy(zero_copy_only=False)
        src_pos = pa.array(np.nonzero(mask)[0] + 1, type=pa.int64())
        dst_pos = pc.subtract(src_pos, pa.scalar(1, pa.int64()))
        m = len(src_pos)
        if m:
            pieces.append(
                pa.table(
                    {
                        "conv_id": pc.take(conv, src_pos),
                        "src_turn": pc.take(turn, src_pos),
                        "dst_turn": pc.take(turn, dst_pos),
                        "tool": pa.nulls(m, pa.string()),
                    }
                )
            )

    has_tool = pc.fill_null(pc.not_equal(tool, pa.scalar("", pa.string())), False)
    tool_pos = pa.array(
        np.nonzero(has_tool.to_numpy(zero_copy_only=False))[0], type=pa.int64()
    )
    k = len(tool_pos)
    if k:
        pieces.append(
            pa.table(
                {
                    "conv_id": pc.take(conv, tool_pos),
                    "src_turn": pc.take(turn, tool_pos),
                    "dst_turn": pa.nulls(k, pa.int32()),
                    "tool": pc.take(tool, tool_pos),
                }
            )
        )

    schema = pa.schema(
        [
            ("conv_id", pa.string()),
            ("src_turn", pa.int32()),
            ("dst_turn", pa.int32()),
            ("tool", pa.string()),
        ]
    )
    if not pieces:
        return pa.table(
            {f.name: pa.nulls(0, f.type) for f in schema}, schema=schema
        )
    return pa.concat_tables(p.cast(schema) for p in pieces)


def _conv_stream_kernel_arrow(transform):
    """mapInArrow twin of :func:`_conv_stream_kernel`: carries the
    trailing (possibly incomplete) conversation of each Arrow batch as
    a zero-copy table slice."""

    def kernel(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        pending = None
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if pending is not None and pending.num_rows:
                tbl = pa.concat_tables(
                    [pending, tbl], promote_options="permissive"
                ).combine_chunks()
            if tbl.num_rows == 0:
                continue
            conv = tbl.column("conv_id").combine_chunks()
            last = conv[-1]
            # null-safe "belongs to the trailing conversation" test
            # (NULL conv_ids form one conversation — pandas-twin parity)
            if not last.is_valid:
                not_last = pc.invert(pc.is_null(conv))
            else:
                not_last = pc.fill_null(pc.not_equal(conv, last), True)
            not_last = not_last.to_numpy(zero_copy_only=False)
            prior = np.nonzero(not_last)[0]
            split = int(prior[-1]) + 1 if len(prior) else 0
            pending = tbl.slice(split)
            head = tbl.slice(0, split)
            if head.num_rows:
                yield from transform(head).to_batches()
        if pending is not None and pending.num_rows:
            yield from transform(pending).to_batches()

    return kernel


def _conv_stream_kernel(transform):
    """Wrap a whole-conversation batch transform into a mapInPandas
    kernel that carries the trailing conversation across Arrow batches."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
            if not len(pdf):
                continue
            last_conv = pdf["conv_id"].iloc[-1]
            # conversations are contiguous (sorted), so all rows of the
            # trailing conversation form a suffix; hold them back in
            # case the conversation continues in the next Arrow batch.
            # Null-safe: NULL conv_ids form one conversation (== would
            # miss them — NaN/None compare unequal in pandas).
            if pd.isna(last_conv):
                n_tail = int(pdf["conv_id"].isna().sum())
            else:
                n_tail = int((pdf["conv_id"] == last_conv).sum())
            split = len(pdf) - n_tail
            pending = pdf.iloc[split:]
            head = pdf.iloc[:split]
            if len(head):
                yield transform(head)
        if pending is not None and len(pending):
            yield transform(pending)

    return kernel


def _prepared(
    transcripts: DataFrame,
    partitions: int | None,
    pre_partitioned: bool = False,
) -> DataFrame:
    if pre_partitioned:
        # input already co-locates conversations (bucketed table /
        # upstream exchange): no repartition — the in-partition sort
        # is kept as cheap insurance (a presorted pass on bucketed
        # input; real ordering work only if the caller lied about
        # layout, never a wrong answer)
        return transcripts.sortWithinPartitions("conv_id", "turn_idx")
    parts = partitions or transcripts.sparkSession.sparkContext.defaultParallelism
    return transcripts.repartition(parts, "conv_id").sortWithinPartitions(
        "conv_id", "turn_idx"
    )


def extract_edges(
    transcripts: DataFrame,
    partitions: int | None = None,
    with_parallel_keys: bool = False,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Transcripts → edge table ``(src, dst, type, key, weight,
    src_key, dst_key)``.

    ``pre_partitioned=True`` asserts conversations are already
    co-located per partition (a ``conv_id``-bucketed transcripts
    table — :func:`cminer_spark.sources.bucketed
    .write_bucketed_transcripts`): the per-run repartition exchange
    disappears from the plan, leaving scan → in-partition sort →
    kernel. At 10^12 turns that exchange IS the extraction bottleneck;
    bucketing pays it once at ingest."""
    prepared = _prepared(
        transcripts.select("conv_id", "turn_idx", "tool"),
        partitions,
        pre_partitioned,
    )
    raw = prepared.mapInArrow(
        _conv_stream_kernel_arrow(_edges_from_arrow), schema=_KERNEL_SCHEMA
    )
    return _finalize_edges(raw, with_parallel_keys)


def _finalize_edges(raw: DataFrame, with_parallel_keys: bool) -> DataFrame:
    """Compact kernel columns ``(conv_id, src_turn, dst_turn, tool)``
    → the edge table. Key strings + ``xxhash64`` in whole-stage
    codegen; shared by the Arrow kernel and the SQL twin."""
    src_key = F.concat_ws("#", "conv_id", "src_turn")
    dst_key = F.when(
        F.col("tool").isNotNull(), F.concat(F.lit("tool:"), F.col("tool"))
    ).otherwise(F.concat_ws("#", "conv_id", "dst_turn"))
    etype = F.when(F.col("tool").isNotNull(), F.lit(INVOKES)).otherwise(
        F.lit(REPLIES_TO)
    )
    edges = raw.select(
        F.xxhash64(src_key).alias("src"),
        F.xxhash64(dst_key).alias("dst"),
        etype.alias("type"),
        F.lit(1.0).alias("weight"),
        src_key.alias("src_key"),
        dst_key.alias("dst_key"),
    )
    if with_parallel_keys:
        w = Window.partitionBy("src", "dst").orderBy("type", "src_key")
        edges = edges.withColumn("key", (F.row_number().over(w) - 1).cast("int"))
    else:
        edges = edges.withColumn("key", F.lit(0))
    return edges.select("src", "dst", "type", "key", "weight", "src_key", "dst_key")


def extract_edges_sql(
    transcripts: DataFrame,
    partitions: int | None = None,
    with_parallel_keys: bool = False,
    pre_partitioned: bool = False,
) -> DataFrame:
    """All-JVM twin of :func:`extract_edges`: the consecutive-turn
    pairing is a ``lag()`` window instead of the Arrow kernel, so the
    whole plan is whole-stage codegen with zero Python workers.

    Same output contract and row set as :func:`extract_edges` on any
    input whose ``(conv_id, turn_idx)`` pairs are unique (both paths
    order ties positionally, so duplicate turn indices pair in an
    engine-chosen order either way — parity-tested on the synthetic
    corpus and crafted fixtures).

    Role: measurement instrument and fallback. The north-rule input
    path mandates vectorized Arrow UDFs for edge building, so
    :func:`extract_edges` stays the default; this twin exists to
    ISOLATE the Python-worker cost in scaling campaigns
    (BENCH/BASELINE.md) — if the SQL plan scales with cores while the
    Arrow plan saturates, the ceiling is Arrow worker transfer, not
    the pairing algorithm — and as the fast path for no-text inputs
    where the kernel's invariant plumbing isn't needed.

    Plan shape: the window's required distribution (clustered on
    ``conv_id``) and ordering are exactly what :func:`_prepared`
    provides, so no extra Exchange or Sort appears — scan →
    [exchange unless ``pre_partitioned``] → in-partition sort →
    window → project, mirroring the kernel plan with the Python
    stage replaced by codegen.
    """
    prepared = _prepared(
        transcripts.select("conv_id", "turn_idx", "tool"),
        partitions,
        pre_partitioned,
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    base = prepared.withColumn("prev_turn", F.lag("turn_idx").over(w))
    replies = base.where(F.col("prev_turn").isNotNull()).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("src_turn"),
        F.col("prev_turn").cast("int").alias("dst_turn"),
        F.lit(None).cast("string").alias("tool"),
    )
    invokes = base.where(
        F.col("tool").isNotNull() & (F.col("tool") != "")
    ).select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("src_turn"),
        F.lit(None).cast("int").alias("dst_turn"),
        "tool",
    )
    return _finalize_edges(replies.unionAll(invokes), with_parallel_keys)


def extract_edges_delta(
    transcripts: DataFrame,
    prev_edges: DataFrame,
    changed_convs: DataFrame,
    **kwargs,
) -> DataFrame:
    """Incremental edge extraction: recompute only the conversations
    that gained turns (or are new) and splice them into the previous
    edge table.

    This is the operation a 10^12-turn pipeline actually runs on each
    ingest: ``changed_convs`` (one ``conv_id`` column — any superset of
    the conversations whose turns changed) is a daily-delta-sized
    frame, so BOTH data movements are broadcast-side:

    * the changed conversations' full turn history is pulled with a
      broadcast LEFT SEMI join (a conversation's pairing depends on all
      its turns, so the whole conversation re-extracts — the kernel's
      unit of work is one conversation either way);
    * their stale edges leave ``prev_edges`` with a broadcast LEFT ANTI
      join on the conversation derived from ``src_key`` (every edge's
      source is a turn vertex ``conv_id#turn``, see
      :func:`extract_edges`) — the petabyte side is never shuffled.

    Invariant (tested): the result row-set equals a full
    ``extract_edges(transcripts)`` whenever ``prev_edges`` was a full
    extraction of the previous snapshot and ``changed_convs`` covers
    every conversation that differs. With ``with_parallel_keys=True``
    the ``key`` numbering is per (src, dst) within one extraction run,
    which only involves a single conversation's edges — so splicing
    preserves it.
    """
    changed = F.broadcast(changed_convs.select("conv_id").distinct())
    delta_tr = transcripts.join(changed, "conv_id", "left_semi")
    fresh = extract_edges(delta_tr, **kwargs)
    # conversation of an edge = src_key prefix before the first '#'
    # (conv ids must not contain '#' — same assumption concat_ws makes)
    conv_of = F.get(F.split(F.col("src_key"), "#", 2), 0)
    kept = prev_edges.join(
        changed, conv_of == changed["conv_id"], "left_anti"
    )
    return kept.unionByName(fresh)


def passthrough_turns(transcripts: DataFrame, partitions: int | None = None) -> DataFrame:
    """Run turns through the same partition/sort/carry path as edge
    extraction and emit them unchanged — the per-turn text-equality
    invariant is asserted by comparing ``sha2(text)`` of this output
    against the source (BASELINE.json input_hint)."""
    prepared = _prepared(
        transcripts.select("conv_id", "turn_idx", "text"), partitions
    )

    def identity(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf[["conv_id", "turn_idx", "text"]]

    return prepared.mapInPandas(_conv_stream_kernel(identity), schema=_TURNS_SCHEMA)


def vertices_from_transcripts(transcripts: DataFrame) -> DataFrame:
    """Vertex table ``(v_id, v_key, labels)`` — turn vertices labeled
    with their role, tool vertices labeled ``tool`` (multi-label model
    per reference ``src/Graph/Graph.py:56-60,87-93``; labels sorted)."""
    turn_v = transcripts.select(
        F.concat_ws("#", "conv_id", "turn_idx").alias("v_key"),
        F.sort_array(F.array(F.lit("turn"), F.concat(F.lit("role:"), "role"))).alias(
            "labels"
        ),
    )
    tool_v = (
        transcripts.where(F.col("tool").isNotNull() & (F.col("tool") != ""))
        .select(F.concat(F.lit("tool:"), "tool").alias("v_key"))
        .distinct()
        .select("v_key", F.array(F.lit("tool")).alias("labels"))
    )
    return (
        turn_v.unionByName(tool_v)
        .select(F.xxhash64("v_key").alias("v_id"), "v_key", "labels")
    )
