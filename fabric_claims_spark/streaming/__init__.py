"""Structured Streaming runners — the streaming twin of the batch
watermark protocol (SURVEY.md §2.9, §7.5).

Every stream in this package ends in one of two calls. ``drain`` runs
a stream over everything currently available (Trigger.AvailableNow)
into a ``foreachBatch`` sink or an in-memory table. ``fold`` is the
package's one shared primitive, "committed state + delta fold": it
drains a stream of per-row facts into an idempotent additive rollup
(``operators/rollup.maintain_additive_rollup_idempotent``) and returns
the committed state. The applied batch id rides in the state's own
atomic commit, so foreachBatch's at-least-once redelivery is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from fabric_claims_spark.operators.rollup import (
    APPLIED_BATCH_COL,
    maintain_additive_rollup_idempotent,
)
from fabric_claims_spark.sources.merge import TableStore


def drain(
    stream: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
    *,
    sink=None,
    query_name: str | None = None,
) -> DataFrame | None:
    """Run ``stream`` over every input not yet in the checkpoint
    (AvailableNow), then return. With ``sink``, each micro-batch goes
    to ``sink(batch_df, batch_id)`` and the result is None; without
    one, the stream writes the memory table ``query_name``, which is
    returned."""
    writer = stream.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint_dir
    )
    if sink is not None:
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("memory").queryName(query_name)
    writer.trigger(availableNow=True).start().awaitTermination()
    return None if sink is not None else stream.sparkSession.table(query_name)


def fold(
    stream: DataFrame, checkpoint_dir: str, query_name: str, **rollup
) -> DataFrame:
    """Drain ``stream`` into the idempotent additive rollup
    ``query_name`` of the TableStore at ``{checkpoint_dir}_table``;
    ``rollup`` is passed through (``keys``, ``count_col``,
    ``sum_cols`` / ``min_cols`` / ``max_cols``). Returns the committed
    state without its applied-batch column; raises when no batch was
    ever processed."""
    store = TableStore(stream.sparkSession, f"{checkpoint_dir}_table")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        maintain_additive_rollup_idempotent(
            store, query_name, batch_df, batch_id, **rollup
        )

    drain(stream, checkpoint_dir, sink=sink)
    if not store.exists(query_name):
        raise ValueError("no batches processed")
    return store.read(query_name).drop(APPLIED_BATCH_COL)
