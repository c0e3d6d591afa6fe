"""Star-join builder (J4 — SM/relationships.tmdl:1-12, FK DDL
WH_TABLES/Claims.sql:19-21).

One function replaces the semantic model's relationship graph: the
fact joined M:1 to each dimension, dims broadcast (they are orders of
magnitude smaller than the fact — 5.8k dates, bounded patient and
provider sets), so the fact never shuffles for the dim joins. Filters
pushed by callers reach the fact scan via Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def star(
    fact: DataFrame,
    dims: dict[str, tuple[DataFrame, str, str]],
    broadcast_dims: bool = True,
) -> DataFrame:
    """Join ``fact`` to each dim: {alias: (dim_df, fact_key, dim_key)}.

    Dim columns that collide with fact columns are prefixed with the
    alias (semantic-model rename behavior).
    """
    out = fact
    for alias, (dim, fact_key, dim_key) in dims.items():
        renames = {
            c: f"{alias}_{c}"
            for c in dim.columns
            if c in out.columns and c != dim_key
        }
        pretty = dim
        for old, new in renames.items():
            pretty = pretty.withColumnRenamed(old, new)
        if broadcast_dims:
            pretty = F.broadcast(pretty)
        joined = out.join(pretty, out[fact_key] == pretty[dim_key], "left")
        if dim_key in out.columns:
            # M:1 on an equal-named key: the dim copy is redundant
            joined = joined.drop(pretty[dim_key])
        out = joined
    return out
