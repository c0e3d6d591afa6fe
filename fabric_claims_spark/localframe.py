"""Driver-local rows as a JVM ``LocalRelation`` (guide §4: eliminate
the JVM↔Python boundary).

``spark.createDataFrame(list_of_rows, schema)`` takes the pickled-RDD
path: the rows live in a Python-serialized RDD, so EVERY downstream
action re-crosses the Python-worker boundary (measured in this
container: 3-6 s per action on a 10-row frame — the dominant cost of
the serving-gate audit appends), and the relation is opaque to
Catalyst — even an EMPTY frame blocks ``PropagateEmptyRelation``, so
"anti-join an empty tombstone table" stays a real join in the plan.

The pandas→Arrow path produces the same values as a true JVM
``LocalRelation`` (verified: identical collect() for None-in-long,
tz-aware timestamps, nested arrays, booleans): no Python worker at
action time, constant folding and empty-relation propagation apply,
and a 10-row write drops from ~5 s to ~0.2 s.

``local_frame`` is the drop-in: rows are normalized to object-dtype
pandas columns (None stays None — never NaN-coerced) and handed to
``createDataFrame`` with the caller's schema, falling back to the
classic path if the conversion cannot represent the rows. Rows holding
a float NaN at any depth take the classic path too: an object column
cannot tell NaN from missing, so Arrow would land the NaN as NULL.
Requires ``spark.sql.execution.arrow.pyspark.enabled`` (set by
``session.get_spark``) for the Arrow fast path; without it the values
are still correct, just slower.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _field_names(schema: StructType | str) -> list[str]:
    if isinstance(schema, StructType):
        return list(schema.names)
    from pyspark.sql.types import _parse_datatype_string

    parsed = _parse_datatype_string(schema)
    if not isinstance(parsed, StructType):
        raise ValueError(f"not a struct schema: {schema!r}")
    return list(parsed.names)


def _has_nan(value) -> bool:
    """True if ``value`` is, or nests in a list/tuple/dict, a float NaN."""
    if isinstance(value, float):
        return math.isnan(value)
    if isinstance(value, dict):
        return any(_has_nan(v) for v in value.values())
    if isinstance(value, (list, tuple)):
        return any(_has_nan(v) for v in value)
    return False


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: StructType | str,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` that lands as a
    LocalRelation instead of a pickled Python RDD. ``rows`` is a
    driver-local bounded list (audit rows, centroids, commit ids,
    probe constants) — never distributed data."""
    # Materialize ONCE, before anything can fail (ADVICE r13): the
    # fallback used to re-iterate ``rows`` after the try block had
    # consumed it, so a generator argument whose Arrow conversion
    # threw would silently land as an EMPTY frame.
    data = [tuple(r) for r in rows]
    if _has_nan(data):
        return spark.createDataFrame(data, schema)
    try:
        # pandas import inside the try: a missing/broken pandas takes
        # the documented always-correct classic path instead of
        # raising (ADVICE r13).
        import pandas as pd

        names = _field_names(schema)
        if data:
            if any(len(t) != len(names) for t in data):
                raise ValueError("row arity != schema arity")
            pdf = pd.DataFrame(data, columns=names, dtype=object)
            return spark.createDataFrame(pdf, schema)
        # EMPTY frame (round 14): an empty pandas frame lands as a
        # LogicalRDD, not a LocalRelation — measured in the r14 skew
        # profile as a full SortMergeJoin LeftAnti + two exchanges per
        # action wherever a fresh store's empty tombstone set is
        # anti-joined. A one-NULL-row LocalRelation under limit(0)
        # folds to an EMPTY LocalRelation (OptimizeLimitZero), so
        # PropagateEmptyRelation eliminates those joins outright.
        pdf = pd.DataFrame([tuple(None for _ in names)], columns=names,
                           dtype=object)
        return spark.createDataFrame(pdf, schema).limit(0)
    except Exception:
        # conversion could not represent the rows — the classic path
        # is always correct, merely slower
        return spark.createDataFrame(data, schema)
