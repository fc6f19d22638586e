"""Merge / upsert operators (SURVEY.md §2.3 J2-J3, §2.10 T4-T5).

The reference implements two merge idioms in SQL strings:

- *latest-wins upsert*: old fact UNION ALL new fact → ROW_NUMBER() OVER
  (PARTITION BY game_url ORDER BY last_updated DESC) → keep rn=1
  (python_scripts.py:576-598).
- *insert-if-absent*: ``WHERE key NOT IN (SELECT key FROM dest)`` then
  UNION with dest (python_scripts.py:265-271 etc.).

Here both are generic DataFrame combinators.  Scale notes:

- ``latest_wins`` shuffles once on the key — unavoidable for a global
  latest-per-key; at 100 TB the right deployment is partition-scoped
  (run it per arriving month against only the partitions the batch
  touches) or a Delta/Iceberg MERGE; the operator itself is the kernel
  either way.
- ``absent_rows`` is the insert-if-absent kernel: the distinct incoming
  rows whose key is not in ``existing``, by a LEFT ANTI join on the
  keys.  The dimension sinks (streaming gold, warehouse) append exactly
  these rows, so a dim is never rewritten and a replayed batch appends
  nothing.  ``insert_if_absent`` is the same rows unioned with
  ``existing``, for callers that want the merged table as a frame.
- Keys compare null-safe (NULL matches NULL), so a NULL-key row is
  appended once, not once per replay.  SQL ``NOT IN`` instead returns
  *no rows* if the subquery yields a NULL; ``not_in_semantics=True``
  replicates that exactly (SURVEY.md §4.3) and tests pin both.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_wins(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
    order_by: str,
) -> DataFrame:
    """Latest-wins merge by key: union existing+incoming, keep the row
    with the greatest ``order_by`` per ``keys`` group.

    Ties break toward the incoming batch (it is unioned *first*, and
    row_number over a tie preserves union order under Spark's stable
    local sort within a partition — to make this deterministic we add a
    priority column rather than rely on input order).
    """
    incoming = incoming.withColumn("__src", F.lit(0))
    unioned = (
        incoming
        if existing is None
        else incoming.unionByName(existing.withColumn("__src", F.lit(1)))
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(order_by).desc(), F.col("__src").asc())
    )
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "__src")
    )


def absent_rows(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
    not_in_semantics: bool = False,
) -> DataFrame:
    """Distinct rows of ``incoming`` whose ``keys`` are absent from
    ``existing`` (which needs only the key columns).  ``existing=None``
    means an empty target: every distinct incoming row qualifies.

    ``not_in_semantics=True`` replicates SQL ``NOT IN`` exactly: if
    ``existing`` contains a NULL key, *no* incoming rows qualify, and
    NULL incoming keys never do.
    """
    fresh = incoming.distinct()
    if existing is None:
        return fresh
    if not_in_semantics:
        for k in keys:
            # NOT IN is null-poisoned: any NULL in the subquery result
            # empties the insert set for that key column.
            has_null = existing.where(F.col(k).isNull()).limit(1)
            fresh = fresh.join(
                F.broadcast(has_null.select(F.lit(1).alias("__poison"))),
                how="left",
            ).where(F.col("__poison").isNull()).drop("__poison")
            fresh = fresh.where(F.col(k).isNotNull())
    # the existing side's keys are renamed so the condition resolves by
    # name even when both sides share a lineage
    old = existing.select(*[F.col(k).alias(f"__old_{k}") for k in keys])
    match = reduce(
        lambda a, b: a & b,
        [F.col(k).eqNullSafe(F.col(f"__old_{k}")) for k in keys],
    )
    return fresh.join(old, match, "left_anti")


def insert_if_absent(
    existing: DataFrame | None,
    incoming: DataFrame,
    keys: Sequence[str],
    not_in_semantics: bool = False,
) -> DataFrame:
    """Insert-if-absent as a frame: ``absent_rows`` unioned with
    ``existing``, deduplicated like the reference's set-semantics UNION
    (python_scripts.py:269-271)."""
    fresh = absent_rows(existing, incoming, keys, not_in_semantics)
    if existing is None:
        return fresh
    return fresh.unionByName(existing).distinct()
