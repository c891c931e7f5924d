"""Null-safe equi-join helper.

SQL equality (`=`) never matches NULL keys, so `df.join(other, on=keys)`
silently drops rows whose key columns contain NULL — but groupBy treats
NULL as a regular group (and tsv-utils treats empty fields as regular key
values, tsv-uniq.d:250-254). Whenever we join per-group results back to
data on the group keys, the join must use null-safe equality (`<=>`) to
preserve those groups. Spark plans `<=>` equi-conditions as hash joins,
so there is no performance cliff vs `=`.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_null_safe(left: DataFrame, right: DataFrame, keys: list[str],
                   how: str = "inner",
                   broadcast_right: bool = False) -> DataFrame:
    """Join on ``keys`` with null-safe equality; result keeps LEFT's key
    columns (right's are dropped), matching ``df.join(other, on=keys)``
    column semantics. With no keys, the inner join is a cross join."""
    rx = right
    renames = {k: f"__ns_{k}" for k in keys}
    for k, a in renames.items():
        rx = rx.withColumnRenamed(k, a)
    if broadcast_right:
        rx = F.broadcast(rx)
    if not keys:
        if how != "inner":
            raise ValueError(f"join_null_safe: how={how!r} needs keys")
        return left.crossJoin(rx)
    cond = reduce(lambda a, b: a & b,
                  [left[k].eqNullSafe(rx[a]) for k, a in renames.items()])
    return left.join(rx, cond, how).drop(*renames.values())
