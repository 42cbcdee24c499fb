"""Skew-mitigation utilities.

The reference's data has a built-in hot key: the out-of-observation
sentinel region '0' (cal_orig_area.py:88-90) — at city scale a large
fraction of OD edges touch it, so a plain ``groupBy(region)`` puts that
whole key on one reducer. Two mitigations, composable with everything
else in the engine:

- AQE skew handling (`spark.sql.adaptive.skewJoin.enabled`, on in
  session.py) covers sort-merge joins automatically;
- for aggregations, :func:`salted_count` does the classic two-phase
  salt: spread each hot key over N sub-keys, partially aggregate,
  then collapse. Deterministic (salt from a hash, not rand()).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame,
    keys: Sequence[str],
    salt_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """count(*) per ``keys`` with a deterministic salt derived from
    ``salt_col`` (any well-distributed column, e.g. the user id):
    phase 1 aggregates (keys, salt) — hot keys spread over ``n_salts``
    reducers — phase 2 sums the partials. Same result as
    ``df.groupBy(keys).count()``, bounded per-reducer load."""
    salt = F.pmod(F.xxhash64(F.col(salt_col)), F.lit(n_salts)).alias("__salt")
    partial = df.groupBy(*keys, salt).agg(F.count("*").alias("__cnt"))
    return partial.groupBy(*keys).agg(F.sum("__cnt").alias("cnt"))
