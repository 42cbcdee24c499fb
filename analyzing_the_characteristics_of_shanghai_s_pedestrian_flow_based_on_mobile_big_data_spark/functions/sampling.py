"""Deterministic hash sampling & splits — reproducible corpus curation.

``df.sample()`` draws from a per-partition RNG: resampling after a
repartition, a retry, or an engine swap yields a different corpus.
Training-data pipelines need the opposite — membership decided by the
ROW, not the execution: hash a stable key, take the rows whose hash
lands under the rate. Same key ⇒ same decision on any engine, any
partitioning, any day; oracle-checkable in plain SQL (md5, the
engine-portable hash used throughout this repo).

The hash domain is the first 8 hex digits of md5(prefix ‖ key) — 32
bits, uniform; rates resolve to 1/2³² granularity. A ``salt`` prefix
decorrelates independent sampling decisions on the same key (sample
vs split vs shard must not reuse one hash).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_DOMAIN = 1 << 32


def hash_fraction(key: Column, salt: str = "") -> Column:
    """Uniform [0, 1) double derived from md5(salt ‖ key) — the stable
    per-row coin every sampling decision derives from."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8), 16, 10)
    return h.cast("double") / F.lit(float(HASH_DOMAIN))


def hash_bucket(salt: str, i: Column, key: Column, width: int) -> Column:
    """Bucket of ``key`` in row ``i`` of an md5 sketch (Count-Min rows,
    Bloom hash functions): md5(salt ‖ i ‖ ':' ‖ key) → first 8 hex
    digits → 32-bit int → mod ``width``. md5, not an engine hash, so
    the batch sketches, their streaming twins and the DuckDB oracle
    all reproduce one sketch bit-for-bit."""
    hx = F.md5(
        F.concat(F.lit(salt), i.cast("string"), F.lit(":"), key.cast("string"))
    )
    return F.pmod(
        F.conv(F.substring(hx, 1, 8), 16, 10).cast("long"), F.lit(width)
    )


def deterministic_sample(df, key_col: str, rate: float, salt: str = "sample"):
    """Keep each row iff hash_fraction(key) < rate. Reproducible across
    engines/partitionings; expected |out| = rate·|df| with per-row
    independence."""
    return df.filter(hash_fraction(F.col(key_col), salt) < F.lit(rate))


def split_assign(
    key: Column,
    splits: Sequence[tuple[str, float]],
    salt: str = "split",
) -> Column:
    """Assign each row to a named split by hash range — e.g.
    [("train", 0.9), ("val", 0.05), ("test", 0.05)]. Ranges are
    cumulative over the given order; weights must sum to ~1. A row's
    split never changes as data is added or re-partitioned (the
    property random splits lack)."""
    frac = hash_fraction(key, salt)
    expr = None
    acc = 0.0
    for name, w in splits:
        # round the cumulative edge so 0.9 + 0.05 is the literal 0.95 a
        # SQL twin writes, not 0.9500000000000001 — bit-identical
        # thresholds on both engines
        acc = round(acc + w, 10)
        cond = frac < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    # float-sum slack: the last range absorbs hash values at the border
    return expr.otherwise(splits[-1][0])


def weighted_keep(key: Column, rate: Column, salt: str = "wsample") -> Column:
    """Per-row Bernoulli keep with a PER-ROW rate (importance /
    quality-weighted sampling): keep iff hash_fraction(key) < rate.
    The standard way a curation pipeline over-samples high-quality or
    under-represented documents without an RNG — the decision is a
    pure function of (key, rate), so it survives retries, repartitions
    and engine swaps, and the oracle can restate it in plain SQL.
    Clamp ``rate`` to [0, 1] upstream if it's derived from open-ended
    signals (length, score)."""
    return hash_fraction(key, salt) < rate


def domain_mix_keep(
    key: Column,
    domain: Column,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "mix",
) -> Column:
    """Boolean keep-decision implementing a domain-mixture recipe:
    each domain (source, language, ...) is downsampled to its target
    rate, decided per row by the stable hash coin — the standard way a
    pretraining mix ("2 epochs of wiki, 0.3 of web crawl") is realized
    without materializing per-domain tables. Deterministic across
    engines and partitionings; unknown domains get ``default_rate``."""
    rate = None
    for name, r in rates.items():
        cond = domain == F.lit(name)
        rate = F.when(cond, F.lit(r)) if rate is None else rate.when(cond, F.lit(r))
    rate = rate.otherwise(F.lit(default_rate))
    return hash_fraction(key, salt) < rate
