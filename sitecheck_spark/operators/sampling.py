"""Deterministic stratified sampling — training-mixture construction.

Pre-training corpora are mixed by per-stratum rates (keep 100% of books,
30% of web, 5% of boilerplate-heavy sources). The sample must be (a)
deterministic — reruns and resumed jobs pick the SAME rows, (b) driven by
the row key, never by partition layout or RNG state, and (c) a pure
per-row predicate so it pushes into the scan (no shuffle, no sort, no
driver round-trip — the filter prunes at the parquet reader).

The hash here is Knuth's multiplicative hash on the integer key —
h = (key * 2654435761) mod 2^32 — chosen because it is exactly
expressible in ANSI SQL integer arithmetic, so the DuckDB oracle
reproduces the sample bit-for-bit. In production swap `hash_expr` for
xxhash64(key) (same contract, engine-specific value): the sampling logic
is the predicate shape, not the mixer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

KNUTH = 2654435761
MOD = 4294967296  # 2^32


def knuth_bucket(key: Column, buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets) from an integer key.

    The multiply runs in decimal(38,0): key * 2654435761 exceeds
    Long.MAX for keys >= ~3.47e9 (realistic at the stated 100 TB scale) —
    in bigint that throws under ANSI mode and silently wraps otherwise,
    diverging from the documented mod-2^32 contract. decimal(38,0) holds
    the full product for any bigint key, so h = (key * KNUTH) mod 2^32
    is exact over the whole key range; for in-range keys the value is
    bit-identical to the old bigint arithmetic (oracle-checked). The
    result is cast back to bigint, losslessly: it lies in [0, buckets)."""
    return F.pmod(
        (key.cast("decimal(38,0)") * F.lit(KNUTH)) % F.lit(MOD), F.lit(buckets)
    ).cast("bigint")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, int],
    key_col: str,
    default_rate: int = 0,
) -> DataFrame:
    """Keep each row iff knuth_bucket(key) < rates[stratum] (percent,
    0-100). Strata absent from `rates` fall back to default_rate.

    The rate map becomes one CASE expression (tiny, inlined — never a
    join), so the whole sample is a scan-level filter: at 100 TB this
    reads every row group once and keeps nothing in memory. Per-stratum
    realized rates converge to the target as 1/sqrt(n) since the bucket is
    uniform in the key, and membership is stable under any repartition,
    resume, or engine swap.
    """
    rate = F.lit(default_rate)
    for stratum, pct in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(pct)).otherwise(rate)
    return df.filter(knuth_bucket(F.col(key_col)) < rate)
