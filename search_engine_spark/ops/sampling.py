"""Deterministic sampling operators for training-data curation.

Training mixtures are specified as per-group fractions ("keep 30% of
English, 100% of the rare languages"); at 100 TB the draw must be
deterministic (reproducible across reruns and engines — no
per-partition RNG state) and embarrassingly parallel. The operator
gates each row on a cryptographic hash of its id: a row is kept iff
``hash(id) < fraction · 2^32``, so membership is a pure row-local
predicate — no shuffle, no sampling pass, pushdown-friendly — and any
two engines that agree on md5 agree on the sample. The reference's only
sampling is ``FlameRDD.sample`` (FlameRDD.java:114), per-instance
``Math.random()`` — not reproducible; the hash gate is its auditable
twin (same trick as the ``sample_hash`` entry).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_GATE_SPAN = float(1 << 32)  # gate compares the first 8 md5 hex chars


def _gate(id_col, salt: str):
    """uniform-in-[0, 2^32) deterministic hash of (salt, id)."""
    return F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(salt), id_col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "s0",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-group deterministic sample: group g keeps ``fractions[g]`` of
    its rows (groups absent from the dict keep ``default_fraction``).
    The per-group threshold is a broadcast map literal folded into the
    row-local gate — one narrow filter, no shuffle, no per-group pass;
    group skew is irrelevant because no aggregation ever happens."""
    thresh = F.lit(int(default_fraction * _GATE_SPAN))
    for g, frac in sorted(fractions.items()):
        thresh = F.when(F.col(group_col) == g, F.lit(int(frac * _GATE_SPAN))).otherwise(
            thresh
        )
    return df.where(_gate(F.col(id_col), salt) < thresh)
