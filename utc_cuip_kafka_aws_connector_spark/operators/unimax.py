"""UniMax budget allocation — epoch-capped uniform mixture weights
(Chung et al. 2023, "UniMax: Fairer and More Effective Language
Sampling for Large-Scale Multilingual Pretraining"). The third
member of the mixture toolkit: sampling.temperature_weights rescales
by n^tau (small groups can still be over-sampled into dozens of
epochs), hash/stratified sampling applies the rates; UniMax instead
spreads a TOTAL budget as uniformly as possible across groups while
capping every group at ``max_epochs`` passes over its data — the
published fix for low-resource overfitting under temperature
sampling.

Exact waterfilling: visit groups in ascending capacity order
(cap_g = max_epochs * n_g); each takes min(cap_g, remaining /
remaining_groups). A group below the fair share is capped and the
surplus re-spreads over the rest; the uncapped tail splits what's
left equally. The loop is O(G log G) over GROUP AGGREGATES, not
rows: the corpus reduces to one row per group first (one map-side-
combined aggregation — the 100 TB pass), and the sequential fold
runs on the collected group table, which is mixture-sized (languages
/ sources — the same driver-sized contract as
sampling.temperature_weights' ordered normalizer). Ordering is
pinned by (capacity, group) so float accumulation is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unimax_allocation(
    df: DataFrame,
    budget: float,
    group_col: str = "lang",
    size_col: str = "n_tokens",
    max_epochs: float = 1.0,
    pre_aggregated: bool = False,
    max_groups: int = 100_000,
) -> DataFrame:
    """(group, n_units, cap, alloc, epochs, weight): per-group
    training-budget allocation in the units of ``size_col``.

    - ``alloc``: units of this group in the mix (never exceeds
      ``cap = max_epochs * n_units``),
    - ``epochs = alloc / n_units``: passes over the group's data,
    - ``weight = alloc / sum(alloc)``: the sampling mixture.

    When total capacity < ``budget`` every group is capped and the
    surplus budget is simply UNUSED (sum(alloc) < budget) — silently
    inflating epochs past the cap would defeat the operator's point;
    the caller sees it in the epochs column. Rows with NULL group are
    dropped; NULL/non-positive sizes are dropped (an empty group can
    absorb no budget). ``pre_aggregated=True`` skips the corpus
    aggregation and treats ``df`` as the (group, size) table
    directly. The waterfill runs on the collected group table —
    mixture-sized by design (languages/sources) — so ``max_groups``
    refuses loudly (the retention_curve contract) when a
    high-cardinality key would otherwise OOM the driver."""
    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    if max_groups < 1:
        raise ValueError(f"max_groups must be >= 1, got {max_groups}")

    # NaN sizes pass `> 0` in Spark and would poison the driver-side
    # waterfill (min(NaN, fair) = NaN cascades into every later
    # group's alloc) — excluded with the nulls/non-positives
    sizes = df.filter(F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("group"),
        F.col(size_col).cast("double").alias("n"),
    ).filter(~F.isnan(F.col("n")) & (F.col("n") > 0))
    if not pre_aggregated:
        sizes = sizes.groupBy("group").agg(F.sum("n").alias("n"))

    # mixture-sized table (languages/sources): collect is the design;
    # limit() bounds what ever reaches the driver before the check
    collected = sizes.limit(max_groups + 1).collect()
    if len(collected) > max_groups:
        raise ValueError(
            f"unimax_allocation collected more than max_groups="
            f"{max_groups} groups; group_col={group_col!r} looks "
            f"high-cardinality (a URL or doc id?) — pass a "
            f"mixture-sized key or raise max_groups"
        )
    rows = sorted(
        ((float(r.n), r.group) for r in collected),
        key=lambda t: (t[0] * max_epochs, str(t[1])),
    )
    remaining = float(budget)
    out = []
    for i, (n, g) in enumerate(rows):
        cap = n * max_epochs
        fair = remaining / (len(rows) - i)
        alloc = min(cap, fair)
        remaining -= alloc
        out.append((g, n, cap, alloc))
    total = sum(a for *_, a in out) or 1.0
    from pyspark.sql.types import DoubleType, StructField, StructType

    schema = StructType(
        [StructField(group_col, sizes.schema["group"].dataType)]
        + [
            StructField(c, DoubleType())
            for c in ("n_units", "cap", "alloc", "epochs", "weight")
        ]
    )
    return df.sparkSession.createDataFrame(
        [
            (g, n, cap, alloc, alloc / n, alloc / total)
            for g, n, cap, alloc in out
        ],
        schema=schema,
    )
