"""Cross-source score normalization — heterogeneous corpora score on
heterogeneous scales (a perplexity from one domain LM, a classifier
logit trained on another source's labels, lengths from different
registers), and a single global threshold over raw scores silently
becomes a per-source keep-rate lottery. Standard practice normalizes
WITHIN each source first; this module is that step, feeding the
threshold machinery that already exists (retention_curve picks the
cut, reservoir draws by it).

Methods:

- ``zscore``: (s - mean_g) / std_g — population std (deterministic
  closed form; a sample std would be NULL for singleton groups). A
  constant group (std 0) normalizes to 0.0 by contract: every member
  sits exactly at its group mean.
- ``minmax``: (s - min_g) / (max_g - min_g) into [0, 1]; a constant
  group maps to 0.5 (the center — neither kept-first nor dropped-
  first under any threshold convention).
- ``rank``: (rank - 1) / (n_g - 1), the distribution-free choice
  (percent_rank semantics; average-free, tie rows share the rank of
  their first member); singleton groups map to 0.0 (percent_rank's
  own convention).

Scale shape: ``zscore``/``minmax`` are one map-side-combined
aggregate over the groups + a BROADCAST join of the mixture-sized
moments table back onto the corpus — scan-shaped, no data shuffle.
``rank`` is one window (hash shuffle on the group + per-group sort)
— the honest cost of exact ranks; use zscore when the group sizes
make that sort hurt. NULL and NaN scores normalize to NULL (the
r16 NaN-hygiene doctrine: NaN sorts above every number in Spark and
would otherwise take rank 1.0); NULL groups pass through with NULL
output. All three methods are plain SQL (aggregate/window), so the
op is oracle-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

_METHODS = ("zscore", "minmax", "rank")


def normalize_scores(
    df: DataFrame,
    score_col: str,
    group_col: str,
    method: str = "zscore",
    out_col: str = "score_norm",
) -> DataFrame:
    """Adds ``out_col`` with the within-group normalized score; all
    original columns and rows pass through (rows whose score or
    group is NULL/NaN get a NULL normalized score — they are
    ineligible for ranking, not silently dropped: the caller decides
    their fate)."""
    if method not in _METHODS:
        raise ValueError(f"method must be one of {_METHODS}, got {method!r}")
    s = F.col(score_col).cast("double")
    ok = s.isNotNull() & ~F.isnan(s) & F.col(group_col).isNotNull()

    if method == "rank":
        w = W.partitionBy(group_col).orderBy(s.asc())
        # percent_rank over the ELIGIBLE rows only: NULL/NaN scores
        # must not occupy rank slots, so they ride a separate branch
        eligible = df.filter(ok).withColumn(
            out_col, F.percent_rank().over(w)
        )
        rest = df.filter(~ok).withColumn(
            out_col, F.lit(None).cast("double")
        )
        return eligible.unionByName(rest)

    if method == "zscore":
        stats = (
            df.filter(ok)
            .groupBy(group_col)
            .agg(
                F.avg(s).alias("__mu"),
                F.stddev_pop(s).alias("__sd"),
            )
        )
        norm = F.when(F.col("__sd") == 0, F.lit(0.0)).otherwise(
            (s - F.col("__mu")) / F.col("__sd")
        )
        drop = ["__mu", "__sd"]
    else:  # minmax
        stats = (
            df.filter(ok)
            .groupBy(group_col)
            .agg(F.min(s).alias("__lo"), F.max(s).alias("__hi"))
        )
        norm = F.when(
            F.col("__hi") == F.col("__lo"), F.lit(0.5)
        ).otherwise((s - F.col("__lo")) / (F.col("__hi") - F.col("__lo")))
        drop = ["__lo", "__hi"]

    joined = df.join(F.broadcast(stats), group_col, "left")
    return joined.withColumn(
        out_col, F.when(ok, norm).otherwise(F.lit(None).cast("double"))
    ).drop(*drop)
