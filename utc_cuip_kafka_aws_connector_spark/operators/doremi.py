"""DoReMi domain reweighting — learned mixture weights from proxy-
vs-reference excess loss (Xie et al. 2023, "DoReMi: Optimizing Data
Mixtures Speeds Up Language Model Pretraining", arXiv:2305.10429).

The fourth member of the mixture toolkit, and the only LEARNED one:
sampling.temperature_weights rescales by size, unimax_allocation
waterfills a budget, mixture_weights hits stated targets — DoReMi
instead asks two models. A small PROXY model is trained under
Group-DRO against a same-sized REFERENCE model; wherever the proxy's
loss exceeds the reference's ("excess loss" — the domain is
learnable but not yet learned), the domain's weight is pushed UP by
an exponentiated-gradient step, and the published mixture is the
AVERAGE of the weight iterates over training. This module implements
the data-pipeline half of that recipe exactly: the model-side inputs
(per-domain proxy/reference losses, logged per step or in aggregate)
arrive as a DataFrame; the EG/Group-DRO arithmetic runs here.

Scale shape: the corpus-sized work is ONE map-side-combined
aggregation per call (``domain_excess_loss`` reduces per-example
loss logs to one row per (step?, domain)); the EG loop then folds
over the collected mixture-sized table — domains x steps rows, the
same driver-sized contract (and the same refuse-loudly ``max_*``
cap) as unimax_allocation / retention_curve. No iteration ever
re-scans the corpus: DoReMi's per-step statistics are additive, so
the reduction happens once.

Determinism: domains fold in lexicographic order at every step, so
float accumulation is reproducible; ties in excess loss need no
break (weights are per-domain, not ranked).

Reference parity note: the reference pipeline (389-line pandas
uploader) has no mixture tier at all; this extends SURVEY §2.D's
"mixtures/budget" family (mixture_weights q108, unimax, retention).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def domain_excess_loss(
    df: DataFrame,
    domain_col: str = "domain",
    proxy_loss_col: str = "proxy_loss",
    ref_loss_col: str = "ref_loss",
    step_col: str | None = None,
    clip_at_zero: bool = True,
) -> DataFrame:
    """(step?, domain, excess_loss, n_examples): the per-domain mean
    excess loss lambda_k = mean(max(proxy - ref, 0)) — DoReMi's
    Group-DRO objective per domain (the clip at zero is the paper's
    hard variant; ``clip_at_zero=False`` keeps the signed difference
    for diagnostics). One map-side-combined aggregation; NULL/NaN
    losses and NULL domains are excluded (an unlogged example carries
    no gradient). Pass ``step_col`` when losses are logged per
    training step — ``doremi_weights`` then replays the EG updates in
    step order instead of iterating a single aggregate."""
    keys = ([step_col] if step_col else []) + [domain_col]
    p = F.col(proxy_loss_col).cast("double")
    r = F.col(ref_loss_col).cast("double")
    base = df.filter(
        F.col(domain_col).isNotNull()
        & p.isNotNull() & ~F.isnan(p)
        & r.isNotNull() & ~F.isnan(r)
    )
    diff = p - r
    if clip_at_zero:
        diff = F.greatest(diff, F.lit(0.0))
    return base.groupBy(*keys).agg(
        F.avg(diff).alias("excess_loss"),
        F.count(F.lit(1)).alias("n_examples"),
    )


def doremi_weights(
    losses: DataFrame,
    domain_col: str = "domain",
    excess_col: str = "excess_loss",
    step_col: str | None = None,
    lr: float = 1.0,
    smoothing: float = 1e-3,
    n_iter: int = 1,
    max_cells: int = 1_000_000,
) -> DataFrame:
    """(domain, weight, final_weight, n_updates): the DoReMi mixture.

    ``weight`` is the published output — the AVERAGE of the domain-
    weight iterates alpha_t over all updates (Xie et al. 2023 §3,
    step 3: "return the average of the per-step domain weights");
    ``final_weight`` is the last iterate, kept for diagnostics.

    Update rule per step (exponentiated gradient / multiplicative
    weights): alpha' proportional to alpha_k * exp(lr * lambda_k),
    renormalized, then smoothed with the uniform distribution u:
    alpha = (1 - smoothing) * alpha' + smoothing * u — the paper's
    guard against any domain's weight (and thus its gradient signal)
    collapsing to zero.

    Two input shapes:
    - ``step_col`` given: ``losses`` holds one lambda vector per
      training step; updates replay in ascending step order (a domain
      absent at a step contributes lambda = 0 — no excess, no push —
      so ragged logging degrades gracefully). ``n_iter`` must stay 1.
    - no ``step_col``: ``losses`` is a single aggregate lambda
      vector; the update is iterated ``n_iter`` times (the fixed-
      point approximation used when per-step logs were not kept —
      with n_iter=1 this is one EG step from uniform).

    The fold runs on the collected (step?, domain) table —
    mixture-sized by design; ``max_cells`` refuses loudly (the
    unimax/retention contract) before the driver collect."""
    if lr <= 0:
        raise ValueError(f"lr must be > 0, got {lr}")
    if not (0.0 <= smoothing < 1.0):
        raise ValueError(f"smoothing must be in [0, 1), got {smoothing}")
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if step_col is not None and n_iter != 1:
        raise ValueError(
            "per-step replay and n_iter repetition are mutually "
            "exclusive: with step_col given, n_iter must stay 1"
        )
    if max_cells < 1:
        raise ValueError(f"max_cells must be >= 1, got {max_cells}")

    cols = [F.col(domain_col).alias("domain"),
            F.col(excess_col).cast("double").alias("lam")]
    if step_col is not None:
        cols.insert(0, F.col(step_col).cast("long").alias("step"))
    base = losses.filter(F.col(domain_col).isNotNull()).select(*cols)

    rows = base.limit(max_cells + 1).collect()
    if len(rows) > max_cells:
        raise ValueError(
            f"doremi_weights collected more than max_cells={max_cells} "
            f"(step, domain) rows; domain_col={domain_col!r} looks "
            "high-cardinality (a URL or doc id?) — pass a mixture-"
            "sized key or raise max_cells"
        )
    if not rows:
        raise ValueError("doremi_weights: empty losses table")

    def _lam_of(v):
        # a logged-but-unmeasurable lambda (NULL/NaN) pushes nothing
        return 0.0 if v is None or math.isnan(v) else v

    domains = sorted({r["domain"] for r in rows})
    uniform = 1.0 / len(domains)
    if step_col is not None:
        if any(r["step"] is None for r in rows):
            raise ValueError(
                f"doremi_weights: NULL step in {step_col!r} (or a "
                "step_col that casts to null) — a step-keyed lambda "
                "row must say WHEN it applies; fix the log or drop "
                "the rows upstream"
            )
        steps = sorted({r["step"] for r in rows})
        lam_by_step: dict = {s: {} for s in steps}
        for r in rows:
            cell = lam_by_step[r["step"]]
            if r["domain"] in cell:
                # same loud contract as the no-step path: silently
                # keeping collect()'s last row would make the mixture
                # partition-order dependent
                raise ValueError(
                    f"duplicate (step, domain) = ({r['step']!r}, "
                    f"{r['domain']!r}): aggregate first "
                    "(domain_excess_loss) — one lambda per cell"
                )
            cell[r["domain"]] = _lam_of(r["lam"])
        schedule = [lam_by_step[s] for s in steps]
    else:
        lam = {}
        for r in rows:
            if r["domain"] in lam:
                raise ValueError(
                    f"duplicate domain {r['domain']!r} without step_col: "
                    "aggregate first (domain_excess_loss) or pass step_col"
                )
            lam[r["domain"]] = _lam_of(r["lam"])
        schedule = [lam] * n_iter

    alpha = {d: uniform for d in domains}
    avg = {d: 0.0 for d in domains}
    for lam in schedule:
        # exp in log space off the max: exp(lr * lambda) overflows a
        # double near lambda ~ 700/lr; shifting by the max is exact
        # for the renormalized ratio. At smoothing=0 a weight can
        # underflow to exactly 0 (exp(-5000) == 0.0); log(0) -> -inf
        # keeps the fold well-defined (the domain stays collapsed,
        # the EG semantics of a zero weight) instead of raising a
        # math domain error mid-schedule.
        scores = {
            d: (math.log(alpha[d]) if alpha[d] > 0.0 else -math.inf)
            + lr * lam.get(d, 0.0)
            for d in domains
        }
        m = max(scores.values())
        exps = {d: math.exp(scores[d] - m) for d in domains}
        z = sum(exps[d] for d in domains)  # lexicographic fold order
        for d in domains:
            alpha[d] = (1.0 - smoothing) * (exps[d] / z) + (
                smoothing * uniform
            )
        for d in domains:
            avg[d] += alpha[d]
    n_updates = len(schedule)

    out = [
        (d, avg[d] / n_updates, alpha[d], n_updates) for d in domains
    ]
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("domain", base.schema["domain"].dataType),
            StructField("weight", DoubleType()),
            StructField("final_weight", DoubleType()),
            StructField("n_updates", LongType()),
        ]
    )
    return losses.sparkSession.createDataFrame(out, schema)
