"""operators/unimax.py + operators/retention.py: mixture budgeting
and threshold-selection curves.

Evidence: exact pure-Python waterfilling differential for UniMax
(caps respected, uncapped tail equal, surplus-unused semantics), a
brute-force Python differential AND a DuckDB grid-join differential
for retention curves (the gate-promotion dry run: identical
IEEE-double floor bucketing), boundary-exactness on grid-aligned
scores, monotonicity, below-lo/above-hi/NULL handling, and a plan
check that the retention corpus pass is one aggregation (no corpus
window / global sort).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.plan_utils import formatted_plan
from utc_cuip_kafka_aws_connector_spark.operators.retention import (
    retention_curve,
)
from utc_cuip_kafka_aws_connector_spark.operators.unimax import (
    unimax_allocation,
)

# ---------------------------------------------------------------- unimax


def _py_unimax(sizes: dict, budget: float, max_epochs: float) -> dict:
    rows = sorted(sizes.items(), key=lambda kv: (kv[1] * max_epochs, kv[0]))
    remaining, out = budget, {}
    for i, (g, n) in enumerate(rows):
        alloc = min(n * max_epochs, remaining / (len(rows) - i))
        remaining -= alloc
        out[g] = alloc
    return out


def test_unimax_matches_python_reference(spark):
    sizes = {"en": 1e6, "de": 2e5, "yo": 1e3, "fr": 5e5, "is": 4e3}
    df = spark.createDataFrame(
        [(g, float(n)) for g, n in sizes.items()], "lang string, n_tokens double"
    )
    for budget, epochs in ((8e5, 4.0), (1e7, 2.0), (100.0, 1.0)):
        got = {
            r.lang: r
            for r in unimax_allocation(
                df, budget, max_epochs=epochs, pre_aggregated=True
            ).collect()
        }
        want = _py_unimax(sizes, budget, epochs)
        for g, alloc in want.items():
            assert got[g].alloc == pytest.approx(alloc, abs=1e-9)
            assert got[g].alloc <= sizes[g] * epochs + 1e-9  # cap
            assert got[g].epochs == pytest.approx(alloc / sizes[g])
        total = sum(want.values())
        assert sum(r.alloc for r in got.values()) == pytest.approx(total)
        assert sum(r.weight for r in got.values()) == pytest.approx(1.0)
        # the binding dichotomy: every group is capped OR gets the
        # equal share of the uncapped tail
        uncapped = [
            g for g in sizes if want[g] < sizes[g] * epochs - 1e-9
        ]
        if uncapped:
            shares = {round(want[g], 6) for g in uncapped}
            assert len(shares) == 1


def test_unimax_surplus_unused_and_aggregation_path(spark):
    rows = [("a", 10.0)] * 3 + [("b", 5.0)] * 2  # a: 30, b: 10
    df = spark.createDataFrame(rows, "lang string, n_tokens double")
    got = {
        r.lang: r
        for r in unimax_allocation(df, 1000.0, max_epochs=2.0).collect()
    }
    # budget exceeds total capacity: every group capped, surplus unused
    assert got["a"].alloc == 60.0 and got["b"].alloc == 20.0
    assert got["a"].epochs == 2.0 and got["b"].epochs == 2.0
    assert got["a"].weight == pytest.approx(0.75)
    with pytest.raises(ValueError, match="budget"):
        unimax_allocation(df, 0.0)
    with pytest.raises(ValueError, match="max_epochs"):
        unimax_allocation(df, 1.0, max_epochs=0)


# -------------------------------------------------------------- retention


def _fixture(seed=19, n=4000):
    rng = np.random.default_rng(seed)
    score = rng.uniform(-0.2, 1.2, n).round(2)  # grid-aligned ties
    toks = rng.integers(1, 500, n).astype(float)
    lang = np.where(rng.random(n) < 0.5, "en", "de")
    rows = [
        (int(i), float(s), float(t), str(g))
        for i, (s, t, g) in enumerate(zip(score, toks, lang))
    ]
    return rows


def test_retention_matches_python_and_duckdb(spark):
    rows = _fixture()
    df = spark.createDataFrame(rows, "id long, score double, toks double, lang string")
    lo, hi, npts = 0.0, 1.0, 20
    step = (hi - lo) / npts
    got = retention_curve(
        df, "score", lo, hi, n_points=npts, weight_col="toks", group_col="lang"
    ).collect()
    assert len(got) == 2 * (npts + 1)
    by_key = {(r.lang, round(r.threshold, 9)): r for r in got}
    pdf = pd.DataFrame(rows, columns=["id", "score", "toks", "lang"])
    for g in ("en", "de"):
        sub = pdf[pdf.lang == g]
        prev = None
        for i in range(npts + 1):
            t = lo + i * step  # the operator's own grid arithmetic
            r = by_key[(g, round(t, 9))]
            kept = sub[sub.score >= t]
            assert r.docs_kept == len(kept), (g, t)
            assert r.weight_kept == pytest.approx(kept.toks.sum())
            assert r.docs_frac == pytest.approx(len(kept) / len(sub))
            assert r.weight_frac == pytest.approx(
                kept.toks.sum() / sub.toks.sum()
            )
            if prev is not None:
                assert r.docs_kept <= prev  # monotone
            prev = r.docs_kept
    # DuckDB grid-join oracle over identical rows (promotion dry run)
    con = duckdb.connect()
    try:
        con.register("docs", pdf)
        oracle = con.execute(
            f"""
            WITH grid AS (
              SELECT i, {lo!r}::DOUBLE + i * {step!r}::DOUBLE AS threshold
              FROM generate_series(0, {npts}) AS t(i))
            SELECT d.lang, g.threshold,
                   count(*) FILTER (d.score >= g.threshold) AS docs_kept
            FROM docs d CROSS JOIN grid g
            GROUP BY d.lang, g.threshold
            """
        ).fetchall()
    finally:
        con.close()
    for lang, t, kept in oracle:
        assert by_key[(lang, round(t, 9))].docs_kept == kept


def test_retention_edges(spark):
    df = spark.createDataFrame(
        [(1, -5.0), (2, 0.5), (3, 99.0), (4, None)],
        "id long, score double",
    )
    got = {
        round(r.threshold, 9): r
        for r in retention_curve(df, "score", 0.0, 1.0, n_points=2).collect()
    }
    # 3 scored rows total; -5 counts in totals but survives nothing;
    # 99 survives everything; NULL excluded
    assert got[0.0].docs_kept == 2 and got[0.0].docs_frac == pytest.approx(2 / 3)
    assert got[0.5].docs_kept == 2  # boundary: 0.5 >= 0.5 survives
    assert got[1.0].docs_kept == 1
    with pytest.raises(ValueError, match="hi must be"):
        retention_curve(df, "score", 1.0, 1.0)
    with pytest.raises(ValueError, match="n_points"):
        retention_curve(df, "score", 0.0, 1.0, n_points=0)


def test_retention_result_is_local_single_pass(spark):
    """The corpus is touched by exactly one aggregation: the returned
    curve is a LOCAL relation (driver-assembled from the grid-sized
    histogram), so its plan cannot re-scan the input — the guarantee
    the module docstring promises."""
    rows = _fixture(seed=23, n=500)
    df = spark.createDataFrame(rows, "id long, score double, toks double, lang string")
    out = retention_curve(
        df, "score", 0.0, 1.0, weight_col="toks", group_col="lang"
    )
    plan = formatted_plan(out)
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    assert "Join" not in plan and "Window" not in plan
    # all-below-lo group: totals counted, nothing survives
    df2 = spark.createDataFrame(
        [(1, -3.0, 5.0, "x"), (2, -1.0, 2.0, "x")],
        "id long, score double, toks double, lang string",
    )
    got = retention_curve(
        df2, "score", 0.0, 1.0, n_points=2, weight_col="toks", group_col="lang"
    ).collect()
    assert len(got) == 3
    assert all(r.docs_kept == 0 and r.docs_frac == 0.0 for r in got)
    assert all(r.weight_frac == 0.0 for r in got)

def test_retention_all_null_weights_bucket(spark):
    """A bucket whose weights are all NULL sums to NULL — the curve
    must treat it as zero mass, not crash."""
    df = spark.createDataFrame(
        [(1, 0.6, None), (2, 0.2, 4.0)],
        "id long, score double, toks double",
    )
    got = {
        round(r.threshold, 9): r
        for r in retention_curve(
            df, "score", 0.0, 1.0, n_points=2, weight_col="toks"
        ).collect()
    }
    assert got[0.5].docs_kept == 1
    assert got[0.5].weight_kept == 0.0
    assert got[0.0].weight_kept == 4.0


def test_nan_inputs_excluded(spark):
    """NaN sizes would poison the waterfill and NaN scores would
    land in low buckets (review r16) — both excluded like nulls."""
    sizes = spark.createDataFrame(
        [("a", 10.0), ("b", float("nan"))], "lang string, n_tokens double"
    )
    got = unimax_allocation(sizes, 5.0, pre_aggregated=True).collect()
    assert [r.lang for r in got] == ["a"]
    assert got[0].alloc == 5.0

    scores = spark.createDataFrame(
        [(1, float("nan")), (2, 0.5), (3, 2.0)], "id long, score double"
    )
    curve = {
        round(r.threshold, 9): r
        for r in retention_curve(scores, "score", 0.0, 1.0, n_points=4).collect()
    }
    # only the two real scores count anywhere
    assert curve[0.0].docs_kept == 2
    assert curve[0.25].docs_kept == 2  # NaN must NOT appear here
    assert curve[0.5].docs_kept == 2 and curve[1.0].docs_kept == 1


def test_retention_max_groups_refuses_high_cardinality(spark):
    """ADVICE r16: the per-(group, bucket) histogram is collected to
    the driver, so a doc-id-grade group key must refuse loudly, never
    OOM silently."""
    df = spark.createDataFrame(
        [(i, float(i % 10) / 10.0) for i in range(200)],
        "doc_id long, score double",
    )
    with pytest.raises(ValueError, match="max_groups"):
        retention_curve(
            df, "score", 0.0, 1.0, n_points=4,
            group_col="doc_id", max_groups=8,
        )
    # same call above the true cardinality: fine (and the cap does
    # not perturb results -- 200 groups < 250)
    out = retention_curve(
        df, "score", 0.0, 1.0, n_points=4,
        group_col="doc_id", max_groups=250,
    )
    assert out.count() == 200 * 5
    with pytest.raises(ValueError, match="max_groups"):
        retention_curve(df, "score", 0.0, 1.0, max_groups=0)


def test_unimax_max_groups_refuses_high_cardinality(spark):
    from utc_cuip_kafka_aws_connector_spark.operators.unimax import (
        unimax_allocation,
    )

    df = spark.createDataFrame(
        [(str(i), 100.0) for i in range(50)],
        "lang string, n_tokens double",
    )
    with pytest.raises(ValueError, match="max_groups"):
        unimax_allocation(df, budget=1000.0, max_groups=10)
    out = unimax_allocation(df, budget=1000.0, max_groups=50)
    assert out.count() == 50
    with pytest.raises(ValueError, match="max_groups"):
        unimax_allocation(df, budget=1000.0, max_groups=0)
