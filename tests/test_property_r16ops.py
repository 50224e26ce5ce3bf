"""Hypothesis property tests for the r16 operator tier — the
randomized differentials in each module's own test file use FIXED
seeds; these let hypothesis drive the inputs (with shrinking) over
the invariants that must hold for EVERY input, not just the planted
fixtures:

- intradedup: idempotence + conservation (kept paragraphs are a
  subsequence of the originals; removed + kept == total),
- prefpairs: ties-never-pair / margin-positivity / per-prompt cap
  over arbitrary score multisets,
- conversations.truncate_to_budget: the prefix property and budget
  respect for arbitrary turn lists.

Spark examples are capped low (each example is a Spark job).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from utc_cuip_kafka_aws_connector_spark.operators.intradedup import (
    dedup_paragraphs,
)
from utc_cuip_kafka_aws_connector_spark.operators.prefpairs import (
    preference_pairs,
)
from utc_cuip_kafka_aws_connector_spark.operators.conversations import (
    truncate_to_budget,
)

_spark_settings = settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)

paras = st.lists(
    st.sampled_from(["alpha", "Beta  two", "beta two", "x", "", "  "]),
    min_size=0,
    max_size=8,
)


@_spark_settings
@given(docs=st.lists(paras, min_size=1, max_size=5))
def test_intradedup_idempotent_and_conserving(spark, docs):
    rows = [(i, "\n\n".join(p)) for i, p in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = dedup_paragraphs(df)
    got = {r.doc_id: r for r in once.collect()}
    for i, p in enumerate(docs):
        # "".split(sep) == [""]: one empty paragraph — the operator's
        # own view of empty text, so reconstruction mirrors it
        kept = got[i].text.split("\n\n")
        # conservation: kept + removed == total paragraph count
        total = len(("\n\n".join(p)).split("\n\n"))
        assert len(kept) + got[i].paras_removed == total
        # kept is a subsequence of the original raw paragraphs
        orig = ("\n\n".join(p)).split("\n\n")
        it = iter(orig)
        assert all(any(k == o for o in it) for k in kept)
    twice = dedup_paragraphs(once.drop("paras_removed"))
    assert all(r.paras_removed == 0 for r in twice.collect())


scores = st.lists(
    st.one_of(st.integers(0, 4).map(float), st.none()),
    min_size=1,
    max_size=8,
)


@_spark_settings
@given(per_prompt=st.lists(scores, min_size=1, max_size=4),
       strategy=st.sampled_from(["best_worst", "best_rest", "all_pairs"]))
def test_prefpairs_invariants(spark, per_prompt, strategy):
    rows, rid = [], 0
    for p, ss in enumerate(per_prompt):
        for s in ss:
            rows.append((f"p{p}", rid, s))
            rid += 1
    df = spark.createDataFrame(
        rows, "prompt_id string, response_id long, score double"
    )
    got = preference_pairs(
        df, strategy=strategy, max_pairs_per_prompt=3
    ).collect()
    score_of = {r[1]: r[2] for r in rows}
    by_prompt = {}
    for r in got:
        assert r.margin > 0  # ties/inversions never pair
        assert score_of[r.chosen_id] - score_of[r.rejected_id] == r.margin
        by_prompt.setdefault(r.prompt, []).append(r)
    assert all(len(v) <= 3 for v in by_prompt.values())  # cap
    if strategy == "best_worst":
        assert all(len(v) <= 1 for v in by_prompt.values())


turns = st.lists(
    st.tuples(
        st.sampled_from(["user", "assistant", "system"]),
        st.sampled_from(["", "a", "two words", "three tok here", "  "]),
    ),
    min_size=0,
    max_size=6,
)


@_spark_settings
@given(convs=st.lists(turns, min_size=1, max_size=4),
       budget=st.integers(0, 8))
def test_truncate_prefix_and_budget(spark, convs, budget):
    rows = [
        (i, [(r, c) for r, c in t]) for i, t in enumerate(convs)
    ]
    df = spark.createDataFrame(
        rows, "conv_id long, turns array<struct<role:string,content:string>>"
    )
    got = {
        r.conv_id: [tuple(x) for x in r.kept]
        for r in truncate_to_budget(df, budget, out_col="kept").collect()
    }
    for i, t in rows:
        kept = got[i]
        assert kept == t[: len(kept)]  # exact prefix
        used = sum(
            len(c.split()) if c.strip() else 0 for _, c in kept
        )
        assert used <= budget
        if len(kept) < len(t):  # the next turn would have busted it
            nxt = t[len(kept)][1]
            nxt_toks = len(nxt.split()) if nxt.strip() else 0
            assert used + nxt_toks > budget
