"""operators/bpetrain.py: distributed BPE merge training.

The q118 gate entry pins the Spark trainer against the DuckDB SQL
replay; THIS file pins both against an independent pure-Python
reference trainer (the Sennrich 2016 pseudocode, written directly
from the paper's algorithm) on randomized corpora, plus the
structural properties the tokenizer contract needs."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from utc_cuip_kafka_aws_connector_spark.operators.bpetrain import (
    bpe_train,
    bpe_train_merges,
    word_histogram,
)
from utc_cuip_kafka_aws_connector_spark.operators.tokenizer import (
    bpe_encode_word,
)


def reference_train(texts: list[str], k: int) -> list[tuple[str, str, int]]:
    """Sennrich's learn_bpe, written from the paper: vocab dict, count
    ALL adjacent pairs weighted by frequency, merge the most frequent
    left-to-right non-overlapping, ties to the lexicographically
    smallest (lhs, rhs)."""
    wf = Counter(w for t in texts for w in t.split())
    segs: dict[str, list[str]] = {w: list(w) for w in wf}
    out: list[tuple[str, str, int]] = []
    for _ in range(k):
        stats: Counter = Counter()
        for w, f in wf.items():
            s = segs[w]
            for i in range(len(s) - 1):
                stats[(s[i], s[i + 1])] += f
        if not stats:
            break
        (a, b), cnt = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((a, b, cnt))
        for w in segs:
            syms, merged, i = segs[w], [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            segs[w] = merged
    return out


def _corpus_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _random_texts(seed: int, n_docs: int = 40) -> list[str]:
    rng = random.Random(seed)
    words = [
        "".join(rng.choice("abcd") for _ in range(rng.randint(1, 6)))
        for _ in range(12)
    ]
    return [
        " ".join(rng.choice(words) for _ in range(rng.randint(3, 15)))
        for _ in range(n_docs)
    ]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_differential_vs_reference_trainer(spark, seed):
    """Tiny 4-letter alphabet + short words force heavy pair-count
    collisions, so the deterministic tie-break is exercised, not just
    the happy path."""
    texts = _random_texts(seed)
    got = [
        (r.lhs, r.rhs, r.pair_count)
        for r in bpe_train(_corpus_df(spark, texts), 10).orderBy("merge_rank").collect()
    ]
    assert got == reference_train(texts, 10)


def test_fixture_corpus_matches_reference(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    texts = [r.text for r in docs.select("text").collect()]
    got = [
        (r.lhs, r.rhs, r.pair_count)
        for r in bpe_train(docs, 8).orderBy("merge_rank").collect()
    ]
    assert got == reference_train(texts, 8)


def test_merges_are_well_formed(spark, sf_dir):
    """tokenizer.bpe_token_count's contract: each side of merge k is a
    single character or the product of an earlier merge."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train_merges(docs, 8)
    assert len(merges) == 8
    products: set[str] = set()
    for a, b in merges:
        assert len(a) == 1 or a in products, (a, b)
        assert len(b) == 1 or b in products, (a, b)
        products.add(a + b)


def test_learned_table_feeds_the_encoder(spark, sf_dir):
    """Train here, encode there: token counts under the learned table
    match a direct reference encode of every document."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_train_merges(docs, 8)
    from utc_cuip_kafka_aws_connector_spark.operators.tokenizer import (
        bpe_token_count,
    )

    got = {
        r.doc_id: r.n_tokens
        for r in bpe_token_count(docs, merges=merges).collect()
    }
    for r in docs.select("doc_id", "text").limit(50).collect():
        want = sum(
            len(bpe_encode_word(w, merges)) for w in r.text.split() if w
        )
        assert got[r.doc_id] == want


def test_early_stop_when_pairs_run_out(spark):
    """Single-character vocabulary: no adjacent pairs exist, training
    emits zero merges instead of looping or failing."""
    out = bpe_train(_corpus_df(spark, ["a b a", "b a"]), 5)
    assert out.count() == 0
    assert out.columns == ["merge_rank", "lhs", "rhs", "merged", "pair_count"]


def test_training_is_deterministic(spark):
    texts = _random_texts(99)
    df = _corpus_df(spark, texts)
    a = bpe_train(df, 6).orderBy("merge_rank").collect()
    b = bpe_train(df, 6).orderBy("merge_rank").collect()
    assert a == b


def test_word_histogram_is_the_only_corpus_shuffle(spark, sf_dir):
    """Scale-shape pin: the histogram is one hash-aggregate over the
    exploded words (map-side partial + final), nothing else touches
    the corpus."""
    from tests.plan_utils import formatted_plan

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    import re

    plan = formatted_plan(word_histogram(docs))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("seed", [4, 5])
def test_driver_and_distributed_paths_are_bit_identical(spark, seed):
    """The r9 collect-when-small contract: the default (driver) path
    and driver_vocab_rows=None (forced distributed) must agree on
    EVERY output column for corpora engineered to collide — and both
    must equal the naive reference trainer."""
    texts = _random_texts(seed)
    df = _corpus_df(spark, texts)
    fast = [
        tuple(r)
        for r in bpe_train(df, 12).orderBy("merge_rank").collect()
    ]
    slow = [
        tuple(r)
        for r in bpe_train(df, 12, driver_vocab_rows=None)
        .orderBy("merge_rank")
        .collect()
    ]
    assert fast == slow
    assert [(a, b, c) for _, a, b, _, c in fast] == reference_train(texts, 12)


def test_driver_trainer_differential_many_merges(spark):
    """The heap+index driver trainer vs the naive O(k*V*L) reference
    at a merge count big enough to exhaust most of a tiny corpus —
    exercises stale-heap invalidation, stale index entries, and the
    early-stop tail in one run."""
    texts = _random_texts(7, n_docs=60)
    df = _corpus_df(spark, texts)
    got = [
        (r.lhs, r.rhs, r.pair_count)
        for r in bpe_train(df, 200).orderBy("merge_rank").collect()
    ]
    assert got == reference_train(texts, 200)


def test_driver_path_is_job_frugal(spark):
    """The fast path's reason to exist: jobs must NOT scale with
    n_merges. Count Spark jobs via the status tracker — histogram
    materialization + vocab collect + result createDataFrame leave a
    small constant, far under the distributed path's ~2 per merge.
    The jobs run in their own group: the status store keeps only the
    last ``spark.ui.retainedJobs``, so a before/after count over all
    jobs goes wrong once earlier tests have run that many."""
    sc = spark.sparkContext
    texts = _random_texts(8)
    df = _corpus_df(spark, texts)
    sc.setJobGroup("bpe_train_job_budget", "bpe_train driver-path job budget")
    try:
        bpe_train(df, 50).collect()
        ran = len(sc.statusTracker().getJobIdsForGroup("bpe_train_job_budget"))
    finally:
        sc.setJobGroup(None, None)
    assert 0 < ran <= 8, ran
