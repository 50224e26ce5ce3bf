"""Curate v3: the round-9 operator families composed end-to-end —
the release-engineering half of a training-data build that v1 (q99,
heuristic filters) and v2 (model gates + incremental dedup +
tokenizer) stop short of:

  raw corpus (with a planted site banner + near-dup pairs)
    -> line-level boilerplate strip      (boilerplate)
    -> near-dup components               (dedup: minhash_lsh_pairs -> clusters)
    -> leakage-safe train/val/test split (split, along components)
    -> curriculum-ordered epoch permutation of train (ordering)
    -> tokenizer trained on train ONLY, exported + reloaded (bpetrain + tokenio)

Assertions: the banner is gone everywhere, near-copies share a split,
train ordering is reproducible, and the exported tokenizer reloads to
the identical encoding — with the whole chain deterministic across two
runs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from utc_cuip_kafka_aws_connector_spark.operators.boilerplate import (
    strip_boilerplate,
)
from utc_cuip_kafka_aws_connector_spark.operators.bpetrain import (
    bpe_train_merges,
)
from utc_cuip_kafka_aws_connector_spark.operators.dedup import (
    dedup_clusters,
    minhash_lsh_pairs,
)
from utc_cuip_kafka_aws_connector_spark.operators.encode import (
    bpe_encode,
    bpe_vocab,
    corpus_chars,
)
from utc_cuip_kafka_aws_connector_spark.operators.ordering import epoch_shuffle
from utc_cuip_kafka_aws_connector_spark.operators.split import (
    leakage_safe_split,
    split_report,
)
from utc_cuip_kafka_aws_connector_spark.operators.tokenio import (
    load_tokenizer,
    save_tokenizer,
)

BANNER = "SUBSCRIBE TO THE DAILY CRAWL DIGEST"


def _doc(seed: int, n: int = 40) -> str:
    rng = random.Random(seed)
    words = " ".join(f"w{rng.randrange(120)}" for _ in range(n))
    return f"{BANNER}\n{words}"


def _near_copy(seed: int) -> str:
    head, body = _doc(seed).split("\n")
    toks = body.split()
    toks[2], toks[11] = "edited", "tweaked"
    return head + "\n" + " ".join(toks)


def _build(spark):
    rows = [(i, _doc(i)) for i in range(60)]
    rows += [(1000 + i, _near_copy(i)) for i in range(0, 60, 6)]  # 10 near-copies
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    clean = strip_boilerplate(corpus, min_docs=30, min_len=10)
    pairs = minhash_lsh_pairs(
        clean, "doc_id", num_hashes=64, bands=16, jaccard_threshold=0.6
    )
    comps = dedup_clusters(clean, pairs, id_col="doc_id")
    assigned = leakage_safe_split(
        clean,
        comps.select("doc_id", "component"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed=4,
    )
    train = assigned.filter(F.col("split") == "train").select("doc_id", "text")
    ordered = epoch_shuffle(train, seed=4, epoch=0)
    merges = bpe_train_merges(train, 8)
    vocab = bpe_vocab(merges, corpus_chars(train))
    return corpus, clean, comps, assigned, train, ordered, merges, vocab


@pytest.fixture(scope="module")
def world(spark):
    return _build(spark)


def test_banner_stripped_everywhere(spark, world):
    _, clean, *_ = world
    assert clean.filter(F.col("text").contains(BANNER)).count() == 0
    # bodies intact
    assert clean.filter(F.col("text").contains("w1")).count() > 0


def test_near_copies_share_component_and_split(spark, world):
    _, _, comps, assigned, *_ = world
    comp = {r.doc_id: r.component for r in comps.collect()}
    split = {r.doc_id: r.split for r in assigned.collect()}
    for i in range(0, 60, 6):
        assert comp[i] == comp[1000 + i], i
        assert split[i] == split[1000 + i], i
    rep = {r.split: r.n_rows for r in split_report(assigned).collect()}
    assert sum(rep.values()) == 70 and rep.get("train", 0) >= 40


def test_tokenizer_roundtrips_through_export(spark, world, tmp_path):
    _, _, _, _, train, _, merges, vocab = world
    path = str(tmp_path / "tokenizer.json")
    save_tokenizer(spark, path, merges, vocab)
    merges2, vocab2 = load_tokenizer(spark, path)
    a = {r.doc_id: r.token_ids for r in bpe_encode(train, merges, vocab).collect()}
    b = {r.doc_id: r.token_ids for r in bpe_encode(train, merges2, vocab2).collect()}
    assert a == b and len(a) == train.count()


def test_pipeline_is_deterministic(spark, world):
    _, _, _, assigned, _, ordered, merges, _ = world
    corpus2, _, _, assigned2, _, ordered2, merges2, _ = _build(spark)
    assert merges == merges2
    assert {tuple(r) for r in assigned.collect()} == {
        tuple(r) for r in assigned2.collect()
    }
    assert [r.doc_id for r in ordered.select("doc_id").collect()] == [
        r.doc_id for r in ordered2.select("doc_id").collect()
    ]
