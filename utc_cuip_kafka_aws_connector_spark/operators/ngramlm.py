"""Interpolated Kneser-Ney n-gram language model: distributed
training (pure count aggregations) and perplexity scoring (pure
join + fold), the CCNet-style quality signal.

Why this exists: the public CCNet pipeline (Wenzek et al. 2020)
buckets Common Crawl documents into head/middle/tail by the
perplexity of a KenLM 5-gram model trained on Wikipedia, and that
perplexity filter is still the canonical model-based quality signal
for LLM corpus curation (used by GPT-3-style and Llama-style data
recipes in the public literature). ``operators/nbquality.py``
carries a perplexity *proxy* (NB token log-prob); this module is the
real thing — an interpolated Kneser-Ney model (Kneser & Ney 1995;
Chen & Goodman 1999 formulation) with continuation counts for the
lower orders, trained and scored entirely as DataFrame plans.

Spark-first design — both phases are shuffle-bounded, no Python in
either hot path:

- ``kn_train``: tokenize -> pad with ``<s>``/``</s>`` -> one
  explode + ``groupBy(gram).count`` per order (map-side partial
  aggregation absorbs the Zipf skew: popular grams combine before
  the exchange). Continuation counts for order k are derived from
  the DISTINCT (k+1)-gram table (drop the first token, count) — no
  second corpus pass. The model stays DataFrames of
  ``(gram, p)`` / ``(ctx, b)``; nothing model-sized ever lands on
  the driver (only two scalar aggregates: vocabulary size and the
  unigram backoff weight).
- ``kn_score``: one posexplode to (doc, position), per-order gram
  strings built JVM-side with ``slice``/``array_join``, then one
  LEFT join per order against the prob/backoff tables and a single
  codegen'd interpolation fold
  ``p_n + b_n*(p_{n-1} + ... b_2*(p_1 + b_1/V))`` with
  ``coalesce(p, 0)`` / ``coalesce(b, 1)`` (unseen context = back
  off with weight 1). Per-doc re-aggregation sums log10 probs.

Scale story at 100 TB: the corpus-sized side is exploded n-grams;
each join's build side is the LM (one row per distinct gram —
Wikipedia-scale reference corpora give O(10^7..10^8) rows, far
smaller than the corpus). Catalyst/AQE picks broadcast when the LM
slice fits, shuffle-hash otherwise; hot-gram skew on the probe side
is bounded because the build side is unique-keyed (AQE skew-join
splits oversized probe partitions). Nothing iterates, nothing
collects.

Float caveat (same contract as operators/nbquality.py): log10
probabilities are doubles summed per document in shuffle order —
tolerance-stable, not bit-stable; the differential test pins
per-document scores against a pure-Python reference at 1e-9.

Exact-normalization property (pinned in tests/test_ngramlm.py):
with discount D <= 1 every adjusted count is >= 1 >= D, so for any
seen context h the model sums to EXACTLY
``sum_w P(w|h) = 1`` over the training vocabulary (the discounted
mass D*d(h)/t(h) is redistributed through the lower orders down to
the uniform 1/V floor). This is the property that makes perplexity
comparable across documents.

Reference basis: the reference repo (389 lines, Kafka->csv/S3) has
no model surface; this is SURVEY §2.D training-data-pipeline scope
built from the public algorithm (Chen & Goodman 1999 eqs. 4.17-4.20;
KenLM's <s>/</s> padding convention).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from utc_cuip_kafka_aws_connector_spark.operators.arrayops import (
    sliding_grams,
)
from utc_cuip_kafka_aws_connector_spark.operators.text import words

BOS = "<s>"
EOS = "</s>"
UNK = "<unk>"
# Literal sentinel strings OCCURRING IN TEXT (scraped ML posts, HTML
# dumps carry "<s>"/"</s>"/"<unk>" routinely) are collapsed to this
# reserved escape token in BOTH training and scoring: otherwise a
# textual "</s>" would hit the trained padding rows (and a textual
# "<unk>" would collide with the OOV image), silently skewing scores
# and breaking the batch==streaming identity the monitor rests on.
# The escape contains a NUL, which the whitespace tokenizer can never
# split out of ordinary text adjacent to these literals ambiguously —
# and even if a corpus contained it, it would just train as one
# ordinary token.
SENTINEL_ESCAPE = "\x00sentinel"


def _tokens(text_col: str) -> Column:
    """Non-empty whitespace tokens (the repo-wide tokenizer
    contract, operators/text.py::words), null text treated as empty,
    literal padding/unk sentinels escaped (see SENTINEL_ESCAPE)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.filter(
        words(F.coalesce(c, F.lit(""))), lambda w: w != F.lit("")
    )
    return F.transform(
        toks,
        lambda t: F.when(
            t.isin(BOS, EOS, UNK), F.lit(SENTINEL_ESCAPE)
        ).otherwise(t),
    )


def _padded(tokens: Column, order: int) -> Column:
    """KenLM-style sequence padding: (order-1) BOS sentinels so the
    first real token has a full-width context, one EOS so document
    end is a predicted event (length normalization then counts it)."""
    bos = F.array(*[F.lit(BOS)] * (order - 1))
    return F.concat(bos, tokens, F.array(F.lit(EOS)))


def _grams(padded: Column, k: int) -> Column:
    """All k-grams of the padded sequence as space-joined strings —
    operators/arrayops.sliding_grams (the zip-of-shifted-slices shape
    that avoids re-running the tokenize/escape/pad chain once per
    gram position; see that module's re-evaluation note), no explode
    yet. Padded sequences always have >= k elements ((k-1) BOS pads +
    EOS), so the short-array [] convention is never hit."""
    return sliding_grams(padded, k, " ")


def _map_to_vocab(
    df: DataFrame, text_col: str, id_col: str, vocab: DataFrame
) -> DataFrame:
    """Replace out-of-vocabulary tokens with ``<unk>`` via a
    distributed join (the vocabulary is never collected): explode
    with position, left-join the vocab table, re-assemble in order.
    Returns ``(id_col, __toks array<string>)`` — one linear lineage,
    no self-join back to ``df`` (a self-join keyed on a generated id
    would be a recompute hazard). ``posexplode_outer`` keeps empty
    documents as a null row, so every input id survives."""
    pos = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode_outer(_tokens(text_col)).alias("__pos", "__tok"),
    )
    mapped = pos.join(
        vocab.select(F.col("token").alias("__tok"), F.lit(1).alias("__in")),
        on="__tok",
        how="left",
    ).select(
        "__id",
        "__pos",
        F.when(F.col("__in").isNotNull(), F.col("__tok"))
        .otherwise(F.lit(UNK))
        .alias("__tok"),
    )
    return mapped.groupBy("__id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("__pos").isNotNull(),
                        F.struct(F.col("__pos"), F.col("__tok")),
                    )
                )
            ),
            lambda s: s.getField("__tok"),
        ).alias("__toks")
    ).withColumnRenamed("__id", id_col)


def ngram_counts(
    df: DataFrame, text_col: str = "text", order: int = 2
) -> DataFrame:
    """Raw padded n-gram count table ``(gram, c)`` — the foundation
    layer under ``kn_train`` exposed as a first-class product (count
    tables are themselves a corpus-analysis artifact: coverage
    studies, contamination fingerprints, vocabulary audits).

    Semantics are IDENTICAL to the raw tables kn_train builds:
    whitespace tokens (nulls as empty), literal ``<s>``/``</s>``/
    ``<unk>`` occurrences collapsed to SENTINEL_ESCAPE, (order-1) BOS
    pads + one EOS, space-joined grams. Integer-only output, so the
    table is exactly oracle-expressible (the q124 gate projection).

    Scale shape: grams are built JVM-side per document (one
    ``transform`` over start offsets, no intermediate explode per
    order), then ONE explode + map-side-combined groupBy — the same
    single-shuffle plan as each kn_train order."""
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    padded = df.select(_padded(_tokens(text_col), order).alias("p"))
    return (
        padded.select(F.explode(_grams(F.col("p"), order)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def kn_train(
    df: DataFrame,
    text_col: str = "text",
    order: int = 3,
    discount: float | str = 0.75,
    min_count: int = 1,
) -> dict:
    """Train an interpolated Kneser-Ney model of the given order.
    ``discount="auto"`` estimates a per-order D from count-of-count
    statistics (Ney/Chen-Goodman, the KenLM default) instead of the
    fixed classic 0.75.

    Returns ``{"order", "discount", "vocab": DataFrame(token),
    "v_size": int, "b1": float, "probs": {k: DataFrame(gram, p)},
    "ctx": {k: DataFrame(ctx, b)} }`` where for each order k:

    - adjusted count a_k(g) = raw corpus count for k = order,
      continuation count N1+(.g) (distinct left-extensions) below;
    - ``p = max(a_k(hw) - D, 0) / t_k(h)`` with
      ``t_k(h) = sum_w a_k(hw)``;
    - ``b = D * d_k(h) / t_k(h)`` with d_k(h) = distinct extensions
      of h — the mass released by discounting, handed to order k-1.

    ``min_count`` > 1 maps rarer tokens to ``<unk>`` before counting
    (the KenLM/SRILM open-vocabulary convention), so true OOV tokens
    at score time share the learned ``<unk>`` statistics instead of
    free-falling to the uniform floor.
    """
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    if discount != "auto" and not 0.0 < float(discount) <= 1.0:
        raise ValueError(
            f"discount must be 'auto' or in (0, 1] so adjusted counts "
            f"(>= 1) never go negative after discounting, got {discount}"
        )
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")

    uni = df.select(F.explode(_tokens(text_col)).alias("token"))
    vocab = (
        uni.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_count)
        .select("token")
    )

    if min_count > 1:
        # the generated id exists ONLY on this branch: it must never
        # enter the min_count=1 lineage, whose tables may join against
        # STREAMING frames, and Spark rejects
        # monotonically_increasing_id anywhere in a streaming plan
        base = df.select(
            F.monotonically_increasing_id().alias("__id"), text_col
        )
        toks_df = _map_to_vocab(base, text_col, "__id", vocab).select(
            F.col("__toks").alias("toks")
        )
    else:
        toks_df = df.select(_tokens(text_col).alias("toks"))

    padded = toks_df.select(_padded(F.col("toks"), order).alias("p"))

    # Raw counts per order 2..order (adjusted[k] derives from
    # raw[k+1]'s distinct suffixes, so unigram raw counts are never
    # consumed — the unigram level IS adjusted[1], from raw[2]).
    # Raw tables are ADDITIVE across corpora — they stay in the model
    # so kn_merge can fold incremental batches without retraining.
    # Each is persisted: they are gram-vocabulary-sized and every
    # downstream consumer (scoring tables, the two scalar aggregates,
    # each table save_kn_lm writes) would otherwise replay the full
    # corpus tokenize/explode lineage per action. kn_unpersist frees
    # them.
    raw = {}
    for k in range(2, order + 1):
        raw[k] = (
            padded.select(F.explode(_grams(F.col("p"), k)).alias("gram"))
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("a"))
            .persist()
        )
    return _model_from_raw(raw, vocab.persist(), order, discount, min_count)


def kn_unpersist(model: dict) -> None:
    """Release the model's persisted count tables (call when done
    scoring; saved models reload lazily from parquet). Also releases
    the cached Stupid Backoff tables if sb_score built them."""
    for t in model.get("raw", {}).values():
        t.unpersist()
    for t in model.get("_adjusted", {}).values():
        t.unpersist()
    sb = model.pop("_sb", None)
    if sb is not None:
        sb[2].unpersist()  # the persisted derived-unigram table
    vocab = model.get("vocab")
    if vocab is not None:  # sb_train models are count-only, no vocab pass
        vocab.unpersist()


def _model_from_raw(
    raw: dict[int, DataFrame],
    vocab: DataFrame,
    order: int,
    discount,
    min_count: int,
    discounts_override: dict[int, float] | None = None,
) -> dict:
    """Derive the scoring tables (probs/ctx/b1/v_size) from raw
    n-gram count tables — the deterministic second half of
    ``kn_train``, shared with ``kn_merge`` (identical counts in =>
    bit-identical model out)."""
    adjusted = {order: raw[order]}
    for k in range(order - 1, 0, -1):
        # N1+(.g): distinct (k+1)-grams that end in g.
        adjusted[k] = (
            raw[k + 1]
            .select(
                F.substring_index(F.col("gram"), " ", -k).alias("gram")
            )
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("a"))
        )
    # BOS is context-only, never a predicted event; for order >= 3
    # the (<s>, <s>) padding bigram would otherwise leak <s> into
    # the unigram outcome set (and the uniform floor's V).
    adjusted[1] = adjusted[1].where(F.col("gram") != BOS)
    # derived tables are consumed 2-3x each (count-of-counts, probs/
    # ctx, the unigram scalars) — persist the gram-sized frames so
    # none of them replays its raw-table shuffle per consumer
    for k in range(1, order):
        adjusted[k] = adjusted[k].persist()

    # Per-order discount: discount="auto" estimates D_k from the
    # count-of-counts of the table being discounted (Ney et al. 1994;
    # Chen & Goodman 1999 eq. 4.23: D = n1/(n1 + 2*n2)) — KenLM's
    # estimator. A degenerate table (no singletons, or an estimate
    # outside (0,1]) falls back to the classic 0.75 rather than
    # failing the build; the normalization identity holds for ANY
    # per-order D in (0,1].
    discounts: dict[int, float] = {}
    for k in range(1, order + 1):
        if discounts_override is not None:
            # the caller (kn_prune) already holds data-estimated
            # values; re-estimating on a pruned table would see n1=0
            # at the top order and silently fall back to 0.75
            discounts[k] = float(discounts_override[k])
        elif discount == "auto":
            cc = adjusted[k].agg(
                F.sum((F.col("a") == 1).cast("long")).alias("n1"),
                F.sum((F.col("a") == 2).cast("long")).alias("n2"),
            ).collect()[0]
            n1, n2 = int(cc["n1"] or 0), int(cc["n2"] or 0)
            d_k = n1 / (n1 + 2.0 * n2) if n1 > 0 else 0.0
            discounts[k] = d_k if 0.0 < d_k <= 1.0 else 0.75
        else:
            discounts[k] = float(discount)

    probs: dict[int, DataFrame] = {}
    ctx: dict[int, DataFrame] = {}
    for k in range(2, order + 1):
        d_lit = F.lit(discounts[k])
        split = adjusted[k].select(
            F.substring_index(F.col("gram"), " ", k - 1).alias("ctx"),
            F.col("gram"),
            F.col("a"),
        )
        totals = split.groupBy("ctx").agg(
            F.sum("a").alias("t"), F.count(F.lit(1)).alias("d")
        )
        probs[k] = (
            split.join(totals, on="ctx", how="inner")
            .select(
                "gram",
                (
                    F.greatest(F.col("a") - d_lit, F.lit(0.0)) / F.col("t")
                ).alias("p"),
            )
        )
        ctx[k] = totals.select(
            "ctx", (d_lit * F.col("d") / F.col("t")).alias("b")
        )

    # Unigram level: one global context; two scalar aggregates only.
    u = adjusted[1].agg(
        F.sum("a").alias("t"), F.count(F.lit(1)).alias("d")
    ).collect()[0]
    t1, d1 = float(u["t"]), int(u["d"])
    d1_lit = F.lit(discounts[1])
    probs[1] = adjusted[1].select(
        "gram",
        (F.greatest(F.col("a") - d1_lit, F.lit(0.0)) / F.lit(t1)).alias("p"),
    )
    b1 = discounts[1] * d1 / t1

    # Uniform floor ranges over the PREDICTABLE outcomes: distinct
    # seen unigrams (includes EOS, never BOS since BOS is never a
    # predicted event) plus <unk> if the corpus never produced one.
    v_size = (
        adjusted[1]
        .select("gram")
        .union(
            adjusted[1].sparkSession.createDataFrame(
                [(UNK,)], "gram string"
            )
        )
        .distinct()
        .count()
    )

    return {
        "order": order,
        "discount": discount,
        "discounts": discounts,
        "min_count": min_count,
        "vocab": vocab,
        "v_size": v_size,
        "b1": b1,
        "probs": probs,
        "ctx": ctx,
        "raw": raw,
        "_adjusted": adjusted,
    }


def kn_merge(models: list[dict]) -> dict:
    """Fold independently-trained models into the model of the
    UNION corpus, without touching any corpus again — the
    incremental-retrain path (daily/monthly batches, the
    increddup/ann_append discipline applied to the LM).

    Exact because raw n-gram COUNTS are additive across corpora,
    and everything else (continuation counts = distinct-ness of the
    merged raw tables, discounted probs, backoff weights, V) is a
    deterministic function of them: merge(train(A), train(B)) ==
    train(A ∪ B) value-for-value (pinned in tests/test_ngramlm.py).
    Requires identical order/discount and ``min_count == 1`` — an
    open-vocab model maps tokens to <unk> per-batch, which is not
    reconstructible from counts (a token rare in every batch but
    frequent in the union would have been in the union vocab), so
    merging such models is refused rather than silently wrong."""
    from functools import reduce

    if not models:
        raise ValueError("kn_merge needs at least one model")
    order = models[0]["order"]
    count_only = ["probs" not in m for m in models]
    if any(count_only):
        # count-only (sb_train) models: additivity is the WHOLE model
        # — merge is just the raw-table union, no derived tables to
        # rebuild. Mixing with full KN models is refused (the KN side
        # would silently lose its discounted tables).
        if not all(count_only):
            raise ValueError(
                "kn_merge cannot mix count-only (sb_train) models "
                "with full KN models"
            )
        for m in models:
            if m["order"] != order:
                raise ValueError(
                    "kn_merge needs identical order; got "
                    f"{m['order']} vs {order}"
                )
            if "raw" not in m:
                raise ValueError(
                    "model carries no raw count tables (probs-only "
                    "save)"
                )
        if len(models) == 1:
            return models[0]
        raw = {
            k: reduce(
                lambda a, b: a.unionByName(b), (m["raw"][k] for m in models)
            )
            .groupBy("gram")
            .agg(F.sum("a").alias("a"))
            .persist()
            for k in range(2, order + 1)
        }
        return {"order": order, "raw": raw}
    discount = models[0]["discount"]
    for m in models:
        if m["order"] != order or m["discount"] != discount:
            raise ValueError(
                "kn_merge needs identical (order, discount); got "
                f"{(m['order'], m['discount'])} vs {(order, discount)}"
            )
        if m.get("min_count", 1) != 1:
            raise ValueError(
                "kn_merge requires min_count=1 models (per-batch <unk> "
                "mapping is not reconstructible from counts)"
            )
        if m.get("pruned", 1) != 1:
            raise ValueError(
                "kn_merge refuses count-pruned models (kn_prune dropped "
                "top-order counts, so the merge would NOT equal a "
                "whole-corpus retrain); merge the unpruned models and "
                "prune the result"
            )
        if "raw" not in m:
            raise ValueError(
                "model carries no raw count tables (trained before "
                "kn_merge existed, or loaded from a probs-only save)"
            )
    if len(models) == 1:
        return models[0]
    raw = {
        k: reduce(
            lambda a, b: a.unionByName(b), (m["raw"][k] for m in models)
        )
        .groupBy("gram")
        .agg(F.sum("a").alias("a"))
        .persist()
        for k in range(2, order + 1)
    }
    vocab = reduce(
        lambda a, b: a.unionByName(b), (m["vocab"] for m in models)
    ).distinct().persist()
    return _model_from_raw(raw, vocab, order, discount, 1)


def kn_score(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document log10 probability and perplexity under the
    trained model: ``(id_col, n_tokens, log10_prob, ppl)`` with
    ``ppl = 10 ** (-log10_prob / n_tokens)`` (KenLM's convention —
    EOS is a predicted event, so n_tokens = len(doc) + 1).

    One LEFT join per order; unseen grams coalesce to p=0, unseen
    contexts to b=1 (full backoff). Every expression after the
    joins is a codegen'd fold — no Python anywhere.
    """
    scored = kn_token_logprobs(
        df, model, text_col, carry_cols=[id_col],
        broadcast_model=broadcast_model, map_oov=True,
    )
    return scored.groupBy(id_col).agg(*ppl_aggs())


def ppl_aggs() -> list[Column]:
    """The perplexity fold over 'lp' token rows — single-sourced so
    batch (kn_score) and streaming (streaming/pplmon.py) can never
    disagree on the convention."""
    return [
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("lp").alias("log10_prob"),
        F.pow(
            F.lit(10.0), -F.sum("lp") / F.count(F.lit(1))
        ).alias("ppl"),
    ]


def kn_token_logprobs(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    carry_cols: list[str] = (),
    broadcast_model: bool = True,
    map_oov: bool = True,
) -> DataFrame:
    """One row per predicted token event: ``(carry_cols..., lp)``
    with ``lp = log10 P(token | context)`` — the shared core of
    ``kn_score`` (which re-aggregates by document) and the streaming
    window monitor (streaming/pplmon.py, which re-aggregates by
    event-time window and therefore CANNOT afford the extra
    aggregation ``map_oov`` costs: Structured Streaming allows one).

    ``map_oov=True`` routes out-of-vocabulary tokens to ``<unk>``
    before gram building (requires exactly one carry column — the
    document id the reassembly groups on). ``map_oov=False`` skips
    that pass; for ``min_count=1`` models the scores are IDENTICAL
    (``<unk>`` was never trained, so an OOV token and its ``<unk>``
    image both miss every table and land on the same uniform floor,
    and any context containing either is equally unseen — pinned in
    tests/test_streaming_ppl.py), which is exactly why the streaming
    monitor insists on ``min_count=1``."""
    if "probs" not in model:
        raise ValueError(
            "count-only model (sb_train) carries no discounted KN "
            "tables; score it with sb_score, or train with kn_train"
        )
    order = model["order"]
    carry = list(carry_cols)

    if map_oov:
        if len(carry) != 1:
            raise ValueError(
                "map_oov=True needs exactly one carry column (the "
                "document id the <unk> reassembly groups on)"
            )
        mapped = _map_to_vocab(
            df.select(carry[0], text_col), text_col, carry[0],
            model["vocab"],
        )
        padded = mapped.select(
            *carry, _padded(F.col("__toks"), order).alias("p")
        )
    else:
        padded = df.select(
            *carry, _padded(_tokens(text_col), order).alias("p")
        )

    # One row per predicted position j (1-based index into the
    # padded sequence; j runs from `order` — the first real token —
    # to size(p), the EOS event).
    pos = padded.select(
        *carry,
        F.col("p"),
        F.explode(
            F.sequence(F.lit(order), F.size(F.col("p")))
        ).alias("j"),
    )
    gram_cols = [
        F.array_join(
            F.slice(F.col("p"), F.col("j") - F.lit(k - 1), k), " "
        ).alias(f"g{k}")
        for k in range(1, order + 1)
    ]
    ctx_cols = [
        F.array_join(
            F.slice(F.col("p"), F.col("j") - F.lit(k - 1), k - 1), " "
        ).alias(f"c{k}")
        for k in range(2, order + 1)
    ]
    events = pos.select(*carry, *gram_cols, *ctx_cols)

    # broadcast_model=True suits the typical shape (LM trained on a
    # bounded reference corpus, scored against the big one); set
    # False for an LM larger than executor memory and the joins
    # become plain shuffle-hash joins on unique-keyed build sides.
    hint = F.broadcast if broadcast_model else (lambda d: d)
    for k in range(1, order + 1):
        events = events.join(
            hint(
                model["probs"][k].select(
                    F.col("gram").alias(f"g{k}"), F.col("p").alias(f"p{k}")
                )
            ),
            on=f"g{k}",
            how="left",
        )
    for k in range(2, order + 1):
        events = events.join(
            hint(
                model["ctx"][k].select(
                    F.col("ctx").alias(f"c{k}"), F.col("b").alias(f"b{k}")
                )
            ),
            on=f"c{k}",
            how="left",
        )

    # Interpolation fold, innermost (uniform floor) outward.
    prob = F.lit(1.0 / model["v_size"]) * F.lit(model["b1"])
    prob = F.coalesce(F.col("p1"), F.lit(0.0)) + prob
    for k in range(2, order + 1):
        prob = F.coalesce(F.col(f"p{k}"), F.lit(0.0)) + F.coalesce(
            F.col(f"b{k}"), F.lit(1.0)
        ) * prob

    return events.select(*carry, F.log10(prob).alias("lp"))


def sb_train(
    df: DataFrame, text_col: str = "text", order: int = 2
) -> dict:
    """Count-only Stupid Backoff model (Brants et al. 2007): just the
    ADDITIVE raw n-gram count tables — no discounting, no vocabulary
    pass, no ``<unk>`` mapping, no probability normalization. This is
    the web-scale training shortcut the paper describes: at
    Google-corpus sizes the smoothing machinery buys nothing for
    ranking, and a count-only build is one map-side-combined groupBy
    per order off ONE corpus materialization (exactly kn_train's raw
    layer, minus everything downstream of it).

    The returned dict is score-compatible with ``sb_score`` /
    ``stupid_backoff_tables`` / ``sb_match_profile`` and additive
    under ``kn_merge``-style unions of its raw tables; it carries no
    ``probs``/``ctx``/``vocab``, so ``kn_score`` refuses it (KN needs
    the discounted tables) and ``kn_unpersist`` skips the missing
    vocab. Semantics of the counts are bit-identical to kn_train's:
    whitespace tokens (nulls as empty), literal sentinel escaping,
    (order-1) BOS pads + one EOS, space-joined grams."""
    if order < 2:
        raise ValueError(f"order must be >= 2, got {order}")
    padded = df.select(_padded(_tokens(text_col), order).alias("p"))
    raw = {}
    for k in range(2, order + 1):
        raw[k] = (
            padded.select(F.explode(_grams(F.col("p"), k)).alias("gram"))
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("a"))
            .persist()
        )
    return {"order": order, "raw": raw}


def stupid_backoff_tables(model: dict) -> tuple[dict[int, DataFrame], float]:
    """Per-order Stupid Backoff score tables ``{k: (gram, s)}`` plus
    the corpus token total N, derived from the model's ADDITIVE raw
    count tables (Brants et al. 2007, "Large Language Models in
    Machine Translation"): ``s_k(h w) = c(h w) / c(h)`` — raw
    relative frequencies, NO discounting, NOT normalized. The
    web-scale scoring shortcut: at Google-corpus sizes the smoothing
    gain vanishes and the count-table-only formulation wins on cost.

    Unigram counts (and N) are derived from raw[2] suffixes exactly
    like the KN pipeline derives its unigram level — with one BOS
    pad per order every non-BOS token occurrence has a predecessor,
    so ``c(w) = sum_x c(x w)`` including the EOS event; BOS is
    context-only and excluded. Context counts at EVERY level are the
    cached raw[k-1] tables with the single all-BOS padding row
    divided by its pad multiplicity (exact — see the ctx_counts
    comment below), so every all-BOS context counts once per
    document exactly as Brants' per-order padding would give it —
    document-initial backoff scores are comparable across model
    orders at every level (the ADVICE r13 finding, generalized from
    the bigram level to all levels at r14, shuffle-free).

    Memoized on the model dict (``model["_sb"]``) so scoring many
    corpora against one model derives the tables once; the persisted
    unigram table is released by ``kn_unpersist``."""
    if "_sb" in model:
        return model["_sb"][0], model["_sb"][1]
    if "raw" not in model:
        raise ValueError(
            "model carries no raw count tables (pruned or legacy "
            "save); stupid backoff needs the additive raw counts"
        )
    order = model["order"]
    uni = (
        model["raw"][2]
        .select(F.substring_index(F.col("gram"), " ", -1).alias("gram"), "a")
        .groupBy("gram")
        .agg(F.sum("a").alias("a"))
        .where(F.col("gram") != BOS)
    ).persist()
    n_total = float(uni.agg(F.sum("a")).first()[0])
    tables: dict[int, DataFrame] = {
        1: uni.select("gram", (F.col("a") / F.lit(n_total)).alias("s"))
    }
    # Context counts for EVERY level come from the CACHED raw[k-1]
    # table with ONE scan-local correction: the all-BOS context
    # '<s>'*(k-1) appears once per pad position — exactly
    # (order-k+1) times per document (literal '<s>' in text is
    # sentinel-escaped, so padding is the only source, and even an
    # empty doc's pad contributes the full run) — where Brants'
    # per-order padding counts it once. Dividing that single row by
    # (order-k+1) is therefore EXACT integer arithmetic, and every
    # other row already equals the occurrences-followed-by-something
    # count a context denominator means (a (k-1)-gram not ending in
    # EOS is always followed by something; EOS-final grams are never
    # queried as contexts). This is the ADVICE r13 finding fixed at
    # the bigram level r14, generalized to every level (review
    # caught order >= 4), as a projection on the cached table
    # instead of a per-level groupBy shuffle (second review pass).
    # (k = 2 has no raw[1] table: the unigram context stays
    # PREFIX-derived from raw[2] with the padding rows dropped — one
    # gram-vocabulary-sized aggregation, the pre-r14 shape plus the
    # suffix filter.)
    ctx1 = (
        model["raw"][2]
        .where(F.substring_index(F.col("gram"), " ", -1) != BOS)
        .select(F.substring_index(F.col("gram"), " ", 1).alias("gram"), "a")
        .groupBy("gram")
        .agg(F.sum("a").alias("a"))
    )
    ctx_counts = {2: ctx1}
    for k in range(3, order + 1):
        base = model["raw"][k - 1]
        factor = order - k + 1
        if factor > 1:
            all_bos = " ".join([BOS] * (k - 1))
            base = base.withColumn(
                "a",
                F.when(
                    F.col("gram") == all_bos,
                    F.expr(f"a div {factor}"),
                ).otherwise(F.col("a")),
            )
        ctx_counts[k] = base
    for k in range(2, order + 1):
        tables[k] = (
            model["raw"][k]
            .select(
                "gram",
                "a",
                F.substring_index(F.col("gram"), " ", k - 1).alias("__ctx"),
            )
            .join(
                ctx_counts[k].select(
                    F.col("gram").alias("__ctx"), F.col("a").alias("__ca")
                ),
                "__ctx",
            )
            .select("gram", (F.col("a") / F.col("__ca")).alias("s"))
        )
    model["_sb"] = (tables, n_total, uni)
    return tables, n_total


def sb_score(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    broadcast_model: bool = True,
) -> DataFrame:
    """Per-document Stupid Backoff score:
    ``(id_col, n_tokens, log10_score, sbs)`` with
    ``sbs = 10 ** (-log10_score / n_tokens)`` — the perplexity-SHAPED
    ranking statistic (scores are not probabilities, so this is not
    a perplexity; it ranks identically within a fixed model, which
    is all selection/bucketing needs).

    ``S(w|h) = c(hw)/c(h)`` at the longest seen order, else
    ``alpha * S`` one order down (alpha = 0.4, the published
    constant), base case the unigram relative frequency with 1/N for
    OOV (one pseudo-occurrence — keeps scores positive without an
    <unk> pass; this scorer deliberately skips the OOV mapping, the
    same trade the published web-scale usage makes).

    Plan shape: HALF of kn_score's joins — one left join per order
    on the gram string, NO context-table joins (the ratio is
    precomputed into the score tables), then one codegen'd
    longest-match coalesce fold and the per-doc re-aggregation."""
    order = model["order"]
    tables, n_total = stupid_backoff_tables(model)
    events = _sb_events(df, model, tables, text_col, id_col, broadcast_model)
    score = F.coalesce(F.col("s1"), F.lit(1.0 / n_total))
    for k in range(2, order + 1):
        score = F.coalesce(F.col(f"s{k}"), F.lit(alpha) * score)
    scored = events.select(id_col, F.log10(score).alias("lp"))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("lp").alias("log10_score"),
        F.pow(
            F.lit(10.0), -F.sum("lp") / F.count(F.lit(1))
        ).alias("sbs"),
    )


def _sb_events(
    df: DataFrame,
    model: dict,
    tables: dict[int, DataFrame],
    text_col: str,
    id_col: str,
    broadcast_model: bool,
) -> DataFrame:
    """Shared Stupid Backoff event frame: one row per predicted token
    position (every non-BOS padded position, EOS included) carrying
    the per-order gram strings ``g1..g<order>`` and, from one left
    join per order against the score tables, the per-order scores
    ``s1..s<order>`` (null = gram unseen at that order). Both the
    float scorer (sb_score) and the integer match profiler
    (sb_match_profile) consume exactly this frame, so their join
    topology can never drift apart."""
    order = model["order"]
    padded = df.select(
        id_col, _padded(_tokens(text_col), order).alias("p")
    )
    pos = padded.select(
        id_col,
        F.col("p"),
        F.explode(F.sequence(F.lit(order), F.size(F.col("p")))).alias("j"),
    )
    gram_cols = [
        F.array_join(
            F.slice(F.col("p"), F.col("j") - F.lit(k - 1), k), " "
        ).alias(f"g{k}")
        for k in range(1, order + 1)
    ]
    events = pos.select(id_col, *gram_cols)
    hint = F.broadcast if broadcast_model else (lambda d: d)
    for k in range(1, order + 1):
        events = events.join(
            hint(
                tables[k].select(
                    F.col("gram").alias(f"g{k}"), F.col("s").alias(f"s{k}")
                )
            ),
            on=f"g{k}",
            how="left",
        )
    return events


def _sb_membership_tables(model: dict) -> dict[int, DataFrame]:
    """Per-order MEMBERSHIP tables ``{k: (gram, s=1.0)}`` — the
    profile-path twin of ``stupid_backoff_tables`` that skips
    everything the profiler never reads (r21, guide §1.2 don't-compute
    -what-you-throw-away): the eager ``n_total`` first() (a whole
    driver job), the unigram sum + persist, the ctx1 aggregate, and
    one context join per order. Exactness: ``sb_match_profile``
    consumes only the NULL-NESS of each per-event score, and for every
    gram an EVENT can carry, null-ness ≡ raw-count membership —
    - k >= 3: the score table inner-joins raw[k] with ctx raw[k-1],
      and every k-gram's (k-1)-prefix is itself a counted (k-1)-gram
      (document-initial grams' all-BOS prefixes included, since the
      padding run is order-1 BOS), so the join drops nothing;
    - k == 2: the ctx1 derivation excludes BOS-SUFFIXED bigrams, but
      an event's g2 suffix is a predicted token, never BOS (literal
      BOS in text is sentinel-escaped), so the discrepancy is
      unreachable;
    - k == 1: the unigram table is the BOS-free suffix set of raw[2],
      reproduced here as a distinct instead of a sum.
    The differential pin (tests/test_ngramlm.py) holds profile ==
    the full-score-table formulation exactly."""
    order = model["order"]
    tables: dict[int, DataFrame] = {
        1: (
            model["raw"][2]
            .select(F.substring_index(F.col("gram"), " ", -1).alias("gram"))
            .where(F.col("gram") != BOS)
            .distinct()
            .withColumn("s", F.lit(1.0))
        )
    }
    for k in range(2, order + 1):
        tables[k] = model["raw"][k].select("gram", F.lit(1.0).alias("s"))
    return tables


def sb_match_profile(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool = True,
) -> DataFrame:
    """Integer-exact Stupid Backoff match structure per document:
    ``(id_col, n_events, n_hits_<order>.., n_hits_2, n_unigram_hits,
    n_oov)`` where each predicted-token event is attributed to the
    LONGEST order whose gram the model has seen (exactly the level
    sb_score's coalesce fold resolves at), ``n_unigram_hits`` counts
    events that fell all the way to a seen unigram, and ``n_oov``
    counts events that hit the 1/N floor. All columns are exact
    integers — no float surface — so the scoring tier's join
    topology (gram extraction, padding, per-order left joins,
    longest-match resolution) is pinned by a hash-exact SQL oracle
    (gate q125) instead of epsilon differentials. Plan shape:
    identical to sb_score (shared ``_sb_events``) with the float fold
    replaced by a codegen'd when-chain + one map-side-combined
    groupBy — but joined against MEMBERSHIP tables derived straight
    from the raw counts (``_sb_membership_tables``), since the
    profiler reads only score null-ness: no n_total driver action, no
    unigram sum/persist, no context aggregates or joins."""
    order = model["order"]
    tables = _sb_membership_tables(model)
    events = _sb_events(df, model, tables, text_col, id_col, broadcast_model)
    level = F.lit(0)
    for k in range(1, order + 1):
        # built innermost-out: the final expression checks the
        # highest order first — the longest seen match wins
        level = F.when(F.col(f"s{k}").isNotNull(), F.lit(k)).otherwise(level)
    tagged = events.select(id_col, level.alias("lvl"))
    aggs = [F.count(F.lit(1)).alias("n_events")]
    for k in range(order, 1, -1):
        aggs.append(
            F.count(F.when(F.col("lvl") == k, F.lit(1))).alias(f"n_hits_{k}")
        )
    aggs.append(
        F.count(F.when(F.col("lvl") == 1, F.lit(1))).alias("n_unigram_hits")
    )
    aggs.append(F.count(F.when(F.col("lvl") == 0, F.lit(1))).alias("n_oov"))
    return tagged.groupBy(id_col).agg(*aggs)


def perplexity_buckets(
    scored: DataFrame,
    n_buckets: int = 3,
    ppl_col: str = "ppl",
    id_col: str = "doc_id",
    method: str = "exact",
    rel_err: float = 0.001,
) -> DataFrame:
    """CCNet's head/middle/tail split: rank documents by perplexity
    ascending and cut into equal-population buckets (bucket 1 =
    lowest perplexity = most in-domain).

    ``method="exact"``: one global window sort (the same
    single-exchange shape as q19's global top-k) — exact equal
    population, the CCNet contract, and the deterministic form.

    ``method="approx"`` (the corpus-scale path, r15 — the trade-off
    this docstring always promised, wired the same way as
    operators/ordering.py::curriculum_order): bucket thresholds from
    ``approxQuantile(rel_err)`` (Greenwald-Khanna, one aggregation
    pass, NO global sort) and a codegen'd threshold-count projection.
    Buckets are equal-population only to ``rel_err``, and perplexity
    TIES land in one bucket together instead of splitting to balance
    counts -- which also means a value that ties SEVERAL cuts clears
    all of them at once and the intermediate bucket labels are
    SKIPPED entirely (a constant-perplexity corpus puts every row in
    bucket 1 and emits no bucket 2..n): consumers must not assume
    all n labels occur. Same honesty caveat as curriculum_order: GK summaries
    merge per partition, so documents within ``rel_err`` of a cut can
    move across partition LAYOUTS — pin the layout (or use exact)
    when byte-identical resume matters. Null perplexities take
    bucket 1 on both paths (ascending null-first, Spark's asc()
    default in the exact window)."""
    from pyspark.sql import Window

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if method not in ("exact", "approx"):
        raise ValueError(f"method must be exact|approx, got {method!r}")
    if not (0.0 < rel_err < 1.0):
        # approxQuantile accepts rel_err == 0 but degrades to an exact
        # all-values summary (unbounded memory at corpus scale), and
        # >= 1 makes the cuts meaningless -- reject both loudly.
        raise ValueError(f"rel_err must be in (0, 1), got {rel_err!r}")
    if method == "approx":
        qs = [i / n_buckets for i in range(1, n_buckets)]
        cuts = scored.stat.approxQuantile(ppl_col, qs, rel_err)
        # no cuts => empty frame or all-null column: every row takes
        # the null-policy bucket, matching the exact path's output
        expr = F.lit(1)
        for t in cuts:
            expr = expr + (F.col(ppl_col) > F.lit(t)).cast("int")
        return scored.withColumn(
            "bucket",
            F.when(F.col(ppl_col).isNull(), F.lit(1)).otherwise(expr),
        )
    # tie-break on the id so equal-perplexity documents (exact dups
    # pre-dedup) bucket identically on every run and layout
    order_cols = [F.col(ppl_col).asc()]
    if id_col and id_col in scored.columns:
        order_cols.append(F.col(id_col).asc())
    w = Window.orderBy(*order_cols)
    return scored.withColumn("bucket", F.ntile(n_buckets).over(w))


def save_kn_lm(model: dict, path: str) -> None:
    """Persist the model as parquet tables + a tiny JSON sidecar
    (order/discount/v_size/b1) so scoring clusters can load it
    without retraining."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    if "probs" not in model:
        # count-only (sb_train) model: the raw tables ARE the model
        for k, t in model["raw"].items():
            t.write.mode("overwrite").parquet(
                os.path.join(path, f"raw_{k}")
            )
        with open(os.path.join(path, "meta.json"), "w") as fh:
            json.dump({"order": model["order"], "count_only": True}, fh)
        return
    model["vocab"].write.mode("overwrite").parquet(
        os.path.join(path, "vocab")
    )
    for k, t in model["probs"].items():
        t.write.mode("overwrite").parquet(os.path.join(path, f"probs_{k}"))
    for k, t in model["ctx"].items():
        t.write.mode("overwrite").parquet(os.path.join(path, f"ctx_{k}"))
    for k, t in model.get("raw", {}).items():
        t.write.mode("overwrite").parquet(os.path.join(path, f"raw_{k}"))
    with open(os.path.join(path, "meta.json"), "w") as fh:
        json.dump(
            {
                "order": model["order"],
                "discount": model["discount"],
                "discounts": model.get("discounts", {}),
                "min_count": model.get("min_count", 1),
                "pruned": model.get("pruned", 1),
                "v_size": model["v_size"],
                "b1": model["b1"],
            },
            fh,
        )


def load_kn_lm(spark: SparkSession, path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "meta.json")) as fh:
        meta = json.load(fh)
    order = int(meta["order"])
    if meta.get("count_only"):
        return {
            "order": order,
            "raw": {
                k: spark.read.parquet(os.path.join(path, f"raw_{k}"))
                for k in range(2, order + 1)
            },
        }
    disc = meta["discount"]
    model = {
        "order": order,
        "discount": disc if disc == "auto" else float(disc),
        "discounts": {
            int(k): float(v)
            for k, v in (meta.get("discounts") or {}).items()
        },
        "min_count": int(meta.get("min_count", 1)),
        "v_size": int(meta["v_size"]),
        "b1": float(meta["b1"]),
        "vocab": spark.read.parquet(os.path.join(path, "vocab")),
        "probs": {
            k: spark.read.parquet(os.path.join(path, f"probs_{k}"))
            for k in range(1, order + 1)
        },
        "ctx": {
            k: spark.read.parquet(os.path.join(path, f"ctx_{k}"))
            for k in range(2, order + 1)
        },
    }
    if os.path.isdir(os.path.join(path, "raw_2")):
        model["raw"] = {
            k: spark.read.parquet(os.path.join(path, f"raw_{k}"))
            for k in range(2, order + 1)
        }
    if int(meta.get("pruned", 1)) != 1:
        model["pruned"] = int(meta["pruned"])
    return model


def moore_lewis_score(
    df: DataFrame,
    target_model: dict,
    generic_model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-entropy difference selection (Moore & Lewis 2010 — the
    classic LM-based data-selection criterion, the ancestor of DSIR's
    bucket models): per document,
    ``ce_diff = H_target(x) - H_generic(x)`` in log10 per token —
    NEGATIVE means the document looks more like the target domain
    than like the generic corpus. Returns ``(id_col, n_tokens,
    ce_target, ce_generic, ce_diff)``; select by ascending
    ``ce_diff`` (``select_by_ce_diff``).

    Two ``kn_score`` passes + one id-keyed join — both models score
    the SAME tokenization, so length effects cancel exactly (the
    property that makes the difference better than raw target
    perplexity: rare-but-domain-neutral text is penalized by both
    models equally)."""
    t = kn_score(df, target_model, text_col, id_col).select(
        F.col(id_col),
        F.col("n_tokens"),
        (-F.col("log10_prob") / F.col("n_tokens")).alias("ce_target"),
    )
    g = kn_score(df, generic_model, text_col, id_col).select(
        F.col(id_col),
        (-F.col("log10_prob") / F.col("n_tokens")).alias("ce_generic"),
    )
    return t.join(g, on=id_col).select(
        id_col,
        "n_tokens",
        "ce_target",
        "ce_generic",
        (F.col("ce_target") - F.col("ce_generic")).alias("ce_diff"),
    )


def select_by_ce_diff(
    scored: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """The k most target-like documents (ascending ce_diff —
    global top-k, TakeOrderedAndProject). Ties at the k boundary
    break on the id (exact duplicates score identically, and a
    layout-dependent boundary pick would break the determinism the
    curate-full stage advertises — the perplexity_buckets
    tie-break discipline). ``id_col`` absent => ce_diff alone (the
    pre-r13 behavior, for schema-free callers)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    order = [F.col("ce_diff").asc()]
    if id_col and id_col in scored.columns:
        order.append(F.col(id_col).asc())
    return scored.orderBy(*order).limit(k)


def kn_prune(model: dict, min_top_count: int) -> dict:
    """Count pruning for deployment (KenLM's ``--prune`` in its
    dominant form): drop top-order n-grams rarer than
    ``min_top_count`` and re-derive the model from the pruned count
    tables. Restricted to the TOP order on purpose — every lower
    order's outcome set then stays a subset of the unigram outcome
    set (top-order tails are corpus tokens, present in raw[2]'s
    suffixes), so the exact sum-to-1 normalization identity is
    PRESERVED; pruning lower orders would leak probability mass out
    of the uniform floor's outcome set. Typical effect: singleton
    trigrams are the bulk of a web-corpus LM; ``min_top_count=2``
    shrinks the biggest table severalfold with a bounded perplexity
    cost. Needs the model's raw tables (kn_train keeps them)."""
    if min_top_count < 1:
        raise ValueError(
            f"min_top_count must be >= 1, got {min_top_count}"
        )
    if "raw" not in model:
        raise ValueError(
            "model carries no raw count tables (loaded from a "
            "probs-only save) — retrain or reload a full save"
        )
    if "probs" not in model:
        raise ValueError(
            "count-only (sb_train) model: there are no discounted "
            "tables to re-derive — filter its raw tables directly "
            "(e.g. raw[k].where(a >= n))"
        )
    if min_top_count == 1:
        return model
    order = model["order"]
    raw = dict(model["raw"])
    raw[order] = raw[order].where(
        F.col("a") >= F.lit(int(min_top_count))
    ).persist()
    pruned = _model_from_raw(
        raw, model["vocab"], order, model["discount"],
        model.get("min_count", 1),
        # a pre-discounts-format save loads with discounts={} — an
        # empty override would KeyError in _model_from_raw; fall back
        # to re-estimation from the (pruned) counts instead
        discounts_override=model.get("discounts") or None,
    )
    # mark it: pruned counts are no longer the additive corpus
    # counts, so kn_merge must refuse this model
    pruned["pruned"] = int(min_top_count)
    return pruned
