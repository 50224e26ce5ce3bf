"""Product quantization (PQ) with asymmetric-distance search — the
deep-compression tier of the similarity stack.

Where int8 scalar quantization stores 1 byte PER DIMENSION, PQ
(Jégou/Douze/Schmid 2011, "Product Quantization for Nearest
Neighbor Search" — the FAISS `PQ`/`IVFPQ` core) stores 1 code PER
SUBSPACE: d dims split into m subvectors, each vector-quantized
against its own 2^nbits-centroid codebook, so a 1024-dim float32
vector (4 KB) compresses to m bytes (e.g. 32) — 128x. Search uses
asymmetric distance computation (ADC): the query stays exact, its
distance to every centroid of every subspace is precomputed ONCE
(m x 2^nbits table, driver-side numpy), and each row's distance is
just m table lookups summed.

Spark mapping:
- ``pq_fit``: m INDEPENDENT distributed k-means fits
  (similarity.kmeans_centroids — Spark ML k-means||), each over one
  ``F.slice`` of the vector column; only m x 2^nbits x (d/m)
  centroid floats reach the driver.
- ``pq_encode``: ONE mapInPandas pass; per Arrow batch a BLAS
  argmin against each codebook — no shuffle, codes emitted as
  array<smallint>.
- ``pq_adc_topk``: the ADC tables become literal arrays and the
  row score is m ``element_at`` lookups summed — pure JVM
  whole-stage-codegen, scanning only (id, codes).

Recall-vs-compression is test-pinned against the exact float L2
search on the fixture embeddings.

Reference basis: the public PQ paper + FAISS design; the reference
repo has no vector surface. SURVEY §2.D scope.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from utc_cuip_kafka_aws_connector_spark.operators.similarity import (
    kmeans_centroids,
)


def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 6,
    seed: int = 0,
) -> dict:
    """m per-subspace codebooks of 2^nbits centroids. Requires the
    dimension divisible by m. Returns {"m", "dsub", "codebooks":
    (m, 2^nbits, dsub) nested lists}."""
    d = len(df.select(vec_col).first()[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    k = 1 << nbits
    books = []
    for j in range(m):
        sub = df.select(
            F.slice(F.col(vec_col), j * dsub + 1, dsub).alias("embedding")
        )
        books.append(
            kmeans_centroids(sub, k, vec_col="embedding", seed=seed + j)
        )
    return {
        "m": m,
        "dsub": dsub,
        "codebooks": [b.tolist() for b in books],
    }


def pq_encode(
    df: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """(id, codes array<smallint>): per subspace, the index of the
    nearest (L2) codebook centroid. One Arrow-batched pass, all m
    argmins BLAS-side, no shuffle."""
    m, dsub = model["m"], model["dsub"]
    books = [np.asarray(b, dtype=np.float64) for b in model["codebooks"]]
    sq = [(b**2).sum(axis=1) for b in books]  # ||c||^2 per centroid

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                # an empty Arrow batch stacks to a 1-D shape-(0,)
                # array whose 2-D subspace slice raises (ADVICE r8;
                # same guard as projection.py's Gram partials)
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            codes = np.empty((len(X), m), dtype=np.int16)
            for j in range(m):
                Xj = X[:, j * dsub : (j + 1) * dsub]
                # argmin ||x - c||^2 = argmin ||c||^2 - 2 x.c
                codes[:, j] = np.argmin(
                    sq[j][None, :] - 2.0 * (Xj @ books[j].T), axis=1
                )
            yield pd.DataFrame(
                {id_col: pdf[id_col], out_col: list(codes)}
            )

    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        encode, schema=f"{id_col} long, {out_col} array<smallint>"
    )


def pq_decode(codes: list[int], model: dict) -> list[float]:
    """Driver-side reconstruction of one code vector (tests/debug)."""
    out: list[float] = []
    for j, c in enumerate(codes):
        out.extend(model["codebooks"][j][c])
    return out


def pq_adc_topk(
    df: DataFrame,
    model: dict,
    query_vec: list[float],
    k: int,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """(id, dist) of the k approximate-nearest rows by L2, ascending
    (ties by id): per-subspace query->centroid distance tables are
    computed once on the driver and embedded as literals; the row
    distance is m element_at lookups summed — JVM-only over the
    compressed column."""
    m, dsub = model["m"], model["dsub"]
    q = np.asarray(query_vec, dtype=np.float64)
    if len(q) != m * dsub:
        raise ValueError(f"query dim {len(q)} != {m * dsub}")
    terms = []
    for j in range(m):
        book = np.asarray(model["codebooks"][j], dtype=np.float64)
        table = ((book - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
        lut = F.array(*[F.lit(float(t)) for t in table])
        terms.append(
            F.element_at(lut, F.element_at(F.col(codes_col), j + 1).cast("int") + 1)
        )
    dist = terms[0]
    for t in terms[1:]:
        dist = dist + t
    return (
        df.select(F.col(id_col), dist.alias("dist"))
        .orderBy(F.asc("dist"), F.asc(id_col))
        .limit(k)
    )


def pq_search_rerank(
    coded: DataFrame,
    vectors: DataFrame,
    model: dict,
    query_vec: list[float],
    k: int,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ pattern (FAISS's IVFPQ+refine): ADC over the
    compressed column produces a ``shortlist`` (default 4k) of
    candidates — the only stage that scans the corpus — then the
    shortlist's FLOAT vectors are fetched (a k-sized broadcast
    semi-join against the vector table) and reranked by exact L2.
    Recovers exact-search recall at compressed-scan cost; returns
    (id, dist) ascending, ties by id."""
    short = pq_adc_topk(
        coded, model, query_vec, shortlist or 4 * k, id_col, codes_col
    ).select(id_col)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    diff = F.zip_with(F.col(vec_col).cast("array<double>"), q, lambda x, y: x - y)
    dist = F.aggregate(
        F.transform(diff, lambda v: v * v), F.lit(0.0), lambda acc, v: acc + v
    )
    return (
        vectors.join(F.broadcast(short), id_col, "left_semi")
        .select(F.col(id_col), dist.alias("dist"))
        .orderBy(F.asc("dist"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_topk(
    coded: DataFrame,
    vectors: DataFrame,
    model: dict,
    centroids: "np.ndarray",
    query_vec: list[float],
    k: int,
    nprobe: int = 4,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    codes_col: str = "codes",
    cluster_col: str = "centroid_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The full FAISS-IVFPQ shape: ``coded`` carries a coarse
    ``cluster_col`` (from similarity.ivf_assign over the same
    ``centroids``), the query's ``nprobe`` nearest coarse cells are
    picked on the driver, and only those cells' rows pay the ADC
    scan (a pushed-down ``isin`` partition/row-group filter when the
    code table is written partitioned by cluster) before the exact
    rerank. At 100 TB this is the difference between scanning the
    corpus and scanning nprobe/n_cells of it."""
    q = np.asarray(query_vec, dtype=np.float64)
    cd = ((np.asarray(centroids, dtype=np.float64) - q) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(cd)[:nprobe]]
    cell = coded.filter(F.col(cluster_col).isin(probes))
    short = pq_adc_topk(
        cell, model, query_vec, shortlist or 4 * k, id_col, codes_col
    ).select(id_col)
    qarr = F.array(*[F.lit(float(x)) for x in query_vec])
    diff = F.zip_with(
        F.col(vec_col).cast("array<double>"), qarr, lambda x, y: x - y
    )
    dist = F.aggregate(
        F.transform(diff, lambda v: v * v), F.lit(0.0), lambda acc, v: acc + v
    )
    return (
        vectors.join(F.broadcast(short), id_col, "left_semi")
        .select(F.col(id_col), dist.alias("dist"))
        .orderBy(F.asc("dist"), F.asc(id_col))
        .limit(k)
    )
