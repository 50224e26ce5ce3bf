"""Shared MinHash-LSH banding: signature -> band keys.

The construction the incremental near-dup index consumes
(operators/increddup.py, which stream-curate also runs per
micro-batch): ``sketch_documents``'s MinHash signature
is cut into ``bands`` slices of ``num_hashes/bands`` components, and
each slice hashes (salted with its band index) to one bucket key.
Two documents share a band key for some band with probability
1-(1-J^r)^b (Broder 1997; Leskovec/Rajaraman/Ullman ch.3), so equal
keys are the candidate generator and the signature ships alongside
for the verification estimate. Stateless, batch/streaming agnostic,
pure JVM after the sketch kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from utc_cuip_kafka_aws_connector_spark.operators.dedup import sketch_documents


def banded_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(band_key long, doc long, sig array<long>): one row per (doc,
    band), band key = xxhash64(band index, signature slice). Works on
    batch and streaming frames alike (stateless)."""
    if num_hashes % bands:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    r = num_hashes // bands
    sk = sketch_documents(
        df, id_col, text_col, shingle_n=shingle_n, num_hashes=num_hashes
    ).select("doc", "sig")
    keys = F.array(
        *[
            F.xxhash64(F.lit(b), F.slice(F.col("sig"), b * r + 1, r))
            for b in range(bands)
        ]
    )
    return sk.select(
        F.explode(keys).alias("band_key"), F.col("doc"), F.col("sig")
    )
