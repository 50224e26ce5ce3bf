"""WebDataset-style tar shards: the de-facto interchange format for
large multimodal corpora (image/audio/video + sidecar text/JSON
packed as ``<key>.<ext>`` entries in ~100 MB-1 GB tar files).

Why this exists: the multimodal operators
(operators/multimodal.py) consume opaque binary columns; real corpora arrive as tar shards (the public
WebDataset convention: all entries sharing a basename form one
sample). This module is the bridge — tar shards <-> the repo's
(key, ext, content) binary-column shape — so a user can point the
engine at an existing WebDataset layout.

Spark-first shape:

- ``read_tar_shards``: Spark's ``binaryFile`` source lists and
  reads whole shards (one ROW per shard — the format's contract:
  shards are the parallelism unit, sized by the writer to fit
  executor memory), then one ``mapInPandas`` walks each tar with
  the stdlib ``tarfile`` and explodes entries to rows. Scale =
  #shards in parallel; no shuffle.
- ``group_samples``: entry rows -> one row per sample with an
  ``ext -> content`` map (``map_from_entries``) — the shape
  ``multimodal.extract_*`` functions take. One groupBy.
- ``write_tar_shards``: one ``applyInPandas`` per shard group
  builds the tar bytes (entries sorted by (key, ext) — the
  WebDataset requirement that a sample's entries are contiguous),
  yielding a ``(shard, tar)`` binary frame; ``save_tar_shards``
  streams it to ``<dir>/<shard>.tar`` through the Hadoop
  FileSystem API via ``toLocalIterator`` — ONE shard held at a
  time, never the corpus (executors cannot reach py4j, so the
  write funnels through the driver; at fleet scale prefer emitting
  the (shard, tar) frame to parquet and fanning the upload out
  with the object store's own tooling — documented trade-off).

Error policy: a corrupt shard raises with the shard path by
default; ``on_error="skip"`` drops it loudly-in-the-log instead
(the multimodal per-row isolation precedent).

Reference basis: SURVEY §2.D multimodal scope; the reference repo
has no tar surface. The WebDataset format is public (webdataset docs /
tarp tooling); implementation is stdlib ``tarfile`` only.
"""

from __future__ import annotations

import io
import posixpath
import tarfile
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ENTRY_SCHEMA = "shard string, key string, ext string, content binary"


def read_tar_shards(
    spark: SparkSession,
    path: str,
    extensions: list[str] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """Entry rows ``(shard, key, ext, content)`` from every
    ``*.tar`` under ``path``. ``extensions`` prunes entries INSIDE
    the walk (decode nothing you won't use); ``shard`` is the tar's
    basename without extension."""
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be raise|skip, got {on_error!r}")
    keep = set(e.lstrip(".") for e in extensions) if extensions else None
    tars = spark.read.format("binaryFile").load(
        posixpath.join(path, "*.tar")
    )

    def walk(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = {"shard": [], "key": [], "ext": [], "content": []}
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                shard = posixpath.basename(fpath)
                if shard.endswith(".tar"):
                    shard = shard[:-4]
                # stage per shard: a tar that errors MID-walk must
                # contribute NOTHING (a partial sample downstream is
                # worse than a dropped shard)
                staged: list[tuple[str, str, str, bytes]] = []
                try:
                    with tarfile.open(
                        fileobj=io.BytesIO(bytes(blob)), mode="r"
                    ) as tf:
                        for m in tf.getmembers():
                            if not m.isfile():
                                continue
                            # WebDataset keys samples by the FULL
                            # member path minus extension (leading
                            # "./" normalized away) — basename-only
                            # keying would silently merge distinct
                            # samples from directory-structured tars
                            # and lose the layout on round-trip
                            name = posixpath.normpath(m.name).lstrip("/")
                            dirpart, _, base = name.rpartition("/")
                            stem, dot, ext = base.partition(".")
                            if not dot:
                                stem, ext = base, ""
                            key = (
                                f"{dirpart}/{stem}" if dirpart else stem
                            )
                            if keep is not None and ext not in keep:
                                continue
                            staged.append(
                                (shard, key, ext, tf.extractfile(m).read())
                            )
                except tarfile.TarError as e:
                    if on_error == "raise":
                        raise ValueError(
                            f"corrupt tar shard {fpath}: {e}"
                        ) from e
                    import sys

                    print(
                        f"wds: skipping corrupt tar shard {fpath}: {e}",
                        file=sys.stderr,
                    )
                    continue
                for s_, k_, e_, c_ in staged:
                    rows["shard"].append(s_)
                    rows["key"].append(k_)
                    rows["ext"].append(e_)
                    rows["content"].append(c_)
            yield pd.DataFrame(rows)

    return tars.select("path", "content").mapInPandas(walk, ENTRY_SCHEMA)


def group_samples(entries: DataFrame) -> DataFrame:
    """One row per WebDataset sample: ``(shard, key,
    parts map<string, binary>)`` — the ext->content map the
    multimodal decoders consume."""
    return entries.groupBy("shard", "key").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct(F.col("ext"), F.col("content")))
            )
        ).alias("parts")
    )


def write_tar_shards(
    entries: DataFrame,
    shard_col: str = "shard",
    key_col: str = "key",
    ext_col: str = "ext",
    content_col: str = "content",
) -> DataFrame:
    """Build one tar per shard group: ``(shard, tar binary)``.
    Entries are sorted by (key, ext) so each sample's parts are
    contiguous — the WebDataset reader contract. Deterministic:
    fixed mtime/uid/gid, so identical inputs give byte-identical
    shards (the shardwrite digest discipline)."""
    import pandas as pd

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values([key_col, ext_col], kind="mergesort")
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for _, r in pdf.iterrows():
                name = (
                    f"{r[key_col]}.{r[ext_col]}"
                    if r[ext_col]
                    else str(r[key_col])
                )
                data = bytes(r[content_col])
                info = tarfile.TarInfo(name=name)
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                tf.addfile(info, io.BytesIO(data))
        return pd.DataFrame(
            {"shard": [pdf[shard_col].iloc[0]], "tar": [buf.getvalue()]}
        )

    return entries.groupBy(shard_col).applyInPandas(
        build, "shard string, tar binary"
    )


def save_tar_shards(
    spark: SparkSession, tars: DataFrame, out_dir: str
) -> int:
    """Stream the ``(shard, tar)`` frame to ``<out_dir>/<shard>.tar``
    through the Hadoop FileSystem API (works for any supported
    scheme). One shard in driver memory at a time."""
    from utc_cuip_kafka_aws_connector_spark.operators.tableread import (
        _fs_and_path,
    )

    fs, base, jvm = _fs_and_path(spark, out_dir)
    fs.mkdirs(base)
    n = 0
    for row in tars.toLocalIterator():
        target = jvm.org.apache.hadoop.fs.Path(
            base, f"{row['shard']}.tar"
        )
        out = fs.create(target, True)
        try:
            out.write(bytearray(row["tar"]))
        finally:
            out.close()
        n += 1
    return n
