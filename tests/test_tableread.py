"""operators/tableread.py: the unified skipping read.

The load-bearing property: ONE caller-visible API, THREE stats
backends (txlog commit manifests / persisted skip manifest /
distributed footer harvest), identical rows from all of them — equal
to a plain full-scan filter — with pruning benefit observable where
the layout allows it.
"""

from __future__ import annotations

import json
import posixpath

import pytest
from pyspark.sql import functions as F

from utc_cuip_kafka_aws_connector_spark.operators import tableread
from utc_cuip_kafka_aws_connector_spark.operators.layout import write_clustered
from utc_cuip_kafka_aws_connector_spark.operators.tableread import (
    write_clustered_manifested,
)

BOX = {"x": (10, 25), "y": (40, 70)}


def _dims(spark, n=4000):
    return spark.range(n).select(
        F.col("id").alias("rid"),
        (F.col("id") % 97).alias("x"),
        ((F.col("id") * 7) % 101).alias("y"),
    )


def _expected(df):
    return sorted(
        map(
            tuple,
            df.filter(
                F.col("x").between(10, 25) & F.col("y").between(40, 70)
            ).collect(),
        )
    )


@pytest.fixture(scope="module")
def data(spark):
    return _dims(spark)


def test_all_three_backends_row_identical(spark, data, tmp_path_factory):
    want = _expected(data)
    assert want  # non-degenerate fixture

    # backend 1: plain clustered dir, cold footer harvest
    bare = str(tmp_path_factory.mktemp("tr") / "bare")
    write_clustered(data, bare, "x", "y", bits=7)
    got_bare = sorted(map(tuple, tableread.box_read(spark, bare, BOX).collect()))

    # backend 2: same layout + write-time skip manifest
    man = str(tmp_path_factory.mktemp("tr") / "manifested")
    write_clustered_manifested(data, man, "x", "y", bits=7)
    got_man = sorted(map(tuple, tableread.box_read(spark, man, BOX).collect()))

    # backend 3: transactional table (txlog commit manifest stats)
    from utc_cuip_kafka_aws_connector_spark.sources import txlog

    tx = str(tmp_path_factory.mktemp("tr") / "txtable")
    txlog.txn_append(data.repartitionByRange(8, "x"), tx, txn_id="t1")
    got_tx = sorted(map(tuple, tableread.box_read(spark, tx, BOX).collect()))

    assert got_bare == want
    assert got_man == want
    assert got_tx == want


def test_manifest_route_skips_the_footer_job(spark, data, tmp_path, monkeypatch):
    """With a persisted manifest, box_read must not harvest footers —
    the steady-state contract. Pinned by making the harvest explode."""
    path = str(tmp_path / "t")
    write_clustered_manifested(data, path, "x", "y", bits=7)
    monkeypatch.setattr(
        tableread,
        "harvest_stats",
        lambda *a, **k: (_ for _ in ()).throw(
            AssertionError("footer harvest ran despite manifest")
        ),
    )
    got = sorted(map(tuple, tableread.box_read(spark, path, BOX).collect()))
    assert got == _expected(data)


def test_pruning_reads_fewer_files_and_is_conservative(spark, data, tmp_path):
    path = str(tmp_path / "t")
    # the range shuffle makes one partition per core; cap rows per file
    # so the 4,000-row fixture lands in ~32 clustered files
    write_clustered_manifested(data, path, "x", "y", bits=7,
                               maxRecordsPerFile=125)
    total = len(tableread.list_data_files(spark, path))
    assert total >= 16
    out = tableread.box_read(spark, path, BOX)
    read_files = {f for f in out.inputFiles()}
    assert 0 < len(read_files) < total  # real benefit on a clustered layout
    assert sorted(map(tuple, out.collect())) == _expected(data)


def test_unknown_files_are_kept_not_pruned(spark, data, tmp_path):
    """A file on disk but missing from the manifest must be KEPT:
    stale manifests may cost I/O, never rows."""
    path = str(tmp_path / "t")
    write_clustered_manifested(data, path, "x", "y", bits=7)
    mpath = posixpath.join(path, tableread.SKIP_MANIFEST)
    manifest = json.loads(tableread._fs_read_text(spark, mpath))
    manifest["files"] = {}  # pretend every file is newer than the manifest
    # rewrite through the module's own writer (plain open() would
    # desync Hadoop LocalFileSystem's sidecar .crc checksum)
    tableread._fs_write_text(spark, mpath, json.dumps(manifest))
    out = tableread.box_read(spark, path, BOX)
    assert len(out.inputFiles()) == len(tableread.list_data_files(spark, path))
    assert sorted(map(tuple, out.collect())) == _expected(data)


def test_txlog_route_supports_time_travel(spark, tmp_path):
    from utc_cuip_kafka_aws_connector_spark.sources import txlog

    path = str(tmp_path / "t")
    v1_df = _dims(spark, 500)
    v1 = txlog.txn_append(v1_df, path, txn_id="a")
    txlog.txn_append(_dims(spark, 500).select(
        (F.col("rid") + 10_000).alias("rid"), "x", "y"
    ), path, txn_id="b")
    old = tableread.box_read(spark, path, BOX, version=v1)
    assert sorted(map(tuple, old.collect())) == _expected(v1_df)
    new = tableread.box_read(spark, path, BOX)
    assert new.count() == 2 * old.count()


def test_version_on_plain_dir_errors(spark, data, tmp_path):
    path = str(tmp_path / "t")
    write_clustered(data, path, "x", "y", bits=7)
    with pytest.raises(ValueError, match="transactional"):
        tableread.box_read(spark, path, BOX, version=3)


def test_hadoop_listing_matches_local_listing(spark, data, tmp_path):
    import os

    path = str(tmp_path / "t")
    write_clustered_manifested(data, path, "x", "y", bits=7)
    local = sorted(
        f for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    via_fs = [
        posixpath.basename(p) for p in tableread.list_data_files(spark, path)
    ]
    assert via_fs == local
    assert all(f != tableread.SKIP_MANIFEST for f in via_fs)


def test_empty_survivor_set_preserves_schema(spark, data, tmp_path):
    path = str(tmp_path / "t")
    write_clustered_manifested(data, path, "x", "y", bits=7)
    out = tableread.box_read(spark, path, {"x": (5000, 6000)})
    assert out.count() == 0
    assert out.columns == ["rid", "x", "y"]
