"""HadoopFS: the cluster-parity control plane, exercised over file://.

LocalFS is the sandbox default; HadoopFS drives the org.apache.hadoop.fs
FileSystem API through Spark's JVM gateway — the exact interface an
s3a:// / hdfs:// deployment resolves per path URI. These tests prove
(a) the seam contract holds method-by-method against the Hadoop API, and
(b) the WHOLE lake engine (create -> merge -> compact -> expire) runs
unchanged with set_fs(HadoopFS), coherently listing the data files Spark's
own Hadoop writers produced.

Reference analog: tesco/aqueduct's storage is Postgres-backed
(PostgresqlStorage.java); this repo's lake replaces it with object-store
manifests, so the FS seam is where deployment storage fidelity lives.
"""

from __future__ import annotations

import random
from datetime import datetime

import pytest

from aqueduct_core_spark.lake.fsio import (
    HadoopFS,
    LocalFS,
    RetryingFS,
    get_fs,
    set_fs,
)
from aqueduct_core_spark.maintenance import compact_table
from aqueduct_core_spark.lake.merge import merge_change_batch
from aqueduct_core_spark.lake.table import LakeTable
from aqueduct_core_spark.oracle import replay
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
from aqueduct_core_spark.transcripts import read_transcripts

from tests.util import ev, events_df


@pytest.fixture()
def hfs(spark):
    return HadoopFS(spark)


@pytest.fixture()
def hadoop_control_plane(spark):
    """Install RetryingFS(HadoopFS) process-wide; restore after — the exact
    composition a cluster deployment would configure."""
    orig = get_fs()
    set_fs(RetryingFS(HadoopFS(spark), attempts=3, base_delay_s=0.0, sleep=lambda s: None))
    try:
        yield
    finally:
        set_fs(orig)


# ---------------------------------------------------------------- contract


def test_publish_if_absent_cas_contract(hfs, tmp_path):
    path = str(tmp_path / "m" / "v0000000001.json")
    hfs.makedirs(str(tmp_path / "m"))
    hfs.publish_if_absent('{"v": 1}', path)
    assert hfs.read_text(path) == '{"v": 1}'
    with pytest.raises(FileExistsError):
        hfs.publish_if_absent('{"v": "loser"}', path)
    assert hfs.read_text(path) == '{"v": 1}'  # loser never overwrites


def test_listing_and_removal(hfs, tmp_path):
    root = str(tmp_path / "t")
    hfs.makedirs(root + "/a/b")
    hfs.publish_if_absent("x", root + "/a/one.txt")
    hfs.publish_if_absent("y", root + "/a/b/two.txt")
    assert hfs.exists(root + "/a/one.txt") and hfs.isdir(root + "/a")
    assert not hfs.isdir(root + "/a/one.txt")
    assert sorted(hfs.listdir(root + "/a")) == ["b", "one.txt"]
    walked = sorted(hfs.walk_files(root))
    assert walked == sorted([root + "/a/one.txt", root + "/a/b/two.txt"])
    # no .crc side files from the local checksum wrapper (raw FS unwrap)
    assert not [f for f in walked if f.endswith(".crc")]
    hfs.remove(root + "/a/one.txt")
    assert not hfs.exists(root + "/a/one.txt")
    with pytest.raises(FileNotFoundError):
        hfs.remove(root + "/a/one.txt")
    with pytest.raises(FileNotFoundError):
        hfs.listdir(root + "/missing")
    hfs.rmtree(root)
    assert not hfs.exists(root)
    hfs.rmtree(root)  # absent -> no-op, like LocalFS


def test_parquet_footer_matches_local_fs(spark, hfs, tmp_path):
    """The ranged-tail footer read must decode the identical stats LocalFS
    gets from a full-file open."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "part.parquet")
    b = [(i * 7) % 13 for i in range(1000) if i % 250 != 3]
    pq.write_table(
        pa.table(
            {
                "k": list(range(1000)),
                "s": [f"row-{i:04d}" for i in range(1000)],
                "b": b + [None] * 4,
            }
        ),
        path,
        row_group_size=256,  # several row groups -> exercises stat folding
    )
    assert hfs.parquet_footer(path) == LocalFS().parquet_footer(path)
    # a column's exact per-value row counts (a delta file's buckets and their
    # rows), read over every row group's chunk by ranged reads past the tail
    local = LocalFS().parquet_footer(path, "b")
    assert local["values"] == {v: b.count(v) for v in sorted(set(b))}
    assert hfs.parquet_footer(path, "b") == local
    small = HadoopFS(spark)
    small._TAIL_BYTES = 64  # footer-only tail: the column chunks are fetched
    assert small.parquet_footer(path, "b") == local
    assert RetryingFS(hfs).parquet_footer(path, "b") == local


# ---------------------------------------------------------------- end-to-end


def _feed(n=200, seed=11):
    rng = random.Random(seed)
    out = []
    for lsn in range(1, n + 1):
        conv = f"c{rng.randrange(8)}"
        if rng.random() < 0.06:
            out.append(ev(lsn, op=rng.choice(["I", "D"]), entity="conversation",
                          conv=conv, t=lsn))
        else:
            out.append(ev(lsn, op=rng.choice(["I", "U", "U", "D"]), conv=conv,
                          turn=rng.randrange(5), t=lsn))
    return out


def test_lake_lifecycle_on_hadoop_control_plane(spark, tmp_path, hadoop_control_plane):
    """create -> 4 MOR merges -> compact -> expire_snapshots, all through the
    Hadoop API, final state hash-equal to the oracle replay. The manifests
    HadoopFS publishes must coherently reference the parquet files Spark's own
    committer wrote (one storage view, two client stacks)."""
    events = _feed()
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=4, properties={"merge_mode": "mor"},
    )
    for i in range(0, 200, 50):
        merge_change_batch(table, events_df(spark, events[i : i + 50]), batch_id=i)
    expected = [(r["conv_id"], r["turn_idx"], r["text"]) for r in replay(events)]

    def visible():
        return [
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()
        ]

    assert visible() == expected
    compact_table(table, datetime(2030, 1, 1), keep_snapshots=1)
    assert visible() == expected  # fold through the Hadoop plane is lossless
    table.expire_snapshots(keep_last=1)
    assert visible() == expected
    fs = get_fs()
    assert all(fs.exists(f["path"]) for f in table.current().files)
    # manifest-stat footer reads (file skipping) came through the ranged path
    assert table.current().files, "compaction must leave live files"
