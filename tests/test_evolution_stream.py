"""Schema evolution through the RUNNING engine (evolve-then-write, BASELINE
requirement): a stream applies batches under schema v1, the table evolves (add
column + widen), and subsequent batches carry the new column — old rows read
as NULL, resume still works."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from aqueduct_core_spark.lake.table import LakeTable
from aqueduct_core_spark.lake.merge import merge_change_batch
from aqueduct_core_spark.streaming.engine import IngestEngine
from aqueduct_core_spark.transcripts import read_transcripts

from tests.util import ev, events_df


def evolved_schema(old):
    fields = []
    for f in old.fields:
        if f.name == "turn_idx":
            fields.append(StructField("turn_idx", LongType(), True))
        else:
            fields.append(f)
    fields.insert(6, StructField("model", StringType(), True))
    return StructType(fields)


def test_mid_stream_evolution(spark, tmp_path):
    feed1, feed2 = str(tmp_path / "f1"), str(tmp_path / "f2")
    events_df(spark, [ev(i, conv=f"c{i}", turn=0) for i in range(1, 9)]).write.parquet(feed1)

    eng = IngestEngine(spark, str(tmp_path / "tbl"), str(tmp_path / "ckpt"),
                       n_buckets=4, merge_mode="mor")
    eng.run(feed1, max_files_per_trigger=4)
    table = LakeTable(spark, eng.table_root)
    assert read_transcripts(table).count() == 8

    # evolve-then-write: ALTER the table, then feed batches with the new column
    table.evolve_schema(evolved_schema(table.current().schema()))
    batch2 = events_df(
        spark, [ev(100 + i, conv=f"d{i}", turn=0) for i in range(3)]
    ).withColumn("model", F.lit("m-9"))
    batch2.write.parquet(feed2)
    # same engine+checkpoint continues over the second feed directory
    eng2 = IngestEngine(spark, eng.table_root, str(tmp_path / "ckpt2"),
                        n_buckets=4, merge_mode="mor")
    eng2.run(feed2, max_files_per_trigger=4)

    out = read_transcripts(table).orderBy("conv_id").collect()
    assert len(out) == 11
    models = {r["conv_id"]: r["model"] for r in out}
    assert models["c1"] is None and models["d1"] == "m-9"
    assert table.current().schema()["turn_idx"].dataType.typeName() == "long"


def test_evolution_batch_without_new_column_still_applies(spark, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "t"),
        __import__("aqueduct_core_spark.schema", fromlist=["x"]).TRANSCRIPT_PHYSICAL_SCHEMA,
        bucket_key="conv_id", n_buckets=4,
    )
    merge_change_batch(table, events_df(spark, [ev(1, conv="A", turn=0)]), batch_id=0)
    table.evolve_schema(evolved_schema(table.current().schema()))
    # a producer that has not learned the new column yet keeps working
    merge_change_batch(table, events_df(spark, [ev(2, conv="B", turn=0)]), batch_id=1)
    out = read_transcripts(table).orderBy("conv_id").collect()
    assert [r["model"] for r in out] == [None, None]
