"""Property-based check: ANY log under ANY batching equals the oracle.

Hypothesis generates adversarial little logs (duplicate LSN redeliveries,
ts ties, conversation deletes interleaved with re-creations) and a random
batch split; the merged table must equal the dict-replay oracle. Few examples
(each spins Spark jobs) but with shrinking — regressions minimize themselves.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aqueduct_core_spark.lake.merge import merge_change_batch
from aqueduct_core_spark.lake.table import LakeTable
from aqueduct_core_spark.oracle import replay
from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
from aqueduct_core_spark.transcripts import read_transcripts

from tests.util import ev, events_df


@st.composite
def event_logs(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    events = []
    for lsn in range(1, n + 1):
        conv = f"c{draw(st.integers(0, 3))}"
        is_conv = draw(st.booleans()) and draw(st.booleans())  # ~25% conv-level
        op = draw(st.sampled_from(["I", "U", "D"]))
        t = draw(st.integers(0, 30))  # coarse ts -> frequent ties (lsn tiebreak)
        if is_conv:
            events.append(ev(lsn, op=op, entity="conversation", conv=conv, t=t))
        else:
            events.append(ev(lsn, op=op, conv=conv, turn=draw(st.integers(0, 2)), t=t))
        if draw(st.booleans()) and draw(st.booleans()):  # redelivery of the same event
            events.append(dict(events[-1]))
    cut = sorted(draw(st.sets(st.integers(1, max(1, len(events) - 1)), max_size=3)))
    return events, cut


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(event_logs())
def test_any_log_any_batching_equals_oracle(spark, tmp_path_factory, case):
    events, cuts = case
    d = str(tmp_path_factory.mktemp("prop"))
    table = LakeTable.create(
        spark, d, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id", n_buckets=4
    )
    bounds = [0] + [c for c in cuts if c < len(events)] + [len(events)]
    for i in range(len(bounds) - 1):
        chunk = events[bounds[i] : bounds[i + 1]]
        if chunk:
            merge_change_batch(table, events_df(spark, chunk), batch_id=i)
    got = [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()
    ]
    want = [(r["conv_id"], r["turn_idx"], r["text"]) for r in replay(events)]
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(event_logs(), st.data())
def test_mid_stream_range_compaction_preserves_oracle(spark, tmp_path_factory, case, data):
    """Folding deltas per bucket range at ANY point between batches (the
    parallel-maintenance path) must never change the resolved view: after
    every chunk a hypothesis-drawn bucket subset is compacted with a
    retention below all event times (fold-only — tombstones younger than
    retention are late-data-protected), then a final full compaction with
    future retention purges them; the table must equal the oracle throughout."""
    from datetime import datetime

    from aqueduct_core_spark.maintenance import compact_bucket_range, compact_table

    events, cuts = case
    d = str(tmp_path_factory.mktemp("propc"))
    table = LakeTable.create(
        spark, d, TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=4, properties={"merge_mode": "mor"},
    )
    bounds = [0] + [c for c in cuts if c < len(events)] + [len(events)]
    for i in range(len(bounds) - 1):
        chunk = events[bounds[i] : bounds[i + 1]]
        if chunk:
            merge_change_batch(table, events_df(spark, chunk), batch_id=i)
        if data.draw(st.booleans(), label=f"compact_after_{i}"):
            buckets = sorted(
                data.draw(
                    st.sets(st.integers(0, 3), min_size=1, max_size=4),
                    label=f"buckets_{i}",
                )
            )
            compact_bucket_range(table, datetime(1970, 1, 1), buckets=buckets)

    def view():
        return [
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in read_transcripts(table).orderBy("conv_id", "turn_idx").collect()
        ]

    want = [(r["conv_id"], r["turn_idx"], r["text"]) for r in replay(events)]
    assert view() == want
    compact_table(table, datetime(2030, 1, 1), keep_snapshots=1)  # purge aged tombstones
    assert view() == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(event_logs(), st.data())
def test_chained_consumer_equals_oracle_any_sync_points(
    spark, tmp_path_factory, case, data
):
    """A chained child syncing at ARBITRARY points between parent batches
    (including never until the end, and including a mid-stream parent
    compaction that folds the deltas the child has not read yet) must end
    equal to the parent and the oracle — the distribution-tree edge under
    adversarial interleavings."""
    from datetime import datetime

    from aqueduct_core_spark.maintenance import compact_table
    from aqueduct_core_spark.streaming.chain import ChainedConsumer

    events, cuts = case
    base = str(tmp_path_factory.mktemp("propch"))
    parent = LakeTable.create(
        spark, f"{base}/p", TRANSCRIPT_PHYSICAL_SCHEMA, bucket_key="conv_id",
        n_buckets=4, properties={"merge_mode": "mor"},
    )
    child = ChainedConsumer(spark, f"{base}/p", f"{base}/ch", n_buckets=4)
    bounds = [0] + [c for c in cuts if c < len(events)] + [len(events)]
    for i in range(len(bounds) - 1):
        chunk = events[bounds[i] : bounds[i + 1]]
        if chunk:
            merge_change_batch(parent, events_df(spark, chunk), batch_id=i)
        if data.draw(st.booleans(), label=f"sync_after_{i}"):
            child.sync_once()
        if data.draw(st.booleans(), label=f"parent_compact_{i}") and data.draw(
            st.booleans(), label=f"parent_compact2_{i}"
        ):
            # fold-only (retention below all ts), manifests kept for the child
            compact_table(parent, datetime(1970, 1, 1), keep_snapshots=100)
    child.run_until_caught_up()

    def view(t):
        return [
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in read_transcripts(t).orderBy("conv_id", "turn_idx").collect()
        ]

    want = [(r["conv_id"], r["turn_idx"], r["text"]) for r in replay(events)]
    assert view(parent) == want
    assert view(LakeTable(spark, f"{base}/ch")) == want
