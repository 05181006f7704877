"""Driver contract: flagship entry + per-operator queries + DuckDB oracle SQL.

The CDC operator family (SURVEY.md §2) is exercised over the driver's `events`
table under the mapping:
    msg_offset -> event_id      msg_key -> user_id      type -> event_type
    created_utc -> ts           tombstone -> event_type = 'error'
    routing_id -> user_id % 16  event_size -> length(props)
The training-pipeline family runs over `documents` / `embeddings`, and the
classic join/agg operators over the TPC-H-ish tables.

Parity rules (so the driver's value-hash comparison passes):
  * money/quantity aggregates go through DECIMAL(18,4) — exact + associative,
    immune to float summation-order differences between Spark and DuckDB;
  * cosine scores are computed as sequential float64 reductions on both sides
    (bit-identical given identical inputs), then rounded to 6;
  * timestamps leave queries as epoch-second BIGINTs (no tz representation
    drift); every computed column is aliased identically in both dialects.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aqueduct_core_spark.functions.similarity import ann_neardup_pairs, cosine
from aqueduct_core_spark.functions.text import lang_id, quality_score, fingerprint_md5, token_count
from aqueduct_core_spark.operators import compact_log, latest_deletes, lww_latest, read_page

# --- shared constants (keep Spark and SQL sides in lockstep) -----------------
COMPACT_TS = "2024-01-20 00:00:00"
DELETE_TS = "2024-01-10 00:00:00"
BEFORE_TS = "2024-01-15 00:00:00"
CONSISTENCY_LSN = 5000
PAGE_START, PAGE_END, PAGE_LIMIT, PAGE_BYTES = 100, 5000, 500, 20000
PAGE_TYPES = ["click", "view"]
ROUTING_SET = [1, 5, 11]
N_ROUTING = 16
SHIP_TS = "1998-09-02 00:00:00"
NEARDUP_T = 0.4
JACCARD_T = 0.9
TOKEN_DF_CAP = 256
MINHASH_T = 0.5
SIMHASH_HAMMING = 6
ANN_NBITS = 8
ANN_TABLES = 4
TOPK = 10
KNN_K = 5  # neighbors per vector in the k-NN graph
MIX_QUOTA = 40  # per-language quota in the quality mix
MEDIA_LIMIT = 120
MEDIA_DIM = 16


def _conf(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _t(name: str):
    def load(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    return load


def _is_delete():
    return F.col("event_type") == F.lit("error")


# ------------------------------------------------------------------ CDC family
def q_cdc_replay_final_state(spark, sf_dir):
    """Full-log LWW replay final state (reference: applied store after tailing
    the whole pipe; winner per key by (ts, lsn), tombstone winners absent)."""
    _conf(spark)
    # project before the aggregation: lww_latest's max_by struct carries every
    # input column, so the unused wide props payload would ride the agg
    # buffers and the exchange (guide §2.3; output unchanged)
    ev = _events(spark, sf_dir).select("user_id", "event_id", "event_type", "value", "ts")
    win = lww_latest(ev, key_cols=["user_id"], order_cols=["ts", "event_id"])
    return (
        win.filter(~_is_delete())
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.unix_timestamp("ts").alias("last_ts_epoch"),
        )
    )


def q_cdc_lww_latest_per_key(spark, sf_dir):
    _conf(spark)
    # project before the agg — see q_cdc_replay_final_state
    ev = _events(spark, sf_dir).select("user_id", "event_type", "event_id", "ts")
    win = lww_latest(ev, key_cols=["user_id", "event_type"], order_cols=["ts", "event_id"])
    return win.select("user_id", "event_type", F.col("event_id").alias("last_event_id"))


def q_cdc_compaction_survivors(spark, sf_dir):
    _conf(spark)
    # project before the window: compact_log's key-partition window would
    # otherwise shuffle the unused props/value payload (guide §2.3)
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "ts")
    out = compact_log(
        ev,
        compact_threshold_ts=COMPACT_TS,
        deletion_threshold_ts=DELETE_TS,
        key_cols=["user_id"],
        lsn="event_id",
        ts="ts",
        is_delete=_is_delete(),
    )
    return out.select("event_id", "user_id", "event_type")


def q_cdc_consistency_sum(spark, sf_dir):
    _conf(spark)
    ev = _events(spark, sf_dir).filter(F.col("event_id") <= CONSISTENCY_LSN)
    per_key = ev.groupBy("user_id").agg(
        F.max("event_id").alias("_max"),
        F.max_by(_is_delete(), F.col("event_id")).alias("_del"),
    )
    return per_key.filter(~F.col("_del")).agg(
        F.sum("_max").cast("long").alias("consistency_sum")
    )


def q_cdc_read_page(spark, sf_dir):
    _conf(spark)
    # compute the size, then drop the payload before the page sort/window
    ev = _events(spark, sf_dir).withColumn("event_size", F.length("props")).select(
        "event_id", "user_id", "event_type", "event_size"
    )
    page = read_page(
        ev,
        start_lsn=PAGE_START,
        end_lsn=PAGE_END,
        types=PAGE_TYPES,
        limit=PAGE_LIMIT,
        max_batch_bytes=PAGE_BYTES,
        lsn="event_id",
        type_col="event_type",
        size_col="event_size",
    )
    return page.select("event_id", "user_id", "event_type", "event_size")


def q_cdc_routing_filter(spark, sf_dir):
    _conf(spark)
    ev = _events(spark, sf_dir).withColumn(
        "routing_id", F.pmod(F.col("user_id"), F.lit(N_ROUTING))
    )
    return ev.filter(F.col("routing_id").isin(ROUTING_SET)).select(
        "event_id", "user_id", "routing_id"
    )


def q_cdc_count_by_type(spark, sf_dir):
    _conf(spark)
    return _events(spark, sf_dir).groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def q_cdc_max_offsets(spark, sf_dir):
    _conf(spark)
    ev = _events(spark, sf_dir)
    return ev.agg(
        F.max("event_id").alias("global_latest"),
        F.max(F.when(F.col("event_type").isin(PAGE_TYPES), F.col("event_id"))).alias(
            "max_for_types"
        ),
        F.max(F.when(F.col("ts") <= F.lit(BEFORE_TS).cast("timestamp"), F.col("event_id"))).alias(
            "max_before_ts"
        ),
    )


def q_cdc_latest_deletes(spark, sf_dir):
    _conf(spark)
    ev = _events(spark, sf_dir)
    return latest_deletes(
        ev, COMPACT_TS, key_cols=["user_id"], lsn="event_id", ts="ts", is_delete=_is_delete()
    ).select("user_id", "last_delete_lsn")


def q_cdc_lineage_watermarks(spark, sf_dir):
    _conf(spark)
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.pmod(F.col("user_id"), F.lit(N_ROUTING)).alias("partition_id"))
        .agg(F.max("event_id").alias("high_watermark_lsn"))
    )


def q_cdc_hourly_rollup(spark, sf_dir):
    _conf(spark)
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


# ------------------------------------------------------------------ OLAP family
def q_olap_pricing_summary(spark, sf_dir):
    _conf(spark)
    li = _t("lineitem")(spark, sf_dir)
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit(SHIP_TS).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_olap_top_nations_revenue(spark, sf_dir):
    """Star join with broadcast dimensions: revenue by nation."""
    _conf(spark)
    li, orders = _t("lineitem")(spark, sf_dir), _t("orders")(spark, sf_dir)
    cust, nat = _t("customer")(spark, sf_dir), _t("nation")(spark, sf_dir)
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q_olap_priority_semijoin(spark, sf_dir):
    """Semi-join (EXISTS) order-priority count."""
    _conf(spark)
    li, orders = _t("lineitem")(spark, sf_dir), _t("orders")(spark, sf_dir)
    big = li.filter(F.col("l_quantity") > 45).select("l_orderkey").distinct()
    return (
        orders.join(big, orders["o_orderkey"] == big["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_cdc_mark_sweep_survivors(spark, sf_dir):
    """Postgres deletion compaction (mark TTL from latest unstamped tombstone
    at/below the threshold, sweep expired) over the events log — the J3
    family's full operator (PostgresqlStorage.java:469-488). The events table
    has no pre-stamped TTLs and cluster==routing, so survivors = rows above
    their key's latest in-window tombstone; the oracle expresses exactly
    that."""
    _conf(spark)
    from aqueduct_core_spark.operators.cdc_log import mark_and_sweep_deletions

    ev = _events(spark, sf_dir).withColumn(
        "cluster_id", F.pmod(F.col("user_id"), F.lit(N_ROUTING))
    ).withColumn("routing_id", F.pmod(F.col("user_id"), F.lit(N_ROUTING))).select(
        # project before the mark join: props/value never reach the output
        "event_id", "user_id", "event_type", "ts", "cluster_id", "routing_id"
    )
    out = mark_and_sweep_deletions(
        ev,
        deletion_threshold_ts=DELETE_TS,
        now_ts=COMPACT_TS,
        key_cols=["user_id"],
        lsn="event_id",
        ts="ts",
        is_delete=_is_delete(),
        cluster_col="cluster_id",
        routing_col="routing_id",
    )
    return out.select("event_id", "user_id", "event_type")


def q_cdc_visibility_window(spark, sf_dir):
    """Visibility-bounded read (reference T2/F2: reads never pass the global
    latest offset published at a time threshold;
    PostgresqlStorageIntegrationSpec.groovy:884-900)."""
    _conf(spark)
    ev = _events(spark, sf_dir)
    watermark = ev.filter(F.col("ts") <= F.lit(BEFORE_TS).cast("timestamp")).agg(
        F.max("event_id")
    ).collect()[0][0]
    return ev.filter(F.col("event_id") <= int(watermark)).agg(
        F.count(F.lit(1)).alias("n_visible"),
        F.max("event_id").alias("visible_latest"),
    )


_CHAINQ_ROOTS: list[str] = []


def _chainq_scratch() -> str:
    """Scratch root for the chained-consumer query's parent/child tables.
    The returned DataFrame reads them lazily, so they must survive the call —
    an atexit sweep reclaims them at process exit instead of leaking one
    tempdir per bench/correctness invocation."""
    import atexit
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="aq_chainq_")
    if not _CHAINQ_ROOTS:
        atexit.register(
            lambda: [shutil.rmtree(r, ignore_errors=True) for r in _CHAINQ_ROOTS]
        )
    _CHAINQ_ROOTS.append(root)
    return root


def q_cdc_chained_consumer(spark, sf_dir):
    """End-to-end chained-pipe equality: the events log is mapped onto the
    transcript change-feed shape, merged into a PARENT lake table in two
    commits, and a CHILD table tails the parent's changelog
    (`ChainedConsumer` over `read_changes` version intervals — the
    reference's distribution tree: registry-core/.../SubNodeGroup.java:53-65
    builds the tree, pipe-http-client/.../HttpPipeClient.java:36-63 is the
    child's tail loop). Returned: the child's live transcript view, which the
    oracle recomputes as a plain LWW resolution over the same derived feed —
    so the whole write→changelog→child-merge→resolved-read path is
    hash-gated, not just unit-tested.

    Scale shape: each child sync is a manifest walk (O(commits in the
    interval), driver-side JSON) plus a bucket-local merge of only the
    interval's delta files — independent of table size."""
    _conf(spark)
    from aqueduct_core_spark.lake.merge import merge_change_batch
    from aqueduct_core_spark.lake.table import LakeTable
    from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
    from aqueduct_core_spark.streaming.chain import ChainedConsumer
    from aqueduct_core_spark.transcripts import read_transcripts

    ev = _events(spark, sf_dir)
    feed = ev.select(
        F.col("event_id").cast("long").alias("change_lsn"),
        F.when(_is_delete(), F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.lit("turn").alias("entity"),
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.pmod(F.col("event_id"), F.lit(40)).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat(
            F.col("event_type"), F.lit("#"), F.col("event_id").cast("string")
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
        F.pmod(F.col("user_id"), F.lit(N_ROUTING)).cast("long").alias("routing_id"),
        F.lit(None).cast("int").alias("event_size"),
    )
    mid = int(feed.agg(F.max("change_lsn")).collect()[0][0]) // 2  # scalar watermark
    # temp roots must outlive this call (the returned DataFrame reads them
    # lazily) but not the process: reclaimed at interpreter exit
    root = _chainq_scratch()
    parent = LakeTable.create(
        spark,
        f"{root}/parent",
        TRANSCRIPT_PHYSICAL_SCHEMA,
        bucket_key="conv_id",
        n_buckets=8,
        properties={"merge_mode": "mor"},
    )
    child = ChainedConsumer(spark, f"{root}/parent", f"{root}/child", n_buckets=8)
    merge_change_batch(parent, feed.filter(F.col("change_lsn") <= mid), batch_id=1)
    child.run_until_caught_up()  # interval 1 applied from the changelog
    merge_change_batch(parent, feed.filter(F.col("change_lsn") > mid), batch_id=2)
    child.run_until_caught_up()  # interval 2 applied incrementally
    out = read_transcripts(LakeTable(spark, f"{root}/child"))
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def q_cdc_replay_spec_evolution(spark, sf_dir):
    """Bucket-spec evolution end-to-end: the derived change feed replays into
    a MOR lake table in two commits with a LIVE partition-spec evolution
    (n_buckets 4 -> 8, `LakeTable.evolve_bucketing` — Iceberg partition-spec
    evolution analog: metadata-only, no data movement) between them, then a
    bounded `migrate_spec_files` pass rewrites SOME old-spec files so the
    final read crosses base/delta files in BOTH layouts plus migrated ones —
    the mixed-state LWW resolution, row-level bucket scoping, and
    no-changelog-re-emission machinery all under one hash gate. The oracle is
    layout-blind: plain LWW over the same feed (physical layout must never
    change query results)."""
    _conf(spark)
    from aqueduct_core_spark.lake.merge import merge_change_batch
    from aqueduct_core_spark.lake.table import LakeTable
    from aqueduct_core_spark.maintenance import migrate_spec_files
    from aqueduct_core_spark.schema import TRANSCRIPT_PHYSICAL_SCHEMA
    from aqueduct_core_spark.transcripts import read_transcripts

    ev = _events(spark, sf_dir)
    feed = ev.select(
        F.col("event_id").cast("long").alias("change_lsn"),
        F.when(_is_delete(), F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.lit("turn").alias("entity"),
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.pmod(F.col("event_id"), F.lit(40)).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat(
            F.col("event_type"), F.lit("#"), F.col("event_id").cast("string")
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
        F.pmod(F.col("user_id"), F.lit(N_ROUTING)).cast("long").alias("routing_id"),
        F.lit(None).cast("int").alias("event_size"),
    )
    mid = int(feed.agg(F.max("change_lsn")).collect()[0][0]) // 2
    root = _chainq_scratch()
    t = LakeTable.create(
        spark,
        f"{root}/evolved",
        TRANSCRIPT_PHYSICAL_SCHEMA,
        bucket_key="conv_id",
        n_buckets=4,
        properties={"merge_mode": "mor"},
    )
    merge_change_batch(t, feed.filter(F.col("change_lsn") <= mid), batch_id=1)
    t.evolve_bucketing(8)
    merge_change_batch(t, feed.filter(F.col("change_lsn") > mid), batch_id=2)
    migrate_spec_files(t, max_files=1)  # partial: table stays mixed-spec
    out = read_transcripts(LakeTable(spark, f"{root}/evolved"))
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def q_olap_segment_stats(spark, sf_dir):
    _conf(spark)
    cust = _t("customer")(spark, sf_dir)
    return cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double").alias("sum_acctbal"),
    )


def q_text_top_bigrams(spark, sf_dir):
    """Corpus n-gram stats: top-20 token bigrams by document frequency
    (distinct per doc; count desc, bigram asc)."""
    _conf(spark)
    from aqueduct_core_spark.functions.text import shingle_array, tokens

    docs = _t("documents")(spark, sf_dir)
    toked = docs.select(tokens(F.col("text")).alias("toks")).filter(F.size("toks") >= 2)
    bigrams = toked.select(F.explode(shingle_array(F.col("toks"), 2)).alias("bigram"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.col("bigram"))
        .limit(20)
    )


# ------------------------------------------------------------ text/dedup family
def q_text_token_counts(spark, sf_dir):
    _conf(spark)
    docs = _t("documents")(spark, sf_dir)
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        token_count(F.col("text"), "bpe").alias("n_bpe_tokens"),
    )


def q_text_lang_quality(spark, sf_dir):
    _conf(spark)
    docs = _t("documents")(spark, sf_dir)
    return docs.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_pred"),
        quality_score(F.col("text")).alias("quality"),
    )


def q_dataset_quality_mix(spark, sf_dir):
    """Quality-weighted stratified corpus mix: top MIX_QUOTA docs per
    predicted language by quality score (ties by doc_id) — the deterministic
    mixing step of a training-data pipeline. Declarative rank<=k over a
    window so Spark's WindowGroupLimit keeps at most k rows per group
    upstream of the sort (skew-safe under a dominant language; plan pinned
    in tests/test_pipeline.py)."""
    _conf(spark)
    from aqueduct_core_spark.pipeline import top_k_per_group

    docs = _t("documents")(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        lang_id(F.col("text")).alias("lang_pred"),
        quality_score(F.col("text")).alias("quality"),
    )
    return top_k_per_group(
        scored,
        ["lang_pred"],
        [F.desc("quality"), F.col("doc_id")],
        MIX_QUOTA,
        rank_col="mix_rank",
    )


def q_text_fingerprint(spark, sf_dir):
    _conf(spark)
    docs = _t("documents")(spark, sf_dir)
    return docs.select("doc_id", fingerprint_md5(F.col("text")).alias("fingerprint"))


def q_dedup_exact_digests(spark, sf_dir):
    _conf(spark)
    docs = _t("documents")(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("digest"))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id"))
    )


def q_dedup_token_jaccard(spark, sf_dir):
    """Exact token-set Jaccard pairs WITH the document-frequency guard (drop
    tokens in > TOKEN_DF_CAP docs — the anti-cartesian-bomb cap the scale
    path requires); the oracle applies the identical cap."""
    _conf(spark)
    from aqueduct_core_spark.functions.dedup import token_jaccard_pairs

    docs = _t("documents")(spark, sf_dir)
    return token_jaccard_pairs(docs, threshold=JACCARD_T, max_doc_freq=TOKEN_DF_CAP)


def q_dedup_components(spark, sf_dir):
    """Corpus-level dedup decision: connected components over the token-Jaccard
    near-dup pair graph (transitive closure — A~B, B~C collapse to ONE cluster
    even when A!~C), every doc assigned its min-id representative plus cluster
    size. Spark side: iterative min-label propagation with pointer jumping
    (functions/dedup.py connected_components); oracle side: DuckDB recursive
    CTE transitive closure over the identical pair set."""
    _conf(spark)
    from aqueduct_core_spark.functions.dedup import dedup_assignments, token_jaccard_pairs

    docs = _t("documents")(spark, sf_dir)
    pairs = token_jaccard_pairs(docs, threshold=JACCARD_T, max_doc_freq=TOKEN_DF_CAP)
    return dedup_assignments(docs, pairs).select("doc_id", "rep_id", "cluster_size")


def q_ann_cosine_topk(spark, sf_dir):
    _conf(spark)
    emb = _t("embeddings")(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    q = F.array(*[F.lit(float(x)) for x in qvec])
    scored = emb.select(
        "vec_id",
        F.round(cosine(F.col("embedding").cast("array<double>"), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.col("vec_id")).limit(TOPK)


def q_ann_neardup_exact(spark, sf_dir):
    _conf(spark)
    emb = _t("embeddings")(spark, sf_dir)
    n = emb.select(F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v"))
    a, b = n.alias("a"), n.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEARDUP_T)
    )


def q_ann_components(spark, sf_dir):
    """Embedding near-dup clusters: connected components over the cosine
    near-dup pair graph, every vector assigned its min-id representative —
    the collapse step a training-data pipeline runs after pair generation
    (transitive near-dups A~B~C fold to ONE keep decision even when A!~C).
    Pair generation here is the exact all-pairs baseline (the documented
    oracle form; the scale path feeds the same component algorithm from
    LSH-verified pairs). Oracle: DuckDB recursive-CTE transitive closure."""
    _conf(spark)
    from aqueduct_core_spark.functions.dedup import dedup_assignments

    emb = _t("embeddings")(spark, sf_dir)
    n = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    a, b = n.alias("a"), n.alias("b")
    pairs = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEARDUP_T)
    )
    vecs = emb.select("vec_id")
    return dedup_assignments(vecs, pairs, id_col="vec_id").select(
        "vec_id", "rep_id", "cluster_size"
    )


def q_ann_knn_graph(spark, sf_dir):
    """k-NN graph: each vector's KNN_K nearest neighbors by cosine (ties by
    neighbor id) — the precursor of graph-based ANN indexes and of
    embedding-cluster analyses. Exact all-pairs scoring as the oracle
    baseline; rank<=k stays declarative so WindowGroupLimit keeps at most k
    candidates per source vector upstream of the sort (the scale path swaps
    the all-pairs scorer for IVF/LSH candidate generation and keeps this
    exact top-k head)."""
    _conf(spark)
    from aqueduct_core_spark.pipeline import top_k_per_group

    emb = _t("embeddings")(spark, sf_dir)
    n = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").cast("array<double>").alias("v")
    )
    a, b = n.alias("a"), n.alias("b")
    scored = a.join(b, F.col("a.id") != F.col("b.id")).select(
        F.col("a.id").alias("src"),
        F.col("b.id").alias("nbr"),
        F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
    )
    return top_k_per_group(
        scored, ["src"], [F.desc("cosine"), F.col("nbr")], KNN_K, rank_col="nn_rank"
    )


# --------------------------------------- scale paths, each with an exact oracle
def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs, exact-verified: banded candidates (the
    near-linear scale path — no all-pairs join) re-checked against exact
    distinct-shingle Jaccard, so the emitted set equals the all-pairs answer
    whenever the bands catch every true pair (p_miss < 1e-8 per pair at
    J >= 0.7 with 16 bands x 2 rows). The oracle twin computes the exact
    all-pairs shingle Jaccard."""
    _conf(spark)
    from aqueduct_core_spark.functions.dedup import minhash_lsh_verified_pairs

    docs = _t("documents")(spark, sf_dir)
    return minhash_lsh_verified_pairs(
        docs, num_hashes=32, shingle_n=3, bands=16, threshold=MINHASH_T
    )


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs with GUARANTEED recall: 8 bands over 64 bits >
    max_hamming 6, so pigeonhole makes the banded join lossless — the output
    is exactly the all-pairs hamming <= 6 set, which the oracle twin computes
    from the identical md5-derived simhash words. fat_bucket_cap is the
    exactness-preserving scale guard: over-common band buckets are joined on
    a second matching band (every hamming<=6 pair shares >= 2 of 8 bands), so
    in-bucket work stays subquadratic without changing the output (measured
    at sf1: 147 s -> see BENCH.md)."""
    _conf(spark)
    from aqueduct_core_spark.functions.dedup import simhash_near_pairs_words, simhash_words

    docs = _t("documents")(spark, sf_dir)
    return simhash_near_pairs_words(
        simhash_words(docs),
        max_hamming=SIMHASH_HAMMING,
        bands=8,
        max_bucket_size=None,
        fat_bucket_cap=64,
    )


def q_ann_neardup_lsh(spark, sf_dir):
    """Multi-table hyperplane-LSH near-dup pairs, exact-cosine verified.
    Deterministic in the fixed hyperplanes (seed 42), so the oracle twin
    embeds the SAME constants and reproduces the bucketing + verification
    exactly — the gate checks the LSH semantics themselves, not a recall
    approximation."""
    _conf(spark)
    emb = _t("embeddings")(spark, sf_dir)
    return ann_neardup_pairs(
        emb, dim=64, threshold=NEARDUP_T, nbits=ANN_NBITS, n_tables=ANN_TABLES, seed=42
    )


def q_ann_neardup_lsh_auto(spark, sf_dir):
    """Production path of q_ann_neardup_lsh: nbits/n_tables are AUTO-SIZED
    in-engine from a cheap corpus count (auto_lsh_size: nbits =
    max(8, ceil(log2(n/32))), one extra table per extra bit). At sf0.01 the
    500-vector corpus resolves to exactly the pinned (nbits=8, n_tables=4),
    so the same constant-embedding DuckDB twin gates the auto path
    hash-exact; at sf1 scale the auto path picks more buckets and stays
    near-linear (tests/test_similarity_autosize.py proves output equality
    with strictly fewer candidate pairs)."""
    _conf(spark)
    emb = _t("embeddings")(spark, sf_dir)
    return ann_neardup_pairs(emb, dim=64, threshold=NEARDUP_T, seed=42)


def q_dataset_user_history(spark, sf_dir):
    """Conversation-pack analog on the events log: each user's event-type
    history concatenated in LSN order (stable-ordering aggregation — the same
    plan shape as pipeline.pack_conversations)."""
    _conf(spark)
    ev = _events(spark, sf_dir)
    item = F.struct(F.col("event_id"), F.col("event_type"))
    return (
        ev.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(item)).alias("_h"))
        .select(
            "user_id",
            F.array_join(F.transform("_h", lambda s: s["event_type"]), ">").alias("history"),
            F.size("_h").alias("n_events"),
        )
    )


def q_dataset_shard_plan(spark, sf_dir):
    """Token-budgeted shard planning over documents via the DISTRIBUTED
    prefix-sum planner (chunked range partitions + broadcast offsets — no
    Exchange SinglePartition); the oracle twin is the equivalent single
    global-window SQL."""
    _conf(spark)
    from aqueduct_core_spark.pipeline import plan_shards

    docs = _t("documents")(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return plan_shards(docs, tokens_per_shard=2000, order_col="doc_id", n_chunks=8)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN scale path: train centroids on a cheap hash-ordered sample,
    probe the 6 nearest of 8 inverted lists (real pruning — 1/4 of the corpus
    skipped). The oracle twin is the EXACT top-k: on this near-uniform
    synthetic corpus nprobe=6 recovers it exactly (verified; nprobe=4 recall
    >= 0.9 is pinned in pytest), so the gate checks that pruned search still
    finds the true neighbors."""
    _conf(spark)
    from aqueduct_core_spark.functions.ivf import assign_lists, ivf_topk, train_centroids

    emb = _t("embeddings")(spark, sf_dir)
    cents = train_centroids(emb, n_centroids=8, sample_size=1024, seed=42)
    indexed = assign_lists(emb, cents)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    return ivf_topk(indexed, cents, [float(x) for x in qvec], k=TOPK, nprobe=6)


def q_ann_ivf_batch_topk(spark, sf_dir):
    """Batched IVF: MANY query vectors answered in ONE pass (per-query probe
    lists broadcast-joined on ivf_list, window top-k per query) — what a real
    pipeline runs instead of one job per query. Oracle = exact per-query
    top-k."""
    _conf(spark)
    from aqueduct_core_spark.functions.ivf import assign_lists, ivf_topk_batch, train_centroids

    emb = _t("embeddings")(spark, sf_dir)
    cents = train_centroids(emb, n_centroids=8, sample_size=1024, seed=42)
    indexed = assign_lists(emb, cents)
    queries = emb.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk_batch(indexed, cents, queries, k=TOPK, nprobe=7)


def q_multimodal_features(spark, sf_dir):
    """Multimodal feature plumbing over REAL Arrow-resident binary payloads
    (media derived deterministically from the documents table): n_bytes is
    measured from the payload bytes inside mapInPandas; the oracle twin
    recomputes every output column from the source table."""
    _conf(spark)
    from aqueduct_core_spark.functions.multimodal import extract_features, media_from_documents

    docs = _t("documents")(spark, sf_dir)
    media = media_from_documents(docs, limit=MEDIA_LIMIT)
    feats = extract_features(media, dim=MEDIA_DIM)
    return feats.select("media_id", "kind", "n_bytes", F.size("features").alias("dim"))


# The fixture-media contract queries: documents -> one media fixture
# (functions.multimodal.MEDIA_FIXTURES, where each container is described)
# -> decode_real_summary, or frame_sample over the fixture's container, every
# 2nd frame md5'd.
# Each oracle twin recomputes every column from the source table; the
# frame-sample twins regenerate the (doc x frame_idx) lattice with a lateral
# unnest. Reference analog: binary payloads flow opaque (PipeCodec, msg_data).
MULTIMODAL_FIXTURES = {
    "multimodal_decode_real": ("wav_ppm", None),
    "multimodal_decode_jpeg": ("jpeg", None),
    "multimodal_decode_jpeg_color": ("jpeg_color", None),
    "multimodal_decode_jpeg420": ("jpeg420", None),
    "multimodal_decode_jpeg_progressive": ("jpeg_progressive", None),
    "multimodal_decode_png": ("png", None),
    "multimodal_decode_png_adam7": ("png_adam7", None),
    "multimodal_decode_gif": ("gif", None),
    "multimodal_gif_frame_sample": ("gif", "gif"),
    "multimodal_decode_g711": ("g711", None),
    "multimodal_decode_mp4": ("mp4", None),
    "multimodal_mp4_frame_sample": ("mp4", "mp4"),
    "multimodal_decode_mp3": ("mp3", None),
}


def _fixture_query(fixture: str, frames_of: str | None):
    def q(spark, sf_dir):
        _conf(spark)
        # imported lazily: the headline suite never loads the codecs
        from aqueduct_core_spark.functions import multimodal

        docs = _t("documents")(spark, sf_dir)
        media = multimodal.docs_to_media(docs, fixture, limit=MEDIA_LIMIT)
        if frames_of is None:
            return multimodal.decode_real_summary(media)
        return multimodal.frame_sample(media, frames_of, every_n=2).select(
            "media_id", "frame_idx", F.md5(F.col("frame_bytes")).alias("frame_md5")
        )

    return q


# =============================================================================
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full-log LWW replay final state at sf0.001."""
    return q_cdc_replay_final_state(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_replay_final_state": q_cdc_replay_final_state,
        "cdc_lww_latest_per_key": q_cdc_lww_latest_per_key,
        "cdc_compaction_survivors": q_cdc_compaction_survivors,
        "cdc_consistency_sum": q_cdc_consistency_sum,
        "cdc_read_page": q_cdc_read_page,
        "cdc_routing_filter": q_cdc_routing_filter,
        "cdc_count_by_type": q_cdc_count_by_type,
        "cdc_max_offsets": q_cdc_max_offsets,
        "cdc_latest_deletes": q_cdc_latest_deletes,
        "cdc_lineage_watermarks": q_cdc_lineage_watermarks,
        "cdc_hourly_rollup": q_cdc_hourly_rollup,
        "cdc_visibility_window": q_cdc_visibility_window,
        "cdc_mark_sweep_survivors": q_cdc_mark_sweep_survivors,
        "cdc_chained_consumer": q_cdc_chained_consumer,
        "cdc_replay_spec_evolution": q_cdc_replay_spec_evolution,
        "olap_segment_stats": q_olap_segment_stats,
        "text_top_bigrams": q_text_top_bigrams,
        "olap_pricing_summary": q_olap_pricing_summary,
        "olap_top_nations_revenue": q_olap_top_nations_revenue,
        "olap_priority_semijoin": q_olap_priority_semijoin,
        "text_token_counts": q_text_token_counts,
        "text_lang_quality": q_text_lang_quality,
        "dataset_quality_mix": q_dataset_quality_mix,
        "text_fingerprint": q_text_fingerprint,
        "dedup_exact_digests": q_dedup_exact_digests,
        "dedup_token_jaccard": q_dedup_token_jaccard,
        "dedup_components": q_dedup_components,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_neardup_exact": q_ann_neardup_exact,
        "ann_components": q_ann_components,
        "ann_knn_graph": q_ann_knn_graph,
        "dataset_user_history": q_dataset_user_history,
        "dataset_shard_plan": q_dataset_shard_plan,
        # scale paths — verified against exact / constant-replicating oracles
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "ann_neardup_lsh": q_ann_neardup_lsh,
        "ann_neardup_lsh_auto": q_ann_neardup_lsh_auto,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_ivf_batch_topk": q_ann_ivf_batch_topk,
        "multimodal_features": q_multimodal_features,
        **{
            name: _fixture_query(fixture, frames_of)
            for name, (fixture, frames_of) in MULTIMODAL_FIXTURES.items()
        },
    }


# =============================================================================
_TOKEN_SQL = "'[a-z0-9'']+'"
_BPE_SQL = "'[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]+'"
_PUNCT_SQL = "'[.,;:!?''\"()\\[\\]{}-]'"
_STOP = {
    "en": "the|and|of|to|in|is|you|that|it|for",
    "es": "el|la|de|que|y|los|en|un|por|con",
    "de": "der|die|und|das|ist|nicht|ein|ich|mit|sie",
    "fr": "le|la|les|et|des|un|une|est|que|pour",
}


def _stop_sql(lang: str) -> str:
    return f"len(regexp_extract_all(lower(text), '\\b({_STOP[lang]})\\b'))"


def _simhash_pairs_sql() -> str:
    """Exact all-pairs twin of q_dedup_simhash_pairs: the identical md5-hex
    simhash (two 32-bit words) in pure ANSI SQL, then every pair with hamming
    <= SIMHASH_HAMMING. Matches because the Spark banded join is lossless
    (bands > max_hamming, pigeonhole)."""

    def bit(j: int) -> str:
        return (
            f"(((position(substr(m, {j // 4 + 1}, 1) IN '0123456789abcdef') - 1)"
            f" >> {j % 4}) & 1)"
        )

    sums = ", ".join(
        f"sum(CASE WHEN {bit(j)} = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(64)
    )
    lo = " + ".join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(32))
    hi = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << (j - 32)} ELSE 0 END)" for j in range(32, 64)
    )
    ham = "bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))"
    return f"""
        WITH tok AS (
            SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), {_TOKEN_SQL})) AS tok
            FROM documents),
        h AS (SELECT id, md5(tok) AS m FROM tok),
        bits AS (SELECT id, {sums} FROM h GROUP BY id),
        sim AS (SELECT id, CAST({hi} AS BIGINT) AS hi, CAST({lo} AS BIGINT) AS lo FROM bits)
        SELECT a.id AS id_a, b.id AS id_b, CAST({ham} AS INTEGER) AS hamming
        FROM sim a JOIN sim b ON a.id < b.id
        WHERE {ham} <= {SIMHASH_HAMMING}
    """


def _minhash_pairs_sql() -> str:
    """Exact all-pairs distinct-3-shingle Jaccard twin of q_dedup_minhash_lsh
    (docs with >= 3 tokens; same shingle construction as text.shingle_array)."""
    j = "round(shared / CAST(sa.sz + sb.sz - shared AS DOUBLE), 6)"
    return f"""
        WITH toked AS (
            SELECT doc_id, regexp_extract_all(lower(text), {_TOKEN_SQL}) AS toks
            FROM documents),
        ok AS (SELECT doc_id, toks FROM toked WHERE len(toks) >= 3),
        sh AS (
            SELECT doc_id AS id,
                   unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
            FROM ok),
        sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
        shared AS (
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
            GROUP BY a.id, b.id)
        SELECT id_a, id_b, {j} AS jaccard
        FROM shared
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE {j} >= {MINHASH_T}
    """


def _ann_lsh_sql() -> str:
    """Twin of q_ann_neardup_lsh: reproduces the multi-table hyperplane
    bucketing with the SAME constants (lsh_hyperplanes seed 42) as literal
    arrays, then exact-cosine verification — byte-exact on the fixed parquet
    because both sides compute sign(dot) over identical doubles."""
    from aqueduct_core_spark.functions.similarity import lsh_hyperplanes

    H = lsh_hyperplanes(64, ANN_NBITS, ANN_TABLES, seed=42)

    def dot(t: int, j: int) -> str:
        arr = "[" + ",".join(repr(float(x)) for x in H[t][j]) + "]"
        return (
            f"list_reduce(list_transform(list_zip(embedding, {arr}), "
            f"s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a, b) -> a + b)"
        )

    bucket_cols = ", ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN {dot(t, j)} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(ANN_NBITS)
        )
        + f" AS BIGINT) AS bk{t}"
        for t in range(ANN_TABLES)
    )
    share = " OR ".join(f"a.bk{t} = b.bk{t}" for t in range(ANN_TABLES))
    return f"""
        WITH bk AS (SELECT vec_id, embedding, {bucket_cols} FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_cos_sql('a.embedding', 'b.embedding')} AS cosine
        FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND ({share})
        WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {NEARDUP_T}
    """


def _cos_sql(vec_a: str, vec_b: str) -> str:
    dot = (
        f"list_reduce(list_transform(list_zip({vec_a}, {vec_b}), "
        f"s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (a, b) -> a + b)"
    )
    na = f"sqrt(list_reduce(list_transform({vec_a}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b))"
    nb = f"sqrt(list_reduce(list_transform({vec_b}, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)), (a,b) -> a+b))"
    return f"round({dot} / ({na} * {nb}), 6)"


def oracle_sql() -> dict[str, str]:
    lang_counts = {k: _stop_sql(k) for k in ("en", "es", "de", "fr")}
    best = f"greatest({lang_counts['en']}, {lang_counts['es']}, {lang_counts['de']}, {lang_counts['fr']})"
    lang_case = (
        f"CASE WHEN {best} <= 0 THEN 'und' "
        f"WHEN {lang_counts['en']} = {best} THEN 'en' "
        f"WHEN {lang_counts['es']} = {best} THEN 'es' "
        f"WHEN {lang_counts['de']} = {best} THEN 'de' "
        f"ELSE 'fr' END"
    )
    ntok = f"len(regexp_extract_all(lower(text), {_TOKEN_SQL}))"
    uniq = f"len(list_distinct(regexp_extract_all(lower(text), {_TOKEN_SQL})))"
    npunct = f"len(regexp_extract_all(text, {_PUNCT_SQL}))"
    quality = (
        f"round(0.3 * least(length(text) / 500.0, 1.0) "
        f"+ 0.3 * least({_stop_sql('en')} / greatest({ntok}, 1) * 4.0, 1.0) "
        f"+ 0.2 * (CASE WHEN {ntok} > 0 THEN {uniq} / CAST({ntok} AS DOUBLE) ELSE 0.0 END) "
        f"+ 0.2 * (1.0 - least({npunct} / greatest(length(text), 1) * 10.0, 1.0)), 6)"
    )
    fingerprint = (
        "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))"
    )
    return {
        "cdc_replay_final_state": f"""
            SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
                   value AS last_value, CAST(floor(epoch(ts)) AS BIGINT) AS last_ts_epoch
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
                  FROM events) t
            WHERE rn = 1 AND event_type <> 'error'
        """,
        "cdc_lww_latest_per_key": """
            SELECT user_id, event_type, event_id AS last_event_id
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) rn
                  FROM events) t
            WHERE rn = 1
        """,
        "cdc_compaction_survivors": f"""
            SELECT event_id, user_id, event_type FROM events e
            WHERE NOT (ts <= TIMESTAMP '{COMPACT_TS}'
                       AND event_id <> (SELECT max(event_id) FROM events e2
                                        WHERE e2.user_id = e.user_id AND e2.ts <= TIMESTAMP '{COMPACT_TS}'))
              AND NOT (event_type = 'error' AND ts <= TIMESTAMP '{DELETE_TS}')
        """,
        "cdc_consistency_sum": f"""
            SELECT CAST(sum(mx) AS BIGINT) AS consistency_sum FROM (
                SELECT user_id, max(event_id) AS mx,
                       arg_max(event_type = 'error', event_id) AS del
                FROM events WHERE event_id <= {CONSISTENCY_LSN} GROUP BY user_id) t
            WHERE NOT del
        """,
        "cdc_read_page": f"""
            SELECT event_id, user_id, event_type, event_size FROM (
                SELECT *, sum(event_size) OVER (ORDER BY event_id) AS running FROM (
                    SELECT event_id, user_id, event_type, length(props) AS event_size
                    FROM events
                    WHERE event_id >= {PAGE_START} AND event_id <= {PAGE_END}
                      AND event_type IN ('click', 'view')
                    ORDER BY event_id LIMIT {PAGE_LIMIT}) p) q
            WHERE running < {PAGE_BYTES}
        """,
        "cdc_routing_filter": f"""
            SELECT event_id, user_id, user_id % {N_ROUTING} AS routing_id FROM events
            WHERE user_id % {N_ROUTING} IN (1, 5, 11)
        """,
        "cdc_count_by_type": "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
        "cdc_max_offsets": f"""
            SELECT max(event_id) AS global_latest,
                   max(CASE WHEN event_type IN ('click','view') THEN event_id END) AS max_for_types,
                   max(CASE WHEN ts <= TIMESTAMP '{BEFORE_TS}' THEN event_id END) AS max_before_ts
            FROM events
        """,
        "cdc_latest_deletes": f"""
            SELECT user_id, max(event_id) AS last_delete_lsn FROM events
            WHERE event_type = 'error' AND ts <= TIMESTAMP '{COMPACT_TS}'
            GROUP BY user_id
        """,
        "cdc_lineage_watermarks": f"""
            SELECT user_id % {N_ROUTING} AS partition_id, max(event_id) AS high_watermark_lsn
            FROM events GROUP BY user_id % {N_ROUTING}
        """,
        "cdc_hourly_rollup": """
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "cdc_mark_sweep_survivors": f"""
            SELECT e.event_id, e.user_id, e.event_type FROM events e
            LEFT JOIN (
                SELECT user_id, max(event_id) AS last_del FROM events
                WHERE event_type = 'error' AND ts <= TIMESTAMP '{DELETE_TS}'
                GROUP BY user_id) d
            ON d.user_id = e.user_id
            WHERE d.last_del IS NULL OR e.event_id > d.last_del
        """,
        "cdc_visibility_window": f"""
            SELECT count(*) AS n_visible, max(event_id) AS visible_latest
            FROM events
            WHERE event_id <= (SELECT max(event_id) FROM events
                               WHERE ts <= TIMESTAMP '{BEFORE_TS}')
        """,
        "cdc_chained_consumer": """
            WITH feed AS (
                SELECT event_id AS change_lsn,
                       (event_type = 'error') AS is_del,
                       'c' || CAST(user_id AS VARCHAR) AS conv_id,
                       CAST(event_id % 40 AS INTEGER) AS turn_idx,
                       event_type AS role,
                       event_type || '#' || CAST(event_id AS VARCHAR) AS text,
                       ts
                FROM events),
            win AS (
                SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                             ORDER BY ts DESC, change_lsn DESC) rn
                FROM feed)
            SELECT conv_id, turn_idx, role, text,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
            FROM win WHERE rn = 1 AND NOT is_del
        """,
        "cdc_replay_spec_evolution": """
            WITH feed AS (
                SELECT event_id AS change_lsn,
                       (event_type = 'error') AS is_del,
                       'c' || CAST(user_id AS VARCHAR) AS conv_id,
                       CAST(event_id % 40 AS INTEGER) AS turn_idx,
                       event_type AS role,
                       event_type || '#' || CAST(event_id AS VARCHAR) AS text,
                       ts
                FROM events),
            win AS (
                SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
                                             ORDER BY ts DESC, change_lsn DESC) rn
                FROM feed)
            SELECT conv_id, turn_idx, role, text,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
            FROM win WHERE rn = 1 AND NOT is_del
        """,
        "olap_segment_stats": """
            SELECT c_mktsegment, count(*) AS n_customers,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_acctbal
            FROM customer GROUP BY c_mktsegment
        """,
        "text_top_bigrams": f"""
            WITH toked AS (
                SELECT regexp_extract_all(lower(text), {_TOKEN_SQL}) AS toks
                FROM documents
                WHERE len(regexp_extract_all(lower(text), {_TOKEN_SQL})) >= 2),
            bigrams AS (
                SELECT unnest(list_distinct(
                    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
                )) AS bigram FROM toked)
            SELECT bigram, count(*) AS n_docs FROM bigrams
            GROUP BY bigram ORDER BY n_docs DESC, bigram LIMIT 20
        """,
        "olap_pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                       AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '{SHIP_TS}'
            GROUP BY l_returnflag, l_linestatus
        """,
        "olap_top_nations_revenue": """
            SELECT n_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                       AS revenue,
                   count(*) AS n_lineitems
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "olap_priority_semijoin": """
            SELECT o_orderpriority, count(*) AS n_orders FROM orders
            WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
            GROUP BY o_orderpriority
        """,
        "text_token_counts": f"""
            SELECT doc_id, len(regexp_extract_all(lower(text), {_TOKEN_SQL})) AS n_tokens,
                   len(regexp_extract_all(text, {_BPE_SQL})) AS n_bpe_tokens
            FROM documents
        """,
        "text_lang_quality": f"""
            SELECT doc_id, {lang_case} AS lang_pred, {quality} AS quality FROM documents
        """,
        "dataset_quality_mix": f"""
            SELECT doc_id, lang_pred, quality, mix_rank FROM (
                SELECT doc_id, {lang_case} AS lang_pred, {quality} AS quality,
                       row_number() OVER (PARTITION BY {lang_case}
                                          ORDER BY {quality} DESC, doc_id) AS mix_rank
                FROM documents) t
            WHERE mix_rank <= {MIX_QUOTA}
        """,
        "text_fingerprint": f"SELECT doc_id, {fingerprint} AS fingerprint FROM documents",
        "dedup_exact_digests": """
            SELECT md5(text) AS digest, count(*) AS n_dups, min(doc_id) AS keep_id
            FROM documents GROUP BY md5(text)
        """,
        "dedup_token_jaccard": f"""
            WITH tok0 AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(regexp_extract_all(lower(text), {_TOKEN_SQL}))) AS tok
                FROM documents),
            rare AS (SELECT tok FROM tok0 GROUP BY tok HAVING count(*) <= {TOKEN_DF_CAP}),
            tok AS (SELECT t.id, t.tok FROM tok0 t JOIN rare USING (tok)),
            sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
            shared AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
                FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
                GROUP BY a.id, b.id)
            SELECT id_a, id_b,
                   round(shared / CAST(sa.sz + sb.sz - shared AS DOUBLE), 6) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE round(shared / CAST(sa.sz + sb.sz - shared AS DOUBLE), 6) >= {JACCARD_T}
        """,
        "dedup_components": f"""
            WITH RECURSIVE tok0 AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(regexp_extract_all(lower(text), {_TOKEN_SQL}))) AS tok
                FROM documents),
            rare AS (SELECT tok FROM tok0 GROUP BY tok HAVING count(*) <= {TOKEN_DF_CAP}),
            tok AS (SELECT t.id, t.tok FROM tok0 t JOIN rare USING (tok)),
            sizes AS (SELECT id, count(*) AS sz FROM tok GROUP BY id),
            shared AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared
                FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
                GROUP BY a.id, b.id),
            pairs AS (
                SELECT id_a, id_b FROM shared
                JOIN sizes sa ON sa.id = id_a
                JOIN sizes sb ON sb.id = id_b
                WHERE round(shared / CAST(sa.sz + sb.sz - shared AS DOUBLE), 6) >= {JACCARD_T}),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
                SELECT a AS src, b AS dst FROM edges
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
            labels AS (
                SELECT src AS doc_id, least(src, min(dst)) AS rep_id
                FROM reach GROUP BY src),
            asgn AS (
                SELECT d.doc_id, coalesce(l.rep_id, d.doc_id) AS rep_id
                FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)
            SELECT doc_id, rep_id,
                   count(*) OVER (PARTITION BY rep_id) AS cluster_size
            FROM asgn
        """,
        "dataset_user_history": """
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY event_id) AS history,
                   count(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "dataset_shard_plan": f"""
            SELECT doc_id, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) / 2000.0) AS INT)
                       AS shard_id
            FROM (SELECT doc_id, len(regexp_extract_all(lower(text), {_TOKEN_SQL})) AS n_tokens
                  FROM documents) t
        """,
        "ann_cosine_topk": f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, {_cos_sql('embedding', '(SELECT qe FROM q)')} AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id LIMIT {TOPK}
        """,
        "ann_neardup_exact": f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_cos_sql('a.embedding', 'b.embedding')} AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {NEARDUP_T}
        """,
        "ann_components": f"""
            WITH RECURSIVE pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {NEARDUP_T}),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach AS (
                SELECT a AS src, b AS dst FROM edges
                UNION
                SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
            labels AS (
                SELECT src AS vec_id, least(src, min(dst)) AS rep_id
                FROM reach GROUP BY src),
            asgn AS (
                SELECT v.vec_id, coalesce(l.rep_id, v.vec_id) AS rep_id
                FROM embeddings v LEFT JOIN labels l ON l.vec_id = v.vec_id)
            SELECT vec_id, rep_id,
                   count(*) OVER (PARTITION BY rep_id) AS cluster_size
            FROM asgn
        """,
        "ann_knn_graph": f"""
            SELECT src, nbr, cosine, nn_rank FROM (
                SELECT a.vec_id AS src, b.vec_id AS nbr,
                       {_cos_sql('a.embedding', 'b.embedding')} AS cosine,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_cos_sql('a.embedding', 'b.embedding')} DESC,
                                    b.vec_id) AS nn_rank
                FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id) t
            WHERE nn_rank <= {KNN_K}
        """,
        "dedup_minhash_lsh": _minhash_pairs_sql(),
        "dedup_simhash_pairs": _simhash_pairs_sql(),
        "ann_neardup_lsh": _ann_lsh_sql(),
        # auto-sized path: at sf0.01 (500 vectors) auto_lsh_size resolves to
        # the pinned (nbits=8, n_tables=4), so the same constant twin applies
        "ann_neardup_lsh_auto": _ann_lsh_sql(),
        "ann_ivf_topk": f"""
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id, {_cos_sql('embedding', '(SELECT qe FROM q)')} AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id LIMIT {TOPK}
        """,
        "ann_ivf_batch_topk": f"""
            WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                       FROM embeddings WHERE vec_id IN (0, 1, 2)),
            scored AS (
                SELECT q.query_id, e.vec_id,
                       {_cos_sql('e.embedding', 'q.qe')} AS cosine
                FROM embeddings e CROSS JOIN q),
            ranked AS (
                SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, vec_id) AS rank
                FROM scored)
            SELECT query_id, vec_id, cosine, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= {TOPK}
        """,
        "multimodal_features": f"""
            SELECT doc_id AS media_id,
                   CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
                   {MEDIA_DIM} AS dim
            FROM documents WHERE doc_id < {MEDIA_LIMIT}
        """,
        # WAV samples / PPM pixels ARE the text bytes, so every decoded field
        # is recomputable from the source table; content_md5 gates the decoded
        # byte stream itself (md5(text) == md5 of UTF-8 bytes in both engines)
        "multimodal_decode_real": f"""
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'image' END AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_units,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 255 END AS INTEGER) AS rate,
                   CAST(CASE WHEN doc_id % 2 = 0
                        THEN octet_length(encode(text)) * 1000 // 16000
                        ELSE 1 END AS INTEGER) AS duration_ms,
                   md5(text) AS content_md5
            FROM documents WHERE doc_id < {MEDIA_LIMIT}
        """,
        # each text byte is one 8x8 block of a one-block-row grayscale JPEG:
        # n_units = blocks = byte count, width = 8*bytes, height = 8; the
        # decoder's recovered block bytes must md5 back to the source text
        "multimodal_decode_jpeg": f"""
            SELECT doc_id AS media_id,
                   'image' AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_units,
                   CAST(8 * octet_length(encode(text)) AS INTEGER) AS rate,
                   CAST(8 AS INTEGER) AS duration_ms,
                   md5(text) AS content_md5
            FROM documents WHERE doc_id < {MEDIA_LIMIT}
        """,
        # color + restart-interval stream: each text byte is one interleaved
        # YCbCr MCU, so the frame geometry is identical to the grayscale
        # builder and the decoded Y plane must md5 back to the source text
        "multimodal_decode_jpeg_color": f"""
            SELECT doc_id AS media_id,
                   'image' AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_units,
                   CAST(8 * octet_length(encode(text)) AS INTEGER) AS rate,
                   CAST(8 AS INTEGER) AS duration_ms,
                   md5(text) AS content_md5
            FROM documents WHERE doc_id < {MEDIA_LIMIT}
        """,
        # 4:2:0 stream: each text byte is one 16x16 six-block MCU, so
        # n_units = MCUs = byte count, width = 16*bytes, height = 16; the
        # decoded Y plane at MCU stride must md5 back to the source text
        "multimodal_decode_jpeg420": f"""
            SELECT doc_id AS media_id,
                   'image' AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_units,
                   CAST(16 * octet_length(encode(text)) AS INTEGER) AS rate,
                   CAST(16 AS INTEGER) AS duration_ms,
                   md5(text) AS content_md5
            FROM documents WHERE doc_id < {MEDIA_LIMIT}
        """,
        # progressive stream: same one-block-row frame geometry as the
        # grayscale builder (each text byte one 8x8 block), rendered across
        # six SA scans; the accumulated-coefficient decode must md5 back
        "multimodal_decode_jpeg_progressive": f"""
            SELECT doc_id AS media_id,
                   'image' AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_units,
                   CAST(8 * octet_length(encode(text)) AS INTEGER) AS rate,
                   CAST(8 AS INTEGER) AS duration_ms,
                   md5(text) AS content_md5
            FROM documents WHERE doc_id < {MEDIA_LIMIT}
        """,
        # PNG: the text bytes are FIVE identical scanlines (one per filter
        # type), so content_md5 covers all rows -> md5 of the text repeated;
        # width = byte count, height = 5. Same twin gates the Adam7 entry:
        # interlacing must be a pure pixel re-ordering.
        "multimodal_decode_png": f"""
            SELECT doc_id AS media_id,
                   'image' AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_units,
                   CAST(octet_length(encode(text)) AS INTEGER) AS rate,
                   CAST(5 AS INTEGER) AS duration_ms,
                   md5(repeat(text, 5)) AS content_md5
            FROM documents WHERE doc_id < {MEDIA_LIMIT}
        """,
        "multimodal_decode_png_adam7": f"""
            SELECT doc_id AS media_id,
                   'image' AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_units,
                   CAST(octet_length(encode(text)) AS INTEGER) AS rate,
                   CAST(5 AS INTEGER) AS duration_ms,
                   md5(repeat(text, 5)) AS content_md5
            FROM documents WHERE doc_id < {MEDIA_LIMIT}
        """,
        # 3 frames x 4 rows, every frame's composited canvas == the text bytes
        "multimodal_decode_gif": f"""
            SELECT doc_id AS media_id,
                   'video' AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_units,
                   CAST(3 AS INTEGER) AS rate,
                   CAST(4 AS INTEGER) AS duration_ms,
                   md5(repeat(text, 12)) AS content_md5
            FROM documents WHERE doc_id < {MEDIA_LIMIT}
        """,
        # G.711 A-law at 8 kHz: the code bytes ARE the text; the summary
        # re-compresses the decoded int16 samples, so md5(text) gates both
        # companding directions
        "multimodal_decode_g711": f"""
            SELECT doc_id AS media_id,
                   'audio' AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_units,
                   CAST(8000 AS INTEGER) AS rate,
                   CAST(octet_length(encode(text)) * 1000 // 8000 AS INTEGER)
                       AS duration_ms,
                   md5(text) AS content_md5
            FROM documents WHERE doc_id < {MEDIA_LIMIT}
        """,
        # 3 MP4 samples, each = the text bytes; duration 3 x 40 ms at the
        # 1 kHz timescale
        "multimodal_decode_mp4": f"""
            SELECT doc_id AS media_id,
                   'video' AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_units,
                   CAST(3 AS INTEGER) AS rate,
                   CAST(120 AS INTEGER) AS duration_ms,
                   md5(repeat(text, 3)) AS content_md5
            FROM documents WHERE doc_id < {MEDIA_LIMIT}
        """,
        # 3 free-format MP3 frames, each frame's data = the text bytes;
        # duration 3 x 1152 samples at 32 kHz = 108 ms
        "multimodal_decode_mp3": f"""
            SELECT doc_id AS media_id,
                   'audio' AS kind,
                   CAST(octet_length(encode(text)) AS INTEGER) AS n_units,
                   CAST(32000 AS INTEGER) AS rate,
                   CAST(108 AS INTEGER) AS duration_ms,
                   md5(repeat(text, 3)) AS content_md5
            FROM documents WHERE doc_id < {MEDIA_LIMIT}
        """,
        # every-2nd of 3 MP4 samples -> the (doc x {{0,2}}) lattice; each
        # sampled frame's bytes ARE the text
        "multimodal_mp4_frame_sample": f"""
            SELECT d.doc_id AS media_id,
                   CAST(g.f AS INTEGER) AS frame_idx,
                   md5(d.text) AS frame_md5
            FROM documents d
            CROSS JOIN (SELECT unnest([0, 2]) AS f) g
            WHERE d.doc_id < {MEDIA_LIMIT}
        """,
        # every-2nd of 3 frames -> the (doc x {{0,2}}) lattice; each sampled
        # frame is 4 rows of the text bytes
        "multimodal_gif_frame_sample": f"""
            SELECT d.doc_id AS media_id,
                   CAST(g.f AS INTEGER) AS frame_idx,
                   md5(repeat(d.text, 4)) AS frame_md5
            FROM documents d
            CROSS JOIN (SELECT unnest([0, 2]) AS f) g
            WHERE d.doc_id < {MEDIA_LIMIT}
        """,
    }
