"""Deduplication family: exact, token-Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB):
  * exact:         one hash-groupBy shuffle on a 32-char digest — minimal width.
  * token Jaccard: explode distinct tokens -> self-equijoin on token -> count;
                   quadratic only within identical-token groups (the oracle path
                   for small SF; LSH is the scale path).
  * MinHash+LSH:   signatures via per-seed min over exploded shingles (pure
                   JVM aggregates, no UDF), banded into buckets; candidate pairs
                   only within a bucket -> near-linear.
  * SimHash:       64 ±1 sums over exploded md5 token hashes, reassembled into
                   two 32-bit words (exact DuckDB twin); hamming-near pairs
                   via a pigeonhole-lossless band join.

Every banded candidate search (MinHash, SimHash, similarity's hyperplane
LSH) goes through one self-join, _band_pairs.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aqueduct_core_spark.functions.text import tokens


# ------------------------------------------------------------------ exact
def exact_duplicate_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized-exact) documents: md5(text) -> ids."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative per exact-content group."""
    w_digest = F.md5(F.col(text_col))
    keep = (
        df.select(F.col(id_col).alias("_id"), w_digest.alias("digest"))
        .groupBy("digest")
        .agg(F.min("_id").alias("keep_id"))
    )
    return df.join(
        keep, (w_digest == keep["digest"]) & (F.col(id_col) == keep["keep_id"]), "inner"
    ).select(df["*"])


# ------------------------------------------------------------------ jaccard
def token_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with Jaccard similarity of distinct token sets >= t.

    Exact (no approximation): explode distinct tokens, self-join on token,
    count shared tokens, |A u B| = |A| + |B| - shared. Output columns:
    (id_a, id_b, jaccard).

    max_doc_freq is the scale guard: a token present in k documents produces
    k^2 rows in the self-join, so ONE stopword-like token surviving
    tokenization across a billion docs is a cartesian bomb. Tokens with
    document frequency > max_doc_freq are dropped from the token SETS (both
    the join and the set sizes — "stopword-free Jaccard"), the same
    rationale as the LSH paths' max_bucket_size. Pass None for the unguarded
    small-SF/oracle form.
    """
    tok = (
        df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"))
    )
    if max_doc_freq is not None:
        rare = (
            tok.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("tok")
        )
        tok = tok.join(rare, "tok", "left_semi")
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = tok.alias("a")
    b = tok.alias("b")
    shared = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------------ banding
def _band_pairs(
    table: DataFrame,
    keys: list[str],
    max_bucket_size: int | None = None,
    where: Column | None = None,
    *cols: Column,
) -> DataFrame:
    """The band self-join every LSH path shares: pairs of rows of `table`
    (one row per id and band) equal on every `keys` column, with a.id < b.id
    and the optional `where` over the a./b. aliases. Output (id_a, id_b,
    *cols); callers dedup pairs that share several bands.

    max_bucket_size drops over-common buckets (a key value shared by more
    than N rows): such buckets are low-signal (stopword-like shingles) and
    quadratic to expand — the standard production guard that keeps LSH
    near-linear under adversarial corpora. None keeps every bucket.

    Both join sides are the whole banded table, so the join is forced to
    shuffled-hash: broadcast-building one full side measured 6.3s vs 1.6s on
    the SimHash join at sf1 (guide §3.1), and at scale a side could never
    broadcast. The bucket-count semi-join is left to the planner (AQE
    broadcasts it when small; at 100 TB the count side can be huge)."""
    if max_bucket_size is not None:
        ok = (
            table.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select(*keys)
        )
        table = table.join(ok, keys, "left_semi")
    table = table.hint("shuffle_hash")
    a, b = table.alias("a"), table.alias("b")
    cond = reduce(operator.and_, [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys])
    cond = cond & (F.col("a.id") < F.col("b.id"))
    if where is not None:
        cond = cond & where
    return a.join(b, cond).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), *cols)


# ------------------------------------------------------------------ minhash
def _minhash(shingles: DataFrame, num_hashes: int) -> DataFrame:
    """(id, sh) rows -> (id, sig array<long>): for seed s, the min over the
    document's shingles of xxhash64(sh, s). Pure JVM aggregates, no UDF."""
    mins = [F.min(F.xxhash64(F.col("sh"), F.lit(s))).alias(f"h{s}") for s in range(num_hashes)]
    return shingles.groupBy("id").agg(*mins).select(
        "id", F.array(*[F.col(f"h{s}") for s in range(num_hashes)]).alias("sig")
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 32,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signature per document (see _minhash). Output: (id, sig).

    Tokens are materialized as a column before shingling (see
    text.shingle_array for why), and the input is repartitioned first:
    document tables often arrive as one parquet row group (one task) and
    shingling is the expensive per-row stage."""
    from aqueduct_core_spark.functions.text import shingle_array

    spread = df.sparkSession.sparkContext.defaultParallelism
    ex = (
        df.repartition(spread)
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks"))
        .select("id", F.explode(shingle_array(F.col("_toks"), shingle_n)).alias("sh"))
    )
    return _minhash(ex, num_hashes)


def lsh_candidate_pairs(
    sig_df: DataFrame,
    bands: int = 8,
    max_bucket_size: int | None = 256,
    *,
    n_hashes: int,
) -> DataFrame:
    """Band the (id, sig) signatures into buckets; pairs (id_a, id_b) sharing
    any band-bucket are candidates, to be verified by the caller.
    Near-linear: the only shuffles are the band-bucket join and the pair
    dedup — no all-pairs comparison ever materializes. max_bucket_size is
    the over-common-bucket guard of _band_pairs.

    n_hashes is the signature length, split into `bands` bands of
    n_hashes // bands positions. A signature of any other length fails the
    query instead of being banded wrong.

    Runs an eager Spark job (the banded table is localCheckpoint-ed) and
    holds its executor blocks until the result is garbage-collected."""
    if not 1 <= bands <= n_hashes:
        raise ValueError(f"need 1 <= bands <= n_hashes; got bands={bands}, n_hashes={n_hashes}")
    rows_per_band = n_hashes // bands
    # its own projection, so the length check runs once per row, not per band
    checked = sig_df.select(
        "id",
        F.when(F.size("sig") == n_hashes, F.col("sig"))
        .otherwise(F.raise_error(F.lit(f"signature length != n_hashes={n_hashes}")))
        .alias("sig"),
    )
    banded = checked.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.array_join(
                            F.transform(
                                F.slice("sig", b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                            ",",
                        )
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    # The signature pipeline (explode shingles + N min-aggs) is expensive and
    # feeds the bucket-count side and both self-join sides. Materialize ONCE,
    # eagerly: a lazy persist() lets those branches race cache population
    # inside one job and recompute the upstream pipeline per branch (measured
    # 2x+ at sf1).
    banded = banded.localCheckpoint(eager=True)
    return _band_pairs(banded, ["band", "bucket"], max_bucket_size).dropDuplicates(["id_a", "id_b"])


def minhash_lsh_verified_pairs(
    df: DataFrame,
    num_hashes: int = 32,
    shingle_n: int = 3,
    bands: int = 16,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = 256,
) -> DataFrame:
    """MinHash-LSH candidates VERIFIED with exact shingle-set Jaccard.

    The production near-dup shape: candidate generation is the near-linear
    banded LSH (no all-pairs join ever materializes), then only the candidate
    pairs — a vanishing fraction of all pairs — are re-checked against their
    exact distinct-shingle Jaccard. Output (id_a, id_b, jaccard) contains no
    false positives by construction; recall is governed by the band/row
    choice (bands=16 over 32 hashes → rows=2: a pair at Jaccard s survives
    with p = 1-(1-s^2)^16, >0.999999 for s >= 0.7).

    Only documents with >= shingle_n tokens participate (shorter docs have no
    full shingle) — mirrored by the ANSI oracle twin.

    Perf notes (r6, guide §2.5/§4 — output unchanged):
      * document tables often arrive as ONE parquet row group (one scan task),
        and the size(_toks) filter inlines the tokenize expression and pushes
        it below the repartition INTO that single-task scan — so the whole
        regex tokenize ran serially (measured 3.5s of the 9.6s query at sf1).
        The eager localCheckpoint right after the repartition+tokenize is a
        pushdown barrier: tokenize runs once, spread across cores, and the
        filter/shingle stages read the materialized arrays;
      * shingling itself is cheap (~0.1s at sf1), so the checkpoint replaces
        the shs persist() (branches re-shingle from the checkpoint instead of
        racing a lazy cache).

    Runs eager Spark jobs (the tokenize barrier and the banded table) and
    holds their executor blocks until the result is garbage-collected."""
    from aqueduct_core_spark.functions.text import shingle_array

    spread = df.sparkSession.sparkContext.defaultParallelism
    toked = (
        df.repartition(spread)
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks"))
        .localCheckpoint(eager=True)
        .filter(F.size("_toks") >= shingle_n)
    )
    shs = toked.select("id", shingle_array(F.col("_toks"), shingle_n).alias("shs"))
    sigs = _minhash(shs.select("id", F.explode("shs").alias("sh")), num_hashes)
    cands = lsh_candidate_pairs(
        sigs, bands=bands, max_bucket_size=max_bucket_size, n_hashes=num_hashes
    )
    # Verification joins: the shingle-set side is heavy (O(corpus) rows of
    # ~KB arrays) while the candidate-pair side is light, so force a
    # shuffled-hash join instead of letting the planner broadcast-build two
    # multi-MB set relations (guide §3.1; measured at sf1: 194k candidates
    # vs 50k x ~1KB sets, verification 2.6s BHJ -> 0.9s SHJ, and at 100 TB
    # the set side could never broadcast anyway — per-partition build stays
    # bounded because rows are capped-size shingle arrays).
    a_sets = shs.select(F.col("id").alias("id_a"), F.col("shs").alias("_sa")).hint(
        "shuffle_hash"
    )
    b_sets = shs.select(F.col("id").alias("id_b"), F.col("shs").alias("_sb")).hint(
        "shuffle_hash"
    )
    shared = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size("_sa") + F.size("_sb") - shared
    return (
        cands.join(a_sets, "id_a")
        .join(b_sets, "id_b")
        .withColumn("jaccard", F.round(shared / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------------------------ simhash
def simhash_words(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Engine-portable 64-bit SimHash as two 32-bit words (sim_hi, sim_lo).

    Per bit j, sum ±1 over the document's token occurrences; bit j is set iff
    the sum is positive. The per-token 64-bit hash is the first 16 hex digits
    of md5(token), each digit contributing 4 bits — md5, position(), >>, &
    and integer sums are bit-identical between Spark and ANSI SQL engines, so
    the whole computation has an exact DuckDB twin
    (__spark_entry__.oracle_sql: dedup_simhash_pairs). Two 32-bit
    words instead of one 64-bit value keep every intermediate below 2^32 so
    no engine's signed-overflow rules are ever in play.

    All JVM-side: explode + per-occurrence md5 + 64 ±1 sums + arithmetic
    reassembly, in ONE exchange. (An earlier form pre-aggregated
    groupBy(id, tok) counts to save md5 calls on repeated tokens — that spent
    a full extra 2.5M-row shuffle+hash-agg to avoid ~8% of cheap md5 work,
    guide §2.4; sum over occurrences of ±1 == ±count, so dropping it is
    bit-identical to the counted form and to the SQL twin. Map-side partial
    aggregation collapses each doc to one 64-column row before the exchange,
    so the remaining shuffle carries n_docs rows, not n_tokens.)"""
    spread = df.sparkSession.sparkContext.defaultParallelism
    ex = (
        df.repartition(spread)
        .select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok"))
        .withColumn("_h", F.md5("tok"))
        .select(
            "id",
            *[
                F.expr(
                    f"position(substring(_h, {k + 1}, 1) IN '0123456789abcdef') - 1"
                ).alias(f"v{k}")
                for k in range(16)
            ],
        )
    )

    def bit(j: int):
        return F.shiftright(F.col(f"v{j // 4}"), j % 4).bitwiseAND(F.lit(1))

    bit_sums = [
        F.sum(F.when(bit(j) == 1, F.lit(1)).otherwise(F.lit(-1))).alias(f"b{j}")
        for j in range(64)
    ]
    agg = ex.groupBy("id").agg(*bit_sums)

    def word(lo_bit: int):
        acc = F.lit(0).cast("long")
        for j in range(lo_bit, lo_bit + 32):
            acc = acc + F.when(
                F.col(f"b{j}") > 0, F.lit(1 << (j - lo_bit)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return acc

    return agg.select("id", word(32).alias("sim_hi"), word(0).alias("sim_lo"))


def simhash_near_pairs_words(
    sim_df: DataFrame,
    max_hamming: int = 6,
    bands: int = 8,
    max_bucket_size: int | None = None,
    fat_bucket_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs over (sim_hi, sim_lo) SimHash words with a recall
    GUARANTEE: bands > max_hamming means any pair within the hamming budget
    has fewer differing bits than bands, so some band is identical in both
    (pigeonhole) — the output is EXACTLY the set of pairs with hamming <=
    max_hamming (modulo an optional over-common-bucket guard; pass None to
    keep the guarantee unconditional). Output (id_a, id_b, hamming).

    fat_bucket_cap is the EXACTNESS-PRESERVING scale guard (unlike
    max_bucket_size, which drops buckets and loses pairs). The band-chunk
    space is only 2^(64/bands) values, so in-bucket pairs grow quadratically
    with corpus size (measured: 10x docs -> 25x wall at sf1). Buckets larger
    than the cap are instead joined on a SECOND matching band: with 8 bands
    and <= max_hamming=6 differing bits, at most 6 bands can differ, so every
    qualifying pair shares at least TWO bands (pigeonhole again) — joining
    fat-bucket members on (band, chunk, second_band, second_chunk) subdivides
    each fat bucket ~2^width-fold and misses nothing. (Beyond ~10^9 docs the
    second level goes fat too; the budget 8 bands / hamming 6 guarantees only
    two matches, so deeper subdivision needs a lossy cap or more bands.)

    Perf notes (r6, guide §2.3/§2.4 — output provably unchanged):
      * the hamming predicate rides INSIDE the candidate joins, so only
        qualifying pairs reach the dropDuplicates exchange (measured at sf1:
        the fat join emitted 243.6M rows, 87.4M after dedup, 648k after the
        hamming filter — filtering first removes the 243M-row shuffle);
      * the fat path's second band is restricted to band2 > band: every
        qualifying all-fat pair has >= 2 matching bands i < j and is caught
        with primary i / second j, while any pair with a thin matching band
        is caught by the thin join — so one ordering suffices (halves the
        fat2 explode AND kills the (i,j)/(j,i) duplicate pair stream);
      * the (8n)-row chunks table is localCheckpoint-ed eagerly instead of
        persist()-ed lazily: the counts/thin/fat branches previously raced
        cache population inside one job and recomputed the upstream simhash
        pipeline per branch (measured: full query 58.5s vs 3.5s signatures +
        24s pairing when materialized separately).

    Runs an eager Spark job (the chunks table) and holds its executor blocks
    until the result is garbage-collected."""
    if bands < 1 or 64 % bands:
        raise ValueError(
            f"bands={bands} must divide 64: bits outside every band break the "
            "pigeonhole recall guarantee"
        )
    if bands <= max_hamming and max_bucket_size is None:
        raise ValueError(
            f"bands={bands} <= max_hamming={max_hamming} loses the pigeonhole "
            "recall guarantee"
        )
    if fat_bucket_cap is not None and bands < max_hamming + 2:
        raise ValueError(
            f"fat-bucket recursion needs bands >= max_hamming + 2 "
            f"(two guaranteed matching bands); got bands={bands}, "
            f"max_hamming={max_hamming}"
        )
    width = 64 // bands
    mask = (1 << width) - 1

    def chunk(b: int):
        lo_bit = b * width
        if lo_bit >= 32:
            return F.shiftrightunsigned("sim_hi", lo_bit - 32).bitwiseAND(F.lit(mask))
        return F.shiftrightunsigned("sim_lo", lo_bit).bitwiseAND(F.lit(mask))

    chunks = sim_df.select(
        "id",
        "sim_hi",
        "sim_lo",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), chunk(b).alias("chunk"))
                for b in range(bands)
            ])
        ).alias("bc"),
    ).select("id", "sim_hi", "sim_lo", "bc.band", "bc.chunk")
    # Materialize ONCE, eagerly: counts/thin/fat all branch off this table and
    # a lazy persist() lets concurrent branches race the cache and recompute
    # the whole upstream simhash pipeline per branch (measured 2x+ at sf1).
    chunks = chunks.localCheckpoint(eager=True)

    # hamming distance as a join-side predicate: evaluated inside the join so
    # non-qualifying candidates never reach the dedup exchange
    hamming_expr = (
        F.bit_count(F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi")))
        + F.bit_count(F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo")))
    ).cast("int")
    near = hamming_expr <= max_hamming
    hamming = hamming_expr.alias("hamming")
    keys = ["band", "chunk"]

    if fat_bucket_cap is None:
        cand = _band_pairs(chunks, keys, max_bucket_size, near, hamming)
    else:
        counts = chunks.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
        is_fat = F.col("_n") > fat_bucket_cap
        if max_bucket_size is not None:
            # over-common buckets stay thin, where the bucket cap drops them
            is_fat = is_fat & (F.col("_n") <= max_bucket_size)
        fat_keys = counts.filter(is_fat).select(*keys)
        thin = chunks.join(fat_keys, keys, "left_anti")
        fat = chunks.join(fat_keys, keys, "left_semi")
        thin_pairs = _band_pairs(thin, keys, max_bucket_size, near, hamming)
        # fat path: subdivide by a second band's chunk (recomputed from the
        # words — the bands partition the 64 bits, so "the other bands" ARE
        # the sub-bands of the remaining bits). band2 > band is lossless:
        # every qualifying pair matches on >= 2 bands i < j, and either some
        # matching band's bucket is thin (thin join catches it) or the pair
        # is all-fat on i and caught with primary i / second j.
        fat2 = fat.select(
            "id",
            "sim_hi",
            "sim_lo",
            "band",
            "chunk",
            F.explode(
                F.array(*[
                    F.struct(F.lit(j).alias("band2"), chunk(j).alias("chunk2"))
                    for j in range(bands)
                ])
            ).alias("sb"),
        ).filter(F.col("sb.band2") > F.col("band")).select(
            "id", "sim_hi", "sim_lo", "band", "chunk", "sb.band2", "sb.chunk2"
        )
        fat_pairs = _band_pairs(fat2, keys + ["band2", "chunk2"], None, near, hamming)
        cand = thin_pairs.unionByName(fat_pairs)
    return cand.dropDuplicates(["id_a", "id_b"]).select("id_a", "id_b", "hamming")


# ------------------------------------------------------- connected components
def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Near-dup clusters from a pair list: every node -> min node id reachable
    through the pair graph (its canonical representative). Pairs alone don't
    dedup a corpus — transitive near-dups (A~B, B~C, A!~C) must collapse into
    ONE keep decision, which is exactly connected components over the pair
    graph (the reference's LWW collapse is the per-KEY analog; this is the
    cross-document one a training-data pipeline needs after MinHash/SimHash).

    Scale design (100 TB): iterative min-label propagation with pointer
    jumping (label <- label[label] each round, the Shiloach-Vishkin / MapReduce
    "hash-to-min" family — Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14). Per round: one edge-join + groupBy (shuffle on node
    id) and one label self-join; pointer jumping collapses chains
    geometrically, so rounds ~ O(log(diameter)) — near-dup clusters are
    star-like, typically 2-4 rounds. Each round is localCheckpoint-ed: without
    it the plan doubles per iteration and Catalyst analysis time blows up
    long before the data does (on a cluster you'd checkpoint to reliable
    storage instead). Convergence is detected with a single scalar aggregate —
    labels only ever decrease, so sum(label) is strictly monotone and equal
    iff fixpoint — no extra join, no collect of per-node state.

    Returns (id_col, rep_id): one row per node in `nodes`, singletons mapping
    to themselves.
    """
    edges = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    edges = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    # Pin the (possibly expensive: MinHash/SimHash/Jaccard) pair plan once so
    # every iteration re-reads a materialized edge list, not the generator.
    edges = edges.localCheckpoint(eager=True)

    lab = (
        nodes.select(F.col(id_col).alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint(eager=True)
    )
    prev_sum = lab.agg(F.sum(F.col("label").cast("decimal(38,0)")).alias("s")).first()["s"]
    for _ in range(max_iter):
        # propagate: label(v) <- min(label(v), min over neighbors' labels)
        nbr = (
            edges.join(
                lab.select(F.col("v").alias("bv"), F.col("label").alias("blabel")),
                F.col("b") == F.col("bv"),
            )
            .groupBy("a")
            .agg(F.min("blabel").alias("nbr_min"))
        )
        new = lab.join(nbr, lab["v"] == nbr["a"], "left").select(
            "v",
            F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))).alias("label"),
        )
        # pointer jump: label(v) <- label(label(v)) — halves chain depth
        hop = new.select(F.col("v").alias("lv"), F.col("label").alias("llabel"))
        new = new.join(hop, new["label"] == hop["lv"], "left").select(
            "v", F.coalesce(F.col("llabel"), F.col("label")).alias("label")
        )
        new = new.localCheckpoint(eager=True)
        cur_sum = new.agg(F.sum(F.col("label").cast("decimal(38,0)")).alias("s")).first()["s"]
        lab = new
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return lab.select(F.col("v").alias(id_col), F.col("label").alias("rep_id"))


def dedup_assignments(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Corpus dedup decision table: (doc_id, rep_id, cluster_size, keep).
    keep = (doc_id == rep_id) — the min-id document survives, transitive
    near-dups collapse with it. cluster_size rides one extra shuffle on
    rep_id (a window count), which the downstream quality-weighted sampling
    needs anyway."""
    from pyspark.sql import Window

    asgn = connected_components(pairs, docs, id_col=id_col, a_col=a_col, b_col=b_col)
    w = Window.partitionBy("rep_id")
    return asgn.select(
        id_col,
        "rep_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col(id_col) == F.col("rep_id")).alias("keep"),
    )
