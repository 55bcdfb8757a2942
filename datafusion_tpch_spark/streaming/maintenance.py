"""Incremental-maintenance algebra for the foreachBatch gates.

The streaming gates (queries/stream.py: ``events_cdc_stream``,
``events_scd2_stream``) maintain state tables one micro-batch at a time.
The per-batch merge logic lives HERE, as pure DataFrame→DataFrame
functions over explicit state, so its defining properties are testable
without a streaming runtime:

- **CDC upsert state** is an order-INSENSITIVE fold: the state after any
  partition of the feed into batches — in any order — equals one global
  argmax-per-key reduction (``max(struct(ts, event_id, …))`` is
  associative and commutative).
- **SCD2 interval state** is an order-DEPENDENT fold: batches must
  arrive in event-time order (the per-key ordering a Kafka/CDC feed
  guarantees), but WHERE the boundaries fall must not matter.  The
  property test cuts the same feed at random time-ordered boundaries and
  requires the final state to be identical.

Both gates call these functions from their foreachBatch closures;
``tests/test_maintenance_algebra.py`` drives them directly with
hypothesis-chosen batch boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

def run_foreach_batch(
    spark: SparkSession, feed: DataFrame, apply_batch, name: str,
    timeout_s: int = 300, partitions: int = 2,
) -> None:
    """Drive a bounded foreachBatch maintenance stream to completion:
    RAM-backed checkpoint dir, state-sized shuffle-partition override
    (restored after), AvailableNow trigger, checkpoint cleanup.  Shared
    by the CDC and SCD2 gates so the runner plumbing can't drift between
    them."""
    import os
    import shutil
    import tempfile

    ckpt_base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ckpt = tempfile.mkdtemp(prefix=f"ckpt-{name}-", dir=ckpt_base)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        query = (
            feed.writeStream.foreachBatch(apply_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not query.awaitTermination(timeout_s):
                raise TimeoutError(
                    f"{name} did not finish in {timeout_s}s"
                )
        finally:
            query.stop()
            shutil.rmtree(ckpt, ignore_errors=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


# ----------------------------------------------------------- CDC upsert

CDC_STATE_COLS = (
    "user_id", "state_ts", "event_id", "is_feed", "state_type",
    "state_value",
)


def cdc_compact(df: DataFrame, is_feed: bool) -> DataFrame:
    """Reduce an event set to its latest row per key (argmax by
    (ts, event_id) — a hash aggregate with map-side combine, never a
    per-key sort window), tagged with feed provenance."""
    m = F.max(
        F.struct(
            "ts",
            "event_id",
            F.lit(is_feed).alias("is_feed"),
            F.col("event_type").alias("state_type"),
            F.col("value").alias("state_value"),
        )
    ).alias("m")
    return df.groupBy("user_id").agg(m).select(
        "user_id",
        F.col("m.ts").alias("state_ts"),
        F.col("m.event_id").alias("event_id"),
        F.col("m.is_feed").alias("is_feed"),
        F.col("m.state_type").alias("state_type"),
        F.col("m.state_value").alias("state_value"),
    )


def cdc_merge_batch(state: DataFrame, batch_compacted: DataFrame) -> DataFrame:
    """Fold one compacted batch into CDC state: union + the same argmax
    reduction.  Associative and commutative, so the result is independent
    of batch boundaries AND batch order."""
    return (
        state.unionByName(batch_compacted)
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    "state_ts", "event_id", "is_feed", "state_type",
                    "state_value",
                )
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.state_ts").alias("state_ts"),
            F.col("m.event_id").alias("event_id"),
            F.col("m.is_feed").alias("is_feed"),
            F.col("m.state_type").alias("state_type"),
            F.col("m.state_value").alias("state_value"),
        )
    )


def cdc_finalize(state: DataFrame, tombstone: str) -> DataFrame:
    """Read-side view of CDC state: drop keys whose latest FEED row is a
    tombstone (provenance-flagged, so a snapshot row whose own type
    collides with the marker is never dropped)."""
    # coalesce: a NULL state_type must compare as NOT-tombstone — without
    # it, true & NULL = NULL and ~NULL = NULL silently drops the row
    is_tomb = F.coalesce(F.col("state_type") == tombstone, F.lit(False))
    return (
        state.filter(~(F.col("is_feed") & is_tomb))
        .select("user_id", "state_value", "state_ts", "state_type")
        .orderBy("user_id")
    )


# -------------------------------------------------------- SCD2 intervals

def scd2_empty_state(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """(closed-aggregate table, open-version table) — both empty."""
    agg = spark.createDataFrame(
        [], "user_id bigint, state_type string, n_versions bigint, "
            "closed_dwell_us bigint"
    )
    opn = spark.createDataFrame(
        [], "user_id bigint, open_us bigint, open_type string"
    )
    return agg, opn


def scd2_apply_batch(
    agg: DataFrame, opn: DataFrame, batch: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Fold one event-time-ordered batch into SCD2 state.

    ``batch`` carries (user_id, event_id, state_type, us).  Closes the
    previously-open version of every key present in the batch at the
    batch's first event for that key (attributing the cross-boundary
    dwell to the OPEN version's type), folds the batch's internal
    versions with one key-partitioned ``lead`` window, and installs each
    key's last event as the new open version.  Correct whenever every
    event in ``batch`` is later than every already-applied event for the
    same key — the caller asserts the (stronger) global-time ordering."""
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    versions = batch.withColumn("next_us", F.lead("us").over(w))
    batch_agg = versions.groupBy("user_id", "state_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
        F.sum(
            F.coalesce(F.col("next_us") - F.col("us"), F.lit(0))
        ).cast("bigint").alias("closed_dwell_us"),
    )
    firsts = batch.groupBy("user_id").agg(
        F.min(F.struct("us", "event_id")).alias("f")
    ).select("user_id", F.col("f.us").alias("first_us"))
    lasts = batch.groupBy("user_id").agg(
        F.max(F.struct("us", "event_id", "state_type")).alias("l")
    ).select(
        "user_id",
        F.col("l.us").alias("open_us"),
        F.col("l.state_type").alias("open_type"),
    )
    closeouts = opn.join(firsts, "user_id", "inner").select(
        "user_id",
        F.col("open_type").alias("state_type"),
        F.lit(0).cast("bigint").alias("n_versions"),
        (F.col("first_us") - F.col("open_us"))
        .cast("bigint")
        .alias("closed_dwell_us"),
    )
    new_agg = (
        agg.unionByName(batch_agg)
        .unionByName(closeouts)
        .groupBy("user_id", "state_type")
        .agg(
            F.sum("n_versions").cast("bigint").alias("n_versions"),
            F.sum("closed_dwell_us").cast("bigint").alias("closed_dwell_us"),
        )
    )
    new_opn = (
        opn.join(lasts.select("user_id"), "user_id", "left_anti")
        .unionByName(lasts)
    )
    return new_agg, new_opn


def scd2_finalize(agg: DataFrame, opn: DataFrame) -> DataFrame:
    """Read-side join of the two SCD2 state tables into the per-(key,
    type) summary the batch derivation produces."""
    marks = opn.select(
        "user_id",
        F.col("open_type").alias("state_type"),
        F.lit(1).cast("bigint").alias("n_open"),
    )
    return (
        agg.join(marks, ["user_id", "state_type"], "left")
        .select(
            "user_id",
            "state_type",
            F.col("n_versions").cast("bigint").alias("n_versions"),
            F.coalesce(F.col("n_open"), F.lit(0)).cast("bigint").alias(
                "n_open"
            ),
            F.col("closed_dwell_us").cast("bigint").alias("closed_dwell_us"),
        )
        .orderBy("user_id", "state_type")
    )


# ------------------------------------------- near-dup ingest admission

# ``admit_batch``'s output: the schema of every verdict table, in memory
# or persisted
VERDICTS_SCHEMA = "doc_id bigint, n_hit_buckets bigint, kept boolean"


def admit_batch(
    batch_buckets: DataFrame, batch_ids: DataFrame, corpus_cells: DataFrame
) -> DataFrame:
    """Admission verdicts for one micro-batch of incoming documents
    probed against the corpus's prebuilt (band, bkey) LSH index:
    ``n_hit_buckets`` = how many of the doc's bucket cells the index
    already holds, ``kept`` iff zero.  The index is corpus-capped
    upstream, so a verdict depends only on (doc, index) — NEVER on what
    else shares the micro-batch — which is what makes the maintained
    verdict table provably independent of batch boundaries (the
    hypothesis property in tests/test_maintenance_algebra.py)."""
    hits = (
        batch_buckets.join(corpus_cells, ["band", "bkey"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit_buckets"))
    )
    return batch_ids.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_hit_buckets"), F.lit(0))
        .cast("bigint")
        .alias("n_hit_buckets"),
        (F.coalesce(F.col("n_hit_buckets"), F.lit(0)) == 0).alias("kept"),
    )


def admit_merge(state: DataFrame | None, batch_verdicts: DataFrame) -> DataFrame:
    """Fold one batch's verdicts into the maintained table.  Incoming
    doc_ids are unique across batches (a file feed delivers each doc
    once), so the merge is a pure append — associative and commutative,
    the trivial end of the maintenance algebra spectrum, kept explicit
    so the property test pins the contract."""
    if state is None:
        return batch_verdicts
    return state.unionByName(batch_verdicts)


# --------------------------------------------------- stream token metering

def meter_batch(batch_docs: DataFrame, vocab_tok: DataFrame) -> DataFrame:
    """Per-source token metering of one micro-batch of incoming documents
    against the DEPLOYED tokenizer table (word -> n_tok under the learned
    BPE merges): every ingested word is costed via the vocab join,
    out-of-vocabulary words fall back to their character count (the
    byte-fallback every real BPE tokenizer has), and zero-word documents
    still count as documents (explode_outer).  Output: (source, n_docs,
    n_tokens) for THIS batch only."""
    from ..functions import text

    w = batch_docs.select(
        "source", "doc_id",
        F.explode_outer(text.words(F.col("text"))).alias("word"),
    )
    j = w.join(vocab_tok.select("word", "n_tok"), "word", "left")
    tok = F.when(F.col("word").isNull(), F.lit(0).cast("long")).otherwise(
        F.coalesce(F.col("n_tok"), F.length("word").cast("long"))
    )
    return j.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.sum(tok).cast("long").alias("n_tokens"),
    )


def meter_merge(state: DataFrame | None, batch_meter: DataFrame) -> DataFrame:
    """Fold one batch's per-source meter into the maintained totals: union
    + re-sum.  Sums are associative and commutative and a file feed
    delivers each doc once, so the maintained table is independent of
    batch boundaries and order (hypothesis property in
    tests/test_maintenance_algebra.py)."""
    if state is None:
        return batch_meter
    return (
        state.unionByName(batch_meter)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


# ------------------------------------------- streaming IVF cell maintenance

def ivf_ingest_batch(batch_emb: DataFrame, centroids) -> DataFrame:
    """Per-(cell, dim) occupancy increments for one micro-batch of
    incoming vectors against the DEPLOYED IVF index: assign each vector
    to its nearest centroid (floor-quantized L2, the exact metric the
    batch ANN gates use — ``operators/similarity.ivf_assign``), then one
    posexplode pass map-side combined down to at most |cells|·|dims|
    rows of (n, Σ floor(v·1e8)) — decimal(38,0) sums, so every
    accumulator is order-independent and exactly mergeable.  A vector's
    cell depends only on (vector, index), never on what else shares the
    micro-batch."""
    from pyspark.sql import functions as F

    from ..operators.similarity import ivf_assign

    assigned = ivf_assign(batch_emb, centroids)
    ex = assigned.select(
        "cell", F.posexplode(F.col("embedding")).alias("dim", "v")
    )
    vq = F.floor(F.col("v").cast("double") * F.lit(100000000.0)).cast(
        "decimal(38,0)"
    )
    return ex.groupBy("cell", "dim").agg(
        F.sum(vq).alias("sumq"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


def ivf_ingest_merge(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Fold one batch's per-(cell, dim) increments into the maintained
    occupancy table: union + re-sum.  Decimal sums and counts are
    associative and commutative, so the maintained table is independent
    of batch boundaries and order (hypothesis property in
    tests/test_maintenance_algebra.py)."""
    from pyspark.sql import functions as F

    if state is None:
        return batch
    return (
        state.unionByName(batch)
        .groupBy("cell", "dim")
        .agg(
            F.sum("sumq").cast("decimal(38,0)").alias("sumq"),
            F.sum("n").cast("bigint").alias("n"),
        )
    )


# -------------------------------------- stream exact-substring admission

def span_admit_batch(
    batch_docs: DataFrame, corpus_span_idx: DataFrame, k: int = 8
) -> DataFrame:
    """Admission verdicts for one micro-batch of incoming documents
    probed against the corpus's prebuilt exact-substring span index
    (DISTINCT 60-bit hashes of the corpus's positional k-token grams):
    ``n_spans`` = the doc's k-gram positions, ``n_dup_spans`` = how many
    of them the corpus already contains, ``kept`` iff at most half its
    spans are recycled corpus text (``2*n_dup <= n_spans`` — the
    integer form, so no float threshold can drift between engines;
    span-less short docs are kept).  A verdict depends only on
    (doc, index) — never on what else shares the micro-batch — so the
    maintained table is provably independent of batch boundaries."""
    from ..functions import hashing, text

    g = batch_docs.select(
        "doc_id",
        F.explode(text.positional_kgrams(F.col("text"), k)).alias("gram"),
    ).select("doc_id", hashing.md5_int(F.col("gram")).alias("h"))
    per = (
        g.join(corpus_span_idx.withColumn("in_corpus", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum(F.coalesce(F.col("in_corpus"), F.lit(0)))
            .cast("bigint").alias("n_dup_spans"),
        )
    )
    return batch_docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("bigint")
        .alias("n_dup_spans"),
        (
            F.lit(2) * F.coalesce(F.col("n_dup_spans"), F.lit(0))
            <= F.coalesce(F.col("n_spans"), F.lit(0))
        ).alias("kept"),
    )
