"""Training-corpus curation operators: the preparation steps between raw
documents and a training run — benchmark decontamination, sequence packing,
boilerplate stripping, repetition scoring, domain-mixture weighting, and
structured-log PII scrubbing.

Same design rules as the rest of the extension surface: JVM-side built-ins
only (split/transform/window/regexp — no Python UDFs), one hash shuffle per
aggregation, small sides broadcast, every gate mirrored by a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing, text
from . import QuerySpec
from .extensions import _t

# ===========================================================================
# Benchmark decontamination
# ===========================================================================

_DECON_N = 5            # n-gram width: wide enough that overlap means copying
_DECON_EVAL_MOD = 97    # doc_id % mod == 0 stands in for the held-out benchmark


def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training docs sharing any word
    {n}-gram with the held-out benchmark slice (the GPT-3-style n-gram
    membership test, n wide enough that a hit means copied text).

    Plan: benchmark shingles are a distinct, *fixed-size* set (eval suites
    don't grow with the corpus) — broadcast it; one pass over training-doc
    shingles counts distinct shared n-grams per doc.  No self-join, no
    shuffle on the corpus side beyond the per-doc aggregation.
    """
    (docs,) = _t(spark, sf_dir, "documents")
    sh = F.explode(text.shingles(F.col("text"), _DECON_N)).alias("shingle")
    eval_sh = (
        docs.filter(F.col("doc_id") % _DECON_EVAL_MOD == 0)
        .select(sh)
        .distinct()
    )
    train_sh = docs.filter(F.col("doc_id") % _DECON_EVAL_MOD != 0).select(
        "doc_id", sh
    )
    return (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count_distinct("shingle").alias("n_shared"))
        .orderBy("doc_id")
    )


docs_decontaminate.__doc__ = (docs_decontaminate.__doc__ or "").format(
    n=_DECON_N
)


DOCS_DECONTAMINATE_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({text.shingles_sql('text', _DECON_N)}) AS shingle
  FROM documents),
eval_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {_DECON_EVAL_MOD} = 0)
SELECT doc_id, COUNT(DISTINCT s.shingle) AS n_shared
FROM sh s JOIN eval_sh e ON s.shingle = e.shingle
WHERE doc_id % {_DECON_EVAL_MOD} <> 0
GROUP BY doc_id
ORDER BY doc_id
"""


# ===========================================================================
# Sequence packing
# ===========================================================================

_PACK_LEN = 512         # target training-sequence length in tokens


def docs_token_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in a
    deterministic order and cut into fixed-length training sequences; a
    doc belongs to the sequence where it starts.

    The running total is a range-sharded two-pass prefix sum inside each
    source (local cumsum per doc_id shard + a broadcast triangle-join
    offset from earlier shards) — a plain per-source window would drag a
    source's whole corpus through one reducer, since sources number a
    handful however large the data.  Output is the per-sequence
    manifest: docs packed and tokens filled.
    """
    from ..operators.selection import sharded_prefix

    (docs,) = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", text.token_count(F.col("text")).alias("n_tok")
    )
    return (
        sharded_prefix(
            toks,
            order_by=["doc_id"],
            value=F.col("n_tok"),
            agg="sum",
            partition_by=["source"],
            out_col="cum",
        )
        .withColumn(
            "seq_id",
            F.floor((F.col("cum") - F.col("n_tok")) / F.lit(_PACK_LEN)),
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("seq_tokens"),
        )
        .orderBy("source", "seq_id")
    )


DOCS_TOKEN_PACK_SQL = f"""
WITH toks AS (
  SELECT source, doc_id, {text.token_count_sql('text')} AS n_tok
  FROM documents),
laid AS (
  SELECT source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM toks)
SELECT source, CAST(floor((cum - n_tok) / {_PACK_LEN}) AS BIGINT) AS seq_id,
       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS seq_tokens
FROM laid
GROUP BY source, seq_id
ORDER BY source, seq_id
"""


# ===========================================================================
# Boilerplate stripping
# ===========================================================================

_BP_DF_FRAC = 0.5       # a word in more than this fraction of docs is boilerplate


def docs_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate stripping: words present in more than
    {frac} of all documents carry no content signal (headers, nav text,
    license lines in real corpora); report each doc's size before/after
    dropping them.

    The hot-word list is bounded by vocabulary, not corpus size — built
    with one hash aggregation over distinct (doc, word) pairs and
    broadcast; the strip itself is a broadcast anti-join on the exploded
    words, so the corpus never shuffles on anything but the per-doc
    re-aggregation.
    """
    (docs,) = _t(spark, sf_dir, "documents")
    total = docs.select(F.count(F.lit(1)).alias("n_docs"))
    # ONE (doc, word) aggregation serves BOTH the document-frequency
    # side and the strip side (guide §2.4): the previous shape exploded
    # the corpus twice — once into distinct() for df, once raw for the
    # anti-join — and the anti-join dragged every word INSTANCE through
    # it.  The vacuous guards (doc_id never null; cnt is a count, >= 1)
    # keep the two branches canonically identical so the explode and its
    # exchange are computed once and reused, and the anti-join now sees
    # one row per (doc, word) with the multiplicity re-applied as
    # sum(cnt) — bit-identical, counts are integers.  Executed pair:
    # plans/r15/docs_boilerplate_strip_{before,after}_exec.txt.
    exploded = docs.where(F.col("doc_id").isNotNull()).select(
        "doc_id", F.explode(text.words(F.col("text"))).alias("w")
    )
    per = exploded.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    hot = (
        per.where(F.col("cnt") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("df") > F.lit(_BP_DF_FRAC) * F.col("n_docs"))
        .select("w")
    )
    # the when() is vacuous (cnt >= 1 always) but makes the anti-join key
    # an expression over the aggregate's output, which stops
    # PushDownLeftSemiAntiJoin from pushing the join below the shared
    # (doc, word) aggregate — pushed, the two branches' exchange
    # subtrees diverge again (one with the join, one without) and the
    # explode runs twice with an extra exchange on top
    kept = (
        per.select(
            "doc_id",
            F.when(F.col("cnt") >= 1, F.col("w")).alias("w"),
            "cnt",
        )
        .join(F.broadcast(hot), "w", "left_anti")
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_after"))
    )
    before = docs.select(
        "doc_id", F.size(text.words(F.col("text"))).cast("long").alias("n_before")
    )
    return (
        before.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_before",
            F.coalesce("n_after", F.lit(0)).alias("n_after"),
            (F.coalesce("n_after", F.lit(0)) / F.col("n_before")).alias(
                "kept_ratio"
            ),
        )
        .orderBy("doc_id")
    )


docs_boilerplate_strip.__doc__ = (docs_boilerplate_strip.__doc__ or "").format(
    frac=_BP_DF_FRAC
)


DOCS_BOILERPLATE_STRIP_SQL = f"""
WITH exploded AS (
  SELECT doc_id, unnest({text.words_sql('text')}) AS w FROM documents),
hot AS (
  SELECT w FROM (SELECT w, COUNT(DISTINCT doc_id) AS df FROM exploded GROUP BY w)
  WHERE df > {_BP_DF_FRAC} * (SELECT COUNT(*) FROM documents)),
kept AS (
  SELECT doc_id, COUNT(*) AS n_after
  FROM exploded WHERE w NOT IN (SELECT w FROM hot)
  GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len({text.words_sql('text')}) AS BIGINT) AS n_before,
       COALESCE(k.n_after, 0) AS n_after,
       COALESCE(k.n_after, 0) * 1.0
         / CAST(len({text.words_sql('text')}) AS BIGINT) AS kept_ratio
FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
ORDER BY d.doc_id
"""


# ===========================================================================
# Intra-document repetition
# ===========================================================================

_REP_N = 3


def docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc repetition score: fraction of word {n}-gram positions
    whose n-gram already occurred in the doc (1 - distinct/total) — the
    standard repeated-n-gram quality signal for generated/spammy text.
    Narrow per-row array expressions only; no shuffle but the output sort.
    """
    (docs,) = _t(spark, sf_dir, "documents")
    n_tok = text.token_count(F.col("text"))
    total = F.greatest(n_tok - F.lit(_REP_N - 1), F.lit(1))
    distinct = F.size(text.shingles(F.col("text"), _REP_N)).cast("long")
    return docs.select(
        "doc_id",
        total.alias("total_ngrams"),
        distinct.alias("distinct_ngrams"),
        (F.lit(1.0) - distinct / total).alias("rep_ratio"),
    ).orderBy("doc_id")


docs_repetition.__doc__ = (docs_repetition.__doc__ or "").format(n=_REP_N)


DOCS_REPETITION_SQL = f"""
SELECT doc_id,
       greatest({text.token_count_sql('text')} - {_REP_N - 1}, 1)
         AS total_ngrams,
       CAST(len({text.shingles_sql('text', _REP_N)}) AS BIGINT)
         AS distinct_ngrams,
       1.0 - CAST(len({text.shingles_sql('text', _REP_N)}) AS BIGINT) * 1.0
           / greatest({text.token_count_sql('text')} - {_REP_N - 1}, 1)
         AS rep_ratio
FROM documents
ORDER BY doc_id
"""


# ===========================================================================
# Domain-mixture weights
# ===========================================================================


def docs_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain (source) mixture weighting: per-source token share of the
    corpus and the resampling weight that flattens the mixture to uniform
    across sources — the input every mixture-tuned training run needs.
    One aggregation to |sources| rows; the corpus totals re-aggregate
    that tiny frame and broadcast back (a scalar join, not an
    unpartitioned window — keeps the no-global-window invariant even
    where it would be harmless).
    """
    (docs,) = _t(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count(F.col("text"))).alias("n_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .withColumn(
            "corpus_share", F.col("n_tokens") / F.col("tot_tokens")
        )
        .withColumn("target_share", F.lit(1.0) / F.col("n_sources"))
        .withColumn("weight", F.col("target_share") / F.col("corpus_share"))
        .select(
            "source", "n_docs", "n_tokens", "corpus_share", "target_share",
            "weight",
        )
        .orderBy("source")
    )


DOCS_MIXTURE_WEIGHTS_SQL = f"""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM({text.token_count_sql('text')}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source)
SELECT source, n_docs, n_tokens,
       n_tokens * 1.0 / SUM(n_tokens) OVER () AS corpus_share,
       1.0 / COUNT(*) OVER () AS target_share,
       (1.0 / COUNT(*) OVER ())
         / (n_tokens * 1.0 / SUM(n_tokens) OVER ()) AS weight
FROM per_src
ORDER BY source
"""


# ===========================================================================
# Mixture-weighted resampling
# ===========================================================================

_MIX_PPM = 1_000_000    # keep-threshold resolution (parts per million)


def docs_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the mixture weights: down-sample over-represented sources by
    a deterministic hash threshold (keep doc iff
    ``md5(doc_id) % 1e6 < keep_prob * 1e6``) so the sampled corpus moves
    toward the uniform target without any RNG state — re-runs, retries,
    and engines agree on every kept row, which is what makes distributed
    sampling auditable.  Weights > 1 (under-represented sources) cap at
    keep-all; true up-sampling is an epoch multiplier downstream.
    One broadcast join of the |sources|-row weight table; no corpus
    shuffle but the audit aggregation.
    """
    (docs,) = _t(spark, sf_dir, "documents")
    weights = docs_mixture_weights(spark, sf_dir).select(
        "source",
        F.floor(
            F.least(F.col("weight"), F.lit(1.0)) * F.lit(_MIX_PPM)
        ).cast("long").alias("keep_ppm"),
    )
    hashed = docs.join(F.broadcast(weights), "source").withColumn(
        "bucket",
        hashing.md5_int(F.concat(F.lit("mix#"), F.col("doc_id").cast("string")))
        % F.lit(_MIX_PPM),
    )
    return (
        hashed.groupBy("source", "keep_ppm")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("bucket") < F.col("keep_ppm")).cast("long")).alias(
                "n_kept"
            ),
        )
        .select("source", "keep_ppm", "n_docs", "n_kept")
        .orderBy("source")
    )


_MIX_WEIGHT_SQL = (
    "(1.0 / COUNT(*) OVER ()) / (n_tokens * 1.0 / SUM(n_tokens) OVER ())"
)

DOCS_MIXTURE_SAMPLE_SQL = f"""
WITH per_src AS (
  SELECT source, CAST(SUM({text.token_count_sql('text')}) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source),
weights AS (
  SELECT source,
         CAST(floor(least({_MIX_WEIGHT_SQL}, 1.0) * {_MIX_PPM}) AS BIGINT)
           AS keep_ppm
  FROM per_src)
SELECT d.source, w.keep_ppm, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN
         ({hashing.md5_int_sql("concat('mix#', CAST(doc_id AS VARCHAR))")})
           % {_MIX_PPM} < w.keep_ppm
         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents d JOIN weights w ON d.source = w.source
GROUP BY d.source, w.keep_ppm
ORDER BY d.source
"""


# ===========================================================================
# Structured-log PII scrubbing
# ===========================================================================

_PII_RE = r'"k":\s*\d+'
_PII_SUB = '"k":"[ID]"'


def events_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over semi-structured event payloads: numeric ids in
    the JSON props are replaced by a redaction token, and the scrub is
    audited per event type (rows touched + characters removed).  The
    regexp runs inside whole-stage codegen — the same single-pass shape a
    100 TB log-scrub job needs; no shuffle but the audit aggregation.
    """
    (ev,) = _t(spark, sf_dir, "events")
    scrubbed = F.regexp_replace(F.col("props"), _PII_RE, _PII_SUB)
    return (
        ev.select(
            "event_type",
            (scrubbed != F.col("props")).cast("long").alias("hit"),
            (F.length("props") - F.length(scrubbed)).cast("long").alias("removed"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("hit").alias("n_redacted"),
            F.sum("removed").alias("chars_removed"),
        )
        .orderBy("event_type")
    )


EVENTS_PII_SCRUB_SQL = rf"""
WITH s AS (
  SELECT event_type, props,
         regexp_replace(props, '{_PII_RE}', '{_PII_SUB.replace("'", "''")}', 'g')
           AS scrubbed
  FROM events)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN scrubbed <> props THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted,
       CAST(SUM(length(props) - length(scrubbed)) AS BIGINT) AS chars_removed
FROM s
GROUP BY event_type
ORDER BY event_type
"""


# ===========================================================================
# Deterministic per-group reservoir sample
# ===========================================================================

_RES_K = 20
_RES_SALTS = 16  # shard fan-out for the mergeable per-group sample


def docs_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per language — the distributed
    'reservoir': rank docs inside each language by md5(doc_id) and keep
    the first {k}.  Hash-rank top-k is exactly the mergeable form of
    reservoir sampling (the top-k by hash of a union IS the top-k of the
    merged per-shard top-ks), so shards sample independently and
    combine without coordination — unlike classic reservoir state, and
    unlike Bernoulli sampling (`docs_mixture_sample`) this guarantees
    the sample SIZE.  Executed in exactly that mergeable form: per
    (lang, salt) shard keep the k smallest hashes as a sorted struct
    slice, then merge-and-re-truncate per language — no language's full
    corpus ever meets one reducer, and the merge sees at most
    salts x k structs per group."""
    from ..operators.selection import salted_topk

    (docs,) = _t(spark, sf_dir, "documents")
    key = F.struct(
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.col("doc_id").alias("doc_id"),
        F.col("n_chars").alias("n_chars"),
    )
    merged = salted_topk(
        docs,
        group_by=["lang"],
        key=key,
        k=_RES_K,
        salt=F.pmod(F.col("doc_id"), F.lit(_RES_SALTS)),
        out_col="tk",
    )
    return (
        merged.select("lang", F.posexplode("tk").alias("pos", "s"))
        .select(
            "lang",
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.n_chars").alias("n_chars"),
            (F.col("pos") + 1).cast("int").alias("rank"),
        )
        .orderBy("lang", "rank")
    )


docs_reservoir_sample.__doc__ = (docs_reservoir_sample.__doc__ or "").format(
    k=_RES_K
)


DOCS_RESERVOIR_SAMPLE_SQL = f"""
SELECT lang, doc_id, n_chars,
       CAST(ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
            AS INTEGER) AS rank
FROM documents
QUALIFY rank <= {_RES_K}
ORDER BY lang, rank
"""


# ===========================================================================
# A/B experiment lift readout
# ===========================================================================

def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis: users hash-split into arms (md5 parity — the
    same deterministic assignment an experimentation system ships), per
    arm the click→purchase conversion is counted, and the lift is
    reported as a floor-quantized ratio of ratios (integer-exact
    cross-engine; consumers descale by 1e6).  One pass to per-user
    flags, one aggregation; no joins."""
    (ev,) = _t(spark, sf_dir, "events")
    arm = (hashing.md5_int(F.col("user_id").cast("string")) % 2).alias("arm")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("clicked"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("purchased"),
        )
        .select(arm, "clicked", "purchased")
    )
    return (
        per_user.groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("clicked").cast("long").alias("n_clicked"),
            F.sum("purchased").cast("long").alias("n_purchased"),
            F.floor(
                F.sum("purchased").cast("double")
                / F.sum("clicked").cast("double")
                * F.lit(1e6)
            ).cast("long").alias("conv_q6"),
        )
        .orderBy("arm")
    )


EVENTS_AB_LIFT_SQL = f"""
WITH per_user AS (
  SELECT {hashing.md5_int_sql('CAST(user_id AS VARCHAR)')} % 2 AS arm,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
  FROM events GROUP BY user_id)
SELECT arm, COUNT(*) AS n_users,
       CAST(SUM(clicked) AS BIGINT) AS n_clicked,
       CAST(SUM(purchased) AS BIGINT) AS n_purchased,
       CAST(floor(CAST(SUM(purchased) AS DOUBLE) / CAST(SUM(clicked) AS DOUBLE)
                  * 1000000.0) AS BIGINT) AS conv_q6
FROM per_user
GROUP BY arm
ORDER BY arm
"""


# ===========================================================================
# Contrastive negative sampling
# ===========================================================================

_NEG_K = 2


def docs_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative sampling for contrastive training: each anchor document
    draws {k} deterministic pseudo-random partners by hashing
    (anchor, draw) onto the corpus's dense rank ring — the
    hash-onto-ranks construction that replaces a shuffle-the-corpus
    random permutation at scale.  The ring (global dense rank by doc_id)
    is built with the two-pass partition-offset index — range-repartition
    by doc_id, rank locally within each range, add the broadcast prefix
    sum of partition counts — so no task ever sees more than one range
    of the corpus (a bare ``row_number() OVER (ORDER BY doc_id)`` would
    serialize every row through one reducer).  The draw is an equi-join
    on the ring position (co-partitioned shuffle, no broadcast of the
    corpus, no driver sampling).  Self-pairs are dropped rather than
    redrawn (exactly reproducible; the occasional missing draw is the
    documented trade)."""
    from ..operators.selection import sharded_prefix

    (docs,) = _t(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    ring = sharded_prefix(
        docs.select(F.col("doc_id").alias("partner_id")),
        order_by=["partner_id"],
        value=F.lit(1),
        agg="sum",
        out_col="rk",
    ).select("partner_id", F.col("rk").cast("int").alias("ring_pos"))
    draws = (
        docs.select("doc_id")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.explode(
                F.array(*[F.lit(j) for j in range(1, _NEG_K + 1)])
            ).alias("draw"),
            "n_corpus",
        )
        .withColumn(
            "ring_pos",
            (
                hashing.md5_int(
                    F.concat_ws(":", F.col("doc_id"), F.col("draw"))
                )
                % F.col("n_corpus")
                + 1
            ).cast("int"),
        )
    )
    return (
        draws.join(ring, "ring_pos")
        .filter(F.col("doc_id") != F.col("partner_id"))
        .select("doc_id", "draw", "partner_id")
        .orderBy("doc_id", "draw")
    )


docs_negative_pairs.__doc__ = (docs_negative_pairs.__doc__ or "").format(
    k=_NEG_K
)


DOCS_NEGATIVE_PAIRS_SQL = f"""
WITH n AS (SELECT COUNT(*) AS n_corpus FROM documents),
ring AS (
  SELECT doc_id AS partner_id,
         CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS INTEGER) AS ring_pos
  FROM documents),
draws AS (
  SELECT d.doc_id, CAST(j.draw AS INTEGER) AS draw,
         CAST({hashing.md5_int_sql("CAST(d.doc_id AS VARCHAR) || ':' || CAST(j.draw AS VARCHAR)")}
              % n.n_corpus + 1 AS INTEGER) AS ring_pos
  FROM documents d
  CROSS JOIN (SELECT unnest(range(1, {_NEG_K + 1})) AS draw) j
  CROSS JOIN n)
SELECT dr.doc_id, dr.draw, r.partner_id
FROM draws dr JOIN ring r ON r.ring_pos = dr.ring_pos
WHERE dr.doc_id <> r.partner_id
ORDER BY dr.doc_id, dr.draw
"""


# ===========================================================================
# Hashing-trick featurization census
# ===========================================================================

_FH_DIM = 32


_BUDGET_TOKENS = 20_000   # global token budget B
_BUDGET_PRIO_SCALE = 10_000  # integer priority = stop_hits*SCALE div n_tokens


def docs_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-ordered corpus selection under a GLOBAL token budget:
    rank every document by an integer quality priority (stopword density —
    the fluency proxy — as ``stop_hits*{s} div n_tokens``, floor division
    so both engines agree exactly), then keep documents in priority order
    while the running token total stays within B={b} tokens — the "fill a
    fixed training-token budget with the best data first" step every LLM
    data pipeline ends with.

    Scale: the running total over the priority order is THE canonical
    single-reducer trap (a corpus-sized ``SUM OVER (ORDER BY ...)``); here
    it runs as the range-sharded two-pass prefix scan
    (``operators/selection.sharded_prefix``): local prefix per priority
    shard + a broadcast carry-in of #shards boundary rows, so no task ever
    holds more than one shard of the order at any corpus size.  The
    per-doc scoring pass is one narrow projection.
    """
    from ..operators.selection import sharded_prefix

    (docs,) = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        text.token_count(F.col("text")).alias("n_tokens"),
        text.quality_priority(F.col("text"), _BUDGET_PRIO_SCALE).alias("priority"),
    )
    ordered = scored.withColumn("nprio", -F.col("priority"))
    cum = sharded_prefix(
        ordered,
        order_by=["nprio", "doc_id"],
        value=F.col("n_tokens"),
        agg="sum",
        inclusive=True,
        out_col="cum_tokens",
    )
    return (
        cum.filter(F.col("cum_tokens") <= _BUDGET_TOKENS)
        .select("doc_id", "n_tokens", "priority", "cum_tokens")
        .orderBy(F.col("priority").desc(), "doc_id")
    )


docs_token_budget.__doc__ = (docs_token_budget.__doc__ or "").format(
    s=_BUDGET_PRIO_SCALE, b=_BUDGET_TOKENS
)


DOCS_TOKEN_BUDGET_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         {text.token_count_sql('text')} AS n_tokens,
         {text.quality_priority_sql('text', _BUDGET_PRIO_SCALE)} AS priority
  FROM documents),
cum AS (
  SELECT doc_id, n_tokens, priority,
         CAST(SUM(n_tokens) OVER (
              ORDER BY priority DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM scored)
SELECT doc_id, n_tokens, priority, cum_tokens
FROM cum
WHERE cum_tokens <= {_BUDGET_TOKENS}
ORDER BY priority DESC, doc_id
"""


def events_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (the linear-model/embedding-input
    prep): every (key=value) pair of the JSON payload plus the event
    type hashes into a fixed {d}-bucket feature space — no vocabulary
    build, no dictionary shuffle, the property that makes the trick the
    scale answer for sparse categorical features.  The gate emits the
    corpus-level feature census (bucket → count, distinct event types
    contributing); the per-row vector is the same explode before the
    aggregation.  Collisions are part of the contract and the census is
    how you size {d}."""
    (ev,) = _t(spark, sf_dir, "events")
    kv = ev.select(
        "event_type",
        F.explode(
            F.map_entries(F.from_json(F.col("props"), "map<string,string>"))
        ).alias("e"),
    ).select(
        "event_type",
        F.concat_ws("=", F.col("e.key"), F.col("e.value")).alias("feat"),
    )
    tagged = kv.select(
        "event_type",
        (hashing.md5_int(F.concat_ws("|", "event_type", "feat")) % _FH_DIM)
        .cast("int")
        .alias("bucket"),
    )
    return (
        tagged.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .orderBy("bucket")
    )


events_feature_hash.__doc__ = (events_feature_hash.__doc__ or "").format(
    d=_FH_DIM
)


EVENTS_FEATURE_HASH_SQL = f"""
WITH keys AS (
  SELECT event_type, props, unnest(json_keys(props)) AS key FROM events),
kv AS (
  SELECT event_type,
         key || '=' || json_extract_string(props, '$.' || key) AS feat
  FROM keys),
tagged AS (
  SELECT event_type,
         CAST({hashing.md5_int_sql("event_type || '|' || feat")} % {_FH_DIM}
              AS INTEGER) AS bucket
  FROM kv)
SELECT bucket, COUNT(*) AS n_hits,
       COUNT(DISTINCT event_type) AS n_types
FROM tagged
GROUP BY bucket
ORDER BY bucket
"""


# ===========================================================================
# Asymmetric shingle containment (quote / subset detection)
# ===========================================================================

_CONTAIN_T = 0.6


def docs_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-duplication: containment(A in B) = |A∩B| / |A|
    over informative word-3-gram shingles.  Jaccard (``dedup_ngram_
    jaccard``) misses the quote/subset case — a short doc wholly embedded
    in a long one has low Jaccard but containment ≈ 1, which is the
    signal dedup pipelines use to keep the superset and drop the
    fragment.

    Reuses the shared capped shingle set (hot-df shingles dropped, one
    materialization feeds all consumers); common counts come from ONE
    unordered-pair join (doc1 < doc2) and both directions are emitted by
    a 2-row explode — half the join fan-out of a naive ordered-pair
    formulation.  Shuffles: the shingle equi-join + one aggregation."""
    from .extensions import _shingle_set

    sh = _shingle_set(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n_sh").alias("n2"))
    both = (
        common.join(s1, "doc1").join(s2, "doc2")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc1").alias("src"), F.col("doc2").alias("dst"),
                        F.col("common"),
                        (F.col("common") / F.col("n1")).alias("containment"),
                    ),
                    F.struct(
                        F.col("doc2").alias("src"), F.col("doc1").alias("dst"),
                        F.col("common"),
                        (F.col("common") / F.col("n2")).alias("containment"),
                    ),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst", "p.common", "p.containment")
    )
    return (
        both.filter(F.col("containment") >= _CONTAIN_T)
        .orderBy("src", "dst")
    )


DOCS_CONTAINMENT_SQL = f"""
WITH sh_all AS (
  SELECT DISTINCT doc_id, {hashing.md5_int_sql('shingle')} AS h
  FROM (SELECT doc_id, unnest({text.shingles_sql('text', 3)}) AS shingle
        FROM documents)),
hot AS (SELECT h FROM sh_all GROUP BY h HAVING COUNT(*) > 50),
sh AS (SELECT * FROM sh_all WHERE h NOT IN (SELECT h FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY doc1, doc2),
joined AS (
  SELECT doc1, doc2, common, s1.n_sh AS n1, s2.n_sh AS n2
  FROM common
  JOIN sizes s1 ON s1.doc_id = doc1
  JOIN sizes s2 ON s2.doc_id = doc2),
both_dir AS (
  SELECT doc1 AS src, doc2 AS dst, common, common * 1.0 / n1 AS containment
  FROM joined
  UNION ALL
  SELECT doc2 AS src, doc1 AS dst, common, common * 1.0 / n2 AS containment
  FROM joined)
SELECT src, dst, common, containment
FROM both_dir
WHERE containment >= {_CONTAIN_T}
ORDER BY src, dst
"""


# ===========================================================================
# BPE merge-candidate induction (one step)
# ===========================================================================

_BPE_TOPK = 25


def docs_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One step of BPE vocabulary induction: the top adjacent-symbol-pair
    merge candidates, counted over the corpus *word-frequency table* —
    exactly how tokenizer training scores its next merge.  Two
    aggregations: (word, freq) first (the explode's output is bounded by
    vocabulary, not corpus, after the map-side combine), then character
    pairs weighted by word frequency.  No Python in the pair generation —
    substring over a sequence is a JVM higher-order expression.  At
    100 TB the word-frequency table IS the intermediate a tokenizer
    trainer persists; each merge iteration is this same tiny-output
    aggregation."""
    (docs,) = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(text.words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = vocab.select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1),"
                   " i -> substring(word, i, 2))")
        ).alias("pair"),
    )
    w = Window.orderBy(F.col("weight").desc(), F.col("pair"))
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("freq").alias("weight"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BPE_TOPK)
        .orderBy("rank")
    )


DOCS_BPE_PAIRS_SQL = f"""
WITH vocab AS (
  SELECT word, COUNT(*) AS freq
  FROM (SELECT unnest({text.words_sql('text')}) AS word FROM documents)
  GROUP BY word
  HAVING length(word) >= 2),
pairs AS (
  SELECT freq,
         unnest(list_transform(range(1, length(word)),
                               i -> substring(word, i, 2))) AS pair
  FROM vocab),
counted AS (
  SELECT pair, CAST(SUM(freq) AS BIGINT) AS weight, COUNT(*) AS n_words
  FROM pairs GROUP BY pair)
SELECT pair, weight, n_words,
       CAST(ROW_NUMBER() OVER (ORDER BY weight DESC, pair) AS INTEGER) AS rank
FROM counted
QUALIFY rank <= {_BPE_TOPK}
ORDER BY rank
"""


# ===========================================================================
# BPE encode: apply the learned merge table
# ===========================================================================

_BPE_ENC_K = 8  # merge-table size applied by the encoder


def _bpe_merges(vocab: DataFrame) -> list[str]:
    """The top-K merge table, learned exactly as ``docs_bpe_pairs`` learns
    it (char pairs over the word-frequency table, ranked weight desc then
    pair asc) and collected — a ≤K-row bounded collect, the same pattern
    as the k-means / IVF centroid seeds.  The oracle replays the identical
    deterministic learning in SQL, so both engines apply the same table.
    ``vocab`` is the (word, freq) frequency table."""
    pairs = vocab.filter(F.length("word") >= 2).select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1),"
                   " i -> substring(word, i, 2))")
        ).alias("pair"),
    )
    # global window over the char-pair table — bounded by |charset|^2,
    # not the corpus (same exemption as docs_bpe_pairs)
    w = Window.orderBy(F.col("weight").desc(), F.col("pair"))
    ranked = (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("weight"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BPE_ENC_K)
        .orderBy("rank")
    )
    return [r["pair"] for r in ranked.collect()]


def _bpe_token_count(word, merges: list[str]):
    """Tokens left after applying ``merges`` in rank order: each merge is
    one left fold over the symbol array (merge the leftmost eligible
    adjacent pair, continue after it — the canonical non-overlapping BPE
    scan; a symbol merged this round is 2 chars long, so it can never
    re-match a single-char pair within the same fold).  Pure JVM
    higher-order expressions — no UDF, no shuffle, O(K·len) per word."""
    arr = F.transform(
        F.sequence(F.lit(1), F.length(word)), lambda i: word.substr(i, F.lit(1))
    )
    def make_step(a: str, b: str, p: str):
        def step(acc, s):
            return F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == a)
                & (s == b),
                F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                         F.array(F.lit(p))),
            ).otherwise(F.concat(acc, F.array(s)))

        return step

    for p in merges:
        arr = F.aggregate(
            arr, F.array().cast("array<string>"), make_step(p[0], p[1], p)
        )
    return F.size(arr).cast("long")


def docs_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the tokenizer loop: ENCODE the corpus with the merge table
    ``docs_bpe_pairs`` learns — per-document token counts under the
    tokenizer plus the corpus token total, the number a training-data
    budget actually needs (whitespace counts drift 20–40% from
    tokenizer counts; mixtures and packing plans are sized in tokens).

    Merges apply in rank order; each is a left fold over the word's
    symbol array (leftmost non-overlapping, the canonical BPE apply).
    The folds run over the DISTINCT vocabulary — the Zipf-bounded
    (word, freq) table a tokenizer trainer already materializes, encoded
    once however often each word repeats — and token counts join back to
    the exploded corpus (broadcast while the vocab fits, shuffle-join on
    word beyond that).  At 100 TB that is the whole point: encode cost
    scales with |vocab|, not |corpus words|; the corpus pays only its
    per-doc aggregation shuffle.  The merge table itself is a ≤8-row
    bounded collect; the oracle re-learns the identical table in SQL and
    replays the same folds as one position-stepping recursive CTE over
    the distinct vocabulary."""
    out, total = _bpe_doc_tokens(spark, sf_dir)
    # No trailing orderBy: the driver compare is row-order-insensitive and
    # the sort's range sampler would re-execute the join+rollup lineage
    # for nothing.
    return out.crossJoin(F.broadcast(total))


def _bpe_doc_tokens(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared BPE tokenization rollup: (per-doc frame ``doc_id, n_words,
    n_tokens``, 1-row corpus-total frame), session-cached per (session,
    fixture) like the LSH bucket index — production tokenizes a corpus
    ONCE and then budgets/packs/reports against the persisted counts, so
    every consumer after the first reads the materialized table instead
    of re-learning merges and re-folding the vocabulary."""
    from .extensions import _session_table

    per = _session_table(
        spark, sf_dir, "bpe_doc_tokens",
        lambda: _bpe_doc_tokens_build(spark, sf_dir),
    )
    total = per.agg(
        F.sum("n_tokens").cast("long").alias("corpus_tokens")
    )
    return per, total


def _bpe_vocab_tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, n_tok): the deployed tokenizer as a table — the vocab
    with each word's BPE token count under the learned merges.
    Session-cached per (session, fixture): production learns the
    tokenizer once and every consumer (rollup, budget, stream metering)
    applies the same table."""
    from .extensions import _session_table

    def build() -> DataFrame:
        (docs,) = _t(spark, sf_dir, "documents")
        # single-file fixtures scan as 1 partition — spread pre-explode
        spread = docs.select("doc_id", "text").repartitionByRange(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
        wpd = spread.select(
            "doc_id", F.explode(text.words(F.col("text"))).alias("word")
        )
        vocab = (
            wpd.groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
            .localCheckpoint()
        )
        merges = _bpe_merges(vocab)
        return vocab.select(
            "word", "freq",
            _bpe_token_count(F.col("word"), merges).alias("n_tok"),
        )

    return _session_table(spark, sf_dir, "bpe_vocab_tok", build)


def _bpe_doc_tokens_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The uncached rollup (vocab fold + per-doc join), materialized once
    per (session, fixture) by the caller."""
    (docs,) = _t(spark, sf_dir, "documents")
    # single-file fixtures scan as 1 partition — spread before the explode.
    # (Measured alternative: checkpointing the (doc_id, word, cnt) table —
    # one corpus explode total — materializes |docs|·|words-per-doc| rows
    # and came out ~0.9 s SLOWER at sf0.1; the explode rerun is cheaper
    # than that write+read.)
    spread = docs.select("doc_id", "text").repartitionByRange(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    wpd = spread.select(
        "doc_id", F.explode(text.words(F.col("text"))).alias("word")
    )
    vocab_tok = _bpe_vocab_tok(spark, sf_dir)
    # no broadcast hint: the vocab side is checkpointed, so AQE sees its
    # real size and broadcasts while it fits — beyond that (a 100 TB
    # corpus's vocabulary) the join degrades to a shuffle on word instead
    # of a forced driver collect
    per = (
        wpd.join(vocab_tok.drop("freq"), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    out = (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        )
    )
    return out


_BPE_DOC_TOKENS_CTES = f"""
docw AS (SELECT doc_id, {text.words_sql('text')} AS ws FROM documents),
vocab0 AS (SELECT word, COUNT(*) AS freq
           FROM (SELECT unnest(ws) AS word FROM docw) GROUP BY word
           HAVING length(word) >= 2),
bpairs AS (SELECT freq, unnest(list_transform(range(1, length(word)),
                               i -> substring(word, i, 2))) AS pair
           FROM vocab0),
merges AS (
  SELECT pair,
         CAST(ROW_NUMBER() OVER (ORDER BY weight DESC, pair) AS INTEGER) AS rank
  FROM (SELECT pair, SUM(freq) AS weight FROM bpairs GROUP BY pair)
  QUALIFY rank <= {_BPE_ENC_K}),
mlist AS (SELECT list(pair ORDER BY rank) AS ps FROM merges),
vocab AS (SELECT DISTINCT unnest(ws) AS word FROM docw),
enc AS (
  SELECT word,
         list_transform(range(1, length(word)+1),
                        i -> substring(word, i, 1)) AS syms,
         1 AS k, CAST(1 AS BIGINT) AS i, CAST([] AS VARCHAR[]) AS acc
  FROM vocab
  UNION ALL
  SELECT word,
    CASE WHEN i > len(syms) THEN acc ELSE syms END,
    CASE WHEN i > len(syms) THEN k + 1 ELSE k END,
    CASE WHEN i > len(syms) THEN CAST(1 AS BIGINT) ELSE i + 1 END,
    CASE WHEN i > len(syms) THEN CAST([] AS VARCHAR[])
         WHEN len(acc) > 0 AND acc[-1] = substring(ps[k], 1, 1)
              AND syms[CAST(i AS INT)] = substring(ps[k], 2, 1)
           THEN acc[:len(acc)-1] || [ps[k]]
         ELSE acc || [syms[CAST(i AS INT)]] END
  FROM enc, mlist
  WHERE k <= len(ps) AND NOT (k = len(ps) AND i > len(syms))
),
tok AS (
  SELECT word, CAST(len(acc) AS BIGINT) AS n_tok
  FROM enc, mlist WHERE k = len(ps) AND i = len(syms) + 1
  UNION ALL
  -- degenerate corpus (no length>=2 words): the merge table is empty,
  -- the recursion never starts, and every word encodes to its chars —
  -- mirroring the Spark side's zero-fold path
  SELECT word, CAST(length(word) AS BIGINT) AS n_tok
  FROM vocab WHERE (SELECT COALESCE(len(ps), 0) FROM mlist) = 0),
perdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens
  FROM (SELECT doc_id, unnest(ws) AS word FROM docw) JOIN tok USING (word)
  GROUP BY doc_id)"""

# the shared WITH-chain above computes per-doc BPE token counts; the two
# gates differ only in their final SELECT
DOCS_BPE_ENCODE_SQL = f"""
WITH RECURSIVE
{_BPE_DOC_TOKENS_CTES}
SELECT d.doc_id,
       COALESCE(p.n_words, 0) AS n_words,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       t.corpus_tokens
FROM (SELECT doc_id FROM documents) d
LEFT JOIN perdoc p USING (doc_id)
CROSS JOIN (SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens
            FROM perdoc) t
ORDER BY d.doc_id
"""


# ===========================================================================
# Persisted BPE tokenizer artifacts
# ===========================================================================

_BPE_ARTIFACT_FORMAT = 1
# vocab_tok/'s schema as ``_write_bpe_artifacts`` writes it
_BPE_VOCAB_TOK_SCHEMA = "word string, freq bigint, n_tok bigint"


def _bpe_artifact_path(sf_dir: str) -> str:
    from ..operators import ann_index as ai

    return ai.index_path(sf_dir) + "_bpe"


def _write_bpe_artifacts(spark: SparkSession, sf_dir: str, path: str,
                         fp: str, params: dict) -> None:
    """The tokenizer TRAIN JOB — the only place merges are learned and the
    vocabulary is folded.  Writes ``merges/`` (the rank-ordered merge
    table: THE tokenizer, what a real pipeline version-controls) and
    ``vocab_tok/`` (the deployed (word, freq, n_tok) encode table), then
    the manifest LAST (``write_index``'s crash discipline).  Kept as a
    named seam so the fresh-session test can make it raise."""
    from ..operators import ann_index as ai
    from ..operators import artifact_io

    artifact_io.delete(path.rstrip("/") + "/manifest.json", spark=spark)
    (docs,) = _t(spark, sf_dir, "documents")
    spread = docs.select("doc_id", "text").repartitionByRange(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    vocab = (
        spread.select(F.explode(text.words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .persist()
    )
    merges = _bpe_merges(vocab)
    from ..inline import inline_table

    inline_table(
        spark, [(i + 1, p) for i, p in enumerate(merges)],
        "rank int, pair string",
    ).coalesce(1).write.mode("overwrite").parquet(
        path.rstrip("/") + "/merges"
    )
    (
        vocab.select(
            "word", "freq",
            _bpe_token_count(F.col("word"), merges).alias("n_tok"),
        )
        .write.mode("overwrite").parquet(path.rstrip("/") + "/vocab_tok")
    )
    vocab.unpersist()
    ai.write_manifest(
        path,
        {"format": _BPE_ARTIFACT_FORMAT, "fingerprint": fp, **params},
        spark=spark,
    )


def docs_bpe_persisted_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``docs_bpe_encode`` with the TOKENIZER's lifetime moved to storage —
    the deployment shape every training pipeline uses: a train job learns
    the merge table once and writes it (plus the folded (word, n_tok)
    encode table) as versioned artifacts; every later session tokenizes
    against the stored table without re-learning merges or re-folding the
    vocabulary.  Serve cost is the per-doc rollup only: explode corpus
    words, join the stored vocab table (AQE broadcasts while it fits,
    shuffle-joins on word beyond that), one per-doc aggregation —
    identical output and oracle to the in-session gate, so persistence
    changed the tokenizer's lifetime, not its token counts
    (``tests/test_bpe_persisted.py`` serves a fresh session with merge
    learning AND vocabulary folding forcibly disabled).

    At 100 TB: the artifacts are Zipf-bounded (vocabulary, not corpus);
    the corpus pays one explode + one join + one aggregation per report,
    and the fingerprint manifest invalidates on corpus change exactly like
    the ANN/LSH index tiers."""
    from ..operators import ann_index as ai
    from .extensions import _cached_lsh_fingerprint

    (docs,) = _t(spark, sf_dir, "documents")
    path = _bpe_artifact_path(sf_dir)
    fp = _cached_lsh_fingerprint(spark, sf_dir, docs)
    params = {"enc_k": _BPE_ENC_K}
    m = ai.read_manifest(path, spark=spark)
    current = (
        m is not None
        and m.get("format") == _BPE_ARTIFACT_FORMAT
        and m.get("fingerprint") == fp
        and all(m.get(k) == v for k, v in params.items())
    )
    if not current:
        _write_bpe_artifacts(spark, sf_dir, path, fp, params)
    vocab_tok = spark.read.schema(_BPE_VOCAB_TOK_SCHEMA).parquet(
        path.rstrip("/") + "/vocab_tok"
    )
    spread = docs.select("doc_id", "text").repartitionByRange(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    wpd = spread.select(
        "doc_id", F.explode(text.words(F.col("text"))).alias("word")
    )
    per = (
        wpd.join(vocab_tok.select("word", "n_tok"), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )
    out = (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        )
    )
    total = per.agg(
        F.sum("n_tokens").cast("long").alias("corpus_tokens")
    )
    return out.crossJoin(F.broadcast(total))


# ===========================================================================
# Token budget under the REAL tokenizer
# ===========================================================================

_BUDGET_BPE_TOKENS = 60_000  # global budget in BPE tokens


def docs_token_budget_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``docs_token_budget`` with the budget measured in REAL tokenizer
    tokens: the per-doc counts come from applying the learned BPE merge
    table (``docs_bpe_encode``'s rollup) instead of whitespace counting —
    whitespace counts drift 20–40% from tokenizer counts, and a training
    budget is spent in tokenizer tokens, so this is the form the
    selection actually runs in production.  Priority is the same integer
    stopword-density score; the running total over the priority order is
    the same range-sharded two-pass prefix scan
    (``operators/selection.sharded_prefix``), so no reducer ever holds
    more than one shard of the order at any corpus size."""
    from ..operators.selection import sharded_prefix

    (docs,) = _t(spark, sf_dir, "documents")
    per, _ = _bpe_doc_tokens(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        text.quality_priority(F.col("text"), _BUDGET_PRIO_SCALE).alias(
            "priority"
        ),
    ).join(per.select("doc_id", F.col("n_tokens").alias("n_tokens_bpe")),
           "doc_id")
    ordered = scored.withColumn("nprio", -F.col("priority"))
    cum = sharded_prefix(
        ordered,
        order_by=["nprio", "doc_id"],
        value=F.col("n_tokens_bpe"),
        agg="sum",
        inclusive=True,
        out_col="cum_tokens",
    )
    return (
        cum.filter(F.col("cum_tokens") <= _BUDGET_BPE_TOKENS)
        .select("doc_id", "n_tokens_bpe", "priority", "cum_tokens")
        .orderBy(F.col("priority").desc(), "doc_id")
    )


DOCS_TOKEN_BUDGET_BPE_SQL = f"""
WITH RECURSIVE
{_BPE_DOC_TOKENS_CTES},
scored AS (
  SELECT d.doc_id,
         COALESCE(p.n_tokens, 0) AS n_tokens_bpe,
         {text.quality_priority_sql('d.text', _BUDGET_PRIO_SCALE)} AS priority
  FROM documents d LEFT JOIN perdoc p USING (doc_id)),
cum AS (
  SELECT doc_id, n_tokens_bpe, priority,
         CAST(SUM(n_tokens_bpe) OVER (
              ORDER BY priority DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens
  FROM scored)
SELECT doc_id, n_tokens_bpe, priority, cum_tokens
FROM cum
WHERE cum_tokens <= {_BUDGET_BPE_TOKENS}
ORDER BY priority DESC, doc_id
"""


# ===========================================================================
# Pipeline yield funnel
# ===========================================================================

_YIELD_MIN_TOK = 20     # hard length floor after dedup


def docs_pipeline_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel report — docs and tokens surviving each stage
    of a composed cleaning pipeline (raw → exact dedup → length floor →
    eval-set decontamination), the yield table every corpus build emits
    so a mixture plan knows what it actually has left.

    Each stage filters the PREVIOUS stage's survivors (a real composed
    pipeline, not four independent filters), and the whole funnel is one
    lazy plan: the union of four scalar aggregates over progressively
    filtered variants of the same scan, so Spark shares the underlying
    scan and the funnel costs ~one corpus pass per stage with no driver
    materialization between stages.  Same stage rules as the standalone
    gates: survivor = min doc_id per fingerprint (``dedup_exact``),
    benchmark slice + shingle width from ``docs_decontaminate``.
    """
    (docs,) = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "text",
        text.fingerprint(F.col("text")).alias("fp"),
        text.token_count(F.col("text")).alias("n_tok"),
    )
    # per-doc stage-survival FLAGS instead of per-stage re-filtered
    # branches: the dedup survivor test is a fp-partitioned min window
    # (one shuffle, replaces the groupBy+self-join), and all four stage
    # memberships ride the same rows — so the whole funnel reduces in ONE
    # conditional aggregate over one corpus pass (7 parquet scans in the
    # per-stage-union form -> 3: flags, the contamination explode branch,
    # and the tiny eval slice).  What matters at 100 TB is the pass count.
    fpw = Window.partitionBy("fp")
    flagged = (
        toks.withColumn("in_s2", F.col("doc_id") == F.min("doc_id").over(fpw))
        .withColumn(
            "in_s3", F.col("in_s2") & (F.col("n_tok") >= _YIELD_MIN_TOK)
        )
        .withColumn("is_train", F.col("doc_id") % _DECON_EVAL_MOD != 0)
    )
    sh = F.explode(text.shingles(F.col("text"), _DECON_N)).alias("shingle")
    eval_sh = (
        docs.filter(F.col("doc_id") % _DECON_EVAL_MOD == 0)
        .select(sh)
        .distinct()
    )
    contam = (
        flagged.filter(F.col("in_s3") & F.col("is_train"))
        .select("doc_id", sh)
        .join(F.broadcast(eval_sh), "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(True))
    )
    final = flagged.join(contam, "doc_id", "left").withColumn(
        "in_s4",
        F.col("in_s3") & F.col("is_train") & F.col("is_contam").isNull(),
    )

    def cnt(flag):
        return F.sum(F.when(flag, 1).otherwise(0))

    def tok(flag):
        return F.sum(F.when(flag, F.col("n_tok")).otherwise(0))

    agg = final.agg(
        F.count(F.lit(1)).alias("c1"), F.sum("n_tok").alias("t1"),
        cnt(F.col("in_s2")).alias("c2"), tok(F.col("in_s2")).alias("t2"),
        cnt(F.col("in_s3")).alias("c3"), tok(F.col("in_s3")).alias("t3"),
        cnt(F.col("in_s4")).alias("c4"), tok(F.col("in_s4")).alias("t4"),
    )
    return agg.select(
        F.expr(
            "stack(4, 1, 'raw', c1, t1, 2, 'exact_dedup', c2, t2, "
            "3, 'length_floor', c3, t3, 4, 'decontaminated', c4, t4) "
            "AS (stage_idx, stage, n_docs, n_tokens)"
        )
    ).orderBy("stage_idx")


DOCS_PIPELINE_YIELD_SQL = f"""
WITH toks AS (
  SELECT doc_id, text, {text.fingerprint_sql('text')} AS fp,
         {text.token_count_sql('text')} AS n_tok
  FROM documents),
s2 AS (
  SELECT t.* FROM toks t
  JOIN (SELECT fp, MIN(doc_id) AS doc_id FROM toks GROUP BY fp) k
    ON t.fp = k.fp AND t.doc_id = k.doc_id),
s3 AS (SELECT * FROM s2 WHERE n_tok >= {_YIELD_MIN_TOK}),
eval_sh AS (
  SELECT DISTINCT unnest({text.shingles_sql('text', _DECON_N)}) AS shingle
  FROM documents WHERE doc_id % {_DECON_EVAL_MOD} = 0),
train AS (SELECT * FROM s3 WHERE doc_id % {_DECON_EVAL_MOD} <> 0),
contam AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest({text.shingles_sql('text', _DECON_N)}) AS shingle
        FROM train) x
  JOIN eval_sh USING (shingle)),
s4 AS (SELECT * FROM train WHERE doc_id NOT IN (SELECT doc_id FROM contam))
SELECT stage_idx, stage, n_docs, n_tokens FROM (
  SELECT CAST(1 AS INTEGER) AS stage_idx, 'raw' AS stage,
         COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM toks
  UNION ALL
  SELECT CAST(2 AS INTEGER), 'exact_dedup', COUNT(*),
         CAST(SUM(n_tok) AS BIGINT) FROM s2
  UNION ALL
  SELECT CAST(3 AS INTEGER), 'length_floor', COUNT(*),
         CAST(SUM(n_tok) AS BIGINT) FROM s3
  UNION ALL
  SELECT CAST(4 AS INTEGER), 'decontaminated', COUNT(*),
         CAST(SUM(n_tok) AS BIGINT) FROM s4)
ORDER BY stage_idx
"""


# ===========================================================================
# DSIR-style importance scoring (data selection via importance resampling)
# ===========================================================================

_DSIR_B = 256           # hashed-feature buckets (DSIR's hashed n-grams)
_DSIR_TOPK = 50         # selection budget: docs promoted into the target mix


def docs_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score each out-of-domain
    document by how much more likely its hashed unigram features are
    under the target-domain distribution than under the raw pool, and
    take the top selection budget.

    Both distributions are hashed-feature bag-of-words models with
    add-one smoothing, estimated in the same plan: target = the ``en``
    slice, raw pool = everything else.  The per-doc importance weight is
    the summed probability difference rather than the summed log-ratio —
    with common denominators it reduces to an exact BIGINT numerator
    (``(c_t(b)+1)*(R+B) - (c_r(b)+1)*(T+B)`` summed over the doc's
    feature instances), so the score is order-independent and
    bit-identical across engines (libm ``log`` is not; same rule as the
    LM/TF-IDF/PMI gates) while ranking documents identically to the
    probability-difference weight.

    Scale: one corpus pass explodes words to hash buckets (narrow); the
    feature table is FIXED at {b} buckets however large the corpus — it
    broadcasts; totals are one scalar aggregate; scoring is one hash
    aggregation keyed on doc_id.  No vocabulary-sized state anywhere —
    the hashing trick is exactly what makes DSIR run at web scale.
    """
    from .extensions import _docs_by_range

    (docs,) = _t(spark, sf_dir, "documents")
    # range-partition the one-row-group scan so the word explode feeding
    # both distribution estimates runs on every core (guide §2.5)
    inst = _docs_by_range(docs, "lang", "text").select(
        "doc_id",
        (F.col("lang") == "en").alias("is_target"),
        F.explode(text.words(F.col("text"))).alias("w"),
    ).select(
        "doc_id", "is_target",
        (hashing.md5_int(F.col("w")) % _DSIR_B).alias("bucket"),
    # vacuous (md5 of a never-null exploded word): the scored join infers
    # isnotnull(bucket) on its buckets branch while the totals branch has
    # no such filter, so without this the two (bucket) exchange subtrees
    # differ and the corpus-wide explode ran TWICE (the q15/tfidf
    # canonical-subtree lesson; executed pair in
    # plans/r15/docs_dsir_score_{before,after}_exec.txt)
    ).where(F.col("bucket").isNotNull())
    buckets = inst.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("c_t"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).alias("c_r"),
    )
    totals = buckets.agg(
        F.sum("c_t").alias("t_total"), F.sum("c_r").alias("r_total")
    )
    scored = (
        inst.filter(~F.col("is_target"))
        .join(F.broadcast(buckets), "bucket")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "term",
            (F.col("c_t") + 1) * (F.col("r_total") + _DSIR_B)
            - (F.col("c_r") + 1) * (F.col("t_total") + _DSIR_B),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("term").alias("dsir_num"),
        )
    )
    # top-k FIRST (TakeOrderedAndProject: per-partition heaps, k-row driver
    # merge), THEN rank the k survivors — a global row_number window over
    # the full scored corpus would serialize it through one task
    top = scored.orderBy(F.col("dsir_num").desc(), "doc_id").limit(_DSIR_TOPK)
    w = Window.orderBy(F.col("dsir_num").desc(), F.col("doc_id"))
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .orderBy("rank")
    )


docs_dsir_score.__doc__ = (docs_dsir_score.__doc__ or "").format(b=_DSIR_B)


DOCS_DSIR_SCORE_SQL = f"""
WITH inst AS (
  SELECT doc_id, lang = 'en' AS is_target,
         ({hashing.md5_int_sql('w')}) % {_DSIR_B} AS bucket
  FROM (SELECT doc_id, lang, unnest({text.words_sql('text')}) AS w
        FROM documents)),
buckets AS (
  SELECT bucket,
         SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS c_t,
         SUM(CASE WHEN is_target THEN 0 ELSE 1 END) AS c_r
  FROM inst GROUP BY bucket),
totals AS (
  SELECT SUM(c_t) AS t_total, SUM(c_r) AS r_total FROM buckets),
scored AS (
  SELECT doc_id, COUNT(*) AS n_words,
         CAST(SUM((c_t + 1) * (r_total + {_DSIR_B})
                  - (c_r + 1) * (t_total + {_DSIR_B})) AS BIGINT) AS dsir_num
  FROM inst JOIN buckets USING (bucket) CROSS JOIN totals
  WHERE NOT is_target
  GROUP BY doc_id)
SELECT doc_id, n_words, dsir_num,
       CAST(ROW_NUMBER() OVER (ORDER BY dsir_num DESC, doc_id) AS INTEGER)
         AS rank
FROM scored
QUALIFY rank <= {_DSIR_TOPK}
ORDER BY rank
"""


# ===========================================================================
# Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better": any long-enough token span that occurs
# more than once in the corpus is memorization fuel — flag every
# position of it, not just whole-document duplicates)
# ===========================================================================

_XSUB_K = 8   # span width in tokens: long enough that recurrence means copying


def docs_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup audit (the ExactSubstr pass of Lee et al.
    2022): a token position is duplicated iff the {k}-token span starting
    there occurs at least twice anywhere in the corpus — including
    elsewhere in the same document, which whole-document and shingle-set
    dedup both miss.  Output per document: total spans, duplicated spans,
    and the duplicated fraction (the curation signal used to cut or
    down-weight memorization fuel).

    Plan: ONE pass builds the positional span multiset (JVM-side
    split/transform, no UDF) and immediately folds it to (doc, span-hash,
    count) — spans travel as 60-bit hashes (3-int rows, never strings,
    and both engines hash identically so any collision is shared).  All
    downstream work runs on that pair table: global span totals are one
    map-side-combinable re-aggregation, and the verdict joins totals back
    and re-aggregates per doc — the raw gram stream is never computed
    twice and never shuffled raw.  At 100 TB every shuffle is
    hash-partitioned on keys that grow with unique content, not with
    corpus size squared — no suffix array, no sort of the whole corpus,
    which is exactly why production pipelines run this formulation of
    ExactSubstr."""
    (docs,) = _t(spark, sf_dir, "documents")
    pair = (
        docs.select(
            "doc_id",
            F.explode(
                text.positional_kgrams(F.col("text"), _XSUB_K)
            ).alias("gram"),
        )
        .select("doc_id", hashing.md5_int(F.col("gram")).alias("h"))
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # global span totals as an h-partitioned window sum over the pair
    # table: the old groupBy("h") + join-back evaluated the whole
    # gram-explode chain twice (Catalyst shares no subtrees); the window
    # rides one exchange of the folded (doc, h, c) rows — still
    # map-side-combined upstream, still keyed on unique content
    wh = Window.partitionBy("h")
    per = (
        pair.withColumn("tot", F.sum("c").over(wh))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_spans"),
            F.sum(F.when(F.col("tot") >= 2, F.col("c")).otherwise(0))
            .cast("bigint").alias("n_dup_spans"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).alias("n_dup_spans"),
            F.when(F.coalesce(F.col("n_spans"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(F.col("n_dup_spans") / F.col("n_spans"))
            .alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


_XSUB_GRAM_SQL = (
    "array_to_string(list_slice(tk, i, i + " + str(_XSUB_K - 1) + "), ' ')"
)

DOCS_EXACT_SUBSTRING_SQL = f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
  FROM documents),
g AS (
  SELECT doc_id, {hashing.md5_int_sql(_XSUB_GRAM_SQL)} AS h
  FROM toks, UNNEST(range(1, greatest(len(tk) - {_XSUB_K - 1}, 0) + 1)) t(i)),
c AS (SELECT h, COUNT(*) AS cnt FROM g GROUP BY h),
per AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_spans,
         CAST(SUM(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_spans
  FROM g JOIN c USING (h) GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(p.n_spans, 0) AS n_spans,
       COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
       CASE WHEN COALESCE(p.n_spans, 0) = 0 THEN 0.0
            ELSE p.n_dup_spans * 1.0 / p.n_spans END AS dup_frac
FROM documents d LEFT JOIN per p USING (doc_id)
ORDER BY d.doc_id
"""


_XSUB_YIELD_MAX = 0.5   # ExactSubstr stage: cut docs with > half their
                        # k-token spans duplicated within the stage corpus


def docs_pipeline_yield_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL production curation funnel — six composed stages, each
    filtering the previous stage's survivors, with per-stage doc AND token
    yields:

      1. raw
      2. exact_dedup      — min-doc_id survivor per normalized fingerprint
      3. near_dedup       — MinHash(16) 4×4-band LSH over stage-2
                            survivors (hot-bucket cap re-applied to the
                            stage corpus); a doc is cut when any bucket
                            pairs it with a lower-id survivor
      4. exact_substr     — Lee et al. ExactSubstr over stage-3 survivors:
                            cut when > {xmax} of a doc's {k}-token spans
                            recur anywhere in the stage corpus
      5. length_floor     — >= {mintok} tokens
      6. decontaminated   — training slice with no {n}-gram overlap
                            against the held-out benchmark slice

    Stage rules are the standalone gates' (``dedup_exact``,
    ``dedup_minhash_lsh``, ``docs_exact_substring_dedup``,
    ``docs_decontaminate``), composed — with ONE deliberate upgrade over
    the standalone near-dup rule: over-cap LSH buckets DEGRADE to
    deterministic representative sampling (``_capped_lsh_membership``:
    hash-rank top-{cap} members per bucket) instead of being dropped
    whole, so at saturation scale the stage still filters with bounded
    recall rather than silently becoming a no-op.  The near-dup drop set
    ("paired with a lower-id member in some bucket") is a (band, bkey)
    bucket-min window over the capped membership — never a bucket
    self-join, so there is no pair fan-out at all and the capped-LSH
    chain is evaluated once; span recurrence is map-side-combinable
    aggregation over the span-hash multiset, and contamination is a
    broadcast join against the eval shingle set.  The
    whole funnel is one lazy plan of per-doc survival flags folded by a
    single conditional aggregate — at 100 TB each stage boundary is where
    a production run would checkpoint survivors to parquet, and every
    shuffle here is hash-partitioned on content-derived keys, so the plan
    survives that split verbatim."""
    from .extensions import _LSH_MAX_BUCKET, _lsh_buckets_raw

    (docs,) = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "text",
        text.fingerprint(F.col("text")).alias("fp"),
        text.token_count(F.col("text")).alias("n_tok"),
    )
    fpw = Window.partitionBy("fp")
    s2f = toks.withColumn(
        "in_s2", F.col("doc_id") == F.min("doc_id").over(fpw)
    )
    s2_ids = s2f.filter(F.col("in_s2")).select("doc_id")

    # stage 3: banded LSH restricted to stage-2 survivors, hot-bucket
    # degradation re-applied to the restricted buckets (the stage corpus
    # IS the dedup input)
    bk = _capped_lsh_membership(
        _lsh_buckets_raw(spark, sf_dir).join(s2_ids, "doc_id")
    )
    nd_drop = _bucket_drop_ids(bk).withColumn("nd_dropped", F.lit(True))
    s3f = (
        s2f.join(nd_drop, "doc_id", "left")
        .withColumn("in_s3", F.col("in_s2") & F.col("nd_dropped").isNull())
    )
    s3_ids = s3f.filter(F.col("in_s3")).select("doc_id")

    # stage 4: ExactSubstr duplicated-span fraction WITHIN the stage-3
    # corpus (span totals count survivor occurrences only)
    pair = (
        docs.join(s3_ids, "doc_id")
        .select(
            "doc_id",
            F.explode(
                text.positional_kgrams(F.col("text"), _XSUB_K)
            ).alias("gram"),
        )
        .select("doc_id", hashing.md5_int(F.col("gram")).alias("h"))
        .groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # span totals via an h-partitioned window (one evaluation of the
    # gram-explode chain) — same rewrite as docs_exact_substring_dedup
    xs = (
        pair.withColumn("tot", F.sum("c").over(Window.partitionBy("h")))
        .groupBy("doc_id")
        .agg(
            (
                F.sum(F.when(F.col("tot") >= 2, F.col("c")).otherwise(0))
                / F.sum("c")
            ).alias("dup_frac")
        )
    )
    s4f = (
        s3f.join(xs, "doc_id", "left")
        .withColumn(
            "in_s4",
            F.col("in_s3")
            & (F.coalesce(F.col("dup_frac"), F.lit(0.0)) <= _XSUB_YIELD_MAX),
        )
        .withColumn("in_s5", F.col("in_s4") & (F.col("n_tok") >= _YIELD_MIN_TOK))
        .withColumn("is_train", F.col("doc_id") % _DECON_EVAL_MOD != 0)
    )

    # stage 6: decontamination of the stage-5 training slice
    sh = F.explode(text.shingles(F.col("text"), _DECON_N)).alias("shingle")
    eval_sh = (
        docs.filter(F.col("doc_id") % _DECON_EVAL_MOD == 0)
        .select(sh)
        .distinct()
    )
    # contamination is decided by (doc_id, text) alone, so probe the raw
    # training slice instead of the stage-5 survivor frame: restricting
    # the probe to in_s5 rows only shrank the set in_s6 already masks
    # (in_s6 conjoins in_s5), while re-deriving it from s4f re-evaluated
    # the entire four-stage funnel a second time for the probe side
    contam = (
        docs.filter(F.col("doc_id") % _DECON_EVAL_MOD != 0)
        .select("doc_id", sh)
        .join(F.broadcast(eval_sh), "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(True))
    )
    final = s4f.join(contam, "doc_id", "left").withColumn(
        "in_s6",
        F.col("in_s5") & F.col("is_train") & F.col("is_contam").isNull(),
    )

    def cnt(flag):
        return F.sum(F.when(flag, 1).otherwise(0))

    def tok(flag):
        return F.sum(F.when(flag, F.col("n_tok")).otherwise(0))

    agg = final.agg(
        F.count(F.lit(1)).alias("c1"), F.sum("n_tok").alias("t1"),
        cnt(F.col("in_s2")).alias("c2"), tok(F.col("in_s2")).alias("t2"),
        cnt(F.col("in_s3")).alias("c3"), tok(F.col("in_s3")).alias("t3"),
        cnt(F.col("in_s4")).alias("c4"), tok(F.col("in_s4")).alias("t4"),
        cnt(F.col("in_s5")).alias("c5"), tok(F.col("in_s5")).alias("t5"),
        cnt(F.col("in_s6")).alias("c6"), tok(F.col("in_s6")).alias("t6"),
    )
    return agg.select(
        F.expr(
            "stack(6, 1, 'raw', c1, t1, 2, 'exact_dedup', c2, t2, "
            "3, 'near_dedup', c3, t3, 4, 'exact_substr', c4, t4, "
            "5, 'length_floor', c5, t5, 6, 'decontaminated', c6, t6) "
            "AS (stage_idx, stage, n_docs, n_tokens)"
        )
    ).orderBy("stage_idx")


def _yield_doc_cap() -> int:
    from .extensions import _LSH_MAX_BUCKET

    return _LSH_MAX_BUCKET


docs_pipeline_yield_full.__doc__ = (docs_pipeline_yield_full.__doc__ or "").format(
    xmax=_XSUB_YIELD_MAX, k=_XSUB_K, mintok=_YIELD_MIN_TOK, n=_DECON_N,
    cap=_yield_doc_cap(),
)


def _capped_lsh_membership(bk: DataFrame) -> DataFrame:
    """Hot-bucket DEGRADATION for the funnel's near-dup stage: instead of
    dropping an over-cap (band, bkey) bucket whole (the standalone
    stoplist, which at saturation scale silently turns near-dedup into a
    no-op), keep the bucket's top-``_LSH_MAX_BUCKET`` members by
    deterministic hash rank (md5 of doc_id, id tie-break) as
    REPRESENTATIVES.  Under-cap buckets are untouched (every member's
    rank clears the cap); over-cap buckets still pair their
    representatives (realized as the bucket-min window in
    ``_bucket_drop_ids``, so no pair set is ever materialized), and
    recall degrades gracefully instead of to zero — the measured
    recall-vs-cap curve at saturation lives in ``SCALE_PROOF.md``."""
    from .extensions import _LSH_MAX_BUCKET

    rw = Window.partitionBy("band", "bkey").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        bk.withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= _LSH_MAX_BUCKET)
        .select("doc_id", "band", "bkey")
    )


def _bucket_drop_ids(bk: DataFrame) -> DataFrame:
    """Stage-3 drop set: docs paired with a LOWER-id member in any bucket.
    ``a.doc_id < b.doc_id`` pairs exist for exactly the members above their
    bucket's minimum doc_id, so the bucket self-join (which evaluated the
    whole capped-LSH chain twice and fanned out cap^2 rows per bucket) is
    a (band, bkey)-window min + filter — one evaluation, rides the same
    (band, bkey) exchange the cap window already made."""
    bw = Window.partitionBy("band", "bkey")
    return (
        bk.withColumn("mn", F.min("doc_id").over(bw))
        .filter(F.col("doc_id") > F.col("mn"))
        .select("doc_id")
        .distinct()
    )


def _pipeline_yield_full_sql() -> str:
    from .extensions import _LSH_MAX_BUCKET, _band_sql, _minhash_sig_sql

    gram = (
        "array_to_string(list_slice(tk, i, i + " + str(_XSUB_K - 1) + "), ' ')"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, text, {text.fingerprint_sql('text')} AS fp,
         {text.token_count_sql('text')} AS n_tok
  FROM documents),
s2 AS (
  SELECT t.* FROM toks t
  JOIN (SELECT fp, MIN(doc_id) AS doc_id FROM toks GROUP BY fp) k
    ON t.fp = k.fp AND t.doc_id = k.doc_id),
sig_all AS ({_minhash_sig_sql()}),
sig AS (SELECT s.* FROM sig_all s JOIN s2 USING (doc_id)),
b_all AS ({_band_sql('sig')}),
bk AS (
  SELECT doc_id, band, bkey FROM (
    SELECT b.*, ROW_NUMBER() OVER (
      PARTITION BY band, bkey
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
    FROM b_all b)
  WHERE rnk <= {_LSH_MAX_BUCKET}),
nd_drop AS (
  SELECT DISTINCT b.doc_id
  FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey
                     AND a.doc_id < b.doc_id),
s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM nd_drop)),
xg AS (
  SELECT doc_id, {hashing.md5_int_sql(gram)} AS h
  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS tk
        FROM s3),
       UNNEST(range(1, greatest(len(tk) - {_XSUB_K - 1}, 0) + 1)) t(i)),
xc AS (SELECT h, COUNT(*) AS cnt FROM xg GROUP BY h),
xs AS (
  SELECT doc_id,
         SUM(CASE WHEN xc.cnt >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
           AS dup_frac
  FROM xg JOIN xc USING (h) GROUP BY doc_id),
s4 AS (
  SELECT s3.* FROM s3 LEFT JOIN xs USING (doc_id)
  WHERE COALESCE(xs.dup_frac, 0.0) <= {_XSUB_YIELD_MAX}),
s5 AS (SELECT * FROM s4 WHERE n_tok >= {_YIELD_MIN_TOK}),
eval_sh AS (
  SELECT DISTINCT unnest({text.shingles_sql('text', _DECON_N)}) AS shingle
  FROM documents WHERE doc_id % {_DECON_EVAL_MOD} = 0),
train AS (SELECT * FROM s5 WHERE doc_id % {_DECON_EVAL_MOD} <> 0),
contam AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest({text.shingles_sql('text', _DECON_N)}) AS shingle
        FROM train) x
  JOIN eval_sh USING (shingle)),
s6 AS (SELECT * FROM train WHERE doc_id NOT IN (SELECT doc_id FROM contam))
SELECT stage_idx, stage, n_docs, n_tokens FROM (
  SELECT CAST(1 AS INTEGER) AS stage_idx, 'raw' AS stage,
         COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens FROM toks
  UNION ALL
  SELECT CAST(2 AS INTEGER), 'exact_dedup', COUNT(*),
         CAST(SUM(n_tok) AS BIGINT) FROM s2
  UNION ALL
  SELECT CAST(3 AS INTEGER), 'near_dedup', COUNT(*),
         CAST(SUM(n_tok) AS BIGINT) FROM s3
  UNION ALL
  SELECT CAST(4 AS INTEGER), 'exact_substr', COUNT(*),
         CAST(SUM(n_tok) AS BIGINT) FROM s4
  UNION ALL
  SELECT CAST(5 AS INTEGER), 'length_floor', COUNT(*),
         CAST(SUM(n_tok) AS BIGINT) FROM s5
  UNION ALL
  SELECT CAST(6 AS INTEGER), 'decontaminated', COUNT(*),
         CAST(SUM(n_tok) AS BIGINT) FROM s6)
ORDER BY stage_idx
"""


DOCS_PIPELINE_YIELD_FULL_SQL = _pipeline_yield_full_sql()


# ===========================================================================
# Checkpointable funnel: per-stage survivor parquet + resume
# ===========================================================================

_FUNNEL_FORMAT = 2  # v2: stage-3 hot buckets degrade to representative
                    # sampling instead of the drop-whole stoplist
_FUNNEL_STAGES = [
    "raw", "exact_dedup", "near_dedup", "exact_substr",
    "length_floor", "decontaminated",
]


def _funnel_path(sf_dir: str) -> str:
    from ..operators import ann_index as ai

    return ai.index_path(sf_dir) + "_funnel"


def _funnel_stage_dir(path: str, idx: int) -> str:
    return path.rstrip("/") + f"/s{idx}"


def _funnel_stage(spark: SparkSession, path: str, idx: int) -> DataFrame:
    """Stage ``idx``'s survivors, read with the (doc_id, n_tok) schema
    every stage writes."""
    return spark.read.schema("doc_id bigint, n_tok bigint").parquet(
        _funnel_stage_dir(path, idx)
    )


def _funnel_stage_build(spark: SparkSession, sf_dir: str, path: str,
                        idx: int) -> None:
    """Compute stage ``idx``'s survivors (doc_id, n_tok) FROM the previous
    stage's checkpoint parquet and write them to this stage's directory.
    Each stage applies exactly the rule ``docs_pipeline_yield_full``
    applies lazily — proven equal by the shared oracle and
    ``tests/test_funnel_resume.py``."""
    from .extensions import _LSH_MAX_BUCKET, _lsh_buckets_raw

    (docs,) = _t(spark, sf_dir, "documents")

    if idx == 1:
        out = docs.select(
            "doc_id", text.token_count(F.col("text")).alias("n_tok")
        )
    elif idx == 2:
        prev = _funnel_stage(spark, path, 1)
        fps = docs.join(prev.select("doc_id"), "doc_id").select(
            "doc_id", text.fingerprint(F.col("text")).alias("fp")
        )
        w = Window.partitionBy("fp")
        keep = (
            fps.withColumn("m", F.min("doc_id").over(w))
            .filter(F.col("doc_id") == F.col("m"))
            .select("doc_id")
        )
        out = prev.join(keep, "doc_id")
    elif idx == 3:
        prev = _funnel_stage(spark, path, 2)
        bk = _capped_lsh_membership(
            _lsh_buckets_raw(spark, sf_dir).join(
                prev.select("doc_id"), "doc_id"
            )
        )
        out = prev.join(_bucket_drop_ids(bk), "doc_id", "left_anti")
    elif idx == 4:
        prev = _funnel_stage(spark, path, 3)
        pair = (
            docs.join(prev.select("doc_id"), "doc_id")
            .select(
                "doc_id",
                F.explode(
                    text.positional_kgrams(F.col("text"), _XSUB_K)
                ).alias("gram"),
            )
            .select("doc_id", hashing.md5_int(F.col("gram")).alias("h"))
            .groupBy("doc_id", "h")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        # h-partitioned window totals: one evaluation of the gram-explode
        # chain (same rewrite as docs_exact_substring_dedup)
        xs = (
            pair.withColumn(
                "tot", F.sum("c").over(Window.partitionBy("h"))
            )
            .groupBy("doc_id")
            .agg(
                (
                    F.sum(F.when(F.col("tot") >= 2, F.col("c")).otherwise(0))
                    / F.sum("c")
                ).alias("dup_frac")
            )
        )
        out = (
            prev.join(xs, "doc_id", "left")
            .filter(
                F.coalesce(F.col("dup_frac"), F.lit(0.0)) <= _XSUB_YIELD_MAX
            )
            .select("doc_id", "n_tok")
        )
    elif idx == 5:
        out = _funnel_stage(spark, path, 4).filter(
            F.col("n_tok") >= _YIELD_MIN_TOK
        )
    elif idx == 6:
        prev = _funnel_stage(spark, path, 5).filter(
            F.col("doc_id") % _DECON_EVAL_MOD != 0
        )
        sh = F.explode(text.shingles(F.col("text"), _DECON_N)).alias("shingle")
        eval_sh = (
            docs.filter(F.col("doc_id") % _DECON_EVAL_MOD == 0)
            .select(sh)
            .distinct()
        )
        contam = (
            docs.join(prev.select("doc_id"), "doc_id")
            .select("doc_id", sh)
            .join(F.broadcast(eval_sh), "shingle")
            .select("doc_id")
            .distinct()
        )
        out = prev.join(contam, "doc_id", "left_anti")
    else:  # pragma: no cover - bounded by _FUNNEL_STAGES
        raise ValueError(f"funnel stage {idx} out of range")
    out.write.mode("overwrite").parquet(_funnel_stage_dir(path, idx))


def docs_pipeline_resumable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``docs_pipeline_yield_full`` with the checkpointing its docstring
    promises made REAL: each stage materializes its survivor ids (+ token
    counts) to parquet under the artifact root, a stage manifest records
    completion AFTER each stage's write lands (the ``write_index``
    manifest-last discipline, applied per stage), and a rerun RESUMES from
    the first unrecorded stage — a run killed between stages repeats only
    the interrupted stage, never the finished ones
    (``tests/test_funnel_resume.py`` kills stage 4 and proves stages 1-3
    are not recomputed).

    The yield report is computed from the checkpoints alone, so it is
    byte-identical to the one-shot lazy plan's (same oracle).  At 100 TB
    this is the only deployable shape for a multi-day curation run: stage
    boundaries are restart points, survivors are plain parquet any
    downstream consumer can read, and a corpus change invalidates via the
    same fingerprint manifest the index artifacts use."""
    from ..operators import ann_index as ai
    from ..operators import artifact_io
    from .extensions import _cached_lsh_fingerprint

    (docs,) = _t(spark, sf_dir, "documents")
    path = _funnel_path(sf_dir)
    fp = _cached_lsh_fingerprint(spark, sf_dir, docs)
    params = {
        "xsub_k": _XSUB_K, "xsub_max": _XSUB_YIELD_MAX,
        "min_tok": _YIELD_MIN_TOK, "decon_n": _DECON_N,
        "eval_mod": _DECON_EVAL_MOD,
    }
    m = ai.read_manifest(path, spark=spark)
    current = (
        m is not None
        and m.get("format") == _FUNNEL_FORMAT
        and m.get("fingerprint") == fp
        and all(m.get(k) == v for k, v in params.items())
    )
    if not current:
        artifact_io.delete(path, recursive=True, spark=spark)
        ai.write_manifest(
            path,
            {"format": _FUNNEL_FORMAT, "fingerprint": fp, **params,
             "stages_done": []},
            spark=spark,
        )
        m = ai.read_manifest(path, spark=spark)
    done = set(m.get("stages_done", []))
    for idx in range(1, len(_FUNNEL_STAGES) + 1):
        if idx in done:
            continue
        _funnel_stage_build(spark, sf_dir, path, idx)
        done.add(idx)
        # durability point: recorded only after the stage parquet landed
        ai.update_manifest(path, spark=spark, stages_done=sorted(done))

    reports = [
        _funnel_stage(spark, path, idx)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("bigint")
            .alias("n_tokens"),
        )
        .select(
            F.lit(idx).cast("int").alias("stage_idx"),
            F.lit(name).alias("stage"),
            "n_docs", "n_tokens",
        )
        for idx, name in enumerate(_FUNNEL_STAGES, 1)
    ]
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("stage_idx")


SPECS = [
    QuerySpec(
        "docs_pipeline_yield_full", docs_pipeline_yield_full,
        DOCS_PIPELINE_YIELD_FULL_SQL,
        "six-stage curation funnel: exact + MinHash-LSH + ExactSubstr "
        "dedup, length floor, decontamination — per-stage doc/token yields",
    ),
    QuerySpec(
        "docs_pipeline_resumable", docs_pipeline_resumable,
        DOCS_PIPELINE_YIELD_FULL_SQL,
        "the funnel with REAL per-stage parquet checkpoints + stage "
        "manifest: a killed run resumes from the last completed stage",
    ),
    QuerySpec(
        "docs_exact_substring_dedup", docs_exact_substring_dedup,
        DOCS_EXACT_SUBSTRING_SQL,
        "ExactSubstr dedup audit: duplicated k-token span fraction per doc",
    ),
    QuerySpec(
        "docs_decontaminate", docs_decontaminate, DOCS_DECONTAMINATE_SQL,
        "benchmark decontamination: n-gram overlap vs held-out eval slice",
    ),
    QuerySpec(
        "docs_dsir_score", docs_dsir_score, DOCS_DSIR_SCORE_SQL,
        "DSIR importance resampling: hashed-feature domain log-ratio top-k",
    ),
    QuerySpec(
        "docs_pipeline_yield", docs_pipeline_yield, DOCS_PIPELINE_YIELD_SQL,
        "curation funnel: docs/tokens surviving each composed stage",
    ),
    QuerySpec(
        "docs_token_pack", docs_token_pack, DOCS_TOKEN_PACK_SQL,
        "concat-and-chunk sequence packing manifest per source shard",
    ),
    QuerySpec(
        "docs_boilerplate_strip", docs_boilerplate_strip,
        DOCS_BOILERPLATE_STRIP_SQL,
        "drop corpus-boilerplate words; per-doc before/after audit",
    ),
    QuerySpec(
        "docs_repetition", docs_repetition, DOCS_REPETITION_SQL,
        "intra-doc repeated n-gram fraction (generated-text signal)",
    ),
    QuerySpec(
        "docs_mixture_weights", docs_mixture_weights, DOCS_MIXTURE_WEIGHTS_SQL,
        "per-source token shares + uniform-mixture resampling weights",
    ),
    QuerySpec(
        "docs_mixture_sample", docs_mixture_sample, DOCS_MIXTURE_SAMPLE_SQL,
        "deterministic hash-threshold resampling toward the uniform mixture",
    ),
    QuerySpec(
        "events_pii_scrub", events_pii_scrub, EVENTS_PII_SCRUB_SQL,
        "regexp PII scrub of JSON payloads with per-type audit",
    ),
    QuerySpec(
        "docs_containment", docs_containment, DOCS_CONTAINMENT_SQL,
        "directional shingle containment: quote/subset near-dup signal",
    ),
    QuerySpec(
        "docs_bpe_pairs", docs_bpe_pairs, DOCS_BPE_PAIRS_SQL,
        "BPE merge-candidate induction over the word-frequency table",
    ),
    QuerySpec(
        "docs_bpe_encode", docs_bpe_encode, DOCS_BPE_ENCODE_SQL,
        "apply the learned BPE merge table: per-doc + corpus token counts",
    ),
    QuerySpec(
        "docs_bpe_persisted_encode", docs_bpe_persisted_encode,
        DOCS_BPE_ENCODE_SQL,
        "tokenize against PERSISTED merge-table + vocab artifacts: fresh "
        "sessions never re-learn merges or re-fold the vocabulary",
    ),
    QuerySpec(
        "docs_token_budget_bpe", docs_token_budget_bpe,
        DOCS_TOKEN_BUDGET_BPE_SQL,
        "quality-ordered selection under a budget of REAL tokenizer tokens",
    ),
    QuerySpec(
        "docs_reservoir_sample", docs_reservoir_sample,
        DOCS_RESERVOIR_SAMPLE_SQL,
        "fixed-k per-group hash-rank sample (mergeable reservoir form)",
    ),
    QuerySpec(
        "events_ab_lift", events_ab_lift, EVENTS_AB_LIFT_SQL,
        "A/B arms by hash parity; conversion ratios as quantized integers",
    ),
    QuerySpec(
        "docs_negative_pairs", docs_negative_pairs, DOCS_NEGATIVE_PAIRS_SQL,
        "contrastive negative sampling: hash-onto-ranks partner draws",
    ),
    QuerySpec(
        "events_feature_hash", events_feature_hash, EVENTS_FEATURE_HASH_SQL,
        "hashing-trick featurization census over JSON key=value pairs",
    ),
    QuerySpec(
        "docs_token_budget", docs_token_budget, DOCS_TOKEN_BUDGET_SQL,
        "greedy quality-ordered selection under a global token budget "
        "(range-sharded prefix scan, no global window)",
    ),
]
