"""Training-data curation operators: PII redaction, C4/Gopher-style quality
filtering, deterministic train/val/test splits, and sequence packing.

These are the remaining "what a 100 TB LLM-data pipeline needs" ops beyond
dedup/similarity (SURVEY §2.2 extension pack). All are pure column
expressions — JVM-side, whole-stage-codegen'd, no Python in the hot path —
so they scan-scale linearly and fuse with upstream filters.

Scale notes:
* PII redaction and quality signals are per-row `regexp_replace`/`split`
  expressions → embarrassingly parallel, no shuffle.
* The split assignment is a pure hash of a stable key — no shuffle, and
  reproducible across runs/engines (md5, not engine-specific `hash()`).
* Sequence packing is inherently order-dependent; we pack within shards
  (partition keys like ``lang``) so each shard's running sum is an
  independent window — the 100 TB layout packs per input file/shard, never
  a global single-partition window.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import normalize_text
from crowdsorsa_etl_spark.operators.global_rank import with_global_cumsum

# --------------------------------------------------------------------------
# PII redaction
# --------------------------------------------------------------------------

# RE2-safe patterns (no lookaround) so the same regex runs identically under
# Java (Spark) and RE2 (DuckDB/Go tooling). Order matters: emails first so
# the phone pattern can't eat the digits in a local-part.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+[0-9]{1,3}-[0-9]{1,4}-[0-9]{3,10}", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def redact_pii(col: Column) -> Column:
    """Replace emails, intl phone numbers, and IPv4 literals with typed tags."""
    out = col
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-category match counts (audit trail for redaction runs)."""
    return {name: F.regexp_count(col, F.lit(pat)) for name, pat, _ in PII_PATTERNS}


# --------------------------------------------------------------------------
# Quality filter (C4/Gopher-style composed rules)
# --------------------------------------------------------------------------

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")


def _tokens(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def quality_filter_signals(col: Column) -> dict[str, Column]:
    """The classic document-level quality signals.

    * ``n_tokens`` — C4 drops pages with <5 words; Gopher uses 50..100k.
    * ``distinct_ratio`` — Gopher repetition rule: heavily repeated docs
      (low distinct-token fraction) are boilerplate/spam.
    * ``stopword_ratio`` — Gopher requires ≥2 of a small stopword set;
      we use the fraction, which also proxies language-ID confidence.
    * ``mean_word_len`` — Gopher keeps 3..10 (garbage/code otherwise).
    """
    toks = _tokens(col)
    n = F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(F.size(toks))
    n_safe = F.when(n == 0, F.lit(1)).otherwise(n).cast("double")
    n_distinct = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    total_chars = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return {
        "n_tokens": n.cast("bigint"),
        "distinct_ratio": F.round(n_distinct / n_safe, 6),
        "stopword_ratio": F.round(n_stop / n_safe, 6),
        "mean_word_len": F.round(total_chars / n_safe, 6),
    }


def quality_filter_verdict(
    signals: dict[str, Column],
    min_tokens: int = 50,
) -> tuple[Column, Column]:
    """(keep, reason) — reason is the FIRST failing rule, 'ok' if kept.

    First-fail (not a reason list) keeps the output deterministic and makes
    per-rule drop attribution a plain groupBy downstream.
    """
    rules = [
        # NULL text ⇒ NULL signals ⇒ every comparison below is NULL and the
        # first-fail chain would fall through to 'ok' — catch it explicitly
        ("null_text", signals["n_tokens"].isNull()),
        ("too_short", signals["n_tokens"] < min_tokens),
        ("too_long", signals["n_tokens"] > 100_000),
        ("repetitive", signals["distinct_ratio"] < 0.05),
        ("no_stopwords", signals["stopword_ratio"] < 0.01),
        ("word_len", ~signals["mean_word_len"].between(1.0, 12.0)),
    ]
    reason = F.lit("ok")
    for name, cond in reversed(rules):
        reason = F.when(cond, F.lit(name)).otherwise(reason)
    return reason == "ok", reason


# --------------------------------------------------------------------------
# Deterministic train/val/test split
# --------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def hash_bucket(key: Column) -> Column:
    """Stable 0..255 bucket from the first two hex nibbles of the md5 of
    the key's string form.

    md5 (not Spark ``hash()``/``xxhash64``) so the assignment is identical
    in every engine and every Spark version — a training-data split must
    never silently reshuffle between runs.
    """
    h = F.md5(key.cast("string"))
    val = F.lit(0)
    for i in (1, 2):
        nib = F.instr(F.lit(_HEX), F.substring(h, i, 1)) - 1
        val = val * 16 + nib
    return (val % 256).cast("int")


def assign_split(key: Column) -> Column:
    """'train' / 'val' / 'test' (90 / 5 / 5 %) by hash bucket — stable,
    leak-free, joinless."""
    b = hash_bucket(key)
    return (
        F.when(b < 256 * 90 // 100, F.lit("train"))
        .when(b < 256 * 95 // 100, F.lit("val"))
        .otherwise(F.lit("test"))
    )


# --------------------------------------------------------------------------
# Sequence packing
# --------------------------------------------------------------------------


def pack_sequences(
    df: DataFrame,
    token_col: str,
    order_col: str,
    budget: int,
    shard_cols: list[str] | None = None,
) -> DataFrame:
    """Assign each doc to a contiguous fixed-token-budget bin (LLM batch
    packing). A doc lands in the bin where its FIRST token falls:
    ``bin = floor((cumsum_tokens - own_tokens) / budget)`` — contiguous
    greedy packing with boundary overflow, the deterministic variant used
    when exact bin balance matters less than a single streaming pass.

    Packing is sequential by nature; ``shard_cols`` bounds each window to a
    shard (file / lang / source) so no single-partition window exists at
    scale — each shard packs independently, exactly how distributed
    tokenizer pipelines shard their output.
    """
    shard_cols = shard_cols or []
    w = Window.partitionBy(*shard_cols).orderBy(order_col)
    cumsum = F.sum(token_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "pack_bin",
        F.floor((cumsum - F.col(token_col)) / F.lit(budget)).cast("bigint"),
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
) -> DataFrame:
    """Quota sampling to an ABSOLUTE per-``source`` token budget — the
    "mix this corpus as 30B tokens of web + 5B of code" primitive.
    ``llm_domain_mix`` keeps a fixed FRACTION per source; this keeps docs,
    in deterministic md5 order, until the source's token budget is
    exhausted.

    A doc (``n_tokens`` long) is kept when the budget is not yet spent at
    the doc's START (``cum - own < budget``): the document that crosses
    the budget line is taken whole, never truncated — matching how corpus
    mixers overshoot by at most one document rather than splitting one.

    Deterministic and engine-stable: the admission order is
    ``(md5('budget:' || key), key)`` — re-running the pipeline (or replaying
    it in another engine) admits the identical document set.

    Output: input columns + cum_tokens (bigint) + kept (boolean). A source
    without a budget keeps nothing.

    At 100 TB: one window per group key. A group that dominates the corpus
    makes that window a single reducer — for such skew, compute per-partition
    partial token sums first and broadcast the per-group partition offsets
    (the two-phase pattern in operators/global_rank.py); the admission rule
    is unchanged because the order key is hash-uniform.
    """
    order_key = F.md5(
        F.concat(F.lit("budget:"), F.col("doc_id").cast("string"))
    )
    w = (
        Window.partitionBy("source").orderBy(order_key, F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = F.lit(0)
    for g, b in sorted(budgets.items()):
        budget = F.when(F.col("source") == g, F.lit(b)).otherwise(budget)
    cum = F.sum("n_tokens").over(w).cast("bigint")
    return df.withColumn("cum_tokens", cum).withColumn(
        "kept", (F.col("cum_tokens") - F.col("n_tokens")) < budget
    )


def pack_token_sequences(
    df: DataFrame,
    ids_col: str,
    order_cols: list[Column],
    *,
    max_len: int,
    eos_id: int | None = None,
) -> DataFrame:
    """Pack token-id documents into FIXED-length training sequences — the
    step a dataloader actually consumes: concatenate every document's id
    stream (plus an optional ``eos_id`` separator after each doc) in
    ``order_cols`` order, then cut the global stream every ``max_len``
    tokens. GPT-style packing: sequences cross document boundaries, only
    the final sequence may be short.

    Output: ``(seq_id bigint, seq_len int, ids array<int>)`` —
    ``seq_id`` is the 0-based global sequence index, ids are in stream
    order.

    Distributed shape: the document offset comes from
    ``with_global_cumsum`` (range exchange + bounded per-partition offset
    fold — no single-partition window); each doc then emits ONE CHUNK ROW
    per training sequence it touches (``ceil(n/max_len)+1`` rows at most —
    ``F.sequence`` over the touched seq-id interval plus a codegen
    ``slice``), and the regroup by ``seq_id`` is one key-partitioned
    exchange over CHUNK ARRAYS. The exchange carries the same token bytes
    as a per-token explode but ~``max_len``× fewer rows (r16: the earlier
    posexplode form shuffled one 30+-byte row per 4-byte token — per-row
    framing dominated the shuffle). Within a sequence chunks are disjoint
    intervals, so sorting by the chunk's global start position and
    flattening reproduces the exact per-token order; ``seq_len`` is the
    sum of chunk sizes — both provably identical to the per-token form.
    At 100 TB this is exactly two shuffles over the token stream, both
    array-framed.
    """

    if max_len < 1:
        raise ValueError(f"max_len must be >= 1; got {max_len}")
    m = int(max_len)
    stream = df.withColumn(
        "_ids",
        F.concat(F.col(ids_col), F.array(F.lit(int(eos_id))))
        if eos_id is not None
        else F.col(ids_col),
    ).withColumn("_n", F.size("_ids").cast("bigint"))
    cum = with_global_cumsum(stream, order_cols, "_n", cum_col="_cum")
    # zero-token docs occupy no stream positions (possible with
    # eos_id=None): the seq-id interval would invert and F.sequence
    # DESCEND, so they are filtered exactly as in sequence_provenance
    off = cum.filter(F.col("_n") >= 1).select(
        (F.col("_cum") - F.col("_n")).alias("_off"), "_ids", "_n"
    )
    spanned = off.select(
        "_off",
        "_ids",
        "_n",
        # integer DIV, not floor(double /): exact past 2^53 tokens
        F.explode(
            F.sequence(
                F.expr(f"_off DIV {m}"), F.expr(f"(_off + _n - 1) DIV {m}")
            )
        ).alias("seq_id"),
    )
    # this doc's token sub-range [_s, _e) landing in sequence seq_id
    s_ix = F.greatest(F.lit(0), F.col("seq_id") * m - F.col("_off"))
    e_ix = F.least(F.col("_n"), (F.col("seq_id") + 1) * m - F.col("_off"))
    chunks = spanned.select(
        F.col("seq_id").cast("bigint").alias("seq_id"),
        (F.col("_off") + s_ix).alias("_gstart"),
        F.slice(
            "_ids", (s_ix + 1).cast("int"), (e_ix - s_ix).cast("int")
        ).alias("_chunk"),
    )
    return (
        chunks.groupBy("seq_id")
        .agg(
            F.sum(F.size("_chunk")).cast("int").alias("seq_len"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_gstart", "_chunk"))
                    ),
                    lambda s: s["_chunk"],
                )
            ).alias("ids"),
        )
        .select("seq_id", "seq_len", "ids")
    )


def sequence_provenance(
    df: DataFrame,
    n_col: str,
    order_cols: list[Column],
    *,
    max_len: int,
    count_eos: bool = True,
) -> DataFrame:
    """Which document occupies which token span of each packed training
    sequence — the attribution map :func:`pack_token_sequences` implies
    but does not emit. The map is what retroactive removal, licensing
    audits, and memorization tracing need: given a doc to forget, it
    names every sequence (and the exact token span inside it) the doc
    reached.

    Output: ``(seq_id bigint, doc_id, start_in_seq int, end_in_seq
    int)`` — 0-based, end-exclusive span inside the sequence; a doc
    crossing a cut yields one row per touched sequence. ``count_eos``
    counts the EOS separator as part of its document's span (matching
    the packer's stream layout).

    Distributed shape — and the point: provenance NEVER touches token
    ids. It is pure interval arithmetic over per-doc token counts — the
    global cumsum gives each doc's stream offset, ``F.sequence`` spans
    the touched sequence ids (a doc touches ceil(n/max_len)+1 of them at
    most), and the span bounds are codegen min/max — so the map costs
    one range exchange over DOC-count rows, not a token-level shuffle.
    """

    if max_len < 1:
        raise ValueError(f"max_len must be >= 1; got {max_len}")
    d = df.withColumn(
        "_n",
        (F.col(n_col) + F.lit(1 if count_eos else 0)).cast("bigint"),
    )
    cum = with_global_cumsum(d, order_cols, "_n", cum_col="_cum")
    # zero-token docs (possible with count_eos=False) occupy no stream
    # positions: without this guard the sequence bounds invert at exact
    # max_len multiples and F.sequence DESCENDS, emitting spurious spans
    off = cum.filter(F.col("_n") >= 1).withColumn(
        "_off", F.col("_cum") - F.col("_n")
    )
    m = int(max_len)
    spans = off.withColumn(
        "seq_id",
        F.explode(
            F.sequence(
                F.expr(f"_off DIV {m}"),
                F.expr(f"(_off + _n - 1) DIV {m}"),
            )
        ),
    )
    return spans.select(
        F.col("seq_id").cast("bigint").alias("seq_id"),
        F.col("doc_id"),
        F.greatest(F.lit(0), (F.col("_off") - F.col("seq_id") * m))
        .cast("int")
        .alias("start_in_seq"),
        F.least(
            F.lit(m), (F.col("_off") + F.col("_n") - F.col("seq_id") * m)
        )
        .cast("int")
        .alias("end_in_seq"),
    )


def mask_doc_spans(
    seqs: DataFrame,
    spans: DataFrame,
    forget: DataFrame,
    *,
    mask_id: int,
) -> DataFrame:
    """Apply a forget-list to packed training sequences: every token span
    the provenance map attributes to a forgotten document is overwritten
    with ``mask_id`` (the loss-masking form of retroactive removal — the
    sequence geometry is untouched, so shard files, sequence counts, and
    downstream curriculum state all stay valid).

    ``seqs`` is :func:`pack_token_sequences` output, ``spans`` is
    :func:`sequence_provenance` output, ``forget`` carries the ``doc_id``
    values to forget.

    Distributed shape: the forget set prunes the span map with a semi
    join (broadcast in the common small-forget-list case), affected spans
    group per sequence (key-partitioned, bounded by docs-per-sequence),
    and the mask itself is one codegen ``transform`` with an interval
    test — untouched sequences pass through a left join unmodified. No
    token-level shuffle: the only exchange over sequence rows is the
    seq_id equi-join.
    """
    hit = spans.join(
        forget.select(F.col("doc_id")).distinct(), "doc_id", "left_semi"
    )
    per_seq = hit.groupBy("seq_id").agg(
        F.collect_list(
            F.struct(
                F.col("start_in_seq").alias("s"),
                F.col("end_in_seq").alias("e"),
            )
        ).alias("_spans")
    )
    out = seqs.join(per_seq, "seq_id", "left")
    masked = F.when(F.col("_spans").isNull(), F.col("ids")).otherwise(
        F.transform(
            F.col("ids"),
            lambda x, i: F.when(
                F.exists(
                    F.col("_spans"),
                    lambda sp: (i >= sp["s"]) & (i < sp["e"]),
                ),
                F.lit(int(mask_id)),
            ).otherwise(x),
        )
    )
    return out.withColumn("ids", masked).drop("_spans")


def entropy_signals(docs: DataFrame) -> DataFrame:
    """(doc_id, entropy): Shannon entropy of the normalized character
    distribution, Arrow-batched.

    Arrow-batched because Spark's higher-order functions are
    CodegenFallback — every lambda element evaluates INTERPRETED over
    InternalRows, so a HOF form (``array_distinct`` × ``filter``-count)
    costs O(len × alphabet) interpreted evals per doc (≈ 12 s at sf0.1,
    ~20× this). Here the normalization stays Spark-side (single source
    of truth) and the counting is one Counter pass per doc inside an
    Arrow batch.
    Summation is over per-char terms each rounded to 1e-6, in sorted-char
    order — both engines sum identical multiples of 1e-6, so the
    re-rounded total is order-independent (registry convention).
    Docs whose normalized text is empty or NULL drop out, matching the
    SQL oracle's GROUP BY over exploded chars.
    """

    id_field = docs.schema["doc_id"]
    src = docs.select(
        F.col("doc_id"),
        normalize_text(F.col("text")).alias("_norm"),
    )

    def ent(batches):
        for pdf in batches:
            ids, es = [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["_norm"]):
                if not t:
                    continue
                n = len(t)
                total = 0.0
                for c in Counter(t).values():
                    p = c / n
                    total += round(-p * math.log(p), 6)
                ids.append(doc_id)
                es.append(round(total, 6))
            yield pd.DataFrame({"doc_id": ids, "entropy": es})

    return src.mapInPandas(
        ent, f"doc_id {id_field.dataType.simpleString()}, entropy double"
    )


def epoch_upsample(df: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Epoch-aware UPsampling — the >1× side of mixture construction
    (GPT-3/Dolma-style "repeat the high-quality sources": wiki ×3.5, books
    ×2, web ×1). ``hash_bucket`` downsampling covers rates < 1;
    this emits each document floor(w) times plus one extra epoch for a
    deterministic md5-bucket fraction of documents, so a group's expected
    token mass scales by exactly w while every emitted copy carries its
    epoch index (dataloaders shuffle epochs independently; dedup audits
    need to know which copies are intentional).

    Deterministic and engine-stable like ``llm_domain_mix``: the
    fractional-epoch admission is ``bucket('epoch:'||key) <
    (w - floor(w)) * 256`` — rerunning the pipeline (or replaying it in
    another engine) upsamples the identical documents. Fractional parts
    must be multiples of 1/256 (quarters, eighths, ...) so the threshold
    is exact in both engines' doubles.

    Joinless and fused into the scan: a literal CASE for the weight, one
    md5, one bounded ``sequence`` explode. Output: input columns +
    n_epochs (int) + epoch (int, 0-based).
    """
    w = F.lit(1.0)
    for g, x in sorted(weights.items()):
        if x < 0:
            raise ValueError(f"negative weight for {g!r}: {x}")
        w = F.when(F.col("source") == g, F.lit(float(x))).otherwise(w)
    full = F.floor(w).cast("int")
    bucket = hash_bucket(
        F.concat(F.lit("epoch:"), F.col("doc_id").cast("string"))
    )
    n_epochs = (
        full + (bucket < ((w - full) * 256).cast("int")).cast("int")
    ).alias("n_epochs")
    out = df.withColumn("n_epochs", n_epochs)
    # sequence(0, -1) would produce a DESCENDING range in Spark — guard
    # zero-epoch rows with an empty array instead
    epochs = F.when(
        F.col("n_epochs") > 0,
        F.sequence(F.lit(0), F.col("n_epochs") - 1),
    ).otherwise(F.array().cast("array<int>"))
    return out.withColumn("epoch", F.explode(epochs))


def type_token_growth(df: DataFrame, *, buckets: int = 10) -> DataFrame:
    """Heaps'-law type-token growth profile: cumulative token count and
    cumulative vocabulary size at ``buckets`` equal-width corpus prefixes
    (by ``doc_id`` order) — the curve a tokenizer/vocabulary design reads
    to see whether the corpus's vocabulary is saturating (V ≈ K·Nᵝ,
    β < 1) or still growing linearly (dirty OCR, id-like junk).

    Distribution shape: ONE word-keyed shuffle attributes each distinct
    word to its FIRST document (min id — new types are counted where they
    first appear, so the cumulative sum needs no distinct-per-prefix
    rescan); per-bucket sums then cumulate over a ``buckets``-row window
    (bounded state, no corpus-sized window). The id range arrives as a
    lazy 1-row broadcast, not a driver round-trip.

    Output: (bucket int, cum_tokens bigint, cum_vocab bigint).
    """

    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    words = df.select(
        F.col("doc_id").alias("_id"),
        F.explode(
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda w: F.length(w) > 0,
            )
        ).alias("word"),
    )
    bounds = df.agg(
        F.min("doc_id").cast("bigint").alias("_lo"),
        (F.max("doc_id") + 1).cast("bigint").alias("_hi"),
    )
    bucket = F.floor(
        (F.col("_id") - F.col("_lo")) * buckets / (F.col("_hi") - F.col("_lo"))
    ).cast("int")
    toks = (
        words.join(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
    )
    firsts = (
        words.groupBy("word")
        .agg(F.min("_id").alias("_id"))
        .join(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_new"))
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the window runs over <= `buckets` rows — SinglePartition over a
    # bounded aggregate result, not over the corpus
    return (
        toks.join(firsts, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .select(
            "bucket",
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
            F.sum("n_new").over(w).cast("bigint").alias("cum_vocab"),
        )
    )


def stratified_split(
    df: DataFrame,
    *,
    strata_cols: list[str],
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """EXACT stratified train/val/test split: within each stratum, docs
    rank by the deterministic (md5, key) order and the first
    ``floor(n·train_pct/100)`` go to train, the next
    ``floor(n·val_pct/100)`` to val, the rest to test — so every stratum
    (language, source) hits its proportions exactly, where
    ``assign_split``'s hash buckets only hit them in expectation (a
    300-doc language can lose its whole val set to hash variance; exact
    stratification is what a balanced multilingual eval needs).

    All integer arithmetic (counts × pct with `div`), so the cut ranks
    replay exactly in SQL. Deterministic and engine-stable like the other
    md5-ordered admissions: rerunning yields the identical split.

    Scale: one window per stratum key (rank + count) — a stratum that
    dominates the corpus makes that window a single reducer; for such
    skew use the two-phase per-partition-offsets pattern
    (operators/global_rank.py), the admission rule unchanged.

    Output: input columns + split ('train' | 'val' | 'test').
    """
    if not strata_cols:
        raise ValueError("strata_cols must be non-empty")
    if train_pct < 0 or val_pct < 0 or train_pct + val_pct > 100:
        raise ValueError(
            f"bad percentages: train={train_pct}, val={val_pct}"
        )
    order_key = F.md5(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy(*strata_cols).orderBy(order_key, F.col("doc_id"))
    ws = Window.partitionBy(*strata_cols)
    rank = F.row_number().over(w).cast("bigint")
    total = F.count(F.lit(1)).over(ws).cast("bigint")
    n_train = (total * train_pct).cast("bigint") - (
        (total * train_pct) % 100
    ).cast("bigint")
    n_train = (n_train / 100).cast("bigint")
    n_val = ((total * val_pct) - (total * val_pct) % 100) / 100
    n_val = n_val.cast("bigint")
    return df.withColumn(
        "split",
        F.when(rank <= n_train, F.lit("train"))
        .when(rank <= n_train + n_val, F.lit("val"))
        .otherwise(F.lit("test")),
    )
