"""Distributed BPE (byte-pair-encoding) vocabulary learning.

Sennrich et al., "Neural Machine Translation of Rare Words with Subword
Units" (ACL'16): repeatedly find the most frequent adjacent symbol pair in
the corpus and merge it into a new symbol. Real tokenizer trainers do this
over the WORD-COUNT dictionary, not the raw corpus — a 100 TB corpus
compresses to a vocabulary-sized (word, count) table after one map-side-
combined aggregation, and every merge iteration is then a small shuffle over
that table. This module follows the same shape:

1. ``words``  — one aggregation over the corpus: (word, count), cached once;
2. per merge iteration: explode adjacent symbol pairs of each word's
   current representation (weighted by word count), take the global
   argmax pair (ties broken by pair text — deterministic), rewrite the
   representations with the merged symbol;
3. output — the ordered merge table (merge_rank, pair, weighted_count),
   the artifact a tokenizer ships.

The argmax of each iteration is a single row; it is collected to the driver
to parameterize the next iteration's rewrite expression (the same bounded
k-rows-per-iteration round-trip contract as the IVF k-means trainer in
operators/similarity.py). The RETURNED DataFrame recomputes every
iteration's argmax as a genuine Spark aggregation — the collected values
steer plan construction only, and both computations are deterministic, so
they cannot disagree.

Merge application uses literal string ops shared verbatim by the DuckDB
oracle: the representation keeps symbols space-separated; doubling the
separators first makes one non-overlapping ``replace`` pass equal greedy
left-to-right BPE merging (consecutive occurrences "a b a b" no longer
share a delimiter after doubling, so none is missed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import normalize_text as _norm
from crowdsorsa_etl_spark.operators.checkpointing import materialize

__all__ = [
    "bpe_learn_merges",
    "bpe_merges_sql",
    "bpe_encode",
    "bpe_encode_sql",
    "bpe_vocab",
    "bpe_encode_ids",
    "bpe_token_ids_sql",
]

#: ceiling for the literal-expression encode chain when EXPLICITLY chosen
#: (``strategy="expression"``); beyond it the nested-transform chain blows
#: codegen/analysis budgets. ``strategy="auto"`` always picks the Arrow
#: batch path: Spark evaluates higher-order-function lambdas INTERPRETED
#: (they are outside whole-stage codegen), so the "narrow expression
#: chain" is plan-pretty but measured 11× slower than the memoized
#: mapInPandas loop even at 8 merges (5.7s vs 0.5s, sf0.1 warm). The
#: expression path stays as the zero-Python reference tier, parity-pinned
#: to the batch path.
_EXPR_MERGE_LIMIT = 64


def _merge_pat_rep(i: int, prefix: str = "") -> tuple[str, str]:
    """SQL pattern/replacement strings for merge stage ``b{i}``, NULL-safe:
    if the corpus exhausts pairs before stage ``i`` the ``b{i}`` scalar
    subqueries return NULL — coalesce the pattern symbols to chr(1) (cannot
    occur in a space-separated symbol stream) and the replacement to '' so
    the stage rewrites nothing instead of nulling every rep.

    ``prefix`` renames the stage CTEs (``{prefix}b{i}``) so two learn
    chains can compose in ONE statement (DuckDB rejects duplicate CTE
    aliases even across nesting levels)."""
    sym = lambda k: (  # noqa: E731
        f"coalesce((SELECT string_split(pair, ' ')[{k}]"
        f" FROM {prefix}b{i}), chr(1))"
    )
    pat = f"' ' || {sym(1)} || '  ' || {sym(2)} || ' '"
    rep = (
        f"' ' || coalesce((SELECT replace(pair, ' ', '')"
        f" FROM {prefix}b{i}), '') || ' '"
    )
    return pat, rep


def _char_spaced(col: Column) -> Column:
    """'key' -> 'k e y' (initial symbol sequence; ASCII corpus)."""
    return F.trim(F.regexp_replace(col, "(.)", "$1 "))


def _apply_merge(rep: Column, sym_a: str, sym_b: str) -> Column:
    """Merge every adjacent (sym_a, sym_b) in a space-separated symbol
    string, greedy left-to-right. Space-doubling makes consecutive
    occurrences non-overlapping for the single replace pass."""
    doubled = F.concat(
        F.lit(" "), F.replace(rep, F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    merged = F.replace(
        doubled,
        F.lit(f" {sym_a}  {sym_b} "),
        F.lit(f" {sym_a}{sym_b} "),
    )
    return F.trim(F.regexp_replace(merged, " +", " "))


def _pair_counts(words: DataFrame) -> DataFrame:
    """(pair, total): adjacent symbol pairs weighted by word count."""
    arr = F.split(F.col("rep"), " ")
    return (
        words.select(
            F.col("cnt"),
            F.explode(
                F.when(
                    F.size(arr) >= 2,
                    F.zip_with(
                        F.slice(arr, 1, F.size(arr) - 1),
                        F.slice(arr, 2, F.size(arr) - 1),
                        lambda x, y: F.concat_ws(" ", x, y),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pair"),
        )
        .groupBy("pair")
        .agg(F.sum("cnt").cast("bigint").alias("total"))
    )


def bpe_learn_merges(
    df: DataFrame,
    *,
    n_merges: int = 8,
    strategy: str = "auto",
    max_driver_words: int = 2_000_000,
    max_vocab_words: int | None = None,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges over the corpus.

    Output: (merge_rank int, pair string, total bigint) — one row per
    merge, in learned order. ``pair`` is the two symbols space-joined.

    ``max_vocab_words`` is the production-trainer discipline (SentencePiece
    ``--input_sentence_size``-style capping, HF tokenizers' frequency
    pruning): keep only the top-N words by count before the merge loop.
    The cap is a distributed top-N — ``TakeOrderedAndProject`` on
    (cnt DESC, rep ASC), a deterministic total order because ``rep`` is
    unique — so the dictionary entering the loop is BOUNDED at any corpus
    size: a 100 TB web corpus with 10^9 distinct words collapses to N rows
    and the driver merge loop is always viable at the 32k-merge design
    point. Zipf makes the truncation loss negligible: the dropped tail is
    hapax-legomena mass that cannot win a frequency argmax. With the cap
    set, ``strategy="auto"`` resolves to the driver loop by construction
    (the capped dictionary never exceeds ``max_driver_words`` unless the
    caller asks for a larger cap explicitly).

    ``strategy`` picks where the merge LOOP runs; the corpus aggregation is
    always distributed:

    - ``"driver"``: after the one map-side-combined aggregation collapses
      the corpus to the (word, count) dictionary — vocabulary-sized by
      construction, NOT corpus-sized — collect it and run the merge loop in
      memory with incremental pair-count maintenance (Sennrich et al.'s
      reference trainer shape). One Spark job total; a 32k-merge production
      vocabulary is a driver loop, not 32k sequential cluster jobs.
    - ``"distributed"``: one Spark job + ``materialize`` per merge. Only
      worthwhile when the word dictionary itself exceeds driver memory
      (dedup'd multi-language 100 TB corpora) — the wall-clock crossover
      strongly favors the driver loop everywhere else.
    - ``"auto"`` (default): driver loop when the dictionary has at most
      ``max_driver_words`` entries (one bounded count() probe), else the
      distributed loop.

    Both strategies are exact and bit-identical (same weighting, same
    (total DESC, pair ASC) argmax, same greedy left-to-right application);
    a parity test pins them to each other and to the DuckDB oracle.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if strategy not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    if max_vocab_words is not None and max_vocab_words < 1:
        raise ValueError(
            f"max_vocab_words must be >= 1, got {max_vocab_words}"
        )

    from crowdsorsa_etl_spark.operators.fanout import cpu_fanout

    # widen the narrow scan before the normalize+split+explode map side
    # (event-log profile: 2.0 s on ONE task at fixture scale; no-op at
    # cluster scale). Unlike unigram's word_counts — where the same
    # fanout measured slower and was reverted in r16 — this map side
    # carries the full _norm regex chain and dominated the learn's wall.
    words = (
        cpu_fanout(df.select(F.col("text")))
        .select(
            F.explode(F.split(_norm(F.col("text")), " ")).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(_char_spaced(F.col("word")).alias("rep"), "cnt")
    )
    if max_vocab_words is not None:
        # frequency cap: distributed top-N (TakeOrderedAndProject — each
        # partition keeps N rows, the driver merges N-sized heaps; no full
        # sort, no full shuffle). (cnt DESC, rep ASC) is a total order.
        words = words.orderBy(
            F.desc("cnt"), F.asc("rep")
        ).limit(max_vocab_words)
    # each iteration's argmax job and each output branch rescan this —
    # pin the aggregated dictionary instead of re-reading the corpus
    words = materialize(words)

    if strategy == "auto":
        if max_vocab_words is not None:
            # capped dictionary is bounded by construction — no probe job
            strategy = (
                "driver"
                if max_vocab_words <= max_driver_words
                else "distributed"
            )
        else:
            strategy = (
                "driver"
                if words.count() <= max_driver_words
                else "distributed"
            )
    if strategy == "driver":
        return _learn_merges_driver(words, n_merges)

    best_rows = []
    cur = words
    for i in range(1, n_merges + 1):
        pairs = _pair_counts(cur)
        ranked = pairs.orderBy(F.desc("total"), F.asc("pair")).limit(1)
        best_rows.append(
            ranked.select(
                F.lit(i).cast("int").alias("merge_rank"), "pair", "total"
            )
        )
        # bounded driver round-trip: exactly ONE row, to build the next
        # iteration's literal rewrite expression
        top = ranked.collect()
        if not top:  # corpus exhausted (every word is a single symbol)
            break
        sym_a, sym_b = top[0]["pair"].split(" ")
        cur = materialize(cur.select(
            _apply_merge(F.col("rep"), sym_a, sym_b).alias("rep"), "cnt"
        ))

    out = best_rows[0]
    for b in best_rows[1:]:
        out = out.unionAll(b)
    return out


def _learn_merges_driver(words: DataFrame, n_merges: int) -> DataFrame:
    """In-memory merge loop over the collected (rep, cnt) dictionary.

    Incremental pair-count maintenance: only words that contain the chosen
    pair are rewritten and have their contributions re-counted, so each
    iteration costs O(words touched), not O(dictionary). Semantics are
    identical to the distributed loop: adjacent-pair counts weighted by
    word count (overlapping occurrences each count), argmax by
    (total DESC, pair-text ASC), greedy left-to-right merge application.
    """
    spark = words.sparkSession
    reps: list[tuple[list[str], int]] = [
        (r["rep"].split(" "), r["cnt"]) for r in words.collect()
    ]

    pc: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for idx, (syms, c) in enumerate(reps):
        for p in zip(syms, syms[1:]):
            pc[p] = pc.get(p, 0) + c
            where.setdefault(p, set()).add(idx)

    out: list[tuple[int, str, int]] = []
    for rank in range(1, n_merges + 1):
        live = [(p, t) for p, t in pc.items() if t > 0]
        if not live:
            break
        (a, b), total = min(
            live, key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        out.append((rank, f"{a} {b}", total))
        merged = a + b
        # `where` may hold stale indices (the word was rewritten since) —
        # harmless: subtract-current / rewrite / add-current is a net no-op
        # for a word that no longer contains the pair.
        for idx in where.pop((a, b), ()):
            syms, c = reps[idx]
            for p in zip(syms, syms[1:]):
                pc[p] -= c
            new: list[str] = []
            j, n = 0, len(syms)
            while j < n:
                if j + 1 < n and syms[j] == a and syms[j + 1] == b:
                    new.append(merged)
                    j += 2
                else:
                    new.append(syms[j])
                    j += 1
            reps[idx] = (new, c)
            for p in zip(new, new[1:]):
                pc[p] = pc.get(p, 0) + c
                where.setdefault(p, set()).add(idx)
        pc.pop((a, b), None)

    return spark.createDataFrame(out, "merge_rank int, pair string, total bigint")


def bpe_merges_sql(
    n_merges: int = 8, *, max_vocab_words: int | None = None
) -> str:
    """DuckDB oracle: the identical computation as unrolled CTEs — same
    normalization, same char spacing, same space-doubling replace, same
    (total DESC, pair ASC) argmax. A drift anywhere in the merge loop
    (missed occurrence, tie-break, weighting) breaks the hash.
    ``max_vocab_words`` replays the frequency cap: the w0 dictionary is
    truncated with the identical (cnt DESC, rep ASC) total order before
    any merge statistics are computed."""
    norm = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
    cap = (
        f" ORDER BY cnt DESC, rep ASC LIMIT {int(max_vocab_words)}"
        if max_vocab_words is not None
        else ""
    )
    ctes = [
        f"""words AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split({norm}, ' ')) AS word FROM documents
      ) WHERE len(word) > 0 GROUP BY word
    ),
    w0 AS MATERIALIZED (
      SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS rep, cnt
      FROM words{cap}
    )"""
    ]
    selects = []
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        ctes.append(
            f"""p{i} AS MATERIALIZED (
      SELECT arr[i] || ' ' || arr[i+1] AS pair,
             CAST(sum(cnt) AS BIGINT) AS total
      FROM (SELECT string_split(rep, ' ') AS arr, cnt FROM {prev}),
           UNNEST(range(1, len(arr))) AS t(i)
      GROUP BY 1
    ),
    b{i} AS MATERIALIZED (
      SELECT CAST({i} AS INT) AS merge_rank, pair, total
      FROM p{i} ORDER BY total DESC, pair ASC LIMIT 1
    )"""
        )
        if i < n_merges:
            pat, rep = _merge_pat_rep(i)
            ctes.append(
                f"""w{i} AS MATERIALIZED (
      SELECT trim(regexp_replace(
               replace(' ' || replace(rep, ' ', '  ') || ' ', {pat}, {rep}),
               ' +', ' ', 'g')) AS rep, cnt
      FROM w{i - 1}
    )"""
            )
        selects.append(f"SELECT * FROM b{i}")
    return "WITH " + ",\n    ".join(ctes) + "\n" + _balanced_union(selects)


def _balanced_union(selects: list[str]) -> str:
    """UNION ALL chain as a balanced tree: a linear chain of n unions plans
    n-deep and trips DuckDB's 1000-node tree-depth guard near n=250; the
    balanced form is log2(n) deep so production merge counts (256+) parse."""
    while len(selects) > 1:
        nxt = []
        for i in range(0, len(selects), 2):
            if i + 1 < len(selects):
                nxt.append(f"({selects[i]} UNION ALL {selects[i + 1]})")
            else:
                nxt.append(selects[i])
        selects = nxt
    return selects[0]


def _expr_token_stream(df: DataFrame, merges, *, text_col: str, id_col: str):
    """(id_col, _toks) via the literal-expression encode chain: each doc's
    words are char-spaced and every merge is applied in rank order with the
    same space-doubling single-replace pass the trainer uses, inside nested
    ``transform`` lambdas — fully narrow, zero Exchange, whole-stage
    codegen end to end. Exact up to ~``_EXPR_MERGE_LIMIT`` merges."""

    # pyspark derives the lambda arity from the python signature, so the
    # merge symbols are bound via a closure factory (default-arg binding
    # would read as a 3-arg lambda and fail analysis)
    def _merge_fn(a: str, b: str):
        return lambda r: _apply_merge(r, a, b)

    words = F.filter(
        F.split(_norm(F.col(text_col)), " "), lambda w: F.length(w) > 0
    )
    reps = F.transform(words, lambda w: _char_spaced(w))
    for sym_a, sym_b in merges:
        reps = F.transform(reps, _merge_fn(sym_a, sym_b))
    full = F.concat_ws(" ", reps)
    return df.select(F.col(id_col), full.alias("_toks")).filter(
        F.length("_toks") > 0
    )


def _encode_word_seq(word: str, rank_of: dict, pair_at: list) -> list[str]:
    """Sequential-once BPE application of a merge table to ONE word: each
    merge rank is visited at most once, in rank order, and applied greedy
    left-to-right over the whole symbol sequence — exactly the trainer's
    rewrite semantics (and the expression path's). A lazy heap keeps the
    cost at O(L log L + merges actually applied) per word instead of
    O(n_merges × L): only ranks whose pair is PRESENT ever enter the heap,
    and a pair recreated by a later merge than its own rank stays unmerged
    (its stage already passed), matching sequential-once exactly."""
    import heapq

    syms = list(word)
    heap = sorted({rank_of[p] for p in zip(syms, syms[1:]) if p in rank_of})
    last = -1
    while heap:
        r = heapq.heappop(heap)
        if r <= last:  # duplicate entry, or its stage already passed
            continue
        last = r
        a, b = pair_at[r]
        out: list[str] = []
        j, n = 0, len(syms)
        hit = False
        while j < n:
            if j + 1 < n and syms[j] == a and syms[j + 1] == b:
                out.append(a + b)
                j += 2
                hit = True
            else:
                out.append(syms[j])
                j += 1
        if not hit:
            continue
        syms = out
        for p in zip(syms, syms[1:]):
            rr = rank_of.get(p)
            if rr is not None and rr > last:
                heapq.heappush(heap, rr)
    return syms


def _batch_token_stream(
    df: DataFrame, merges, *, text_col: str, id_col: str
) -> DataFrame:
    """(id_col, _toks) via the Arrow-batched merge loop — the production
    shape for 32k-merge vocabularies, where a literal expression chain
    would blow codegen. Words are normalized/split Spark-side (the single
    ``normalize_text`` source of truth); the pandas stage only applies the
    merge table, memoizing per unique word (Zipf makes the cache hit rate
    the dominant term). Output is identical to the expression path — a
    parity test pins them to each other."""
    import pandas as pd

    id_field = df.schema[id_col]
    rank_of = {tuple(p): i for i, p in enumerate(merges)}
    pair_at = list(map(tuple, merges))

    def encode(batches):
        cache: dict[str, str] = {}
        for pdf in batches:
            toks = []
            for words in pdf["_words"]:
                parts = []
                for w in words:
                    rep = cache.get(w)
                    if rep is None:
                        rep = " ".join(_encode_word_seq(w, rank_of, pair_at))
                        cache[w] = rep
                    parts.append(rep)
                toks.append(" ".join(parts))
            yield pd.DataFrame({id_col: pdf[id_col], "_toks": toks})

    words = F.filter(
        F.split(_norm(F.col(text_col)), " "), lambda w: F.length(w) > 0
    )
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([id_field, StructField("_toks", StringType())])
    return (
        df.select(F.col(id_col), words.alias("_words"))
        .mapInPandas(encode, schema)
        .filter(F.length("_toks") > 0)
    )


def _token_stream(
    df: DataFrame, merges, *, text_col: str, id_col: str, strategy: str
) -> DataFrame:
    if strategy not in ("auto", "expression", "batch"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    if strategy == "auto":
        # measured, not assumed: HOF lambdas are interpreted, so the
        # batch path wins at EVERY merge count (see _EXPR_MERGE_LIMIT)
        strategy = "batch"
    if strategy == "expression" and len(merges) > _EXPR_MERGE_LIMIT:
        raise ValueError(
            f"expression strategy supports <= {_EXPR_MERGE_LIMIT} merges "
            f"(got {len(merges)}); use strategy='batch'"
        )
    fn = (
        _expr_token_stream if strategy == "expression" else _batch_token_stream
    )
    return fn(df, merges, text_col=text_col, id_col=id_col)


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    strategy: str = "auto",
) -> DataFrame:
    """Tokenize documents with a learned merge table (the APPLY side of BPE).

    ``merges`` is the ordered artifact ``bpe_learn_merges`` produces — the
    vocabulary-sized table every tokenizer ships; passing it as literals is
    the distributed-inference shape (broadcast-by-constant-folding or a
    task-closure dict, zero joins).

    ``strategy`` picks the merge-application path; both are exact and
    bit-identical (pinned by a parity test):

    - ``"expression"``: nested ``transform`` lambdas, one per merge — fully
      narrow, zero Exchange, zero Python. The reference tier: Spark
      evaluates HOF lambdas interpreted (outside whole-stage codegen), so
      it is measured ~11× SLOWER than batch even at 8 merges; capped at
      ``_EXPR_MERGE_LIMIT`` merges (deeper chains blow analysis budgets).
    - ``"batch"``: one ``mapInPandas`` stage looping the merge table with
      sequential-once semantics and per-unique-word memoization — the
      production shape at every vocab size.
    - ``"auto"`` (default): always batch (measured, not assumed).

    Output: (doc_id, n_tokens bigint, tokens_md5) — md5 of the final
    space-joined symbol stream, so any drift in merge application (order,
    greediness, a missed adjacent occurrence) breaks the oracle hash.
    Documents with no tokens after normalization are dropped (both engines).
    """
    stream = _token_stream(
        df, merges, text_col="text", id_col="doc_id", strategy=strategy
    )
    return stream.select(
        "doc_id",
        F.size(F.split(F.col("_toks"), " ")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("_toks")).alias("tokens_md5"),
    )


def bpe_vocab(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """The (token, token_id) vocabulary a tokenizer ships: base symbols are
    the corpus's distinct post-normalization characters, id'd in sorted
    order from 0; each merge's new symbol follows at
    ``n_base + merge_rank - 1``. Deterministic and SQL-replayable (the
    ``bpe_token_ids_sql`` oracle derives the identical table), and bounded:
    |vocab| = |charset| + |merges|, a driver-safe artifact by construction.
    """
    spark = df.sparkSession
    base = sorted(
        r["c"]
        for r in (
            df.select(
                F.explode(
                    F.filter(
                        F.split(_norm(F.col("text")), " "),
                        lambda w: F.length(w) > 0,
                    )
                ).alias("word")
            )
            .select(F.explode(F.split(_char_spaced(F.col("word")), " ")).alias("c"))
            .distinct()
            .collect()
        )
    )
    rows = [(c, i) for i, c in enumerate(base)] + [
        (a + b, len(base) + r) for r, (a, b) in enumerate(merges)
    ]
    return spark.createDataFrame(rows, "token string, token_id int")


def bpe_encode_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    *,
    ids_col: str | None = None,
) -> DataFrame:
    """Tokenize to REAL token ids — the last step of a training-data export
    (shards of id arrays, not text). ``vocab`` is the collected
    :func:`bpe_vocab` artifact (bounded by construction).

    Output: (doc_id, n_tokens bigint, ids_md5 string) — md5 of the
    comma-joined id stream; with ``ids_col`` set, additionally the raw
    ``array<int>`` id sequence under that name (the column a shard writer
    persists). Id mapping happens JVM-side via a literal map expression
    (constant-folded, no join); a symbol missing from the vocabulary maps
    to a sentinel that poisons ``ids_md5`` — loud, not silent
    (``concat_ws`` would otherwise skip a bare NULL).
    """
    stream = _token_stream(
        df, merges, text_col="text", id_col="doc_id", strategy="auto"
    )
    vocab_map = F.create_map(
        *[F.lit(x) for kv in vocab.items() for x in (kv[0], str(kv[1]))]
    )
    ids_str = F.transform(
        F.split(F.col("_toks"), " "),
        lambda s: F.coalesce(vocab_map[s], F.lit("?oov?")),
    )
    out = stream.select(
        F.col("doc_id"),
        F.size(F.split(F.col("_toks"), " ")).cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(",", ids_str)).alias("ids_md5"),
        *(
            [
                # OOV sentinel → NULL id in the raw array (the md5 is the
                # loud gate; the array must not throw under ANSI cast)
                F.transform(
                    ids_str,
                    lambda s: F.when(s.rlike("^[0-9]+$"), s).cast("int"),
                ).alias(ids_col)
            ]
            if ids_col
            else []
        ),
    )
    return out


def bpe_token_ids_sql(n_merges: int = 8) -> str:
    """DuckDB oracle for learn → vocab → encode-to-ids: extends
    ``bpe_encode_sql``'s chain with the vocabulary CTE (sorted distinct
    base chars from 0, merge symbols at n_base + rank - 1 — skipping
    exhausted NULL merges) and replays the id stream per document. Fully
    independent of the Spark path: a wrong learned merge, a wrong vocab
    id, and a wrong application each break the hash."""
    ctes = _ids_chain_ctes(n_merges)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           md5(string_agg(CAST(v.token_id AS VARCHAR), ','
                          ORDER BY s.ord, s.pos)) AS ids_md5
    FROM syms s JOIN vocab v ON s.token = v.token
    GROUP BY s.doc_id"""
    )


def bpe_pack_sequences_sql(n_merges: int = 8, *, max_len: int = 512) -> str:
    """DuckDB oracle for the FIXED-length sequence packing a dataloader
    consumes: the full learn → vocab → encode-to-ids chain, an EOS id
    (= |vocab|, the first unused id) appended after every document, a
    global stream position over (doc_id, ord, pos), and a cut every
    ``max_len`` tokens — md5 of each sequence's comma-joined ids is the
    gate. A wrong merge, a wrong vocab id, a wrong EOS placement, or a
    single token on the wrong side of a cut each break the hash."""
    ctes = _ids_chain_ctes(n_merges)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    ids AS (
      SELECT s.doc_id, s.ord, s.pos, v.token_id
      FROM syms s JOIN vocab v ON s.token = v.token
    ),
    stream AS (
      SELECT doc_id, ord, pos, token_id FROM ids
      UNION ALL
      SELECT DISTINCT doc_id, 9223372036854775807 AS ord, 0 AS pos,
             (SELECT CAST(count(*) AS INT) FROM vocab) AS token_id
      FROM ids
    ),
    g AS (
      SELECT token_id,
             row_number() OVER (ORDER BY doc_id, ord, pos) - 1 AS gpos
      FROM stream
    )
    SELECT CAST(gpos // {max_len} AS BIGINT) AS seq_id,
           CAST(count(*) AS INT) AS seq_len,
           md5(string_agg(CAST(token_id AS VARCHAR), ','
                          ORDER BY gpos)) AS ids_md5
    FROM g GROUP BY 1"""
    )


def bpe_oov_stats(
    df: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
) -> DataFrame:
    """Tokenizer COVERAGE on new data: apply a vocabulary learned on one
    corpus to another and count the symbols that fall outside it — the
    train/serve drift gate every shipped tokenizer needs (a rising OOV
    rate means the corpus moved under the vocabulary).

    Output: (doc_id, n_tokens bigint, n_oov bigint) per document. Pure
    codegen: the merge table applies as literals and the vocabulary test
    is a constant-folded map lookup — no joins, no shuffle beyond the
    scan."""
    stream = _token_stream(
        df, merges, text_col="text", id_col="doc_id", strategy="auto"
    )
    vocab_map = F.create_map(
        *[F.lit(x) for kv in vocab.items() for x in (kv[0], str(kv[1]))]
    )
    syms = F.split(F.col("_toks"), " ")
    return stream.select(
        F.col("doc_id"),
        F.size(syms).cast("bigint").alias("n_tokens"),
        F.size(F.filter(syms, lambda s: vocab_map[s].isNull()))
        .cast("bigint")
        .alias("n_oov"),
    )


def bpe_oov_sql(n_merges: int = 8) -> str:
    """DuckDB oracle for :func:`bpe_oov_stats` with the learn/apply split
    made explicit: merge statistics and the vocabulary come ONLY from the
    train slice; the learned stages then rewrite the EVAL slice's word
    dictionary (an apply-only chain — eval words never influence a merge
    choice), and eval symbols left-join the train vocabulary to count
    misses. Both the leakage direction (eval influencing the learn) and
    a wrong application on unseen words break the hash."""
    norm = _NORM_SQL
    ctes = [
        f"""words AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split({norm}, ' ')) AS word FROM documents
        WHERE doc_id % 2 = 0
      ) WHERE len(word) > 0 GROUP BY word
    ),
    w0 AS MATERIALIZED (
      SELECT word, {_CHAR_SPACED_SQL} AS rep, cnt
      FROM words
    ),
    evalw AS MATERIALIZED (
      SELECT DISTINCT word FROM (
        SELECT unnest(string_split({norm}, ' ')) AS word FROM documents
        WHERE doc_id % 2 = 1
      ) WHERE len(word) > 0
    ),
    e0 AS MATERIALIZED (
      SELECT word, {_CHAR_SPACED_SQL} AS rep
      FROM evalw
    ),
    docw AS MATERIALIZED (
      SELECT doc_id, i AS ord, arr[i] AS word
      FROM (SELECT doc_id, string_split({norm}, ' ') AS arr FROM documents
            WHERE doc_id % 2 = 1),
           UNNEST(range(1, len(arr) + 1)) AS t(i)
      WHERE len(arr[i]) > 0
    )"""
    ]
    for i in range(1, n_merges + 1):
        ctes.append(_learn_stage_sql(i, f"w{i - 1}"))
        rewrite = _stage_rewrite_sql(i)
        ctes.append(
            f"""w{i} AS MATERIALIZED (
      SELECT word, {rewrite} AS rep, cnt FROM w{i - 1}
    ),
    e{i} AS MATERIALIZED (
      SELECT word, {rewrite} AS rep FROM e{i - 1}
    )"""
        )
    merge_syms = "\nUNION ALL\n".join(
        f"SELECT replace(pair, ' ', '') AS token FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    ctes.append(
        f"""basechars AS MATERIALIZED (
      SELECT c AS token FROM (
        SELECT DISTINCT unnest(string_split({_CHAR_SPACED_SQL}, ' ')) AS c
        FROM words
      )
    ),
    vocab AS MATERIALIZED (
      -- DISTINCT: duplicate merge symbols must not fan out the
      -- membership left-join (Spark's dict membership is set-like)
      SELECT DISTINCT token FROM (
        SELECT token FROM basechars
        UNION ALL
        SELECT token FROM ({merge_syms})
        WHERE token IS NOT NULL AND token != ''
      )
    ),
    syms AS (
      SELECT doc_id, arr[i] AS token
      FROM (
        SELECT doc_id, string_split(rep, ' ') AS arr
        FROM docw JOIN e{n_merges} USING (word)
      ), UNNEST(range(1, len(arr) + 1)) AS t(i)
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov
    FROM syms s LEFT JOIN vocab v ON s.token = v.token
    GROUP BY s.doc_id"""
    )


def bpe_mask_forget_sql(
    n_merges: int = 8,
    *,
    max_len: int = 512,
    forget_predicate: str = "doc_id % 7 = 0",
    mask_id: int = -1,
) -> str:
    """DuckDB oracle for forget-list masking over packed sequences: the
    pack chain with ``doc_id`` carried per stream token, tokens whose doc
    satisfies ``forget_predicate`` rewritten to ``mask_id`` before the
    per-sequence hash. Gates the whole provenance→mask application: a
    span off by one token on either edge breaks the hash."""
    ctes = _ids_chain_ctes(n_merges)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    ids AS (
      SELECT s.doc_id, s.ord, s.pos, v.token_id
      FROM syms s JOIN vocab v ON s.token = v.token
    ),
    stream AS (
      SELECT doc_id, ord, pos, token_id FROM ids
      UNION ALL
      SELECT DISTINCT doc_id, 9223372036854775807 AS ord, 0 AS pos,
             (SELECT CAST(count(*) AS INT) FROM vocab) AS token_id
      FROM ids
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN {forget_predicate} THEN {mask_id}
                  ELSE token_id END AS token_id,
             row_number() OVER (ORDER BY doc_id, ord, pos) - 1 AS gpos
      FROM stream
    )
    SELECT CAST(gpos // {max_len} AS BIGINT) AS seq_id,
           CAST(count(*) AS INT) AS seq_len,
           md5(string_agg(CAST(token_id AS VARCHAR), ','
                          ORDER BY gpos)) AS ids_md5
    FROM g GROUP BY 1"""
    )


def bpe_provenance_sql(n_merges: int = 8, *, max_len: int = 512) -> str:
    """DuckDB oracle for the packed-sequence PROVENANCE map: per-doc token
    counts (+1 EOS) from the learn → encode chain, stream offsets via a
    window cumsum, sequence ids a doc touches via generate_series, and the
    clipped span bounds — pure interval arithmetic, mirroring the Spark
    operator's no-token-shuffle design. A wrong count, offset, or clip
    bound each breaks the hash."""
    ctes = _ids_chain_ctes(n_merges)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    docn AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) + 1 AS n
      FROM syms GROUP BY 1
    ),
    offs AS (
      SELECT doc_id, n,
             CAST(sum(n) OVER (ORDER BY doc_id) - n AS BIGINT) AS off
      FROM docn
    ),
    spans AS (
      SELECT doc_id, off, n, CAST(s AS BIGINT) AS seq_id
      FROM offs,
           UNNEST(range(off // {max_len}, (off + n - 1) // {max_len} + 1))
             AS t(s)
    )
    SELECT seq_id, doc_id,
           CAST(greatest(0, off - seq_id * {max_len}) AS INT) AS start_in_seq,
           CAST(least({max_len}, off + n - seq_id * {max_len}) AS INT)
             AS end_in_seq
    FROM spans"""
    )


def _ids_chain_ctes(n_merges: int) -> list[str]:
    """``_encode_chain_ctes`` extended with the vocabulary and per-symbol
    CTEs (``vocab``: sorted base chars from 0 + merge symbols at
    n_base + rank - 1, exhausted NULL merges skipped; ``syms``: one row
    per document symbol with (ord, pos) stream order) — shared by
    ``bpe_token_ids_sql`` and ``bpe_pack_sequences_sql``."""
    ctes, final = _encode_chain_ctes(n_merges)
    merge_syms = "\nUNION ALL\n".join(
        f"SELECT replace(pair, ' ', '') AS token, {r} AS rank_off FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    ctes.append(
        """basechars AS MATERIALIZED (
      SELECT c AS token,
             CAST(row_number() OVER (ORDER BY c) - 1 AS INT) AS token_id
      FROM (
        SELECT DISTINCT unnest(string_split(
          trim(regexp_replace(word, '(.)', '\\1 ', 'g')), ' ')) AS c
        FROM words
      )
    ),
    nb AS (SELECT CAST(count(*) AS INT) AS n_base FROM basechars)"""
    )
    ctes.append(
        f"""vocab AS MATERIALIZED (
      -- two merges can concatenate to the SAME symbol; the Spark side's
      -- dict keeps the LAST assignment (highest rank -> highest id), so
      -- dedup with max(token_id) — a duplicate row would also fan out
      -- every syms join
      SELECT token, CAST(max(token_id) AS INT) AS token_id FROM (
        SELECT token, token_id FROM basechars
        UNION ALL
        SELECT token, CAST(nb.n_base + rank_off - 1 AS INT) AS token_id
        FROM ({merge_syms}) m CROSS JOIN nb
        WHERE token IS NOT NULL AND token != ''
      ) GROUP BY token
    ),
    syms AS (
      SELECT doc_id, ord, i AS pos, arr[i] AS token
      FROM (
        SELECT doc_id, ord, string_split(rep, ' ') AS arr
        FROM docw JOIN {final} USING (word)
      ), UNNEST(range(1, len(arr) + 1)) AS t(i)
    )"""
    )
    return ctes


_NORM_SQL = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_CHAR_SPACED_SQL = "trim(regexp_replace(word, '(.)', '\\1 ', 'g'))"


def _learn_stage_sql(i: int, prev: str, prefix: str = "") -> str:
    """The ``p{i}``/``b{i}`` learn-stage CTEs: adjacent-pair counts over
    the ``prev`` dictionary and the (total DESC, pair ASC) argmax — ONE
    definition for every oracle that re-learns merges. ``prefix`` renames
    the stage CTEs for same-statement composition."""
    return f"""{prefix}p{i} AS MATERIALIZED (
      SELECT arr[i] || ' ' || arr[i+1] AS pair,
             CAST(sum(cnt) AS BIGINT) AS total
      FROM (SELECT string_split(rep, ' ') AS arr, cnt FROM {prev}),
           UNNEST(range(1, len(arr))) AS t(i)
      GROUP BY 1
    ),
    {prefix}b{i} AS MATERIALIZED (
      SELECT pair FROM {prefix}p{i} ORDER BY total DESC, pair ASC LIMIT 1
    )"""


def _stage_rewrite_sql(i: int, prefix: str = "") -> str:
    """The stage-``i`` greedy merge application (space-doubling replace),
    shared by every dictionary-rewrite chain."""
    pat, rep = _merge_pat_rep(i, prefix)
    return (
        f"trim(regexp_replace(replace(' ' || replace(rep, ' ', '  ')"
        f" || ' ', {pat}, {rep}), ' +', ' ', 'g'))"
    )


def _encode_chain_ctes(n_merges: int) -> tuple[list[str], str]:
    """The learn-then-encode CTE chain shared by ``bpe_encode_sql`` and
    ``bpe_token_ids_sql``: the word DICTIONARY carries its original spelling
    through every rewrite stage, so documents encode by joining their words
    to the final dictionary — one rewrite pass per stage over distinct
    words, never per word instance, and half the CTE count of a per-doc
    rewrite chain (a 256-stage doc-side chain trips DuckDB's expression-
    depth guard; the dictionary-join form parses and runs fine).

    Returns (ctes, final_word_cte): ``final_word_cte`` has
    (word, rep, cnt); ``docw`` in the ctes has (doc_id, ord, word).
    """
    norm = _NORM_SQL
    ctes = [
        f"""words AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split({norm}, ' ')) AS word FROM documents
      ) WHERE len(word) > 0 GROUP BY word
    ),
    w0 AS MATERIALIZED (
      SELECT word, {_CHAR_SPACED_SQL} AS rep, cnt
      FROM words
    ),
    docw AS MATERIALIZED (
      SELECT doc_id, i AS ord, arr[i] AS word
      FROM (SELECT doc_id, string_split({norm}, ' ') AS arr FROM documents),
           UNNEST(range(1, len(arr) + 1)) AS t(i)
      WHERE len(arr[i]) > 0
    )"""
    ]
    for i in range(1, n_merges + 1):
        ctes.append(_learn_stage_sql(i, f"w{i - 1}"))
        ctes.append(
            f"""w{i} AS MATERIALIZED (
      SELECT word, {_stage_rewrite_sql(i)} AS rep, cnt FROM w{i - 1}
    )"""
        )
    return ctes, f"w{n_merges}"


def bpe_encode_sql(n_merges: int = 8) -> str:
    """DuckDB oracle for learn-then-encode: re-learns the merge table with
    the ``bpe_merges_sql`` CTE chain (all ``n_merges`` rewrites this time),
    applies every merge to the word DICTIONARY with the identical
    space-doubling replace, and folds each document's per-word symbol
    streams back in word order via a dictionary join (a corpus word's
    encoding IS its dictionary rep). Independent of the Spark path end to
    end — the merge list is NOT passed in; a wrong learned merge breaks
    this hash just as a wrong application would."""
    ctes, final = _encode_chain_ctes(n_merges)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id,
           CAST(sum(len(string_split(rep, ' '))) AS BIGINT) AS n_tokens,
           md5(string_agg(rep, ' ' ORDER BY ord)) AS tokens_md5
    FROM docw JOIN {final} USING (word) GROUP BY doc_id"""
    )
