"""SentencePiece-style unigram-LM tokenizer: seed vocabulary, Viterbi
segmentation, and a hard-EM re-estimation step — with an EXACT DuckDB
oracle (exhaustive segmentation enumeration over bounded-length words).

North-star surface (the reference tokenizes nothing; its text tier is
single-row repairs): the second of the two production tokenizer families.
BPE (`operators/bpe.py`) learns by greedy pair merging; the unigram LM
(Kudo 2018, the SentencePiece default) scores SEGMENTATIONS — each word is
split into the vocabulary pieces maximizing Π p(piece), found by Viterbi
DP, and piece probabilities are re-estimated from the chosen segmentations
(hard EM here; soft EM differs only in using expected rather than argmax
counts).

Cross-engine determinism is the hard part, solved in three moves:

1. **Integer costs.** Piece cost = ``floor(-ln(cnt/total) · 1e6 + 0.5)``
   micro-nats. cnt/total divides exact BIGINTs (correctly-rounded, so
   bit-identical), ln hits the same libm on both engines, and everything
   after is integer arithmetic — DP comparisons are exact, no float
   summation-order hazard can flip an argmin.
2. **Total-order tie-break.** Segmentations are ranked by the tuple
   (total µnat cost, piece count, boundary mask) — commutative float ties
   (cost(a)+cost(aaa) == cost(aaa)+cost(a)) are REAL and the mask breaks
   them identically in DP and in the oracle's ORDER BY. Lexicographic DP
   is sound: appending the same piece to two prefixes adds identical
   increments to every tuple component (the new boundary bit is higher
   than any prefix bit), preserving order.
3. **Enumeration oracle.** For words of length ≤ ``ENUM_MAX_LEN`` the
   oracle enumerates ALL 2^(L-1) segmentations via a bitmask UNNEST,
   scores each with the same integer costs, and picks the same tuple-min
   — the definition, not a reimplementation of the DP. Registered queries
   filter both sides to the enumeration bound (a no-op on the fixtures,
   whose words are ≤ 8 chars; the engine DP itself is unbounded).

Scale shape: ONE shuffle builds word counts; the seed-vocab substring
explode runs over DISTINCT words (Zipf-bounded); the vocabulary with
costs is the bounded tokenizer artifact (collected by the query layer
exactly like the BPE merge table — that is the contract, not a leak); the
Viterbi stage is a narrow Arrow-batched mapInPandas over distinct words,
rejoined to the corpus by word. Per-word DP is O(len · max_piece_len)
with a dict probe per cell. Nothing anywhere is corpus-sized on the
driver.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import normalize_text
from crowdsorsa_etl_spark.operators.checkpointing import materialize

MAX_PIECE_LEN = 4
MIN_COUNT = 2
ENUM_MAX_LEN = 12  # oracle enumerates 2^(L-1) masks; 2^11 = 2048 tops
_UNAT = 1_000_000


def word_counts(docs: DataFrame) -> DataFrame:
    """(w, cnt): corpus word-occurrence counts over normalized text."""
    toks = docs.select(
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") > 0)
    return toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))


def unigram_seed_vocab(
    docs: DataFrame,
    *,
    min_count: int = MIN_COUNT,
    wc: DataFrame | None = None,
) -> DataFrame:
    """(piece, cnt): every substring of length ≤ ``MAX_PIECE_LEN`` of any
    corpus word, weighted by word occurrences × OVERLAPPING in-word
    occurrences; pruned to ``cnt >= min_count`` EXCEPT single characters,
    which always survive (segmentation must stay feasible for every corpus
    word). The explode runs over distinct words, never the corpus.

    ``wc`` optionally supplies a precomputed :func:`word_counts` table
    (r16: the trainer materializes the dictionary once and shares it
    across the seed pass and every EM round — the corpus is scanned
    exactly once per train call)."""
    if wc is None:
        wc = word_counts(docs)
    w = F.col("w")
    # all (start, len) windows as an array of substrings, via HOFs
    starts = F.sequence(F.lit(1), F.length(w))
    subs = F.flatten(
        F.transform(
            starts,
            lambda i: F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(MAX_PIECE_LEN)),
                    lambda l: F.when(
                        i + l <= F.length(w) + 1, w.substr(i, l)
                    ),
                ),
                lambda p: p.isNotNull(),
            ),
        )
    )
    pieces = wc.select(F.explode(subs).alias("piece"), "cnt")
    counts = pieces.groupBy("piece").agg(F.sum("cnt").alias("cnt"))
    return counts.filter(
        (F.col("cnt") >= min_count) | (F.length("piece") == 1)
    ).select("piece", F.col("cnt").cast("bigint").alias("cnt"))


def piece_costs(vocab_rows: list) -> dict[str, int]:
    """Bounded artifact → integer µnat cost table. ``vocab_rows`` is the
    collected (piece, cnt) vocabulary (tokenizer-artifact-sized)."""
    total = sum(r["cnt"] for r in vocab_rows)
    return {
        r["piece"]: int(math.floor(-math.log(r["cnt"] / total) * _UNAT + 0.5))
        for r in vocab_rows
    }


def viterbi_segment_word(
    word: str, costs: dict[str, int]
) -> tuple[int, int, int, list[str]] | None:
    """Tuple-min Viterbi for one word: returns (cost_unats, n_pieces,
    boundary_mask, pieces) or None if no feasible segmentation exists.
    The boundary mask sets bit (s-2) for every piece start s > 1."""
    L = len(word)
    INF = (1 << 62, 1 << 30, 0, None)
    best: list = [INF] * (L + 1)
    best[0] = (0, 0, 0, [])
    for pos in range(1, L + 1):
        for plen in range(1, min(MAX_PIECE_LEN, pos) + 1):
            s = pos - plen  # 0-indexed piece start
            prev = best[s]
            if prev[3] is None:
                continue
            c = costs.get(word[s:pos])
            if c is None:
                continue
            mask = prev[2] | ((1 << (s - 1)) if s > 0 else 0)
            cand = (prev[0] + c, prev[1] + 1, mask)
            cur = best[pos]
            if cand < (cur[0], cur[1], cur[2]):
                best[pos] = (*cand, prev[3] + [word[s:pos]])
    got = best[L]
    return None if got[3] is None else got


def segment_words(words: DataFrame, costs: dict[str, int]) -> DataFrame:
    """(w, seg, n_pieces, cost_unats): Viterbi segmentation of each
    distinct word; ``seg`` is the piece stream joined by spaces.
    Infeasible words (impossible when the vocab keeps all corpus chars)
    are dropped."""

    def run(batches):
        import pandas as pd

        for pdf in batches:
            ws, segs, nps, cs = [], [], [], []
            for w in pdf["w"]:
                got = viterbi_segment_word(w, costs)
                if got is None:
                    continue
                ws.append(w)
                segs.append(" ".join(got[3]))
                nps.append(got[1])
                cs.append(got[0])
            yield pd.DataFrame(
                {"w": ws, "seg": segs, "n_pieces": nps, "cost_unats": cs}
            )

    return words.select("w").mapInPandas(
        run, "w string, seg string, n_pieces long, cost_unats long"
    )


def unigram_tokenize(docs: DataFrame, costs: dict[str, int]) -> DataFrame:
    """(doc_id, n_pieces, stream_md5): per-doc Viterbi piece stream in
    word order, fingerprinted like ``bpe_encode``. ``ENUM_MAX_LEN``
    filters words to the oracle's enumeration bound on BOTH engines (a
    no-op on the fixtures)."""
    wtoks = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(normalize_text(F.col("text")), " ")).alias(
            "pos", "w"
        ),
    ).filter(F.length("w") > 0)
    wtoks = wtoks.filter(F.length("w") <= ENUM_MAX_LEN)
    segs = segment_words(wtoks.select("w").distinct(), costs)
    joined = wtoks.join(segs, "w")
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("pos"), F.col("seg")))
        ),
        lambda x: x["seg"],
    )
    return joined.groupBy("doc_id").agg(
        F.sum("n_pieces").cast("bigint").alias("n_pieces"),
        F.md5(F.array_join(ordered, " ")).alias("stream_md5"),
    )


def unigram_em_counts(
    docs: DataFrame,
    costs: dict[str, int],
    *,
    wc: DataFrame | None = None,
) -> DataFrame:
    """(piece, new_cnt): hard-EM count re-estimation — each corpus word
    occurrence contributes its Viterbi pieces. One groupBy over the
    (distinct-word × piece) explode weighted by word counts.

    ``wc`` optionally supplies a precomputed :func:`word_counts` table;
    the length filter moves after the (per-word deterministic) count, so
    the (w, cnt) rows are identical either way."""
    if wc is None:
        wtoks = docs.select(
            F.explode(F.split(normalize_text(F.col("text")), " ")).alias("w")
        ).filter((F.length("w") > 0) & (F.length("w") <= ENUM_MAX_LEN))
        wc = wtoks.groupBy("w").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        )
    else:
        wc = wc.filter(F.length("w") <= ENUM_MAX_LEN)
    segs = segment_words(wc.select("w"), costs)
    pieces = wc.join(segs, "w").select(
        F.explode(F.split("seg", " ")).alias("piece"), "cnt"
    )
    return pieces.groupBy("piece").agg(
        F.sum("cnt").cast("bigint").alias("new_cnt")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle fragments
# ---------------------------------------------------------------------------


def _vocab_ctes(*, norm_sql: str) -> str:
    """CTE chain: words → wcnt → vocab (piece, cnt) → tot → costs."""
    return f"""
    wtoks AS (
      SELECT unnest(string_split({norm_sql}, ' ')) AS w FROM documents
    ),
    wcnt AS (
      SELECT w, CAST(count(*) AS BIGINT) AS cnt
      FROM wtoks WHERE len(w) > 0 GROUP BY w
    ),
    vocab AS (
      SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt
      FROM (
        SELECT substr(w, i, l) AS piece, cnt
        FROM wcnt,
             UNNEST(range(1, len(w) + 1)) AS a(i),
             UNNEST(range(1, {MAX_PIECE_LEN} + 1)) AS b(l)
        WHERE i + l <= len(w) + 1
      )
      GROUP BY piece
      HAVING sum(cnt) >= {MIN_COUNT} OR len(piece) = 1
    ),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
    costs AS (
      SELECT piece,
             CAST(floor(-ln(cnt * 1.0 / total) * {_UNAT} + 0.5) AS BIGINT)
               AS c
      FROM vocab, tot
    )
    """


def _best_seg_ctes() -> str:
    """CTE chain (appends after _vocab_ctes): enumerate every boundary
    mask of every distinct word, score feasible segmentations with the
    integer costs, pick the tuple-min. Produces ``best`` (w, m, cost,
    n_pieces) and ``best_pieces`` (w, s, piece) for downstream use."""
    return f"""
    dw AS (SELECT DISTINCT w FROM wcnt WHERE len(w) <= {ENUM_MAX_LEN}),
    masks AS (
      SELECT w, m
      FROM dw,
           UNNEST(range(0, CAST(1 AS BIGINT) << (len(w) - 1))) AS t(m)
    ),
    starts AS (
      SELECT w, m, j
      FROM masks, UNNEST(range(1, len(w) + 1)) AS p(j)
      WHERE j = 1 OR ((m >> (j - 2)) & 1) = 1
    ),
    seg_pieces AS (
      SELECT w, m, j AS s,
             substr(w, j,
                    coalesce(lead(j) OVER (PARTITION BY w, m ORDER BY j),
                             len(w) + 1) - j) AS piece
      FROM starts
    ),
    cand AS (
      SELECT sp.w, sp.m,
             CAST(sum(co.c) AS BIGINT) AS cost,
             CAST(count(*) AS BIGINT) AS n_pieces
      FROM seg_pieces sp JOIN costs co ON co.piece = sp.piece
      GROUP BY sp.w, sp.m
      HAVING count(*) = bit_count(sp.m) + 1
    ),
    best AS (
      SELECT w, m, cost, n_pieces
      FROM (
        SELECT w, m, cost, n_pieces,
               row_number() OVER (
                 PARTITION BY w ORDER BY cost, n_pieces, m
               ) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    best_pieces AS (
      SELECT sp.w, sp.s, sp.piece
      FROM seg_pieces sp JOIN best b ON sp.w = b.w AND sp.m = b.m
    ),
    best_seg AS (
      SELECT w, string_agg(piece, ' ' ORDER BY s) AS seg,
             CAST(count(*) AS BIGINT) AS n_pieces
      FROM best_pieces GROUP BY w
    )
    """


def unigram_vocab_sql(*, norm_sql: str) -> str:
    return f"""
    WITH {_vocab_ctes(norm_sql=norm_sql)}
    SELECT piece, cnt FROM vocab
    """


def unigram_tokenize_sql(*, norm_sql: str) -> str:
    return f"""
    WITH {_vocab_ctes(norm_sql=norm_sql)},
    {_best_seg_ctes()},
    dwords AS (
      SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w
      FROM (SELECT doc_id, string_split({norm_sql}, ' ') AS arr
            FROM documents)
    ),
    dvalid AS (
      SELECT doc_id, pos, w FROM dwords
      WHERE len(w) > 0 AND len(w) <= {ENUM_MAX_LEN}
    )
    SELECT d.doc_id, CAST(sum(b.n_pieces) AS BIGINT) AS n_pieces,
           md5(string_agg(b.seg, ' ' ORDER BY d.pos)) AS stream_md5
    FROM dvalid d JOIN best_seg b USING (w)
    GROUP BY d.doc_id
    """


def unigram_em_sql(*, norm_sql: str) -> str:
    return f"""
    WITH {_vocab_ctes(norm_sql=norm_sql)},
    {_best_seg_ctes()}
    SELECT bp.piece, CAST(sum(wcnt.cnt) AS BIGINT) AS new_cnt
    FROM best_pieces bp
    JOIN wcnt ON bp.w = wcnt.w AND len(wcnt.w) <= {ENUM_MAX_LEN}
    GROUP BY bp.piece
    """


def unigram_token_ids(docs: DataFrame, costs: dict[str, int]) -> DataFrame:
    """(doc_id, n_tokens, ids_md5): REAL token ids for the unigram
    tokenizer — piece ids are ranks in piece-sorted vocab order (the
    deterministic id assignment a shipped tokenizer.json would pin), the
    id stream is comma-joined in word order and fingerprinted exactly
    like ``bpe_encode_ids``. The piece→id map is a vocab-sized literal
    expression — JVM-side, no second Python stage."""
    ids = {p: i for i, p in enumerate(sorted(costs))}
    wtoks = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(normalize_text(F.col("text")), " ")).alias(
            "pos", "w"
        ),
    ).filter(F.length("w") > 0)
    wtoks = wtoks.filter(F.length("w") <= ENUM_MAX_LEN)
    segs = segment_words(wtoks.select("w").distinct(), costs)
    id_map = F.create_map(
        *[F.lit(x) for p, i in sorted(ids.items()) for x in (p, i)]
    )
    idcsv = F.array_join(
        F.transform(
            F.split("seg", " "), lambda p: F.element_at(id_map, p)
        ),
        ",",
    )
    joined = wtoks.join(segs.withColumn("idcsv", idcsv), "w")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("idcsv")))),
        lambda x: x["idcsv"],
    )
    return joined.groupBy("doc_id").agg(
        F.sum("n_pieces").cast("bigint").alias("n_tokens"),
        F.md5(F.array_join(ordered, ",")).alias("ids_md5"),
    )


def unigram_token_ids_sql(*, norm_sql: str) -> str:
    return f"""
    WITH {_vocab_ctes(norm_sql=norm_sql)},
    {_best_seg_ctes()},
    vids AS (
      SELECT piece,
             CAST(row_number() OVER (ORDER BY piece) - 1 AS INT) AS tid
      FROM vocab
    ),
    word_ids AS (
      SELECT bp.w,
             string_agg(CAST(v.tid AS VARCHAR), ',' ORDER BY bp.s)
               AS idcsv,
             CAST(count(*) AS BIGINT) AS np
      FROM best_pieces bp JOIN vids v USING (piece)
      GROUP BY bp.w
    ),
    dwords AS (
      SELECT doc_id, generate_subscripts(arr, 1) AS pos, unnest(arr) AS w
      FROM (SELECT doc_id, string_split({norm_sql}, ' ') AS arr
            FROM documents)
    ),
    dvalid AS (
      SELECT doc_id, pos, w FROM dwords
      WHERE len(w) > 0 AND len(w) <= {ENUM_MAX_LEN}
    )
    SELECT d.doc_id, CAST(sum(wi.np) AS BIGINT) AS n_tokens,
           md5(string_agg(wi.idcsv, ',' ORDER BY d.pos)) AS ids_md5
    FROM dvalid d JOIN word_ids wi USING (w)
    GROUP BY d.doc_id
    """


# ---------------------------------------------------------------------------
# Iterated EM trainer with vocabulary pruning (SentencePiece's actual loop)
# ---------------------------------------------------------------------------


def unigram_train(
    docs: DataFrame,
    *,
    n_rounds: int = 3,
    prune_alpha: float = 0.25,
) -> DataFrame:
    """SentencePiece's training loop (Kudo 2018 §3.2), not just one step:
    seed vocabulary → repeat ``n_rounds`` times [E-step: Viterbi-segment
    the corpus under current piece costs; M-step: re-estimate counts from
    the chosen pieces; PRUNE: drop the bottom ``prune_alpha`` fraction of
    multi-char pieces by (new_cnt ASC, piece ASC)].

    Feasibility invariant: single-character pieces always survive with
    ``cnt = max(new_cnt, 1)`` — every corpus word stays segmentable in
    every round, so pruning can never silently drop words from the
    E-step (the failure mode of naive count-pruning).

    ``prune_alpha`` must be a dyadic rational (0.25, 0.5, 0.125, ...) so
    ``floor(n · α)`` is exact in both engines' doubles — the SQL oracle
    replays the prune with the identical floor.

    Scale shape: the corpus is scanned and word-aggregated exactly ONCE
    per train call — the (w, cnt) dictionary (Zipf-bounded) materializes
    via ``materialize`` and feeds the seed pass and every EM round
    (r16: the earlier form re-ran the corpus explode + word groupBy per
    round, 1 + n_rounds full corpus passes for identical dictionaries).
    Each round is then ONE distributed E-step over the dictionary (the
    per-distinct-word Viterbi mapInPandas + a piece-count groupBy) plus a
    vocabulary-sized collect — the BPE-driver-loop contract. n_rounds is
    a small constant (SentencePiece defaults to shrinking to target size
    in ~O(log) rounds); nothing corpus-sized ever reaches the driver.

    Output: (piece string, cnt bigint) — the final vocabulary artifact.
    """
    if n_rounds < 1:
        raise ValueError(f"n_rounds must be >= 1, got {n_rounds}")
    if not (0.0 <= prune_alpha < 1.0):
        raise ValueError(f"prune_alpha must be in [0, 1), got {prune_alpha}")
    spark = docs.sparkSession
    wc = materialize(word_counts(docs))
    vocab = {
        r["piece"]: r["cnt"]
        for r in unigram_seed_vocab(
            docs,
            wc=wc,
        ).collect()
    }
    chars = {p for p in vocab if len(p) == 1}
    for _ in range(n_rounds):
        costs = piece_costs(
            [{"piece": p, "cnt": c} for p, c in vocab.items()]
        )
        new = {
            r["piece"]: r["new_cnt"]
            for r in unigram_em_counts(
                docs,
                costs,
                wc=wc,
            ).collect()
        }
        multi = sorted(
            ((p, c) for p, c in new.items() if len(p) > 1),
            key=lambda pc: (pc[1], pc[0]),
        )
        n_drop = int(len(multi) * prune_alpha)
        vocab = dict(multi[n_drop:])
        for ch in chars:
            vocab[ch] = max(new.get(ch, 0), 1)
    return spark.createDataFrame(
        sorted(vocab.items()), "piece string, cnt bigint"
    )


def _train_round_ctes(r: int, *, prune_alpha: float) -> str:
    """Round-``r`` CTEs (1-indexed) for the train oracle: costs from
    vocab{r-1}, tuple-min best segmentation over the SHARED enumeration
    (seg_pieces is cost-independent and built once), hard-EM counts,
    bottom-α prune of multi-char pieces, chars kept with max(cnt, 1)."""
    return f"""
    tot{r} AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab{r - 1}),
    costs{r} AS (
      SELECT piece,
             CAST(floor(-ln(cnt * 1.0 / total) * {_UNAT} + 0.5) AS BIGINT)
               AS c
      FROM vocab{r - 1}, tot{r}
    ),
    cand{r} AS (
      SELECT sp.w, sp.m,
             CAST(sum(co.c) AS BIGINT) AS cost,
             CAST(count(*) AS BIGINT) AS n_pieces
      FROM seg_pieces sp JOIN costs{r} co ON co.piece = sp.piece
      GROUP BY sp.w, sp.m
      HAVING count(*) = bit_count(sp.m) + 1
    ),
    best{r} AS (
      SELECT w, m FROM (
        SELECT w, m,
               row_number() OVER (
                 PARTITION BY w ORDER BY cost, n_pieces, m
               ) AS rn
        FROM cand{r}
      ) WHERE rn = 1
    ),
    counts{r} AS (
      SELECT sp.piece, CAST(sum(wcnt.cnt) AS BIGINT) AS new_cnt
      FROM seg_pieces sp
      JOIN best{r} b ON sp.w = b.w AND sp.m = b.m
      JOIN wcnt ON sp.w = wcnt.w
      GROUP BY sp.piece
    ),
    multi{r} AS (
      SELECT piece, new_cnt,
             row_number() OVER (ORDER BY new_cnt, piece) AS rn,
             count(*) OVER () AS n
      FROM counts{r} WHERE len(piece) > 1
    ),
    vocab{r} AS (
      SELECT piece, new_cnt AS cnt FROM multi{r}
      WHERE rn > CAST(floor(n * {prune_alpha}) AS BIGINT)
      UNION ALL
      SELECT ch.piece,
             greatest(coalesce(k.new_cnt, 0), 1) AS cnt
      FROM chars ch LEFT JOIN counts{r} k
        ON ch.piece = k.piece
    )"""


def unigram_train_sql(
    *,
    norm_sql: str,
    n_rounds: int = 3,
    prune_alpha: float = 0.25,
) -> str:
    """DuckDB oracle for :func:`unigram_train`: the seed-vocab chain, ONE
    shared boundary-mask enumeration (cost-independent), then ``n_rounds``
    unrolled EM+prune rounds — a wrong cost, a wrong tuple-min, a wrong
    count, a prune off by one rank, or a dropped char each break the
    hash."""
    enum = f"""
    dw AS (SELECT DISTINCT w FROM wcnt WHERE len(w) <= {ENUM_MAX_LEN}),
    masks AS (
      SELECT w, m
      FROM dw,
           UNNEST(range(0, CAST(1 AS BIGINT) << (len(w) - 1))) AS t(m)
    ),
    starts AS (
      SELECT w, m, j
      FROM masks, UNNEST(range(1, len(w) + 1)) AS p(j)
      WHERE j = 1 OR ((m >> (j - 2)) & 1) = 1
    ),
    seg_pieces AS (
      SELECT w, m, j AS s,
             substr(w, j,
                    coalesce(lead(j) OVER (PARTITION BY w, m ORDER BY j),
                             len(w) + 1) - j) AS piece
      FROM starts
    ),
    vocab0 AS (SELECT piece, cnt FROM vocab),
    chars AS (SELECT piece FROM vocab0 WHERE len(piece) = 1)
    """
    rounds = "".join(
        "," + _train_round_ctes(r, prune_alpha=prune_alpha)
        for r in range(1, n_rounds + 1)
    )
    return f"""
    WITH {_vocab_ctes(norm_sql=norm_sql)},
    {enum}
    {rounds}
    SELECT piece, cnt FROM vocab{n_rounds}
    """
