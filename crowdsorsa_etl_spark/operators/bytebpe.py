"""Byte-level BPE with byte fallback — tokenizer family #4 (GPT-2 style).

The char-level trainer (operators/bpe.py) and WordPiece
(operators/wordpiece.py) both carry an OOV path: a probe character outside
the training alphabet becomes ``[UNK]`` (or an out-of-vocab symbol). GPT-2
(Radford et al. 2019, "Language Models are Unsupervised Multitask
Learners") closes that hole by running BPE over UTF-8 BYTES: the base
alphabet is the CLOSED 256-byte set — fixed a priori, independent of any
corpus — so every string in every language (mojibake and control bytes
included) decomposes into base symbols and the OOV rate is ZERO by
construction. That "byte fallback" guarantee is what production tokenizers
(GPT-2/tiktoken, Llama's SentencePiece ``--byte_fallback``) actually ship.

Symbol representation: each byte renders as its fixed-width UPPERCASE hex
pair ('h' -> '68', 'é' -> 'C3 A9'), and a merged token concatenates the
hex of its constituent bytes ('68 65' -> '6865' = the byte string "he").
Hex pairs make the symbol stream printable, deterministic, binary-safe,
and — decisively for the oracle gate — identically computable in Spark
(``hex(encode(w, 'UTF-8'))``) and DuckDB (``hex(encode(w))``), both
uppercase. A token decodes back to bytes with ``bytes.fromhex``.

Everything else reuses the char-level trainer's machinery verbatim, which
is the point — byte-level BPE differs from char-level BPE ONLY in the seed
decomposition:

* LEARN: the corpus collapses to the (word, count) dictionary in one
  map-side-combined aggregation, the optional frequency cap bounds it at
  any corpus size, and the merge loop runs on the driver with incremental
  pair-count maintenance (``bpe._learn_merges_driver`` — symbol-agnostic).
* ENCODE: one Arrow ``mapInPandas`` stage, per-unique-word memoization,
  sequential-once merge application (``bpe._encode_word_seq`` — seeded
  with the byte-pair list instead of the char list).
* ORACLES: the same unrolled learn/rewrite CTE chain
  (``bpe._learn_stage_sql`` / ``bpe._stage_rewrite_sql``), with the
  byte-spaced ``w0``.

Scale shape is therefore identical to the proven char-level path: one
corpus-sized aggregation, a bounded dictionary, zero per-merge cluster
jobs, and an encode stage that is embarrassingly parallel with a Zipf-hot
memo cache.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import normalize_text as _norm
from crowdsorsa_etl_spark.operators.bpe import (
    _NORM_SQL,
    _balanced_union,
    _encode_word_seq,
    _learn_merges_driver,
    _learn_stage_sql,
    _stage_rewrite_sql,
)
from crowdsorsa_etl_spark.operators.checkpointing import materialize

_MAX_DRIVER_WORDS = 2_000_000

__all__ = [
    "bytebpe_learn",
    "bytebpe_encode",
    "bytebpe_decode",
    "bytebpe_vocab",
    "bytebpe_oov_stats",
    "bytebpe_token_ids",
    "bytebpe_merges_sql",
    "bytebpe_token_ids_sql",
    "bytebpe_encode_sql",
    "bytebpe_oov_sql",
]

#: The closed base alphabet: every possible byte as an uppercase hex pair.
BYTE_ALPHABET = tuple(f"{b:02X}" for b in range(256))

_BYTE_SPACED_SQL = (
    "trim(regexp_replace(hex(encode(word)), '(..)', '\\1 ', 'g'))"
)


def _byte_spaced(col: Column) -> Column:
    """'héllo' -> '68 C3 A9 6C 6C 6F' (UTF-8 bytes as spaced hex pairs)."""
    return F.trim(
        F.regexp_replace(F.hex(F.encode(col, "UTF-8")), "(..)", "$1 ")
    )


def _byte_seed(word: str) -> list[str]:
    """Python-side seed decomposition (must mirror :func:`_byte_spaced`)."""
    h = word.encode("utf-8").hex().upper()
    return [h[i : i + 2] for i in range(0, len(h), 2)]


def bytebpe_decode(tokens: list[str]) -> bytes:
    """Detokenize: the inverse of the encode's symbol stream.

    Every token is a concatenation of hex byte pairs (merges only ever
    concatenate), so the original byte stream is exactly
    ``bytes.fromhex`` of the joined tokens — decoding needs NO vocabulary
    and cannot fail on any token the encoder emits. This is the
    byte-fallback losslessness guarantee as an executable function;
    ``tests/test_bytebpe.py`` pins ``decode(encode(w)) == w.encode()`` as
    a hypothesis property over arbitrary unicode words and merge tables."""
    return bytes.fromhex("".join(tokens))


def bytebpe_learn(df: DataFrame, *, n_merges: int = 12) -> DataFrame:
    """Learn ``n_merges`` byte-level BPE merges over the corpus.

    Output: (merge_rank int, pair string, total bigint) — the ordered merge
    artifact, pairs space-joined in hex-symbol form ('68 65').

    Same trainer discipline as :func:`bpe.bpe_learn_merges`'s driver path:
    ONE distributed (word, count) aggregation, then the in-memory merge
    loop with incremental pair-count maintenance. A dictionary larger than
    ``_MAX_DRIVER_WORDS`` raises (no per-merge cluster-job fallback by
    design).
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    words = (
        df.select(F.explode(F.split(_norm(F.col("text")), " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(_byte_spaced(F.col("word")).alias("rep"), "cnt")
    )
    words = materialize(words)
    if words.count() > _MAX_DRIVER_WORDS:
        raise ValueError(
            f"dictionary exceeds {_MAX_DRIVER_WORDS} words, the driver-side "
            "merge loop's bound"
        )
    return _learn_merges_driver(words, n_merges)


def bytebpe_encode(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Tokenize documents with a learned byte-level merge table.

    Output: (doc_id, n_tokens bigint, tokens_md5 string) — md5 of the full
    space-joined hex-symbol stream per document, the
    :func:`bpe.bpe_encode` gate shape. One Arrow ``mapInPandas`` stage;
    words normalize/split Spark-side, the pandas stage seeds each unique
    word with its byte pairs and replays the merge table sequential-once
    with per-word memoization. No OOV branch exists: every byte is a base
    symbol.
    """
    import pandas as pd

    from pyspark.sql.types import StringType, StructField, StructType

    id_field = df.schema["doc_id"]
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
                        rep = " ".join(
                            _encode_word_seq(
                                _byte_seed(w), rank_of, pair_at
                            )
                        )
                        cache[w] = rep
                    parts.append(rep)
                toks.append(" ".join(parts))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "_toks": toks})

    words = F.filter(
        F.split(_norm(F.col("text")), " "), lambda w: F.length(w) > 0
    )
    schema = StructType([id_field, StructField("_toks", StringType())])
    stream = (
        df.select(F.col("doc_id"), words.alias("_words"))
        .mapInPandas(encode, schema)
        .filter(F.length("_toks") > 0)
    )
    return stream.select(
        "doc_id",
        F.size(F.split(F.col("_toks"), " "))
        .cast("bigint")
        .alias("n_tokens"),
        F.md5(F.col("_toks")).alias("tokens_md5"),
    )


def bytebpe_vocab(merges: list[tuple[str, str]]) -> list[tuple[str, int]]:
    """The (token, token_id) vocabulary: ids 0..255 are the fixed byte
    alphabet in byte order, merge tokens follow at 256 + merge_rank - 1.
    Unlike :func:`bpe.bpe_vocab` this needs NO corpus job — the base
    alphabet is closed, which is exactly the byte-fallback guarantee."""
    return [(t, i) for i, t in enumerate(BYTE_ALPHABET)] + [
        (a + b, 256 + r) for r, (a, b) in enumerate(merges)
    ]


def bytebpe_oov_stats(
    probe: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str,
) -> DataFrame:
    """Tokenizer coverage on data the merges never saw — the
    :func:`bpe.bpe_oov_stats` drift gate, byte-level. One row:
    (n_words, n_unk, unk_frac, mean_pieces).

    ``n_unk`` is MEASURED, not assumed: every final symbol of every encoded
    probe word is membership-tested against the vocabulary (closed byte
    alphabet + merge tokens) exactly like the char-level gate — the byte
    design makes the measured count 0, it does not hardcode it.
    """
    vocab = {t for t, _ in bytebpe_vocab(merges)}
    rank_of = {tuple(p): i for i, p in enumerate(merges)}
    pair_at = list(map(tuple, merges))

    import pandas as pd

    def encode(batches):
        cache: dict[str, tuple[int, int]] = {}
        for pdf in batches:
            n_pieces, n_bad = [], []
            for w in pdf["word"]:
                hit = cache.get(w)
                if hit is None:
                    syms = _encode_word_seq(_byte_seed(w), rank_of, pair_at)
                    hit = (
                        len(syms),
                        sum(1 for s in syms if s not in vocab),
                    )
                    cache[w] = hit
                n_pieces.append(hit[0])
                n_bad.append(hit[1])
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "n_pieces": pd.array(n_pieces, dtype="int64"),
                    "n_oov_syms": pd.array(n_bad, dtype="int64"),
                }
            )

    dwords = (
        probe.select(
            F.explode(F.split(_norm(F.col(text_col)), " ")).alias("word")
        )
        .filter(F.length("word") > 0)
        .distinct()
    )
    enc = dwords.mapInPandas(
        encode, "word string, n_pieces long, n_oov_syms long"
    )
    return enc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.when(F.col("n_oov_syms") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_unk"),
        F.round(
            F.sum(F.when(F.col("n_oov_syms") > 0, 1).otherwise(0))
            * F.lit(1.0)
            / F.count(F.lit(1)),
            6,
        ).alias("unk_frac"),
        F.round(
            F.sum("n_pieces") * F.lit(1.0) / F.count(F.lit(1)), 6
        ).alias("mean_pieces"),
    )


def _bytebpe_learn_ctes(n_merges: int, *, prefix: str = "") -> list[str]:
    """words/w0 + the unrolled learn/rewrite stages, byte-spaced seed.
    The learn stages are ``bpe._learn_stage_sql`` / ``_stage_rewrite_sql``
    verbatim — only w0's decomposition differs from the char-level chain.
    ``prefix`` renames every CTE so the byte chain composes with the char
    chain in one statement (llm_tokenizer_compression).
    """
    ctes = [
        f"""{prefix}words AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split({_NORM_SQL}, ' ')) AS word
        FROM documents
      ) WHERE len(word) > 0 GROUP BY word
    ),
    {prefix}w0 AS MATERIALIZED (
      SELECT word, {_BYTE_SPACED_SQL} AS rep, cnt
      FROM {prefix}words
    )"""
    ]
    for i in range(1, n_merges + 1):
        ctes.append(_learn_stage_sql(i, f"{prefix}w{i - 1}", prefix))
        ctes.append(
            f"""{prefix}w{i} AS MATERIALIZED (
      SELECT word, {_stage_rewrite_sql(i, prefix)} AS rep, cnt
      FROM {prefix}w{i - 1}
    )"""
        )
    return ctes


def bytebpe_merges_sql(n_merges: int = 12) -> str:
    """DuckDB oracle for :func:`bytebpe_learn`: identical normalization,
    byte-spaced seeds via ``hex(encode(word))`` (uppercase in both
    engines), the shared learn-stage argmax and space-doubling rewrite.
    The b{i} stages of the learn chain carry only (pair); totals re-derive
    from the p{i} tables for the output rows."""
    ctes = _bytebpe_learn_ctes(n_merges)
    selects = [
        f"""SELECT CAST({i} AS INT) AS merge_rank, p.pair, p.total
        FROM p{i} p JOIN b{i} b ON p.pair = b.pair"""
        for i in range(1, n_merges + 1)
    ]
    return "WITH " + ",\n    ".join(ctes) + "\n" + _balanced_union(selects)


def bytebpe_encode_sql(n_merges: int = 12) -> str:
    """DuckDB oracle for learn-then-encode (the :func:`bpe.bpe_encode_sql`
    dictionary-join shape): re-learns the merges, rewrites the word
    DICTIONARY through every stage, and folds each document's per-word
    symbol streams back in word order. Independent of the Spark path end
    to end — a wrong learned merge breaks this hash just as a wrong
    application would."""
    ctes = _bytebpe_learn_ctes(n_merges)
    ctes.append(
        f"""docw AS MATERIALIZED (
      SELECT doc_id, i AS ord, arr[i] AS word
      FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS arr
            FROM documents),
           UNNEST(range(1, len(arr) + 1)) AS t(i)
      WHERE len(arr[i]) > 0
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id,
           CAST(sum(len(string_split(rep, ' '))) AS BIGINT) AS n_tokens,
           md5(string_agg(rep, ' ' ORDER BY ord)) AS tokens_md5
    FROM docw JOIN w{n_merges} USING (word) GROUP BY doc_id"""
    )


def bytebpe_oov_sql(n_merges: int = 12) -> str:
    """DuckDB oracle for :func:`bytebpe_oov_stats`: the documents-learned
    merges rewrite the PROBE table's word dictionary (apply-only chain —
    probe words never influence a merge choice), then every final symbol
    left-joins the closed vocabulary (range(256) hex pairs + merge tokens)
    and whole-word misses aggregate — the same measured-membership shape
    as ``bpe_oov_sql``, whose char-level n_unk is nonzero on this probe."""
    probe_norm = (
        "lower(regexp_replace(trim(p_name), '\\s+', ' ', 'g'))"
    )
    ctes = _bytebpe_learn_ctes(n_merges)
    ctes.append(
        f"""probew AS MATERIALIZED (
      SELECT DISTINCT word FROM (
        SELECT unnest(string_split({probe_norm}, ' ')) AS word
        FROM part
      ) WHERE len(word) > 0
    ),
    e0 AS MATERIALIZED (
      SELECT word, {_BYTE_SPACED_SQL} AS rep FROM probew
    )"""
    )
    for i in range(1, n_merges + 1):
        ctes.append(
            f"""e{i} AS MATERIALIZED (
      SELECT word, {_stage_rewrite_sql(i)} AS rep FROM e{i - 1}
    )"""
        )
    merge_syms = "\nUNION ALL\n".join(
        f"SELECT replace(pair, ' ', '') AS token FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    ctes.append(
        f"""vocab AS MATERIALIZED (
      SELECT DISTINCT token FROM (
        SELECT upper(printf('%02x', i)) AS token
        FROM range(256) AS t(i)
        UNION ALL
        SELECT token FROM ({merge_syms})
        WHERE token IS NOT NULL AND token != ''
      )
    ),
    wsyms AS (
      SELECT word, arr[i] AS token, len(arr) AS n_pieces
      FROM (SELECT word, string_split(rep, ' ') AS arr FROM e{n_merges}),
           UNNEST(range(1, len(arr) + 1)) AS t(i)
    ),
    perword AS (
      SELECT word, min(n_pieces) AS n_pieces,
             CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT)
               AS n_oov_syms
      FROM wsyms s LEFT JOIN vocab v ON s.token = v.token
      GROUP BY word
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CASE WHEN n_oov_syms > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unk,
           round(sum(CASE WHEN n_oov_syms > 0 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS unk_frac,
           round(sum(n_pieces) * 1.0 / count(*), 6) AS mean_pieces
    FROM perword"""
    )


def bytebpe_token_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize to REAL token ids under the GPT-2 id convention: ids
    0..255 ARE the byte values, merge tokens follow at 256 + rank - 1 —
    structural, stable under corpus change, and derivable with no corpus
    job (unlike the char-level sorted-vocab mapping, which shifts when
    the alphabet grows).

    Output: (doc_id, n_tokens bigint, ids_md5 string) — md5 of the
    comma-joined id stream in token order, the bpe_encode_ids gate shape.
    Raises loudly if two merges ever produce the same token string (a
    merged token is the hex of its byte sequence; a collision would make
    the structural id ambiguous — never observed on real corpora, and
    the guard turns 'never' into a contract).
    """
    import pandas as pd

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    vocab = bytebpe_vocab(merges)
    toks = [t for t, _ in vocab]
    if len(set(toks)) != len(toks):
        dupes = sorted({t for t in toks if toks.count(t) > 1})
        raise ValueError(
            f"byte-BPE merge tokens collide: {dupes}; the structural id "
            "convention needs distinct token strings — retrain with "
            "different n_merges or dedup the merge table"
        )
    id_of = dict(vocab)
    rank_of = {tuple(p): i for i, p in enumerate(merges)}
    pair_at = list(map(tuple, merges))

    def encode(batches):
        cache: dict[str, str] = {}
        for pdf in batches:
            n_out, md5s = [], []
            import hashlib

            for words in pdf["_words"]:
                parts: list[str] = []
                n = 0
                for w in words:
                    rep = cache.get(w)
                    if rep is None:
                        syms = _encode_word_seq(
                            _byte_seed(w), rank_of, pair_at
                        )
                        rep = ",".join(str(id_of[s]) for s in syms)
                        cache[w] = rep
                    parts.append(rep)
                    n += rep.count(",") + 1
                stream = ",".join(parts)
                n_out.append(n if stream else 0)
                md5s.append(
                    hashlib.md5(stream.encode()).hexdigest()
                    if stream
                    else None
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": pd.array(n_out, dtype="int64"),
                    "ids_md5": md5s,
                }
            )

    words = F.filter(
        F.split(_norm(F.col("text")), " "), lambda w: F.length(w) > 0
    )
    schema = StructType(
        [
            df.schema["doc_id"],
            StructField("n_tokens", LongType()),
            StructField("ids_md5", StringType()),
        ]
    )
    return (
        df.select(F.col("doc_id"), words.alias("_words"))
        .mapInPandas(encode, schema)
        .filter(F.col("ids_md5").isNotNull())
    )


def bytebpe_token_ids_sql(n_merges: int = 12) -> str:
    """DuckDB oracle for :func:`bytebpe_token_ids`: the learn chain, the
    apply-rewritten word dictionary, the STRUCTURAL id table (byte value
    = id, merge rank r -> 255 + r), and md5 of the per-doc comma-joined
    id stream. LEFT join + -1 sentinel keeps an out-of-vocab piece loud
    (the wordpiece idstream discipline) — it cannot happen under byte
    closure, and the -1 would break the hash if it ever did."""
    ctes = _bytebpe_learn_ctes(n_merges)
    merge_ids = "\nUNION ALL\n".join(
        f"SELECT replace(pair, ' ', '') AS tok, CAST(255 + {i} AS INT)"
        f" AS token_id FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    ctes.append(
        f"""docw AS MATERIALIZED (
      SELECT doc_id, i AS ord, arr[i] AS word
      FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS arr
            FROM documents),
           UNNEST(range(1, len(arr) + 1)) AS t(i)
      WHERE len(arr[i]) > 0
    ),
    vocabid AS MATERIALIZED (
      SELECT upper(printf('%02x', i)) AS tok, CAST(i AS INT) AS token_id
      FROM range(256) AS t(i)
      UNION ALL
      {merge_ids}
    ),
    pieces AS (
      SELECT d.doc_id, d.ord,
             generate_subscripts(string_split(w.rep, ' '), 1) AS pidx,
             unnest(string_split(w.rep, ' ')) AS piece
      FROM docw d JOIN w{n_merges} w USING (word)
    ),
    idstream AS (
      SELECT p.doc_id, p.ord, p.pidx,
             coalesce(v.token_id, -1) AS token_id
      FROM pieces p LEFT JOIN vocabid v ON p.piece = v.tok
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           md5(string_agg(CAST(token_id AS VARCHAR), ','
                          ORDER BY ord, pidx)) AS ids_md5
    FROM idstream
    GROUP BY doc_id
    """
    )
