"""Text-cleaning and text-analysis column expressions.

All pure built-in ``pyspark.sql.functions`` compositions — they stay inside
whole-stage codegen (no Python in the hot path), so they run at JVM speed on
a 1000-executor cluster exactly as written.

Reference parity:
* ``repair_mojibake`` — crowdsorsa-etl-2023.R:90-94 (iconv latin1→UTF-8 then
  gsub-fixing the double-encoded ``Ã¶``/``Ã¤`` pairs).
* ``fix_year_typo`` — crowdsorsa-etl-2024.R:36-37 (first-occurrence
  ``sub("2026", "2024", x)``).

Text-analysis extensions (SURVEY.md §2.2, LLM-pipeline pack):
language-ID heuristic, quality scoring, token counting, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Reference-parity cleaners
# ---------------------------------------------------------------------------

#: double-encoded UTF-8 sequences seen in the 2023 shapefile taxon column
MOJIBAKE_MAP: dict[str, str] = {
    "Ã¶": "ö",
    "Ã¤": "ä",
    # generalized beyond the reference's two cases — same failure mode
    "Ã¥": "å",
    "Ã–": "Ö",
    "Ã„": "Ä",
}


def repair_mojibake(col: Column) -> Column:
    """Chained literal replacements fixing latin1/UTF-8 double encoding."""
    out = col
    for bad, good in MOJIBAKE_MAP.items():
        out = F.replace(out, F.lit(bad), F.lit(good))
    return out


def fix_year_typo(col: Column) -> Column:
    """First-occurrence substitution (R ``sub``); date strings carry the year
    once and first, so anchoring at the start is an exact equivalent."""
    return F.regexp_replace(col, "^2026", "2024")


# ---------------------------------------------------------------------------
# LLM-pipeline text analysis
# ---------------------------------------------------------------------------

_WS = r"\s+"


def normalize_text(col: Column) -> Column:
    """THE text normalization every text-keyed operator shares (dedup,
    sketches, BM25, chunking) and that ``_NORM_SQL`` mirrors in DuckDB:
    trim, collapse whitespace runs to single spaces, lowercase. Keep the
    two in lockstep — a drift silently desynchronizes oracles."""
    return F.lower(F.regexp_replace(F.trim(col), _WS, " "))


def normalized_tokens(df: DataFrame, text_col: str) -> DataFrame:
    """One ``token`` row per non-empty word of the normalized text — the
    token stream the frequency sketches (Misra–Gries, Count-Min) count."""
    return df.select(
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("token")
    ).filter(F.col("token") != "")


#: tiny per-language stopword seeds for the n-gram language heuristic
_LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " is "],
    "fi": [" ja ", " on ", " ei ", " että ", " se "],
    "de": [" der ", " und ", " die ", " ist ", " das "],
    "fr": [" le ", " la ", " et ", " les ", " des "],
    "sv": [" och ", " att ", " det ", " som ", " är "],
}


def token_count(col: Column) -> Column:
    """Whitespace token count; empty/blank string counts 0.

    Regex-trims because ``F.trim`` strips only 0x20 spaces, not tabs/newlines.
    """
    # one regexp_count pass (a token IS a \S+ run): no trimmed copy, no
    # split array — value-identical to trim+split counting on every input,
    # including empty/blank (0 runs) and internal tab/newline runs
    return F.regexp_count(col, F.lit(r"\S+"))


def lang_score(col: Column, lang: str) -> Column:
    """Count of marker-stopword hits for one language."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    score = F.lit(0)
    for marker in _LANG_MARKERS[lang]:
        # regexp_count of the \Q-quoted literal == leftmost-non-overlapping
        # occurrence count, identical to size(split(s, m)) - 1 but without
        # building a fragment array per marker per document — measured
        # 8.5x at the 100x fixture (19.8s -> 2.3s), exact parity asserted
        score = score + F.regexp_count(
            padded, F.lit("\\Q" + marker + "\\E")
        )
    return score


def detect_language(col: Column) -> Column:
    """Heuristic language ID: argmax of stopword-marker hit counts.

    Returns the language code, or 'und' when nothing matches. Pure column
    expression (greatest + chained when), so it distributes trivially.
    """
    scores = {lang: lang_score(col, lang) for lang in _LANG_MARKERS}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # iterate in reverse so earlier languages win ties (stable priority)
    for lang in reversed(list(_LANG_MARKERS)):
        out = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(out)
    return out


def quality_features(col: Column) -> dict[str, Column]:
    """Document-quality heuristics as named columns (Gopher/C4-style)."""
    n_chars = F.length(col)
    toks = token_count(col)
    # regexp_count over the positive class, NOT length(regexp_replace(strip
    # negative class)): counting matches avoids materializing a stripped
    # copy of every document — measured 7x faster at the 100x scale fixture
    # (19.2s -> 2.8s per regex over 500k docs), value-identical (each
    # single-char class match IS one matching character)
    alpha = F.regexp_count(col, F.lit(r"[A-Za-zÀ-öø-ÿ]"))
    digits = F.regexp_count(col, F.lit(r"[0-9]"))
    punct = F.regexp_count(col, F.lit(r"[\.,;:!\?]"))
    upper = F.regexp_count(col, F.lit(r"[A-ZÄÖÅ]"))
    nn = F.when(n_chars == 0, F.lit(1)).otherwise(n_chars).cast("double")
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": toks.cast("long"),
        "mean_token_len": F.when(toks == 0, F.lit(None).cast("double")).otherwise(
            alpha.cast("double") / toks
        ),
        "alpha_ratio": alpha.cast("double") / nn,
        "digit_ratio": digits.cast("double") / nn,
        "punct_ratio": punct.cast("double") / nn,
        "upper_ratio": upper.cast("double") / nn,
    }


def quality_score(col: Column) -> Column:
    """Scalar [0,1] quality score combining the heuristics; deterministic
    and expressible in ANSI SQL for oracle checking."""
    f = quality_features(col)
    length_ok = F.when((f["n_tokens"] >= 5) & (f["n_tokens"] <= 100000), 1.0).otherwise(0.0)
    alpha_ok = F.when(f["alpha_ratio"] >= 0.6, 1.0).otherwise(f["alpha_ratio"] / 0.6)
    digit_ok = F.when(f["digit_ratio"] <= 0.2, 1.0).otherwise(0.0)
    return F.round((length_ok + alpha_ok + digit_ok) / F.lit(3.0), 6)


def fingerprint(col: Column) -> Column:
    """Stable 64-bit content fingerprint (xxhash64 of normalized text)."""
    normalized = F.lower(F.regexp_replace(F.trim(col), _WS, " "))
    return F.xxhash64(normalized)


def shingles(col: Column, k: int = 5) -> Column:
    """Word k-shingles as an array<string> (for MinHash / Jaccard dedup).

    Built-in only: split → transform over index range → slice+concat.
    """
    toks = F.split(F.lower(F.trim(col)), _WS)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )


def tagged_shingles(col: Column, ks: tuple[int, ...]) -> Column:
    """All of several shingle sizes from ONE tokenize, as an
    ``array<struct<k:int, s:string>>`` — the multi-k sweeps (contamination
    curve) explode this once instead of re-scanning the corpus per k.
    Each k's shingle set is element-identical to ``shingles(col, k)``
    (including the short-doc single truncated shingle: ``slice`` clips at
    the array end, so position 1 of an n<k doc yields the whole doc)."""
    toks = F.split(F.lower(F.trim(col)), _WS)
    n = F.size(toks)

    # one-arg lambda via factory, NOT ``lambda i, k=k``: pyspark counts the
    # lambda's parameters, and a second parameter (even a defaulted one)
    # switches F.transform to its (element, index) form — the index column
    # would silently overwrite k
    def _tagged(k: int):
        return lambda i: F.struct(
            F.lit(k).cast("int").alias("k"),
            F.concat_ws(" ", F.slice(toks, i + 1, k)).alias("s"),
        )

    arrays = []
    for k in ks:
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        arrays.append(F.transform(idx, _tagged(k)))
    return F.concat(*arrays)


def char_entropy_sql() -> str:
    """DuckDB replay of ``operators/curation.entropy_signals`` for a
    ``documents``-like row source — returns a SELECT producing
    (doc_id, entropy)."""
    return f"""
    SELECT doc_id,
           round(sum(round(-(cnt * 1.0 / total) * ln(cnt * 1.0 / total),
                           6)), 6) AS entropy
    FROM (
      SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(count(*)) OVER (PARTITION BY doc_id) AS BIGINT)
               AS total
      FROM (
        SELECT doc_id,
               unnest(string_split(lower(regexp_replace(trim(text),
                                                        '\\s+', ' ', 'g')),
                                   '')) AS ch
        FROM documents
      )
      GROUP BY doc_id, ch
    )
    GROUP BY doc_id
    """
