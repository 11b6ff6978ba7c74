"""Aho–Corasick dictionary tagging — multi-pattern substring matching in
one pass over each document.

North-star surface (no counterpart in the reference, whose string matching
is single-pattern `gsub`, `crowdsorsa-etl-2023.R:88-94`): corpus curation
routinely scans every document against a DICTIONARY — a blocklist, a PII
gazetteer, a topic lexicon — of 10³–10⁶ literal patterns. Per-pattern
``regexp_count`` / ``instr`` passes are O(dict × corpus); the Aho–Corasick
automaton is O(corpus + matches) regardless of dictionary size.

Semantics: for every (document, keyword) pair, the number of OVERLAPPING
occurrences — positions ``i`` with ``text[i : i+len(k)] == k`` — including
occurrences nested inside longer dictionary words ("at" inside "data").
That is exactly what the suffix-link traversal yields and exactly what the
enumeration oracle (`dictionary_tag_sql`) counts, so the two agree by
construction rather than by test luck.

Scale shape: embarrassingly parallel — the automaton is built ONCE PER
PYTHON WORKER from the (bounded, tokenizer-artifact-sized) keyword list
captured in the mapInPandas closure; the scan is a narrow Arrow-batched
stage with no shuffle, no driver traffic, and per-row cost linear in the
text. Per-keyword counts come from the classic two-phase trick: record
node-visit counts during the scan, then propagate them down the
suffix-link tree once per document (O(len + dict)), instead of walking
dictionary-suffix chains at every position (O(len × depth) worst case on
nested dictionaries).

Normalization matches the registry's ``_NORM_SQL`` (lower, trim, collapse
whitespace) and is applied SPARK-SIDE before the pandas stage — the single
source of truth stays `functions/text.normalize_text`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crowdsorsa_etl_spark.functions.text import normalize_text


def _build_automaton(keywords: list[str]):
    """Goto/fail/output tables as plain lists (picklable, worker-local).

    Returns (goto: list[dict[ch, state]], fail: list[int],
    word_of: list[int | None]  # keyword index ending at this node,
    order: list[int]           # states in BFS order, for count propagation).
    """
    goto: list[dict] = [{}]
    word_of: list[int | None] = [None]
    for ki, kw in enumerate(keywords):
        s = 0
        for ch in kw:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                word_of.append(None)
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        word_of[s] = ki
    fail = [0] * len(goto)
    order: list[int] = []
    from collections import deque

    q = deque(goto[0].values())
    while q:
        s = q.popleft()
        order.append(s)
        for ch, t in goto[s].items():
            q.append(t)
            f = fail[s]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[t] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != t else 0
    return goto, fail, word_of, order


def _scan_counts(text: str, goto, fail, word_of, order, n_keywords: int):
    """Per-keyword overlapping occurrence counts for one document."""
    visits = [0] * len(goto)
    s = 0
    for ch in text:
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        visits[s] += 1
    counts = [0] * n_keywords
    # propagate visit counts UP the suffix-link tree (deepest first: BFS
    # order reversed), so each node's total includes every longer match
    # that passed through it
    for s in reversed(order):
        visits[fail[s]] += visits[s]
        ki = word_of[s]
        if ki is not None:
            counts[ki] = visits[s]
    return counts


def dictionary_tag(docs: DataFrame, keywords: list[str]) -> DataFrame:
    """(doc_id, keyword, n_matches) with n_matches > 0 — overlapping
    occurrence counts of every dictionary keyword in every document."""
    if not keywords:
        raise ValueError("dictionary_tag: empty keyword list")
    if len(set(keywords)) != len(keywords):
        raise ValueError("dictionary_tag: duplicate keywords")
    kws = list(keywords)

    id_field = docs.schema["doc_id"]
    src = docs.select(
        F.col("doc_id"),
        normalize_text(F.col("text")).alias("_norm"),
    )
    out_schema = (
        f"doc_id {id_field.dataType.simpleString()}, "
        "keyword string, n_matches long"
    )

    def tag(batches):
        import pandas as pd

        goto, fail, word_of, order = _build_automaton(kws)
        for pdf in batches:
            ids, kw_out, cnts = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["_norm"]):
                if text is None:
                    continue
                counts = _scan_counts(
                    text, goto, fail, word_of, order, len(kws)
                )
                for ki, c in enumerate(counts):
                    if c:
                        ids.append(doc_id)
                        kw_out.append(kws[ki])
                        cnts.append(c)
            yield pd.DataFrame(
                {"doc_id": ids, "keyword": kw_out, "n_matches": cnts}
            )

    return src.mapInPandas(tag, out_schema)


def dictionary_tag_sql(keywords: list[str], *, norm_sql: str) -> str:
    """Exact DuckDB oracle: enumerate every start position and count
    matches per keyword — O(dict × corpus), fine at oracle scale, and
    literally the definition the automaton implements."""
    values = ", ".join("(%s)" % _sql_str(k) for k in keywords)
    return f"""
    WITH t AS (SELECT doc_id, {norm_sql} AS norm FROM documents),
    kw(k) AS (VALUES {values})
    SELECT t.doc_id, kw.k AS keyword, CAST(count(*) AS BIGINT) AS n_matches
    FROM t, kw, UNNEST(range(1, len(t.norm) - len(kw.k) + 2)) AS u(i)
    WHERE substr(t.norm, i, len(kw.k)) = kw.k
    GROUP BY t.doc_id, kw.k
    """


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"
