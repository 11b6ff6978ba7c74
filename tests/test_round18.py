"""Round-18 drift/tail statistics: q120_psi_drift, q121_ks_drift,
llm_hill_tail verified against an INDEPENDENT pure-Python recompute
straight off the parquet fixture (a third implementation next to the
Spark plan and the DuckDB oracle — the engines can only agree with it
by computing the definition)."""

from __future__ import annotations

import math
import re

import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")


def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip()).lower()


def test_psi_matches_pure_python(spark, docs):
    from crowdsorsa_etl_spark.queries import QUERIES

    out = {
        r["lang"]: r.asDict()
        for r in QUERIES["q120_psi_drift"](spark, SF_DIR).collect()
    }
    ref = docs[docs.doc_id % 2 == 0].groupby("lang").size()
    cur = docs[docs.doc_id % 2 == 1].groupby("lang").size()
    langs = sorted(set(docs.lang))
    l = len(langs)
    n_r, n_c = int(ref.sum()), int(cur.sum())
    assert set(out) == set(langs)
    for lang in langs:
        c_r, c_c = int(ref.get(lang, 0)), int(cur.get(lang, 0))
        num = (c_r + 1) * (n_c + l)
        den = (c_c + 1) * (n_r + l)
        lr = round(math.log(num / den), 6)
        term = ((num - den) / ((n_r + l) * (n_c + l))) * lr
        row = out[lang]
        assert row["n_ref"] == c_r and row["n_cur"] == c_c
        assert row["log_ratio"] == pytest.approx(lr, abs=1e-9)
        assert row["psi_term"] == pytest.approx(round(term, 6), abs=1e-9)
        assert row["psi_micro"] == round(term * 1_000_000)
        # drift in either direction contributes non-negatively
        assert row["psi_term"] >= 0


def test_ks_matches_pure_python(spark, docs):
    from crowdsorsa_etl_spark.queries import QUERIES

    row = QUERIES["q121_ks_drift"](spark, SF_DIR).collect()[0]
    a = docs[docs.doc_id % 2 == 0].n_chars
    b = docs[docs.doc_id % 2 == 1].n_chars
    na, nb = len(a), len(b)
    best, at = -1, None
    ca = cb = 0
    for v in sorted(set(docs.n_chars)):
        ca += int((a == v).sum())
        cb += int((b == v).sum())
        d = abs(ca * nb - cb * na)
        if d > best:
            best, at = d, int(v)
    assert row["n_a"] == na and row["n_b"] == nb
    assert row["d_num"] == best
    assert row["at_value"] == at
    assert row["ks_d"] == pytest.approx(round(best / (na * nb), 6), abs=1e-9)
    assert 0.0 <= row["ks_d"] <= 1.0


def test_novelty_matches_pure_python(spark, docs):
    import hashlib

    from crowdsorsa_etl_spark.queries import QUERIES
    from crowdsorsa_etl_spark.queries.drift import _NOVELTY_K

    row = QUERIES["llm_ngram_novelty"](spark, SF_DIR).collect()[0]

    def shingles(side: int) -> set[str]:
        out: set[str] = set()
        for _i, r in docs[docs.doc_id % 2 == side].iterrows():
            toks = _norm(r.text).split(" ")
            for i in range(len(toks) - _NOVELTY_K + 1):
                key = " ".join(toks[i : i + _NOVELTY_K])
                out.add(hashlib.md5(key.encode()).hexdigest())
        return out

    ref, cur = shingles(0), shingles(1)
    novel = cur - ref
    assert row["n_ref"] == len(ref)
    assert row["n_cur"] == len(cur)
    assert row["n_novel"] == len(novel)
    assert row["novelty_rate"] == pytest.approx(
        round(len(novel) / len(cur), 6), abs=1e-9
    )


def test_cusum_matches_pure_python(spark):
    from crowdsorsa_etl_spark.queries import QUERIES

    rows = {
        str(r["day"]): r.asDict()
        for r in QUERIES["q122_cusum_days"](spark, SF_DIR).collect()
    }
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    daily = ev.groupby(ev.ts.dt.date).size().sort_index()
    n, d = int(daily.sum()), len(daily)
    run, cusums = 0, {}
    for day, n_d in daily.items():
        run += int(n_d) * d - n
        cusums[str(day)] = (int(n_d), run)
    assert set(rows) == set(cusums)
    peak = max(abs(c) for _n, c in cusums.values())
    peak_day = min(s for s, (_n, c) in cusums.items() if abs(c) == peak)
    for day, (n_d, c) in cusums.items():
        r = rows[day]
        assert r["n_d"] == n_d and r["cusum_num"] == c
        assert r["cusum_events"] == pytest.approx(round(c / d, 6), abs=1e-9)
        assert r["is_peak"] == (day == peak_day)
    # CUSUM telescopes to zero over the full window (sum of devs is 0)
    assert cusums[max(cusums)][1] == 0


def test_hill_matches_pure_python(spark, docs):
    from crowdsorsa_etl_spark.queries import QUERIES
    from crowdsorsa_etl_spark.queries.drift import _HILL_K

    row = QUERIES["llm_hill_tail"](spark, SF_DIR).collect()[0]
    counts: dict[str, int] = {}
    for t in docs.text:
        for w in _norm(t).split(" "):
            if w:
                counts[w] = counts.get(w, 0) + 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_HILL_K]
    ck = top[-1][1]
    s = sum(round(math.log(c / ck) * 1_000_000) for _w, c in top[:-1])
    assert row["k"] == _HILL_K
    assert row["c_k"] == ck
    assert row["sum_micro"] == s
    expect = None if s == 0 else round((_HILL_K - 1) * 1_000_000.0 / s, 6)
    if expect is None:
        assert row["alpha"] is None
    else:
        assert row["alpha"] == pytest.approx(expect, abs=1e-9)
        assert row["alpha"] > 0


def test_kcore_peels_bridges_keeps_cliques(spark):
    """Triangle + pendant chain: the triangle is the 2-core; the chain
    (and the bridge vertex's chain edges) peel away. A star has NO
    2-core at all (leaves peel, then the hub)."""
    from crowdsorsa_etl_spark.operators.clusters import kcore_filter

    tri_chain = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    out = {
        r["id"]: r.asDict()
        for r in kcore_filter(tri_chain, k=2, rounds=4).collect()
    }
    assert {i for i, r in out.items() if r["in_core"]} == {1, 2, 3}
    assert all(out[i]["core_deg"] == 2 for i in (1, 2, 3))
    assert out[4]["core_deg"] == 0 and not out[4]["in_core"]
    assert all(r["converged"] for r in out.values())

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a long, id_b long"
    )
    sout = kcore_filter(star, k=2, rounds=4).collect()
    assert sout and not any(r["in_core"] for r in sout)
    assert all(r["converged"] for r in sout)


def test_neyman_matches_pure_python(spark, docs):
    from crowdsorsa_etl_spark.queries import QUERIES
    from crowdsorsa_etl_spark.queries.training_mix import _NEYMAN_S

    out = {
        r["lang"]: r.asDict()
        for r in QUERIES["llm_neyman_allocation"](spark, SF_DIR).collect()
    }
    wm = {}
    for lang, grp in docs.groupby("lang"):
        n = len(grp)
        s1 = int(grp.n_chars.sum())
        s2 = int((grp.n_chars.astype("int64") ** 2).sum())
        var_num = n * s2 - s1 * s1
        wm[lang] = (n, var_num, round(math.sqrt(var_num) * 1_000_000))
    total = sum(w for _n, _v, w in wm.values())
    assert set(out) == set(wm)
    for lang, (n, var_num, w) in wm.items():
        r = out[lang]
        assert r["n_docs"] == n
        assert r["var_num"] == var_num
        assert r["w_micro"] == w
        assert r["alloc_n"] == round(_NEYMAN_S * w / total)
        assert r["share"] == pytest.approx(round(w / total, 6), abs=1e-9)


def test_jsd_matches_pure_python(spark, docs):
    from crowdsorsa_etl_spark.queries import QUERIES

    out = {
        r["lang"]: r.asDict()
        for r in QUERIES["q123_jsd_drift"](spark, SF_DIR).collect()
    }
    ref = docs[docs.doc_id % 2 == 0].groupby("lang").size()
    cur = docs[docs.doc_id % 2 == 1].groupby("lang").size()
    n_r, n_c = int(ref.sum()), int(cur.sum())
    total_jsd = 0.0
    for lang in sorted(set(docs.lang)):
        c_r, c_c = int(ref.get(lang, 0)), int(cur.get(lang, 0))
        mix = c_r * n_c + c_c * n_r
        tp = (
            0
            if c_r == 0
            else round(
                (c_r / n_r)
                * round(math.log(2.0 * c_r * n_c / mix), 6)
                * 1_000_000
            )
        )
        tq = (
            0
            if c_c == 0
            else round(
                (c_c / n_c)
                * round(math.log(2.0 * c_c * n_r / mix), 6)
                * 1_000_000
            )
        )
        r = out[lang]
        assert r["tp_micro"] == tp and r["tq_micro"] == tq
        # engines round HALF-AWAY; Python round() is half-even — (tp+tq)/2
        # lands on exact .5 micros, so replicate half-up explicitly
        half_up = math.floor((tp + tq) / 2_000_000.0 * 1e6 + 0.5) / 1e6
        assert r["jsd_term"] == pytest.approx(half_up, abs=1e-9)
        total_jsd += (tp + tq) / 2_000_000.0
    # JSD is bounded by ln 2
    assert 0.0 <= total_jsd <= math.log(2) + 1e-6


def test_robust_outliers_matches_pure_python(spark, docs):
    import statistics

    from crowdsorsa_etl_spark.queries import QUERIES

    out = {
        r["lang"]: r.asDict()
        for r in QUERIES["q124_robust_outliers"](spark, SF_DIR).collect()
    }
    for lang, grp in docs.groupby("lang"):
        xs = sorted(int(v) for v in grp.n_chars)
        n = len(xs)
        med2 = xs[(n - 1) // 2] + xs[n // 2]  # 2x interpolated median
        ds = sorted(abs(2 * x - med2) for x in xs)
        mad2 = ds[(n - 1) // 2] + ds[n // 2]
        n_out = sum(1 for x in xs if 4 * abs(2 * x - med2) > 7 * mad2)
        r = out[lang]
        assert r["n_docs"] == n
        assert r["med2"] == med2
        assert r["mad2"] == mad2
        assert r["n_outliers"] == n_out
        # sanity vs the statistics module: med2 == 2*median exactly
        assert med2 == round(2 * statistics.median(xs))
