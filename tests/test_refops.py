"""Reference-operator ports: scalar functions (§2.7), post-processing
pipeline (§2.2/2.4/2.5), latest-version maintenance (§2.3)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import Row, functions as F

from statschat_ke_spark.functions.refops import (
    convert_to_date,
    extract_creation_date,
    extract_modification_date,
    fuzz_ratio_udf,
    highlight_udf,
    latest_weight,
    normalize_quotes,
    page_url,
    time_decay,
    title_from_filename,
    trim_context,
    url_keywords,
)
from statschat_ke_spark.operators.latest import apply_update, flag_latest, match_superseded
from statschat_ke_spark.operators.postproc import (
    dedup_first_wins,
    rank_and_head,
    relative_score_filter,
    score_threshold,
    search_pipeline,
)


def one(spark, col, _schema: str | None = None, **cols):
    if _schema:
        df = spark.createDataFrame([tuple(cols.values())], _schema)
    else:
        df = spark.createDataFrame([Row(**cols)])
    return df.select(col.alias("out")).first().out


def test_url_keywords(spark):
    # pdf_to_json.py:98-121: split '-', strip ext, order-preserving unique
    out = one(spark, url_keywords(F.col("f")), f="cpi-index-2023-cpi.pdf")
    assert out == ["cpi", "index", "2023"]


def test_title_from_filename(spark):
    assert one(spark, title_from_filename(F.col("f")), f="gdp-report-q3.pdf") == "gdp report q3"


def test_creation_date_chain(spark):
    c = extract_creation_date(F.col("m"), F.col("f"), F.lit("2026-01-01").cast("date"))
    assert one(spark, c, m="D:20230515120000Z", f="x.pdf") == dt.date(2023, 5, 15)
    # fallback: max year in filename → Jan 1 (pdf_to_json.py:151-166)
    assert one(spark, c, "m string, f string", m=None, f="report-2019-to-2021.pdf") == dt.date(2021, 1, 1)
    assert one(spark, c, "m string, f string", m=None, f="no-year.pdf") == dt.date(2026, 1, 1)


def test_modification_date_cap(spark):
    m = extract_modification_date(F.col("m").cast("date"), F.col("c").cast("date"))
    # >1825 days later → creation wins (pdf_to_json.py:181-216)
    assert one(spark, m, m="2023-01-01", c="2015-01-01") == dt.date(2015, 1, 1)
    assert one(spark, m, m="2016-06-01", c="2015-01-01") == dt.date(2016, 6, 1)


def test_convert_to_date(spark):
    c = convert_to_date(F.col("s"))
    assert one(spark, c, s="March 2022") == dt.date(2022, 3, 1)
    assert one(spark, c, s="2022") == dt.date(2022, 1, 1)
    assert one(spark, c, s="not a date") is None


def test_time_decay_logistic(spark):
    # latest_flag_helpers.py:6-14 with injected now
    lat = 2.0
    days = 100
    expected = (1.5 - 1 / (1 + math.exp(-days / (400 / lat)))) ** lat
    got = one(
        spark,
        time_decay(F.col("d").cast("date"), F.lit(lat), F.lit("2023-04-11").cast("date")),
        d="2023-01-01",
    )
    assert abs(got - expected) < 1e-12


def test_latest_weight(spark):
    w = latest_weight(F.col("q"))
    assert one(spark, w, q="most recent inflation") == 2.0
    assert one(spark, w, q="latest GDP") == 2.0
    assert one(spark, w, q="inflation in 2009") == 1.0


def test_latest_weight_py_parity(spark):
    """Driver-side twin == Column version (the serving path uses the twin)."""
    from statschat_ke_spark.functions.refops import latest_weight_py

    for q in ["most recent inflation", "latest GDP", "inflation in 2009",
              "RECENT news", "", "related"]:
        assert latest_weight_py(q) == one(spark, latest_weight(F.col("q")), q=q)


def test_html_escape_py_parity(spark):
    from statschat_ke_spark.functions.refops import html_escape, html_escape_py
    import markupsafe

    for c in ['<b>&"quoted"\'</b>', "plain", "a&amp;b", "x<&>'\"y"]:
        assert html_escape_py(c) == one(spark, html_escape(F.col("s")), s=c)
        assert html_escape_py(c) == str(markupsafe.escape(c))


def test_round_py_parity(spark):
    """Driver-side twin == ``F.round(x, 2)`` on random scores and on .xx5
    ties, where Python's half-even ``round`` differs from Spark's HALF_UP."""
    import numpy as np

    from statschat_ke_spark.functions.refops import round_py

    rng = np.random.default_rng(7)
    xs = np.concatenate([
        rng.uniform(0, 40, 3000),
        -rng.uniform(0, 5, 500),
        np.arange(5, 40000, 10) / 1000,  # 0.005, 0.015, ... 39.995
        [0.0, 0.125, 2.675, 1e-9],
    ]).tolist()
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = df.select("x", F.round("x", 2).alias("r")).collect()
    assert [round_py(r.x) for r in got] == [r.r for r in got]
    assert any(round(r.x, 2) != r.r for r in got)


def test_trim_context(spark):
    assert one(spark, trim_context(F.col("t")), t="a b c d") == "b c"
    assert one(spark, trim_context(F.col("t")), t="a b") == ""


def test_page_url(spark):
    assert (
        one(spark, page_url(F.col("u"), F.col("p")), u="http://x/y.pdf", p=3)
        == "http://x/y.pdf#page=3"
    )


def test_normalize_quotes(spark):
    assert one(spark, normalize_quotes(F.col("s")), s="‘a’ “b”") == "'a' \"b\""


def test_highlighter(spark):
    # generative/utils.py:24-77: case-insensitive first occurrence only
    out = one(
        spark,
        highlight_udf(F.col("t"), F.col("p")),
        t="Inflation rose. inflation fell.",
        p=["inflation"],
    )
    assert out == "<b>Inflation</b> rose. inflation fell."


def test_fuzz_ratio(spark):
    r = fuzz_ratio_udf(F.col("a"), F.col("b"))
    assert one(spark, r, a="abc", b="abc") == 100.0
    assert one(spark, r, a="abcd", b="abce") == 75.0  # 2*3/(4+4)
    assert one(spark, r, a="", b="x") == 0.0


# ---- post-processing pipeline ----


@pytest.fixture()
def results_df(spark):
    rows = [
        Row(doc_id=1, score=10.0, title="cpi", date=dt.date(2023, 12, 1)),
        Row(doc_id=2, score=9.0, title="cpi", date=dt.date(2023, 12, 1)),  # dup key
        Row(doc_id=3, score=8.0, title="gdp", date=dt.date(2020, 1, 1)),
        Row(doc_id=4, score=2.0, title="old", date=dt.date(2015, 1, 1)),
        Row(doc_id=5, score=0.5, title="tiny", date=dt.date(2023, 1, 1)),
    ]
    return spark.createDataFrame(rows)


def test_score_threshold(results_df):
    assert score_threshold(results_df, 1.0).count() == 4


def test_dedup_first_wins(results_df):
    out = dedup_first_wins(
        results_df, ["title", "date"], [F.desc("score"), F.asc("doc_id")]
    )
    ids = {r.doc_id for r in out.collect()}
    assert ids == {1, 3, 4, 5}  # doc 2 deduped (same title+date, lower score)


def test_relative_score_filter(results_df):
    out = relative_score_filter(results_df, ratio=1.5)
    # best=10 → keep >= 6.667
    assert {r.doc_id for r in out.collect()} == {1, 2, 3}


def test_rank_and_head(results_df):
    out = rank_and_head(results_df, 3).collect()
    assert [r.doc_id for r in out] == [1, 2, 3]
    assert [r.doc_num for r in out] == [1, 2, 3]


def test_search_pipeline_shape(results_df):
    out = search_pipeline(
        results_df,
        min_score=1.0,
        latest_weight=2.0,
        now=F.lit("2024-01-01").cast("date"),
        k_contexts=3,
    ).collect()
    assert len(out) <= 3
    assert out[0].doc_num == 1
    # recency boost: doc 1 (Dec 2023) must stay on top vs doc 3 (2020)
    assert out[0].doc_id == 1


# ---- latest-version maintenance ----


def test_flag_latest(spark):
    rows = [
        Row(url="u1", title="cpi bulletin", release_date=dt.date(2023, 1, 1)),
        Row(url="u2", title="cpi bulletin", release_date=dt.date(2023, 2, 1)),
        Row(url="u3", title="gdp report", release_date=dt.date(2022, 1, 1)),
    ]
    out = {r.url: r.latest for r in flag_latest(spark.createDataFrame(rows)).collect()}
    assert out == {"u1": False, "u2": True, "u3": True}


def test_match_superseded(spark):
    new = spark.createDataFrame([Row(title="consumer price index november 2023")])
    old = spark.createDataFrame(
        [
            Row(title="consumer price index october 2023"),
            Row(title="gross domestic product q3"),
        ]
    )
    got = match_superseded(new, old).collect()
    assert len(got) == 1
    assert got[0].old_name == "consumer price index october 2023"
    assert got[0].similarity > 75


def test_apply_update_equals_full_rebuild(spark):
    base = spark.createDataFrame(
        [
            Row(url="a", title="t1", release_date=dt.date(2023, 1, 1), text="x"),
            Row(url="b", title="t1", release_date=dt.date(2023, 2, 1), text="y"),
        ]
    )
    delta = spark.createDataFrame(
        [
            Row(url="b", title="t1", release_date=dt.date(2023, 2, 1), text="y2"),
            Row(url="c", title="t1", release_date=dt.date(2023, 3, 1), text="z"),
        ]
    )
    merged = apply_update(base, delta).orderBy("url").collect()
    assert [r.url for r in merged] == ["a", "b", "c"]
    assert [r.latest for r in merged] == [False, False, True]
    assert merged[1].text == "y2"  # delta replaced base row


# ---- round-2 additions: S7/F13, SO1, F16, F17, J4, levenshtein metric ----


def _ref_sentinel(text: str) -> tuple[str, str, str, str]:
    """Python emulation of reference get_abstract_metadata
    (pdf_to_json.py:272-385) string logic, for parity assertions."""
    start, end = "About Report ", "Share This Page"
    i1 = text.find(start)
    i2 = text.find(end, i1 + len(start))
    sub = (
        "About-Report " + text[i1 + len(start):i2] + " Overview-End"
        if (i1 != -1 and i2 != -1)
        else ""
    )
    j1 = sub.find("About-Report")
    j2 = sub.find(" Overview", j1 + 12)
    pub = sub[j1 + 12:j2] if (j1 != -1 and j2 != -1) else ""
    k1 = sub.find("Overview ")
    k2 = sub.find(" Overview-End", k1 + 9)
    ov = sub[k1 + 9:k2] if (k1 != -1 and k2 != -1) else ""
    ps = pub.split()
    date = " ".join(ps[-2:]) if len(ps) >= 2 else "Unknown"
    if date == "Unknown":
        l1 = text.find("Main Report")
        l2 = text.find("Visit the KNBS", l1 + 11)
        if l1 != -1 and l2 != -1:
            subn = text[l1 + 11:l2]
            for y in range(1954, 2050):
                if str(y) in subn:
                    date = str(y)
    theme = " ".join(ps[1:-2]) if len(ps) > 2 else "Unknown"
    ptype = ps[0] if len(ps) > 0 else "Unknown"
    return date, ov, ptype, theme


def test_sentinel_metadata_reference_parity(spark):
    from statschat_ke_spark.functions.refops import sentinel_metadata

    cases = [
        "Hdr About Report Report Economic Survey May 2023 Overview "
        "ov text here Share This Page ft",
        "Hdr Main Report published in 1987 and 2001 blah Visit the KNBS ft",
        "no sentinels at all",
        "About Report X Share This Page",          # 1-token pub info
        "About Report A B Share This Page",        # 2 tokens -> date only
        "About Report Overview twice Overview in body Share This Page",
        "Main Report no year here Visit the KNBS",
        "About Report  Share This Page Main Report year 1999 Visit the KNBS",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "text string")
    got = [
        (r.m.date, r.m.overview, r.m.publication_type, r.m.publication_theme)
        for r in df.select(sentinel_metadata(F.col("text")).alias("m")).collect()
    ]
    assert got == [_ref_sentinel(c) for c in cases]


def test_sentinel_metadata_cols_matches_column_form(spark):
    """The staged (flat-plan) variant must be value-identical to the
    one-Column form on every parity case, including when the text is a
    COMPUTED expression (the shape that makes the Column form blow up)."""
    from statschat_ke_spark.functions.refops import (
        sentinel_metadata,
        sentinel_metadata_cols,
    )

    cases = [
        "Hdr About Report Report Economic Survey May 2023 Overview "
        "ov text here Share This Page ft",
        "Hdr Main Report published in 1987 and 2001 blah Visit the KNBS ft",
        "no sentinels at all",
        "About Report X Share This Page",
        "About Report A B Share This Page",
        "About Report Overview twice Overview in body Share This Page",
        "Main Report no year here Visit the KNBS",
        "About Report  Share This Page Main Report year 1999 Visit the KNBS",
        "",
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "i int, raw string"
    )
    text_expr = F.concat(F.lit(""), F.col("raw"))  # computed, not an attribute
    want = sorted(
        (r.i, r.m.date, r.m.overview, r.m.publication_type, r.m.publication_theme)
        for r in df.select(
            "i", sentinel_metadata(text_expr).alias("m")
        ).collect()
    )
    got = sorted(
        (r.i, r.date, r.overview, r.publication_type, r.publication_theme)
        for r in sentinel_metadata_cols(df, text_expr).collect()
    )
    assert got == want
    # staged intermediates must not leak into the output schema
    out_cols = sentinel_metadata_cols(df, text_expr).columns
    assert not any(c.startswith("_sm_") for c in out_cols)


def test_merge_highlight_phrases(spark):
    from statschat_ke_spark.functions.refops import merge_highlight_phrases

    out = one(
        spark,
        merge_highlight_phrases(
            F.col("ans"), F.col("h1"), F.col("h2"), F.col("h3")
        ),
        _schema="ans string, h1 array<string>, h2 array<string>, h3 array<string>",
        ans="answer",
        h1=["bb", "a", "answer"],
        h2=["ccc"],
        h3=None,
    )
    # distinct union, sorted length-ascending (reference key=len), lex ties
    assert out == ["a", "bb", "ccc", "answer"]
    # empty answer is excluded (reference's conditional list)
    out2 = one(
        spark,
        merge_highlight_phrases(F.col("ans"), F.col("h1"), F.col("h2"), F.col("h3")),
        _schema="ans string, h1 array<string>, h2 array<string>, h3 array<string>",
        ans="", h1=["x"], h2=[], h3=[],
    )
    assert out2 == ["x"]


def test_normalize_path_keys(spark):
    from statschat_ke_spark.functions.refops import normalize_path_keys

    out = one(
        spark,
        normalize_path_keys(F.col("m")),
        _schema="m map<string,int>",
        m={"a/b\\c//d": 1, "plain": 2},
    )
    assert out == {"a\\b\\c\\d": 1, "plain": 2}


def test_parse_llm_response_strict(spark):
    from statschat_ke_spark.functions.refops import (
        llm_response_is_valid,
        parse_llm_response,
    )

    good = (
        '{"answer_provided": true, "most_likely_answer": "42", '
        '"highlighting1": ["a"], "highlighting2": [], "highlighting3": [], '
        '"reasoning": "because"}'
    )
    smart = good.replace('"42"', "“42”")  # smart quotes normalized
    rows = [(good,), (smart,), ("not json",), ('{"answer_provided": null}',)]
    df = spark.createDataFrame(rows, "js string")
    out = df.select(
        parse_llm_response(F.col("js")).alias("p")
    ).select("p", llm_response_is_valid(F.col("p")).alias("ok")).collect()
    assert out[0].p.answer_provided is True and out[0].ok
    assert out[1].p.most_likely_answer == "42" and out[1].ok
    assert not out[2].ok
    assert not out[3].ok


def test_containment_join(spark):
    from statschat_ke_spark.operators.latest import containment_join

    chunks = spark.createDataFrame(
        [Row(source=s) for s in [
            "economic-survey-2023_0", "economic-survey-2023_1",
            "prefix-then-gdp-report-xyz", "unrelated",
        ]]
    )
    docs = spark.createDataFrame(
        [Row(title=t) for t in ["economic-survey-2023", "gdp-report", "absent"]]
    )
    got = {(r.source, r.title) for r in containment_join(chunks, docs).collect()}
    # startswith matches via the equi path; mid-string via the theta fallback
    assert got == {
        ("economic-survey-2023_0", "economic-survey-2023"),
        ("economic-survey-2023_1", "economic-survey-2023"),
        ("prefix-then-gdp-report-xyz", "gdp-report"),
    }


def test_match_superseded_levenshtein(spark):
    new = spark.createDataFrame([Row(title="consumer price index november 2023")])
    old = spark.createDataFrame(
        [
            Row(title="consumer price index october 2023"),
            Row(title="gross domestic product q3"),
        ]
    )
    got = match_superseded(new, old, metric="levenshtein").collect()
    assert len(got) == 1
    a, b = "consumer price index november 2023", "consumer price index october 2023"
    import math

    def lev(x, y):
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (cx != cy)))
            prev = cur
        return prev[-1]

    want = round(100.0 * (1.0 - lev(a, b) / max(len(a), len(b))), 6)
    assert math.isclose(got[0].similarity, want)


def test_html_escape(spark):
    from statschat_ke_spark.functions.refops import html_escape
    import markupsafe

    cases = ['<b>&"quoted"\'</b>', "plain", "a&amp;b"]
    for c in cases:
        got = one(spark, html_escape(F.col("s")), s=c)
        assert got == str(markupsafe.escape(c)), c


# ---- bit-parallel LCS (F14 internals) ----


def _lcs_dp_oracle(x: str, y: str) -> int:
    """Textbook O(n*m) cell DP — the oracle the bit-parallel paths must match."""
    if not x or not y:
        return 0
    prev = [0] * (len(y) + 1)
    for cx in x:
        cur = [0]
        for j, cy in enumerate(y, 1):
            cur.append(prev[j - 1] + 1 if cx == cy
                       else max(prev[j], cur[j - 1]))
        prev = cur
    return prev[-1]


def test_lcs_bitparallel_property():
    from hypothesis import given, settings, strategies as st

    from statschat_ke_spark.functions.refops import (
        _lcs_batch_u64,
        _lcs_len_bitparallel,
    )

    alpha = st.text(alphabet="abcde é", min_size=0, max_size=130)

    @given(alpha, alpha)
    @settings(max_examples=300, deadline=None)
    def check(x, y):
        want = _lcs_dp_oracle(x, y)
        assert _lcs_len_bitparallel(x, y) == want
        short, long_ = (x, y) if len(x) <= len(y) else (y, x)
        if 1 <= len(short) <= 64:
            assert _lcs_batch_u64([short], [long_])[0] == want

    check()


def test_lcs_bitparallel_word_boundary():
    from statschat_ke_spark.functions.refops import (
        _lcs_batch_u64,
        _lcs_len_bitparallel,
    )

    # exactly 64 / 65 chars: full-register mask and the big-int crossover
    x64 = "ab" * 32
    x65 = x64 + "c"
    y = "ba" * 40
    for x in (x64, x65):
        assert _lcs_len_bitparallel(x, y) == _lcs_dp_oracle(x, y)
    assert _lcs_batch_u64([x64], [y])[0] == _lcs_dp_oracle(x64, y)
    # batch with ragged y lengths + identical strings + disjoint alphabets
    xs = [x64, "abc", "zzzz"]
    ys = [y, "abc", "qqqq"]
    got = list(_lcs_batch_u64(xs, ys))
    assert got == [_lcs_dp_oracle(a, b) for a, b in zip(xs, ys)]


def test_fuzz_ratio_long_strings(spark):
    # >64-char pattern exercises the big-int fallback inside the UDF
    a = "inflation report " * 8  # 136 chars
    b = "inflation rate report " * 8
    want = 200.0 * _lcs_dp_oracle(a, b) / (len(a) + len(b))
    got = one(spark, fuzz_ratio_udf(F.col("a"), F.col("b")), a=a, b=b)
    assert math.isclose(got, want)
