"""Ports of the reference's scalar/date/string operators (SURVEY.md §2.7).

Each function is a Spark Column expression (JVM-side, codegen-friendly) or a
vectorized pandas UDF where first-match semantics genuinely need Python.
Citations point into /root/reference/ for parity checking.

Determinism divergences from the reference (documented, §5.2-6):
- ``time_decay`` takes an injected ``now`` date instead of datetime.now()
  (latest_flag_helpers.py:12)
- doc ids are xxhash64(url), not random ints (pdf_to_json.py:452)
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, functions as F, types as T


def url_keywords(filename: Column) -> Column:
    """F1 — extract_url_keywords_from_filename (pdf_to_json.py:98-121):
    strip .pdf/.html suffix, split on '-', order-preserving unique."""
    stem = F.regexp_replace(filename, r"\.(pdf|html?)$", "")
    return F.array_distinct(F.filter(F.split(stem, "-"), lambda x: x != ""))


def title_from_filename(filename: Column) -> Column:
    """F11 — strip extension, hyphens→spaces (pdf_to_json.py:453-454)."""
    return F.regexp_replace(
        F.regexp_replace(filename, r"\.(pdf|html?)$", ""), "-", " "
    )


def extract_creation_date(meta_date: Column, filename: Column, default: Column) -> Column:
    """F2 — extract_pdf_creation_date (pdf_to_json.py:124-178): parse
    'D:YYYYMMDD...' metadata, else max 19xx/20xx year in the filename
    (year-01-01), else the injected default date."""
    from_meta = F.try_to_date(F.regexp_extract(meta_date, r"^D:(\d{8})", 1), "yyyyMMdd")
    # the reference takes max(re.findall(...)); array_max over all matches
    years = F.regexp_extract_all(filename, F.lit(r"\b(19\d{2}|20\d{2})\b"), 1)
    from_name = F.try_to_date(
        F.when(F.size(years) > 0, F.concat(F.array_max(years), F.lit("-01-01")))
    )
    return F.coalesce(from_meta, from_name, default)


def extract_modification_date(mod: Column, creation: Column) -> Column:
    """F3 — mod date unless >1825 days after creation → creation
    (pdf_to_json.py:181-216)."""
    return F.when(F.datediff(mod, creation) > 1825, creation).otherwise(
        F.coalesce(mod, creation)
    )


def convert_to_date(s: Column) -> Column:
    """F4 — convert_to_date (pdf_to_json.py:388-413): '%B %Y' → first of
    month, '%Y' → Jan 1; null if neither (reference raises)."""
    return F.coalesce(
        F.try_to_date(s, "MMMM yyyy"),
        F.try_to_date(F.when(s.rlike(r"^\d{4}$"), F.concat(s, F.lit("-01-01")))),
    )


def time_decay(date: Column, latest: Column, now: Column) -> Column:
    """F5 — logistic time decay (latest_flag_helpers.py:6-14), the variant
    actually used by the reference (imported at cloud_llm.py:19):

        coef = (1.5 - 1/(1 + exp(-days/(400/latest))))^latest

    ``now`` is injected for determinism. latest is a float weight (F7).
    The reference's dead linear duplicate (generative/utils.py:95-113) is
    intentionally not ported (SURVEY §2.7 F6).
    """
    days = F.datediff(now, date).cast("double")
    return F.pow(
        F.lit(1.5) - F.lit(1.0) / (F.lit(1.0) + F.exp(-days / (F.lit(400.0) / latest))),
        latest,
    )


def latest_weight(question: Column, latest_max: float = 2.0) -> Column:
    """F7 — get_latest_flag (latest_flag_helpers.py:17-28): full weight if
    the query asks for recency, else half."""
    return F.when(
        F.lower(question).rlike("(recent)|(latest)"), F.lit(latest_max)
    ).otherwise(F.lit(latest_max / 2.0))


def latest_weight_py(question: str, latest_max: float = 2.0) -> float:
    """Driver-side twin of ``latest_weight`` for the serving path (the query
    string lives on the driver; spinning a 1-row Spark job per request to
    evaluate a literal is pure overhead). Parity-tested against the Column
    version."""
    import re

    return (
        latest_max
        if re.search("(recent)|(latest)", question.lower())
        else latest_max / 2.0
    )


def round_py(x: float, digits: int = 2) -> float:
    """Driver-side twin of ``F.round(x, digits)`` for the serving path (P11
    display rounding of ≤ k collected scores). Spark rounds HALF_UP on the
    decimal form of the double, its shortest repr; Python's ``round`` rounds
    half-even on the binary value (``round(0.125, 2)`` is 0.12, Spark's
    0.13). Parity-tested against the Column version."""
    from decimal import ROUND_HALF_UP, Decimal

    if not math.isfinite(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))


def trim_context(text: Column) -> Column:
    """F9 — drop first and last whitespace token (generative/utils.py:80-92)."""
    toks = F.split(text, " ")
    return F.when(F.size(toks) <= 2, F.lit("")).otherwise(
        F.array_join(F.slice(toks, 2, F.size(toks) - 2), " ")
    )


def page_url(url: Column, page_number: Column) -> Column:
    """F10 — f"{url}#page={n}" (pdf_to_json.py:258-260)."""
    return F.concat(url, F.lit("#page="), page_number.cast("string"))


def normalize_quotes(s: Column) -> Column:
    """F16 — smart quotes → ASCII (local_llm.py:105-129)."""
    return F.translate(s, "‘’“”", "''\"\"")


def html_escape(s: Column) -> Column:
    """F15 — markupsafe.escape parity (main_api_cloud.py:97): the five
    HTML-significant characters → entities, '&' first so entities aren't
    double-escaped."""
    out = F.replace(s, F.lit("&"), F.lit("&amp;"))
    for ch, ent in (("<", "&lt;"), (">", "&gt;"), ('"', "&#34;"), ("'", "&#39;")):
        out = F.replace(out, F.lit(ch), F.lit(ent))
    return out


def html_escape_py(s: str) -> str:
    """Driver-side twin of ``html_escape`` for the serving path — same five
    entities, '&' first. Parity-tested against the Column version."""
    out = s.replace("&", "&amp;")
    for ch, ent in (("<", "&lt;"), (">", "&gt;"), ('"', "&#34;"), ("'", "&#39;")):
        out = out.replace(ch, ent)
    return out


# F16 (strict parse) — the reference's Pydantic LlmResponse schema
# (response_model.py:5-33) as a fixed StructType; from_json returns null
# fields on malformed input, surfaced via ``llm_response_is_valid``.
LLM_RESPONSE_SCHEMA = T.StructType(
    [
        T.StructField("answer_provided", T.BooleanType(), True),
        T.StructField("most_likely_answer", T.StringType(), True),
        T.StructField("highlighting1", T.ArrayType(T.StringType()), True),
        T.StructField("highlighting2", T.ArrayType(T.StringType()), True),
        T.StructField("highlighting3", T.ArrayType(T.StringType()), True),
        T.StructField("reasoning", T.StringType(), True),
    ]
)


def parse_llm_response(s: Column) -> Column:
    """F16 — quote-normalize then parse against the strict LlmResponse
    schema (local_llm.py:105-129 + response_model.py:5-33). Malformed JSON
    yields a struct of nulls (PERMISSIVE), checked by
    ``llm_response_is_valid`` — the Spark analog of Pydantic's
    ValidationError without failing the whole batch."""
    return F.from_json(normalize_quotes(s), LLM_RESPONSE_SCHEMA)


def llm_response_is_valid(parsed: Column) -> Column:
    """Pydantic-required fields present: answer_provided is mandatory
    (response_model.py:6-9); the three highlighting lists are non-null."""
    return (
        parsed.isNotNull()
        & parsed["answer_provided"].isNotNull()
        & parsed["highlighting1"].isNotNull()
        & parsed["highlighting2"].isNotNull()
        & parsed["highlighting3"].isNotNull()
    )


def merge_highlight_phrases(answer: Column, hl1: Column, hl2: Column, hl3: Column) -> Column:
    """SO1 + W5 — union of the answer (when non-empty) and the three
    highlighting lists, distinct, sorted by length (generative/utils.py:38-52:
    ``sorted(set([answer] + hl1 + hl2 + hl3), key=len)`` — ascending).

    Determinism divergence (documented per SURVEY §5.2-6): python ``set``
    gives arbitrary order among equal-length phrases; we tie-break
    lexicographically.
    """
    ans_arr = F.when(
        answer.isNotNull() & (answer != ""), F.array(answer)
    ).otherwise(F.array().cast("array<string>"))
    merged = F.array_distinct(
        F.concat(
            ans_arr,
            F.coalesce(hl1, F.array().cast("array<string>")),
            F.coalesce(hl2, F.array().cast("array<string>")),
            F.coalesce(hl3, F.array().cast("array<string>")),
        )
    )
    cmp = lambda l, r: (
        F.when(F.length(l) < F.length(r), F.lit(-1))
        .when(F.length(l) > F.length(r), F.lit(1))
        .when(l < r, F.lit(-1))
        .when(l > r, F.lit(1))
        .otherwise(F.lit(0))
    )
    return F.array_sort(merged, cmp)


def normalize_path_keys(m: Column) -> Column:
    """F17 — normalize_dict_keys (pdf_to_json.py:487-498): map keys through
    the Windows-normpath analog (mixed '/' and '\\\\' separators →
    backslashes, runs collapsed) via ``transform_keys`` on a MapType."""
    return F.transform_keys(
        m, lambda k, _v: F.regexp_replace(k, r"[/\\]+", r"\\")
    )


# ---- S7 / F13: sentinel-substring metadata scrape ------------------------
# Reference get_abstract_metadata (pdf_to_json.py:272-385): pure string ops
# between sentinel markers, here as JVM column expressions (locate +
# substring + split inside whole-stage codegen — no UDF).


def _between(text: Column, start: str, end: str) -> Column:
    """text[find(start)+len(start) : find(end, after start)] with the
    reference's both-sentinels-present guard, else '' — expressed as
    locate + suffix-substring + locate (search for ``end`` only AFTER the
    start sentinel, exactly like ``str.find(end, i1 + len(start))``)."""
    i1 = F.locate(start, text)  # 1-based, 0 when absent
    rest = F.substring(text, i1 + len(start), F.lit(2147483647))
    i2 = F.locate(end, rest)
    return F.when(
        (i1 > 0) & (i2 > 0), F.substring(rest, F.lit(1), i2 - 1)
    ).otherwise(F.lit(""))


def sentinel_metadata(text: Column) -> Column:
    """S7/F13 — struct(date, overview, publication_type, publication_theme)
    scraped from page text between sentinel substrings, with the reference's
    exact fallback chain (pdf_to_json.py:295-364):

    1. body = text between 'About Report ' and 'Share This Page';
       pdf_substring = 'About-Report ' + body + ' Overview-End'
    2. publication_info = pdf_substring between 'About-Report' and first
       ' Overview'; overview = between 'Overview ' and ' Overview-End'
    3. tokens = publication_info.split(): date = last two tokens,
       theme = tokens[1:-2], type = tokens[0] (each 'Unknown' when short)
    4. date fallback: scan text between 'Main Report' and 'Visit the KNBS'
       for years 1954..2049; the reference loop keeps overwriting, so the
       LARGEST matching year wins (pdf_to_json.py:341-355 has no break)
    """
    body = _between(text, "About Report ", "Share This Page")
    sub = F.when(
        body != "", F.concat(F.lit("About-Report "), body, F.lit(" Overview-End"))
    ).otherwise(F.lit(""))
    pub_info = _between(sub, "About-Report", " Overview")
    overview = _between(sub, "Overview ", " Overview-End")
    toks = F.filter(F.split(pub_info, r"\s+"), lambda x: x != "")
    n = F.size(toks)
    date_primary = F.when(
        n >= 2, F.concat_ws(" ", F.slice(toks, n - 1, 2))
    ).otherwise(F.lit("Unknown"))
    alt = _between(text, "Main Report", "Visit the KNBS")
    years_found = F.filter(
        F.sequence(F.lit(1954), F.lit(2049)),
        lambda y: F.contains(alt, y.cast("string")),
    )
    date_fallback = F.when(
        F.size(years_found) > 0, F.element_at(years_found, -1).cast("string")
    ).otherwise(F.lit("Unknown"))
    date = F.when(date_primary != "Unknown", date_primary).otherwise(date_fallback)
    theme = F.when(n > 2, F.concat_ws(" ", F.slice(toks, 2, n - 3))).otherwise(
        F.lit("Unknown")
    )
    ptype = F.when(n > 0, F.element_at(toks, 1)).otherwise(F.lit("Unknown"))
    return F.struct(
        date.alias("date"),
        overview.alias("overview"),
        ptype.alias("publication_type"),
        theme.alias("publication_theme"),
    )


def sentinel_metadata_cols(df, text: Column):
    """Staged evaluation of :func:`sentinel_metadata` — same values, flat
    plan. Returns ``df`` with four added columns ``date, overview,
    publication_type, publication_theme``.

    Why this exists: the single-Column form inlines every shared
    subexpression at each reference site — ``toks`` alone re-expands to
    ~350 copies of the input-text subtree, and reading the four struct
    fields multiplies the whole tree by 4 again. When the text itself is a
    computed expression (the contract entry synthesizes it from
    ``documents``), that is tens of thousands of Catalyst nodes that
    analysis, optimization and codegen each walk: measured 20-30 s for a
    500-row scan whose per-row work is microseconds. Here every shared
    intermediate is a NAMED column in its own projection, so each subtree
    is analyzed and compiled once; CollapseProject keeps non-cheap,
    multiply-referenced producers staged instead of re-inlining them.
    Bit-identical to sentinel_metadata() (asserted in test_refops)."""
    tmp = [
        "_sm_text", "_sm_body", "_sm_sub", "_sm_pub", "_sm_toks", "_sm_n",
        "_sm_alt", "_sm_datep", "_sm_years",
    ]
    out = (
        df.withColumn("_sm_text", text)
        .withColumn("_sm_body", _between(F.col("_sm_text"), "About Report ", "Share This Page"))
        .withColumn("_sm_alt", _between(F.col("_sm_text"), "Main Report", "Visit the KNBS"))
        .withColumn(
            "_sm_sub",
            F.when(
                F.col("_sm_body") != "",
                F.concat(F.lit("About-Report "), F.col("_sm_body"), F.lit(" Overview-End")),
            ).otherwise(F.lit("")),
        )
        .withColumn("_sm_pub", _between(F.col("_sm_sub"), "About-Report", " Overview"))
        .withColumn("overview", _between(F.col("_sm_sub"), "Overview ", " Overview-End"))
        .withColumn("_sm_toks", F.filter(F.split(F.col("_sm_pub"), r"\s+"), lambda x: x != ""))
        .withColumn("_sm_n", F.size("_sm_toks"))
        .withColumn(
            "_sm_datep",
            F.when(
                F.col("_sm_n") >= 2,
                F.concat_ws(" ", F.slice(F.col("_sm_toks"), F.col("_sm_n") - 1, 2)),
            ).otherwise(F.lit("Unknown")),
        )
        # the 96-year sequence+contains scan is the function's largest
        # subexpression — staged as its own named column (the rule every
        # other shared intermediate here follows) so it is analyzed and
        # codegen'd once, not once per consumer below
        .withColumn(
            "_sm_years",
            F.filter(
                F.sequence(F.lit(1954), F.lit(2049)),
                lambda y: F.contains(F.col("_sm_alt"), y.cast("string")),
            ),
        )
        .withColumn(
            "date",
            F.when(F.col("_sm_datep") != "Unknown", F.col("_sm_datep")).otherwise(
                F.when(
                    F.size("_sm_years") > 0,
                    F.element_at(F.col("_sm_years"), -1).cast("string"),
                ).otherwise(F.lit("Unknown"))
            ),
        )
        .withColumn(
            "publication_type",
            F.when(F.col("_sm_n") > 0, F.element_at(F.col("_sm_toks"), 1)).otherwise(
                F.lit("Unknown")
            ),
        )
        .withColumn(
            "publication_theme",
            F.when(
                F.col("_sm_n") > 2,
                F.concat_ws(" ", F.slice(F.col("_sm_toks"), 2, F.col("_sm_n") - 3)),
            ).otherwise(F.lit("Unknown")),
        )
    )
    return out.drop(*tmp)


@F.pandas_udf(T.StringType())
def highlight_udf(text: pd.Series, phrases: pd.Series) -> pd.Series:
    """F8 — highlighter (generative/utils.py:24-77): case-insensitive FIRST
    occurrence of each phrase wrapped in <b></b>. First-match-only semantics
    need Python; vectorized over Arrow batches.

    phrases: array<string> column, longest-first application mirrors the
    reference's sort-by-length (generative/utils.py:38-52, W5).
    """

    def mark(args):
        t, ph = args
        if t is None:
            return None
        if ph is None:
            return t
        for p in sorted((x for x in ph if x), key=len, reverse=True):
            low, lp = t.lower(), p.lower()
            i = low.find(lp)
            if i >= 0:
                t = t[:i] + "<b>" + t[i : i + len(p)] + "</b>" + t[i + len(p) :]
        return t

    return pd.Series(map(mark, zip(text, phrases)))


def _lcs_len_bitparallel(x: str, y: str) -> int:
    """LCS length via the Crochemore-Iliopoulos-Pinzon bit-parallel
    recurrence on Python big ints: V' = ((V + (V & M)) | (V & ~M)) mod 2^m,
    LCS = m - popcount(V). O(|y| * ceil(|x|/64)) word ops instead of the
    O(|x|*|y|) cell DP — exact for ALL lengths (big ints carry across words).
    """
    m = len(x)
    if m > len(y):
        x, y = y, x
        m = len(x)
    if m == 0:
        return 0
    pm: dict[str, int] = {}
    bit = 1
    for c in x:
        pm[c] = pm.get(c, 0) | bit
        bit <<= 1
    mask = bit - 1
    v = mask
    get = pm.get
    for c in y:
        mm = get(c, 0)
        v = ((v + (v & mm)) | (v & ~mm)) & mask
    return m - bin(v).count("1")


def _lcs_batch_u64(xs: list[str], ys: list[str]):
    """Batched bit-parallel LCS across pairs: one uint64 register per pair
    (requires len(x) <= 64), recurrence vectorized over the whole batch per
    y-position. Padded y positions yield M=0, for which the recurrence is a
    no-op, so ragged y lengths need no per-pair control flow. The O(n*m)
    match-mask work runs as numpy byte compares + packbits, the DP itself as
    ~5 uint64 ops per (pair, y-position) column step.
    """
    import numpy as np

    p = len(xs)
    mlen = np.fromiter((len(x) for x in xs), dtype=np.uint64, count=p)
    ylen = max(len(y) for y in ys)
    xc = np.zeros((p, 64), dtype=np.uint32)
    yc = np.zeros((p, ylen), dtype=np.uint32)
    for i, x in enumerate(xs):
        xc[i, : len(x)] = np.frombuffer(x.encode("utf-32-le"), np.uint32)
    for i, y in enumerate(ys):
        yc[i, : len(y)] = np.frombuffer(y.encode("utf-32-le"), np.uint32)
    ones = np.uint64(0xFFFFFFFFFFFFFFFF)
    mask = ones >> (np.uint64(64) - mlen)  # mlen >= 1 guaranteed by caller
    v = mask.copy()
    for j in range(ylen):
        eq = xc == yc[:, j, None]
        mm = np.packbits(eq, axis=1, bitorder="little").view(np.uint64).ravel()
        u = v & mm
        v = ((v + u) | (v & ~mm)) & mask
    if hasattr(np, "bitwise_count"):
        pc = np.bitwise_count(v)
    else:
        pc = np.unpackbits(v.view(np.uint8)).reshape(p, 8 * 8).sum(axis=1)
    return (mlen - pc).astype(np.int64)


# Batched-LCS guards: pairs whose longer string exceeds
# _LCS_BATCH_MAX_Y run the scalar big-int path instead of inflating the
# whole batch's padded matrix; within the batch, pairs are processed in
# y-length-sorted chunks of _LCS_BATCH_CHUNK so padding tracks each chunk's
# own max (a 10k-row batch with one 100k-char y would otherwise allocate a
# ~4 GB (p, ylen) matrix and run 100k column steps for every pair).
_LCS_BATCH_MAX_Y = 4096
_LCS_BATCH_CHUNK = 2048


@F.pandas_udf(T.DoubleType())
def fuzz_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """F14 — rapidfuzz.fuzz.ratio parity (latest_updates.py:46,
    evaluation.py:155-173): indel similarity = 100 * 2*LCS / (|a|+|b|).

    Bit-parallel LCS (no rapidfuzz in this environment): pairs whose shorter
    string fits one 64-bit register run batched across the whole Arrow batch
    in numpy (`_lcs_batch_u64`); longer pairs fall back to the big-int
    bit-parallel scalar path — both exact, property-tested against the cell
    DP. Replaces the former O(n*m) pure-Python DP per pair (~64x fewer inner
    ops, vectorized across pairs for the common short-title case).
    """
    import numpy as np

    av = a.tolist()
    bv = b.tolist()
    out = np.zeros(len(av), dtype=np.float64)
    batch_idx: list[int] = []
    batch_x: list[str] = []
    batch_y: list[str] = []
    batch_denom: list[int] = []
    for i, (x, y) in enumerate(zip(av, bv)):
        if x is None or y is None:
            continue  # out[i] stays 0.0
        if not x and not y:
            out[i] = 100.0
            continue
        # CASE-SENSITIVE, like rapidfuzz.fuzz.ratio with its default
        # processor=None (the reference calls it raw, latest_updates.py:46;
        # an earlier lowercasing here was a parity break — and Unicode
        # lowercasing can change string LENGTH, which skewed the
        # denominator vs the lowered LCS)
        xl, yl = x, y
        if len(xl) > len(yl):
            xl, yl = yl, xl
        if not xl:
            continue  # LCS = 0
        if len(xl) <= 64 and len(yl) <= _LCS_BATCH_MAX_Y:
            batch_idx.append(i)
            batch_x.append(xl)
            batch_y.append(yl)
            batch_denom.append(len(x) + len(y))
        else:
            # long-y outliers go scalar: the batched kernel pads every pair
            # to the batch-max y length, so one 100k-char y would inflate
            # memory and column steps for the entire batch
            out[i] = 200.0 * _lcs_len_bitparallel(xl, yl) / (len(x) + len(y))
    if batch_idx:
        # process in y-length-sorted chunks so each chunk pads only to ITS
        # max y — a mixed batch of short titles and a few near-bound ys no
        # longer charges every pair for the longest one
        order = sorted(range(len(batch_idx)), key=lambda t: len(batch_y[t]))
        for s in range(0, len(order), _LCS_BATCH_CHUNK):
            sel = order[s : s + _LCS_BATCH_CHUNK]
            lcs = _lcs_batch_u64([batch_x[t] for t in sel], [batch_y[t] for t in sel])
            out[np.asarray([batch_idx[t] for t in sel])] = (
                200.0 * lcs / np.asarray([batch_denom[t] for t in sel])
            )
    return pd.Series(out)
