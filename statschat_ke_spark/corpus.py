"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1-§3).

Generates the ``documents(url, warc_ts, html, text, lang)`` table mandated by
BASELINE.json input_hint, plus the ``doc_meta`` sidecar and the query set with
planted answer phrases. Seed-fixed, no wall clock, no external data.

The golden ``text`` column is composed independently of the HTML template so
that tests of the extraction UDF (functions/extract.py) are a real check, not
a tautology: generator composes ``text`` from parts; extractor recovers it by
parsing ``html``. Byte-identity per url is the input_hint invariant.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pandas as pd

SEED = 42
EPOCH = dt.datetime(2023, 1, 1, 0, 0, 0)

THEMES = ["economy", "health", "education", "agriculture", "trade", "population", "energy", "transport"]
RELEASE_TYPES = ["bulletin", "report", "survey", "census-brief"]

# ~200 base words + generated tail to a 10k-term Zipf vocabulary
_BASE_WORDS = (
    "the of and to in a is that for it as was with be by on not he i this are or his from at "
    "which but have an had they you were their one all we can her has there been if more when "
    "will would who so no she other its may these than then do some could into him two only "
    "time my first new now people made over did down way many must them before back through "
    "years where much your work such make state after also life world still own see men here "
    "between both long day too same while might great old year off come since against go came "
    "right used take three states himself few house use during without again place american "
    "around however home small found mrs thought went say part once general high upon school "
    "every don does got united left number course war until always away something fact though "
    "water less public put think almost hand enough far took head yet government system better "
    "set told nothing night end why called didn eyes find going look asked later knew point "
    "next city business case week growth rate percent index price market inflation unemployment "
    "gdp census survey county kenya statistics report quarter month annual food fuel transport "
    "household income poverty labour labor production exports imports revenue county population"
).split()


def vocabulary(size: int = 10_000) -> list[str]:
    vocab = list(dict.fromkeys(_BASE_WORDS))
    i = 0
    while len(vocab) < size:
        vocab.append(f"w{i:05d}")
        i += 1
    return vocab[:size]


@dataclass(frozen=True)
class Query:
    query_id: int
    query_text: str
    phrase: str | None  # planted answer phrase (None ⇒ negative query)
    n_planted: int
    k: int = 10


# Reference canonical queries (cloud_llm.py:349, README.md:124, questions.toml)
# re-grounded in the synthetic corpus; negatives mirror should_answer=false.
QUERIES: list[Query] = [
    Query(1, "what was inflation in december 2023", "inflation in december 2023 rose to siximillion shillings", 30),
    Query(2, "how many people were unemployed in 2020", "unemployed persons in 2020 totalled ninetythousand", 25),
    Query(3, "maize production county report", "maize production in the county reached recordharvest levels", 40),
    Query(4, "gdp growth rate third quarter", "gdp growth rate for the third quarter was fourpointseven percent", 20),
    Query(5, "fuel price index energy bulletin", "fuel price index climbed sharply in the energy bulletin", 35),
    Query(6, "household income poverty survey", "household income poverty survey shows medianincome falling", 25),
    Query(7, "population census county results", "population census county results released for fortyseven counties", 30),
    Query(8, "exports coffee tea earnings", "exports of coffee and tea earned recordrevenue abroad", 20),
    Query(9, "transport sector annual report", "transport sector annual report highlights railfreight expansion", 25),
    Query(10, "education enrollment primary school", "education enrollment in primary school hit newpeak figures", 30),
    Query(11, "health facility births registered", "health facility births registered rose to historichigh counts", 20),
    Query(12, "labour market wage growth", "labour market wage growth stagnated at lowpoint levels", 25),
    Query(13, "trade balance deficit imports", "trade balance deficit widened as imports surged strongly", 20),
    Query(14, "energy generation hydro capacity", "energy generation from hydro capacity doubled this period", 25),
    Query(15, "agriculture rainfall season outlook", "agriculture rainfall season outlook remains broadly favourable", 30),
    # negatives — zero planted docs (questions.toml should_answer=false analog)
    Query(16, "zebra migration patterns serengeti", None, 0),
    Query(17, "quantum computing qubit decoherence", None, 0),
    Query(18, "volcanic eruption iceland aviation", None, 0),
    Query(19, "cryptocurrency exchange collapse", None, 0),
    Query(20, "antarctic ozone hole measurements", None, 0),
]


def _compose_text(title: str, nav: str, paragraphs: list[str]) -> str:
    parts = [title, nav] + paragraphs
    return " ".join(p for p in parts if p)


def _compose_html(title: str, nav: str, paragraphs: list[str], doc_i: int) -> bytes:
    body = "\n".join(f"  <p>{p}</p>" for p in paragraphs)
    html = (
        f"<html><head><title>{title}</title>\n"
        f"<style>.x{doc_i % 7} {{ color: red; }}</style></head>\n"
        f"<body>\n<div class=\"nav\"><span>{nav}</span></div>\n"
        f"{body}\n"
        f"<script>var page={doc_i}; skip();</script>\n"
        f"</body></html>"
    )
    return html.encode("utf-8")


def generate_documents(n: int, seed: int = SEED, vocab_size: int = 10_000) -> pd.DataFrame:
    """documents(url, warc_ts, html, text, lang) + hidden meta columns.

    Returns a pandas frame with the 5 contract columns plus ``title``,
    ``theme``, ``series``, ``release_date`` used by generate_doc_meta.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array(vocabulary(vocab_size))
    V = len(vocab)

    # Zipf-ish rank distribution over the vocabulary (bounded zipf)
    ranks = np.arange(1, V + 1, dtype=np.float64)
    probs = 1.0 / ranks
    probs /= probs.sum()

    lengths = rng.integers(60, 260, size=n)
    total = int(lengths.sum())
    flat = rng.choice(V, size=total, p=probs)
    offsets = np.concatenate([[0], np.cumsum(lengths)])

    theme_idx = rng.integers(0, len(THEMES), size=n)
    # lang: 90% en, 5% sw, 5% fr (FIXTURES §1)
    lang_draw = rng.random(n)
    langs = np.where(lang_draw < 0.90, "en", np.where(lang_draw < 0.95, "sw", "fr"))
    year = 2019 + (np.arange(n) % 5)

    # plant answer phrases into deterministic doc indices (en docs only get
    # credit in queries, but plant regardless — lang filter is part of the test)
    planted: dict[int, list[str]] = {}
    for q in QUERIES:
        if q.phrase is None:
            continue
        # deterministic, spread-out doc choices per query; tiny corpora
        # (n <= n_planted) plant into every doc instead of silently
        # collapsing modular collisions to fewer-than-claimed docs
        if n <= q.n_planted:
            idx = np.arange(n)
        else:
            idx = (
                np.arange(q.n_planted) * max(1, n // max(q.n_planted, 1))
                + q.query_id * 7
            ) % n
        for i in np.unique(idx):
            planted.setdefault(int(i), []).append(q.phrase)

    urls, texts, htmls, titles, series_ids, rel_dates = [], [], [], [], [], []
    ts = []
    slug_words = np.array(vocabulary(256)[:256])
    for i in range(n):
        toks = vocab[flat[offsets[i] : offsets[i + 1]]]
        theme = THEMES[theme_idx[i]]
        series = int(i % max(1, n // 20))  # ~20 docs per title-series
        sw = slug_words[(i * 31 + theme_idx[i]) % 256]
        slug = f"{theme}-{sw}-series{series:04d}"
        url = f"https://synth.example/{theme}/{year[i]}/{slug}-{i:06d}.html#page={i % 9 + 1}"
        # title keyed on series only ⇒ ~20 docs share a title with ascending
        # release dates, exercising the latest-flag semantics
        # (latest_updates.py:24-52 in the reference)
        title = f"{THEMES[series % len(THEMES)]} bulletin series{series:04d}"
        nav = f"home {theme} reports archive {year[i]}"

        body_tokens = toks.tolist()
        extra = planted.get(i, [])
        # paragraphs of ~40 tokens; planted phrases become their own paragraphs
        paras = [" ".join(body_tokens[j : j + 40]) for j in range(0, len(body_tokens), 40)]
        for p_i, phrase in enumerate(extra):
            paras.insert(min(len(paras), 1 + p_i), phrase)

        urls.append(url)
        titles.append(title)
        series_ids.append(series)
        texts.append(_compose_text(title, nav, paras))
        htmls.append(_compose_html(title, nav, paras, i))
        t = EPOCH + dt.timedelta(seconds=int(i) * 137)
        ts.append(t)
        rel_dates.append(t.date())

    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": ts,
            "html": htmls,
            "text": texts,
            "lang": langs,
            "title": titles,
            "theme": [THEMES[t] for t in theme_idx],
            "series": series_ids,
            "release_date": rel_dates,
        }
    )


def generate_doc_meta(docs: pd.DataFrame, seed: int = SEED) -> pd.DataFrame:
    """doc_meta sidecar (FIXTURES §2): latest flag per title-series + keywords."""
    rng = np.random.default_rng(seed + 1)
    meta = docs[["url", "title", "theme", "series", "release_date", "warc_ts"]].copy()
    # flag on the TIMESTAMP, not the date: series members are minutes-to-
    # hours apart, so several (often all) share the max calendar date and a
    # date-equality flag marks many "latest" per title — warc_ts is strictly
    # increasing within a series, giving exactly one latest per title (the
    # latest_updates.py semantics the fixture exists to exercise)
    latest_ts = meta.groupby(["title"])["warc_ts"].transform("max")
    meta["latest"] = meta["warc_ts"] == latest_ts
    meta = meta.drop(columns=["warc_ts"])
    meta["release_type"] = [RELEASE_TYPES[i] for i in rng.integers(0, len(RELEASE_TYPES), size=len(meta))]
    meta["url_keywords"] = meta["url"].map(
        lambda u: list(dict.fromkeys(u.rsplit("/", 1)[-1].split(".html")[0].split("-")))
    )
    return meta.drop(columns=["series"])


def queries_df() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "query_id": [q.query_id for q in QUERIES],
            "query_text": [q.query_text for q in QUERIES],
            "k": [q.k for q in QUERIES],
        }
    )


DOCUMENTS_SPARK_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "title string, theme string, series int, release_date date"
)


CONTRACT_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def spark_documents_distributed(spark, n: int, seed: int = SEED,
                                num_partitions: int | None = None,
                                vocab_size: int = 30_000):
    """Contract-shaped corpus generated ON THE EXECUTORS (mapInPandas over
    spark.range) — deterministic per doc index independent of partitioning,
    so the same (n, seed) always yields the identical table at any
    parallelism. Used for the scaling bench, where the input must be big
    enough that the build is compute-bound rather than overhead-bound.

    Zipf-distributed vocabulary keeps realistic hot-term skew (the property
    the salted term-range merge exists for)."""
    import pandas as pd  # noqa: F401  (worker-side)

    P = num_partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        import numpy as np
        import pandas as pd

        vocab = np.array(vocabulary(vocab_size))
        V = len(vocab)
        ranks = np.arange(1, V + 1, dtype=np.float64)
        probs = 1.0 / ranks
        cum = np.cumsum(probs / probs.sum())

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            urls, ts, htmls, texts, langs = [], [], [], [], []
            for i in ids:
                rng = np.random.default_rng([seed, int(i)])
                L = int(60 + rng.integers(0, 200))
                toks = vocab[np.searchsorted(cum, rng.random(L))]
                theme = THEMES[int(i) % len(THEMES)]
                title = f"{theme} bulletin series{int(i) % 997:04d}"
                nav = f"home {theme} reports archive"
                paras = [" ".join(toks[j : j + 40]) for j in range(0, L, 40)]
                r = rng.random()
                langs.append("en" if r < 0.90 else ("sw" if r < 0.95 else "fr"))
                urls.append(
                    f"https://synth.example/{theme}/{2019 + int(i) % 5}/doc-{int(i):09d}.html"
                )
                ts.append(EPOCH + dt.timedelta(seconds=int(i) * 7))
                texts.append(_compose_text(title, nav, paras))
                htmls.append(_compose_html(title, nav, paras, int(i)))
            yield pd.DataFrame(
                {"url": urls, "warc_ts": ts, "html": htmls, "text": texts, "lang": langs}
            )

    return (
        spark.range(0, n, 1, P)
        .mapInPandas(gen, schema=CONTRACT_SCHEMA)
    )
