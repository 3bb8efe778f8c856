"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(n, seed)``: the same seed always
writes the same parquet files. The engine only ever sees the files.

- ``write_pages``: a crawl-shaped pages table (``PAGES_SCHEMA``) built from the
  fixture word banks, wrapped in nav/script/style boilerplate, html lengths
  spread log-normally from a few hundred bytes to ~100 KB, 40% adversarial
  rows (null html, cp1252 bytes, empty/digit/symbol/duplicate-line bodies),
  written as one file per host so the hot host's file is the largest split.
- ``build_documents`` / ``write_documents``: a short-text documents table with
  the testdata schema (doc_id, text, lang, source, n_chars), ~300 chars per
  doc, with exact and near (``... dup``) duplicates so the dedup queries find
  clusters.

The seed moves content, never the amount of work: which page is clean or
adversarial, its language, its html length target and its boilerplate depend
on the row number alone, and the seed picks the words. The hot host's split
sets the wall time of the UDF stage; if its byte count or language mix moved
with the seed, the run-to-run spread would measure the generator instead of
the engine.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
from statistics import NormalDist

import pyarrow as pa
import pyarrow.parquet as pq

from language_identification_spark.fixtures import EPOCH, LANGS, WORD_BANKS

MIN_HTML_BYTES = 300
MAX_HTML_BYTES = 100_000
MEDIAN_HTML_BYTES = 3000
HTML_LOG_SIGMA = 1.1
N_HOSTS = 8

_NAV = (
    '<nav class="menu"><ul>{links}</ul></nav>'
    '<div class="cookie">cookie privacy policy terms conditions</div>'
)
_HEAD = (
    "<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>p{i}</title>"
    "<style>{style}</style>"
    "<script>window.dataLayer=[];function t(){{return {i};}}{script}</script>"
    "<!-- tracking pixel {i} --></head><body>"
)
_FOOT = (
    '<footer><p>&copy; 2024 &amp; sitemap rss feed</p>'
    '<script src="/static/app.js"></script></footer></body></html>'
)
_CSS = ".a{color:#333;margin:0 auto}.b>li{display:inline-block;padding:4px}"
_JS = "var q=document.querySelectorAll('.b');for(var k=0;k<q.length;k++){q[k].x=k}"


def _sentence(rng: random.Random, lang: str, n_words: int) -> str:
    bank = WORD_BANKS[lang]
    return " ".join(rng.choice(bank) for _ in range(n_words))


def _paragraph(rng: random.Random, lang: str) -> str:
    sep = "。" if lang == "zh" else ". "
    return sep.join(
        _sentence(rng, lang, rng.randint(8, 25)) for _ in range(rng.randint(2, 6))
    )


def _adversarial_body(rng: random.Random, kind: int, i: int) -> str:
    """A rule-violating body of ``kind``; its size depends on ``i`` only."""
    size = 20 + i * 37 % 380
    if kind == 0:
        return ""
    if kind == 1:
        return " ".join(str(rng.randint(0, 99999)) for _ in range(size))
    if kind == 2:
        return _sentence(rng, "en", 6) + " " + "a" * size + "!!!!!!!!"
    if kind == 3:
        return "click here subscribe login signup menu navigation " * (1 + size // 10)
    if kind == 4:
        return " ".join("#$%&*@!" for _ in range(size))
    line = _sentence(rng, "en", 10)
    return "<br>\n".join([line] * (5 + size // 4))


def _stratified_lengths(m: int) -> list[int]:
    """``m`` html byte targets at the (k + 0.5) / m quantiles of a log-normal
    (median 3 KB), clipped to [300 B, 100 KB]: mean ~6 KB."""
    nd = NormalDist()
    return [
        int(
            min(
                MAX_HTML_BYTES,
                max(
                    MIN_HTML_BYTES,
                    math.exp(
                        math.log(MEDIAN_HTML_BYTES)
                        + HTML_LOG_SIGMA * nd.inv_cdf((k + 0.5) / m)
                    ),
                ),
            )
        )
        for k in range(m)
    ]


def _host(i: int) -> int:
    # host-0 is hot: 40% of the urls land on it
    return 0 if i % 5 < 2 else 1 + i % (N_HOSTS - 1)


def _is_clean(i: int) -> bool:
    # 60% clean pages, 40% adversarial
    return i % 5 < 3


def build_page_rows(n: int, seed: int) -> list[dict]:
    """``n`` page rows in url order."""
    rng = random.Random(seed)
    targets: dict[int, int] = {}
    for h in range(N_HOSTS):
        members = [i for i in range(n) if _host(i) == h and _is_clean(i)]
        # the k-th clean page of a host always gets the same length and
        # language, whatever the seed
        targets.update(zip(members, _stratified_lengths(len(members))))
    rows = []
    for i in range(n):
        links = "".join(
            f'<li><a href="/s/{k}">{rng.choice(WORD_BANKS["en"])}</a></li>'
            for k in range(3 + i % 10)
        )
        head = _HEAD.format(i=i, style=_CSS * (1 + i % 6), script=_JS * (1 + i % 5))
        if _is_clean(i):
            lang = LANGS[i % len(LANGS)]
            parts = [head, _NAV.format(links=links), "<main>"]
            size = sum(len(p) for p in parts) + len(_FOOT)
            paras = []
            while size < targets[i]:
                para = _paragraph(rng, lang)
                paras.append(para)
                size += len(para.encode("utf-8")) + 7
            text = "\n".join(paras)
            html = "".join(parts) + "".join(f"<p>{p}</p>" for p in paras) + "</main>" + _FOOT
        else:
            lang = "und"
            text = _adversarial_body(rng, i // 5 % 6, i)
            html = head + f'<div class="a">{text}</div>' + _FOOT
        if i % 17 == 3 and html.isascii():
            html_bytes = (html + " café").encode("cp1252")
        else:
            html_bytes = html.encode("utf-8")
        if i % 23 == 7:  # fetch failure
            html_bytes, text, lang = None, "", "und"
        rows.append(
            {
                "url": f"https://host-{_host(i)}.example/page/{seed}/{i:06d}",
                "warc_ts": EPOCH + dt.timedelta(seconds=i),
                "html": html_bytes,
                "text": text,
                "lang": lang,
            }
        )
    return rows


PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def write_pages(path: str, n: int, seed: int) -> list[dict]:
    """Write the pages table as one parquet file per host; returns the rows."""
    rows = build_page_rows(n, seed)
    os.makedirs(path, exist_ok=True)
    by_host: dict[str, list[dict]] = {}
    for r in rows:
        by_host.setdefault(r["url"].split("/")[2], []).append(r)
    for host, host_rows in sorted(by_host.items()):
        table = pa.Table.from_pylist(host_rows, schema=PAGES_ARROW)
        pq.write_table(table, os.path.join(path, f"{host}.parquet"))
    return rows


DOC_VOCAB = (
    "a the spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row agg key "
    "query scan batch"
).split()
DOC_LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["fr"] * 15 + ["de"] * 14


def build_documents(n: int, seed: int) -> dict[str, list]:
    """Columns of the documents table: 10-99 words per doc from a 30-word
    vocabulary; ~5% near duplicates (an earlier doc plus ``dup``) and ~0.2%
    exact duplicates, so dedup queries have clusters to find."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            text = texts[rng.randrange(i)] + " dup"
        elif i > 10 and r < 0.052:
            text = texts[rng.randrange(i)]
        else:
            text = " ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 99)))
        texts.append(text)
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [rng.choice(DOC_LANGS) for _ in range(n)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def write_documents(path: str, docs: dict[str, list]) -> None:
    """Write ``docs`` as ``<path>/documents.parquet`` (the testdata layout)."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(docs), os.path.join(path, "documents.parquet"))

