"""Deterministic synthetic ``pages`` corpus (FIXTURES.md §1).

Generates Common-Crawl-style rows
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``
with seed=42, no wall clock, no external data.  ``text`` is produced by the
pinned extractor (oracle/extractor.py) so the table itself carries the
byte-identical invariant target.

Token frequencies are Zipf-ish (s~1.1) over a vocabulary built from the
reference query terms plus filler, so head terms ("python", "the", ...)
appear in >30% of docs and exercise multi-run merges of long posting
lists.  The tiny scale embeds one page per extraction branch (FIXTURES.md
§1.1).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
from typing import Dict, Iterator, List

from ..fixtures.queries import CLOUD_QUERIES, PERF_QUERIES
from ..functions.tokenizer import tokenize_py
from ..oracle.extractor import extract_page

SEED = 42
EPOCH = dt.datetime(2025, 8, 1, tzinfo=dt.timezone.utc)

DOMAINS = [
    "docs.python.org", "react.dev", "kubernetes.io", "go.dev",
    "doc.rust-lang.org", "angular.dev", "vuejs.org", "docs.docker.com",
    "www.typescriptlang.org", "nodejs.org", "redis.io", "www.postgresql.org",
    "graphql.org", "webpack.js.org", "nginx.org", "developer.hashicorp.com",
    "docs.ansible.com", "git-scm.com", "prometheus.io", "grafana.com",
]

# vocabulary: all reference query terms + stopword-ish heads + filler
_HEAD = ["the", "a", "to", "python", "function", "code", "use", "data"]
_QUERY_TERMS = sorted(
    {t for q in PERF_QUERIES + CLOUD_QUERIES for t in tokenize_py(q)}
)
_FILLER = [f"word{i:03d}" for i in range(400)]
VOCAB = _HEAD + _QUERY_TERMS + _FILLER


def _zipf_weights(n: int, s: float = 1.1) -> List[float]:
    return [1.0 / (i + 1) ** s for i in range(n)]


_WEIGHTS = _zipf_weights(len(VOCAB))


def _sentence(rng: random.Random, n_words: int) -> str:
    words = rng.choices(VOCAB, weights=_WEIGHTS, k=n_words)
    s = " ".join(words)
    return s[0].upper() + s[1:] + "."


def _paragraphs(rng: random.Random, n_sent: int) -> str:
    sents, out = [], []
    for i in range(n_sent):
        sents.append(_sentence(rng, rng.randint(5, 18)))
        if rng.random() < 0.25 or i == n_sent - 1:
            out.append(" ".join(sents))
            sents = []
    return "\n\n".join(out)


# the 9 container variants + whole-soup fallback (doc_scraper.py:457)
_CONTAINERS = [
    '<main>{body}</main>',
    '<article>{body}</article>',
    '<div role="main">{body}</div>',
    '<div class="main-content">{body}</div>',
    '<div id="content">{body}</div>',
    '<div id="main">{body}</div>',
    '<div class="content">{body}</div>',
    '<div class="documentation">{body}</div>',
    '{body}',
]

_NOISE = (
    '<script>var x = 1; console.log("NOISE");</script>'
    "<style>.x{color:red}</style>"
    "<nav>Nav NOISE links</nav><header>Header NOISE</header>"
)
_FOOTER = "<footer>Footer NOISE</footer><aside>Aside NOISE</aside>"


def _make_html(rng: random.Random, i: int, title: str, body_text: str) -> str:
    container = _CONTAINERS[i % len(_CONTAINERS)]
    paras = "".join(f"<p>{p}</p>" for p in body_text.split("\n\n"))
    extras = ""
    if rng.random() < 0.5:
        extras += f"<pre><code>def f_{i}():\n    return {i} * 2</code></pre>"
    if rng.random() < 0.3:
        extras += f"<pre>plain preformatted block {i} with more than ten chars</pre>"
    if rng.random() < 0.4:
        extras += f"<p>inline <code>call_{i}()</code> reference</p>"
    if rng.random() < 0.1:
        extras += "<p>entity &amp; test &lt;tag&gt; &quot;quoted&quot;</p>"
    if rng.random() < 0.05:
        extras += "<p>emoji \U0001f40d unicode café über</p>"
    title_tag = f"<title>{title}</title>" if title else ""
    body = container.format(body=paras + extras)
    return (
        f"<!DOCTYPE html><html><head>{title_tag}{_NOISE}</head>"
        f"<body>{_NOISE}{body}{_FOOTER}</body></html>"
    )


def _edge_pages() -> Iterator[Dict]:
    """Hand-built pages exercising every extraction branch (FIXTURES.md §1.1)."""
    cases = {
        "no-title": "<html><head></head><body><main><p>No title page body text here.</p></main></body></html>",
        "empty-body": "<html><head><title>Empty</title></head><body></body></html>",
        "crlf": "<html><head><title>CRLF</title></head><body><main><p>line one\r\nline two\r\n\r\nline three</p></main></body></html>",
        "nested": "<html><head><title>Nested</title></head><body><main><div><div><p>deep <b>bold <i>italic</i></b> text</p></div></div></main></body></html>",
        "many-snippets": (
            "<html><head><title>Snips</title></head><body><main>"
            + "".join(f"<pre><code>snippet number {j} body text</code></pre>" for j in range(25))
            + "</main></body></html>"
        ),
        "code-thresholds": (
            "<html><head><title>Thresh</title></head><body><main>"
            "<p><code>abcd</code></p>"            # len 4 <= 5: dropped
            "<p><code>abcdef</code></p>"          # len 6: kept
            f"<p><code>{'z' * 500}</code></p>"    # len 500: dropped (<500 strict)
            "<pre>short</pre>"                    # <=10: dropped
            "<pre>exactly 10!</pre>"              # len 11 > 10: kept
            "</main></body></html>"
        ),
        "huge": (
            "<html><head><title>Huge</title></head><body><main><p>"
            + " ".join(f"tok{j}" for j in range(3000))
            + "</p></main></body></html>"
        ),
        "short-doc": "<html><head><title>Short</title></head><body><main><p>Tiny body.</p></main></body></html>",
        "no-space-run": (
            "<html><head><title>Run</title></head><body><main><p>"
            + "x" * 900
            + " tail words here follow for boundary testing."
            + " ".join(_sentence(random.Random(7), 10) for _ in range(30))
            + "</p></main></body></html>"
        ),
    }
    for name, html in cases.items():
        yield {"url": f"https://edge.example.org/cases/{name}.html", "html": html, "lang": "en"}


def generate_pages(n: int, include_edges: bool = True, seed: int = SEED) -> List[Dict]:
    """Returns a list of row dicts for the pages table (deterministic)."""
    rng = random.Random(seed)
    rows: List[Dict] = []
    raw: List[Dict] = []
    if include_edges:
        raw.extend(_edge_pages())
    langs = ["en"] * 18 + ["de", "pt", "ja"][:2] + ["ja"]  # ~86% en
    i = 0
    while len(raw) < n:
        domain = DOMAINS[i % len(DOMAINS)]
        section = rng.choice(["guide", "api", "reference", "tutorial"])
        url = f"https://{domain}/{section}/{i:06d}.html"
        title = _sentence(rng, rng.randint(3, 8))[:-1]
        body = _paragraphs(rng, rng.randint(3, 60))
        html = _make_html(rng, i, title, body)
        raw.append({"url": url, "html": html, "lang": rng.choice(langs)})
        i += 1
    for r in raw[:n]:
        html_bytes = r["html"].encode("utf-8")
        extracted = extract_page(html_bytes, r["url"])
        ts_off = int(hashlib.md5(r["url"].encode()).hexdigest()[:8], 16) % 86400
        rows.append(
            {
                "url": r["url"],
                "warc_ts": EPOCH + dt.timedelta(seconds=ts_off),
                "html": html_bytes,
                "text": extracted["content"],
                "lang": r["lang"],
            }
        )
    return rows


PAGES_DDL_COLUMNS = "url string, warc_ts timestamp, html binary, text string, lang string"


def pages_from_documents(docs_df, html_repeat: int = 1):
    """Wrap the driver's ``documents`` table into the pages schema, fully
    JVM-side (for benchmarks at scales where the python generator would be
    the bottleneck).  ``text`` is left empty -- bench builds skip the
    byte-identity verify (that invariant is pytest's job on the generated
    corpus, where the oracle produced ``text``).

    ``html_repeat`` repeats the body paragraph to emulate realistic
    Common-Crawl page sizes (tens of KB of markup per page) -- the
    documents fixture rows are ~300 bytes, ~100x smaller than real pages.
    """
    from pyspark.sql import functions as F

    para = F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>"))
    body = F.concat(*([para] * html_repeat)) if html_repeat > 1 else para
    # spread urls over many synthetic domains: a single domain would trip
    # the reference's 10k per-domain cap (A5) and silently truncate the
    # corpus downstream of extraction
    domain = F.concat(
        F.lit("bench"), F.pmod(F.col("doc_id"), F.lit(4096)).cast("string"),
        F.lit(".example.org"),
    )
    return docs_df.select(
        F.concat(F.lit("https://"), domain, F.lit("/doc/"),
                 F.col("doc_id").cast("string"), F.lit(".html")).alias("url"),
        F.to_timestamp(F.lit("2025-08-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
                F.lit('</title><script>var x=1;</script></head><body><nav>nav</nav><main>'),
                body,
                F.lit("</main><footer>footer</footer></body></html>"),
            ),
            "utf-8",
        ).alias("html"),
        F.lit("").alias("text"),
        F.col("lang").alias("lang"),
    )


def write_pages_parquet(spark, path: str, n: int, include_edges: bool = True, seed: int = SEED):
    """Materialize the pages table as parquet (Iceberg writeTo on a real
    catalog -- partitionedBy(days(warc_ts), bucket(N, url)) per SURVEY S3)."""
    rows = generate_pages(n, include_edges, seed)
    df = spark.createDataFrame(rows, schema=PAGES_DDL_COLUMNS)
    df.repartition(max(1, n // 2000)).write.mode("overwrite").parquet(path)
    return path
