"""Seeded inputs: the pages table, the first-touch query pass, the HTTP
query pool and its arrival schedule.

The program under test receives only the generated ``pages(url, warc_ts,
html, text, lang)`` rows (written as parquet) and the query strings.  Page
layout follows ``fixtures/pages.py``: ~86% ``en`` pages, the rest labelled
de/pt/ja, 3-60 sentences per page in paragraphs, one of nine main-container
spellings plus noise tags, optional code snippets.  ``text`` is the oracle
extractor's output, which is what ``build_index`` checks byte for byte.

The vocabulary is a fixed list of ``VOCAB_SIZE`` pronounceable words drawn
with Zipf weights (s = 1.0).  It does not depend on the seed, so a base
index and the delta pages streamed into it share one dictionary; the seed
chooses the words of every page.

Queries follow the reference query set of ``fixtures/queries.py``: see
``REFERENCE_RANKS``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import random
from bisect import bisect_left
from itertools import accumulate
from typing import Dict, List, Sequence, Tuple

from chavinha_mini_search_engine_spark.oracle.extractor import extract_page

VOCAB_SIZE = 4_000
ZIPF_S = 1.0
EPOCH = dt.datetime(2025, 8, 1, tzinfo=dt.timezone.utc)
LANGS = ["en"] * 18 + ["de", "pt", "ja"]
DOMAINS = [f"docs{i:02d}.example.org" for i in range(24)]

_CONS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"


def _vocabulary() -> List[str]:
    rng = random.Random(20250801)
    syll = [c + v for c in _CONS for v in _VOWELS]
    seen, out = set(), []
    while len(out) < VOCAB_SIZE:
        w = "".join(rng.choice(syll) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


VOCAB = _vocabulary()
_CUM = list(accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(VOCAB_SIZE)))


def _words(rng: random.Random, n: int) -> List[str]:
    total = _CUM[-1]
    return [VOCAB[bisect_left(_CUM, rng.random() * total)] for _ in range(n)]


def _sentence(rng: random.Random, n: int) -> str:
    s = " ".join(_words(rng, n))
    return s[0].upper() + s[1:] + "."


_CONTAINERS = [
    "<main>{}</main>", "<article>{}</article>", '<div role="main">{}</div>',
    '<div class="main-content">{}</div>', '<div id="content">{}</div>',
    '<div id="main">{}</div>', '<div class="content">{}</div>',
    '<div class="documentation">{}</div>', "{}",
]
_NOISE = ('<script>var x = 1;</script><style>.x{color:red}</style>'
          "<nav>Nav links</nav><header>Header</header>")


def _html(rng: random.Random, i: int, title: str) -> str:
    paras, sents = [], []
    n_sent = rng.randint(3, 60)
    for j in range(n_sent):
        sents.append(_sentence(rng, rng.randint(5, 18)))
        if rng.random() < 0.25 or j == n_sent - 1:
            paras.append("<p>" + " ".join(sents) + "</p>")
            sents = []
    if rng.random() < 0.5:
        paras.append(f"<pre><code>def f_{i}():\n    return {i} * 2</code></pre>")
    if rng.random() < 0.3:
        paras.append(f"<p>inline <code>call_{i}()</code> reference</p>")
    body = _CONTAINERS[i % len(_CONTAINERS)].format("".join(paras))
    return (f"<!DOCTYPE html><html><head><title>{title}</title>{_NOISE}</head>"
            f"<body>{_NOISE}{body}<footer>Footer</footer></body></html>")


def generate_pages(n: int, seed: int, tag: str) -> List[Dict]:
    """``n`` page rows; ``tag`` keeps urls of different page sets apart."""
    rng = random.Random(f"pages/{tag}/{seed}")
    rows = []
    for i in range(n):
        url = (f"https://{DOMAINS[i % len(DOMAINS)]}/{tag}/s{seed}/"
               f"{rng.choice(['guide', 'api', 'reference'])}/{i:06d}.html")
        title = _sentence(rng, rng.randint(3, 8))[:-1]
        html = _html(rng, i, title).encode("utf-8")
        ts_off = int(hashlib.md5(url.encode()).hexdigest()[:8], 16) % 86400
        rows.append({
            "url": url,
            "warc_ts": EPOCH + dt.timedelta(seconds=ts_off),
            "html": html,
            "text": extract_page(html, url)["content"],
            "lang": rng.choice(LANGS),
        })
    return rows


def write_pages(rows: Sequence[Dict], path: str, n_files: int = 1) -> None:
    """Parquet files ``part-00000.parquet``... of ``rows`` in order."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
    ])
    os.makedirs(path, exist_ok=True)
    per = math.ceil(len(rows) / n_files)
    for f in range(n_files):
        chunk = list(rows[f * per:(f + 1) * per])
        pq.write_table(pa.Table.from_pylist(chunk, schema=schema),
                       os.path.join(path, f"part-{f:05d}.parquet"))


def df_bands(doc_texts: Sequence[str]) -> Dict[str, List[str]]:
    """Words of the vocabulary by document frequency over ``doc_texts``:
    ``high`` (df >= 20% of docs), ``mid`` (5-20%), ``low`` (>= 2 docs,
    < 5%).  Each band is in vocabulary order, so it is seed-stable."""
    from chavinha_mini_search_engine_spark.functions.tokenizer import tokenize_py

    df: Dict[str, int] = {}
    for t in doc_texts:
        for w in set(tokenize_py(t)):
            df[w] = df.get(w, 0) + 1
    n = max(len(doc_texts), 1)
    bands = {"high": [], "mid": [], "low": []}
    for w in VOCAB:
        c = df.get(w, 0)
        if c >= 0.2 * n:
            bands["high"].append(w)
        elif c >= 0.05 * n:
            bands["mid"].append(w)
        elif c >= 2:
            bands["low"].append(w)
    return bands


def _reference_ranks() -> List[List[int]]:
    """The reference query set (``fixtures/queries.py``, FIXTURES.md §2:
    the 10 local perf and 20 cloud queries, edge cases left out), each
    query as the Zipf ranks of its terms in the fixture corpus's vocabulary
    (``fixtures/pages.VOCAB``, head terms first, then the query terms).
    A term of rank r maps to ``VOCAB[r]`` here: in that corpus the
    reference terms have df 34-100% of en docs, and ranks 3-88 of this
    vocabulary have df 26-98%, so the mapped queries keep the reference's
    lengths (2-4 terms) and its common, high-df terms."""
    from chavinha_mini_search_engine_spark.fixtures.pages import VOCAB as REF
    from chavinha_mini_search_engine_spark.fixtures.queries import (
        CLOUD_QUERIES,
        PERF_QUERIES,
    )
    from chavinha_mini_search_engine_spark.functions.tokenizer import tokenize_py

    return [[REF.index(t) for t in tokenize_py(q)]
            for q in PERF_QUERIES + CLOUD_QUERIES]


REFERENCE_RANKS = _reference_ranks()


def first_touch_queries(bands: Dict[str, List[str]], n: int,
                        seed: int) -> List[Tuple[str, str]]:
    """``n`` hybrid queries in which no word occurs twice, so no (field,
    term) posting list is read twice in the pass.  Query lengths are drawn
    from the reference queries' lengths (2-4 terms); the words are the
    high-, mid- and low-df bands shuffled together, so each band's share
    of the pass is its share of the banded vocabulary.  Hybrid reads all
    four indexed fields."""
    rng = random.Random(f"cold/{seed}")
    lengths = [len(rng.choice(REFERENCE_RANKS)) for _ in range(n)]
    words = [w for band in ("high", "mid", "low") for w in bands[band]]
    rng.shuffle(words)
    need = sum(lengths)
    if len(words) < need:
        raise ValueError(f"df bands hold {len(words)} words, {n} first-touch "
                         f"queries need {need}")
    out, i = [], 0
    for k in lengths:
        out.append((" ".join(words[i:i + k]), "hybrid"))
        i += k
    return out


SEARCH_TYPES = ("bm25", "hybrid", "semantic")
POPULARITY_S = 0.8  # assumed: no in-repo source gives query popularity


def http_schedule(n_requests: int, rate: float, seed: int
                  ) -> List[Tuple[float, str, str]]:
    """Open-loop request list ``(due_s, query, search_type)``.

    The pool is the reference query set mapped into this vocabulary
    (``REFERENCE_RANKS``), each query once per search type, as FIXTURES.md
    §2 lays the reference set out: 30 x 3 = 90 (query, type) pairs.  The
    seed orders the pool by popularity, which is Zipf (s =
    ``POPULARITY_S``, an assumption).  Arrivals are a Poisson process at
    ``rate`` per second (exponential gaps), ``n_requests`` of them, so
    every run sends the same number."""
    rng = random.Random(f"http/{seed}")
    pool = [(" ".join(VOCAB[r] for r in ranks), st)
            for ranks in REFERENCE_RANKS for st in SEARCH_TYPES]
    rng.shuffle(pool)
    cum = list(accumulate(1.0 / (r + 1) ** POPULARITY_S
                          for r in range(len(pool))))
    out, t = [], 0.0
    for _ in range(n_requests):
        t += rng.expovariate(rate)
        q, st = pool[bisect_left(cum, rng.random() * cum[-1])]
        out.append((t, q, st))
    return out
