"""Seeded inputs for the benchmark: corpus, query stream, upsert batches.

Every input is a pure function of ``seed`` and the size arguments, so the
same seed gives the same bytes and the program under test receives only
these generated rows — it never sees the seed.

Why each workload was chosen (see perfbench/README.md for the full
layer -> metric -> workload table):

* ``build`` — a cold ``build_index`` with default options over a
  Common-Crawl-style corpus is the batch path users run to index a crawl;
  ``text``, ``index.builder`` and ``index.codec`` do nearly all the work and
  ``query.bm25`` does none.  It is not a workload of its own: it runs as
  the set-up of the other two (perfbench/README.md says why).
* ``search`` — one client in a closed loop sends a seeded Zipf query
  stream (1-4 terms, head and tail terms, repeats, one stopword-only
  query in ten) against an index built during set-up, then the
  same queries run once as a single ``search_many`` batch; ``query.bm25``
  and ``text.tokenizer`` do the work, the builder runs only in set-up.
* ``upsert`` — writes beside reads: small re-crawl batches mixing new urls
  with urls already in the index go through ``merge_pages``, and between
  batches the client reopens ``BM25Index`` and queries the merged index,
  so a change that helps full builds or fresh-index queries but costs
  incremental maintenance shows up here.
"""

from __future__ import annotations

import datetime as dt
import functools
from typing import List

import numpy as np
import pandas as pd

# The mix parameters below are assumed, not fitted to a crawl: term
# ranks follow Zipf's law with an exponent near 1 (ZIPF_S), page lengths
# are lognormal (see _page), half of a re-crawl batch is urls already
# indexed (RECRAWL_SHARE), and the query shapes are QUERY_CYCLE.  At the
# corpus sizes the benchmark builds, query latency is Spark's fixed cost
# per job chain and hardly depends on them (perfbench/README.md, "Sizing").
VOCAB_SIZE = 6000
ZIPF_S = 1.07
# Head terms are the most frequent vocabulary ranks, tail terms the rare,
# discriminative ones.
HEAD_RANKS = 60
# In an 800- or 1,000-page corpus these ranks have a median df of 7 and
# are absent from about one page set in 500 (measured on seeds 1 and 2),
# so a tail term almost always matches a few docs.
TAIL_RANKS = (1500, 3000)
RECRAWL_SHARE = 0.5
STOPWORD_QUERIES = ("the of and", "this is the", "it was the", "what is it")

_ONSETS = ("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t",
           "v", "z", "br", "cr", "dr", "gl", "pl", "st", "tr")
_NUCLEI = ("a", "e", "i", "o", "u", "ai", "ou")
_CODAS = ("", "", "n", "r", "l", "x", "m")
_DOMAINS = ("example.com", "docs.example.org", "blog.sample.net",
            "wiki.demo.io", "news.site.com", "data.hub.net")
_EPOCH = dt.datetime(2024, 1, 1)
_NOISE = (
    "<style>body{color:#333}</style><script>var t='noise';</script>"
)

COLUMNS = ("url", "warc_ts", "html", "text", "lang")


@functools.lru_cache(maxsize=1)
def vocabulary() -> List[str]:
    """Fixed pseudo-word vocabulary, most frequent first.  Independent of
    the seed so that corpora of different seeds share a term space."""
    rng = np.random.RandomState(12345)
    words: List[str] = []
    seen = set()
    while len(words) < VOCAB_SIZE:
        n_syl = 2 + int(rng.randint(0, 3))
        w = "".join(
            _ONSETS[rng.randint(len(_ONSETS))] + _NUCLEI[rng.randint(len(_NUCLEI))]
            for _ in range(n_syl)
        ) + _CODAS[rng.randint(len(_CODAS))]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cdf(n: int) -> np.ndarray:
    w = np.cumsum(1.0 / np.arange(1, n + 1) ** ZIPF_S)
    return w / w[-1]


def _draw(rng, cdf: np.ndarray, size: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random_sample(size)), len(cdf) - 1)


def _page(rng, vocab, cdf, url: str, ts: dt.datetime) -> dict:
    # varied page lengths: lognormal with a median of ~180 words and a
    # few very long pages (assumed)
    n_words = int(np.clip(rng.lognormal(5.2, 0.8), 12, 3000))
    ids = _draw(rng, cdf, n_words)
    words = [vocab[i] for i in ids]
    title = " ".join(words[:5])
    desc = " ".join(words[5:15])
    paras, k = [], 5
    while k < n_words:
        step = int(rng.randint(20, 80))
        paras.append(" ".join(words[k : k + step]))
        k += step
    html = (
        f"<html><head><title>{title}</title>"
        f'<meta name="description" content="{desc}">{_NOISE}</head><body>'
        "<header>site header</header><nav>home | about</nav>"
        f"<h1>{title}</h1>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "<aside>sidebar ads</aside><footer>copyright</footer></body></html>"
    )
    # exactly what text.extract.extract_content yields for this html
    text = " ".join([title] + paras)
    return {
        "url": url,
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": text,
        "lang": "en",
    }


def _url(i: int) -> str:
    return f"https://{_DOMAINS[i % len(_DOMAINS)]}/page/{i}"


def corpus(seed: int, n_pages: int) -> pd.DataFrame:
    """Pages with urls page/0..n_pages-1: (url, warc_ts, html, text, lang)."""
    rng = np.random.RandomState(seed)
    vocab, cdf = vocabulary(), _zipf_cdf(VOCAB_SIZE)
    rows = [
        _page(rng, vocab, cdf, _url(i),
              _EPOCH + dt.timedelta(seconds=int(rng.randint(0, 180 * 86400))))
        for i in range(n_pages)
    ]
    return pd.DataFrame(rows, columns=list(COLUMNS))


def upsert_batches(
    seed: int, n_base: int, n_batches: int, batch_size: int,
) -> List[pd.DataFrame]:
    """Re-crawl batches against a corpus of ``n_base`` pages: RECRAWL_SHARE
    of each batch re-fetches a url of the base range (new content, later
    warc_ts; two batches may re-fetch the same url), the rest are new urls
    above the base range."""
    rng = np.random.RandomState(seed + 7_919)
    vocab, cdf = vocabulary(), _zipf_cdf(VOCAB_SIZE)
    batches, next_new = [], n_base
    for b in range(n_batches):
        n_old = int(round(batch_size * RECRAWL_SHARE))
        old = rng.choice(n_base, size=n_old, replace=False)
        ids = [int(i) for i in old] + list(range(next_new, next_new + batch_size - n_old))
        next_new += batch_size - n_old
        ts = _EPOCH + dt.timedelta(days=200 + b)
        rows = [_page(rng, vocab, cdf, _url(i), ts) for i in ids]
        batches.append(pd.DataFrame(rows, columns=list(COLUMNS)))
    return batches


# One cycle of the query stream: the number of terms of each query, 0
# for a stopword-only query (empty result) and REPEAT for a repeat of the
# cycle's second query (its terms are in the term-stats memo).  Every
# run answers whole cycles, so runs of different seeds send the same
# shapes.  The mix (1-4 terms, one repeat and one stopword-only query in
# ten) is assumed.
REPEAT = -1
QUERY_CYCLE = (1, 2, 3, 4, 1, 2, 3, 4, REPEAT, 0)


def queries(seed: int, n: int) -> List[str]:
    """A query stream of ``n`` queries following QUERY_CYCLE.  Terms
    alternate head and tail vocabulary (a 1-term query is a head term on
    its first appearance in the cycle and a tail term on its second).
    Head terms come in a Zipf-weighted order and tail terms in a uniform
    one, both without replacement until their ranks run out, so apart
    from REPEAT no query shares a term with an earlier one: every seed
    sends the same number of term-stats memo hits."""
    rng = np.random.RandomState(seed + 104_729)
    vocab = vocabulary()

    def draws(ranks: np.ndarray, p=None):
        while True:
            for r in rng.choice(ranks, size=len(ranks), replace=False, p=p):
                yield vocab[r]

    zipf = 1.0 / np.arange(1, HEAD_RANKS + 1) ** ZIPF_S
    head = draws(np.arange(HEAD_RANKS), zipf / zipf.sum())
    tail = draws(np.arange(*TAIL_RANKS))
    cycle = len(QUERY_CYCLE)
    out: List[str] = []
    for j in range(n):
        pos = j % cycle
        n_terms = QUERY_CYCLE[pos]
        if n_terms == REPEAT:
            out.append(out[j - pos + 1])
        elif n_terms == 0:
            out.append(STOPWORD_QUERIES[(j // cycle) % len(STOPWORD_QUERIES)])
        else:
            first_head = n_terms > 1 or pos == QUERY_CYCLE.index(n_terms)
            out.append(" ".join(next(head if first_head == (t % 2 == 0) else tail)
                                for t in range(n_terms)))
    return out
