"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

import json
import os
import re

import pandas as pd
import pytest

import gen
import run
from stats import MIN_BEYOND, beyond, p95_supported, percentile
from tracing import Tracer

from search_engine_spark.text.extract import extract_content
from search_engine_spark.text.tokenizer import tokenize_py

BENCH = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# -- generator determinism ----------------------------------------------------


def test_corpus_same_seed_same_inputs():
    assert gen.corpus(5, 30).equals(gen.corpus(5, 30))


def test_corpus_new_seed_new_inputs():
    a, b = gen.corpus(5, 30), gen.corpus(6, 30)
    assert list(a["url"]) == list(b["url"])  # same url space
    assert not a["html"].equals(b["html"])


def test_queries_deterministic_and_seeded():
    assert gen.queries(3, 50) == gen.queries(3, 50)
    assert gen.queries(3, 50) != gen.queries(4, 50)


def test_upsert_batches_deterministic_and_seeded():
    a = gen.upsert_batches(3, 100, 2, 10)
    assert all(x.equals(y) for x, y in zip(a, gen.upsert_batches(3, 100, 2, 10)))
    assert not a[0]["html"].equals(gen.upsert_batches(4, 100, 2, 10)[0]["html"])


def test_upsert_batches_mix_recrawls_and_new_urls():
    base = set(gen.corpus(1, 100)["url"])
    batches = gen.upsert_batches(1, 100, 3, 10)
    seen = set()
    for b in batches:
        urls = set(b["url"])
        assert len(urls) == 10
        assert len(urls & base) == 10 * gen.RECRAWL_SHARE
        new = urls - base
        assert not new & seen  # new urls are new in every batch
        seen |= new


def test_generated_text_is_what_extraction_yields():
    # the oracle tokenizes `text`; the index extracts from `html`
    for html, text in zip(*(gen.corpus(9, 40)[c] for c in ("html", "text"))):
        assert extract_content(html.decode("utf-8")).text == text


def test_stopword_queries_tokenize_to_nothing():
    assert all(tokenize_py(q) == [] for q in gen.STOPWORD_QUERIES)


def test_query_stream_follows_the_cycle():
    cycle = len(gen.QUERY_CYCLE)
    qs = gen.queries(2, 5 * cycle)
    seen = set()
    for j, q in enumerate(qs):
        n_terms = gen.QUERY_CYCLE[j % cycle]
        if n_terms == gen.REPEAT:
            assert q == qs[j - j % cycle + 1]  # the cycle's second query
            continue
        if n_terms == 0:
            assert q in gen.STOPWORD_QUERIES and tokenize_py(q) == []
            continue
        assert len(q.split()) == n_terms
        assert not seen & set(q.split())  # no term of an earlier query
        seen |= set(q.split())
    head = set(gen.vocabulary()[: gen.HEAD_RANKS])
    ones = [q for j, q in enumerate(qs) if gen.QUERY_CYCLE[j % cycle] == 1]
    assert [q in head for q in ones[:2]] == [True, False]  # head, then tail


# -- metric names -------------------------------------------------------------


def _all_metrics():
    return BENCH["end_to_end"] + BENCH["per_layer"]


def test_metric_names_and_units_follow_the_rule():
    names = [m["name"] for m in _all_metrics()]
    assert len(names) == len(set(names))
    for m in _all_metrics():
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")


def test_benchmark_json_matches_the_runner():
    assert [m["name"] for m in BENCH["end_to_end"]] == list(run.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] == [
        (n, u, b) for n, (u, b) in run.PER_LAYER.items()]
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"]) <= 0.25


# -- at least ten samples beyond each reported percentile ---------------------


@pytest.mark.parametrize("n,want", [(10, False), (199, False), (200, True), (1000, True)])
def test_p95_needs_ten_samples_beyond(n, want):
    assert p95_supported(n) == want


def test_beyond_counts_samples_above_the_percentile():
    values = list(range(1, 201))
    p95 = percentile(values, 95)
    assert sum(v > p95 for v in values) == beyond(200, 95) == 10


# -- merge bookkeeping --------------------------------------------------------


def test_merge_log_tracks_the_latest_doc_id_of_each_url(tmp_path):
    # base ids 0-1; a first merge re-crawls u0 (id 2), a second re-crawls
    # it again (id 4): the id the second merge replaces is 2, not 0
    docs = tmp_path / "docs"
    docs.mkdir()
    pd.DataFrame({"doc_id": [0, 1, 2, 3, 4], "url": ["u0", "u1", "u0", "u2", "u0"]}
                 ).to_parquet(docs / "part-0.parquet")
    assert run.MergeLog(str(tmp_path)).live == {"u0": 4, "u1": 1, "u2": 3}


# -- tracer -------------------------------------------------------------------


def test_self_time_subtracts_child_spans():
    t = Tracer(True)
    with t.request("r1"):
        with t.span("bm25.search"):
            with t.span("codec.decode"):
                pass
    spans = {s["name"]: s for s in t.spans}
    assert spans["bm25.search"]["request"] == "r1"
    assert spans["codec.decode"]["parent"] == t.spans.index(spans["bm25.search"])
    total = spans["bench.op"]["end"] - spans["bench.op"]["start"]
    assert sum(t.self_times().values()) == pytest.approx(total)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.request("r"):
        with t.span("x.y"):
            pass
    assert t.spans == []
