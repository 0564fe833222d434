"""The repo benchmark: one command per workload, run from the repo root.

    python3 perfbench/run.py --workload search|upsert \
        --seed N --seconds S --trace 0|1

With ``--trace 0`` it reports the end-to-end metrics listed in
BENCHMARK.json, with tracing off.  With ``--trace 1`` it reports the
per-layer metrics, from spans recorded around each call into the
program, and the tracing overhead.  Either way it checks the program's
outputs (BM25 oracle rank identity, ``search_many`` == ``search``,
blockmax == exhaustive on the merged index, no tombstoned doc surfacing,
doc counts) and exits non-zero on any mismatch.  The last line of stdout
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

See perfbench/README.md for the workloads, the layer -> metric table and
how each figure is measured.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from typing import Callable, Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

# The program under test must be importable from the checkout; without it
# the run fails here, before any result is printed.
import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.dataset as pads  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from search_engine_spark.index import codec  # noqa: E402
from search_engine_spark.index.builder import IndexPaths, build_index  # noqa: E402
from search_engine_spark.index.merge import merge_pages  # noqa: E402
from search_engine_spark.query.bm25 import BM25Index  # noqa: E402
from search_engine_spark.query.oracle import BM25Oracle  # noqa: E402
from search_engine_spark.schemas import PAGES  # noqa: E402
from search_engine_spark.session import get_spark  # noqa: E402
from search_engine_spark.text.extract import extract_tokenize_batches  # noqa: E402
from search_engine_spark.text.tokenizer import tokenize_py  # noqa: E402

import gen  # noqa: E402
from stats import p95_supported, percentile  # noqa: E402
from tracing import JobCounter, Tracer  # noqa: E402

WORKLOADS = ("search", "upsert")
K = 10
CORES = 4
# Corpus sizes.  At these sizes a query's latency is Spark's fixed cost
# per job chain, not per-doc work: on 4 cores (local[4]) the median query
# took 0.98 s on 1,000 pages and 0.94 s on 8,000 (score-only 0.49 s and
# 0.63 s), while 8,000 pages add ~9 s to every run's build.  The search
# metrics therefore measure per-query fixed cost (see README, "Sizing").
N_SEARCH = 1000
N_BASE = 800
# The upsert workload makes MERGES merges of UPSERT_BATCH pages each.  A
# merge costs ~10 s whatever its size (10 to 40 pages measured), so the
# count is fixed to keep a run near a minute: the second merge lands on an
# index that already has a delta, and its reads cross the base and two
# deltas.
MERGES = 2
UPSERT_BATCH = 20
# merged-index queries after each merge: one each of 1-4 terms
UPSERT_QUERIES = 4
SETUP_REPS = 3
# search_many calls on the search workload, each over half a query cycle
SEARCH_MANY_CALLS = 2
WORK = os.path.join(ROOT, ".perfbench_work")

PAGES_PA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])

# the end-to-end metrics, as named in BENCHMARK.json, and their units
E2E_UNITS = {
    "setup_s": "s",
    "index_bytes_per_text_byte": "ratio",
    "ops_per_s": "1/s",
    "query_p50_ms": "ms",
    "batch_qps": "queries/s",
}


class Run:
    """State of one benchmark run: session, tracer, counters, checks."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.mismatches: List[str] = []
        self.layer: Dict[str, object] = {}
        self.notes: List[str] = []
        self.report: Dict[str, tuple] = {}  # report metric -> (value, unit, n)
        self.op_walls: Dict[bool, List[float]] = {True: [], False: []}  # traced?
        self.spark = None
        self.jobs: Optional[JobCounter] = None
        self.t0 = time.perf_counter()

    # -- bookkeeping ----------------------------------------------------
    def phase(self, name: str) -> None:
        """Progress line on stderr: seconds since the run started."""
        print(f"[perfbench] {time.perf_counter() - self.t0:7.2f}s {name}",
              file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.mismatches.append(what)
        return ok

    def op(self, name: str, fn: Callable[[], bool], traced: Optional[bool] = None) -> None:
        """One attempted operation; an exception or a failed check counts
        toward ``failed``.  ``traced`` overrides the run's tracing for
        this op."""
        self.attempted += 1
        self.tracer.enabled = self.trace if traced is None else traced
        try:
            with self.tracer.request(name):
                ok = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = self.check(False, f"{name} raised")
        self.tracer.enabled = self.trace
        self.failed += not ok

    # -- calls into the program, each inside a span ----------------------
    def start_session(self) -> None:
        # keep every file Spark, the JVMs and the Python workers write
        # inside the work dir (no /tmp/hsperfdata_*, no /tmp spill files)
        tmp = os.path.join(WORK, "tmp")
        tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already
        os.environ.update({
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        })
        conf = {
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:  # build_index(collect_metrics=True) reads the UI API
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.workload}",
                master=f"local[{CORES}]", shuffle_partitions=2 * CORES,
                extra_conf=conf,
            )
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jobs = JobCounter(self.spark)
        self.phase("session started")

    def stage_pages(self, pdf: pd.DataFrame, name: str):
        """Write generated pages as the program's parquet input."""
        path = os.path.join(WORK, "input", f"{name}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=PAGES_PA, preserve_index=False), path)
        return self.spark.read.schema(PAGES).parquet(path)

    def build(self, pages, out_dir: str) -> float:
        t0 = time.perf_counter()
        with self.tracer.span("builder.build_index"):
            build_index(self.spark, pages, out_dir, resume=False,
                        collect_metrics=self.tracer.enabled)
        wall = time.perf_counter() - t0
        if self.tracer.enabled:
            self._builder_layer(out_dir)
        return wall

    def open_index(self, out_dir: str) -> BM25Index:
        t0 = time.perf_counter()
        with self.tracer.span("bm25.open"):
            idx = BM25Index(self.spark, out_dir)
        self.add("bm25.open_ms", (time.perf_counter() - t0) * 1e3)
        return idx

    def search(self, idx: BM25Index, q: str, join_docs: bool = True,
               mode: str = "blockmax") -> List[tuple]:
        with self.tracer.span("bm25.search"):
            rows = idx.search(q, k=K, mode=mode, join_docs=join_docs).collect()
        return _ranked(rows)

    # -- per-layer measurements (traced run only) -----------------------
    def add(self, name: str, value: float) -> None:
        """One sample of a per-layer metric; reported as the median."""
        if self.tracer.enabled:
            self.layer.setdefault(name, []).append(value)

    def _builder_layer(self, out_dir: str) -> None:
        """Stage walls from the build's manifest; shuffle, task and skew
        figures from its collect_metrics table."""
        paths = IndexPaths(out_dir)
        man = pads.dataset(paths.manifest, format="parquet").to_table().to_pandas()
        stages = ("docs", "tf", "stats", "blocks")
        for stage in stages:
            self.add(f"builder.{stage}_s",
                     man.loc[man["stage"] == stage, "wall_ms"].sum() / 1e3)
        m = pads.dataset(paths.metrics, format="parquet").to_table().to_pandas()
        self.add("builder.shuffle_write_bytes", float(m["shuffle_write_bytes"].sum()))
        self.add("builder.shuffle_read_bytes", float(m["shuffle_read_bytes"].sum()))
        self.add("builder.spark_stages", float(len(m)))
        self.add("builder.spark_tasks", float(m["num_tasks"].sum()))
        skew = m.loc[m["num_tasks"] >= CORES, "skew_ratio"].dropna()
        self.add("builder.max_skew_ratio", float(skew.max()) if len(skew) else 1.0)
        wall_ms = man.loc[man["stage"].isin(stages), "wall_ms"].sum()
        self.add("builder.core_busy_share",
                 m["executor_run_time_ms"].sum() / max(1.0, wall_ms * CORES))

    def codec_layer(self, out_dir: str) -> None:
        """Postings bytes per posting, and in-process decode throughput of
        every built block through the codec's public functions."""
        post = _table(out_dir, "postings", ["count", "doc_ids", "tfs", "doclens"])
        rows = list(zip(post["count"], post["doc_ids"], post["tfs"], post["doclens"]))
        n_post = int(post["count"].sum())
        nbytes = sum(len(a) + len(b) + len(c) for _, a, b, c in rows)
        self.layer["codec.bytes_per_posting"] = nbytes / max(1, n_post)
        t0 = time.perf_counter()
        with self.tracer.span("codec.decode"):
            for n, ids, tfs, dls in rows:
                codec.delta_decode(ids, n)
                codec.varint_decode(tfs, n)
                codec.varint_decode(dls, n)
        self.layer["codec.decode_postings_per_s"] = n_post / (time.perf_counter() - t0)

    def text_layer(self, pdf: pd.DataFrame, queries: List[str]) -> None:
        """Single-core, in-process extract+tokenize over the corpus's
        pandas batches, and query tokenization."""
        batches = [pdf.iloc[i : i + 256][["url", "html"]] for i in range(0, len(pdf), 256)]
        t0 = time.perf_counter()
        with self.tracer.span("text.extract_tokenize_batches"):
            for _ in extract_tokenize_batches()(iter(batches)):
                pass
        self.layer["text.extract_tokenize_docs_per_s"] = len(pdf) / (time.perf_counter() - t0)
        t0 = time.perf_counter()
        with self.tracer.span("text.tokenize_py"):
            for q in queries:
                tokenize_py(q)
        self.layer["text.tokenize_query_us"] = (time.perf_counter() - t0) / len(queries) * 1e6

    # -- finish -----------------------------------------------------------
    def peak_rss_mb(self) -> float:
        """Peak resident set of this Python process plus the JVM."""
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            hwm = [line for line in f if line.startswith("VmHWM:")]
        return own + int(hwm[0].split()[1]) / 1024.0

    def stop(self) -> None:
        """Stop the session, then wait for the JVM and every process it
        started (the Python workers) to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        children = _descendants(proc.pid)
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for pid in children:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.spark = None


def _descendants(pid: int) -> List[int]:
    """All processes below ``pid``, from the parent links in /proc."""
    kids: Dict[int, List[int]] = {}
    for d in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _ranked(rows) -> List[tuple]:
    return sorted(((int(r["doc_id"]), round(float(r["score"]), 9)) for r in rows),
                  key=lambda x: (-x[1], x[0]))


def _same(got: List[tuple], want: List[tuple]) -> bool:
    return [d for d, _ in got] == [d for d, _ in want] and all(
        abs(a - b) < 1e-7 for (_, a), (_, b) in zip(got, want))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].str.len().sum())


def _table(out_dir: str, name: str, columns: List[str]) -> pd.DataFrame:
    return pads.dataset(os.path.join(out_dir, name), format="parquet").to_table(
        columns=columns).to_pandas()


def _oracle(pdf: pd.DataFrame, out_dir: str) -> BM25Oracle:
    """BM25Oracle over the corpus, with the doc ids the build assigned.
    Generated text is lowercase words joined by single spaces, so
    tokenizing word by word (memoized) equals tokenize_py(text)."""
    docs = _table(out_dir, "docs", ["doc_id", "url"])
    id_by_url = dict(zip(docs["url"], docs["doc_id"]))
    memo: Dict[str, List[str]] = {}

    def tokens(text: str) -> List[str]:
        out: List[str] = []
        for w in text.split(" "):
            if w not in memo:
                memo[w] = tokenize_py(w)
            out.extend(memo[w])
        return out

    return BM25Oracle({int(id_by_url[u]): tokens(t) for u, t in zip(pdf["url"], pdf["text"])})


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


def set_up(run: Run, n_pages: int, warmup: List[str]):
    """Set-up shared by both workloads: generate and stage the corpus,
    build the base index (a cold build_index with default options — the
    session's first Spark work, so it pays Python worker start and stage
    compilation like a batch indexing job), then open the index
    SETUP_REPS times and answer a first query.  setup_s is the build
    wall plus the median open wall plus the first query's wall; the
    build is too long to repeat in a run of about a minute.  The other
    ``warmup`` queries then run untimed."""
    pdf = gen.corpus(run.seed, n_pages)
    out = os.path.join(WORK, "index")
    pages = run.stage_pages(pdf, "corpus")
    walls = {}

    def build() -> bool:
        walls["build"] = run.build(pages, out)
        n = len(_table(out, "docs", ["doc_id"]))
        return run.check(n == len(pdf), f"build: {n} docs, corpus has {len(pdf)}")

    run.op("build", build)
    run.phase("index built")
    opens = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        idx = run.open_index(out)
        opens.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    run.search(idx, warmup[0])
    first = time.perf_counter() - t0
    for q in warmup[1:]:
        run.search(idx, q)
    setup_s = walls["build"] + statistics.median(opens) + first
    ratio = _dir_bytes(out) / _text_bytes(pdf)
    run.report.update({
        "setup_s": (setup_s, "s", SETUP_REPS),
        "build_docs_per_s": (len(pdf) / walls["build"], "docs/s", 1),
        "index_bytes_per_text_byte": (ratio, "ratio", 1),
    })
    run.phase("set-up done")
    return pdf, out, idx, {"setup_s": setup_s, "index_bytes_per_text_byte": ratio}


def query_loop(run: Run, idx: BM25Index, queries: List[str], name: str,
               check: Callable[[str, List[tuple]], bool] = lambda q, res: True):
    """One closed-loop client: each query is sent after the previous
    reply.  Returns (latencies in s, results); a query that raised has
    latency NaN and no results.  The traced run sends each query twice,
    traced and untraced in alternating order; the difference of the two
    walls is the tracing overhead."""
    lat = [float("nan")] * len(queries)
    got: List[List[tuple]] = [[] for _ in queries]
    for j, q in enumerate(queries):
        modes = ((True, False) if j % 2 == 0 else (False, True)) if run.trace else (False,)
        for traced in modes:
            def one(j=j, q=q, traced=traced) -> bool:
                counts: dict = {}
                t0 = time.perf_counter()
                with run.jobs.group(counts) if traced else nullcontext():
                    res = run.search(idx, q)
                wall = time.perf_counter() - t0
                run.op_walls[traced].append(wall)
                if traced or not run.trace:
                    lat[j], got[j] = wall, res
                if traced:
                    _bm25_probe(run, idx, q, wall, counts)
                return check(q, res)

            run.op(f"{name}-{j}", one, traced)
    return lat, got


def batch(run: Run, idx: BM25Index, queries: List[str], singles: List[list]) -> float:
    """The queries once more as one search_many call; every result must
    equal its single search().  Returns the call's wall in seconds (NaN
    if it raised)."""
    state = {"wall": float("nan")}

    def one() -> bool:
        qs = {str(j): q for j, q in enumerate(queries)}
        t0 = time.perf_counter()
        with run.tracer.span("bm25.search_many"):
            many = idx.search_many(qs, k=K).collect()
        state["wall"] = time.perf_counter() - t0
        run.add("bm25.batch_ms_per_query", state["wall"] * 1e3 / len(qs))
        by_q: Dict[str, list] = {}
        for r in many:
            by_q.setdefault(r["query_id"], []).append(r)
        ok = True
        for j, (q, res) in enumerate(zip(queries, singles)):
            ok &= run.check(_same(_ranked(by_q.get(str(j), [])), res),
                            f"search_many != search: {q!r}")
        return ok

    run.op("search_many", one)
    return state["wall"]


def batch_qps(run: Run, n_queries: int, walls: List[float]) -> float:
    """Queries per second over every search_many call that answered."""
    ok = _answered(walls)
    qps = n_queries * len(ok) / sum(ok)
    run.report["batch_qps"] = (qps, "queries/s", len(walls))
    return qps


def _answered(lat: List[float]) -> List[float]:
    return [x for x in lat if x == x]  # drop the NaNs of queries that raised


def _query_stream(seed: int):
    """The warm-up queries and the timed stream.  A query shape's first
    run is slower (a stopword-only query took 1.58 s, then 0.32 s), so
    set-up sends one query of each shape of the stream's first cycle
    (1-4 terms, stopword-only), untimed but for the first.  The timed
    stream starts at the next cycle and shares no term with them."""
    raw = gen.queries(seed, 5000)
    warm = [raw[gen.QUERY_CYCLE.index(n)] for n in (1, 2, 3, 4, 0)]
    return warm, raw[len(gen.QUERY_CYCLE):]


def workload_search(run: Run) -> Dict[str, float]:
    cycle = len(gen.QUERY_CYCLE)
    warm, stream = _query_stream(run.seed)
    pdf, out, idx, e2e = set_up(run, N_SEARCH, warm)
    lat: List[float] = []
    got: List[List[tuple]] = []
    t_end = time.perf_counter() + run.seconds
    # whole query cycles until --seconds are up, at least one
    while not lat or time.perf_counter() < t_end:
        lo = len(lat)
        more_lat, more_got = query_loop(run, idx, stream[lo : lo + cycle], "query")
        lat += more_lat
        got += more_got
    run.phase(f"{len(lat)} queries done")
    # the first cycle again, split over SEARCH_MANY_CALLS search_many calls
    step = cycle // SEARCH_MANY_CALLS
    walls = [batch(run, idx, stream[lo : lo + step], got[lo : lo + step])
             for lo in range(0, cycle, step)]
    run.phase("search_many done")
    e2e["batch_qps"] = batch_qps(run, step, walls)

    # rank identity against the oracle; a mismatch fails its query
    oracle = _oracle(pdf, out)
    for q, res, t in zip(stream, got, lat):
        if t == t:
            want = [(d, round(s, 9)) for d, s in oracle.topk(q, k=K)]
            run.failed += not run.check(_same(res, want), f"oracle mismatch: {q!r}")
    run.phase("oracle checks done")
    if run.trace:
        run.codec_layer(out)
        run.text_layer(pdf.iloc[:500], stream[: len(lat)])
        _term_layer(run, out, stream[: len(lat)], idx)
        # probe the merge layer, which this workload does not otherwise
        # exercise: one re-crawl batch, then one merged-index query
        log = MergeLog(out)
        merge_batch(run, out, gen.upsert_batches(run.seed, N_SEARCH, 1, UPSERT_BATCH)[0], 0, log)
        merged_queries(run, out, stream[:1], 0, log)
    ok_lat = _answered(lat)
    p50 = statistics.median(ok_lat) * 1e3
    qps = len(ok_lat) / sum(ok_lat)
    run.report["search_p50_ms"] = (p50, "ms", len(ok_lat))
    run.report["search_qps"] = (qps, "queries/s", len(ok_lat))
    if p95_supported(len(ok_lat)):
        run.report["search_p95_ms"] = (percentile(ok_lat, 95) * 1e3, "ms", len(ok_lat))
    e2e.update({"ops_per_s": qps, "query_p50_ms": p50})
    return e2e


def _bm25_probe(run: Run, idx: BM25Index, q: str, full_s: float, counts: dict) -> None:
    """Per-layer figures of one traced query: a score-only call, and the
    Spark jobs and tasks the full call scheduled."""
    t0 = time.perf_counter()
    run.search(idx, q, join_docs=False)
    score_ms = (time.perf_counter() - t0) * 1e3
    if idx.merged:
        run.add("merged.score_ms", score_ms)
        return
    run.add("bm25.score_ms", score_ms)
    run.add("bm25.join_docs_ms", full_s * 1e3 - score_ms)
    run.add("bm25.spark_jobs_per_query", counts["jobs"])
    run.add("bm25.spark_tasks_per_query", counts["tasks"])
    if not tokenize_py(q):
        run.add("bm25.empty_query_ms", full_s * 1e3)


def _term_layer(run: Run, out: str, queries: List[str], idx: BM25Index) -> None:
    """Σ df of each query's terms, and the share of queries with a term
    above the θ-seed gate, from the index's term_stats."""
    seed_min_df = idx.seed_min_df
    ts = _table(out, "term_stats", ["term", "df"])
    df = dict(zip(ts["term"], ts["df"]))
    sums, seeded = [], 0
    for q in queries:
        terms = set(tokenize_py(q))
        sums.append(sum(int(df.get(t, 0)) for t in terms))
        seeded += any(int(df.get(t, 0)) > max(K, seed_min_df) for t in terms)
    run.layer["bm25.postings_per_query"] = statistics.mean(sums)
    run.layer["bm25.seeded_query_share"] = seeded / len(queries)
    if not seeded:
        run.notes.append(
            f"bm25.seeded_query_share is 0: no query term of a {idx.n_docs}-doc "
            f"index clears the theta-seed gate (df > {seed_min_df}); a corpus "
            "that large takes minutes to build")


class MergeLog:
    """What the merges into one index wrote, cost and tombstoned."""

    def __init__(self, out: str):
        self.out = out
        self.live = self.current_ids()
        self.walls: List[float] = []
        self.text_bytes = 0
        self.written = 0
        self.tombstoned: set = set()

    def current_ids(self) -> Dict[str, int]:
        """url -> doc_id of its latest version.  A merge appends the new
        version of a re-crawled url with a doc_id above every older one."""
        docs = _table(self.out, "docs", ["doc_id", "url"])
        return {u: int(d) for u, d in docs.groupby("url")["doc_id"].max().items()}


def merge_batch(run: Run, out: str, b: pd.DataFrame, i: int, log: MergeLog) -> None:
    """Upsert one re-crawl batch through merge_pages and check the
    new-doc and tombstone counts it reports."""
    def merge() -> bool:
        pages = run.stage_pages(b, f"batch{i}")
        before = _dir_bytes(out)
        counts: dict = {}
        t0 = time.perf_counter()
        with run.jobs.group(counts) if run.tracer.enabled else nullcontext():
            with run.tracer.span("merge.merge_pages"):
                res = merge_pages(run.spark, out, pages)
        log.walls.append(time.perf_counter() - t0)
        grew = _dir_bytes(out) - before
        log.written += grew
        log.text_bytes += _text_bytes(b)
        recrawled = [u for u in b["url"] if u in log.live]
        replaced = {log.live[u] for u in recrawled}
        log.tombstoned |= replaced
        log.live = log.current_ids()
        if run.tracer.enabled:
            run.add("merge.batch_s", log.walls[-1])
            run.add("merge.spark_jobs_per_batch", counts["jobs"])
            run.add("merge.tombstones", res.tombstoned)
            run.add("merge.bytes_written", grew)
        ok = run.check(res.new_docs == len(b), f"batch {i}: {res.new_docs} new docs")
        ok &= run.check(not replaced & set(log.live.values()),
                        f"batch {i}: a re-crawled url kept its old doc_id")
        return ok & run.check(
            res.tombstoned == len(recrawled),
            f"batch {i}: {res.tombstoned} tombstones, want {len(recrawled)}")

    run.op(f"merge-{i}", merge)


def merged_queries(run: Run, out: str, queries: List[str], i: int, log: MergeLog):
    """Reopen the merged index and send ``queries``: no tombstoned doc
    may surface, and the first answer must equal mode="exhaustive".  Returns (index, latencies, results)."""
    idx = run.open_index(out)
    exhaustive: List[str] = []

    def merged_ok(q: str, res: List[tuple]) -> bool:
        ok = run.check(not log.tombstoned & {d for d, _ in res},
                       f"tombstoned doc surfaced: {q!r}")
        if not exhaustive:
            exhaustive.append(q)
            exh = run.search(idx, q, join_docs=False, mode="exhaustive")
            ok &= run.check(_same(res, exh), f"merged blockmax != exhaustive: {q!r}")
        return ok

    lat, got = query_loop(run, idx, queries, f"merged-{i}", merged_ok)
    return idx, lat, got


def workload_upsert(run: Run) -> Dict[str, float]:
    cycle = len(gen.QUERY_CYCLE)
    warm, stream = _query_stream(run.seed)
    # only the first warm-up query: the timed reads run on reopened,
    # merged indexes, and a run has no time to spare (README, "Workloads")
    pdf, out, idx, e2e = set_up(run, N_BASE, warm[:1])
    log = MergeLog(out)
    batches = gen.upsert_batches(run.seed, N_BASE, MERGES, UPSERT_BATCH)
    if run.trace:
        # probe fresh-index query work, which this workload does not
        # otherwise do: a head-term query and a stopword-only one
        probe = [stream[0], gen.STOPWORD_QUERIES[0]]
        query_loop(run, idx, probe, "fresh")
        _term_layer(run, out, probe, idx)
    # A fixed count of merges, not --seconds: one merge takes longer than
    # --seconds.  After each merge the client reopens the index, sends
    # UPSERT_QUERIES queries, then the same as one search_many.
    lat: List[float] = []
    walls: List[float] = []
    for i, b in enumerate(batches):
        merge_batch(run, out, b, i, log)
        queries = stream[i * cycle : i * cycle + UPSERT_QUERIES]
        idx, q_lat, got = merged_queries(run, out, queries, i, log)
        lat += q_lat
        walls.append(batch(run, idx, queries, got))
        run.phase(f"batch {i} merged and queried")
    e2e["batch_qps"] = batch_qps(run, UPSERT_QUERIES, walls)
    if run.trace:
        run.codec_layer(out)
        run.text_layer(pdf.iloc[:500], stream[: len(lat)])
    ok_lat = _answered(lat)
    n_docs = UPSERT_BATCH * len(log.walls)
    p50 = statistics.median(ok_lat) * 1e3
    run.report.update({
        "upsert_docs_per_s": (n_docs / sum(log.walls), "docs/s", len(log.walls)),
        "upsert_write_amp": (log.written / log.text_bytes, "ratio", len(log.walls)),
        "upsert_search_p50_ms": (p50, "ms", len(ok_lat)),
    })
    e2e.update({"ops_per_s": n_docs / sum(log.walls), "query_p50_ms": p50})
    return e2e


# ---------------------------------------------------------------------------
# Reporting
# ---------------------------------------------------------------------------

# per-layer metric -> (unit, which way is better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "text.extract_tokenize_docs_per_s": ("docs/s", "higher"),
    "text.tokenize_query_us": ("us", "lower"),
    "builder.docs_s": ("s", "lower"),
    "builder.tf_s": ("s", "lower"),
    "builder.stats_s": ("s", "lower"),
    "builder.blocks_s": ("s", "lower"),
    "builder.shuffle_write_bytes": ("bytes", "lower"),
    "builder.shuffle_read_bytes": ("bytes", "lower"),
    "builder.spark_stages": ("count", "lower"),
    "builder.spark_tasks": ("count", "lower"),
    "builder.max_skew_ratio": ("ratio", "lower"),
    "builder.core_busy_share": ("share", "higher"),
    "codec.bytes_per_posting": ("bytes", "lower"),
    "codec.decode_postings_per_s": ("1/s", "higher"),
    "bm25.open_ms": ("ms", "lower"),
    "bm25.score_ms": ("ms", "lower"),
    "bm25.join_docs_ms": ("ms", "lower"),
    "bm25.spark_jobs_per_query": ("count", "lower"),
    "bm25.spark_tasks_per_query": ("count", "lower"),
    "bm25.postings_per_query": ("count", "lower"),
    "bm25.seeded_query_share": ("share", "higher"),
    "bm25.empty_query_ms": ("ms", "lower"),
    "bm25.batch_ms_per_query": ("ms", "lower"),
    "merge.batch_s": ("s", "lower"),
    "merge.spark_jobs_per_batch": ("count", "lower"),
    "merge.tombstones": ("count", "lower"),
    "merge.bytes_written": ("bytes", "lower"),
    "merged.score_ms": ("ms", "lower"),
    "selftime.session_s": ("s", "lower"),
    "selftime.text_s": ("s", "lower"),
    "selftime.builder_s": ("s", "lower"),
    "selftime.codec_s": ("s", "lower"),
    "selftime.bm25_s": ("s", "lower"),
    "selftime.merge_s": ("s", "lower"),
    "selftime.bench_s": ("s", "lower"),
    "trace.overhead_ms_per_op": ("ms", "lower"),
    "trace.spans": ("count", "lower"),
}

# the end-to-end figures the report table prints for every workload, by
# name, with unit and sample count ("n/a" where a workload has none)
REPORT_METRICS = [
    ("setup_s", "s"), ("build_docs_per_s", "docs/s"),
    ("index_bytes_per_text_byte", "ratio"), ("search_p50_ms", "ms"),
    ("search_p95_ms", "ms"), ("search_qps", "queries/s"),
    ("batch_qps", "queries/s"), ("upsert_docs_per_s", "docs/s"),
    ("upsert_write_amp", "ratio"), ("upsert_search_p50_ms", "ms"),
    ("peak_rss_mb", "MB"), ("failed_share", "share"),
]


def layer_metrics(run: Run) -> Dict[str, float]:
    out: Dict[str, float] = {}
    for name, v in run.layer.items():
        out[name] = statistics.median(v) if isinstance(v, list) else v
    for layer, s in run.tracer.self_times().items():
        out[f"selftime.{layer}_s"] = s
    # each query ran once traced and once untraced, in that pairing order
    pairs = list(zip(run.op_walls[True], run.op_walls[False]))
    if pairs:
        out["trace.overhead_ms_per_op"] = statistics.median(t - u for t, u in pairs) * 1e3
        run.notes.append(
            f"tracing overhead: {out['trace.overhead_ms_per_op']:.3f} ms per query "
            f"(median traced minus untraced wall over {len(pairs)} query pairs)")
    out["trace.spans"] = float(len(run.tracer.spans))
    for name in PER_LAYER:
        if name not in out:
            run.notes.append(f"{name}: absent (no sample in this run); reported as 0")
            out[name] = 0.0
    return {k: out[k] for k in PER_LAYER}


def print_report(run: Run) -> None:
    print(f"# workload={run.workload} seed={run.seed} trace={int(run.trace)}")
    for name, unit in REPORT_METRICS:
        if name in run.report:
            v, u, n = run.report[name]
            print(f"  {name:28s} {v:14.4f} {u:10s} n={n}")
        elif name == "search_p95_ms" and "search_p50_ms" in run.report:
            n = run.report["search_p50_ms"][2]
            print(f"  {name:28s} {'n/a':>14s} {unit:10s} ({n} queries leave fewer"
                  " than 10 beyond p95)")
        else:
            print(f"  {name:28s} {'n/a':>14s} {unit:10s} (not measured on this workload)")
    for note in run.notes:
        print(f"  note: {note}")
    for m in run.mismatches:
        print(f"  MISMATCH: {m}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.start_session()
        workload = {"search": workload_search, "upsert": workload_upsert}[args.workload]
        e2e = workload(run)
        run.report["peak_rss_mb"] = (run.peak_rss_mb(), "MB", 1)
        run.layer["session.peak_rss_mb"] = run.report["peak_rss_mb"][0]
    finally:
        run.stop()
        shutil.rmtree(WORK, ignore_errors=True)
    run.report["failed_share"] = (run.failed / run.attempted, "share", run.attempted)
    if run.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]}
                   for k, v in layer_metrics(run).items()}
        spans = os.path.join(ROOT, ".perfbench_spans.json")
        run.tracer.dump(spans)
        run.notes.append(f"{len(run.tracer.spans)} spans written to {os.path.relpath(spans, ROOT)}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print_report(run)
    correct = not run.mismatches and run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
