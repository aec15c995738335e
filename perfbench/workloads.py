"""The two workloads, ``mixed`` and ``tail``: the same operations,
driven by two query streams.

Each run is a set-up (session, inputs, a cold build, warm-up: timed
into ``setup_s``) followed by one measured round that fills the
``--seconds`` window: bulk build, streamed append, queries on the
fragmented index, compaction, then the read phases (single queries,
batches, serving at two rates) on the compacted index.  Every engine
answer is checked against the independent scorer (scorer.py) and every
index against its invariants; an operation that raises or answers
wrong counts as failed.  End-to-end metrics are medians over the
round's samples; set-up runs untraced.  With ``--trace 1`` the same
round runs with spans and counts recorded, and the per-layer metrics
are reported instead.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

from . import inputs
from .scorer import Scorer, check_topk, same_answer
from .tracer import Tracer, med

K = 10
RANGE_WIDTH = 256       # 4-5 runs per head term at 1k-1.25k docs
BASE_DOCS = 1000        # bulk-built in the round
APPEND_DOCS = 250       # streamed in after the build
WARM_DOCS = 250         # built cold in set-up
FRAG_QUERIES = 11       # on the fragmented index, after the append
WARM_QUERIES = 6        # closed-loop queries in the warm-up
BATCH_QUERIES = 50
SERVE_LOW_QPS = 8.0
SERVE_HIGH_QPS = 30.0
# the read phases get what is left of the window, and at least this
READ_MIN_S = 7.5
READ_PHASES = (("single", 0.4), ("batch", 0.15), ("serve_low", 0.2),
               ("serve_high", 0.25))
FIT_DOCS = 2000         # second corpus size for the fixed/marginal fit
# one encode job instead of the default four: at 1k docs a group is
# fixed cost; cosine norms stay on, as by default
SEGMENT_GROUPS = 1


def _pc() -> float:
    return time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _data_files(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")) and not f.endswith(".crc"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Run:
    """State of one benchmark run: session, tracer, counts, metrics."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool,
                 t_proc: float, cpus: int):
        self.work, self.seed = work, seed
        self.seconds, self.t_proc, self.cpus = seconds, t_proc, cpus
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.n_query = self.n_batch = 0  # job group and trace ids
        self.wrong = 0
        self.setup: dict[str, float] = {}
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}

    # -- bookkeeping ------------------------------------------------------

    def op(self, what: str, problems: list[str]) -> bool:
        """Count one checked operation; False if it answered wrong."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.wrong += 1
            if self.wrong <= 5:
                _log(f"WRONG {what}: {'; '.join(problems[:4])}")
            return False
        return True

    def op_error(self, what: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        _log(f"FAILED {what}: {exc!r}")

    def start_session(self) -> None:
        from ir_spark.session import get_spark

        t = _pc()
        self.spark = get_spark("perfbench", cpus=self.cpus)
        self.setup["setup.session_s"] = _pc() - t

    @contextmanager
    def untraced(self):
        """Set-up and warm-up record no spans."""
        was, self.tracer.enabled = self.tracer.enabled, False
        try:
            yield
        finally:
            self.tracer.enabled = was

    def finish_setup(self) -> None:
        self.e2e["setup_s"] = (_pc() - self.t_proc, "s")
        _log("set-up " + ", ".join(f"{k} {v:.2f}" for k, v in self.setup.items())
             + f", total {self.e2e['setup_s'][0]:.2f}")
        for name, v in self.setup.items():
            self.layers[name] = (v, "s")

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    def write_pages(self, pages, name: str) -> str:
        from ir_spark.fixtures import pages_to_parquet

        return pages_to_parquet(pages, os.path.join(self.work, name + ".parquet"))

    def job_counts(self, group: str) -> tuple[int, int]:
        """(Spark jobs, tasks) run under one job group."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                sinfo = st.getStageInfo(sid)
                tasks += sinfo.numTasks if sinfo else 0
        return len(jobs), tasks


def _scorer_for(pages, offset: int = 0, scorer: Scorer | None = None) -> Scorer:
    scorer = scorer or Scorer()
    text_of = {p.url: p.text for p in pages}
    ids = inputs.expected_ids(list(text_of), offset)
    scorer.add([(d, u, text_of[u]) for d, u in sorted(ids.items())])
    return scorer


def _check_index(run: Run, index_dir: str, scorer: Scorer, what: str) -> bool:
    """Index invariants, read with pyarrow (no Spark): n_docs, the doc
    ids of every url, and sum(dictionary df) == scorer postings ==
    sum(segment run_df)."""
    from ir_spark.sources.storage import read_manifests

    problems = []
    stats = read_manifests(index_dir)["stats"]["metrics"]
    if int(stats["n_docs"]) != scorer.n_docs:
        problems.append(f"n_docs {stats['n_docs']} != {scorer.n_docs}")
    dm = pq.read_table(os.path.join(index_dir, "doc_map"),
                       columns=["url", "doc_id"]).to_pydict()
    if dict(zip(dm["doc_id"], dm["url"])) != scorer.url_of:
        problems.append("doc_map differs from the expected doc ids")
    df_sum = sum(pq.read_table(os.path.join(index_dir, "dictionary"),
                               columns=["df"]).column("df").to_pylist())
    run_df = sum(pq.read_table(os.path.join(index_dir, "segments"),
                               columns=["run_df"]).column("run_df").to_pylist())
    if not df_sum == run_df == scorer.n_postings:
        problems.append(f"sum df {df_sum}, sum run_df {run_df}, "
                        f"scorer postings {scorer.n_postings}")
    return run.op(what, problems)


def _answer(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


class Answers:
    """Checks every answer against the scorer, and answers to the same
    query from different paths against each other."""

    def __init__(self, run: Run):
        self.run = run
        self.seen: dict[str, list[tuple[int, float]]] = {}

    def check(self, scorer: Scorer, query: str, answer: list[tuple[int, float]],
              path: str, problems: tuple[str, ...] = ()) -> bool:
        problems = list(problems) + check_topk(answer, scorer.topk(query, K), K,
                                               scorer.url_of)
        prior = self.seen.setdefault(query, answer)
        if not problems and not same_answer(prior, answer):
            problems.append(f"{path} answer differs from an earlier path")
        return self.run.op(f"{path} {query!r}", problems)


# --- build --------------------------------------------------------------------

def _build(run: Run, path: str, index_dir: str) -> float:
    """One bulk build_segment_index of the pages at ``path``: wall seconds."""
    from ir_spark.operators.segments import build_segment_index
    from ir_spark.sources import storage

    def wrap_write(orig):
        def write(df, dest, *a, **kw):
            with run.tracer.span("storage.write") as rec:
                orig(df, dest, *a, **kw)
            with run.tracer.bookkeeping():
                rec["files"], rec["bytes"] = _data_files(dest)
        return write

    pages = run.spark.read.parquet(path).select("url", "text")
    with run.tracer.patch(storage, "atomic_write_parquet", wrap_write), \
            run.tracer.span("build", trace=index_dir):
        t = _pc()
        build_segment_index(run.spark, pages, index_dir, source=path,
                            range_width=RANGE_WIDTH, segment_groups=SEGMENT_GROUPS)
        return _pc() - t


def _stage_times(index_dir: str, wall: float) -> dict[str, float]:
    """Per-stage seconds from the build manifests; the wall time no
    stage covers is the orchestration residual."""
    from ir_spark.sources.storage import read_manifests

    m = {k: v["metrics"] for k, v in read_manifests(index_dir).items()}
    out = {
        "doc_map": m["doc_map"]["wall_sec"],
        "tokenize": m["docinfo"].get("tokenize_sec", 0.0),
        "docinfo": m["docinfo"]["wall_sec"],
        "postings": m["postings"]["wall_sec"],
        "dictionary": m["dictionary"]["wall_sec"],
        "segments": sum(v["wall_sec"] for k, v in m.items()
                        if k.startswith("segments_g")),
        "norms": m["norms"]["wall_sec"],
    }
    out["orchestration"] = wall - sum(out.values())
    return out


def _storage_per_build(tracer: Tracer) -> dict[str, float]:
    """storage.* per bulk build: the writes whose parent span is a build."""
    builds = {s["id"] for s in tracer.spans if s["name"] == "build"}
    writes = [s for s in tracer.spans
              if s["name"] == "storage.write" and s["parent"] in builds]
    n = max(1, len(builds))
    return {"storage.write_s": sum(s["end"] - s["start"] for s in writes) / n,
            "storage.files_written": sum(s["files"] for s in writes) / n,
            "storage.bytes_written": sum(s["bytes"] for s in writes) / n}


def _segment_counts(index_dir: str) -> dict[str, int]:
    from ir_spark.sources.storage import read_manifests

    segs = [v["metrics"] for k, v in read_manifests(index_dir).items()
            if k.startswith("segments_g")]
    return {"segments.n_runs": sum(s["n_runs"] for s in segs),
            "segments.payload_bytes": sum(s["payload_bytes"] for s in segs)}

# --- query --------------------------------------------------------------------

class _Stream:
    """A cursor over the query list.  Each read phase takes a fresh
    cursor, so every run samples the same leading queries in each phase
    however fast it goes, and the paths answer overlapping queries."""

    def __init__(self, queries: list[str]):
        self.queries, self.i = queries, 0

    def next(self) -> str:
        q = self.queries[self.i % len(self.queries)]
        self.i += 1
        return q

    def take(self, n: int) -> list[str]:
        return [self.next() for _ in range(n)]

    def fresh(self) -> "_Stream":
        return _Stream(self.queries)


def _single(run: Run, sidx, query: str, n: int, name: str) -> tuple[float, list]:
    """One closed-loop query through search_segments: (latency, answer).
    Traced as span ``name`` with children ``name.plan`` (until the
    DataFrame returns) and ``name.job`` (the collect)."""
    from ir_spark.operators.segment_query import search_segments

    tracer = run.tracer
    group = f"q{n}"
    if tracer.enabled:
        run.spark.sparkContext.setJobGroup(group, "perfbench single query")
    with tracer.span(name, trace=group):
        t0 = _pc()
        with tracer.span(name + ".plan"):
            df = search_segments(run.spark, sidx, query, k=K, strategy="auto")
        with tracer.span(name + ".job"):
            rows = df.collect()
        lat = _pc() - t0
    if tracer.enabled:
        with tracer.bookkeeping():
            jobs, tasks = run.job_counts(group)
        tracer.count(name + ".spark_jobs", jobs)
        tracer.count(name + ".spark_tasks", tasks)
    return lat, _answer(rows)


def _batch(run: Run, sidx, queries: list[str], n: int) -> tuple[float, dict]:
    from ir_spark.operators.segment_query import search_segments_batch

    with run.tracer.span("batch", trace=f"b{n}"):
        t0 = _pc()
        with run.tracer.span("batch.plan"):
            df = search_segments_batch(run.spark, sidx, queries, k=K)
        with run.tracer.span("batch.job"):
            rows = df.collect()
        wall = _pc() - t0
    per: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        per.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), float(r["score"])))
    return wall, per


def _serve(run: Run, sidx, stream: _Stream, rate: float, seconds: float,
           answers: Answers, scorer: Scorer, tag: str) -> list[float]:
    """Open loop at a fixed rate through MicroBatchServer.  Latency runs
    from each request's due time to its future resolving."""
    from ir_spark.operators import serving

    tracer = run.tracer
    batches: list[dict] = []

    def wrap_batch(orig):
        class Timed:
            def __init__(self, df, rec):
                self.df, self.rec = df, rec

            def collect(self):
                rows = self.df.collect()
                self.rec["end"] = _pc()
                return rows

        def batch(spark, sidx_, queries, **kw):
            rec = {"start": _pc(), "n": len(queries)}
            batches.append(rec)
            df = orig(spark, sidx_, queries, **kw)
            rec["planned"] = _pc()
            return Timed(df, rec)
        return batch

    n = max(1, int(rate * seconds))
    due = [i / rate for i in range(n)]
    done = [0.0] * n
    submitted = [0.0] * n
    futures = []
    with tracer.patch(serving, "search_segments_batch", wrap_batch):
        srv = serving.MicroBatchServer(run.spark, sidx, k=K, max_queue=4096)
        try:
            queries = stream.take(n)
            t0 = _pc()
            for i, q in enumerate(queries):
                delay = t0 + due[i] - _pc()
                if delay > 0:
                    time.sleep(delay)
                submitted[i] = _pc()
                fut = srv.submit(q)
                fut.add_done_callback(
                    lambda _f, i=i: done.__setitem__(i, _pc()))
                futures.append(fut)
            results = []
            for i, fut in enumerate(futures):
                try:
                    results.append(fut.result(timeout=120))
                except Exception as exc:
                    results.append(exc)
        finally:
            srv.close()
    lat = []
    for i, (q, res) in enumerate(zip(queries, results)):
        if isinstance(res, Exception):
            run.op_error(f"{tag} {q!r}", res)
            continue
        answer = [(d, s) for _rank, d, s in res]
        if answers.check(scorer, q, answer, tag):
            lat.append(done[i] - (t0 + due[i]))
    if tracer.enabled:
        first = 0
        for j, b in enumerate(batches):
            tr = f"{tag}:{j}"
            tracer.add_span("serve.batch", b["start"], b.get("end", b["start"]), trace=tr)
            tracer.add_span("serve.batch.plan", b["start"], b.get("planned", b["start"]), trace=tr)
            tracer.count(f"{tag}.batch_size", b["n"])
            tracer.count(f"{tag}.batch_job_s", b.get("end", b["start"]) - b["start"])
            for i in range(first, min(first + b["n"], n)):
                tracer.count(f"{tag}.queue_wait_s", b["start"] - submitted[i])
                tracer.count(f"{tag}.fanout_s", done[i] - b.get("end", done[i]))
            first += b["n"]
        for i in range(n):
            tracer.count(f"{tag}.generator_lag_s", submitted[i] - (t0 + due[i]))
    return lat


# --- ingest -------------------------------------------------------------------

def _append(run: Run, path: str, index_dir: str, tag: str) -> tuple[float, dict]:
    """One streamed append.  In a traced run, calls into the module's
    public functions mark where the doc_map, tokenize and encode parts
    begin: doc_map runs until ``token_counts_fused`` is called, tokenize
    (with the docinfo, dictionary and postings appends that materialize
    it) until ``encode_segments`` is called, and encode (the segment
    write plus the stats aggregate) until the stats manifest commits."""
    from ir_spark.sources import storage
    from ir_spark.streaming import incremental

    marks: dict[str, float] = {}

    def mark(name, when=lambda *a, **kw: True):
        def wrap(orig):
            def call(*a, **kw):
                if when(*a, **kw):
                    marks.setdefault(name, _pc())
                return orig(*a, **kw)
            return call
        return wrap

    def is_stats(_index_dir, stage, *a, **kw):
        return stage == "stats"

    tracer = run.tracer
    pages = run.spark.read.parquet(path)
    with tracer.patch(incremental, "token_counts_fused", mark("tokenize")), \
            tracer.patch(incremental, "encode_segments", mark("encode")), \
            tracer.patch(storage, "commit_stage", mark("stats", is_stats)), \
            tracer.span("ingest.append", trace=tag):
        t0 = _pc()
        metrics = incremental.update_segment_index(run.spark, pages, index_dir)
        wall = _pc() - t0
    if len(marks) == 3:
        tracer.count("ingest.doc_map_s", marks["tokenize"] - t0)
        tracer.count("ingest.tokenize_s", marks["encode"] - marks["tokenize"])
        tracer.count("ingest.encode_s", marks["stats"] - marks["encode"])
    return wall, metrics


def _segment_layout(index_dir: str) -> tuple[int, int]:
    seg = os.path.join(index_dir, "segments")
    groups = sum(1 for d in os.listdir(seg) if d.startswith("grp="))
    return groups, _data_files(seg)[0]


def _segment_rows(run: Run, scorer: Scorer, query: str) -> None:
    if run.tracer.enabled:
        with run.tracer.bookkeeping():
            rows = scorer.runs_touched(query, RANGE_WIDTH)
        run.tracer.count("query.segment_rows", rows)


class Reads:
    """The read side on one loaded index: a closed loop of one client
    through search_segments, offline batches through
    search_segments_batch, and open-loop arrivals at two fixed rates
    through MicroBatchServer.  Every answer is checked against the
    scorer and against the other paths' answers to the same query."""

    def __init__(self, run: Run, sidx, scorer: Scorer, stream: _Stream):
        self.run, self.sidx, self.scorer, self.stream = run, sidx, scorer, stream
        self.answers = Answers(run)
        self.lat: list[float] = []
        self.rates: list[float] = []
        self.served: dict[str, list[float]] = {"serve_low": [], "serve_high": []}

    def single(self, queries: list[str], name: str = "query") -> list[float]:
        """Closed loop over ``queries``: the latencies of right answers,
        but for the first query on this index, which also pays the
        index's first use (0.8-1.1 s against 0.3-0.4 s)."""
        run, out = self.run, []
        for q in queries:
            first = not self.answers.seen
            run.n_query += 1
            try:
                ql, answer = _single(run, self.sidx, q, run.n_query, name)
            except Exception as exc:
                run.op_error(f"{name} {q!r}", exc)
                continue
            problems = []
            if self.sidx.n_docs != self.scorer.n_docs:
                problems.append(f"n_docs {self.sidx.n_docs} != {self.scorer.n_docs}")
            if self.answers.check(self.scorer, q, answer, name, problems) and not first:
                out.append(ql)
                if name == "query":
                    _segment_rows(run, self.scorer, q)
        return out

    def single_phase(self, seconds: float) -> None:
        stream, phase_end = self.stream.fresh(), _pc() + seconds
        while _pc() < phase_end:
            self.lat += self.single([stream.next()])

    def batch_phase(self, seconds: float) -> None:
        """Batches of BATCH_QUERIES; at least one per phase."""
        stream, phase_end = self.stream.fresh(), _pc() + seconds
        while True:
            qs = stream.take(BATCH_QUERIES)
            self.run.n_batch += 1
            try:
                wall, per = _batch(self.run, self.sidx, qs, self.run.n_batch)
            except Exception as exc:
                self.run.op_error(f"batch {self.run.n_batch}", exc)
                return
            if all([self.answers.check(self.scorer, q, per.get(j, []), "batch")
                    for j, q in enumerate(qs)]):
                self.rates.append(len(qs) / wall)
            if _pc() >= phase_end:
                return

    def serve_phase(self, phase: str, seconds: float) -> None:
        rate = SERVE_LOW_QPS if phase == "serve_low" else SERVE_HIGH_QPS
        self.served[phase] += _serve(self.run, self.sidx, self.stream.fresh(), rate,
                                     seconds, self.answers, self.scorer, phase)

    def phases(self, seconds: float) -> None:
        """The four phases, each its share of ``seconds``."""
        for phase, share in READ_PHASES:
            if phase == "single":
                self.single_phase(seconds * share)
            elif phase == "batch":
                self.batch_phase(seconds * share)
            else:
                self.serve_phase(phase, seconds * share)


class Round:
    """The measured operations of a run, in a fresh index directory:
    bulk-build the base pages, stream the appended pages in, query the
    fragmented index, compact it, and read the compacted index every
    way (Reads).  Each write is checked against the index invariants,
    each answer against the scorer over the pages indexed so far."""

    def __init__(self, run: Run, stream: _Stream):
        self.run, self.stream = run, stream
        pages = inputs.pages(BASE_DOCS + APPEND_DOCS, run.seed)
        self.base, self.batch = pages[:BASE_DOCS], pages[BASE_DOCS:]
        self.base_path = run.write_pages(self.base, "base")
        self.batch_path = run.write_pages(self.batch, "batch")
        self.m: dict[str, list] = {k: [] for k in (
            "build", "bytes", "stages", "segments", "append", "frag", "compact")}
        self.reads: Reads | None = None

    def __call__(self, window_end: float) -> None:
        with self.run.tracer.span("round", trace="round"):
            self._round(window_end)

    def _round(self, window_end: float) -> None:
        from ir_spark.operators.segment_query import SegmentIndex
        from ir_spark.operators.segments import compact_segments

        run, tracer, m = self.run, self.run.tracer, self.m
        index_dir = os.path.join(run.work, "index")
        scorer = _scorer_for(self.base)
        wall = _build(run, self.base_path, index_dir)
        if _check_index(run, index_dir, scorer, "build"):
            m["build"].append(len(self.base) / wall)
            m["bytes"].append(_data_files(index_dir)[1] / len(self.base))
            m["stages"].append(_stage_times(index_dir, wall))
            m["segments"].append(_segment_counts(index_dir))

        _scorer_for(self.batch, max(scorer.doc_len), scorer)
        wall, am = _append(run, self.batch_path, index_dir, "append")
        if run.op("append", [] if am.get("n_new_docs") == len(self.batch)
                  else [f"appended {am.get('n_new_docs')} of {len(self.batch)}"]):
            m["append"].append(len(self.batch) / wall)
        if tracer.enabled:
            with tracer.bookkeeping():
                groups, files = _segment_layout(index_dir)
            tracer.count("ingest.segment_groups", groups)
            tracer.count("ingest.segment_files", files)
        frag = Reads(run, SegmentIndex.load(run.spark, index_dir), scorer, self.stream)
        m["frag"] += frag.single(self.stream.fresh().take(FRAG_QUERIES), "ingest.query")

        t0 = _pc()
        with tracer.span("compact"):
            cm = compact_segments(run.spark, index_dir)
        wall = _pc() - t0
        if _check_index(run, index_dir, scorer, "compaction"):
            m["compact"].append(wall)
            tracer.count("compact.bytes_rewritten", cm["bytes_after"])
            tracer.count("compact.files_before", cm["files_before"])
            tracer.count("compact.files_after", cm["files_after"])

        self.reads = Reads(run, SegmentIndex.load(run.spark, index_dir), scorer,
                           self.stream)
        self.reads.phases(max(READ_MIN_S, window_end - _pc()))

    def report(self) -> None:
        run, m, reads = self.run, self.m, self.reads
        e2e = {
            "build_docs_per_s": (m["build"], "docs/s"),
            "index_bytes_per_doc": (m["bytes"], "bytes"),
            "ingest_docs_per_s": (m["append"], "docs/s"),
            "ingest_query_p50_s": (m["frag"], "s"),
            "compact_s": (m["compact"], "s"),
        }
        if reads is not None:
            e2e.update({
                "query_p50_s": (reads.lat, "s"),
                "batch_qps": (reads.rates, "queries/s"),
                "serve_low_p50_s": (reads.served["serve_low"], "s"),
                "serve_high_p50_s": (reads.served["serve_high"], "s"),
            })
        for name, (values, unit) in e2e.items():
            if values:
                run.e2e[name] = (med(values), unit)
        if run.tracer.enabled and m["stages"] and reads is not None:
            _layers(run, m)


def _layers(run: Run, m: dict) -> None:
    """Per-layer metrics of the traced round, and the fixed/marginal fit
    of each build stage from a second corpus size."""
    tracer = run.tracer
    c = tracer.counts
    big = {k: med(s[k] for s in m["stages"]) for k in m["stages"][0]}
    for k, v in big.items():
        run.layer(f"build.{k}_s" if k == "orchestration" else f"{k}.s", v, "s")
    for k in m["segments"][0]:
        run.layer(k, med(s[k] for s in m["segments"]), "count" if "runs" in k else "bytes")
    for k, v in _storage_per_build(tracer).items():
        run.layer(k, v, "s" if k.endswith("_s") else "count" if "files" in k else "bytes")

    run.layer("ingest.append_s", med(tracer.durations("ingest.append")), "s")
    for k in ("doc_map_s", "tokenize_s", "encode_s"):
        run.layer(f"ingest.{k}", med(c.get(f"ingest.{k}", [])), "s")
    run.layer("ingest.segment_groups", max(c.get("ingest.segment_groups", [0])), "count")
    run.layer("ingest.segment_files", max(c.get("ingest.segment_files", [0])), "count")
    for k in ("bytes_rewritten", "files_before", "files_after"):
        run.layer(f"compact.{k}", med(c.get(f"compact.{k}", [])),
                  "bytes" if k.startswith("bytes") else "count")

    run.layer("query.plan_s", med(tracer.durations("query.plan")), "s")
    run.layer("query.job_s", med(tracer.durations("query.job")), "s")
    for k in ("spark_jobs", "spark_tasks", "segment_rows"):
        run.layer(f"query.{k}", med(c.get(f"query.{k}", [])), "count")
    run.layer("batch.plan_s", med(tracer.durations("batch.plan")), "s")
    run.layer("batch.job_s", med(tracer.durations("batch.job")), "s")
    for tag in ("serve_low", "serve_high"):
        pre = "serve." + tag.split("_")[1]
        sizes = c.get(f"{tag}.batch_size", [0])
        run.layer(f"{pre}.queue_wait_s", med(c.get(f"{tag}.queue_wait_s", [])), "s")
        run.layer(f"{pre}.batch_size_mean", sum(sizes) / len(sizes), "queries")
        run.layer(f"{pre}.batch_size_max", max(sizes), "queries")
        run.layer(f"{pre}.batch_job_s", med(c.get(f"{tag}.batch_job_s", [])), "s")
        run.layer(f"{pre}.fanout_s", med(c.get(f"{tag}.fanout_s", [])), "s")
        run.layer(f"{pre}.generator_lag_s", med(c.get(f"{tag}.generator_lag_s", [])), "s")

    run.layer("trace.overhead_share",
              tracer.overhead_s / sum(tracer.durations("round")), "ratio")

    # outside the round: a second build size for the fit
    pages = inputs.pages(FIT_DOCS, run.seed + 20_000)
    path = run.write_pages(pages, "fit")
    index_dir = os.path.join(run.work, "fit")
    wall = _build(run, path, index_dir)
    if _check_index(run, index_dir, _scorer_for(pages), "fit build"):
        other = _stage_times(index_dir, wall)
        for k, v in big.items():
            per_doc = (other[k] - v) / (FIT_DOCS - BASE_DOCS)
            run.layer(f"build.{k}.per_1k_docs_s", per_doc * 1000, "s")
            run.layer(f"build.{k}.fixed_s", v - per_doc * BASE_DOCS, "s")
    shutil.rmtree(index_dir)


def _workload(run: Run, tail: bool) -> None:
    """Set-up, timed into setup_s: the session, the inputs, a cold build
    of a smaller corpus and a warm-up of every read path on it.  Then
    one Round, its read phases filling the rest of the window."""
    from ir_spark.operators.segment_query import SegmentIndex

    run.start_session()
    t = _pc()
    stream = _Stream(inputs.query_stream(10_000, run.seed, tail))
    warm_pages = inputs.pages(WARM_DOCS, run.seed + 10_000)
    warm_path = run.write_pages(warm_pages, "warm")
    warm_scorer = _scorer_for(warm_pages)
    rnd = Round(run, stream)
    run.setup["setup.corpus_s"] = _pc() - t
    with run.untraced():
        t = _pc()
        warm_dir = os.path.join(run.work, "warm")
        _build(run, warm_path, warm_dir)
        _check_index(run, warm_dir, warm_scorer, "set-up build")
        run.setup["setup.index_build_s"] = _pc() - t
        # each read path past its cold first calls (answers are checked,
        # the samples dropped)
        t = _pc()
        warm = Reads(run, SegmentIndex.load(run.spark, warm_dir), warm_scorer, stream)
        warm.single(stream.fresh().take(WARM_QUERIES))
        warm.batch_phase(0.0)
        warm.serve_phase("serve_high", 0.6)
        shutil.rmtree(warm_dir)
        run.setup["setup.warmup_s"] = _pc() - t
    run.finish_setup()

    t0 = _pc()
    try:
        rnd(t0 + run.seconds)
    except Exception as exc:
        run.op_error("round", exc)
    _log(f"round {_pc() - t0:.2f} s")
    rnd.report()


WORKLOADS = {
    "mixed": lambda run: _workload(run, tail=False),
    "tail": lambda run: _workload(run, tail=True),
}
