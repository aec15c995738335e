"""Federated sharded search (operators/shards.py): two-phase search
over document-partitioned shards with global-statistics exchange must
be query-identical to one monolithic index over the union corpus —
and the exchange must actually matter (shard-local statistics differ).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ir_spark.operators.build import assign_doc_ids
from ir_spark.operators.segment_query import SegmentIndex, search_segments
from ir_spark.operators.segments import build_segment_index
from ir_spark.operators.shards import global_term_stats, search_sharded

# real fixture-vocabulary queries (make_vocab is aero-themed; a
# query of absent terms would make the equality tests pass vacuously)
QUERIES = ["boundary layer heat transfer", "supersonic wing pressure flow"]


@pytest.fixture(scope="module")
def sharded(spark, pages_small, tmp_path_factory):
    """Three UNEVEN shards (sizes ~n/6, ~n/3, ~n/2 — uneven on purpose
    so local n_docs/avg_dl/df genuinely differ per shard) plus the
    monolithic full build."""
    path, _ = pages_small
    raw = spark.read.parquet(path)
    ids = assign_doc_ids(raw)
    n = ids.count()
    cuts = [(0, n // 6), (n // 6, n // 2), (n // 2, n + 1)]
    base = tmp_path_factory.mktemp("shards")
    dirs = []
    for i, (lo, hi) in enumerate(cuts):
        keep = ids.filter((F.col("doc_id") > lo)
                          & (F.col("doc_id") <= hi)).select("url")
        d = str(base / f"s{i}")
        build_segment_index(spark, raw.join(keep, "url"), d,
                            source=f"s{i}", norms=False)
        dirs.append(d)
    full = str(base / "full")
    build_segment_index(spark, raw, full, source="full", norms=False)
    return dirs, full


def _full_by_url(spark, full_dir, query, mode, k=10):
    sidx = SegmentIndex.load(spark, full_dir)
    res = search_segments(spark, sidx, query, k=k, mode=mode)
    doc_map = spark.read.parquet(full_dir + "/doc_map")
    rows = res.join(doc_map, "doc_id").select("url", "score").collect()
    return sorted((r["url"], round(r["score"] * 1e6)) for r in rows)


@pytest.mark.parametrize("mode", ["bm25", "qld"])
@pytest.mark.parametrize("query", QUERIES)
def test_sharded_equals_monolithic(spark, sharded, query, mode):
    dirs, full = sharded
    shards = [SegmentIndex.load(spark, d) for d in dirs]
    got = sorted(
        (r["url"], round(r["score"] * 1e6))
        for r in search_sharded(spark, shards, query, k=10,
                                mode=mode).collect())
    assert got == _full_by_url(spark, full, query, mode)


def test_exchange_matters(spark, sharded):
    """Shard-local df/N differ from the global view — scoring without
    the exchange would produce incomparable scores."""
    dirs, full = sharded
    shards = [SegmentIndex.load(spark, d) for d in dirs]
    terms = ["boundary", "layer", "heat"]
    g = global_term_stats(shards, terms)
    fidx = SegmentIndex.load(spark, full)
    # globals reconstruct the monolithic stats exactly
    assert g["n_docs"] == fidx.n_docs
    assert g["avg_doc_len"] == pytest.approx(fidx.avg_doc_len, rel=1e-9)
    assert g["df"] == fidx.df_of(terms)
    # and at least one shard's local stats genuinely differ from them
    assert any(s.df_of(terms) != g["df"] for s in shards)
    assert any(s.n_docs != g["n_docs"] for s in shards)


def test_local_stats_would_be_wrong(spark, sharded):
    """The negative control: score each shard with its LOCAL stats and
    gather — the ranking diverges from the monolithic one for at least
    one query (this is exactly the bug the exchange exists to fix)."""
    dirs, full = sharded
    diverged = False
    for query in QUERIES:
        gathered = []
        for d in dirs:
            s = SegmentIndex.load(spark, d)
            res = search_segments(spark, s, query, k=10, mode="bm25")
            dm = spark.read.parquet(d + "/doc_map")
            gathered += [
                (r["url"], round(r["score"] * 1e6))
                for r in res.join(dm, "doc_id")
                .select("url", "score").collect()]
        naive = sorted(sorted(gathered, key=lambda t: (-t[1], t[0]))[:10])
        if naive != _full_by_url(spark, full, query, "bm25"):
            diverged = True
    assert diverged


def test_cosine_rejected(spark, sharded):
    dirs, _ = sharded
    shards = [SegmentIndex.load(spark, d) for d in dirs]
    with pytest.raises(ValueError, match="cosine|norms"):
        search_sharded(spark, shards, QUERIES[0], mode="w1")


def test_empty_query_and_no_shards(spark, sharded):
    dirs, _ = sharded
    shards = [SegmentIndex.load(spark, d) for d in dirs]
    assert search_sharded(spark, shards, "the a of").count() == 0
    assert search_sharded(spark, [], QUERIES[0]).count() == 0


class TestPrunedShardedSearch:
    """search_sharded_pruned: safe shard-level WAND — identical results
    with shards provably skipped when bounds allow."""

    @pytest.mark.parametrize("query", QUERIES)
    def test_pruned_equals_monolithic(self, spark, sharded, query):
        from ir_spark.operators.shards import search_sharded_pruned

        dirs, full = sharded
        shards = [SegmentIndex.load(spark, d) for d in dirs]
        info = {}
        got = sorted(
            (r["url"], round(r["score"] * 1e6))
            for r in search_sharded_pruned(spark, shards, query, k=10,
                                           info=info).collect())
        assert got == _full_by_url(spark, full, query, "bm25", k=10)
        # every shard is accounted for exactly once
        assert sorted(info["searched"] + info["skipped"]) == [0, 1, 2]

    def test_bounds_dominate_scores(self, spark, sharded):
        """Each shard's metadata bound >= its own best true score under
        global stats — the safety invariant the skip rule rests on."""
        from ir_spark.operators.query import compute_query_weights
        from ir_spark.operators.shards import shard_upper_bound
        from ir_spark.oracle import parse_query
        from dataclasses import replace

        dirs, _ = sharded
        shards = [SegmentIndex.load(spark, d) for d in dirs]
        query = QUERIES[0]
        bag = parse_query(query)
        g = global_term_stats(shards, sorted(bag))
        weights, _ = compute_query_weights(bag, g["df"], g["n_docs"],
                                           "bm25")
        for s in shards:
            ub = shard_upper_bound(s, weights, g)
            gview = replace(s, n_docs=g["n_docs"],
                            avg_doc_len=g["avg_doc_len"])
            object.__setattr__(gview, "_dfs", s._dfs)
            top = search_segments(spark, gview, query, k=1, mode="bm25",
                                  df_override=g["df"]).collect()
            if top:
                assert ub >= top[0]["score"] - 1e-12

    def test_skips_boundless_shard(self, spark, sharded, tmp_path):
        """A shard containing NONE of the query's terms has bound 0 and
        is skipped once k candidates exist."""
        from ir_spark.operators.shards import search_sharded_pruned

        dirs, _ = sharded
        # shard of docs with disjoint vocabulary
        rows = [(f"https://x.example/d{i}", f"zzqx{i} zzqy{i} zzqz{i}")
                for i in range(20)]
        raw = spark.createDataFrame(rows, "url string, text string")
        d = str(tmp_path / "empty_vocab")
        build_segment_index(spark, raw, d, source="ev", norms=False)
        shards = [SegmentIndex.load(spark, p) for p in [*dirs, d]]
        info = {}
        res = search_sharded_pruned(spark, shards, QUERIES[0], k=5,
                                    info=info)
        assert res.count() == 5
        assert 3 in info["skipped"]          # the disjoint shard
        assert info["bounds"][3] == 0.0


class TestCori:
    def test_cori_selects_term_bearing_shards(self, spark, sharded):
        """CORI ranks the shards holding the query's terms above a
        shard without them, and beliefs recompute exactly from the
        formula on the probed statistics."""
        import math

        from ir_spark.operators.segment_query import SegmentIndex
        from ir_spark.operators.shards import (CORI_B, CORI_DF_BASE,
                                               CORI_DF_FACTOR,
                                               cori_shard_scores)
        from ir_spark.oracle import parse_query

        dirs, _ = sharded
        shards = [SegmentIndex.load(spark, d) for d in dirs]
        q = QUERIES[0]
        got = cori_shard_scores(shards, q).collect()
        assert len(got) == len(shards)
        # ordered by belief desc, shard_id asc
        beliefs = [r["belief_nano"] for r in got]
        assert beliefs == sorted(beliefs, reverse=True)

        # independent recompute from the same probes
        terms = sorted(parse_query(q))
        dfs = [s.df_of(terms) for s in shards]
        cws = [s.cf_total() for s in shards]
        S = len(shards)
        cf = {t: sum(1 for d in dfs if d.get(t, 0) > 0) for t in terms}
        live = [t for t in terms if cf[t] > 0]
        avg_cw = sum(cws) / float(S)
        for r in got:
            i = r["shard_id"]
            want = 0
            for t in live:
                df_i = float(dfs[i].get(t, 0))
                T = df_i / ((df_i + CORI_DF_BASE)
                            + CORI_DF_FACTOR * cws[i] / avg_cw)
                idf = math.log((S + 0.5) / cf[t]) / math.log(S + 1.0)
                want += int(math.floor(
                    (CORI_B + (1.0 - CORI_B) * T * idf) * 1e9 + 0.5))
            assert r["belief_nano"] == want
            assert r["n_terms"] == len(live)
            assert r["cw"] == cws[i]

    def test_cori_zero_df_shard_gets_floor_belief(self, spark, sharded,
                                                  tmp_path):
        """A shard with NONE of the query terms earns exactly the
        b-floor belief per live term — strictly below any shard that
        has them."""
        from ir_spark.operators.segment_query import SegmentIndex
        from ir_spark.operators.shards import cori_shard_scores

        dirs, _ = sharded
        # a shard whose vocabulary cannot contain the aero query terms
        alien = spark.createDataFrame(
            [(f"doc://x{i}", "zz" + "qq zz ww xx yy " * 20)
             for i in range(5)], "url string, text string")
        d = str(tmp_path / "alien")
        build_segment_index(spark, alien, d, source="alien", norms=False)
        shards = [SegmentIndex.load(spark, p) for p in [dirs[1], d]]
        rows = {r["shard_id"]: r for r in
                cori_shard_scores(shards, QUERIES[0]).collect()}
        assert rows[0]["belief_nano"] > rows[1]["belief_nano"]

    def test_cori_rejects_empty(self, spark, sharded):
        from ir_spark.operators.segment_query import SegmentIndex
        from ir_spark.operators.shards import cori_shard_scores

        dirs, _ = sharded
        s = [SegmentIndex.load(spark, dirs[0])]
        with pytest.raises(ValueError):
            cori_shard_scores(s, "the of")  # all stopwords
        with pytest.raises(ValueError):
            cori_shard_scores([], "boundary layer")


class TestMicroBatchServer:
    """Dynamic-batching serving front-end (operators/serving.py)."""

    def test_parity_and_batching(self, spark, sharded):
        from concurrent.futures import ThreadPoolExecutor

        from ir_spark.operators.serving import MicroBatchServer

        _, full = sharded
        sidx = SegmentIndex.load(spark, full)
        srv = MicroBatchServer(spark, sidx, k=5, mode="bm25",
                               max_wait_ms=25)
        try:
            queries = QUERIES + ["zzzunseenterm", "the of and",
                                 "boundary layer"]
            # concurrent submission through 4 client threads
            with ThreadPoolExecutor(4) as ex:
                got = list(ex.map(lambda q: srv.submit(q).result(),
                                  queries))
            for q, res in zip(queries, got):
                want = [(i + 1, int(r["doc_id"]),
                         round(float(r["score"]), 9))
                        for i, r in enumerate(
                            search_segments(spark, sidx, q, k=5,
                                            mode="bm25").collect())]
                have = [(rk, d, round(s, 9)) for rk, d, s in res]
                assert have == want, q
            # the real-vocabulary queries must actually match docs
            assert all(len(r) > 0 for r in got[:len(QUERIES)])
            assert got[len(QUERIES)] == []  # unseen term -> empty
        finally:
            srv.close()

    def test_close_rejects_new_work(self, spark, sharded):
        from ir_spark.operators.serving import MicroBatchServer

        _, full = sharded
        sidx = SegmentIndex.load(spark, full)
        srv = MicroBatchServer(spark, sidx, k=3)
        srv.submit("boundary layer").result()
        srv.close()
        with pytest.raises(RuntimeError):
            srv.submit("boundary layer")

    def test_bounded_queue_backpressure(self, monkeypatch):
        """A full inbound queue rejects (block=False) instead of
        growing without bound; queued work still completes."""
        import queue as _queue
        import threading
        import time

        import ir_spark.operators.serving as sv

        gate = threading.Event()

        class _FakeDF:
            def collect(self):
                return []

        def slow_batch(spark_, sidx_, queries, **kw):
            gate.wait(10)
            return _FakeDF()

        monkeypatch.setattr(sv, "search_segments_batch", slow_batch)
        srv = sv.MicroBatchServer(None, None, max_batch=1,
                                  max_wait_ms=1, max_queue=2)
        try:
            first = srv.submit("q0")          # worker takes it, stalls
            time.sleep(0.3)                   # let the worker dequeue q0
            queued = [srv.submit("q1"), srv.submit("q2")]  # fills queue
            with pytest.raises(_queue.Full):
                srv.submit("q3", block=False)
            with pytest.raises(_queue.Full):
                srv.submit("q3", timeout=0.05)
            gate.set()                        # release the worker
            assert first.result(5) == []
            assert [f.result(5) for f in queued] == [[], []]
        finally:
            gate.set()
            srv.close()

    def test_close_under_saturation_does_not_deadlock(self, monkeypatch):
        """close() on a full queue with blocked slow-path submitters
        returns, and every future they got resolves.  The queue is
        instrumented to force the losing interleaving: submitters reach
        their blocking put() only after close()'s sentinel is waiting,
        and every get() yields long enough for a waiting submitter to
        take the slot it freed.  A worker that re-queued the sentinel
        mid-batch would then block, the only consumer, forever."""
        import threading
        import time

        import ir_spark.operators.serving as sv

        gate = threading.Event()

        class _FakeDF:
            def collect(self):
                return []

        def slow_batch(spark_, sidx_, queries, **kw):
            gate.wait(10)
            return _FakeDF()

        monkeypatch.setattr(sv, "search_segments_batch", slow_batch)
        srv = sv.MicroBatchServer(None, None, max_batch=64,
                                  max_wait_ms=200, max_queue=2)
        q, real_get, real_put = srv._q, srv._q.get, srv._q.put

        def get(*a, **kw):
            item = real_get(*a, **kw)
            time.sleep(0.05)  # a waiting submitter takes the freed slot
            return item

        def put(item, *a, **kw):
            if item is not None and kw.get("block", True) and q.full():
                while not srv._closed:  # queue behind close()'s put
                    time.sleep(0.001)
                time.sleep(0.1)
            return real_put(item, *a, **kw)

        futures, errors = [srv.submit("q0")], []
        time.sleep(0.3)                       # worker stalls on q0
        futures += [srv.submit("q1"), srv.submit("q2")]  # queue full
        q.get, q.put = get, put

        def client(i):
            try:
                futures.append(srv.submit(f"s{i}"))  # slow path
            except Exception as exc:  # noqa: BLE001 — asserted below
                errors.append(exc)

        # daemon threads: a deadlock fails the test, not the whole run
        clients = [threading.Thread(target=client, args=(i,), daemon=True)
                   for i in range(4)]
        for t in clients:
            t.start()
        time.sleep(0.1)
        closer = threading.Thread(target=srv.close, daemon=True)
        closer.start()
        time.sleep(0.3)
        gate.set()
        closer.join(10)
        assert not closer.is_alive(), "close() deadlocked"
        for t in clients:
            t.join(10)
            assert not t.is_alive(), "a blocked submit never returned"
        assert errors == []
        assert len(futures) == 7
        assert [f.result(0) for f in futures[:3]] == [[], [], []]
        for f in futures[3:]:
            try:
                assert f.result(5) == []
            except RuntimeError as exc:
                assert str(exc) == "server closed"

    def test_close_releases_blocked_submitter(self, monkeypatch):
        """A submit() blocked on a full queue returns a failed future as
        soon as close() starts, without waiting for a slot that a
        stopped worker would never free."""
        import threading
        import time

        import ir_spark.operators.serving as sv

        gate = threading.Event()

        class _FakeDF:
            def collect(self):
                return []

        def slow_batch(spark_, sidx_, queries, **kw):
            gate.wait(10)
            return _FakeDF()

        monkeypatch.setattr(sv, "search_segments_batch", slow_batch)
        srv = sv.MicroBatchServer(None, None, max_batch=1,
                                  max_wait_ms=1, max_queue=1)
        srv.submit("q0")
        time.sleep(0.3)                       # worker stalls on q0
        srv.submit("q1")                      # queue full
        got = []
        client = threading.Thread(
            target=lambda: got.append(srv.submit("q2")), daemon=True)
        client.start()
        time.sleep(0.2)
        closer = threading.Thread(target=srv.close, daemon=True)
        closer.start()
        try:
            client.join(2)                    # worker still stalled
            assert not client.is_alive(), "submit stayed blocked"
            with pytest.raises(RuntimeError, match="server closed"):
                got[0].result(0)
        finally:
            gate.set()
            closer.join(10)
        assert not closer.is_alive()

    def test_cancelled_future_does_not_kill_worker(self, monkeypatch):
        """A client cancel() after timeout must not raise
        InvalidStateError inside the worker (which would hang every
        later submit)."""
        import threading
        import time

        import ir_spark.operators.serving as sv

        gate = threading.Event()

        class _FakeDF:
            def collect(self):
                return []

        def slow_batch(spark_, sidx_, queries, **kw):
            gate.wait(10)
            return _FakeDF()

        monkeypatch.setattr(sv, "search_segments_batch", slow_batch)
        srv = sv.MicroBatchServer(None, None, max_batch=4, max_wait_ms=1)
        try:
            stalled = srv.submit("q0")        # worker stalls on this one
            time.sleep(0.2)
            doomed = srv.submit("q1")         # queued behind the stall
            assert doomed.cancel()            # client gives up
            gate.set()
            assert stalled.result(5) == []
            # the worker survived the cancelled future: it still serves
            assert srv.submit("q2").result(5) == []
            assert doomed.cancelled()
        finally:
            gate.set()
            srv.close()
