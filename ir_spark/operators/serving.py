"""Concurrent query serving: a micro-batching front-end over the
fused batch scorer.

Why this exists (measured, PLANS.md §53, §58, §59): every query pays a
fixed cost that does not shrink with its size.  Part of it is ~90 ms
of DRIVER-side work — ~260 py4j round-trips building the per-query
plan (literals, isin lists, the mapInPandas kernel registration) plus
the collect — all under the Python GIL, so eight client threads cap
out around ~16 q/s no matter how idle the executors are.  That is not
the per-query floor, though: the larger layer was the PySpark worker's
per-task setup, ~0.1 s per Python task, first spent re-reading
pyspark.zip's directory (``ir_spark/zipguard.py``), then ~40 ms of
loopback-TCP stall on the task's first Arrow batch (now ~7 ms over
Unix sockets, ``ir_spark/session.py``).  The fused batch path
(``search_segments_batch``) pays both fixed costs ONCE for the whole
workload and scans each posting exactly once, which is why it runs at
~45-50 q/s on the same box.

``MicroBatchServer`` turns that batch shape into a serving shape — the
standard high-QPS pattern (dynamic batching, as in model-serving
frontends): clients submit queries and get a Future; a single worker
thread drains whatever has queued (up to ``max_batch``, waiting at
most ``max_wait_ms`` for the first arrival to age) into ONE
``search_segments_batch`` job and fans the per-query top-k back out to
the futures.  Per-query results are rank-identical to
``search_segments`` (the batch scorer's contract, gate
``bm25_batch_topk``); the price is up to ``max_wait_ms`` of added
latency under low load.

Backpressure: the inbound queue is bounded (``max_queue``).  When it
is full, ``submit`` either blocks the client (``block=True``, the
default — load shedding by latency) or raises ``queue.Full``
(``block=False`` — load shedding by rejection).  An unbounded queue
under sustained overload just converts overload into unbounded memory
and unbounded tail latency; a bound keeps the tail finite and makes
the overload visible to clients.

At cluster scale the same class works unchanged: the worker thread
issues one Spark job per drained batch, so executor-side concurrency
is governed by batch size, not client-thread count.
"""

from __future__ import annotations

import queue
import threading
import time
from concurrent.futures import Future, InvalidStateError

from pyspark.sql import SparkSession

from .segment_query import SegmentIndex, search_segments_batch

# how often a submitter blocked on a full queue re-checks for close()
_CLOSE_POLL_S = 0.05


def _complete(fut: Future, result=None, exc: Exception | None = None) -> None:
    """Resolve a future, tolerating client-side cancellation.

    A client that times out on ``result(timeout=...)`` may ``cancel()``
    the future; ``set_result`` on a cancelled future raises
    ``InvalidStateError``, which — unguarded — would kill the worker
    thread and hang every later submit.  A cancelled future simply
    drops its (already computed) result.
    """
    if fut.cancelled():
        return
    try:
        if exc is not None:
            fut.set_exception(exc)
        else:
            fut.set_result(result)
    except InvalidStateError:
        pass  # lost the race with a concurrent cancel()


class MicroBatchServer:
    """Dynamic-batching query server over a loaded SegmentIndex.

    Usage::

        srv = MicroBatchServer(spark, sidx, k=10, mode="bm25")
        fut = srv.submit("model theory")     # returns concurrent Future
        rows = fut.result()                  # [(rank, doc_id, score)]
        srv.close()
    """

    def __init__(self, spark: SparkSession, sidx: SegmentIndex, *,
                 k: int = 10, mode: str = "bm25", k1: float = 1.2,
                 b: float = 0.75, stem: bool = False,
                 max_batch: int = 64, max_wait_ms: int = 10,
                 max_queue: int = 1024):
        self._spark = spark
        self._sidx = sidx
        self._kw = dict(k=k, mode=mode, k1=k1, b=b, stem=stem)
        self._max_batch = max_batch
        self._max_wait = max_wait_ms / 1000.0
        self._q: queue.Queue = queue.Queue(maxsize=max_queue)
        self._closed = False
        self._stop = False  # set by the worker when it takes the sentinel
        self._lock = threading.Lock()  # makes submit/close atomic
        self._worker = threading.Thread(target=self._run, daemon=True)
        self._worker.start()

    def submit(self, query: str, *, block: bool = True,
               timeout: float | None = None) -> Future:
        """Enqueue one query; the Future resolves to the per-query
        top-k as a list of (rank, doc_id, score) tuples (possibly
        empty — all-stopword queries match nothing).

        When the bounded queue is full: blocks up to ``timeout``
        seconds if ``block`` (then raises ``queue.Full``), or raises
        ``queue.Full`` immediately if not.
        """
        fut: Future = Future()
        with self._lock:
            if self._closed:
                raise RuntimeError("server closed")
            # fast path: a non-blocking put under the lock keeps the
            # closed-check and the enqueue atomic without ever holding
            # the lock across a wait (which would stall block=False
            # callers and close() behind a full queue)
            try:
                self._q.put_nowait((query, fut))
                return fut
            except queue.Full:
                if not block:
                    raise
        # slow path (queue full, block=True): wait for a slot OUTSIDE
        # the lock, in short waits that re-check ``_closed`` — once the
        # worker has stopped nothing frees a slot, so an unbounded put
        # could wait forever.  A put that lands after the sentinel is
        # failed by the post-join drain in close() or the re-check
        # below, so the future resolves (with an error) either way.
        deadline = None if timeout is None else time.monotonic() + timeout
        while not self._closed:
            wait = _CLOSE_POLL_S
            if deadline is not None:
                wait = min(wait, deadline - time.monotonic())
                if wait <= 0:
                    raise queue.Full
            try:
                self._q.put((query, fut), timeout=wait)
                break
            except queue.Full:
                pass
        if self._closed:
            _complete(fut, exc=RuntimeError("server closed"))
        return fut

    def close(self) -> None:
        """Drain outstanding work, then stop the worker."""
        with self._lock:
            if self._closed:
                return
            self._closed = True
        # outside the lock: a full queue may briefly block this put;
        # the worker keeps draining until it takes the sentinel, and
        # slow-path submitters stop competing for slots once _closed
        self._q.put(None)
        self._worker.join()
        # fail anything that slipped in behind the sentinel (slow-path
        # submits racing close) rather than let a result() call hang
        while True:
            try:
                item = self._q.get_nowait()
            except queue.Empty:
                break
            if item is not None:
                _complete(item[1], exc=RuntimeError("server closed"))

    # -- worker ----------------------------------------------------------

    def _drain(self) -> list | None:
        """Block for the first item, then age it max_wait_ms while
        greedily pulling whatever else has queued (dynamic batching)."""
        first = self._q.get()
        if first is None:
            return None
        batch = [first]
        deadline = self._max_wait
        while len(batch) < self._max_batch:
            try:
                item = self._q.get(timeout=deadline)
            except queue.Empty:
                break
            if item is None:  # close() sentinel: finish this batch, then stop
                # (re-queueing it instead could block this, the only
                # consumer, on a queue refilled by blocked submitters)
                self._stop = True
                break
            batch.append(item)
            deadline = 0.0  # after the first wait, take only what's ready
        return batch

    def _run(self) -> None:
        while not self._stop:
            batch = self._drain()
            if batch is None:
                return
            queries = [q for q, _ in batch]
            futures = [f for _, f in batch]
            try:
                rows = search_segments_batch(
                    self._spark, self._sidx, queries,
                    **self._kw).collect()
            except Exception as exc:  # fan the failure out, keep serving
                for f in futures:
                    _complete(f, exc=exc)
                continue
            per: dict[int, list] = {}
            for r in rows:
                per.setdefault(int(r["query_id"]), []).append(
                    (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
            for qid, fut in enumerate(futures):
                _complete(fut, result=sorted(per.get(qid, [])))
