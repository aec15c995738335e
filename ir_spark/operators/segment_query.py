"""Top-k retrieval over the compressed segment index (SURVEY E3 at
scale; K1, J1, block-max WAND §4.2).

Query plan:

  1. driver: tokenize query, look up per-term df (broadcast-size
     dictionary probe), compute w_tq scalars.
  2. ``segments`` scan pruned TWICE: partition pruning on
     ``bucket IN (md5-buckets of query terms)`` (directory level) +
     row-group stats on ``term`` (rows sorted by term within files).
  3. per-run DAAT scoring: all query terms of one doc-range run are
     co-partitioned by construction (operators/segments.py), so
     ``groupBy(run).applyInPandas`` scores documents with a dense
     numpy accumulator and emits only the run-local top-k — NO doc_id
     shuffle, candidate traffic is k rows per run.
  4. global merge: orderBy(score desc, doc_id asc).limit(k) over
     (runs x k) rows — TakeOrderedAndProject.

``strategy="wand"`` (bm25): block-max pruning, fully executor-side.
The plan is IDENTICAL to exhaustive (scan -> one shuffle on run ->
Python kernel -> TakeOrderedAndProject): rows are repartitioned and
sorted by run, and a ``mapInPandas`` kernel carries a top-k heap +
threshold theta ACROSS the runs of its partition.  For each run it
first computes per-term upper bounds from the row-local block
(tf, doc_len) skylines (pure numpy on metadata columns — no join, no
extra Spark job, no driver state); a run whose summed bound is < theta
is skipped without decoding a single posting byte, and within
surviving runs blocks with ub_block + sum(other terms' bounds) < theta
are dropped before decoding.  Pruning is provably result-identical:
theta is the partition-local kth (score, doc_id)-ranked score, only
bounds strictly below it are skipped, and the partition top-k heap is
a superset of the partition's contribution to the global top-k (ties
kept via >=).  Verified against exhaustive on every test query
(SURVEY §5.2.4).  Driver-side state is O(1) in the run count —
VERDICT r01 item 2 (collect()/isin()/closure-dict pruning) is gone.

Cosine modes (w1/w2) use the exhaustive path + the build-time norms
table (normalization is not monotone per-term, so WAND bounds don't
apply; the reference's own cosine model predates WAND).
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import codec
from ..oracle import parse_query
from ..sources import storage
from .query import compute_query_weights
from .segments import index_paths

SCORE_SCHEMA = "doc_id long, score double"


@dataclass
class SegmentIndex:
    spark: SparkSession
    index_dir: str
    n_docs: int
    avg_doc_len: float
    n_buckets: int
    range_width: int
    as_of_grp: int | None = None
    as_of_max_doc_id: int | None = None

    @classmethod
    def load(cls, spark: SparkSession, index_dir: str,
             as_of_grp: int | None = None) -> "SegmentIndex":
        """Load the current index, or — with ``as_of_grp`` — a TIME-
        TRAVEL view as of a committed snapshot (Iceberg-snapshot
        analogue; streaming/incremental.py writes one ``snapshot_grp*``
        manifest per appended batch).  The as-of view needs NO data
        rewrite: appended batches own disjoint doc-id ranges and their
        own ``grp=N`` segment partition, so filtering segments to
        ``grp <= G`` (partition-pruned) plus the snapshot's frozen
        N/avgDocLen/max_doc_id reproduces that moment's index exactly.
        Term stats come from the segment rows' own run_df/run_cf sums
        (the dictionary delta rows are not snapshot-keyed).  As-of
        views are read-only history: later tombstones do not apply, and
        cosine modes (whose norms are a CURRENT-stats artifact) are
        rejected."""
        manifests = storage.read_manifests(index_dir)
        if as_of_grp is None:
            stats = manifests["stats"]["metrics"]
            lineage = manifests["stats"]["lineage"]
            max_doc_id = None
        else:
            key = f"snapshot_grp{as_of_grp:06d}"
            if key not in manifests:
                snaps = sorted(k for k in manifests
                               if k.startswith("snapshot_grp"))
                raise ValueError(
                    f"no snapshot for grp={as_of_grp}; committed: {snaps}")
            stats = manifests[key]["metrics"]
            lineage = manifests[key]["lineage"]
            max_doc_id = int(stats["max_doc_id"])
        return cls(
            spark=spark,
            index_dir=index_dir,
            n_docs=int(stats["n_docs"]),
            avg_doc_len=float(stats["avg_doc_len"]),
            n_buckets=int(lineage["n_buckets"]),
            range_width=int(lineage["range_width"]),
            as_of_grp=as_of_grp,
            as_of_max_doc_id=max_doc_id,
        )

    # DataFrame handles are cached: spark.read.parquet lists the file
    # tree at analysis time, and per-query re-listing dominates small-
    # query latency.  A handle stays valid for appended files only after
    # re-load; callers that mutate the index make a fresh SegmentIndex.
    _dfs: dict = None

    def _cached(self, name: str) -> DataFrame:
        if self._dfs is None:
            object.__setattr__(self, "_dfs", {})
        if name not in self._dfs:
            self._dfs[name] = self.spark.read.parquet(
                index_paths(self.index_dir)[name])
        return self._dfs[name]

    @property
    def segments(self) -> DataFrame:
        seg = self._cached("segments")
        if self.as_of_grp is not None:
            # grp is a partition column: the as-of filter prunes whole
            # grp=N directories at planning time, no file is read
            seg = seg.filter(F.col("grp") <= self.as_of_grp)
        return seg

    @property
    def dictionary(self) -> DataFrame:
        return self._cached("dictionary")

    @property
    def docinfo(self) -> DataFrame:
        return self._cached("docinfo")

    @property
    def norms(self) -> DataFrame:
        return self._cached("norms")

    # vocabularies up to this size are pulled to the driver once and
    # probed locally (saves one Spark job per query); larger ones use
    # the pushdown-pruned scan per query (the cluster-scale path)
    LOCAL_DICT_MAX = 2_000_000

    def _asof_term_stats(self, terms: list[str], col: str) -> dict[str, int]:
        """As-of df/cf for a small term set from the SEGMENT rows'
        run_df/run_cf (dictionary delta rows are not snapshot-keyed):
        bucket-pruned, term-pushdown, reads only the stat column."""
        buckets = sorted({storage.term_bucket_py(t, self.n_buckets)
                          for t in terms})
        rows = (
            self.segments
            .filter(F.col("bucket").isin(buckets)
                    & F.col("term").isin(terms))
            .groupBy("term").agg(F.sum(col).alias("v")).collect())
        return {r["term"]: int(r["v"]) for r in rows if r["v"]}

    def df_of(self, terms: list[str]) -> dict[str, int]:
        if self.as_of_grp is not None:
            return self._asof_term_stats(terms, "run_df")
        if self._dfs is None:
            object.__setattr__(self, "_dfs", {})
        if "local_dict" not in self._dfs:
            # sum, not read: incremental appends (streaming/
            # incremental.py) store dictionary DELTA rows per batch —
            # df(term) is their sum.  One bounded collect: more than
            # LOCAL_DICT_MAX rows back means "too big to hold locally"
            agg = self.dictionary.groupBy("term").agg(
                F.sum("df").alias("df"))
            rows = agg.limit(self.LOCAL_DICT_MAX + 1).collect()
            self._dfs["local_dict"] = (
                {r["term"]: int(r["df"]) for r in rows}
                if len(rows) <= self.LOCAL_DICT_MAX else None)
        local = self._dfs["local_dict"]
        if local is not None:
            return {t: local[t] for t in terms if t in local}
        rows = (
            self.dictionary.filter(F.col("term").isin(terms))
            .groupBy("term").agg(F.sum("df").alias("df")).collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}

    def cf_of(self, terms: list[str]) -> dict[str, int]:
        """Collection frequencies for a small term set (delta-row sum,
        same contract as df_of); terms with no postings are absent."""
        if self.as_of_grp is not None:
            return self._asof_term_stats(terms, "run_cf")
        rows = (
            self.dictionary.filter(F.col("term").isin(terms))
            .groupBy("term").agg(F.sum("cf").alias("cf")).collect()
        )
        return {r["term"]: int(r["cf"]) for r in rows if r["cf"]}

    def cf_total(self) -> int:
        """Total collection token count over indexed terms (the LM
        denominator) — one dictionary sweep (as-of: one segment-stat
        sweep over the snapshot's groups), cached."""
        if self._dfs is None:
            object.__setattr__(self, "_dfs", {})
        if "cf_total" not in self._dfs:
            src = (self.segments.agg(F.sum("run_cf"))
                   if self.as_of_grp is not None
                   else self.dictionary.agg(F.sum("cf")))
            self._dfs["cf_total"] = int(src.collect()[0][0] or 0)
        return self._dfs["cf_total"]

    def deleted_bc(self):
        """Broadcast of the tombstoned doc-id array (sorted int64), or
        None when the index has no tombstones (operators/deletes.py).
        Loaded + broadcast once per SegmentIndex — Lucene's liveDocs
        bitset analogue; the kernels mask these ids before their
        run-local top-k."""
        if self.as_of_grp is not None:
            # an as-of view is read-only history: tombstones describe
            # the CURRENT index state and do not apply retroactively
            return None
        if self._dfs is None:
            object.__setattr__(self, "_dfs", {})
        if "deleted_bc" not in self._dfs:
            from .deletes import load_tombstone_ids

            arr = load_tombstone_ids(self.spark, self.index_dir)
            self._dfs["deleted_bc"] = (
                self.spark.sparkContext.broadcast(arr)
                if arr is not None else None)
        return self._dfs["deleted_bc"]


# --- numpy weight kernels (must match oracle.py bit-for-bit) -----------------


def _mask_deleted_offsets(touched: np.ndarray, deleted, base: int,
                          range_width: int) -> None:
    """Clear the run-local offsets of tombstoned doc ids in a dense
    candidate mask, in place.  ``deleted`` is the Broadcast handle from
    SegmentIndex.deleted_bc (or None).  Sorted-array slice: O(log D)
    per run, touching only the ids that fall inside [base, base+width).
    Masking happens BEFORE the run-local top-k so live docs ranked just
    below a deleted one still surface."""
    if deleted is None:
        return
    dels = deleted.value
    lo, hi = np.searchsorted(dels, [base, base + range_width])
    if hi > lo:
        touched[dels[lo:hi] - base] = False

def _np_doc_weight(mode: str, tf: np.ndarray, dl: np.ndarray, mtf: np.ndarray,
                   df: int, n_docs: int, avg_dl: float, k1: float, b: float,
                   delta: float = 0.0) -> np.ndarray:
    tf = tf.astype(np.float64)
    if mode == "w1":
        if df == 0:
            return np.zeros_like(tf)
        idf = math.log(float(n_docs // df)) / math.log(n_docs)
        w = (0.4 + 0.6 * np.log(tf + 0.5) / np.log(mtf.astype(np.float64) + 1.0)) * idf
        return np.where((tf == 0) | (mtf == 0), 0.0, w)
    if mode == "w2":
        if df == 0:
            return np.zeros_like(tf)
        idf = math.log(float(n_docs // df)) / math.log(n_docs)
        dlf = dl.astype(np.float64)
        w = 0.4 + 0.6 * (tf / (tf + 0.5 + 1.5 * (dlf / avg_dl))) * idf
        return np.where((tf == 0) | (dl == 0), 0.0, w)
    if mode == "bm25":
        if df == 0:
            return np.zeros_like(tf)
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        dlf = dl.astype(np.float64)
        return idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dlf / avg_dl))
    # the BM25-shaped variant family (query.py::search_bm25plus /
    # search_bm25l / search_pivoted bit-for-bit): per-(term, doc)
    # weights over the same decoded columns, accumulated identically
    if mode == "bm25plus":
        if df == 0:
            return np.zeros_like(tf)
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        dlf = dl.astype(np.float64)
        sat = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dlf / avg_dl))
        return idf * (sat + delta)
    if mode == "bm25l":
        if df == 0:
            return np.zeros_like(tf)
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        dlf = dl.astype(np.float64)
        ctd = tf / (1.0 - b + b * dlf / avg_dl)
        return idf * (k1 + 1.0) * (ctd + delta) / (k1 + (ctd + delta))
    if mode == "pivoted":
        # slope rides the b parameter (search_segments maps slope-> b;
        # Singhal 1996 / Fang-Zhai PIV)
        if df == 0:
            return np.zeros_like(tf)
        idf = math.log((n_docs + 1.0) / df)
        dlf = dl.astype(np.float64)
        num = 1.0 + np.log(1.0 + np.log(tf))
        return num / (1.0 - b + b * dlf / avg_dl) * idf
    raise ValueError(mode)


def _make_run_kernel(weights: dict[str, float], dfs: dict[str, int], *,
                     mode: str, n_docs: int, avg_dl: float, k1: float,
                     b: float, range_width: int, top_k: int, deleted=None,
                     delta: float = 0.0):
    """applyInPandas kernel over one doc-range run: dense-accumulator
    TAAT scoring, emit run-local top-k (or all candidates when top_k=0
    for cosine modes)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        run = int(pdf["run"].iloc[0])
        base = run * range_width
        acc = np.zeros(range_width, dtype=np.float64)
        # OR-semantics candidate set: every doc containing >=1 query term
        # is scored, even when its score is exactly 0.0 (the D5 idf quirk
        # zeroes whole terms) — QueryParser.java:159-174
        touched = np.zeros(range_width, dtype=bool)
        for row in pdf.itertuples(index=False):
            term = row.term
            # NB: zero-weight terms still define candidates (OR
            # semantics) — only skip terms absent from the query
            w_tq = weights.get(term)
            if w_tq is None:
                continue
            df_t = dfs.get(term, 0)
            ids = codec.delta_decode(row.doc_gaps_vb)
            tfs = codec.varbyte_decode(row.tfs_vb).astype(np.int64)
            dls = codec.varbyte_decode(row.doc_lens_vb).astype(np.int64)
            mtfs = codec.varbyte_decode(row.max_tfs_vb).astype(np.int64)
            w_td = _np_doc_weight(mode, tfs, dls, mtfs, df_t, n_docs,
                                  avg_dl, k1, b, delta)
            acc[ids - base] += w_td * w_tq
            touched[ids - base] = True
        _mask_deleted_offsets(touched, deleted, base, range_width)
        idx = np.flatnonzero(touched)
        if idx.size == 0:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": "int64", "score": "float64"})
        scores = acc[idx]
        doc_ids = idx + base
        if top_k and idx.size > top_k:
            # exact top-k with (score desc, doc_id asc) tie-break
            order = np.lexsort((doc_ids, -scores))[:top_k]
            doc_ids, scores = doc_ids[order], scores[order]
        return pd.DataFrame({"doc_id": doc_ids.astype(np.int64),
                             "score": scores})

    return kernel


def _make_qld_run_kernel(qcf: dict[str, tuple[float, float]], *,
                         c_total: float, mu: float, const: float,
                         q_len: float, range_width: int, top_k: int,
                         deleted=None):
    """applyInPandas kernel for Dirichlet query-likelihood over one
    doc-range run (query.py::search_qld's decomposition, numpy form):
    accumulate qtf*ln(1 + tf*C/(mu*cf)) per matched posting, then add
    the driver-side constant and the doc-length penalty for candidate
    docs.  ``qcf`` maps term -> (qtf, cf) for surviving query terms."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        run = int(pdf["run"].iloc[0])
        base = run * range_width
        acc = np.zeros(range_width, dtype=np.float64)
        dl_arr = np.zeros(range_width, dtype=np.int64)
        touched = np.zeros(range_width, dtype=bool)
        for row in pdf.itertuples(index=False):
            tw = qcf.get(row.term)
            if tw is None:
                continue
            qtf, cf = tw
            ids = codec.delta_decode(row.doc_gaps_vb)
            tfs = codec.varbyte_decode(row.tfs_vb).astype(np.float64)
            dls = codec.varbyte_decode(row.doc_lens_vb).astype(np.int64)
            off = ids - base
            acc[off] += qtf * np.log1p(tfs * c_total / (mu * cf))
            dl_arr[off] = dls
            touched[off] = True
        _mask_deleted_offsets(touched, deleted, base, range_width)
        idx = np.flatnonzero(touched)
        if idx.size == 0:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": "int64", "score": "float64"})
        scores = (const + acc[idx]
                  - q_len * np.log(dl_arr[idx].astype(np.float64) + mu))
        doc_ids = idx + base
        if top_k and idx.size > top_k:
            order = np.lexsort((doc_ids, -scores))[:top_k]
            doc_ids, scores = doc_ids[order], scores[order]
        return pd.DataFrame({"doc_id": doc_ids.astype(np.int64),
                             "score": scores})

    return kernel


def _make_lmjm_run_kernel(qcf: dict[str, tuple[float, float]], *,
                          c_total: float, lam: float, const: float,
                          range_width: int, top_k: int, deleted=None):
    """applyInPandas kernel for Jelinek-Mercer query likelihood over
    one doc-range run (query.py::search_lmjm's decomposition, numpy
    form): acc += qtf*ln(1 + (1-lam)*tf*C/(lam*dl*cf)) per matched
    posting; score = const + acc — no doc-length term outside the
    matched sum, so no doc-stat pass at all."""
    ratio = (1.0 - lam) / lam

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        run = int(pdf["run"].iloc[0])
        base = run * range_width
        acc = np.zeros(range_width, dtype=np.float64)
        touched = np.zeros(range_width, dtype=bool)
        for row in pdf.itertuples(index=False):
            tw = qcf.get(row.term)
            if tw is None:
                continue
            qtf, cf = tw
            ids = codec.delta_decode(row.doc_gaps_vb)
            tfs = codec.varbyte_decode(row.tfs_vb).astype(np.float64)
            dls = codec.varbyte_decode(row.doc_lens_vb).astype(np.float64)
            off = ids - base
            acc[off] += qtf * np.log1p(ratio * tfs * c_total / (dls * cf))
            touched[off] = True
        _mask_deleted_offsets(touched, deleted, base, range_width)
        idx = np.flatnonzero(touched)
        if idx.size == 0:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": "int64", "score": "float64"})
        scores = const + acc[idx]
        doc_ids = idx + base
        if top_k and idx.size > top_k:
            order = np.lexsort((doc_ids, -scores))[:top_k]
            doc_ids, scores = doc_ids[order], scores[order]
        return pd.DataFrame({"doc_id": doc_ids.astype(np.int64),
                             "score": scores})

    return kernel


def _make_pl2_run_kernel(qcf: dict[str, tuple[float, float]], *,
                         avg_dl: float, c: float, range_width: int,
                         top_k: int, deleted=None):
    """applyInPandas kernel for PL2 divergence-from-randomness over
    one doc-range run (query.py::search_pl2, numpy form).  Matched
    terms only; log2 computed as ln/ln2 with the SAME double constants
    as the Catalyst expressions, so the engines stay bit-comparable.
    ``qcf`` maps term -> (qtf, lambda_t = cf/N)."""
    ln2 = math.log(2.0)
    log2e = math.log2(math.e)
    two_pi = 2.0 * math.pi

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        run = int(pdf["run"].iloc[0])
        base = run * range_width
        acc = np.zeros(range_width, dtype=np.float64)
        touched = np.zeros(range_width, dtype=bool)
        for row in pdf.itertuples(index=False):
            tw = qcf.get(row.term)
            if tw is None:
                continue
            qtf, lam = tw
            ids = codec.delta_decode(row.doc_gaps_vb)
            tfs = codec.varbyte_decode(row.tfs_vb).astype(np.float64)
            dls = codec.varbyte_decode(row.doc_lens_vb).astype(np.float64)
            off = ids - base
            tfn = tfs * (np.log(1.0 + c * avg_dl / dls) / ln2)
            gain = (tfn * (np.log(tfn / lam) / ln2)
                    + (lam - tfn) * log2e
                    + 0.5 * (np.log(two_pi * tfn) / ln2))
            acc[off] += qtf / (tfn + 1.0) * gain
            touched[off] = True
        _mask_deleted_offsets(touched, deleted, base, range_width)
        idx = np.flatnonzero(touched)
        if idx.size == 0:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": "int64", "score": "float64"})
        scores = acc[idx]
        doc_ids = idx + base
        if top_k and idx.size > top_k:
            order = np.lexsort((doc_ids, -scores))[:top_k]
            doc_ids, scores = doc_ids[order], scores[order]
        return pd.DataFrame({"doc_id": doc_ids.astype(np.int64),
                             "score": scores})

    return kernel


def _make_wand_partition_kernel(weights: dict[str, float],
                                dfs: dict[str, int], *,
                                mode: str, n_docs: int, avg_dl: float,
                                k1: float, b: float, range_width: int,
                                top_k: int, acc_runs_seen=None,
                                acc_runs_pruned=None, deleted=None,
                                delta: float = 0.0):
    """mapInPandas kernel over a run-sorted partition: block-max WAND
    with the top-k heap + threshold theta carried ACROSS runs.

    Per-run/per-block upper bounds are computed from the rows' own
    block (tf, doc_len) skyline columns — metadata already co-located
    with the postings, so pruning needs no extra Spark job, no bounds
    join, and no driver-side state (heap and theta live in the
    executor; the driver only ever sees the final k rows).  A run whose
    summed term bounds are < theta is skipped before any posting byte
    is decoded.  Optional accumulators count runs seen/pruned for
    tests and diagnostics."""
    import heapq

    def kernel(batches):
        # min-heap of (score, -doc_id): heap[0] is the WORST kept item
        # under the (score desc, doc_id asc) tie-break, so theta =
        # heap[0][0] is exactly the partition-local kth-ranked score.
        heap: list[tuple[float, int]] = []

        def theta() -> float | None:
            return heap[0][0] if len(heap) == top_k else None

        def score_run(rows) -> None:
            # pass 1 — metadata only: per term-row upper bound = max
            # over the block skyline (attained by a real posting, so
            # tight); summed over terms -> run upper bound.
            metas = []
            total_ub = 0.0
            for row in rows:
                w_tq = weights.get(row.term)
                if w_tq is None:
                    continue  # term absent from the query
                df_t = dfs.get(row.term, 0)
                sky_tf = np.asarray(row.block_sky_tf, dtype=np.int64)
                sky_dl = np.asarray(row.block_sky_dl, dtype=np.int64)
                pair_w = _np_doc_weight(mode, sky_tf, sky_dl, sky_tf, df_t,
                                        n_docs, avg_dl, k1, b) * w_tq
                t_ub = float(pair_w.max()) if pair_w.size else 0.0
                metas.append((row, w_tq, df_t, pair_w, t_ub))
                total_ub += t_ub
            if not metas:
                return
            if acc_runs_seen is not None:
                acc_runs_seen.add(1)
            th = theta()
            if th is not None and total_ub < th:
                # the whole run cannot reach the current kth score —
                # skipped without decoding (ties kept: < not <=)
                if acc_runs_pruned is not None:
                    acc_runs_pruned.add(1)
                return
            run = int(metas[0][0].run)
            base = run * range_width
            acc = np.zeros(range_width, dtype=np.float64)
            # OR-semantics candidate set (QueryParser.java:159-174)
            touched = np.zeros(range_width, dtype=bool)
            for row, w_tq, df_t, pair_w, t_ub in metas:
                ids = codec.delta_decode(row.doc_gaps_vb)
                tfs = codec.varbyte_decode(row.tfs_vb).astype(np.int64)
                dls = codec.varbyte_decode(row.doc_lens_vb).astype(np.int64)
                mtfs = codec.varbyte_decode(row.max_tfs_vb).astype(np.int64)
                th = theta()
                if th is not None:
                    # block skip: ub of this block + best others < theta
                    others = total_ub - t_ub
                    sky_idx = np.asarray(row.block_sky_idx, dtype=np.int64)
                    n_blocks = len(row.block_last_doc_id)
                    block_ub = np.full(n_blocks, -np.inf)
                    np.maximum.at(block_ub, sky_idx, pair_w)
                    keep_blocks = (block_ub + others) >= th
                    if not keep_blocks.all():
                        keep = np.repeat(keep_blocks, codec.BLOCK)[: ids.size]
                        ids, tfs, dls, mtfs = (ids[keep], tfs[keep],
                                               dls[keep], mtfs[keep])
                        if ids.size == 0:
                            continue
                w_td = _np_doc_weight(mode, tfs, dls, mtfs, df_t, n_docs,
                                      avg_dl, k1, b)
                acc[ids - base] += w_td * w_tq
                touched[ids - base] = True
            # deleted docs never enter the heap, so theta is the kth
            # LIVE score; the skyline bounds above stay valid upper
            # bounds (they range over a superset of the live postings)
            _mask_deleted_offsets(touched, deleted, base, range_width)
            idx = np.flatnonzero(touched)
            if idx.size == 0:
                return
            scores = acc[idx]
            doc_ids = idx + base
            th = theta()
            if th is not None:
                # vectorized pre-filter; ties kept for the doc_id
                # tie-break (heapreplace below resolves them exactly)
                keep = scores >= th
                scores, doc_ids = scores[keep], doc_ids[keep]
            for s, d in zip(scores, doc_ids):
                item = (float(s), -int(d))
                if len(heap) < top_k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)

        # runs are contiguous within the partition (sortWithinPartitions
        # upstream); buffer one run at a time across Arrow batches
        buf: list = []
        cur_run: int | None = None
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                r = int(row.run)
                if cur_run is not None and r != cur_run:
                    score_run(buf)
                    buf = []
                cur_run = r
                buf.append(row)
        score_run(buf)
        if heap:
            yield pd.DataFrame(
                {"doc_id": [-d for _, d in heap],
                 "score": [s for s, _ in heap]}
            ).astype({"doc_id": "int64", "score": "float64"})

    return kernel


def _make_maxscore_partition_kernel(weights: dict[str, float],
                                    dfs: dict[str, int], *,
                                    mode: str, n_docs: int, avg_dl: float,
                                    k1: float, b: float, range_width: int,
                                    top_k: int, acc_runs_seen=None,
                                    acc_runs_pruned=None,
                                    acc_nonessential=None, deleted=None,
                                    delta: float = 0.0):
    """mapInPandas kernel over a run-sorted partition: MaxScore pruning
    (Turtle & Flood 1995) with the top-k heap + theta carried across
    runs — the classic alternative to block-max WAND, here sharing its
    executor-side scaffolding (no driver state, no metadata job).

    Per run, terms are ordered by their run-local upper bound (max over
    the row's block (tf, doc_len) skyline — attained by a real posting,
    so tight) and split: the maximal ascending prefix whose summed
    bounds stay strictly BELOW theta is NON-ESSENTIAL — a document
    matching only those terms scores < theta and can never enter the
    heap (strict <, so exact ties survive for the doc_id tie-break).
    Essential terms define the candidate set; accumulation then runs
    over candidates only, in the ORIGINAL row order, so every emitted
    score is BIT-IDENTICAL to the exhaustive kernel's (same per-doc
    float addition sequence), not merely rank-identical — pruning is a
    plan choice, never a score change (tested exactly).
    ``acc_nonessential`` counts term-rows handled on the
    candidates-only path (pruning evidence for tests/bench)."""
    import heapq

    def kernel(batches):
        heap: list[tuple[float, int]] = []

        def theta() -> float | None:
            return heap[0][0] if len(heap) == top_k else None

        def score_run(rows) -> None:
            metas = []
            total_ub = 0.0
            for row in rows:
                w_tq = weights.get(row.term)
                if w_tq is None:
                    continue
                df_t = dfs.get(row.term, 0)
                sky_tf = np.asarray(row.block_sky_tf, dtype=np.int64)
                sky_dl = np.asarray(row.block_sky_dl, dtype=np.int64)
                pair_w = _np_doc_weight(mode, sky_tf, sky_dl, sky_tf, df_t,
                                        n_docs, avg_dl, k1, b) * w_tq
                t_ub = float(pair_w.max()) if pair_w.size else 0.0
                metas.append((row, w_tq, df_t, t_ub))
                total_ub += t_ub
            if not metas:
                return
            if acc_runs_seen is not None:
                acc_runs_seen.add(1)
            th = theta()
            if th is not None and total_ub < th:
                if acc_runs_pruned is not None:
                    acc_runs_pruned.add(1)
                return
            # MaxScore split: ascending by upper bound; the longest
            # prefix with cumulative sum < theta is non-essential
            by_ub = sorted(metas, key=lambda m: m[3])
            non_essential_rows = set()
            if th is not None:
                csum = 0.0
                for _row, _wq, _df, t_ub in by_ub:
                    if csum + t_ub >= th:
                        break
                    csum += t_ub
                    non_essential_rows.add(id(_row))
            # a run where EVERY term is non-essential was already
            # pruned above (total_ub < theta), so >=1 essential remains
            run = int(metas[0][0].run)
            base = run * range_width
            acc = np.zeros(range_width, dtype=np.float64)
            touched = np.zeros(range_width, dtype=bool)
            # pass A — decode once, mark candidates from the ESSENTIAL
            # terms only (docs matched solely by non-essential terms
            # score < theta and can never enter the heap)
            decoded = []
            for row, w_tq, df_t, _t_ub in metas:
                ids = codec.delta_decode(row.doc_gaps_vb)
                tfs = codec.varbyte_decode(row.tfs_vb).astype(np.int64)
                dls = codec.varbyte_decode(row.doc_lens_vb).astype(np.int64)
                mtfs = codec.varbyte_decode(row.max_tfs_vb).astype(np.int64)
                essential = id(row) not in non_essential_rows
                if essential:
                    touched[ids - base] = True
                elif acc_nonessential is not None:
                    acc_nonessential.add(1)
                decoded.append((ids, tfs, dls, mtfs, w_tq, df_t, essential))
            _mask_deleted_offsets(touched, deleted, base, range_width)
            # pass B — accumulate every term in the ORIGINAL row order,
            # restricted to candidates: per-doc float addition order is
            # then IDENTICAL to the exhaustive kernel's, so the pruned
            # strategy is bit-exact, not just rank-identical
            for ids, tfs, dls, mtfs, w_tq, df_t, _ess in decoded:
                off = ids - base
                cand = touched[off]
                if not cand.any():
                    continue
                w_td = _np_doc_weight(mode, tfs[cand], dls[cand],
                                      mtfs[cand], df_t, n_docs,
                                      avg_dl, k1, b)
                acc[off[cand]] += w_td * w_tq
            idx = np.flatnonzero(touched)
            if idx.size == 0:
                return
            scores = acc[idx]
            doc_ids = idx + base
            th = theta()
            if th is not None:
                keep = scores >= th
                scores, doc_ids = scores[keep], doc_ids[keep]
            for s, d in zip(scores, doc_ids):
                item = (float(s), -int(d))
                if len(heap) < top_k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)

        buf: list = []
        cur_run: int | None = None
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                r = int(row.run)
                if cur_run is not None and r != cur_run:
                    score_run(buf)
                    buf = []
                cur_run = r
                buf.append(row)
        score_run(buf)
        if heap:
            yield pd.DataFrame(
                {"doc_id": [-d for _, d in heap],
                 "score": [s for s, _ in heap]}
            ).astype({"doc_id": "int64", "score": "float64"})

    return kernel


BATCH_SCORE_SCHEMA = "query_id long, doc_id long, score double"


def _make_batch_run_kernel(term_q: dict[str, list[tuple[int, float]]],
                           dfs: dict[str, int], *, mode: str, n_docs: int,
                           avg_dl: float, k1: float, b: float,
                           range_width: int, top_k: int, deleted=None):
    """applyInPandas kernel over one doc-range run scoring MANY queries
    in a single decode pass.

    Each posting row is decoded ONCE and its per-doc weight w_td
    computed ONCE (w_td depends on the term/doc stats, not the query);
    every query consuming the term then adds w_td * w_tq into its own
    candidate list.  Per-query accumulation is SPARSE (sort +
    add.reduceat over the touched positions), so kernel memory is
    O(sum of candidate postings), not O(n_queries * range_width) —
    the shape that survives 10k-query offline scoring batches at a
    cluster-scale range_width of 2^22."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        run = int(pdf["run"].iloc[0])
        base = run * range_width
        # run-local offsets of tombstoned docs (sorted slice, O(log D))
        del_off = None
        if deleted is not None:
            dels = deleted.value
            lo, hi = np.searchsorted(dels, [base, base + range_width])
            if hi > lo:
                del_off = dels[lo:hi] - base
        # qid -> (list[pos arrays], list[partial-score arrays])
        parts: dict[int, tuple[list, list]] = {}
        for row in pdf.itertuples(index=False):
            consumers = term_q.get(row.term)
            if not consumers:
                continue
            df_t = dfs.get(row.term, 0)
            ids = codec.delta_decode(row.doc_gaps_vb)
            tfs = codec.varbyte_decode(row.tfs_vb).astype(np.int64)
            dls = codec.varbyte_decode(row.doc_lens_vb).astype(np.int64)
            mtfs = codec.varbyte_decode(row.max_tfs_vb).astype(np.int64)
            w_td = _np_doc_weight(mode, tfs, dls, mtfs, df_t, n_docs,
                                  avg_dl, k1, b)
            pos = ids - base
            for qid, w_tq in consumers:
                lists = parts.setdefault(qid, ([], []))
                lists[0].append(pos)
                # zero products kept: OR semantics — a doc containing a
                # zero-weight query term is still a candidate (D5 quirk)
                lists[1].append(w_td * w_tq)
        out_q, out_d, out_s = [], [], []
        for qid, (pos_list, val_list) in parts.items():
            pos = np.concatenate(pos_list)
            val = np.concatenate(val_list)
            order = np.argsort(pos, kind="stable")
            pos, val = pos[order], val[order]
            uniq, start = np.unique(pos, return_index=True)
            scores = np.add.reduceat(val, start)
            if del_off is not None:
                live = ~np.isin(uniq, del_off, assume_unique=True)
                uniq, scores = uniq[live], scores[live]
                if uniq.size == 0:
                    continue
            doc_ids = uniq + base
            if top_k and doc_ids.size > top_k:
                sel = np.lexsort((doc_ids, -scores))[:top_k]
                doc_ids, scores = doc_ids[sel], scores[sel]
            out_q.append(np.full(doc_ids.size, qid, dtype=np.int64))
            out_d.append(doc_ids.astype(np.int64))
            out_s.append(scores.astype(np.float64))
        if not out_q:
            return pd.DataFrame(
                {"query_id": [], "doc_id": [], "score": []}).astype(
                {"query_id": "int64", "doc_id": "int64", "score": "float64"})
        return pd.DataFrame({"query_id": np.concatenate(out_q),
                             "doc_id": np.concatenate(out_d),
                             "score": np.concatenate(out_s)})

    return kernel


def search_segments_batch(spark: SparkSession, sidx: SegmentIndex,
                          queries: list[str], k: int = 5,
                          mode: str = "bm25", k1: float = 1.2,
                          b: float = 0.75, stem: bool = False) -> DataFrame:
    """Score a whole query WORKLOAD in one pass over the index:
    (query_id, rank, doc_id, score), per-query top-k, rank-identical
    per query to ``search_segments``.

    This is the offline/throughput shape (nightly eval sets, training-
    data retrieval): the scan is pruned to the UNION of all query
    terms' buckets, every posting row is read and decoded exactly once
    regardless of how many queries share the term, and the only extra
    shuffle over the single-query plan is the final per-query window
    over (runs x k x n_queries) candidate rows.  20 sequential
    ``search_segments`` jobs pay 20 scans + 20 shuffles; this pays one
    of each (measured ~8x faster on the 20-query reference set at
    sf0.1 — bench.py ``bm25_query_set_20_batch``).

    Queries whose tokens are all stopwords (empty bag) yield no rows.

    Supported modes: bm25 / w1 / w2 (the batch kernel computes W1/W2
    cosine normalization; the LM family and the BM25 variants carry
    per-mode kernel_args the batch path does not thread).  Anything
    else raises loudly — silently mis-normalizing (bm25plus would
    all-zero, qld would crash executor-side) is worse than refusing.
    """
    from pyspark.sql import Window

    if mode not in ("bm25", "w1", "w2"):
        raise ValueError(
            f"search_segments_batch supports bm25/w1/w2, not {mode!r}; "
            "run the single-query path per query for the LM/variant "
            "families")
    if sidx.as_of_grp is not None and mode in ("w1", "w2"):
        # same contract as search_segments: the norms table is
        # current-view, so snapshot-era cosine scores would silently
        # normalize against post-snapshot corpus statistics
        raise ValueError(
            "cosine modes need the CURRENT norms table; an as-of "
            "snapshot view supports bm25/qld only")
    bags = {qid: parse_query(q, stem=stem) for qid, q in enumerate(queries)}
    terms = sorted({t for bag in bags.values() for t in bag})
    if not terms:
        return spark.createDataFrame([], "query_id long, rank int, "
                                         "doc_id long, score double")
    dfs = sidx.df_of(terms)
    term_q: dict[str, list[tuple[int, float]]] = {}
    q_norms: dict[int, float] = {}
    for qid, bag in sorted(bags.items()):
        weights, q_norm = compute_query_weights(bag, dfs, sidx.n_docs, mode)
        q_norms[qid] = q_norm
        for t, w in weights.items():
            term_q.setdefault(t, []).append((qid, w))

    buckets = sorted({storage.term_bucket_py(t, sidx.n_buckets) for t in terms})
    hits = sidx.segments.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms))
    kernel = _make_batch_run_kernel(
        term_q, dfs, mode=mode, n_docs=sidx.n_docs, avg_dl=sidx.avg_doc_len,
        k1=k1, b=b, range_width=sidx.range_width,
        top_k=k if mode == "bm25" else 0, deleted=sidx.deleted_bc())
    scored = hits.groupBy("run").applyInPandas(kernel, BATCH_SCORE_SCHEMA)

    if mode != "bm25":
        # cosine normalize (W4): doc norm from the build-time norms
        # table, query norm from a broadcast (query_id, q_norm) dim
        norm_col = "norm_w1" if mode == "w1" else "norm_w2"
        qn = spark.createDataFrame(
            [(qid, q_norms[qid]) for qid in sorted(q_norms)],
            "query_id long, q_norm double")
        scored = (
            scored.join(sidx.norms.select("doc_id", norm_col), "doc_id")
            .join(F.broadcast(qn), "query_id")
            .select(
                "query_id", "doc_id",
                F.when((F.col(norm_col) > 0) & (F.col("q_norm") > 0),
                       F.col("score") / F.col(norm_col) / F.col("q_norm"))
                .otherwise(F.lit(0.0)).alias("score"),
            )
        )

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def search_segments(spark: SparkSession, sidx: SegmentIndex, query: str,
                    k: int = 5, mode: str = "bm25", k1: float = 1.2,
                    b: float = 0.75, stem: bool = False,
                    strategy: str = "exhaustive",
                    mu: float = 1000.0, lam: float = 0.1,
                    pl2_c: float = 1.0, delta: float | None = None,
                    slope: float = 0.2,
                    prune_counters: dict | None = None,
                    df_override: dict[str, int] | None = None,
                    cf_override: dict[str, int] | None = None,
                    cf_total_override: float | None = None) -> DataFrame:
    """Top-k over the compressed index; result schema (doc_id, score),
    ordered, rank-identical to the DataFrame engine and the oracle.
    ``mode='qld'`` scores Dirichlet query-likelihood (``mu``) — same
    pruned scan + one run-keyed Python pass as bm25 exhaustive.

    ``strategy``: ``"exhaustive"`` (score every posting),
    ``"wand"`` (block-max WAND), ``"maxscore"`` (MaxScore
    essential/non-essential split), or ``"auto"``; all are
    rank-identical, the pruned ones skip work via the per-block
    skyline metadata.

    ``prune_counters``: optional ``{"runs_seen": acc, "runs_pruned":
    acc, "nonessential": acc}`` Spark accumulators, incremented by the
    pruning kernels (tests / diagnostics only).

    ``df_override`` / ``cf_override`` / ``cf_total_override``: use
    these term statistics instead of this index's own — the federated
    hook (operators/shards.py): a shard scores its local postings with
    GLOBAL df/cf so scores are comparable across shards.  Pair with a
    ``dataclasses.replace``-d SegmentIndex carrying the global
    n_docs/avg_doc_len.  Terms absent from an override score zero,
    same as terms absent from the dictionary."""
    import math as _math

    if sidx.as_of_grp is not None and mode in ("w1", "w2"):
        raise ValueError(
            "cosine modes need the CURRENT norms table; an as-of "
            "snapshot view supports bm25/qld only")
    bag = parse_query(query, stem=stem)
    if not bag:
        return spark.createDataFrame([], SCORE_SCHEMA)
    terms = sorted(bag)

    if mode in ("qld", "lmjm", "pl2"):
        # the cf-statistics LM family: same pruned scan + one
        # run-keyed Python pass, kernels differ only in the per-posting
        # accumulation and the driver-side constants
        cfs = cf_override if cf_override is not None else sidx.cf_of(terms)
        qterms = sorted(t for t in bag if t in cfs)
        if not qterms:
            return spark.createDataFrame([], SCORE_SCHEMA)
        c_total = (float(cf_total_override) if cf_total_override is not None
                   else float(sidx.cf_total()))
        buckets = sorted({storage.term_bucket_py(t, sidx.n_buckets)
                          for t in qterms})
        hits = sidx.segments.filter(
            F.col("bucket").isin(buckets) & F.col("term").isin(qterms))
        if mode == "qld":
            const = sum(bag[t] * _math.log(mu * cfs[t] / c_total)
                        for t in qterms)
            q_len = float(sum(bag[t] for t in qterms))
            kernel = _make_qld_run_kernel(
                {t: (float(bag[t]), float(cfs[t])) for t in qterms},
                c_total=c_total, mu=mu, const=const, q_len=q_len,
                range_width=sidx.range_width, top_k=k,
                deleted=sidx.deleted_bc())
        elif mode == "lmjm":
            if not 0.0 < lam < 1.0:
                raise ValueError("lam must be in (0, 1)")
            const = sum(bag[t] * _math.log(lam * cfs[t] / c_total)
                        for t in qterms)
            kernel = _make_lmjm_run_kernel(
                {t: (float(bag[t]), float(cfs[t])) for t in qterms},
                c_total=c_total, lam=lam, const=const,
                range_width=sidx.range_width, top_k=k,
                deleted=sidx.deleted_bc())
        else:
            n_docs = float(sidx.n_docs)
            kernel = _make_pl2_run_kernel(
                {t: (float(bag[t]), cfs[t] / n_docs) for t in qterms},
                avg_dl=float(sidx.avg_doc_len), c=pl2_c,
                range_width=sidx.range_width, top_k=k,
                deleted=sidx.deleted_bc())
        scored = hits.groupBy("run").applyInPandas(kernel, SCORE_SCHEMA)
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    dfs = df_override if df_override is not None else sidx.df_of(terms)
    weights, q_norm = compute_query_weights(bag, dfs, sidx.n_docs, mode)

    buckets = sorted({storage.term_bucket_py(t, sidx.n_buckets) for t in terms})
    hits = sidx.segments.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    )

    # BM25-shaped variants (query.py parity): delta defaults per mode;
    # the WAND/MaxScore skylines are bm25-specific, so the variants run
    # the exhaustive kernel (still run-local top-k, same plan shape)
    if delta is None:
        delta = {"bm25plus": 1.0, "bm25l": 0.5}.get(mode, 0.0)
    if mode == "pivoted":
        # pivoted's kernel reads the slope through the b slot; default
        # here MUST track query.py::search_pivoted (slope=0.2), not
        # BM25's b=0.75 — parity holds for default calls on both paths
        b = slope
    if mode in ("bm25plus", "bm25l", "pivoted") and strategy in (
            "wand", "maxscore"):
        raise ValueError(
            f"strategy={strategy!r} bounds are bm25-specific; "
            f"mode={mode!r} runs exhaustive")

    kernel_args = dict(mode=mode, n_docs=sidx.n_docs, avg_dl=sidx.avg_doc_len,
                       k1=k1, b=b, range_width=sidx.range_width,
                       deleted=sidx.deleted_bc(), delta=delta)

    if strategy == "auto" and mode in ("bm25plus", "bm25l", "pivoted"):
        strategy = "exhaustive"
    if not k and strategy in ("auto", "wand", "maxscore"):
        # k=0 is the emit-all mode: there is no k-th score, hence no
        # pruning threshold — the WAND/MaxScore kernels would deref an
        # empty heap.  Degrade to the semantically identical exhaustive
        # scan instead of crashing executor-side.
        strategy = "exhaustive"
    if strategy == "auto":
        # wand runs the same single-job plan as exhaustive (one shuffle
        # on run, one Python pass) plus a cheap numpy metadata pass per
        # run, so it is the default whenever pruning can engage at all
        # (multi-run indexes); single-run indexes have nothing to skip.
        n_runs_max = sidx.n_docs // sidx.range_width + 1
        strategy = "wand" if n_runs_max > 1 else "exhaustive"

    if mode in ("bm25", "bm25plus", "bm25l", "pivoted"):
        if strategy in ("wand", "maxscore"):
            counters = prune_counters or {}
            make = (_make_wand_partition_kernel if strategy == "wand"
                    else _make_maxscore_partition_kernel)
            extra = ({} if strategy == "wand"
                     else {"acc_nonessential":
                           counters.get("nonessential")})
            kernel = make(
                weights, dfs, top_k=k,
                acc_runs_seen=counters.get("runs_seen"),
                acc_runs_pruned=counters.get("runs_pruned"),
                **extra, **kernel_args)
            # same shuffle the exhaustive groupBy(run) pays; sorting
            # within partitions makes runs contiguous for the kernel
            part = hits.repartition("run").sortWithinPartitions("run")
            scored = part.mapInPandas(kernel, SCORE_SCHEMA)
        else:
            kernel = _make_run_kernel(weights, dfs, top_k=k, **kernel_args)
            scored = hits.groupBy("run").applyInPandas(kernel, SCORE_SCHEMA)
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    # cosine modes: exhaustive dots + norms join (J3/W4)
    kernel = _make_run_kernel(weights, dfs, top_k=0, **kernel_args)
    dots = hits.groupBy("run").applyInPandas(kernel, SCORE_SCHEMA)
    norm_col = "norm_w1" if mode == "w1" else "norm_w2"
    scores = dots.join(sidx.norms.select("doc_id", norm_col), "doc_id").select(
        "doc_id",
        F.when((F.col(norm_col) > 0) & (F.lit(q_norm) > 0),
               F.col("score") / F.col(norm_col) / F.lit(q_norm))
        .otherwise(F.lit(0.0)).alias("score"),
    )
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
