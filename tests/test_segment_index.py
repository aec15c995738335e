"""Segment index: build invariants, resume, and query parity incl. WAND
(SURVEY §5.2.3/4/6)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from ir_spark import codec, oracle
from ir_spark.fixtures import EDGE_QUERIES, REFERENCE_QUERIES
from ir_spark.operators import segment_query as SQ
from ir_spark.operators import segments as SEG
from ir_spark.sources import storage

RANGE_WIDTH = 64  # small so the 250-doc corpus spans multiple runs


@pytest.fixture(scope="module")
def index_dir(spark, pages_small, tmp_path_factory):
    path, _ = pages_small
    d = str(tmp_path_factory.mktemp("index"))
    pages = spark.read.parquet(path)
    report = SEG.build_segment_index(
        spark, pages, d, source=path, n_buckets=8, range_width=RANGE_WIDTH,
        segment_groups=2,
    )
    assert not report.stages_skipped
    return d


@pytest.fixture(scope="module")
def sidx(spark, index_dir):
    return SQ.SegmentIndex.load(spark, index_dir)


class TestSegmentBuild:
    def test_segment_invariants(self, spark, sidx, oracle_index):
        rows = sidx.segments.collect()
        # decode every run; reassemble per-term posting lists
        assembled: dict[str, list[tuple[int, int]]] = {}
        for r in rows:
            ids = codec.delta_decode(bytes(r["doc_gaps_vb"]))
            tfs = codec.varbyte_decode(bytes(r["tfs_vb"]))
            dls = codec.varbyte_decode(bytes(r["doc_lens_vb"]))
            assert (np.diff(ids) > 0).all()  # strictly increasing
            assert ids.size == r["run_df"] == tfs.size == dls.size
            assert r["first_doc_id"] == ids[0] and r["last_doc_id"] == ids[-1]
            # run confinement: all ids in [run*W, (run+1)*W)
            assert (ids // RANGE_WIDTH == r["run"]).all()
            # bucket is the md5 bucket of the term
            assert r["bucket"] == storage.term_bucket_py(r["term"], 8)
            # block stats are true bounds
            last, bmax, bmin = codec.block_stats(
                ids, tfs.astype(np.int64),
                codec.varbyte_decode(bytes(r["doc_lens_vb"])).astype(np.int64))
            assert last.tolist() == list(r["block_last_doc_id"])
            assert bmax.tolist() == list(r["block_max_tf"])
            assert bmin.tolist() == list(r["block_min_doc_len"])
            assembled.setdefault(r["term"], []).extend(
                (int(d), int(t)) for d, t in zip(ids, tfs))
        # reassembled lists == oracle posting lists, byte for byte
        assert set(assembled) == set(oracle_index.postings)
        for term, plist in assembled.items():
            assert sorted(plist) == oracle_index.postings[term], term

    def test_manifest_bytes_and_compression(self, index_dir):
        """Every data stage records its on-disk bytes; the codec-level
        compression ratio (varbyte streams vs fixed-width int32, the
        comparison reference stats.md:16-24 publishes) is recorded and
        well under 1."""
        man = storage.read_manifests(index_dir)
        for stage in ("doc_map", "docinfo", "postings", "dictionary",
                      "segments_g0", "segments_g1", "norms"):
            assert man[stage]["metrics"].get("bytes", 0) > 0, stage
        st = man["stats"]["metrics"]
        assert st["segments_bytes"] > 0
        assert st["flat_postings_bytes"] > 0
        assert st["payload_bytes"] > 0
        assert st["raw_fixed_width_bytes"] > st["payload_bytes"], (
            "varbyte streams must beat fixed-width encoding")
        assert st["compression_ratio"] == pytest.approx(
            st["payload_bytes"] / st["raw_fixed_width_bytes"], abs=1e-3)
        assert st["compression_ratio"] < 0.62, (  # reference: -38.3%
            st["compression_ratio"])

    def test_dictionary_df_matches_runs(self, sidx, oracle_index):
        # global df per term == sum of run_df over runs
        run_df = {
            r["term"]: r["s"]
            for r in sidx.segments.groupBy("term").agg(
                __import__("pyspark.sql.functions", fromlist=["sum"]).sum("run_df").alias("s")
            ).collect()
        }
        for term, plist in oracle_index.postings.items():
            assert run_df[term] == len(plist), term


class TestResume:
    def test_resume_skips_committed_and_is_identical(self, spark, pages_small,
                                                     tmp_path_factory):
        path, _ = pages_small
        d = str(tmp_path_factory.mktemp("resume"))
        pages = spark.read.parquet(path)
        kwargs = dict(source=path, n_buckets=4, range_width=RANGE_WIDTH,
                      segment_groups=2)
        # crash right after the first segment group commits
        with pytest.raises(RuntimeError, match="injected failure"):
            SEG.build_segment_index(spark, pages, d,
                                    fail_after_stage="segments_g0", **kwargs)
        manifests = storage.read_manifests(d)
        assert "segments_g0" in manifests and "segments_g1" not in manifests
        # re-run: committed stages skipped, rest completes
        report = SEG.build_segment_index(spark, pages, d, **kwargs)
        assert "segments_g0" in report.stages_skipped
        assert "doc_map" in report.stages_skipped
        assert "segments_g1" in report.stages_run
        # resumed index == fresh index (same postings everywhere)
        fresh = str(tmp_path_factory.mktemp("fresh"))
        SEG.build_segment_index(spark, pages, fresh, **kwargs)
        a = spark.read.parquet(os.path.join(d, "segments")).orderBy(
            "term", "run").collect()
        b = spark.read.parquet(os.path.join(fresh, "segments")).orderBy(
            "term", "run").collect()
        assert [(r["term"], r["run"], bytes(r["doc_gaps_vb"]), bytes(r["tfs_vb"]))
                for r in a] == \
               [(r["term"], r["run"], bytes(r["doc_gaps_vb"]), bytes(r["tfs_vb"]))
                for r in b]

    def test_lineage_change_rebuilds(self, spark, pages_small, tmp_path_factory):
        path, _ = pages_small
        d = str(tmp_path_factory.mktemp("lineage"))
        pages = spark.read.parquet(path)
        SEG.build_segment_index(spark, pages, d, source=path, n_buckets=4,
                                range_width=RANGE_WIDTH, segment_groups=1)
        report = SEG.build_segment_index(spark, pages, d, source=path,
                                         n_buckets=4, range_width=128,
                                         segment_groups=1)
        assert "segments_g0" in report.stages_run  # lineage differs -> rebuilt


MODES = ("bm25", "w1", "w2")


class TestSegmentQueryParity:
    @pytest.mark.parametrize("mode", MODES)
    def test_rank_identical_to_oracle(self, spark, sidx, oracle_index, mode):
        for q in REFERENCE_QUERIES[:8] + EDGE_QUERIES:
            want = oracle.search(oracle_index, q, k=5, mode=mode)
            got = [(r["doc_id"], r["score"]) for r in
                   SQ.search_segments(spark, sidx, q, k=5, mode=mode).collect()]
            assert [d for d, _ in got] == [d for d, _ in want], (mode, q)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9, (mode, q)

    @pytest.mark.parametrize("mode", ("lmjm", "pl2"))
    def test_lm_family_matches_dataframe_engine(self, spark, sidx,
                                                pages_small, mode):
        """The segment kernels for Jelinek-Mercer and PL2 must be
        rank- and score-identical to the DataFrame operators (which
        are themselves brute-force-verified in test_qld.py)."""
        from ir_spark.operators import build as B
        from ir_spark.operators import query as Q

        path, _ = pages_small
        pages = spark.read.parquet(path)
        raw = B.assign_doc_ids(pages)
        docs = pages.join(raw, "url").select("doc_id", "text")
        idx = B.build_dataframe_index(docs)
        for q in REFERENCE_QUERIES[:5] + EDGE_QUERIES:
            if mode == "lmjm":
                want_df = Q.search_lmjm(spark, idx, q, k=5, lam=0.1)
                got_df = SQ.search_segments(spark, sidx, q, k=5,
                                            mode="lmjm", lam=0.1)
            else:
                want_df = Q.search_pl2(spark, idx, q, k=5, c=1.0)
                got_df = SQ.search_segments(spark, sidx, q, k=5,
                                            mode="pl2", pl2_c=1.0)
            want = [(r["doc_id"], r["score"]) for r in want_df.collect()]
            got = [(r["doc_id"], r["score"]) for r in got_df.collect()]
            assert [d for d, _ in got] == [d for d, _ in want], (mode, q)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9, (mode, q)

    @pytest.mark.parametrize("mode", MODES)
    def test_batch_equals_per_query(self, spark, sidx, mode):
        """search_segments_batch scores the whole workload in one pass
        and must be rank- and score-identical (micro-quantized) per
        query to the single-query path — including all-stopword and
        unseen-term queries."""
        qs = list(REFERENCE_QUERIES[:6]) + EDGE_QUERIES
        got: dict[int, list] = {}
        for r in SQ.search_segments_batch(spark, sidx, qs, k=5,
                                          mode=mode).collect():
            got.setdefault(r.query_id, []).append(
                (r.rank, r.doc_id, round(r.score * 1e6)))
        for qid, q in enumerate(qs):
            single = SQ.search_segments(spark, sidx, q, k=5,
                                        mode=mode).collect()
            want = [(i + 1, r.doc_id, round(r.score * 1e6))
                    for i, r in enumerate(single)]
            assert got.get(qid, []) == want, (mode, q)

    def test_wand_equals_exhaustive(self, spark, sidx, oracle_index):
        # pruning must never change results (SURVEY §5.2.4)
        for q in REFERENCE_QUERIES + EDGE_QUERIES:
            ex = [(r["doc_id"], round(r["score"], 9)) for r in
                  SQ.search_segments(spark, sidx, q, k=5, mode="bm25",
                                     strategy="exhaustive").collect()]
            wa = [(r["doc_id"], round(r["score"], 9)) for r in
                  SQ.search_segments(spark, sidx, q, k=5, mode="bm25",
                                     strategy="wand").collect()]
            assert ex == wa, q

    def test_maxscore_equals_exhaustive(self, spark, sidx, oracle_index):
        # BIT-exact, not merely rank-identical: maxscore accumulates
        # candidates in the exhaustive kernel's row order, so the
        # per-doc float addition sequence is the same
        for q in REFERENCE_QUERIES + EDGE_QUERIES:
            ex = [(r["doc_id"], r["score"]) for r in
                  SQ.search_segments(spark, sidx, q, k=5, mode="bm25",
                                     strategy="exhaustive").collect()]
            ms = [(r["doc_id"], r["score"]) for r in
                  SQ.search_segments(spark, sidx, q, k=5, mode="bm25",
                                     strategy="maxscore").collect()]
            assert ex == ms, q


class TestWandManyRuns:
    """Pruning correctness at a run count where it actually engages
    (the small-corpus fixture has only ~4 runs; here ~90)."""

    @pytest.fixture(scope="class")
    def big_index(self, spark, tmp_path_factory):
        from ir_spark.fixtures import generate_pages, pages_to_parquet

        root = tmp_path_factory.mktemp("wand_big")
        src = str(root / "pages.parquet")
        pages_to_parquet(generate_pages(3000, seed=3), src)
        d = str(root / "idx")
        SEG.build_segment_index(
            spark, spark.read.parquet(src), d, source=src,
            n_buckets=8, range_width=32, segment_groups=1)
        return SQ.SegmentIndex.load(spark, d)

    def test_wand_equals_exhaustive_many_runs(self, spark, big_index):
        pruned_something = False
        for q in REFERENCE_QUERIES[:8]:
            ex = [(r["doc_id"], round(r["score"], 9)) for r in
                  SQ.search_segments(spark, big_index, q, k=5, mode="bm25",
                                     strategy="exhaustive").collect()]
            wa = [(r["doc_id"], round(r["score"], 9)) for r in
                  SQ.search_segments(spark, big_index, q, k=5, mode="bm25",
                                     strategy="wand").collect()]
            assert ex == wa, q
        # the executor-side bound check must actually skip runs for
        # selective (short, idf-skewed) queries — long OR-queries'
        # summed bounds legitimately cover every run at this granularity
        pruned_counts = []
        for q in ["flow", "boundary layer", "aeroelastic flutter",
                  "reynolds transonic buckling"]:
            counters = {"runs_seen": spark.sparkContext.accumulator(0),
                        "runs_pruned": spark.sparkContext.accumulator(0)}
            SQ.search_segments(spark, big_index, q, k=5, mode="bm25",
                               strategy="wand",
                               prune_counters=counters).collect()
            pruned_counts.append(
                (q, counters["runs_pruned"].value,
                 counters["runs_seen"].value))
        assert any(seen > 0 for _, _, seen in pruned_counts), pruned_counts
        assert any(dropped > 0 for _, dropped, _ in pruned_counts), (
            f"pruning never engaged: {pruned_counts}")

    def test_maxscore_equals_exhaustive_many_runs(self, spark, big_index):
        for q in REFERENCE_QUERIES[:8]:
            ex = [(r["doc_id"], round(r["score"], 9)) for r in
                  SQ.search_segments(spark, big_index, q, k=5, mode="bm25",
                                     strategy="exhaustive").collect()]
            ms = [(r["doc_id"], round(r["score"], 9)) for r in
                  SQ.search_segments(spark, big_index, q, k=5, mode="bm25",
                                     strategy="maxscore").collect()]
            assert ex == ms, q
        # the essential/non-essential split must actually engage for
        # multi-term queries once the heap fills (theta > 0): at least
        # one term-row should be handled on the candidates-only path
        engaged = []
        for q in ["boundary layer flow", "reynolds transonic buckling",
                  "supersonic wind tunnel measurement"]:
            counters = {
                "runs_seen": spark.sparkContext.accumulator(0),
                "runs_pruned": spark.sparkContext.accumulator(0),
                "nonessential": spark.sparkContext.accumulator(0)}
            SQ.search_segments(spark, big_index, q, k=5, mode="bm25",
                               strategy="maxscore",
                               prune_counters=counters).collect()
            engaged.append((q, counters["nonessential"].value,
                            counters["runs_pruned"].value,
                            counters["runs_seen"].value))
        assert any(ne > 0 for _, ne, _, _ in engaged), (
            f"maxscore split never engaged: {engaged}")

    def test_wand_driver_materialization_is_bounded(self, spark, big_index,
                                                    monkeypatch):
        """The wand path must never collect() per-run metadata: the only
        driver materializations allowed are O(1)-row collects (argmax
        run, final top-k) and the single best-run toPandas (bounded by
        range_width), regardless of run count (VERDICT r01 item 2)."""
        # patch the concrete class: in Spark 4 pyspark.sql.DataFrame is
        # the abstract parent and classic.DataFrame overrides collect
        from pyspark.sql.classic.dataframe import DataFrame

        big_index.df_of(["flow"])  # warm the one-time local-dict memo

        collected: list[int] = []
        orig_collect = DataFrame.collect

        def counting_collect(self):
            rows = orig_collect(self)
            collected.append(len(rows))
            return rows

        monkeypatch.setattr(DataFrame, "collect", counting_collect)
        out = SQ.search_segments(spark, big_index, "boundary layer flow",
                                 k=5, mode="bm25", strategy="wand").collect()
        assert len(out) == 5
        # big_index has ~90 runs; every driver collect must stay far
        # below that (1-row argmax + 5-row final top-k)
        assert max(collected) <= 5, collected


class TestSegmentVariantModes:
    """BM25+/BM25L/pivoted served from the compressed segment index:
    rank-identical and score-equal (<=1e-9) to the DataFrame
    operators, which are brute-force-verified in test_qld.py."""

    @pytest.mark.parametrize("mode", ("bm25plus", "bm25l", "pivoted"))
    def test_variant_matches_dataframe_engine(self, spark, sidx,
                                              pages_small, mode):
        from ir_spark.operators import build as B
        from ir_spark.operators import query as Q

        path, _ = pages_small
        pages = spark.read.parquet(path)
        raw = B.assign_doc_ids(pages)
        docs = pages.join(raw, "url").select("doc_id", "text")
        idx = B.build_dataframe_index(docs)
        for q in REFERENCE_QUERIES[:5] + EDGE_QUERIES:
            if mode == "bm25plus":
                want_df = Q.search_bm25plus(spark, idx, q, k=5, delta=1.0)
                got_df = SQ.search_segments(spark, sidx, q, k=5,
                                            mode="bm25plus")
            elif mode == "bm25l":
                want_df = Q.search_bm25l(spark, idx, q, k=5, delta=0.5)
                got_df = SQ.search_segments(spark, sidx, q, k=5,
                                            mode="bm25l")
            else:
                want_df = Q.search_pivoted(spark, idx, q, k=5, slope=0.2)
                got_df = SQ.search_segments(spark, sidx, q, k=5,
                                            mode="pivoted", b=0.2)
            want = [(r["doc_id"], r["score"]) for r in want_df.collect()]
            got = [(r["doc_id"], r["score"]) for r in got_df.collect()]
            assert [d for d, _ in got] == [d for d, _ in want], (mode, q)
            for (gd, gs), (wd, ws) in zip(got, want):
                assert abs(gs - ws) < 1e-9, (mode, q)

    def test_variant_rejects_bm25_pruning(self, spark, sidx):
        with pytest.raises(ValueError, match="bm25-specific"):
            SQ.search_segments(spark, sidx, REFERENCE_QUERIES[0], k=5,
                               mode="bm25plus", strategy="wand")
        # auto degrades to exhaustive instead of raising
        assert SQ.search_segments(spark, sidx, REFERENCE_QUERIES[0], k=5,
                                  mode="pivoted", b=0.2,
                                  strategy="auto").count() == 5


def test_pivoted_default_slope_parity(spark, sidx, pages_small):
    """Default-argument calls on BOTH engines must agree: the segment
    path reads slope via its own parameter (0.2), not BM25's b."""
    from ir_spark.operators import build as B
    from ir_spark.operators import query as Q

    path, _ = pages_small
    pages = spark.read.parquet(path)
    raw = B.assign_doc_ids(pages)
    docs = pages.join(raw, "url").select("doc_id", "text")
    idx = B.build_dataframe_index(docs)
    q = REFERENCE_QUERIES[0]
    want = [(r["doc_id"], round(r["score"], 9))
            for r in Q.search_pivoted(spark, idx, q, k=5).collect()]
    got = [(r["doc_id"], round(r["score"], 9))
           for r in SQ.search_segments(spark, sidx, q, k=5,
                                       mode="pivoted").collect()]
    assert got == want


def test_schema_segments_matches_writer(spark, tmp_path):
    """schema.SEGMENTS documents the REAL on-disk segment row shape —
    keep it welded to what encode_segments actually writes."""
    from ir_spark import schema as S
    from ir_spark.fixtures import generate_pages
    from ir_spark.operators.segments import build_segment_index

    d = str(tmp_path / "schema_idx")
    pages = spark.createDataFrame(
        [(p.url, p.text) for p in generate_pages(20, seed=11)],
        "url string, text string")
    build_segment_index(spark, pages, d, source="t")
    import os as _os
    written = spark.read.parquet(_os.path.join(d, "segments"))
    assert sorted(f.name for f in S.SEGMENTS.fields) == \
        sorted(written.columns), (
        "schema.SEGMENTS drifted from the writer's real columns")


def test_df_of_first_call_is_one_collect(spark, index_dir, oracle_index,
                                         monkeypatch):
    """The first ``df_of`` on a fresh load pulls the summed dictionary
    with ONE bounded collect (no separate count pass): it runs exactly
    the jobs of one collect of the term aggregate, later calls run
    none, and the answers equal the pushdown path's and the oracle's."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    terms = sorted(oracle_index.postings)[::40] + ["zzqunseenterm"]
    want = {t: oracle_index.df(t) for t in terms
            if t in oracle_index.postings}

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    ref = SQ.SegmentIndex.load(spark, index_dir)
    agg = ref.dictionary.groupBy("term").agg(F.sum("df").alias("df"))
    _, one_collect = jobs_of("df_of_ref", agg.collect)

    sidx = SQ.SegmentIndex.load(spark, index_dir)
    sidx.dictionary  # the handle's schema read is load cost, not df_of's
    got, n_jobs = jobs_of("df_of_first", lambda: sidx.df_of(terms))
    assert (got, n_jobs) == (want, one_collect)
    assert jobs_of("df_of_again", lambda: sidx.df_of(terms)) == (want, 0)

    # a dictionary over the local bound falls back to the pushdown path
    monkeypatch.setattr(SQ.SegmentIndex, "LOCAL_DICT_MAX",
                        len(oracle_index.postings) - 1)
    big = SQ.SegmentIndex.load(spark, index_dir)
    assert big.df_of(terms) == want
    assert big._dfs["local_dict"] is None
