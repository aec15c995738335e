"""jobs/ entry points run in-process (--local-cpus), covering the
--from-html extraction path and the packaging helper's determinism."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from ir_spark.fixtures import generate_pages, pages_to_parquet

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_build_from_html_and_query(tmp_path, capsys):
    """--from-html re-derives text from the html payload with the
    reference extraction; index must equal the text-column build."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_index
    import query_index

    pages = generate_pages(150, seed=11)
    src = str(tmp_path / "pages.parquet")
    pages_to_parquet(pages, src)

    idx_html = str(tmp_path / "idx_html")
    idx_text = str(tmp_path / "idx_text")
    for idx, extra in ((idx_html, ["--from-html"]), (idx_text, [])):
        rc = build_index.main([
            "--input", src, "--index-dir", idx, "--segment-groups", "1",
            "--local-cpus", "8"] + extra)
        assert rc == 0
    capsys.readouterr()

    qfile = tmp_path / "q.txt"
    qfile.write_text("flow pressure boundary layer\n")
    out_html = str(tmp_path / "res_html")
    out_text = str(tmp_path / "res_text")
    for idx, out in ((idx_html, out_html), (idx_text, out_text)):
        rc = query_index.main([
            "--index-dir", idx, "--queries", str(qfile), "--k", "5",
            "--output", out, "--local-cpus", "8"])
        assert rc == 0
    capsys.readouterr()

    from ir_spark.session import get_spark

    spark = get_spark("test_jobs")
    rows_html = sorted(
        (r["rank"], r["doc_id"], round(r["score"], 9))
        for r in spark.read.parquet(out_html).collect())
    rows_text = sorted(
        (r["rank"], r["doc_id"], round(r["score"], 9))
        for r in spark.read.parquet(out_text).collect())
    assert rows_html == rows_text
    assert len(rows_html) == 5


def test_query_job_empty_queries_file_errors(tmp_path):
    """An empty --queries file must die with a clean argparse error,
    not an IndexError in --serve warm-up (r5 ADVICE)."""
    import pytest

    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import query_index

    qfile = tmp_path / "empty.txt"
    qfile.write_text("  \n\n")
    with pytest.raises(SystemExit):
        query_index.main([
            "--index-dir", str(tmp_path / "nonexistent"),
            "--queries", str(qfile)])


def test_package_pyfiles_deterministic(tmp_path):
    script = os.path.join(REPO, "jobs", "package_pyfiles.py")
    z1, z2 = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    for z in (z1, z2):
        subprocess.run([sys.executable, script, "--out", z],
                       check=True, capture_output=True)
    assert open(z1, "rb").read() == open(z2, "rb").read()


def test_merge_index_job(tmp_path, capsys):
    """jobs/merge_index.py merges two builds; querying the merged index
    equals querying a full build of the union."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_index
    import merge_index
    import query_index

    pages = generate_pages(120, seed=13)
    src_a = str(tmp_path / "a.parquet")
    src_b = str(tmp_path / "b.parquet")
    src_all = str(tmp_path / "all.parquet")
    pages_to_parquet(pages[:60], src_a)
    pages_to_parquet(pages[60:], src_b)
    pages_to_parquet(pages, src_all)

    dirs = {k: str(tmp_path / k) for k in ("ia", "ib", "ifull", "im")}
    for src, idx in ((src_a, dirs["ia"]), (src_b, dirs["ib"]),
                     (src_all, dirs["ifull"])):
        assert build_index.main([
            "--input", src, "--index-dir", idx, "--segment-groups", "1",
            "--local-cpus", "8"]) == 0
    capsys.readouterr()

    assert merge_index.main([
        "--sources", dirs["ia"], dirs["ib"], "--out", dirs["im"],
        "--local-cpus", "8"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["metrics"]["n_docs"] == 120

    qfile = tmp_path / "q.txt"
    qfile.write_text("flow pressure boundary layer\n")
    results = {}
    for idx in ("ifull", "im"):
        dest = str(tmp_path / f"res_{idx}")
        assert query_index.main([
            "--index-dir", dirs[idx], "--queries", str(qfile), "--k", "5",
            "--output", dest, "--local-cpus", "8"]) == 0
        from ir_spark.session import get_spark

        spark = get_spark("test_jobs")
        doc_map = spark.read.parquet(os.path.join(dirs[idx], "doc_map"))
        res = spark.read.parquet(dest).join(doc_map, "doc_id")
        results[idx] = sorted(
            (r["rank"], r["url"], round(r["score"], 9))
            for r in res.collect())
    capsys.readouterr()
    assert results["ifull"] == results["im"]
    assert len(results["im"]) == 5


def test_query_job_batch_maxscore_qld_agree(tmp_path, capsys):
    """The CLI's --batch fused pass, --strategy maxscore, and per-query
    default must produce identical result files; so must --mode qld
    per query, through --batch and through --serve."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_index
    import query_index

    pages = generate_pages(200, seed=13)
    src = str(tmp_path / "pages.parquet")
    pages_to_parquet(pages, src)
    idx = str(tmp_path / "idx")
    assert build_index.main([
        "--input", src, "--index-dir", idx, "--segment-groups", "1",
        "--local-cpus", "8"]) == 0
    qfile = tmp_path / "q.txt"
    qfile.write_text("flow pressure boundary layer\nsupersonic wind\n")

    outs = {}
    for tag, extra in (("plain", []), ("batch", ["--batch"]),
                       ("maxscore", ["--strategy", "maxscore"])):
        out = str(tmp_path / f"res_{tag}")
        assert query_index.main([
            "--index-dir", idx, "--queries", str(qfile), "--k", "5",
            "--output", out, "--local-cpus", "8"] + extra) == 0
        outs[tag] = out
    capsys.readouterr()

    from ir_spark.session import get_spark

    spark = get_spark("test_jobs")
    got = {
        tag: sorted((r["query_id"], r["rank"], r["doc_id"],
                     round(r["score"], 9))
                    for r in spark.read.parquet(out).collect())
        for tag, out in outs.items()
    }
    assert got["plain"] == got["batch"] == got["maxscore"]
    assert len(got["plain"]) == 10

    # --mode qld, per query, through the fused --batch pass and through
    # the micro-batching server
    for tag, extra in (("qld", ["--mode", "qld"]),
                       ("batch_qld", ["--batch", "--mode", "qld"]),
                       ("serve_qld", ["--serve", "2", "--mode", "qld"])):
        out = str(tmp_path / f"res_{tag}")
        assert query_index.main([
            "--index-dir", idx, "--queries", str(qfile), "--k", "5",
            "--output", out, "--local-cpus", "8"] + extra) == 0
        capsys.readouterr()
        got[tag] = sorted((r["query_id"], r["rank"], r["doc_id"],
                           r["score"])
                          for r in spark.read.parquet(out).collect())
    assert got["batch_qld"] == got["serve_qld"] == got["qld"]
    assert len(got["qld"]) == 10

    # --serve (micro-batching server, 4 client threads) must write the
    # identical result set to the per-query path
    out_srv = str(tmp_path / "res_serve")
    assert query_index.main([
        "--index-dir", idx, "--queries", str(qfile), "--k", "5",
        "--serve", "4", "--output", out_srv, "--local-cpus", "8"]) == 0
    capsys.readouterr()
    got_srv = sorted((r["query_id"], r["rank"], r["doc_id"],
                      round(r["score"], 9))
                     for r in spark.read.parquet(out_srv).collect())
    assert got_srv == got["plain"]


def test_admin_job_delete_compact_snapshots(tmp_path, capsys):
    """admin_index.py lifecycle: delete tombstones -> queries drop the
    docs; compact applies them; snapshots/stats report JSON."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import admin_index
    import build_index
    import query_index

    pages = generate_pages(120, seed=17)
    src = str(tmp_path / "pages.parquet")
    pages_to_parquet(pages, src)
    idx = str(tmp_path / "idx")
    assert build_index.main([
        "--input", src, "--index-dir", idx, "--segment-groups", "1",
        "--local-cpus", "8"]) == 0
    qfile = tmp_path / "q.txt"
    qfile.write_text("flow pressure boundary layer\n")
    out1 = str(tmp_path / "res1")
    assert query_index.main([
        "--index-dir", idx, "--queries", str(qfile), "--k", "3",
        "--output", out1, "--local-cpus", "8"]) == 0
    capsys.readouterr()

    from ir_spark.session import get_spark

    spark = get_spark("test_jobs")
    top = spark.read.parquet(out1).orderBy("rank").collect()
    doc_map = spark.read.parquet(os.path.join(idx, "doc_map"))
    kill_url = doc_map.filter(
        doc_map.doc_id == top[0]["doc_id"]).collect()[0]["url"]
    ufile = tmp_path / "urls.txt"
    ufile.write_text(kill_url + "\n")
    assert admin_index.main([
        "delete", "--index-dir", idx, "--urls", str(ufile),
        "--local-cpus", "8"]) == 0
    deleted = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert deleted["n_new"] == 1

    out2 = str(tmp_path / "res2")
    assert query_index.main([
        "--index-dir", idx, "--queries", str(qfile), "--k", "3",
        "--output", out2, "--local-cpus", "8"]) == 0
    capsys.readouterr()
    got2 = [r["doc_id"] for r in
            spark.read.parquet(out2).orderBy("rank").collect()]
    assert top[0]["doc_id"] not in got2

    assert admin_index.main(["compact", "--index-dir", idx,
                             "--local-cpus", "8"]) == 0
    capsys.readouterr()
    out3 = str(tmp_path / "res3")
    assert query_index.main([
        "--index-dir", idx, "--queries", str(qfile), "--k", "3",
        "--output", out3, "--local-cpus", "8"]) == 0
    capsys.readouterr()
    got3 = [r["doc_id"] for r in
            spark.read.parquet(out3).orderBy("rank").collect()]
    assert got3 == got2  # compaction result-identical, tombstones applied

    assert admin_index.main(["stats", "--index-dir", idx]) == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["tombstones"].get("n_total") == 0  # cleared by compact
    assert admin_index.main(["snapshots", "--index-dir", idx]) == 0
    snaps = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert snaps["n_snapshots"] == 0  # batch build; none committed


# --- WARC source (round 3) -----------------------------------------------------


def test_read_warc_spark_roundtrip(spark, tmp_path):
    from ir_spark.sources.warc import read_warc, synth_warc

    recs_a = [(f"https://a.example/{i}", f"2024-01-0{i+1}T0{i}:00:00Z",
               f"<html>doc {i}</html>".encode()) for i in range(3)]
    recs_b = [("https://b.example/9", "2024-02-03T04:05:06Z",
               "<html>tëxt</html>".encode())]
    (tmp_path / "part-0.warc").write_bytes(synth_warc(recs_a))
    (tmp_path / "part-1.warc.gz").write_bytes(
        synth_warc(recs_b, gzip_file=True))
    got = {r["url"]: (r["warc_ts"], bytes(r["html"]))
           for r in read_warc(spark, str(tmp_path)).collect()}
    assert len(got) == 4
    for url, ts, html in recs_a + recs_b:
        gts, ghtml = got[url]
        assert ghtml == html
        assert gts.strftime("%Y-%m-%dT%H:%M:%SZ") == ts


def test_warc_to_index_end_to_end(spark, tmp_path):
    """The Common-Crawl shape: WARC files -> read_warc -> html text
    extraction -> searchable index, same results as the direct path."""
    from pyspark.sql import functions as F

    from ir_spark.operators.build import build_dataframe_index
    from ir_spark.operators.query import search
    from ir_spark.sources.warc import read_warc, synth_warc

    pages = [("https://h.example/a", "2024-01-01T00:00:00Z",
              b"<html><body>spark index engine</body></html>"),
             ("https://h.example/b", "2024-01-01T01:00:00Z",
              b"<html><body>spark query engine fast</body></html>")]
    (tmp_path / "crawl.warc").write_bytes(synth_warc(pages))
    docs = (read_warc(spark, str(tmp_path))
            .select("url", F.decode("html", "utf-8").alias("raw")))
    from ir_spark.functions.tokenize import extract_text_udf

    docs = docs.select("url", extract_text_udf(F.col("raw")).alias("text"))
    idx = build_dataframe_index(docs)
    hits = search(spark, idx, "fast query", k=2, mode="bm25").collect()
    assert len(hits) >= 1


def test_crawl_plan_job(tmp_path, capsys):
    """crawl_plan CLI: robots gating + politeness waves + revisit
    stats land in one fetch-plan parquet."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import crawl_plan

    from ir_spark.session import get_spark

    spark = get_spark("test_crawl_plan")
    urls = spark.createDataFrame(
        [("https://a.example/private/x", 5),
         ("https://a.example/ok/1", 9),
         ("https://a.example/ok/2", 3),
         ("https://b.example/anything", 1)],
        "url string, priority long")
    robots = spark.createDataFrame(
        [("a.example", "User-agent: *\nDisallow: /private\n")],
        "host string, robots_txt string")
    caps = spark.createDataFrame(
        [("https://a.example/ok/1", 1, "h1"),
         ("https://a.example/ok/1", 2, "h2")],
        "url string, ts long, content_md5 string")
    src_u, src_r, src_c = (str(tmp_path / n) for n in ("u", "r", "c"))
    urls.write.parquet(src_u)
    robots.write.parquet(src_r)
    caps.write.parquet(src_c)

    out = str(tmp_path / "plan")
    rc = crawl_plan.main([
        "--urls", src_u, "--robots", src_r, "--captures", src_c,
        "--output", out, "--delay-ms", "500", "--local-cpus", "4"])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (report["n_urls"], report["n_blocked"]) == (4, 1)

    plan = {r.url: r for r in spark.read.parquet(out).collect()}
    assert plan["https://a.example/private/x"].allowed == 0
    assert plan["https://a.example/ok/1"].host_rank == 1
    assert plan["https://a.example/ok/2"].eta_ms == 500
    assert plan["https://b.example/anything"].allowed == 1
    assert plan["https://a.example/ok/1"].n_changes == 1


def test_curate_block_hosts_stage(tmp_path, capsys):
    """--block-hosts drops every doc of a host failing the profile
    thresholds (duplicate mill here), leaving other hosts intact."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import curate_corpus

    from ir_spark.session import get_spark

    spark = get_spark("test_block_hosts")
    rows = []
    for i in range(12):  # spam mill: identical text
        rows.append((i, "copy of the very same spam page text here",
                     "en", "mill.example"))
    for i in range(12, 24):  # healthy host: distinct long docs
        rows.append((i, f"article number {i} with plenty of distinct "
                        f"words in the body {i * 7}", "en", "ok.example"))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    out = str(tmp_path / "curated")
    rc = curate_corpus.main([
        "--input", src, "--output", out, "--block-hosts",
        "--host-max-dup-frac", "0.5", "--local-cpus", "4"])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["n_blocked_hosts"] == 1
    kept = spark.read.parquet(out)
    hosts = {r.source for r in kept.select("source").distinct().collect()}
    assert hosts == {"ok.example"}


def test_query_job_trec_run_file(tmp_path, capsys):
    """--trec-run writes the standard 6-column interchange format in
    rank order with the engine's external doc names."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_index
    import query_index

    pages = generate_pages(150, seed=11)
    src = str(tmp_path / "pages.parquet")
    pages_to_parquet(pages, src)
    idx = str(tmp_path / "idx")
    assert build_index.main([
        "--input", src, "--index-dir", idx, "--segment-groups", "1",
        "--local-cpus", "8"]) == 0
    qfile = tmp_path / "q.txt"
    qfile.write_text("flow pressure boundary layer\nheat transfer\n")
    run = tmp_path / "run.txt"
    assert query_index.main([
        "--index-dir", idx, "--queries", str(qfile), "--k", "5",
        "--trec-run", str(run), "--run-tag", "myrun",
        "--local-cpus", "8"]) == 0
    capsys.readouterr()

    lines = run.read_text().strip().splitlines()
    assert len(lines) == 10
    prev = {}
    for ln in lines:
        qid, q0, docno, rank, score, tag = ln.split()
        assert q0 == "Q0" and tag == "myrun"
        assert docno.startswith("http")  # doc_map urls used as docnos
        if qid in prev:
            p_rank, p_score = prev[qid]
            assert int(rank) == p_rank + 1
            assert float(score) <= p_score + 1e-9
        prev[qid] = (int(rank), float(score))
    assert {ln.split()[0] for ln in lines} == {"1", "2"}


def test_sharded_query_job(tmp_path, capsys):
    """jobs/query_index.py --shards: federated retrieval over two shard
    indexes equals querying a full build of the union (url-keyed)."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_index
    import query_index

    pages = generate_pages(120, seed=13)
    src_a = str(tmp_path / "a.parquet")
    src_b = str(tmp_path / "b.parquet")
    src_all = str(tmp_path / "all.parquet")
    pages_to_parquet(pages[:40], src_a)       # uneven on purpose
    pages_to_parquet(pages[40:], src_b)
    pages_to_parquet(pages, src_all)
    dirs = {k: str(tmp_path / k) for k in ("sa", "sb", "sfull")}
    for src, idx in ((src_a, dirs["sa"]), (src_b, dirs["sb"]),
                     (src_all, dirs["sfull"])):
        assert build_index.main([
            "--input", src, "--index-dir", idx, "--segment-groups", "1",
            "--local-cpus", "8"]) == 0
    capsys.readouterr()

    qfile = tmp_path / "q.txt"
    qfile.write_text("flow pressure boundary layer\n")
    dest_sh = str(tmp_path / "res_sharded")
    assert query_index.main([
        "--shards", f"{dirs['sa']},{dirs['sb']}", "--queries", str(qfile),
        "--k", "5", "--output", dest_sh, "--local-cpus", "8"]) == 0
    dest_full = str(tmp_path / "res_full")
    assert query_index.main([
        "--index-dir", dirs["sfull"], "--queries", str(qfile), "--k", "5",
        "--output", dest_full, "--local-cpus", "8"]) == 0
    capsys.readouterr()

    from ir_spark.session import get_spark

    spark = get_spark("test_jobs")
    sharded = sorted(
        (r["rank"], r["url"], round(r["score"], 9))
        for r in spark.read.parquet(dest_sh).collect())
    doc_map = spark.read.parquet(os.path.join(dirs["sfull"], "doc_map"))
    full = sorted(
        (r["rank"], r["url"], round(r["score"], 9))
        for r in spark.read.parquet(dest_full)
        .join(doc_map, "doc_id").collect())
    assert sharded and sharded == full

    # --prune: shard-skipping arm must return the identical run
    dest_pr = str(tmp_path / "res_pruned")
    assert query_index.main([
        "--shards", f"{dirs['sa']},{dirs['sb']}", "--queries", str(qfile),
        "--k", "5", "--prune", "--output", dest_pr,
        "--local-cpus", "8"]) == 0
    capsys.readouterr()
    pruned = sorted(
        (r["rank"], r["url"], round(r["score"], 9))
        for r in spark.read.parquet(dest_pr).collect())
    assert pruned == full

    # --prune bounds are BM25 ceilings: other modes must be rejected
    with pytest.raises(SystemExit):
        query_index.main([
            "--shards", dirs["sa"], "--queries", str(qfile), "--prune",
            "--mode", "w1", "--local-cpus", "8"])

    # option validation: --shards excludes the single-index extras
    with pytest.raises(SystemExit):
        query_index.main([
            "--shards", dirs["sa"], "--queries", str(qfile), "--batch",
            "--local-cpus", "8"])
    with pytest.raises(SystemExit):
        query_index.main(["--queries", str(qfile), "--local-cpus", "8"])


def test_positional_serving_cli(tmp_path, capsys):
    """build_index --positions-dir + query_index --phrase / --span-near /
    --mode sdm: the CLI serves the positional surface end-to-end, with
    results equal to the operators run directly."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import build_index
    import query_index

    pages = generate_pages(120, seed=13)
    src = str(tmp_path / "pages.parquet")
    pages_to_parquet(pages, src)
    idx = str(tmp_path / "idx")
    pos = str(tmp_path / "pos")
    assert build_index.main([
        "--input", src, "--index-dir", idx, "--positions-dir", pos,
        "--segment-groups", "1", "--local-cpus", "8"]) == 0
    capsys.readouterr()

    from ir_spark.session import get_spark
    spark = get_spark("test_jobs_pos")

    # pick a phrase that actually occurs: first two indexable tokens of
    # some doc
    from ir_spark.text import STOPWORDS, tokenize
    toks = [t for t in tokenize(pages[0].text) if t not in STOPWORDS]
    phrase = " ".join(toks[:2])
    qfile = tmp_path / "q.txt"
    qfile.write_text(phrase + "\n")

    out_ph = str(tmp_path / "out_phrase")
    assert query_index.main([
        "--index-dir", idx, "--queries", str(qfile), "--k", "5",
        "--positions-dir", pos, "--phrase",
        "--output", out_ph, "--local-cpus", "8"]) == 0
    capsys.readouterr()
    ph_rows = spark.read.parquet(out_ph).collect()
    assert len(ph_rows) >= 1
    from ir_spark.operators.positions import (phrase_search,
                                              read_positional_store,
                                              span_near_search)
    rel = read_positional_store(spark, pos, sorted(set(phrase.split())))
    want = {r["doc_id"]: r["phrase_tf"]
            for r in phrase_search(rel, phrase.split()).collect()}
    for r in ph_rows:
        assert want[r["doc_id"]] == r["score"]

    out_sp = str(tmp_path / "out_span")
    assert query_index.main([
        "--index-dir", idx, "--queries", str(qfile), "--k", "5",
        "--positions-dir", pos, "--span-near", "--slop", "6",
        "--unordered", "--output", out_sp, "--local-cpus", "8"]) == 0
    capsys.readouterr()
    sp_rows = spark.read.parquet(out_sp).collect()
    want_sp = {r["doc_id"]: r["min_span"] for r in span_near_search(
        rel, phrase.split(), 6, ordered=False).collect()}
    assert len(sp_rows) >= 1
    for r in sp_rows:
        assert want_sp[r["doc_id"]] == r["score"]

    # SDM over the segment index + store == SDM over the operators
    out_sdm = str(tmp_path / "out_sdm")
    q2 = " ".join(toks[:3])
    qfile.write_text(q2 + "\n")
    assert query_index.main([
        "--index-dir", idx, "--queries", str(qfile), "--k", "5",
        "--positions-dir", pos, "--mode", "sdm",
        "--output", out_sdm, "--local-cpus", "8"]) == 0
    capsys.readouterr()
    got = [(r["rank"], r["doc_id"], round(r["score"], 9))
           for r in spark.read.parquet(out_sdm).collect()]
    from ir_spark.operators.sdm import search_sdm
    from ir_spark.operators.segment_query import SegmentIndex
    sidx = SegmentIndex.load(spark, idx)
    rel2 = read_positional_store(spark, pos, sorted(set(q2.split())))
    want_sdm = [(i + 1, r["doc_id"], round(r["score"], 9))
                for i, r in enumerate(
                    search_sdm(spark, sidx, rel2, q2, k=5).collect())]
    assert sorted(got) == sorted(want_sdm)


def test_admin_job_maintain_tiered(tmp_path, capsys):
    """admin_index.py maintain: one tiered pass over a streamed index
    merges the small per-batch groups; queries stay value-identical."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import admin_index
    import query_index

    from ir_spark.session import get_spark
    from ir_spark.streaming.incremental import update_segment_index

    spark = get_spark("test_jobs")
    pages = generate_pages(150, seed=23)
    idx = str(tmp_path / "idx")
    for i in range(3):
        src = str(tmp_path / f"b{i}.parquet")
        pages_to_parquet(pages[i * 50:(i + 1) * 50], src)
        update_segment_index(spark, spark.read.parquet(src), idx,
                             batch_tag=f"b{i}")
    qfile = tmp_path / "q.txt"
    qfile.write_text("flow pressure boundary layer\n")
    out1 = str(tmp_path / "res1")
    assert query_index.main([
        "--index-dir", idx, "--queries", str(qfile), "--k", "5",
        "--output", out1, "--local-cpus", "8"]) == 0
    capsys.readouterr()
    before = [(r["rank"], r["doc_id"]) for r in
              spark.read.parquet(out1).orderBy("rank").collect()]

    assert admin_index.main([
        "maintain", "--index-dir", idx, "--segs-per-tier", "2",
        "--floor-kb", str(1 << 20), "--local-cpus", "8"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_merges"] == 1
    assert rep["merges"][0]["n_groups_after"] == 1

    out2 = str(tmp_path / "res2")
    assert query_index.main([
        "--index-dir", idx, "--queries", str(qfile), "--k", "5",
        "--output", out2, "--local-cpus", "8"]) == 0
    capsys.readouterr()
    after = [(r["rank"], r["doc_id"]) for r in
             spark.read.parquet(out2).orderBy("rank").collect()]
    assert after == before


def test_warc_write_read_roundtrip(tmp_path):
    """write_warc is read_warc's inverse: documents -> WARC files ->
    documents, url/ts/html byte-identical; gzip variant too."""
    from ir_spark.session import get_spark
    from ir_spark.sources.warc import read_warc, write_warc

    spark = get_spark("test_jobs")
    pages = generate_pages(60, seed=31)
    src = str(tmp_path / "docs.parquet")
    pages_to_parquet(pages, src)
    docs = spark.read.parquet(src).select("url", "warc_ts", "html")
    want = sorted((r["url"], r["warc_ts"], bytes(r["html"]))
                  for r in docs.collect())

    for gz in (False, True):
        out = str(tmp_path / ("warc_gz" if gz else "warc_plain"))
        m = write_warc(docs.repartition(4), out, gzip_files=gz)
        assert m["n_records"] == 60 and 1 <= m["n_files"] <= 4
        ext = ".warc.gz" if gz else ".warc"
        assert all(f.endswith(ext) for f in os.listdir(out))
        got = sorted((r["url"], r["warc_ts"], bytes(r["html"]))
                     for r in read_warc(spark, out).collect())
        assert got == want

    # deterministic export layout: range-partition + sort -> same file
    # assignment and in-file order across runs
    part = docs.repartitionByRange(2, "url").sortWithinPartitions("url")
    o1, o2 = str(tmp_path / "det1"), str(tmp_path / "det2")
    write_warc(part, o1)
    write_warc(part, o2)
    b1 = {f: (tmp_path / "det1" / f).read_bytes()
          for f in os.listdir(o1)}
    b2 = {f: (tmp_path / "det2" / f).read_bytes()
          for f in os.listdir(o2)}
    assert b1 == b2


def test_admin_expire_snapshots_cli(tmp_path, capsys):
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import admin_index

    from ir_spark.session import get_spark
    from ir_spark.streaming.incremental import update_segment_index

    spark = get_spark("test_jobs")
    pages = generate_pages(60, seed=41)
    idx = str(tmp_path / "idx")
    for i in range(2):
        src = str(tmp_path / f"b{i}.parquet")
        pages_to_parquet(pages[i * 30:(i + 1) * 30], src)
        update_segment_index(spark, spark.read.parquet(src), idx,
                             batch_tag=f"b{i}")
    assert admin_index.main(["expire-snapshots", "--index-dir", idx,
                             "--keep-last", "1"]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep == {"expired": [0], "kept": [1]}


def test_warc_write_guards(tmp_path):
    """Null warc_ts fails loudly; stale files refuse without overwrite."""
    import pytest

    from ir_spark.session import get_spark
    from ir_spark.sources.warc import write_warc

    spark = get_spark("test_jobs")
    pages = generate_pages(10, seed=3)
    src = str(tmp_path / "docs.parquet")
    pages_to_parquet(pages, src)
    docs = spark.read.parquet(src).select("url", "warc_ts", "html")
    out = str(tmp_path / "warc")
    write_warc(docs, out)
    with pytest.raises(ValueError, match="overwrite=True"):
        write_warc(docs, out)
    m = write_warc(docs.repartition(1), out, overwrite=True)
    assert m["n_files"] == 1
    assert len([f for f in os.listdir(out)
                if f.endswith(".warc")]) == 1  # stale parts removed
    from pyspark.sql import functions as F

    nulled = docs.withColumn("warc_ts", F.lit(None).cast("timestamp"))
    with pytest.raises(Exception, match="warc_ts"):
        write_warc(nulled, str(tmp_path / "warc2"))


def test_serving_alias_swap(tmp_path, capsys):
    """alias: atomic pointer flip between two index versions; query CLI
    resolves the alias transparently."""
    sys.path.insert(0, os.path.join(REPO, "jobs"))
    import admin_index
    import build_index
    import query_index

    import pytest

    pages = generate_pages(80, seed=13)
    v1, v2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    for idx, n in ((v1, 40), (v2, 80)):
        src = str(tmp_path / f"src{n}.parquet")
        pages_to_parquet(pages[:n], src)
        assert build_index.main([
            "--input", src, "--index-dir", idx, "--segment-groups", "1",
            "--local-cpus", "8"]) == 0
    alias = str(tmp_path / "serving.alias.json")
    assert admin_index.main(["alias", "--alias", alias, "--set", v1]) == 0
    capsys.readouterr()
    qfile = tmp_path / "q.txt"
    qfile.write_text("flow pressure boundary layer\n")

    def n_docs_via(alias_path, out):
        assert query_index.main([
            "--index-dir", alias_path, "--queries", str(qfile), "--k",
            "50", "--output", out, "--local-cpus", "8"]) == 0
        capsys.readouterr()
        from ir_spark.session import get_spark

        return get_spark("test_jobs").read.parquet(out).count()

    n1 = n_docs_via(alias, str(tmp_path / "r1"))
    assert admin_index.main(["alias", "--alias", alias, "--set", v2]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["previous"] == os.path.abspath(v1)
    n2 = n_docs_via(alias, str(tmp_path / "r2"))
    assert n2 > n1  # the flip is visible: v2 indexes twice the docs

    from ir_spark.sources.storage import resolve_alias, set_alias

    assert resolve_alias(v1) == v1  # non-alias paths pass through
    with pytest.raises(ValueError, match="alias files"):
        set_alias(str(tmp_path / "x.json"), v1)
    with pytest.raises(ValueError, match="not a directory"):
        set_alias(str(tmp_path / "y.alias.json"), str(tmp_path / "nope"))
