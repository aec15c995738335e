#!/usr/bin/env python
r"""spark-submit entry point: top-k retrieval over a built segment index.

Usage (north-rule deployment path)::

    spark-submit --py-files dist/ir_spark.zip jobs/query_index.py \
        --index-dir /data/index           \
        --queries   queries.txt           \  # one query per line (S5)
        [--k 5] [--mode bm25|w1|w2] [--k1 1.2] [--b 0.75] \
        [--strategy auto|wand|exhaustive] [--stem] \
        [--output /data/results] \           # parquet sink; stdout if absent
        [--render-vectors /tmp/results]      # reference-style text files
        [--documents /data/pages.parquet]    # (url, text) for headlines

Federated serving (document-partitioned shard indexes, global-stats
exchange — operators/shards.py)::

    spark-submit --py-files dist/ir_spark.zip jobs/query_index.py \
        --shards /data/shard0,/data/shard1,... \
        --queries queries.txt [--k 5] [--mode bm25|qld]
        # output keyed by url (doc ids are shard-private)

Output schema: (query_id:int, query:string, rank:int, doc_id:long,
score:double) — deterministic (score desc, doc_id asc) ordering (D8),
mirroring the reference's per-query result files (Driver.java:66-71).

``--render-vectors DIR`` additionally writes one ``<mode>-q<i>.txt``
per query in the reference's format — rank, filename, score, headline
and the query/document sparse vectors (Driver.java:83-105,
SparseVector.java:48-60).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--index-dir", default=None)
    ap.add_argument("--shards", default=None, metavar="DIR,DIR,...",
                    help="federated serving: comma-separated shard "
                         "index dirs searched with a global-statistics "
                         "exchange (operators/shards.py); results are "
                         "keyed by url instead of doc_id; bm25/qld "
                         "only, mutually exclusive with --index-dir/"
                         "--batch/--as-of-grp/--render-vectors/"
                         "--trec-run")
    ap.add_argument("--prune", action="store_true",
                    help="with --shards: safe shard pruning (distributed"
                         " WAND — skyline metadata bounds skip shards "
                         "that cannot contribute; bm25 only, results "
                         "identical)")
    ap.add_argument("--queries", required=True,
                    help="text file, one query per line")
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--mode", default="bm25",
                    choices=["bm25", "w1", "w2", "qld", "lmjm", "pl2",
                             "sdm", "bm25plus", "bm25l", "pivoted"])
    ap.add_argument("--delta", type=float, default=None,
                    help="BM25+/BM25L shift (defaults 1.0 / 0.5)")
    ap.add_argument("--slope", type=float, default=0.2,
                    help="pivoted-normalization slope (--mode pivoted)")
    ap.add_argument("--positions-dir", default=None, metavar="DIR",
                    help="positional store (build_index --positions-dir); "
                         "required for --mode sdm / --phrase / --span-near")
    ap.add_argument("--phrase", action="store_true",
                    help="treat each query line as an EXACT PHRASE: rank "
                         "by (phrase_tf desc, doc_id)")
    ap.add_argument("--span-near", action="store_true",
                    help="treat each query line as span-near clauses: rank "
                         "by (min_span asc, doc_id); see --slop/--unordered")
    ap.add_argument("--slop", type=int, default=4)
    ap.add_argument("--unordered", action="store_true")
    ap.add_argument("--lam", type=float, default=0.1,
                    help="Jelinek-Mercer collection weight (--mode lmjm)")
    ap.add_argument("--pl2-c", type=float, default=1.0,
                    help="PL2 length-normalization c (--mode pl2)")
    ap.add_argument("--mu", type=float, default=1000.0,
                    help="Dirichlet smoothing for --mode qld")
    ap.add_argument("--k1", type=float, default=1.2)
    ap.add_argument("--b", type=float, default=0.75)
    ap.add_argument("--strategy", default="auto",
                    choices=["auto", "wand", "maxscore", "exhaustive"])
    ap.add_argument("--as-of-grp", type=int, default=None, metavar="G",
                    help="time-travel read: query the index as of "
                         "snapshot group G (streamed indexes only)")
    ap.add_argument("--batch", action="store_true",
                    help="score ALL queries in one fused pass "
                         "(search_segments_batch) instead of per-query "
                         "jobs — the offline/bulk path")
    ap.add_argument("--serve", type=int, default=None, metavar="N",
                    help="serving mode: feed the query file through N "
                         "concurrent client threads into the micro-"
                         "batching server (operators/serving.py) — "
                         "per-query results identical to the default "
                         "path, throughput summary on stderr")
    ap.add_argument("--stem", action="store_true")
    ap.add_argument("--output", default=None, help="parquet output path")
    ap.add_argument("--trec-run", default=None, metavar="FILE",
                    help="also write a TREC run file (qid Q0 docno "
                         "rank score tag) for trec_eval/ir-measures")
    ap.add_argument("--run-tag", default="ir_spark")
    ap.add_argument("--render-vectors", default=None, metavar="DIR",
                    help="write reference-style per-query text files "
                         "(<mode>-q<i>.txt) with sparse vectors")
    ap.add_argument("--documents", default=None,
                    help="(url, text) parquet for result headlines")
    ap.add_argument("--local-cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from ir_spark.operators.segment_query import SegmentIndex, search_segments

    if args.local_cpus is not None:
        from ir_spark.session import get_spark

        spark = get_spark("ir_spark_query_index", cpus=args.local_cpus)
    else:
        spark = (
            SparkSession.builder.appName("ir_spark_query_index")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .getOrCreate()
        )

    if args.serve is not None:
        if args.batch or args.phrase or args.span_near \
                or args.render_vectors or args.shards:
            ap.error("--serve is exclusive with --batch/--phrase/"
                     "--span-near/--render-vectors/--shards")
        if args.serve < 1:
            ap.error("--serve needs at least one client thread")
    if (args.batch or args.serve is not None) and args.mode == "sdm":
        ap.error("--batch/--serve score bag-of-words modes; --mode sdm "
                 "reads the positional store per query")
    if args.batch and (args.phrase or args.span_near):
        ap.error("--batch is exclusive with --phrase/--span-near "
                 "(the fused scan has no positional path)")
    if args.batch and args.as_of_grp is not None \
            and args.mode in ("w1", "w2"):
        ap.error("--batch cosine modes are unavailable on --as-of-grp "
                 "views (the norms table is current-view only)")
    if args.render_vectors and args.mode not in ("bm25", "w1", "w2"):
        ap.error("--render-vectors supports bm25/w1/w2 (the render "
                 "path threads no LM/variant parameters)")
    if (args.mode == "sdm" or args.phrase or args.span_near) \
            and not args.positions_dir:
        ap.error("--mode sdm / --phrase / --span-near need --positions-dir")
    if args.phrase and args.span_near:
        ap.error("--phrase and --span-near are exclusive")
    if args.index_dir:
        from ir_spark.sources.storage import resolve_alias

        # zero-downtime serving: --index-dir may be a *.alias.json
        # pointer flipped atomically by admin_index.py alias
        args.index_dir = resolve_alias(args.index_dir)
    if bool(args.index_dir) == bool(args.shards):
        ap.error("exactly one of --index-dir / --shards is required")

    with open(args.queries) as fh:
        queries = [ln.strip() for ln in fh if ln.strip()]
    if not queries:
        ap.error(f"--queries {args.queries} holds no queries "
                 "(empty or whitespace-only)")

    if args.shards:
        if (args.batch or args.as_of_grp is not None
                or args.render_vectors or args.trec_run):
            ap.error("--shards serves plain per-query retrieval only")
        if args.prune and args.mode != "bm25":
            ap.error("--prune requires --mode bm25 (shard bounds are "
                     "BM25 skyline ceilings)")
        from ir_spark.operators.shards import (search_sharded,
                                               search_sharded_pruned)

        shards = [SegmentIndex.load(spark, d.strip())
                  for d in args.shards.split(",") if d.strip()]
        all_rows = []
        for qid, q in enumerate(queries, start=1):
            if args.prune:
                hits = search_sharded_pruned(
                    spark, shards, q, k=args.k, k1=args.k1, b=args.b,
                    stem=args.stem, strategy=args.strategy).collect()
            else:
                hits = search_sharded(
                    spark, shards, q, k=args.k, mode=args.mode, k1=args.k1,
                    b=args.b, stem=args.stem, strategy=args.strategy,
                    mu=args.mu, lam=args.lam, pl2_c=args.pl2_c).collect()
            for rank, row in enumerate(hits, start=1):
                all_rows.append((qid, q, rank, row["url"],
                                 float(row["score"])))
        schema = ("query_id int, query string, rank int, url string, "
                  "score double")
        results = spark.createDataFrame(all_rows, schema)
        if args.output:
            results.coalesce(1).write.mode("overwrite").parquet(args.output)
            print(json.dumps({"output": args.output,
                              "n_queries": len(queries),
                              "n_rows": len(all_rows)}))
        else:
            for r in all_rows:
                print(json.dumps({"query_id": r[0], "query": r[1],
                                  "rank": r[2], "url": r[3],
                                  "score": r[4]}))
        return 0

    sidx = SegmentIndex.load(spark, args.index_dir,
                             as_of_grp=args.as_of_grp)
    all_rows = []
    score_kw = dict(k=args.k, mode=args.mode, k1=args.k1, b=args.b,
                    stem=args.stem, mu=args.mu, lam=args.lam,
                    pl2_c=args.pl2_c, delta=args.delta, slope=args.slope)
    if args.batch:
        from ir_spark.operators.segment_query import search_segments_batch

        got = search_segments_batch(spark, sidx, queries,
                                    **score_kw).collect()
        by_q = {}
        for row in got:
            by_q.setdefault(int(row["query_id"]), []).append(row)
        for qid0, q in enumerate(queries):
            for row in sorted(by_q.get(qid0, []), key=lambda r: r["rank"]):
                all_rows.append((qid0 + 1, q, int(row["rank"]),
                                 int(row["doc_id"]), float(row["score"])))
    elif args.serve is not None:
        # serving mode: N closed-loop client threads through the
        # dynamic-batching server; results identical to the per-query
        # path (PLANS.md §53), q/s summary on stderr
        import time
        from concurrent.futures import ThreadPoolExecutor

        from ir_spark.operators.serving import MicroBatchServer

        srv = MicroBatchServer(spark, sidx, **score_kw)
        try:
            srv.submit(queries[0]).result()  # warm (untimed)
            t0 = time.time()
            with ThreadPoolExecutor(args.serve) as ex:
                per_query = list(ex.map(
                    lambda q: srv.submit(q).result(), queries))
            wall = time.time() - t0
        finally:
            srv.close()
        for qid, (q, rows) in enumerate(zip(queries, per_query), start=1):
            for rank, doc_id, score in rows:
                all_rows.append((qid, q, rank, doc_id, score))
        print(json.dumps({"serve_clients": args.serve,
                          "n_queries": len(queries),
                          "wall_sec": round(wall, 3),
                          "queries_per_sec": round(len(queries) / wall, 2)}),
              file=sys.stderr)
    elif args.phrase or args.span_near:
        from pyspark.sql import functions as F

        from ir_spark.operators.positions import (phrase_search,
                                                  read_positional_store,
                                                  span_near_search)
        from ir_spark.text import tokenize

        for qid, q in enumerate(queries, start=1):
            terms = tokenize(q, stem=args.stem)
            if len(terms) < (1 if args.phrase else 2):
                continue
            rel = read_positional_store(spark, args.positions_dir,
                                        sorted(set(terms)))
            if args.phrase:
                hits = (phrase_search(rel, terms)
                        .orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
                        .limit(args.k).collect())
                rows = [(int(r["doc_id"]), float(r["phrase_tf"]))
                        for r in hits]
            else:
                hits = (span_near_search(rel, terms, args.slop,
                                         ordered=not args.unordered)
                        .orderBy(F.asc("min_span"), F.asc("doc_id"))
                        .limit(args.k).collect())
                rows = [(int(r["doc_id"]), float(r["min_span"]))
                        for r in hits]
            for rank, (doc_id, score) in enumerate(rows, start=1):
                all_rows.append((qid, q, rank, doc_id, score))
    elif args.mode == "sdm":
        from ir_spark.operators.positions import read_positional_store
        from ir_spark.operators.sdm import search_sdm
        from ir_spark.text import STOPWORDS, tokenize

        for qid, q in enumerate(queries, start=1):
            terms = sorted(set(t for t in tokenize(q, stem=args.stem)
                               if t not in STOPWORDS))
            if not terms:
                continue
            rel = read_positional_store(spark, args.positions_dir, terms)
            hits = search_sdm(spark, sidx, rel, q, k=args.k, mu=args.mu,
                              stem=args.stem).collect()
            for rank, row in enumerate(hits, start=1):
                all_rows.append((qid, q, rank, int(row["doc_id"]),
                                 float(row["score"])))
    else:
        for qid, q in enumerate(queries, start=1):
            hits = search_segments(spark, sidx, q, strategy=args.strategy,
                                   **score_kw).collect()
            for rank, row in enumerate(hits, start=1):
                all_rows.append((qid, q, rank, int(row["doc_id"]),
                                 float(row["score"])))

    if args.render_vectors:
        import os

        from ir_spark.operators.render import render_search_results

        os.makedirs(args.render_vectors, exist_ok=True)
        docs_df = (spark.read.parquet(args.documents)
                   if args.documents else None)
        for i, q in enumerate(queries):  # 0-based, reference naming
            text = render_search_results(
                spark, args.index_dir, q, k=args.k, mode=args.mode,
                k1=args.k1, b=args.b, stem=args.stem,
                strategy=args.strategy, documents=docs_df)
            with open(os.path.join(args.render_vectors,
                                   f"{args.mode}-q{i}.txt"), "w") as fh:
                fh.write(text)

    if args.trec_run:
        from ir_spark.operators.render import render_trec_run
        from ir_spark.operators.segments import index_paths

        doc_map = spark.read.parquet(
            index_paths(args.index_dir)["doc_map"])
        lines = []
        for qid, q in enumerate(queries, start=1):
            # span-near scores are minimal window widths (lower is
            # better); TREC evaluators re-sort by score DESC, so emit
            # the negated span to keep the intended order
            qrows = [(r[3], -r[4] if args.span_near else r[4])
                     for r in all_rows if r[0] == qid]
            qdf = spark.createDataFrame(qrows, "doc_id long, score double")
            lines.extend(render_trec_run(qdf, query_id=str(qid),
                                         run_tag=args.run_tag,
                                         doc_map=doc_map))
        with open(args.trec_run, "w") as fh:
            fh.write("\n".join(lines) + "\n")

    schema = "query_id int, query string, rank int, doc_id long, score double"
    results = spark.createDataFrame(all_rows, schema)
    if args.output:
        results.coalesce(1).write.mode("overwrite").parquet(args.output)
        print(json.dumps({"output": args.output, "n_queries": len(queries),
                          "n_rows": len(all_rows)}))
    else:
        for r in all_rows:
            print(json.dumps({"query_id": r[0], "query": r[1], "rank": r[2],
                              "doc_id": r[3], "score": r[4]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
