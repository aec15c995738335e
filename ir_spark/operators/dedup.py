"""Deduplication operators for large-scale corpus curation.

The reference engine has no dedup (its 1,400-doc corpus needs none);
these are the standard web-corpus curation operators a 100 TB
training-data pipeline runs before indexing, built Spark-first:

- exact dedup: one hash + one groupBy (map-side partial agg).
- MinHash: shingle explode -> ONE groupBy(doc_id) with n_hashes MIN
  aggregations — a single shuffle whose payload is n_hashes * 32 bytes
  per doc regardless of doc length (partial mins combine map-side).
- LSH banding: band signatures -> self-join on (band, band_hash).
  Equi-join on a high-cardinality hash key → well-distributed shuffle;
  degenerate buckets (boilerplate pages) are the skew risk at scale —
  AQE skew-join splitting handles the join side, and a bucket-size cap
  (``max_bucket`` guard) bounds the quadratic pair blowup, which no
  join strategy can absorb.
- SimHash: declarative bit arithmetic over (term, tf) — stays in
  whole-stage codegen, no Python.

Portability contract (MinHash signatures and LSH bands): every hash
is ``md5`` of an explicit string — identical in Spark and ANSI/DuckDB
SQL — and MinHash minimizes the md5 *hex string* (lexicographic order
== numeric order on the 128-bit value), so the DuckDB oracle can
reproduce signatures and band hashes bit-for-bit.  ``curate``'s
Jaccard verification is outside that contract: it hashes shingles to
Spark's ``xxhash64`` (int64) before the set joins.  Its Jaccard values
equal the md5/text ones up to 64-bit collisions (negligible), but the
shingle hashes themselves are Spark-specific, not portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash.

    (doc_id, text) -> (text_md5, n_copies, min_doc_id, max_doc_id)
    for groups with more than one member.  One shuffle.
    """
    return (
        docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def word_shingles(docs: DataFrame, n: int = 3,
                  num_partitions: int | None = None,
                  distinct: bool = True) -> DataFrame:
    """(doc_id, text) -> (doc_id, shingle) — distinct word n-grams.

    ``num_partitions`` pins the dedupe shuffle's width (the explicit
    repartition satisfies distinct's clustering requirement, so there
    is still exactly ONE exchange).  Callers who go on to CACHE the
    result should set it: a cached plan freezes whatever partition
    count it was built with AND blocks AQE coalescing beneath it, so
    inheriting an oversized spark.sql.shuffle.partitions (e.g. the
    ambient 200 under bare spark-submit) taxes every later stage that
    reads the cache — measured 4-5x on the curate+DSIR job at
    local[4].

    ``distinct=False`` returns the raw exploded grams with NO shuffle
    at all — for consumers whose aggregation is duplicate-insensitive
    (MinHash: min over a multiset == min over its support set), where
    paying a corpus-wide distinct of shingle STRINGS first is pure
    waste.

    The n-gram array is built with JVM higher-order functions
    (transform/slice over the split array) — no Python worker, no
    shuffle until the consumer aggregates.  Empty tokens from
    consecutive spaces are dropped (matching the SQL oracle's
    list_filter and duplicate_span_coverage) so a page and its
    whitespace-renormalized copy produce identical shingles.
    """
    # guard: Spark's sequence(1, 0) counts DOWN — short docs must map
    # to an empty gram array, not a descending index range.
    # The word array is projected ONCE per row (_w) before the gram
    # transform: inlining the split inside the transform lambda makes
    # Catalyst re-split the text for EVERY gram position — O(words^2)
    # per doc, measured 40+ s for a 20k-doc explode that runs in ~2 s
    # with the projection (same trick as duplicate_span_coverage).
    words = F.expr("filter(split(text, ' '), w -> w != '')")
    grams = F.expr(
        f"CASE WHEN size(_w) < {n} THEN array()"
        f" ELSE transform(sequence(1, size(_w) - {n - 1}),"
        f" i -> array_join(slice(_w, i, {n}), ' ')) END"
    )
    ex = (docs.select("doc_id", words.alias("_w"))
          .select("doc_id", F.explode(grams).alias("shingle")))
    if not distinct:
        return ex
    if num_partitions:
        ex = ex.repartition(num_partitions, "doc_id", "shingle")
    return ex.distinct()


def minhash_signatures(
    shingles: DataFrame, n_hashes: int = 16
) -> DataFrame:
    """(doc_id, shingle) -> (doc_id, h0..h{n-1}) MinHash signature.

    h_i(doc) = min over shingles of md5(i || ':' || shingle), minimized
    as a hex string.  All n_hashes minima come out of ONE aggregation
    pass (map-side combine), so the shuffle carries one row per doc.
    Accepts the raw (non-distinct) exploded grams unchanged: min over
    a multiset equals min over its support set, so feeding
    ``word_shingles(..., distinct=False)`` skips the corpus-wide
    distinct shuffle entirely.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")).cast("binary"))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def lsh_bands(signatures: DataFrame, bands: int = 4, rows: int = 4) -> DataFrame:
    """Signature -> (doc_id, band, band_hash): md5 of each band's
    concatenated row-hashes.  bands*rows must equal the signature width."""
    out = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
        out.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *cols).cast("binary")).alias("band_hash"),
            )
        )
    return signatures.select(
        "doc_id", F.explode(F.array(*out)).alias("bh")
    ).select("doc_id", F.col("bh.band").alias("band"), F.col("bh.band_hash").alias("band_hash"))


def lsh_candidate_pairs(bands_df: DataFrame, max_bucket: int = 1000) -> DataFrame:
    """Bucket self-join -> distinct candidate pairs (a < b).

    ``max_bucket`` drops degenerate buckets (identical boilerplate at
    web scale) whose quadratic pair expansion would dominate the job;
    dropped buckets should be routed to exact-dedup instead.
    """
    sized = bands_df.groupBy("band", "band_hash").agg(
        F.count("*").alias("sz"), F.collect_list("doc_id").alias("members")
    ).filter((F.col("sz") > 1) & (F.col("sz") <= max_bucket))
    pairs = sized.select(
        F.explode(
            F.expr(
                "flatten(transform(members, a ->"
                " transform(filter(members, b -> b > a), b -> struct(a, b))))"
            )
        ).alias("p")
    )
    return pairs.select(F.col("p.a").alias("a"), F.col("p.b").alias("b")).distinct()


def jaccard_for_pairs(pairs: DataFrame, shingles: DataFrame) -> DataFrame:
    """(a, b) x (doc_id, shingle) -> (a, b, jaccard_micro).

    Intersection via a co-grouped double join on shingle sets; set
    sizes broadcast back.  At scale the pairs side is tiny relative to
    the corpus (LSH already pruned), so both joins shuffle only the
    candidate docs' shingles.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sh_a = shingles.select(F.col("doc_id").alias("a"), "shingle")
    sh_b = shingles.select(F.col("doc_id").alias("b"), "shingle")
    inter = (
        pairs.join(sh_a, "a").join(sh_b, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b"))
    return (
        pairs.join(inter, ["a", "b"], "left")
        .join(sz_a, "a")
        .join(sz_b, "b")
        .select(
            "a",
            "b",
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.coalesce(F.col("n_inter"), F.lit(0)))
                * 1e6
            ).cast("long").alias("jaccard_micro"),
        )
    )


def curate(docs: DataFrame, *, jaccard_threshold: float = 0.3,
           min_words: int = 5, n_hashes: int = 16, bands: int = 4,
           rows: int = 4, shingle_n: int = 3,
           caches: list | None = None) -> DataFrame:
    """End-to-end corpus curation: exact dedup -> LSH near-dup drop ->
    quality filter.  Returns the KEPT (doc_id, text) rows.

    Deterministic keep rules (reproducible in SQL, no connected
    components needed):
      1. exact: keep the min doc_id of each identical-text group;
      2. near: for every verified pair (a < b, jaccard >= threshold)
         drop b — a greedy keep-lowest-id pass;
      3. quality: drop docs with fewer than ``min_words`` words.

    Scale: each step is the corresponding operator above (one shuffle
    each); the near-dup drop joins the (small) dropped-id set back as
    an anti-join, broadcast when it fits.

    Eager by default: with ``caches=None`` the call materializes the
    kept-id set (``localCheckpoint(eager=True)``, Spark jobs run inside
    ``curate``) so its three intermediate caches can be released before
    it returns; the result is then rebuilt from ``docs`` by a semi-join,
    which scans ``docs`` once more when consumed.  Pass ``caches`` (a
    list) for a lazy plan: nothing runs until the caller acts on the
    result, and the caller unpersists the cached DataFrames appended
    to the list afterwards.
    """
    # 1. exact dedup: keep min doc_id per text hash
    keep_exact = (
        docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
        .groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    )
    # persisted: stage1 fans out into 3 consumers (the raw-shingle
    # explode for MinHash, the hashed-shingle distinct, the final
    # anti-join) behind a groupBy+join; measured ~1.5x faster
    # than recompute here (unlike shallow pipelines, where exchange
    # reuse suffices).  Pass ``caches`` (a list) to receive the cached
    # DataFrame and unpersist() it once the result is materialized;
    # otherwise the cache lives until the session drops it.
    #
    # The explicit repartition pins the cache's width: AQE coalesces
    # the join output by COMPRESSED shuffle size, and highly
    # compressible text can collapse it to one partition — persist()
    # then freezes that, serializing every downstream consumer of the
    # CPU-heaviest relation in the pipeline (measured: the 320k-doc
    # minhash leg ran 305 s on a frozen 1-partition cache vs ~14 s
    # repartitioned).  Size-based planning cannot see per-row CPU
    # cost; the operator must.
    sc = docs.sparkSession.sparkContext
    stage1 = docs.join(
        keep_exact.select(F.col("keep_id").alias("doc_id")), "doc_id"
    ).repartition(max(2 * sc.defaultParallelism, 8), "doc_id").persist()
    if caches is not None:
        caches.append(stage1)

    # 2. near-dup drop over the exact-deduped corpus.  Two shapes, one
    # spec (candidate set + true Jaccard identical to the md5 text
    # oracle):
    #
    # - MinHash path: min over a MULTISET equals min over its support
    #   set, so the signatures read the RAW exploded grams — no
    #   corpus-wide distinct-of-strings shuffle at all; the only
    #   exchange is groupBy(doc_id) whose payload is n_hashes partial
    #   mins per doc per input partition (map-side combine).
    # - Jaccard path: set sizes / intersections only need shingle
    #   EQUALITY, not text — hash each gram to int64 (xxhash64) before
    #   the distinct, so the dedupe shuffle, the cache, and both
    #   verify joins carry (long, long) rows instead of ~40-byte
    #   strings (the r4 1M-probe bottleneck).  True-Jaccard values
    #   are representation-independent; a 64-bit collision would
    #   perturb one pair's value with probability ~(grams/doc)^2/2^64
    #   — negligible against the LSH false-negative rate.
    #
    # The hashed relation feeds THREE consumers (two verify joins, set
    # sizes) — persist it once (the string ancestor of this cache
    # measured 2.6x on the 1M pipeline-probe dedup stage: 442s ->
    # 169s).  The cache pins its partition count, so size it to the
    # cluster, not to ambient shuffle.partitions (see word_shingles
    # docstring).  Joins the release to the same ``caches`` hand-off
    # as stage1.
    raw = word_shingles(stage1, n=shingle_n, distinct=False)
    sh = (raw.select("doc_id", F.xxhash64("shingle").alias("shingle"))
          .repartition(max(2 * sc.defaultParallelism, 8),
                       "doc_id", "shingle")
          .distinct().persist())
    if caches is not None:
        caches.append(sh)
    bands_df = lsh_bands(minhash_signatures(raw, n_hashes), bands, rows)
    # the candidate-pair relation is consumed twice inside
    # jaccard_for_pairs (intersection build + final join) — persist it,
    # or the WHOLE explode+minhash+banding lineage above runs once per
    # consumer (measured 1.7x on the 20k probe dedup stage).  It is
    # tiny (LSH-pruned, bucket-capped), so the cache is a few MB.
    cand = lsh_candidate_pairs(bands_df).persist()
    if caches is not None:
        caches.append(cand)
    verified = jaccard_for_pairs(cand, sh).filter(
        F.col("jaccard_micro") >= int(round(jaccard_threshold * 1e6)))
    drop_near = verified.select(F.col("b").alias("doc_id")).distinct()
    stage2 = stage1.join(drop_near, "doc_id", "left_anti")

    # 3. quality floor: at least min_words SPACE-separated words (the
    # repo-wide word convention shared with every oracle's _SQL_W;
    # note '\n'-joined words count as one under it — acceptable for a
    # floor filter, and changing it would have to move ~10 oracles in
    # lockstep)
    n_words = F.size(F.filter(F.split("text", " "), lambda w: F.length(w) > 0))
    out = stage2.filter(n_words >= min_words).select("doc_id", "text")
    if caches is None:
        # no cache hand-off from the caller: materialize just the kept
        # ID set (longs — tiny) so both caches can be released HERE
        # instead of leaking for the session, then rebuild the result
        # from ``docs`` via one semi-join (one extra scan, no leak —
        # the impact.py pattern)
        keep_ids = out.select("doc_id").localCheckpoint(eager=True)
        cand.unpersist()
        sh.unpersist()
        stage1.unpersist()
        out = docs.join(keep_ids, "doc_id", "left_semi").select(
            "doc_id", "text")
    return out


def simhash32(tokens: DataFrame) -> DataFrame:
    """(doc_id, term, tf) -> (doc_id, simhash) — 32-bit SimHash.

    Bit b of md5(term)'s first 8 hex digits contributes +tf/-tf; the
    sign of each bit-sum sets the output bit.  Fully declarative: the
    32-way bit expansion is an explode over a literal sequence, the
    per-bit sums are one groupBy(doc_id) with a pivot-free conditional
    sum — everything stays in whole-stage codegen.  (At 100 TB the
    same math runs as a numpy pandas-UDF fused into the tokenize
    kernel; this form is the exact portable spec.)
    """
    # v = first 32 bits of md5(term); bit pos (MSB-first over the first
    # 8 hex digits) == bit (31 - pos) of v.  One conv() per token row +
    # 32 conditional-sum agg columns — no row expansion, ONE shuffle of
    # one 32-column row per doc (vs a 32x explode).
    v = F.conv(F.substring(F.md5(F.col("term").cast("binary")), 1, 8), 16, 10
               ).cast("long")
    per_tok = tokens.select("doc_id", "tf", v.alias("h32"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h32"), 31 - pos).bitwiseAND(F.lit(1)) == 1,
                   F.col("tf")).otherwise(-F.col("tf"))
        ).alias(f"s{pos}")
        for pos in range(32)
    ]
    bitsums = per_tok.groupBy("doc_id").agg(*aggs)
    sim = None
    for pos in range(32):
        term_bit = F.when(F.col(f"s{pos}") > 0,
                          F.lit(1 << (31 - pos)).cast("long")
                          ).otherwise(F.lit(0).cast("long"))
        sim = term_bit if sim is None else sim + term_bit
    return bitsums.select("doc_id", sim.alias("simhash"))


def duplicate_span_coverage(docs: DataFrame, n: int = 8,
                            min_docs: int = 2) -> DataFrame:
    """Cross-document duplicate-span coverage — the word-level form of
    exact-substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): for every doc, how
    much of it is covered by word n-grams that also occur in at least
    ``min_docs - 1`` OTHER documents.

    (doc_id, text) -> (doc_id, n_tokens, n_grams, n_dup_positions,
    covered_tokens, dup_token_frac_micro) where covered_tokens is the
    size of the UNION of the length-n intervals [pos, pos+n) over all
    duplicated gram positions (intervals merged exactly — equal-length
    intervals union to sum(min(n, pos_i - pos_{i-1}))), and
    dup_token_frac = covered_tokens / n_tokens.  Pipelines drop or
    trim docs above a coverage threshold.

    Scale shape (the suffix-array step of the paper re-expressed as
    joins): positional grams are born from one narrow pass (split +
    transform, no Python); grams travel the shuffle as 32-hex md5
    keys, not text; duplicated grams come from distinct(gram, doc) ->
    count>=min_docs (both stages partial-agg); the semi-join back is
    keyed on the same md5 so AQE can broadcast the (usually small)
    duplicated-gram set; interval union is a per-doc window over only
    the duplicated positions.  No all-pairs anywhere; cost is
    O(total grams) shuffle — inherent to exact-substring dedup.
    """
    words = F.expr("filter(split(text, ' '), t -> length(t) > 0)")
    gram_structs = F.expr(
        f"CASE WHEN size(_w) < {n} THEN array() "
        f"ELSE transform(sequence(1, size(_w) - {n - 1}), "
        f"i -> struct(i AS pos, md5(cast(array_join(slice(_w, i, {n}), ' ') "
        f"AS binary)) AS g)) END"
    )
    based = docs.select("doc_id", words.alias("_w"))
    grams = (
        based.select("doc_id", F.explode(gram_structs).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.g").alias("g"))
    )
    dup_grams = (
        grams.select("g", "doc_id").distinct()
        .groupBy("g").agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("g")
    )
    dup_pos = grams.join(dup_grams, "g", "left_semi")

    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    covered_add = F.coalesce(
        F.least(F.lit(n), F.col("pos") - F.lag("pos").over(w)), F.lit(n))
    per_doc = (
        dup_pos.withColumn("_add", covered_add)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_positions"),
             F.sum("_add").alias("covered_tokens"))
    )
    totals = based.select(
        "doc_id",
        F.size("_w").cast("long").alias("n_tokens"),
        F.greatest(F.size("_w") - (n - 1), F.lit(0)).cast("long").alias("n_grams"),
    )
    frac = F.when(
        F.col("n_tokens") > 0,
        F.floor(F.coalesce("covered_tokens", F.lit(0)) * F.lit(1000000)
                / F.col("n_tokens")),
    ).otherwise(F.lit(0))
    return (
        totals.join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "n_tokens", "n_grams",
            F.coalesce("n_dup_positions", F.lit(0)).cast("long").alias(
                "n_dup_positions"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias(
                "covered_tokens"),
            frac.cast("long").alias("dup_token_frac_micro"),
        )
    )


def connected_components(pairs: DataFrame, max_iter: int = 25,
                         algorithm: str = "star",
                         stats: dict | None = None) -> DataFrame:
    """Near-dup CLUSTERS from verified pairs: connected components —
    the step after pair generation that a real dedup pipeline needs
    (pick one canonical doc per duplicate cluster, drop the rest).

    ``pairs`` is an (a, b) edge relation (undirected, any orientation).
    Returns (doc_id, cluster_id, is_canonical) for every doc appearing
    in an edge; cluster_id = min doc_id in the component,
    is_canonical = 1 on exactly that doc (INT house-style flag).

    Two exact algorithms behind the same contract:

    - ``"star"`` (default): alternating large-star / small-star
      (Kiveris et al., "Connected Components in MapReduce and
      Beyond"): O(log^2 n) rounds worst case and ~log n in practice
      even on long paths, vs O(diameter) for min-propagation — the
      right default at web scale, where near-dup graphs occasionally
      contain long chains (A~B~C~... transitive near-dups).
    - ``"minlabel"``: iterative min-label propagation; one keyed join
      + one min-agg per round, rounds = component diameter.  Kept as
      the independent cross-check implementation.

    Both truncate per-round lineage with an eager localCheckpoint
    (otherwise the iterated plan grows without bound) and assert
    convergence within ``max_iter``.  ``stats``, if given, receives
    {'rounds': n} for round-count assertions in tests/benchmarks.
    """
    if algorithm == "star":
        return _cc_star(pairs, max_iter, stats)
    if algorithm != "minlabel":
        raise ValueError(f"unknown CC algorithm: {algorithm!r}")
    sym = (pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
           .unionByName(
               pairs.select(F.col("b").alias("u"), F.col("a").alias("v")))
           .distinct()
           .localCheckpoint(eager=True))
    labels = (sym.select(F.col("u").alias("doc_id")).distinct()
              .withColumn("label", F.col("doc_id"))
              .localCheckpoint(eager=True))
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        neigh = (sym.join(labels.withColumnRenamed("doc_id", "v"), "v")
                 .groupBy("u").agg(F.min("label").alias("nlabel"))
                 .withColumnRenamed("u", "doc_id"))
        # carry the changed flag through the step instead of re-joining
        # old vs new labels afterwards: one shuffle less per round, and
        # the convergence count is a cheap agg over the checkpointed rows
        new = F.least(F.col("label"),
                      F.coalesce(F.col("nlabel"), F.col("label")))
        stepped = (
            labels.join(neigh, "doc_id", "left")
            .select("doc_id", new.alias("new_label"),
                    (new != F.col("label")).cast("int").alias("chg"))
            .localCheckpoint(eager=True))
        # coalesce: with an empty edge set sum('chg') is NULL, and a
        # None 'changed' would never equal 0 -> spurious non-convergence
        changed = stepped.agg(
            F.coalesce(F.sum("chg"), F.lit(0))).collect()[0][0]
        labels = stepped.select(
            "doc_id", F.col("new_label").alias("label"))
        if changed == 0:
            break
    else:
        raise RuntimeError(f"did not converge in {max_iter} rounds")
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(
        "doc_id", F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).cast("int").alias("is_canonical"))


def _cc_star(pairs: DataFrame, max_iter: int,
             stats: dict | None = None) -> DataFrame:
    """Alternating large-star / small-star connected components.

    Edge representation: (u, v) with u > v after each full round.
    One round = large-star then small-star:

    - large-star, per node u over the SYMMETRIZED neighborhood:
      m = min(neighbors + u); emit (v, m) for every neighbor v > u.
      Connects every larger neighbor to the local minimum — halves
      long chains.
    - small-star, per node u over its SMALLER neighbors (edges are
      already oriented u > v): m = min(smaller neighbors); emit
      (v, m) for v != m plus (u, m).  Collapses local trees to stars.

    Loop control: each round computes ONE cheap fingerprint agg
    (count + endpoint sums + a hash-sum) over the checkpointed edges;
    the deterministic round function has converged when the
    fingerprint repeats.  The DEFINITIVE star test (each larger
    endpoint appears exactly once AND no node is both child and root)
    then runs once, as an assertion, after the loop — so the fixed
    point is still certified, without paying the two-job test every
    round.  Per-round cost: two groupBy-min + two joins on node keys;
    rounds are O(log^2 n) worst case (paper), ~log n observed even on
    path graphs.  Lineage truncated per round with eager
    localCheckpoint.
    """
    edges = (pairs.select(F.greatest("a", "b").alias("u"),
                          F.least("a", "b").alias("v"))
             .where(F.col("u") != F.col("v"))
             .distinct()
             .localCheckpoint(eager=True))
    # every endpoint, incl. nodes whose only edges were self-pairs:
    # they must still appear in the output as singleton roots.  (Plan
    # only — materialized once in the final join, no checkpoint.)
    nodes = (pairs.select(F.col("a").alias("doc_id"))
             .unionByName(pairs.select(F.col("b").alias("doc_id")))
             .distinct())

    _P = 1_000_000_007  # keep the sums overflow-safe under ANSI mode

    def fingerprint(e: DataFrame) -> tuple:
        pm = lambda c: F.coalesce(  # noqa: E731
            F.sum(F.pmod(c, F.lit(_P))), F.lit(0))
        return tuple(e.agg(
            F.count(F.lit(1)), pm(F.col("u")), pm(F.col("v")),
            pm(F.xxhash64("u", "v"))).collect()[0])

    def is_star(e: DataFrame) -> bool:
        n, nu = e.agg(F.count(F.lit(1)), F.countDistinct("u")).collect()[0]
        if n != nu:
            return False
        return (e.select("u")
                .intersect(e.select(F.col("v").alias("u"))).count()) == 0

    prev = fingerprint(edges)
    rounds = 0
    while True:
        if rounds >= max_iter:
            raise RuntimeError(f"did not converge in {max_iter} rounds")
        rounds += 1
        # large-star over the symmetric view
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m_large = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                   .select("u", F.least("u", "mv").alias("m")))
        large = (sym.join(m_large, "u")
                 .where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .distinct())
        # small-star over the (u > v)-oriented edges
        m_small = large.groupBy("u").agg(F.min("v").alias("m"))
        joined = large.join(m_small, "u")
        edges = (joined.where(F.col("v") != F.col("m"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .unionByName(m_small.select("u", F.col("m").alias("v")))
                 .distinct()
                 .localCheckpoint(eager=True))
        cur = fingerprint(edges)
        if cur == prev:
            break
        prev = cur
    # certify: a repeated fingerprint of the deterministic round
    # function must be a star set — fail loudly if it is not
    if not is_star(edges):
        raise RuntimeError("star fingerprint converged on a non-star set")
    if stats is not None:
        stats["rounds"] = rounds
    # converged edges are (child, root) stars; everything else is its
    # own root (incl. singleton components from degenerate self-pairs)
    return (nodes.join(edges.withColumnRenamed("u", "doc_id"),
                       "doc_id", "left")
            .select("doc_id",
                    F.coalesce("v", F.col("doc_id")).alias("cluster_id"))
            .select("doc_id", "cluster_id",
                    (F.col("doc_id") == F.col("cluster_id"))
                    .cast("int").alias("is_canonical")))


def dedup_paragraphs(docs: DataFrame, delim: str = "\n") -> DataFrame:
    """Paragraph-level exact dedup — the CCNet / FineWeb curation step
    that strips boilerplate (headers, footers, cookie banners) shared
    across pages while keeping each page's unique body.

    (doc_id, text) -> (doc_id, n_paras, n_kept, kept_md5): every
    occurrence of a paragraph other than its global FIRST occurrence
    (lowest (doc_id, paragraph index), across and within documents)
    is dropped; ``kept_md5`` fingerprints the surviving paragraphs
    re-joined by ``delim`` in original order (md5('') when a page
    loses every paragraph), so the full cleaned text is value-checked
    without shipping it.  Blank/whitespace-only paragraphs are not
    paragraphs.

    Scale shape: one narrow split/explode pass; paragraphs travel the
    shuffle as md5 keys + (doc_id, idx) ints, never resident text;
    the global first-occurrence is a groupBy(hash).min(struct) whose
    partial aggregation absorbs hot boilerplate keys MAP-SIDE (a
    million-page cookie banner combines to one row per input
    partition — the reason this is an agg + equi-join rather than a
    row_number window, which would hash all occurrences of a hot
    paragraph into one task with no combiner); the join back is
    equi-keyed on the same md5, so AQE skew-join splitting covers the
    residual hot buckets; final re-assembly is one groupBy(doc_id).
    """
    paras = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), delim)).alias("idx", "para"))
        .filter(F.trim(F.col("para")) != "")
        .withColumn("h", F.md5(F.col("para").cast("binary")))
    )
    first = paras.groupBy("h").agg(
        F.min(F.struct("doc_id", "idx")).alias("first"))
    tagged = paras.join(first, "h").withColumn(
        "keep_para",
        (F.col("doc_id") == F.col("first.doc_id"))
        & (F.col("idx") == F.col("first.idx")))
    kept_sorted = F.transform(
        F.array_sort(F.collect_list(
            F.when(F.col("keep_para"), F.struct("idx", "para")))),
        lambda s: s["para"])
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(F.col("keep_para").cast("long")).cast("long").alias("n_kept"),
        F.md5(F.concat_ws(delim, kept_sorted).cast("binary")).alias("kept_md5"),
    )


def simhash_near_dup_pairs(fingerprints: DataFrame, *, k: int = 3,
                           n_tables: int = 4, bits: int = 32,
                           max_bucket: int = 1000) -> DataFrame:
    """Hamming-ball near-dup pairing over SimHash fingerprints —
    the table-blocked scheme of Manku, Jain & Das Sarma (WWW 2007,
    "Detecting near-duplicates for web crawling").

    (doc_id, simhash) -> (a, b, dist): every unordered pair at
    Hamming distance <= ``k``, with ``dist`` the exact distance.
    Pigeonhole guarantee: splitting the ``bits``-bit fingerprint into
    ``n_tables`` contiguous bands, a pair differing in <= k < n_tables
    bits agrees EXACTLY on at least one band — blocking on each band
    therefore finds every qualifying pair (recall 1.0, no probabilistic
    miss like MinHash-LSH), and the quadratic candidate work is
    confined to same-band buckets.

    Scale shape: one narrow n_tables-way band explode, one
    groupBy((table, band)) whose collect_list is bounded by
    ``max_bucket`` (a band bucket past the cap means fingerprint-
    identical template pages — route those to exact dedup, the same
    policy as ``lsh_candidate_pairs``); pairs are generated in-bucket
    and each member struct carries its fingerprint, so the distance is
    one bit_count(xor) per candidate with NO join back; the final
    distinct dedups pairs that agree on several bands.  All bit
    arithmetic is whole-stage codegen, no Python.
    """
    if not 0 <= k < n_tables:
        raise ValueError("need 0 <= k < n_tables for the pigeonhole "
                         "guarantee")
    if bits % n_tables:
        raise ValueError("n_tables must divide bits")
    width = bits // n_tables
    mask = (1 << width) - 1
    bands = F.posexplode(F.expr(
        f"transform(sequence(0, {n_tables - 1}), "
        f"t -> shiftright(simhash, t * {width}) & {mask}L)"))
    blocks = fingerprints.select(
        "doc_id", "simhash", bands.alias("tab", "band"))
    buckets = (blocks.groupBy("tab", "band")
               .agg(F.collect_list(F.struct("doc_id", "simhash"))
                    .alias("members"))
               .filter((F.size("members") > 1)
                       & (F.size("members") <= max_bucket)))
    cand = buckets.select(F.explode(F.expr(
        "flatten(transform(members, x -> transform("
        "filter(members, y -> y.doc_id > x.doc_id), "
        "y -> struct(x.doc_id AS a, y.doc_id AS b, "
        "x.simhash AS sa, y.simhash AS sb))))")).alias("p"))
    dist = F.bit_count(F.col("p.sa").bitwiseXOR(F.col("p.sb")))
    return (cand.select(F.col("p.a").alias("a"), F.col("p.b").alias("b"),
                        dist.cast("long").alias("dist"))
            .filter(F.col("dist") <= k)
            .distinct())
