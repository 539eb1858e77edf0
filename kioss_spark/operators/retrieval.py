"""Sparse retrieval — exact-integer Okapi BM25 top-k over an inverted
term-statistics table.

The sparse complement of the dense ANN ladder (operators/similarity.py):
a real RAG / decontamination pipeline runs HYBRID retrieval, dense
cosine + BM25, and the reference's fetch-enrich ETL shape
(reference README.md:534-576) is exactly the consumer of both.

BM25 (Robertson et al., Okapi at TREC-3, 1994):

    score(q, D) = sum_{t in q} IDF(t) * tf(t,D)*(k1+1)
                                / (tf(t,D) + k1*(1 - b + b*|D|/avgdl))

Exactness across engines is the design constraint (the driver
hash-verifies values, and Spark/DuckDB ``ln``/double division differ in
the last ulp), so every factor is integerized as a rational:

- IDF: the Robertson-Sparck Jones form ln((N-df+0.5)/(df+0.5)+1) is
  MONOTONE in (N-df+0.5)/(df+0.5) = (2N-2df+1)/(2df+1), so serving uses
  the rational itself, e6-scaled:  idf_e6 = (1_000_000*(2N-2df+1)) DIV
  (2df+1).  Rankings agree with the log form for single-term scores;
  for multi-term sums it is the standard "raw idf odds" variant — what
  matters here is that it is EXACT integer arithmetic both engines
  reproduce bit-for-bit.
- tf saturation with k1=1.2=6/5, b=0.75=3/4 and exact rational
  avgdl = T/N (T = total corpus tokens, N = docs): multiplying
  numerator and denominator by 20*T clears every fraction:

      tf_part = 44*T*tf / (20*T*tf + 6*T + 18*N*dl)

  e4-scaled:  tfp_e4 = (10_000*44*T*tf) DIV (20*T*tf + 6*T + 18*N*dl).
- per-(term, doc) score_e6 = (idf_e6 * tfp_e4) DIV 10_000; summed per
  (query, doc).

Integer headroom: TWO products dominate, and each gets the CHEAPEST
exact treatment (an all-DECIMAL(38,0) score measured 2.4x slower on
hybrid_rrf_topk at sf0.1 — DECIMAL(38) runs on Int128/BigDecimal):

- the tf-part numerator/denominator 10_000*44*T*tf_doc (tf_doc =
  PER-DOCUMENT term count, not corpus tf) passes int64 at
  T*tf_doc ~ 2e13 — a multi-TB token stream with per-doc repetition —
  so the RATIO's operands stay DECIMAL(38,0) (exact to ~1e38), but its
  DIV result tfp_e4 <= 22_000 is a small BIGINT, materialized ONCE per
  posting row (``_TFP_E4_SQL``);
- idf_e6 * tfp_e4 would pass int64 at N ~ 6e8 docs (idf_e6 ~ 6.7e5*N
  for df=1, times 22_000 => ~1.5e10*N), so it uses the exact
  split-multiply identity (``_SCORE_E6_SQL``)
      (a*b) DIV m == (a DIV m)*b + ((a % m)*b) DIV m     (m = 10_000)
  whose largest term (idf_e6 DIV 1e4)*tfp_e4 <= 67*N*22_000 stays
  int64 through N ~ 6e12 docs; idf_e6 itself fits int64 to N ~ 1.4e13
  — both far past a 100 TB corpus (~1e11 docs).

The per-(term,doc) score_e6 <= 2.2e9*N fits int64 to N ~ 4e9 docs (and
the per-(query,doc) SUM adds only a |q| factor).  ``bm25_score_py``
matches trivially — Python ints are unbounded; tests pin equality past
the OLD int64 wrap point (N = 2e9).  The DuckDB oracle keeps BIGINT
(DuckDB *raises* on overflow rather than wrapping, and the oracle only
runs at test scale); at index scale the same widening there is HUGEINT.

Scale shape (the 100 TB story): ONE corpus scan builds the inverted
stats — tf is a (doc_id, term)-keyed agg with map-side combine, df and
dl DERIVE from tf (no second scan), N/T are a 1-row aggregate.  The
query set is vocabulary-derived and TINY (it broadcasts); the scoring
join touches only postings of query terms — the keyed shuffle carries
the matched postings, never the corpus — and the final top-k is a
per-query rank window over candidate docs (|q| partitions).  Nothing
all-pairs, nothing corpus-grain after the first combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "bm25_stats",
    "bm25_stats_positional",
    "bm25_merge_stats",
    "bm25_score_topk",
    "bm25_maxscore_topk",
    "bm25_serve_topk",
    "bm25_plan_choice",
    "BM25_PRUNE_MASS_THRESHOLD",
    "bm25_term_bounds",
    "bm25_merge_bounds",
    "bm25_phrase_topk",
    "bm25_score_py",
    "phrase_hits_py",
    "bm25_index_sink",
    "read_bm25_index",
]

#: k1 = 1.2 and b = 0.75 as the cleared-fraction coefficients of
#: tf_part = 44*T*tf / (20*T*tf + 6*T + 18*N*dl)  (see module docstring)
_NUM_C = 44
_DEN_TF = 20
_DEN_T = 6
_DEN_DL = 18

#: Exact per-(term, doc) score_e6 = (idf_e6 * tfp_e4) DIV 10000, computed
#: WITHOUT a DECIMAL product on the posting-grain hot path (measured
#: 2.4x on hybrid_rrf_topk at sf0.1: DECIMAL(38) runs on Int128/BigDecimal):
#:
#: - the tf-part RATIO keeps DECIMAL(38,0) operands — its numerator
#:   10000*44*T*tf passes int64 at T*tf ~ 2e13, genuinely reachable at
#:   100 TB — but its DIV result tfp_e4 <= 22000 is a small BIGINT;
#: - the idf product uses the exact split-multiply identity
#:       (a*b) DIV m == (a DIV m)*b + ((a % m)*b) DIV m   (m = 10000):
#:   a DIV m <= 67*N and b <= 22000 keep every term under int64 through
#:   N ~ 6e12 docs ((a%m)*b < 2.2e8), and idf_e6 itself fits int64 to
#:   N ~ 1.4e13 — far past any 100 TB corpus (~1e11 docs). Overflow
#:   safety therefore matches the DECIMAL form everywhere the inputs
#:   themselves are representable; tests pin equality with unbounded
#:   Python ints past the OLD int64 wrap point (N = 2e9).
#: tfp_e4 as a standalone column expression: the split formula consumes
#: it TWICE, so callers materialize it in its own projection first —
#: the double reference also trips CollapseProject's multi-reference
#: guard, keeping the ratio evaluated ONCE per posting row.
#:
#: ADAPTIVE exactness: the int64 branch is provably wrap-free while
#: n_toks*tf <= 2.09e13 (numerator 440_000*T*tf <= 9.196e18 < 2^63-1)
#: AND n_docs*dl <= 5.1e17 (denominator 18*N*dl <= 9.18e18, plus the
#: other two terms <= 5.5e14, total < 2^63-1); the per-row CASE picks
#: the DECIMAL branch only past those bounds, so every corpus pays
#: int64 cost until the arithmetic genuinely needs 128-bit.  Both
#: branches compute the IDENTICAL exact value where both are defined.
_TFP_INT64_SQL = (
    f"(10000 * {_NUM_C} * n_toks * tf) "
    f"DIV ({_DEN_TF} * n_toks * tf "
    f"+ {_DEN_T} * n_toks "
    f"+ {_DEN_DL} * n_docs * dl)"
)
_TFP_DEC_SQL = (
    f"CAST((CAST(10000 * {_NUM_C} AS DECIMAL(38,0)) * n_toks * tf) "
    f"DIV (CAST({_DEN_TF} AS DECIMAL(38,0)) * n_toks * tf "
    f"+ {_DEN_T} * n_toks "
    f"+ CAST({_DEN_DL} AS DECIMAL(38,0)) * n_docs * dl) AS BIGINT)"
)
_TFP_E4_SQL = (
    "CAST(CASE WHEN n_toks <= 20900000000000 DIV GREATEST(tf, 1) "
    "AND n_docs <= 510000000000000000 DIV GREATEST(dl, 1) "
    f"THEN {_TFP_INT64_SQL} ELSE {_TFP_DEC_SQL} END AS BIGINT)"
)
_SCORE_E6_SQL = (
    "CAST((idf_e6 DIV 10000) * __tfp__ "
    "+ ((idf_e6 % 10000) * __tfp__) DIV 10000 AS BIGINT)"
)


def bm25_stats(
    inv: DataFrame, materialize: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Inverted statistics from a (doc_id, term) occurrence stream:
    returns ``(tfdl, df, g)`` where tfdl = per-(doc, term) counts WITH
    the per-doc length attached by a doc-keyed window (no join — the
    postings table stays one relation, and Spark's ReuseExchange shares
    its (doc_id, term) combine with the df branch), df derives from the
    same combine, and g is the 1-row (n_docs, n_toks) global table.

    ``materialize=True`` eagerly ``localCheckpoint``s the (doc, term)
    combine before deriving the three views.  Column pruning otherwise
    clones the combine per consumer (the df branch drops tf, the g
    branch drops term, the scorer keeps everything), producing
    per-branch exchanges ReuseExchange cannot dedupe — a served topk
    plan re-ran the corpus scan+combine up to six times (profiled:
    six single-task scan stages, ~0.5 s each at sf0.1).  The checkpoint
    pays one combine and every view reads it.  Leave False for lazy
    composition (streaming sinks, merge laws, tests)."""
    tf = inv.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    if materialize:
        tf = tf.localCheckpoint(eager=True)
    tfdl = tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id")).cast("long")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    g = (
        tfdl.select("doc_id", "dl")
        .distinct()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("n_toks"),
        )
    )
    return tfdl, df, g


def bm25_stats_positional(
    inv_pos: DataFrame, materialize: bool = False
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Positional inverted statistics from a (doc_id, term, pos)
    occurrence stream (1-based positions — ``posexplode`` callers add 1):
    the same one-scan shape as ``bm25_stats`` — tf/dl/df/globals all
    derive from ONE (doc_id, term) combine — but the combine also keeps
    each posting's sorted position array, which is what phrase and
    proximity queries consume (``bm25_phrase_topk``).  Positions ride
    the aggregation the bag-of-words index already pays for; the only
    extra cost is the array payload on the postings rows.

    Returns ``(tfdl, df, g)`` where tfdl additionally carries
    ``positions: array<bigint>`` (sorted, one entry per occurrence, so
    ``size(positions) == tf``).

    ``materialize=True``: same one-combine checkpoint as ``bm25_stats``
    (the payoff is larger here — the pruned-positions clones each
    re-carry the collect_list)."""
    tf = inv_pos.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.sort_array(F.collect_list(F.col("pos").cast("long"))).alias(
            "positions"
        ),
    )
    if materialize:
        tf = tf.localCheckpoint(eager=True)
    tfdl = tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id")).cast("long")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    g = (
        tfdl.select("doc_id", "dl")
        .distinct()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("n_toks"),
        )
    )
    return tfdl, df, g


def bm25_store_index(
    inv: DataFrame,
    tfdl_table: str,
    df_table: str,
    g_table: str,
    n_buckets: int = 8,
    positional: bool = False,
) -> None:
    """Bootstrap-persist a BM25 index as three bucketed tables in ONE
    corpus pass.  Each ``saveAsTable`` is its own Spark query, so the
    naive three writes of ``bm25_stats``' outputs re-execute the corpus
    explode + (doc_id, term) combine per table — ReuseExchange dedupes
    shared subplans only WITHIN a query, never across jobs.  Here the
    postings relation (tfdl) is persisted, ``df``/``g`` are re-derived
    from it by the same algebra (df = postings per term; g aggregates
    the per-doc lengths — row-identical to ``bm25_stats``' outputs,
    pinned in tests/test_round10_ops.py), and the three now-independent
    writes are submitted from a small driver thread pool so each job's
    task tail back-fills the others (guide §2.6; §5 persist-when-reused;
    §1.2 remove repeated passes).  The persist is scoped to this call —
    ``unpersist(blocking=True)`` before returning, so the session-wide
    zero-cached-blocks hygiene invariant holds."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.storagelevel import StorageLevel

    from kioss_spark.operators.skew import write_bucketed

    tfdl, _, _ = (
        bm25_stats_positional(inv) if positional else bm25_stats(inv)
    )
    tfdl = tfdl.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # materialize the cache with ONE pass BEFORE fanning out: persist
        # is lazy, and three concurrent first-actions would each race to
        # compute the un-populated cache, re-running the pipeline 3x in
        # parallel instead of reading it (a full count materializes every
        # partition of the InMemoryRelation; column pruning does not
        # apply below a cache node).  A/B'd at sf0.1, interleaved 5-rep
        # minima: sequential-3-writes 1.79 s; tfdl-write-then-2-pool
        # 1.43 s; count-then-3-pool 1.18 s — the count costs one cached
        # scan but lets the big postings write overlap the small ones.
        tfdl.count()
        df = tfdl.groupBy("term").agg(
            F.count(F.lit(1)).cast("long").alias("df")
        )
        g = (
            tfdl.select("doc_id", "dl")
            .distinct()
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("dl").cast("long").alias("n_toks"),
            )
        )
        writes = (
            (tfdl, tfdl_table, "term", n_buckets),
            (df, df_table, "term", n_buckets),
            (g, g_table, "n_docs", 1),
        )
        with ThreadPoolExecutor(max_workers=3) as pool:
            list(
                pool.map(
                    lambda w: write_bucketed(
                        w[0], w[1], bucket_by=w[2], n_buckets=w[3]
                    ),
                    writes,
                )
            )
    finally:
        tfdl.unpersist(blocking=True)


def bm25_merge_stats(
    tfdl_a: DataFrame,
    df_a: DataFrame,
    g_a: DataFrame,
    tfdl_b: DataFrame,
    df_b: DataFrame,
    g_b: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Incremental BM25 index maintenance — merge the stats of a NEW
    document batch into an existing index WITHOUT re-touching the old
    corpus (the sparse-retrieval analog of ``ann_index_ingest``; the
    O(batch)/day property every incremental-dedup operator here holds).

    Every BM25 statistic is ADDITIVE over disjoint document sets:
    postings union (doc sets disjoint, so no tf conflicts and each
    doc's dl is already final), df sums per term (a doc contributes to
    a term's df in exactly one batch), and the global (n_docs, n_toks)
    pair sums.  The merge therefore costs one vocabulary-grain outer
    join + one postings union + one 2-row global agg — all independent
    of the existing corpus size.  Callers are responsible for the
    disjointness precondition (re-ingesting a doc must delete its old
    postings first — the exactly-once MERGE in streaming/dialect.py is
    the upsert path)."""
    tfdl = tfdl_a.unionByName(tfdl_b)
    df = (
        df_a.withColumnRenamed("df", "__a__")
        .join(df_b.withColumnRenamed("df", "__b__"), "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce("__a__", F.lit(0)) + F.coalesce("__b__", F.lit(0))
            ).cast("long").alias("df"),
        )
    )
    g = (
        g_a.unionByName(g_b)
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_toks"),
        )
    )
    return tfdl, df, g


def bm25_score_topk(
    tfdl: DataFrame,
    df: DataFrame,
    g: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact-integer BM25 top-``k`` per query.

    ``queries`` is a small (query_id, term, df) table (vocabulary-grain,
    df already attached) — broadcast into the postings join after the
    1-row global table rides a broadcast crossJoin, so only query-term
    postings move. Returns (query_id, rnk, doc_id, score_e6) with the
    deterministic (score desc, doc_id) tie-break."""
    if "df" not in queries.columns:
        queries = queries.join(df, "term")
    qstats = (
        queries.crossJoin(F.broadcast(g))
        .select(
            "query_id",
            "term",
            F.expr(
                "CAST(1000000 * (2 * n_docs - 2 * df + 1) AS BIGINT) "
                "DIV CAST(2 * df + 1 AS BIGINT)"
            ).alias("idf_e6"),
            "n_docs",
            "n_toks",
        )
    )
    scored = (
        tfdl.join(F.broadcast(qstats), "term")
        # two-stage projection: the DECIMAL tf-ratio materializes ONCE
        # per posting (referenced twice by the split score), and the
        # idf product runs in pure int64 via the exact split-multiply —
        # see the _SCORE_E6_SQL headroom note (the all-DECIMAL product
        # measured 2.4x slower on hybrid_rrf_topk at sf0.1)
        .select(
            "query_id",
            "doc_id",
            "idf_e6",
            F.expr(_TFP_E4_SQL).alias("__tfp__"),
        )
        .select(
            "query_id",
            "doc_id",
            F.expr(_SCORE_E6_SQL).alias("score_e6"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score_e6").cast("long").alias("score_e6"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e6").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "doc_id", "score_e6")
    )


#: Upper bound on tfp_e4 from a term's max per-doc tf alone: tfp is
#: increasing in tf and decreasing in dl, and dl >= tf always (a doc is
#: at least as long as any term's count in it), so
#:   tfp(tf, dl) <= 44*T*tf / ((20*T + 18*N)*tf + 6*T)
#: which is increasing in tf => bound at tf = max_tf.  Uses ONLY the
#: merged globals + the max-mergeable per-term max_tf — no per-corpus
#: minimum document length to maintain.  Same DECIMAL-operand /
#: small-BIGINT-result discipline as _TFP_E4_SQL.
_TFP_UB_E4_SQL = (
    "CAST((CAST(10000 * 44 AS DECIMAL(38,0)) * n_toks * max_tf) "
    "DIV ((CAST(20 AS DECIMAL(38,0)) * n_toks "
    "+ CAST(18 AS DECIMAL(38,0)) * n_docs) * max_tf "
    "+ 6 * n_toks) AS BIGINT)"
)


def bm25_term_bounds(tfdl: DataFrame) -> DataFrame:
    """Per-term maximum per-document tf — the index-time statistic
    behind max-score (WAND/MaxScore-family) pruning: (term, max_tf).
    Max-mergeable across disjoint document batches
    (``bm25_merge_bounds``), so incremental ingest maintains it at
    O(batch) like every other BM25 stat."""
    return tfdl.groupBy("term").agg(
        F.max("tf").cast("long").alias("max_tf")
    )


def bm25_merge_bounds(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge law for ``bm25_term_bounds``: per-term MAX over disjoint
    batches (max is idempotent/commutative/associative, so
    bounds(union) == merge(bounds, bounds) — pinned in tests)."""
    return (
        a.withColumnRenamed("max_tf", "__a__")
        .join(b.withColumnRenamed("max_tf", "__b__"), "term", "full_outer")
        .select(
            "term",
            F.greatest(
                F.coalesce("__a__", F.lit(0)), F.coalesce("__b__", F.lit(0))
            ).cast("long").alias("max_tf"),
        )
    )


def bm25_maxscore_topk(
    tfdl: DataFrame,
    df: DataFrame,
    g: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bounds: DataFrame = None,
) -> DataFrame:
    """Exact max-score-pruned BM25 top-``k`` — the batch re-expression
    of the MaxScore/WAND family (Turtle & Flood 1995; Broder et al.
    2003), provably LOSSLESS: returns bit-for-bit what
    ``bm25_score_topk`` returns, while the expensive per-posting score
    arithmetic + aggregation + rank window see only docs that can still
    make top-k.

    Per query, terms sort by their max-score upper bound
    (``bound_e6`` = idf_e6 x the ``_TFP_UB_E4_SQL`` ceiling from the
    stored per-term ``max_tf``); the single highest-bound term is the
    ESSENTIAL list.  Two phases:

    1. score ONLY the essential term's postings; the k-th best partial
       score per query is ``theta_lb`` — a valid lower bound of the
       final k-th score (partial <= full per doc, and the E-matched docs
       are a subset of all candidates), defined only when >= k docs
       match;
    2. full scoring keeps a (query, doc) candidate iff the doc matched
       the essential term OR the query's non-essential bound sum is NOT
       strictly below theta_lb (then pruning is off for that query and
       it degrades to the exact baseline).  A dropped doc's full score
       is <= sum of non-essential bounds < theta_lb <= true theta —
       strictly below the k-th, so it cannot rank (ties included: strict
       inequality).

    Scale shape: phase 1 touches only the rarest list per query (the
    small one); the candidate join is (query, doc)-keyed and bounded by
    essential-list length x |q|; common-term postings for non-candidate
    docs are dropped BEFORE the DECIMAL ratio, the score aggregation,
    and the rank window — the work that is linear in matched postings
    in the unpruned plan.  At fixture scale the extra candidate
    semi-join costs more than it saves; the operator exists for the
    100 TB regime where common-term posting lists dominate
    (SCALE_CURVE r12 measures the scored-posting collapse).

    Exactness is pinned in tests/test_round12_ops.py (equality with
    ``bm25_score_topk`` across query shapes, < k corpora, repeated
    terms) and by the driver gate: the gated ``bm25_topk`` query serves
    THROUGH this function against the unpruned DuckDB oracle."""
    matched = _maxscore_matched(tfdl, df, g, queries, k, bounds)
    scored = (
        matched.select(
            "query_id",
            "doc_id",
            "idf_e6",
            F.expr(_TFP_E4_SQL).alias("__tfp__"),
        )
        .select(
            "query_id", "doc_id", F.expr(_SCORE_E6_SQL).alias("score_e6")
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score_e6").cast("long").alias("score_e6"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e6").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "doc_id", "score_e6")
    )


#: Measured serving threshold (full derivation: SCALE_CURVE §r13).  The
#: max-score plan pays two extra stages (essential-list scoring + the
#: candidate semi-join, each re-touching tfdl) and saves per-posting
#: score arithmetic; on local[8] SERVE-ONLY A/B against materialized
#: indexes (Zipf vocab-scaled corpora, best-of-3 interleaved) the
#: unpruned plan won at every measurable mass — 0.84 vs 1.79 s at 646k
#: postings, 1.58 vs 3.35 s at 1.92M — because whole-stage codegen makes
#: the avoided arithmetic nearly free while the extra exchanges grow
#: with the corpus.  The pruning's measured win is in SCORED POSTINGS
#: (1.9% of unpruned, sub-linear across the decade — SCALE_CURVE §r12),
#: which converts to wall only where postings dominate memory/shuffle/IO:
#: executor-spilling lists and multi-node exchanges, i.e. masses far
#: past this box's horizon.  The default sits an order of magnitude past
#: every measured point so `auto` never pessimizes a measurable
#: workload; deployments in the genuinely large regime tune
#: ``posting_mass_threshold`` from their own A/B (the `never`/`always`
#: modes are that surface).
BM25_PRUNE_MASS_THRESHOLD = 50_000_000


def bm25_plan_choice(
    queries: DataFrame,
    df: DataFrame,
    threshold: int = BM25_PRUNE_MASS_THRESHOLD,
) -> tuple:
    """('pruned'|'unpruned', posting_mass) for a query set against an
    index: posting mass = the number of postings the UNPRUNED scorer
    would move and score = sum of df over the query terms (per
    occurrence — a term shared by two queries scores twice).  One tiny
    vocabulary-grain agg off the stored df table (the index sink
    persists it), no corpus access."""
    q = queries if "df" in queries.columns else queries.join(df, "term")
    mass = q.agg(F.sum("df").cast("long")).collect()[0][0] or 0
    return ("pruned" if mass >= threshold else "unpruned", int(mass))


def bm25_serve_topk(
    tfdl: DataFrame,
    df: DataFrame,
    g: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bounds: DataFrame = None,
    prune: str = "auto",
    posting_mass_threshold: int = BM25_PRUNE_MASS_THRESHOLD,
) -> DataFrame:
    """Adaptive BM25 serving (round-13 verdict ask 7): ``prune='auto'``
    measures the query set's posting mass against the stored df stats
    and serves ``bm25_score_topk`` below ``posting_mass_threshold``
    (fixture scale: the pruning's fixed stages cost more than they
    save) or the lossless ``bm25_maxscore_topk`` above it (the
    large-posting-list regime the pruning exists for).  Both plans
    return bit-identical results, so the switch can never change an
    answer — only the work.  ``prune='never'``/``'always'`` force a
    side (the A/B surface the threshold was measured with)."""
    if prune not in ("auto", "never", "always"):
        raise ValueError(
            f"prune must be 'auto', 'never' or 'always' (got {prune!r})"
        )
    if prune == "never":
        return bm25_score_topk(tfdl, df, g, queries, k=k)
    if prune == "always":
        return bm25_maxscore_topk(tfdl, df, g, queries, k=k, bounds=bounds)
    mode, _ = bm25_plan_choice(queries, df, posting_mass_threshold)
    if mode == "pruned":
        return bm25_maxscore_topk(tfdl, df, g, queries, k=k, bounds=bounds)
    return bm25_score_topk(tfdl, df, g, queries, k=k)


def _maxscore_matched(
    tfdl: DataFrame,
    df: DataFrame,
    g: DataFrame,
    queries: DataFrame,
    k: int,
    bounds: DataFrame = None,
) -> DataFrame:
    """The candidate posting rows max-score pruning lets through — the
    exact set ``bm25_maxscore_topk`` scores (factored out so tests and
    the scale harness can COUNT scored postings; ``count()`` here vs the
    plain ``tfdl ⋈ queries`` count is the pruning ratio)."""
    if "df" not in queries.columns:
        queries = queries.join(df, "term")
    if bounds is None:
        bounds = bm25_term_bounds(tfdl)
    qb = (
        queries.join(bounds, "term", "left")
        .crossJoin(F.broadcast(g))
        .select(
            "query_id",
            "term",
            F.expr(
                "CAST(1000000 * (2 * n_docs - 2 * df + 1) AS BIGINT) "
                "DIV CAST(2 * df + 1 AS BIGINT)"
            ).alias("idf_e6"),
            "n_docs",
            "n_toks",
            F.coalesce(F.col("max_tf"), F.lit(0)).alias("max_tf"),
        )
        .withColumn("__ub__", F.expr(_TFP_UB_E4_SQL))
        .withColumn(
            "bound_e6",
            F.expr(
                "CAST((idf_e6 DIV 10000) * __ub__ "
                "+ ((idf_e6 % 10000) * __ub__) DIV 10000 AS BIGINT)"
            ),
        )
        .withColumn(
            "is_ess",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("bound_e6").desc(), F.col("term")
                )
            )
            == 1,
        )
    )
    scored_cols = [
        "query_id",
        "doc_id",
        "idf_e6",
        F.expr(_TFP_E4_SQL).alias("__tfp__"),
    ]
    # phase 1: essential-list partial scores -> theta_lb per query
    ess = qb.where("is_ess")
    ess_scored = (
        tfdl.join(F.broadcast(ess), "term")
        .select(*scored_cols)
        .select(
            "query_id", "doc_id", F.expr(_SCORE_E6_SQL).alias("__s__")
        )
    )
    w_theta = Window.partitionBy("query_id").orderBy(
        F.col("__s__").desc(), F.col("doc_id")
    )
    theta = (
        ess_scored.withColumn("__r__", F.row_number().over(w_theta))
        .where(F.col("__r__") == k)
        .select("query_id", F.col("__s__").alias("theta_lb"))
    )
    ness = qb.groupBy("query_id").agg(
        F.sum(F.when(~F.col("is_ess"), F.col("bound_e6")).otherwise(0))
        .cast("long")
        .alias("ness_sum")
    )
    qmeta = ness.join(theta, "query_id", "left").select(
        "query_id",
        (
            F.col("theta_lb").isNotNull()
            & (F.col("ness_sum") < F.col("theta_lb"))
        ).alias("prune"),
    )
    ess_docs = ess_scored.select("query_id", "doc_id").withColumn(
        "__has_ess__", F.lit(True)
    )
    # phase 2: full join, candidates only through the expensive arithmetic
    return (
        tfdl.join(F.broadcast(qb), "term")
        .join(ess_docs, ["query_id", "doc_id"], "left")
        .join(F.broadcast(qmeta), "query_id", "left")
        .where(
            ~F.coalesce(F.col("prune"), F.lit(False))
            | F.coalesce(F.col("__has_ess__"), F.lit(False))
        )
        .select("query_id", "doc_id", "term", "tf", "dl", "idf_e6",
                "n_docs", "n_toks")
    )


def bm25_phrase_topk(
    tfdl: DataFrame,
    df: DataFrame,
    g: DataFrame,
    phrases: DataFrame,
    k: int = 10,
    slop: int = 0,
    require_phrase: bool = True,
) -> DataFrame:
    """Phrase / proximity BM25 top-``k`` over a POSITIONAL index
    (``bm25_stats_positional``) — the second thing a real RAG /
    decontamination user runs after bag-of-words BM25 (the reference's
    fetch-enrich ETL, reference README.md:534-576, is the consumer).

    ``phrases`` is a small (query_id, terms array<string>) table.  A doc
    hits the phrase at base position p iff for every offset o >= 1 the
    o-th term has some position q with p + o <= q <= p + o + ``slop``
    (slop=0 is the exact phrase; slop>0 is Lucene-style proximity).
    ``n_hits`` counts base positions, and scoring is

        score_e6 = bow_bm25_e6(phrase terms, dedup'd)
                 + n_hits * (sum of member idf_e6) * 22000 DIV 10000

    — each full phrase occurrence scores as a virtual term whose idf is
    the members' sum (an AND-semantics rarity lower bound) taken at the
    tf-saturation ceiling tfp_e4 = 22000 (= 44/20 e4), linear in
    n_hits.  All integer (DECIMAL(38,0) products — same headroom story
    as ``bm25_score_topk``), so both engines reproduce it bit-for-bit.
    With ``require_phrase`` (default) only docs containing the phrase
    rank — Lucene PhraseQuery semantics; False gives proximity-BOOSTED
    bag-of-words ranking instead.

    Scale shape: the phrase table is query-grain and broadcasts (with
    idf attached at vocabulary grain); the postings join moves only
    query-term postings WITH their position arrays (payload bounded by
    per-doc tf); the per-(query, doc) fold touches |phrase| arrays; the
    top-k is a |q|-partition rank window.  Nothing corpus-grain after
    the index combine.  Parity-pinned vs ``phrase_hits_py`` +
    ``bm25_score_py`` in tests/test_round11_ops.py."""
    qterms = (
        phrases.select(
            "query_id",
            F.size("terms").cast("long").alias("phrase_len"),
            F.posexplode("terms").alias("offset", "term"),
        )
        .join(df, "term")
        .crossJoin(F.broadcast(g))
        .select(
            "query_id",
            "term",
            F.col("offset").cast("long").alias("offset"),
            "phrase_len",
            F.expr(
                "CAST(1000000 * (2 * n_docs - 2 * df + 1) AS BIGINT) "
                "DIV CAST(2 * df + 1 AS BIGINT)"
            ).alias("idf_e6"),
            "n_docs",
            "n_toks",
        )
    )
    matched = tfdl.join(F.broadcast(qterms), "term")
    # no exchange is pinned here: each lane's aggregate shuffles on its
    # own keys and AQE sizes it.  A shared
    # repartition(defaultParallelism, query_id, doc_id) baked the core
    # count into the plan and was 8-24 % slower than none at both 4 and
    # 8 cores (phrase and proximity top-k at sf0.1, best-of-3).
    # bag-of-words lane: one contribution per DISTINCT (query, term) even
    # when a phrase repeats a term at two offsets
    bow = (
        matched.dropDuplicates(["query_id", "doc_id", "term"])
        # same two-stage projection as bm25_score_topk: DECIMAL only in
        # the once-materialized tf-ratio, int64 split-multiply for the
        # idf product (_SCORE_E6_SQL headroom note)
        .select(
            "query_id",
            "doc_id",
            "idf_e6",
            F.expr(_TFP_E4_SQL).alias("__tfp__"),
        )
        .select(
            "query_id",
            "doc_id",
            F.expr(_SCORE_E6_SQL).alias("s"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("s").cast("long").alias("bow_e6"))
    )
    # phrase lane: fold the offset-sorted position arrays; a doc must
    # match EVERY offset (size(arr) == phrase_len) before the fold runs
    hits = (
        matched.groupBy("query_id", "doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("offset", "positions"))
            ).alias("arr"),
            F.max("phrase_len").alias("phrase_len"),
            F.sum("idf_e6").cast("long").alias("idf_sum_e6"),
        )
        .select(
            "query_id",
            "doc_id",
            "idf_sum_e6",
            F.expr(
                "CAST(CASE WHEN size(arr) = phrase_len THEN "
                "size(aggregate(slice(arr, 2, size(arr) - 1), "
                "element_at(arr, 1).positions, "
                "(acc, x) -> filter(acc, p -> exists(x.positions, "
                f"q -> q >= p + x.offset AND q <= p + x.offset + {slop}"
                ")))) ELSE 0 END AS BIGINT)"
            ).alias("n_hits"),
        )
    )
    scored = (
        bow.join(hits, ["query_id", "doc_id"])
        .select(
            "query_id",
            "doc_id",
            "n_hits",
            F.expr(
                "CAST(bow_e6 + CAST(n_hits AS DECIMAL(38,0)) * idf_sum_e6 "
                "* 22000 DIV 10000 AS BIGINT)"
            ).alias("score_e6"),
        )
    )
    if require_phrase:
        scored = scored.where(F.col("n_hits") >= 1)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e6").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "doc_id", "n_hits", "score_e6")
    )


def phrase_hits_py(
    positions: dict[str, list[int]], terms: list[str], slop: int = 0
) -> int:
    """Single-process phrase/proximity hit count under the SAME
    semantics as ``bm25_phrase_topk``'s fold — the parity oracle for
    tests."""
    if any(t not in positions for t in terms):
        return 0
    acc = list(positions[terms[0]])
    for o, t in enumerate(terms[1:], start=1):
        ps = positions[t]
        acc = [p for p in acc if any(p + o <= q <= p + o + slop for q in ps)]
    return len(acc)


def read_bm25_index(spark, state_dir: str, with_bounds: bool = False):
    """Load the latest COMPLETE version of a ``bm25_index_sink`` state
    directory: returns ``(version, tfdl, df, g)`` — or
    ``(version, tfdl, df, g, bounds)`` with ``with_bounds=True`` (the
    round-12 max-score stat: per-term ``max_tf``, maintained by the sink
    through the max-merge law so pruned serving needs no corpus pass) —
    with version = -1 and None frames when no complete version exists.
    A version is complete when all four stats subdirs carry the writer's
    ``_SUCCESS`` marker — a torn write (crash mid-version) is simply
    never visible to readers, and the replayed batch overwrites it.
    Listing goes through the Hadoop FS API (portable to any defaultFS,
    no driver-side os.listdir assumptions)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return (-1, None, None, None, None) if with_bounds else (
            -1, None, None, None
        )
    versions = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("v")):
            continue
        try:
            v = int(name[1:])
        except ValueError:
            continue
        if all(
            fs.exists(
                jvm.org.apache.hadoop.fs.Path(f"{state_dir}/v{v}/{part}/_SUCCESS")
            )
            for part in ("tfdl", "df", "g", "bounds")
        ):
            versions.append(v)
    if not versions:
        return (-1, None, None, None, None) if with_bounds else (
            -1, None, None, None
        )
    v = max(versions)
    base = f"{state_dir}/v{v}"
    out = (
        v,
        spark.read.parquet(f"{base}/tfdl"),
        spark.read.parquet(f"{base}/df"),
        spark.read.parquet(f"{base}/g"),
    )
    if with_bounds:
        return (*out, spark.read.parquet(f"{base}/bounds"))
    return out


def bm25_index_sink(state_dir: str):
    """``foreachBatch`` maintainer that keeps a BM25 index FRESH under a
    stream of new documents — ``bm25_merge_stats`` ridden on Structured
    Streaming's checkpointed micro-batches (the verdict-10 streaming
    leg; kill-and-resume pinned in tests/test_streaming.py).

    Each batch is a (doc_id, term) occurrence stream (tokenize in the
    stream projection); the sink builds the batch's stats with ONE
    batch-grain combine and folds them into the stored index by the
    additive merge law — O(batch) per micro-batch, independent of the
    accumulated corpus.

    Exactly-once: the additive merge is NOT idempotent, so the sink uses
    the transactional-foreachBatch pattern — state versions are keyed by
    ``batch_id`` (``{state_dir}/v{batch_id}/``), and a batch whose id is
    <= the latest complete version is skipped (an at-least-once
    redelivery recomputes the identical version from the identical
    inputs, or no-ops).  Structured Streaming's checkpoint makes
    batch_id deterministic across restarts, which is what makes this
    sound.  Completeness is the ``_SUCCESS``-marker protocol of
    ``read_bm25_index``; readers never see a torn version.  Callers own
    the disjointness precondition of ``bm25_merge_stats`` (upserts must
    route through a delete-first changeset)."""

    def merge(batch_inv, batch_id: int) -> None:
        spark = batch_inv.sparkSession
        version, tfdl_a, df_a, g_a, bounds_a = read_bm25_index(
            spark, state_dir, with_bounds=True
        )
        if batch_id <= version:
            return  # replayed batch: already folded into the index
        b = bm25_stats(batch_inv)
        b_bounds = bm25_term_bounds(b[0])
        merged = (
            b if tfdl_a is None else bm25_merge_stats(tfdl_a, df_a, g_a, *b)
        )
        bounds = (
            b_bounds
            if bounds_a is None
            else bm25_merge_bounds(bounds_a, b_bounds)
        )
        base = f"{state_dir}/v{batch_id}"
        for part, df_part in zip(
            ("tfdl", "df", "g", "bounds"), (*merged, bounds)
        ):
            df_part.write.mode("overwrite").parquet(f"{base}/{part}")

    return merge


def bm25_score_py(
    docs: dict[int, list[str]], query: list[str]
) -> dict[int, int]:
    """Trivial single-process BM25 under the SAME integer semantics —
    the parity oracle for tests (tests/test_round10_ops.py)."""
    from collections import Counter

    n_docs = len(docs)
    tfs = {d: Counter(ws) for d, ws in docs.items()}
    dls = {d: len(ws) for d, ws in docs.items()}
    n_toks = sum(dls.values())
    dfs: Counter = Counter()
    for c in tfs.values():
        dfs.update(c.keys())
    out: dict[int, int] = {}
    for d, c in tfs.items():
        s = 0
        for t in query:
            tf = c.get(t, 0)
            if tf == 0 or t not in dfs:
                continue
            idf_e6 = (1_000_000 * (2 * n_docs - 2 * dfs[t] + 1)) // (
                2 * dfs[t] + 1
            )
            tfp_e4 = (10_000 * _NUM_C * n_toks * tf) // (
                _DEN_TF * n_toks * tf + _DEN_T * n_toks + _DEN_DL * n_docs * dls[d]
            )
            s += (idf_e6 * tfp_e4) // 10_000
        if s:
            out[d] = s
    return out
