"""Similarity search over embedding columns (``array<float>``).

Two strategies:

- **brute-force cosine top-k** — the exact baseline: broadcast the (small)
  query set against the corpus, dot-product via ``zip_with``/``aggregate``
  (JVM-side, no UDF, no Python), per-query top-k via a rank window keyed by
  query id. The corpus is never shuffled for scoring; the only shuffle is
  the final top-k (rows = |queries| × corpus, pruned at scale by...)
  — for large query sets, salt the window key or pre-aggregate partial
  top-k per partition.
- **IVF (bucketed) top-k** — the scale path: a deterministic coarse
  quantizer (sign bits of the first 8 dimensions → 256 cells) partitions
  the corpus once; each query probes only its own cell. Recall is traded
  for a 256× candidate reduction; the quantizer is pure column algebra so
  the DuckDB oracle reproduces it exactly.

Scale notes (100 TB): corpus-side state is only (id, vector, norm, cell) —
partition by cell and bucket-write for repeated query batches; scoring is
embarrassingly parallel; top-k shuffles only (query_id, k) sized data with
AQE coalescing the tail.
"""

from __future__ import annotations

import math
import re
from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kioss_spark.operators.skew import spread_scan

__all__ = [
    "with_norm",
    "cosine_topk",
    "ivf_cell",
    "ivf_topk",
    "ivf_multiprobe_topk",
    "embedding_dup_pairs",
    "train_ivf",
    "trained_cells",
    "trained_cell_with_dist",
    "ivf_topk_trained",
    "embed_covariance",
    "train_pq",
    "train_opq",
    "pq_encode",
    "ivf_pq_topk",
    "opq_rotate_expr",
]


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — same summation order as the
    DuckDB oracle's list_dot_product, so doubles agree to the last ulp.

    MEASURED (round 4, Spark 4.1, local[32], sf0.1): do NOT "optimize"
    this into an unrolled ``a[0]*b[0] + a[1]*b[1] + ...`` chain — 64
    GetArrayItem nodes per dot made every consumer 3-7x SLOWER (pairwise
    dup scan 1.3s -> 7.9s, trained-IVF 4.4s -> 20s; worst with literal
    centroids, where 16 x 64-term trees bloat analysis/codegen). The
    zip_with/aggregate form is the fast path on modern Spark."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col), v.alias("v"), F.sqrt(_dot(v, v)).alias("nv")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    decimals: int = 5,
    partial: bool = True,
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus.

    Inputs are ``with_norm`` outputs. Scores are rounded *before* ranking
    (cross-engine float discipline) with id as the deterministic tiebreak.

    ``partial=True`` inserts a per-batch partial top-k between scoring and
    the rank window: scoring stays JVM-side (zip_with/aggregate under
    codegen), then each Arrow batch keeps only its local best k per query —
    a narrow, bounded-output stage — so the window shuffles
    |queries| × k × batches rows instead of |queries| × |corpus|. Global
    top-k is preserved exactly: every true top-k row is by definition in its
    own batch's top-k. (A pure-DataFrame map-side top-k isn't expressible —
    collect_list partial-agg state is unbounded — so this is the documented
    Pandas-UDF seam, per the engine's UDF policy.)
    """
    scored = corpus.alias("c").crossJoin(F.broadcast(queries.alias("q"))).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("cand_id"),
        F.floor(
            _dot(F.col("q.v"), F.col("c.v")) / (F.col("q.nv") * F.col("c.nv")) * 100000
        ).cast("long").alias("score_e5"),
    )
    if partial:
        scored = _partial_topk(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.col("score_e5").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def _partial_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-Arrow-batch local top-k per query_id (score desc, cand_id asc
    tiebreak) — the bounded-output stage between JVM scoring and the rank
    window. Exact: every global top-k row is in its own batch's top-k.
    Works for any schema carrying (query_id, score_e5, cand_id)."""

    def _local_topk(batches):
        for pdf in batches:
            yield (
                pdf.sort_values(
                    ["query_id", "score_e5", "cand_id"],
                    ascending=[True, False, True],
                )
                .groupby("query_id", sort=False)
                .head(k)
            )

    return scored.mapInPandas(_local_topk, schema=scored.schema)


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    label_col: str = "label",
    partial: bool = True,
) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for each
    query vector, the ``k`` most-cosine-similar corpus vectors with a
    DIFFERENT ``label_col`` — the near-miss negatives that make a
    contrastive batch informative (random negatives are trivially easy;
    the hard ones sit just across the class boundary). Returns
    (query_id, query_label, cand_id, cand_label, score_e5, rnk).

    Inputs are ``with_norm`` outputs carrying ``label_col``. Same scale
    shape as ``cosine_topk`` INCLUDING its per-batch partial top-k stage
    (``partial=True``): the query side is broadcast (queries are the
    small side by construction), scoring is the JVM fold dot under
    codegen, the label-mismatch predicate prunes before scoring, each
    Arrow batch then keeps only its local best k per query, so the rank
    window shuffles |queries| x k x batches rows, not
    |queries| x |corpus| — the corpus is scanned once, never shuffled on
    a non-key. Scores floor-integerized at e5 with cand_id tiebreak, so
    ranking is deterministic cross-engine.
    For billion-scale corpora swap the scoring stage for the trained-IVF
    candidate generator (``ivf_topk_trained``) and apply the label
    filter to its candidates — same contract, sublinear scan."""
    scored = corpus.alias("c").crossJoin(F.broadcast(queries.alias("q"))).where(
        F.col("q." + label_col) != F.col("c." + label_col)
    ).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("q." + label_col).alias("query_label"),
        F.col("c.vec_id").alias("cand_id"),
        F.col("c." + label_col).alias("cand_label"),
        F.floor(
            _dot(F.col("q.v"), F.col("c.v")) / (F.col("q.nv") * F.col("c.nv")) * 100000
        ).cast("long").alias("score_e5"),
    )
    if partial:
        scored = _partial_topk(scored, k)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e5").desc(), F.col("cand_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def ivf_cell(vec: Column, n_bits: int = 8) -> Column:
    """Deterministic coarse quantizer: cell id from the sign bits of the
    first ``n_bits`` dimensions (0..2^n_bits-1). A stand-in for k-means
    centroids that needs no training pass and is oracle-reproducible."""
    cell = F.lit(0).cast("long")
    for i in range(n_bits):
        cell = cell + F.when(F.element_at(vec, i + 1) > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return cell


def ivf_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5, decimals: int = 5
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's cell.
    Join key = cell (equi-join, shuffle-or-broadcast chosen by Catalyst) —
    candidate count drops ~256× vs brute force."""
    # corpus-side encode/score expressions fuse into the corpus
    # scan stage: spread a narrow (single-split) scan across the
    # cores first or they evaluate on ONE task (guide §2.5;
    # no-op whenever the scan already yields >= cores splits)
    corpus = spread_scan(corpus)
    qc = queries.withColumn("cell", ivf_cell(F.col("v")))
    cc = corpus.withColumn("cell", ivf_cell(F.col("v")))
    scored = cc.alias("c").join(F.broadcast(qc.alias("q")), on="cell").select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("cand_id"),
        F.floor(
            _dot(F.col("q.v"), F.col("c.v")) / (F.col("q.nv") * F.col("c.nv")) * 100000
        ).cast("long").alias("score_e5"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score_e5").desc(), F.col("cand_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def ivf_multiprobe_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5, n_bits: int = 8
) -> DataFrame:
    """IVF top-k with Hamming-1 multi-probe: each query scores its own cell
    PLUS the ``n_bits`` cells one sign-flip away (9 probes at 8 bits).

    Single-probe IVF misses neighbors whose vector sits just across a sign
    boundary on one quantizer dimension — the dominant recall loss of
    cell-bucketed ANN. Probing the Hamming-1 shell recovers exactly those,
    for ~9/256 of the brute-force candidate volume. Implementation is one
    ``explode`` of the probe-cell array then the same equi-join as
    single-probe — candidate generation stays keyed, never all-pairs; the
    probe count is the recall/cost dial (Hamming-2 for higher recall).
    Deterministic (sign-bit quantizer, integer cell ids), so the DuckDB
    oracle reproduces the probe set exactly.
    """
    qc = queries.withColumn("cell0", ivf_cell(F.col("v"), n_bits))
    probes = F.array(
        F.col("cell0"), *[F.col("cell0").bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)]
    )
    qp = qc.select(
        F.col("vec_id"), F.col("v"), F.col("nv"), F.explode(probes).alias("cell")
    )
    cc = corpus.withColumn("cell", ivf_cell(F.col("v"), n_bits))
    scored = cc.alias("c").join(F.broadcast(qp.alias("q")), on="cell").select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("cand_id"),
        F.floor(
            _dot(F.col("q.v"), F.col("c.v")) / (F.col("q.nv") * F.col("c.nv")) * 100000
        ).cast("long").alias("score_e5"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score_e5").desc(), F.col("cand_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def _pairwise_cells(cells: DataFrame, threshold: float, scorer: str) -> DataFrame:
    """Shared within-cell pairwise cosine stage for the dup-pair operators:
    (id_a, id_b, cell, cosine_e5) for every same-cell pair at or above the
    threshold. ``scorer="exact"`` = JVM self-join + fold dot (oracle-bit-
    exact); ``scorer="arrow"`` = one numpy float64 matmul per cell via
    applyInPandas (the scale path — measured 9x at 20k vectors; last-ulp
    divergence possible only for pairs exactly at the threshold; one cell
    must fit in one task's memory, so scale the cell count with the
    corpus)."""
    if scorer == "arrow":
        min_e5 = int(threshold * 100000)

        def _per_cell(key, pdf):
            import numpy as np
            import pandas as pd

            ids = pdf["vec_id"].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            V = np.stack(pdf["v"].to_numpy())[order]
            nv = pdf["nv"].to_numpy()[order]
            S = (V @ V.T) / np.outer(nv, nv)
            iu = np.triu_indices(len(ids), k=1)
            sc = np.floor(S[iu] * 100000).astype("int64")
            m = sc >= min_e5
            return pd.DataFrame(
                {
                    "id_a": ids[iu[0][m]],
                    "id_b": ids[iu[1][m]],
                    "cell": np.full(int(m.sum()), key[0], dtype="int64"),
                    "cosine_e5": sc[m],
                }
            )

        return (
            cells.select("vec_id", "v", "nv", "cell")
            .groupBy("cell")
            .applyInPandas(
                _per_cell, "id_a long, id_b long, cell long, cosine_e5 long"
            )
        )
    pairs = (
        cells.alias("a")
        .join(cells.alias("b"), on="cell")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("cell"),
            F.floor(
                _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv")) * 100000
            ).cast("long").alias("cosine_e5"),
        )
    )
    return pairs.where(F.col("cosine_e5") >= int(threshold * 100000))


def embedding_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_bits: int = 8,
    scorer: str = "arrow",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b) with
    cosine >= threshold, candidates bucketed by the sign-bit cell.

    Near-identical vectors have (near-)identical sign patterns, so the cell
    equi-join is the candidate generator — cost ∝ sum of cell sizes squared
    / #cells, not corpus². A vector pair straddling a sign boundary on some
    dimension can be missed (approximate by design, like MinHash banding);
    tighter recall = fewer bits or multi-probe. Deterministic, so the
    DuckDB oracle reproduces the same candidate set exactly.

    ``scorer`` defaults to ``"arrow"`` — the scale path (one numpy matmul
    per cell, measured 9x over the JVM fold at 20k vectors) and the right
    default for users; pass ``"exact"`` only when bit-parity with a SQL
    oracle at the threshold boundary matters (the registered oracle
    queries pin it). Sizing: one cell must fit in one task's memory, so
    grow ``n_bits`` (cell count 2**n_bits) with the corpus to keep cells
    ~constant-size.
    """
    cells = vectors.withColumn("cell", ivf_cell(F.col("v"), n_bits))
    return _pairwise_cells(cells, threshold, scorer).drop("cell")


# ---------------------------------------------------------------------------
# Trained IVF (data-adapted coarse quantizer)
# ---------------------------------------------------------------------------


def _dot_py(a, b) -> float:
    """Driver-side left-fold dot product — same accumulation order as
    ``_dot`` and DuckDB's ``list_dot_product`` (cross-engine parity)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _md5_key() -> Column:
    """Content-free deterministic order key: the first 15 hex digits of
    md5(vec_id) as a long — reproducible across runs and engines (the
    oracles compute the same key), no rand()."""
    return F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")


def _md5_sample(corpus: DataFrame, n: int) -> list:
    """The first ``n`` corpus rows (vec_id, v) in md5(vec_id) order — the
    SQL-expressible (ORDER BY md5 LIMIT n) sample every trainer here
    draws from. One tiny collect at plan-build time."""
    return (
        corpus.orderBy(_md5_key(), F.col("vec_id"))
        .limit(n)
        .select("vec_id", "v")
        .collect()
    )


def _assign_cell(df: DataFrame, cents) -> DataFrame:
    """Add the nearest-centroid ``cell`` of ``v`` (literal-folded argmin,
    zero shuffle), sharing one precomputed v·v across the centroid terms."""
    return (
        df.withColumn("__vv__", _dot(F.col("v"), F.col("v")))
        .withColumn(
            "cell", trained_cells(F.col("v"), cents, nprobe=1, vv=F.col("__vv__"))
        )
        .drop("__vv__")
    )


def _probe_cells(df: DataFrame, cents, nprobe: int, *cols) -> DataFrame:
    """``cols`` plus one row per probed ``cell`` — the ``nprobe`` nearest
    centroids of ``v`` (query-side multi-probe)."""
    return df.withColumn("__vv__", _dot(F.col("v"), F.col("v"))).select(
        *cols,
        F.explode(
            trained_cells(F.col("v"), cents, nprobe=nprobe, vv=F.col("__vv__"))
        ).alias("cell"),
    )


def train_ivf(corpus: DataFrame, n_centroids: int = 16, iters: int = 0):
    """Train a coarse-quantizer centroid table on the corpus; returns
    ``[(cid, [float, ...]), ...]`` (driver-side list — the centroid table
    is tiny and travels into plans as literal expressions, so assignment
    is pure codegen with ZERO shuffle).

    - ``iters=0`` (default): deterministic Forgy sample — the
      ``n_centroids`` corpus vectors first in md5(vec_id) order. Fully
      SQL-expressible, so queries built on it stay oracle-checkable.
    - ``iters>0``: Lloyd refinement with INTEGERIZED updates — per-cell
      coordinate sums are accumulated as ``floor(x*1e6)`` longs (integer
      addition is order-independent across partitions, unlike double
      sums), so the refined centroids are bit-deterministic run-to-run.
      Each iteration is one assignment pass + one keyed agg.

    Recall vs the sign-bit quantizer (``ivf_cell``), measured on the
    driver fixture (sf0.01, 484 corpus / 16 query vectors, k=5), at the
    SAME cell count (16): sign-bit(4-bit) 18.75%, Forgy 26.25%, Forgy
    nprobe=3 50% (brute force = 100%; sign-bit(8-bit, 256 cells) drops
    to 1.25% on this corpus). Sign-bit splits space by coordinate signs
    regardless of where the data lives — anisotropic embeddings land in
    a few huge cells (poor pruning) or empty ones (poor recall); trained
    centroids follow the density, and query-side nprobe is the recall
    dial. The sign-bit form stays the zero-training oracle-default; this
    is the production path.

    Runs small jobs at plan-build time (training IS an action) — the one
    documented exception to declare-then-execute, matching the
    "computed once, broadcast" contract.
    """
    cents = [(i, list(r["v"])) for i, r in enumerate(_md5_sample(corpus, n_centroids))]
    for _ in range(iters):
        cell = trained_cells(F.col("v"), cents, nprobe=1)
        sums = (
            corpus.withColumn("cell", cell)
            .select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.floor(F.col("x") * 1000000).cast("long")).alias("s_e6"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cell: dict = {}
        for r in sums:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = (r["s_e6"], r["n"])
        new = []
        for cid, old in cents:
            if cid in by_cell:
                dim = by_cell[cid]
                new.append(
                    (cid, [dim[p][0] // dim[p][1] / 1000000.0 for p in range(len(old))])
                )
            else:  # empty cell keeps its centroid (standard Lloyd choice)
                new.append((cid, old))
        cents = new
    return cents


def _sql_double(x: float) -> str:
    """Spark-SQL double literal whose parsed value is bit-identical to the
    Python float (repr round-trips; Double.parseDouble rounds to the same
    nearest double).  Non-finite values would render as ``infD``/``nanD``
    — not valid Spark SQL literals — so they raise here with the offending
    value named instead of failing opaquely at ``F.expr`` parse time (a
    corrupt embedding can propagate inf/NaN through ``train_ivf``'s
    centroid means)."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(
            f"non-finite centroid component {x!r} cannot be rendered as a "
            "Spark SQL double literal; check the input embeddings for "
            "inf/NaN before training"
        )
    return repr(x) + "D"


def _dot_sql(a: str, b: str) -> str:
    """``_dot`` as a SQL string (same left fold), for expressions rendered
    whole and parsed with one F.expr call."""
    return (
        "aggregate(zip_with(" + a + "," + b + ",(x,y)->x*y),"
        "CAST(0.0D AS DOUBLE),(acc,x)->acc+x)"
    )


def _arr_sql(xs) -> str:
    """A literal double array as SQL."""
    return "array(" + ",".join(_sql_double(x) for x in xs) + ")"


def _arr2_sql(rows) -> str:
    """A literal array of double arrays as SQL (centroid tables, rotation
    rows) — one F.expr parse instead of thousands of py4j Column calls."""
    return "array(" + ",".join(_arr_sql(r) for r in rows) + ")"


def _sql_col(c) -> str:
    """Render a column reference for embedding in a SQL-string expression.
    Accepts a plain name or a SIMPLE named Column; anything else (computed
    columns, exotic reprs, a future Column.__repr__ format change) raises
    instead of silently rendering a different SQL expression."""
    if isinstance(c, str):
        text = c
    else:
        text = str(c)  # "Column<'v'>"
        if text.startswith("Column<'") and text.endswith("'>"):
            text = text[len("Column<'") : -len("'>")]
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?", text):
        raise ValueError(
            f"trained_cells needs a plain column name or simple named Column; "
            f"got {text!r}"
        )
    return text


def _dist2_sql(vec_sql: str, cv: list, cc: float, vv_sql: Optional[str] = None) -> str:
    """Integerized squared L2 distance to a literal centroid:
    ``floor((v.v - 2*v.c + c.c) * 1e6)`` with the same fold order on both
    engines (``c.c`` precomputed driver-side with the same left fold).
    Rendered as a SQL STRING, not a Column tree: building this expression
    out of F.array(*[F.lit(x) ...]) costs 65 py4j round-trips per centroid
    per reference — with 16 centroids referenced ~2x per query that is
    ~15k driver-side calls, measured as ~2.3s of plan-BUILD time (vs 0.25s
    of training and ~1.5s of execution) in the trained-IVF queries. One
    F.expr parse replaces all of it; the parsed plan is the same literal
    arithmetic either way."""
    if vv_sql is None:
        vv_sql = _dot_sql(vec_sql, vec_sql)
    return (
        "CAST(floor((" + vv_sql + " - 2 * " + _dot_sql(vec_sql, _arr_sql(cv))
        + " + " + _sql_double(cc) + ") * 1000000) AS BIGINT)"
    )


def _argmin_sql(vec_sql: str, table, vv_sql: Optional[str] = None) -> str:
    """``array_sort`` over one ``named_struct('d', d2_e6, 'cid', id)`` per
    literal ``(id, vector)`` row of ``table``: element ``[0]`` is the
    nearest row (integerized distance, id tiebreak), a ``slice`` of it
    the nearest few. The one argmin form behind coarse cells, their
    distances and PQ codes."""
    structs = [
        "named_struct('d',"
        + _dist2_sql(vec_sql, cv, _dot_py(cv, cv), vv_sql)
        + ",'cid',CAST(" + str(int(cid)) + " AS BIGINT))"
        for cid, cv in table
    ]
    return "array_sort(array(" + ",".join(structs) + "))"


def trained_cells(
    vec, centroids, nprobe: int = 1, vv=None
) -> Column:
    """Nearest-centroid cell id(s) as a pure column expression (no join,
    no shuffle — the centroid table is folded into codegen as literals).

    ``nprobe=1`` returns the argmin cell (cid tiebreak); ``nprobe>1``
    returns an array of the ``nprobe`` nearest cells (query-side
    multi-probe — the standard IVF recall dial). ``vv`` (precomputed v.v)
    shrinks the expression tree ~2x — the argmin is unaffected by the
    shared v.v term's value, but the integerized distances must round
    identically to the oracle's, so it stays in the formula.

    ``vec``/``vv`` take a column NAME or a simple named Column; the whole
    argmin tree is rendered as one SQL string and parsed with a single
    F.expr call (see _dist2_sql for why)."""
    arr = _argmin_sql(_sql_col(vec), centroids, None if vv is None else _sql_col(vv))
    if nprobe == 1:
        return F.expr(arr + "[0].cid")
    return F.expr(
        "transform(slice(" + arr + ",1," + str(int(nprobe)) + "),s->s.cid)"
    )


def trained_cell_with_dist(vec, centroids, vv=None) -> Column:
    """Argmin cell AND its integerized squared distance, as one struct
    column ``named_struct('d', d2_e6, 'cid', cell)`` — the form outlier
    detection needs (``trained_cells`` discards the distance). Same
    zero-shuffle literal-folded expression, same single-F.expr rendering,
    same d2 rounding contract as the oracle's ``_D2``; because the
    distance VALUE is the output here, ``vv`` must be the true v·v column
    (it is not a shared-term shortcut as in the argmin-only form)."""
    vv_sql = None if vv is None else _sql_col(vv)
    return F.expr(_argmin_sql(_sql_col(vec), centroids, vv_sql) + "[0]")


def ivf_topk_trained(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    iters: int = 0,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k over a TRAINED coarse quantizer: centroids from
    ``train_ivf`` (Forgy sample by default, optional integerized Lloyd),
    assignment folded into the scan as literal expressions. The only
    shuffles are the cell equi-join (broadcast at small |q|) and the final
    per-query top-k — corpus assignment itself is narrow codegen.

    Sizing (measured on the sf0.01 fixture, 16 cells, RECALL.md):
    top-5 recall vs brute force is 26% at nprobe=1, 50% at nprobe=3 —
    recall scales roughly with the probed corpus fraction
    (~nprobe/n_centroids until diminishing returns), so the default is
    nprobe=4 (a quarter of the default 16 cells). Standard IVF practice
    at scale: ``n_centroids ≈ sqrt(corpus)`` keeps cells
    ~sqrt(corpus)-sized, and nprobe 5-25% of n_centroids dials
    recall-vs-cost; use ``cosine_topk`` (brute force) when exact recall
    is required, and the ``ivf_topk_int8`` serving path for memory-bound
    corpora.
    """
    # corpus-side encode/score expressions fuse into the corpus
    # scan stage: spread a narrow (single-split) scan across the
    # cores first or they evaluate on ONE task (guide §2.5;
    # no-op whenever the scan already yields >= cores splits)
    corpus = spread_scan(corpus)
    cents = train_ivf(corpus, n_centroids=n_centroids, iters=iters)
    cc = _assign_cell(corpus, cents)
    if nprobe == 1:
        qc = _assign_cell(queries, cents)
    else:
        qc = _probe_cells(queries, cents, nprobe, "vec_id", "v", "nv")
    scored = cc.alias("c").join(F.broadcast(qc.alias("q")), on="cell").select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("cand_id"),
        F.floor(
            _dot(F.col("q.v"), F.col("c.v")) / (F.col("q.nv") * F.col("c.nv")) * 100000
        ).cast("long").alias("score_e5"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score_e5").desc(), F.col("cand_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def semantic_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    iters: int = 0,
    scorer: str = "arrow",
    nprobe: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the TRAINED coarse
    quantizer (``train_ivf`` — deterministic Forgy sample, optional
    integerized Lloyd), then emit all within-cell pairs with
    cosine >= threshold. Returns (id_a, id_b, cell, cosine_e5).

    This is the trained-centroid upgrade of ``embedding_dup_pairs``: sign-bit
    cells split space by coordinate signs regardless of density, so on real
    (anisotropic) embeddings most mass lands in a few huge cells — the
    pairwise stage degrades toward corpus². Trained centroids follow the
    density, keeping cells balanced, and SemDeDup's semantics ARE
    within-cluster comparison, so candidate generation is exactly the cell
    equi-join: cost ∝ Σ cell², never corpus². Assignment is literal-folded
    codegen (zero shuffle); the only shuffles are the self-join's hash
    exchange on cell. Deterministic end-to-end, so the DuckDB oracle
    reproduces candidates AND scores exactly (iters=0 form).

    ``scorer`` picks the pairwise stage:

    - ``"arrow"`` (default — the SCALE path): per-cell Arrow group + one
      numpy float64 matmul per cell (measured 9x over the fold at a 20k
      corpus / 128 cells / ~3M candidate pairs: ~17.6s vs 160s on
      local[32]). Scores differ from the fold order only in the last
      ulp, so floor(x*1e5) can flip ±1 at the boundary; pair membership
      can therefore differ EXACTLY at cosine == threshold
      (property-tested agreement away from the boundary). Constraint:
      one cell must fit in one task's memory — the same bound SemDeDup's
      own per-cluster comparison has; raise ``n_centroids`` (∝ corpus
      size, cells stay ~constant) to hold it.
    - ``"exact"``: JVM cell self-join + per-pair fold dot — bit-exact
      against a SQL oracle (the registered oracle queries pin it), but
      the interpreted higher-order dot is the bottleneck once cells hold
      thousands of vectors. Use only for cross-engine parity checks.

    ``nprobe`` is the RECALL dial for pairs straddling a cell boundary
    (SemDeDup's known blind spot — near-dups assigned to different
    clusters are never compared): each vector joins its ``nprobe``
    nearest cells, pairs sharing ANY probed cell are scored, and
    duplicates collapse to the smallest shared cell. Candidate cost
    scales ~nprobe² (each cell holds ~nprobe× more vectors), so this
    buys recall with compute, not memory. Measured on the sf0.01
    fixture (16 cells, threshold 0.4, vs exact all-pairs): 32.2% recall
    at nprobe=1 → 57.6% at nprobe=2 (RECALL.md; precision stays 1.0 —
    candidates are verified exactly)."""
    cents = train_ivf(vectors, n_centroids=n_centroids, iters=iters)
    if nprobe == 1:
        return _pairwise_cells(_assign_cell(vectors, cents), threshold, scorer)
    cells = _probe_cells(vectors, cents, nprobe, "vec_id", "v", "nv")
    pairs = _pairwise_cells(cells, threshold, scorer)
    # a pair sharing several probed cells appears once per shared cell;
    # scores are identical (same vectors), so collapse deterministically
    # to the smallest cell id — one pair-keyed agg, candidate-bounded
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.min("cell").alias("cell"), F.min("cosine_e5").alias("cosine_e5"))
        .select("id_a", "id_b", "cell", "cosine_e5")
    )


def quantize_int8(
    vectors: DataFrame, vec_col: str = "v", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization for embedding storage:
    scale = max(|v_i|), q_i = round(v_i / scale * 127) — the 4x storage /
    bandwidth reduction every vector store applies before ANN serving
    (dequantize as q_i * scale / 127; cosine on int8 is exact enough for
    candidate generation, rescore survivors in float). Returns
    (id, scale, q array<int>). Zero vectors quantize to zeros with
    scale 0. Pure column algebra — narrow, zero shuffle, partitioned
    exactly like the input scan at any corpus size."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(scale == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.round(x / scale * 127).cast("int"))
    )
    return vectors.select(
        F.col(id_col), scale.alias("scale"), q.alias("q")
    )


def _dequant(q: Column, scale: Column) -> Column:
    """Dequantize int8 codes: dq_i = q_i * scale / 127 (per-element, no
    accumulation — bit-identical on both engines)."""
    return F.transform(q, lambda x: x.cast("double") * scale / 127)


def ivf_topk_int8(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 3,
) -> DataFrame:
    """The ANN SERVING path: trained-IVF candidate generation, scoring on
    DEQUANTIZED int8 codes (what a vector store holds in memory — 4x the
    corpus per node vs float32), exact float rescore carried alongside.
    Returns (query_id, cand_id, score_int8_e5, score_exact_e5, rnk) —
    ranked by the int8 score, with the float score exposing the
    quantization error the serving tier accepts.

    Composition of the existing pieces: train_ivf centroids (literal-
    folded assignment, zero shuffle), quantize_int8 codes, cell equi-join
    with broadcast query side, per-query rank window. Deterministic
    end-to-end (codes, scales, and both scores), so the oracle reproduces
    the full serving pipeline including its approximation error.
    """
    # corpus-side encode/score expressions fuse into the corpus
    # scan stage: spread a narrow (single-split) scan across the
    # cores first or they evaluate on ONE task (guide §2.5;
    # no-op whenever the scan already yields >= cores splits)
    corpus = spread_scan(corpus)
    cents = train_ivf(corpus, n_centroids=n_centroids, iters=0)

    def with_codes(df):
        # inline the quantization columns (same expressions as
        # quantize_int8) — a join back on vec_id would add a shuffle for
        # what is narrow per-row algebra
        v = F.col("v")
        scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
        q = F.when(scale == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
            F.transform(v, lambda x: F.round(x / scale * 127).cast("int"))
        )
        return df.withColumn("scale", scale).withColumn("q", q)

    cc = _assign_cell(with_codes(corpus), cents)
    qc = _probe_cells(
        with_codes(queries), cents, nprobe, "vec_id", "v", "nv", "scale", "q"
    )
    dq_q = _dequant(F.col("q.q"), F.col("q.scale"))
    dq_c = _dequant(F.col("c.q"), F.col("c.scale"))
    scored = cc.alias("c").join(F.broadcast(qc.alias("q")), on="cell").select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("cand_id"),
        F.floor(
            _dot(dq_q, dq_c)
            / (F.sqrt(_dot(dq_q, dq_q)) * F.sqrt(_dot(dq_c, dq_c)))
            * 100000
        ).cast("long").alias("score_int8_e5"),
        F.floor(
            _dot(F.col("q.v"), F.col("c.v")) / (F.col("q.nv") * F.col("c.nv")) * 100000
        ).cast("long").alias("score_exact_e5"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_int8_e5").desc(), F.col("cand_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)


def embed_covariance(
    df: DataFrame, vec_col: str = "embedding", scale: int = 1000
) -> DataFrame:
    """Exact integerized covariance matrix of an embedding column — the
    anisotropy/collapse diagnostic (a near-rank-deficient covariance
    means the encoder collapsed; the diagonal is per-dimension variance,
    the input to whitening and to PCA-based dedup/dim-reduction
    decisions). Embeddings are integerized as ``floor(x * scale)`` so
    every sum is BIGINT-exact and the result engine-reproducible — float
    covariance differs across summation orders by design.

    Returns one row per unordered dimension pair (i <= j, 0-based):
    ``(i, j, n, sxy, sxi, sxj, cov_e6)`` with
    ``cov_e6 = floor((n*sxy - sxi*sxj) / n^2)`` evaluated in IEEE double
    (inputs bounded by scale^2 * n^2 — keep under 2^53 by sizing
    ``scale``; at e3 and 64 dims that holds to ~10M vectors, beyond
    which accumulate in DECIMAL instead).

    Scale shape: per-Arrow-batch numpy ``X.T @ X`` partials emit a
    CONSTANT d*(d+1)/2 rows per batch regardless of batch size — the
    classic partial-aggregation form; the only shuffle carries
    d^2-per-batch partial rows, never vectors. Python here is the
    vectorized-matmul fast path, not a per-row UDF (the JVM alternative
    explodes d^2 rows per VECTOR)."""
    import numpy as np
    import pandas as pd

    out_schema = (
        "i int, j int, n long, sxy long, sxi long, sxj long"
    )

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.floor(
                np.array(pdf[vec_col].tolist(), dtype=np.float64) * float(scale)
            ).astype(np.int64)
            sx = X.sum(axis=0)
            sxy = X.T @ X
            iu, ju = np.triu_indices(X.shape[1])
            yield pd.DataFrame(
                {
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "n": np.full(len(iu), X.shape[0], dtype=np.int64),
                    "sxy": sxy[iu, ju],
                    "sxi": sx[iu],
                    "sxj": sx[ju],
                }
            )

    parts = df.select(vec_col).mapInPandas(partials, schema=out_schema)
    agg = parts.groupBy("i", "j").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sxy").cast("long").alias("sxy"),
        F.sum("sxi").cast("long").alias("sxi"),
        F.sum("sxj").cast("long").alias("sxj"),
    )
    return agg.select(
        "i",
        "j",
        "n",
        "sxy",
        "sxi",
        "sxj",
        F.expr(
            "CAST(floor((1.0D*n*sxy - 1.0D*sxi*sxj) / (1.0D*n*n)) AS BIGINT)"
        ).alias("cov_e6"),
    )


def cluster_stratified_sample(
    corpus: DataFrame, n_centroids: int = 16, per_cell: int = 5, iters: int = 0
) -> DataFrame:
    """Cluster-balanced corpus sampling (the DataComp/SemDeDup curation
    move): train a coarse quantizer, assign every vector to its nearest
    cell as pure literal-folded codegen (zero shuffle — same machinery as
    ``ivf_topk_trained``), then keep the ``per_cell`` first vectors per
    cell in deterministic md5(vec_id) order. A uniform sample of a skewed
    corpus reproduces the skew; this stratification caps every semantic
    cluster's contribution, which is how diversity-balanced eval subsets
    and mixture-controlled training slices are actually cut.

    Expects ``with_norm`` output (columns ``vec_id``, ``v``). Returns
    (vec_id, cell, rn) for the selected rows. The only shuffle is the
    per-cell rank window, keyed on cell — at scale, size ``n_centroids ∝
    corpus`` (the SemDeDup sizing rule) so strata stay bounded and the
    window never sees a giant partition. The md5 order is a content-free
    deterministic shuffle: reproducible across runs and engines, no
    rand() (reference ordering-discipline analog:
    /root/reference/streamable/stream.py distinct/group determinism).
    """
    cents = train_ivf(corpus, n_centroids=n_centroids, iters=iters)
    assigned = corpus.select(
        "vec_id",
        trained_cells(F.col("v"), cents, nprobe=1).alias("cell"),
        _md5_key().alias("h"),
    )
    w = Window.partitionBy("cell").orderBy("h", "vec_id")
    return (
        assigned.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= per_cell)
        .select("vec_id", "cell", "rn")
    )


def recall_at_k(truth: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against exact
    truth — the eval every ANN deployment runs before trusting its index
    (reference test-discipline analog: the per-operator oracle checks in
    /root/reference/tests/test_stream.py; here the "oracle" is the exact
    scorer itself). Both inputs carry (query_id, cand_id).

    Returns (query_id, hits, recall_e2). The denominator is the MEASURED
    per-query truth count, not the requested ``k``: when a query's
    candidate set holds fewer than k rows, a perfect approximation still
    scores 100 (``k`` is kept in the signature as the call-site record of
    the top-k the inputs were built with). The join is keyed on
    (query_id, cand_id) over two |queries|×k-row inputs — both sides are
    k-bounded per query regardless of corpus size, so the eval costs the
    two top-k runs plus an O(|queries|·k) join: safe to run on a sampled
    query set against a 100 TB corpus.
    """
    hit = approx.select("query_id", "cand_id").withColumn("hit", F.lit(1))
    return (
        truth.select("query_id", "cand_id")
        .join(hit, on=["query_id", "cand_id"], how="left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("hits"),
            F.count(F.lit(1)).cast("long").alias("n_truth"),
        )
        .select(
            "query_id",
            "hits",
            F.floor(F.col("hits") * 100 / F.col("n_truth"))
            .cast("long")
            .alias("recall_e2"),
        )
    )


def ivf_index_ingest(
    base: DataFrame, batch: DataFrame, n_centroids: int = 16
) -> DataFrame:
    """Incremental IVF index maintenance: assign an ingest batch to the
    centroids TRAINED ON THE EXISTING CORPUS (no retrain) and report
    per-cell growth — the upkeep loop that keeps a serving index alive
    between retrains. A cell the batch grows past +50% is flagged as a
    retrain candidate (its residual quantization error is no longer the
    error the recall numbers were measured at).

    Inputs are ``with_norm`` outputs (vec_id, v). Returns one row per
    centroid cell: (cell, n_base, n_new, growth_e6, retrain_flag).

    Scale shape: both assignments are literal-folded zero-shuffle codegen
    (the ``ivf_topk_trained`` serving machinery); the only shuffles are
    two cell-keyed aggs whose output is bounded at ``n_centroids`` rows,
    and the per-batch cost is O(batch) — the corpus is scanned once for
    counts and never re-trained. Forgy seeding keeps the whole report
    SQL-reproducible.
    """
    cents = train_ivf(base, n_centroids=n_centroids, iters=0)
    b = base.select(trained_cells(F.col("v"), cents, nprobe=1).alias("cell")).groupBy(
        "cell"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_base"))
    nw = batch.select(trained_cells(F.col("v"), cents, nprobe=1).alias("cell")).groupBy(
        "cell"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    return (
        b.join(nw, on="cell", how="full_outer")
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.coalesce(F.col("n_base"), F.lit(0)).cast("long").alias("n_base"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
        )
        .select(
            "cell",
            "n_base",
            "n_new",
            F.when(
                F.col("n_base") > 0,
                F.floor(F.col("n_new") * 1000000 / F.col("n_base")),
            ).cast("long").alias("growth_e6"),
        )
        .select(
            "cell",
            "n_base",
            "n_new",
            "growth_e6",
            F.coalesce(F.col("growth_e6") > 500000, F.lit(True))
            .cast("int")
            .alias("retrain_flag"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the storage-compression half of FAISS-style
# IVFPQ serving: the coarse quantizer (train_ivf/trained_cells) prunes the
# corpus to candidate cells; PQ codes replace each 64-dim float vector with
# m small codebook indices so the serving tier holds the whole corpus in
# memory; asymmetric-distance (ADC) lookups score candidates without ever
# touching the float vectors; an exact rescore column quantifies the error.
# The ladder composes FAISS-style from two switches ("OPQ,IVF,PQ"): codes
# quantize v, the residual v − centroid(cell) (Jégou et al. 2011 §III),
# the rotation R·v (OPQ, Ge et al. 2013), or R·(v − centroid(cell)).
# ---------------------------------------------------------------------------


def _cents_arr_sql(cents) -> str:
    """The centroid table as ONE literal array-of-arrays ordered by cid,
    for ``element_at(..., cell + 1)`` lookups inside residual expressions."""
    ordered = sorted(cents, key=lambda t: t[0])
    if [cid for cid, _ in ordered] != list(range(len(ordered))):
        raise ValueError("centroid ids must be contiguous 0..n-1 for element_at lookup")
    return _arr2_sql(cv for _, cv in ordered)


def _assign_cell_py(v, cents):
    """Driver-side coarse-cell argmin replicating ``trained_cells``' exact
    integerized-d2 + cid tie-break (same IEEE operation order as
    _dist2_sql: floor((v.v - 2*v.c + c.c) * 1e6), left-fold dots), so a
    residual computed in Python matches the one either engine computes."""
    vv = _dot_py(v, v)
    best = None
    for cid, cv in cents:
        d2 = math.floor((vv - 2 * _dot_py(v, cv) + _dot_py(cv, cv)) * 1000000)
        key = (d2, cid)
        if best is None or key < best[0]:
            best = (key, cv)
    return best[1]


def _train_sample(corpus: DataFrame, n: int, cents=None, offset: Optional[int] = None):
    """Up to ``n`` training vectors: md5-order corpus rows after skipping
    the first ``offset`` (default ``len(cents)`` with ``cents``, else 0).
    With ``cents`` each vector becomes its coarse residual
    ``v − centroid(cell(v))``, computed driver-side with the engines' exact
    argmin (_assign_cell_py). Why the offset: the coarse Forgy sample's
    own residuals are identically zero — each sample vector IS its nearest
    centroid — so training on the offset slice keeps residual codebooks
    non-degenerate while staying SQL-expressible (ORDER BY md5 LIMIT n
    OFFSET o)."""
    if offset is None:
        offset = 0 if cents is None else len(cents)
    rows = [list(r["v"]) for r in _md5_sample(corpus, offset + n)[offset:]]
    if cents is None:
        return rows
    return [[x - y for x, y in zip(v, _assign_cell_py(v, cents))] for v in rows]


def train_pq(
    corpus: DataFrame, m: int = 4, n_codes: int = 16, cents=None,
    offset: Optional[int] = None,
):
    """Train per-subspace PQ codebooks (Jégou et al. 2011): the embedding
    is split into ``m`` contiguous subvectors and each subspace gets its
    own ``n_codes``-entry codebook — the ``j``-th slices of the sample
    vectors. The sample is the SAME deterministic Forgy pick as
    ``train_ivf`` (first corpus vectors in md5(vec_id) order) so every
    query built on it stays oracle-checkable in SQL.

    ``cents`` trains RESIDUAL codebooks — true IVFPQ (§III): codewords
    quantize ``v − coarse_centroid(cell(v))``, so the same bit budget
    spends itself on the (much smaller) within-cell displacement instead
    of re-describing the cell the coarse index already knows; the sample
    skips ``offset`` rows (see _train_sample).

    Returns ``(codebooks, sub)`` where ``codebooks[j]`` is
    ``[(code, [float, ...]), ...]`` and ``sub`` is the subvector width.
    Like train_ivf this runs one tiny job at plan-build time; the
    codebooks (m × n_codes × sub floats — 4 KiB here) travel into plans
    as literals, so encoding and ADC are pure codegen with ZERO shuffle.
    """
    sample = _train_sample(corpus, n_codes, cents, offset)
    if len(sample) < n_codes:
        raise ValueError(
            f"corpus holds only {len(sample)} vectors past the sample "
            f"offset; need {n_codes}"
        )
    dim = len(sample[0])
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    codebooks = [
        [(cid, v[j * sub : (j + 1) * sub]) for cid, v in enumerate(sample)]
        for j in range(m)
    ]
    return codebooks, sub


def train_opq(
    corpus: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    sample_n: int = 256,
    opq_iters: int = 10,
    lloyd_iters: int = 4,
    decimals: int = 6,
    cents=None,
    offset: Optional[int] = None,
):
    """Train an OPQ rotation + rotated-space codebooks (Ge et al. 2013,
    "Optimized Product Quantization", the non-parametric alternating
    solver): repeat [quantize the rotated sample under per-subspace
    Lloyd codebooks -> solve the orthogonal Procrustes problem for the
    rotation minimizing ||X Rᵀ − Y||]. The learned R redistributes
    variance across the m subspaces so the SAME bit budget loses less —
    the standard fix for the geometry residual PQ loses on (isotropic /
    unaligned corpora), at the cost of one dim×dim matvec per encode.

    Training is driver-side numpy on the deterministic md5(vec_id)-order
    sample (the train_pq/train_ivf discipline — one tiny plan-build-time
    job; ``sample_n`` rows, not the corpus). ``sample_n`` defaults to
    4×dim: a dim-sized sample is EXACTLY determined for a dim×dim
    rotation, so Procrustes memorizes it — measured on the fixture,
    64 samples tied raw PQ's recall@5 (12.5%) while 256 beats it
    outright (18.8%); the composition rung flipped from losing to
    winning the clustered corpus at the same bump. The returned model is
    literal-ready: R is rounded to ``decimals`` so the SAME doubles parse
    on both engines, and codebooks are re-fit under the ROUNDED R so the
    model is self-consistent. Returns ``(R, codebooks, sub)`` with
    ``codebooks`` in the train_pq shape (rotated-space codewords).

    ``cents`` fits the FULL FAISS-style composition's model — "OPQ,IVF,PQ":
    rotation and codebooks on coarse-quantizer RESIDUALS (rotated residual
    R·(v − c) == R·v − R·c, so rotating the residual is exactly serving
    the rotated corpus against rotated centroids); the sample skips
    ``offset`` rows, as train_pq's residual form does.

    Serving-path exactness does not depend on the trainer: R and the
    codebooks travel as plan literals (and as literals inside the DuckDB
    oracle), so both engines compute identical doubles whatever numpy
    produced."""
    import numpy as np

    X = np.array(_train_sample(corpus, sample_n, cents, offset), dtype=np.float64)
    if len(X) < n_codes:
        raise ValueError(f"sample holds only {len(X)} vectors; need >= {n_codes}")
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m} subspaces")
    sub = dim // m

    def _fit_codebooks(Xr):
        books, Y = [], np.empty_like(Xr)
        for j in range(m):
            Z = Xr[:, j * sub : (j + 1) * sub]
            C = Z[:n_codes].copy()  # Forgy init: first sample rows
            for _ in range(lloyd_iters):
                d2 = ((Z[:, None, :] - C[None, :, :]) ** 2).sum(-1)
                assign = d2.argmin(1)
                for cid in range(n_codes):
                    pts = Z[assign == cid]
                    if len(pts):
                        C[cid] = pts.mean(0)
            d2 = ((Z[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            Y[:, j * sub : (j + 1) * sub] = C[assign]
            books.append(C)
        return books, Y

    R = np.eye(dim)
    for _ in range(opq_iters):
        _, Y = _fit_codebooks(X @ R.T)
        # orthogonal Procrustes: min_Q ||X Q − Y||_F, Q = U Vᵀ of Xᵀ Y;
        # the rotation applied to vectors is R = Qᵀ
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = (U @ Vt).T
    R = np.round(R, decimals)
    books, _ = _fit_codebooks(X @ R.T)
    codebooks = [
        [(cid, [float(x) for x in Cj[cid]]) for cid in range(n_codes)]
        for Cj in books
    ]
    return [[float(x) for x in row] for row in R], codebooks, sub


def opq_rotate_expr(R, vec_sql: str) -> str:
    """``R · v`` as pure column algebra: transform over the literal rows,
    each component the same left-fold dot the whole ANN family uses — so
    the rotated doubles match DuckDB's ``list_transform(rr, r ->
    list_dot_product(r, v))`` to the last ulp."""
    return f"transform({_arr2_sql(R)}, r -> {_dot_sql('r', vec_sql)})"


def _with_sub_vv(df: DataFrame, m: int, sub: int, vec_col: str = "v") -> DataFrame:
    """Precompute each subvector's self-dot (__pvv{j}__) once per row —
    shared across that subspace's n_codes distance terms (the vv seam
    trained_cells uses, per subspace; the VALUE feeds the output so it
    must be the true subvector dot, and it is).

    ONE withColumns call, not m withColumn calls: every withColumn on a
    plan carrying literal codebooks re-analyzes the whole plan (~50 ms
    each at m=4..16 measured on ann_pq_opq's build) — batching the
    independent projections is the same plan for one analysis pass."""
    exprs = {}
    for j in range(m):
        sl = f"slice({vec_col},{j * sub + 1},{sub})"
        exprs[f"__pvv{j}__"] = F.expr(_dot_sql(sl, sl))
    return df.withColumns(exprs)


def _derive_vec(df: DataFrame, vec: str, cents, R, res_col: str, rot_col: str):
    """The per-side vector PQ quantizes: ``vec``, minus ``centroid[cell]``
    when ``cents`` is given (one element_at into the literal centroid
    array, keyed by the row's ``cell``), then rotated by ``R`` when given.
    Returns ``(df, column holding the vector, helper columns to drop)``."""
    tmp = []
    if cents is not None:
        df = df.withColumn(
            res_col,
            F.expr(
                f"zip_with({vec}, element_at({_cents_arr_sql(cents)}, "
                "CAST(cell AS INT) + 1),(x,y)->x-y)"
            ),
        )
        vec = res_col
        tmp.append(vec)
    if R is not None:
        df = df.withColumn(rot_col, F.expr(opq_rotate_expr(R, vec)))
        vec = rot_col
        tmp.append(vec)
    return df, vec, tmp


def pq_encode(
    df: DataFrame, codebooks, sub: int, vec_col: str = "v", cents=None, R=None
) -> DataFrame:
    """Attach PQ code columns ``c0..c{m-1}`` and the integerized
    reconstruction error ``recon_err_e6`` (sum of the m per-subspace
    floored squared distances to the chosen codeword — the compression-
    quality audit every vector store tracks, the PQ analog of
    quantize_int8's roundtrip error).

    ``cents`` encodes the RESIDUAL: it assigns ``cell`` (literal argmin,
    also added to the output) and quantizes ``v − centroid[cell]`` under
    residual codebooks (train_pq/train_opq with ``cents``). ``R`` rotates
    the vector (or residual) before quantizing — OPQ; its error is
    directly comparable to the unrotated one at equal bits because R is
    orthonormal. Pure literal-folded column algebra: narrow, zero shuffle,
    partitioned exactly like the input scan."""
    vec = _sql_col(vec_col)
    out = df
    if cents is not None:
        out = out.withColumn("__cvv__", F.expr(_dot_sql(vec, vec)))
        out = out.withColumn(
            "cell", trained_cells(F.col(vec_col), cents, nprobe=1, vv=F.col("__cvv__"))
        ).drop("__cvv__")
    out, vec, tmp = _derive_vec(
        out, vec, cents, R, "__rv__", "__ov__" if cents is None else "__orv__"
    )
    m = len(codebooks)
    out = _with_sub_vv(out, m, sub, vec)
    # three batched projections (argmin structs -> err+codes -> drop)
    # instead of ~3m chained withColumn/drop calls — each chained call
    # re-analyzes the literal-codebook plan (see _with_sub_vv)
    out = out.withColumns({
        f"__pq{j}__": F.expr(
            _argmin_sql(f"slice({vec},{j * sub + 1},{sub})", cb, f"__pvv{j}__")
            + "[0]"
        )
        for j, cb in enumerate(codebooks)
    })
    total = F.col("__pq0__.d")
    for j in range(1, m):
        total = total + F.col(f"__pq{j}__.d")
    final = {"recon_err_e6": total.cast("long")}
    for j in range(m):
        final[f"c{j}"] = F.col(f"__pq{j}__.cid")
    out = out.withColumns(final)
    return out.drop(
        *[f"__pq{j}__" for j in range(m)],
        *[f"__pvv{j}__" for j in range(m)],
        *tmp,
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    n_centroids: int = 16,
    nprobe: int = 3,
    iters: int = 0,
    residual: bool = False,
    opq: bool = False,
    model=None,
) -> DataFrame:
    """The IVFPQ serving path: trained-IVF candidate pruning (literal-
    folded cell assignment, query-side multi-probe) + PQ-code asymmetric
    distance (ADC) scoring + exact-float rescore column. This is the
    memory-bound regime's answer: the serving tier stores m bytes of
    codes per vector instead of 4·dim, each query precomputes its
    per-subspace distance-to-codeword tables, and candidate scoring is m
    array lookups — here ``element_at`` over the m×n_codes literal d2
    expressions, summed. Ranked by ADC distance ascending;
    ``score_exact_e5`` (true cosine) rides along to expose the accepted
    approximation error (the PQ twin of ivf_topk_int8's rescore).

    The rung is two switches over the vector both sides quantize:
    ``residual`` codes ``v − centroid(cell)`` and builds each (query,
    probed cell) pair's ADC tables on the query residual for THAT cell —
    true IVFPQ (Jégou et al. 2011 §III); ``opq`` rotates by a learned
    orthonormal R first (Ge et al. 2013), valid because rotated-space
    distances ARE original-space distances. Both together are FAISS's
    "OPQ,IVF,PQ". Coarse cells always stay on the ORIGINAL vectors, so
    every rung scores identical candidates and the ladder A/Bs at equal
    bits.

    ``model`` is a trained ``(R, codebooks, sub)`` — R None unless
    ``opq`` — from train_pq/train_opq (with ``cents`` for residual rungs):
    the frozen-literals deployment, train once offline and serve
    everywhere; None trains on ``corpus``. ``iters`` Lloyd-refines the
    coarse quantizer — ON-MEAN centroids shrink residual norms, which is
    where residual PQ earns its keep (RECALL.md); 0 stays the Forgy
    oracle-checkable default.

    Returns (query_id, cand_id, adc_d2_e6, score_exact_e5, rnk), rnk <= k.
    Shuffle profile: identical to ivf_topk_trained on every rung — one
    cell equi-join with the broadcast query side, one per-query rank
    window; encoding, residuals, rotation and ADC fold into literal
    codegen and add zero shuffles."""
    if model is not None and (model[0] is not None) != opq:
        raise ValueError("model carries a rotation exactly when opq=True")
    # corpus-side encode/score expressions fuse into the corpus
    # scan stage: spread a narrow (single-split) scan across the
    # cores first or they evaluate on ONE task (guide §2.5;
    # no-op whenever the scan already yields >= cores splits)
    corpus = spread_scan(corpus)
    cents = train_ivf(corpus, n_centroids=n_centroids, iters=iters)
    fit_cents = cents if residual else None
    if model is None and opq:
        model = train_opq(corpus, m=m, n_codes=n_codes, cents=fit_cents)
    elif model is None:
        model = (None, *train_pq(corpus, m=m, n_codes=n_codes, cents=fit_cents))
    R, codebooks, sub = model
    m = len(codebooks)

    if residual:
        cc = pq_encode(corpus, codebooks, sub, cents=cents, R=R)
    else:
        cc = _assign_cell(pq_encode(corpus, codebooks, sub, R=R), cents)
    cc = cc.select("vec_id", "v", "nv", "cell", *[f"c{j}" for j in range(m)])
    qc = _probe_cells(
        queries, cents, nprobe,
        F.col("vec_id"), F.col("v").alias("qv"), F.col("nv").alias("qnv"),
    )
    qc, vec, tmp = _derive_vec(
        qc, "qv", fit_cents, R, "__qr__", "__oqr__" if residual else "__oq__"
    )
    qc = _with_sub_vv(qc, m, sub, vec)
    # ADC's defining move: each query materializes its distance table to
    # EVERY codeword of every subspace ONCE, on the (tiny, broadcast)
    # query side — m array columns of n_codes entries per query row.
    # Candidates then pay m element_at LOOKUPS into the broadcast row.
    # (Inlining the arrays into the post-join projection instead would
    # re-evaluate all m*n_codes distance expressions PER CANDIDATE —
    # n_codes/m times the arithmetic ADC exists to avoid.)
    adc_cols = {}
    for j, cb in enumerate(codebooks):
        sl = f"slice({vec},{j * sub + 1},{sub})"
        d2s = ",".join(
            _dist2_sql(sl, cv, _dot_py(cv, cv), f"__pvv{j}__") for _, cv in cb
        )
        adc_cols[f"__adc{j}__"] = F.expr(f"array({d2s})")
    # one analysis pass for all m ADC tables (see _with_sub_vv)
    qc = qc.withColumns(adc_cols)
    qc = qc.drop(*tmp, *[f"__pvv{j}__" for j in range(m)])
    adc = F.expr(
        " + ".join(
            f"element_at(__adc{j}__, CAST(c{j} AS INT) + 1)" for j in range(m)
        )
    )
    scored = cc.alias("c").join(F.broadcast(qc.alias("q")), on="cell").select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("cand_id"),
        adc.cast("long").alias("adc_d2_e6"),
        F.floor(
            _dot(F.col("q.qv"), F.col("c.v")) / (F.col("q.qnv") * F.col("c.nv")) * 100000
        ).cast("long").alias("score_exact_e5"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_d2_e6"), F.col("cand_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= k)
