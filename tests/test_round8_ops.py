"""Round-8 operator tests: residual product quantization (true IVFPQ).

Reference parity note: the reference engine has no ANN surface; these pin
the §2.5 LLM-pipeline additions (Jégou et al. 2011 §III semantics) against
model computations and the operator's own documented invariants.
"""

import numpy as np
from pyspark.sql import functions as F

from kioss_spark.operators import similarity as S


def _clustered(spark, n=200, dim=32, k=8, noise=0.15, seed=7):
    """Deterministic clustered corpus: k centers on the unit sphere plus
    Gaussian noise — the regime residual PQ exists for (real embedding
    corpora cluster; the isotropic parquet fixture does not)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = centers[rng.integers(0, k, n)] + noise * rng.normal(size=(n, dim))
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(n)]
    return S.with_norm(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    )


def test_train_pq_residual_zero_offset_is_degenerate(spark):
    # WHY the sample offsets past the coarse sample: each coarse Forgy
    # vector IS its own nearest centroid, so offset=0 residuals are all
    # exactly zero — a codebook that can only say "no displacement"
    nn = _clustered(spark, n=64, dim=32)
    cents = S.train_ivf(nn, n_centroids=16, iters=0)
    cb0, _ = S.train_pq(nn, m=4, n_codes=16, cents=cents, offset=0)
    assert all(x == 0.0 for book in cb0 for _, rv in book for x in rv)
    # the default (offset = n_centroids) trains on fresh vectors
    cb, _ = S.train_pq(nn, m=4, n_codes=16, cents=cents)
    assert any(x != 0.0 for book in cb for _, rv in book for x in rv)


def test_pq_encode_residual_training_sample_roundtrips_to_zero(spark):
    # every offset-sample vector's residual IS a codeword in each
    # subspace, so its reconstruction error is exactly zero
    nn = _clustered(spark, n=64, dim=32)
    cents = S.train_ivf(nn, n_centroids=16, iters=0)
    cb, sub = S.train_pq(nn, m=4, n_codes=16, cents=cents)
    sample_ids = {
        r["vec_id"]
        for r in nn.orderBy(
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
            ).cast("long"),
            F.col("vec_id"),
        )
        .limit(32)
        .collect()[16:]
    }
    enc = S.pq_encode(nn, cb, sub, cents=cents).collect()
    by_id = {r["vec_id"]: r for r in enc}
    assert all(by_id[i]["recon_err_e6"] == 0 for i in sample_ids)
    assert any(r["recon_err_e6"] > 0 for r in enc)


def test_pq_encode_residual_is_narrow(spark):
    # cell assignment + residual lookup + codes are all literal-folded:
    # no Exchange anywhere in the encode plan
    nn = _clustered(spark, n=64, dim=32)
    cents = S.train_ivf(nn, n_centroids=16, iters=0)
    cb, sub = S.train_pq(nn, m=4, n_codes=16, cents=cents)
    plan = (
        S.pq_encode(nn, cb, sub, cents=cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan.split("== Initial Plan ==")[0]


def test_residual_pq_lifts_recall_on_clustered_corpus(spark):
    # the headline IVFPQ claim, measured: per-cell query-residual ADC
    # tables rank candidates better than one shared raw-vector table at
    # equal bits (deterministic corpus, exact cosine truth)
    nn = _clustered(spark, n=200, dim=32, k=8)
    q = nn.where(F.col("vec_id") < 8)
    c = nn.where(F.col("vec_id") >= 8)
    truth = S.cosine_topk(q, c, k=5).select("query_id", "cand_id")

    def mean_recall(approx):
        return (
            S.recall_at_k(truth, approx.select("query_id", "cand_id"), k=5)
            .agg(F.avg("recall_e2"))
            .first()[0]
        )

    raw = mean_recall(S.ivf_pq_topk(q, c, k=5, m=4, n_codes=16))
    res = mean_recall(S.ivf_pq_topk(q, c, k=5, m=4, n_codes=16, residual=True))
    assert res > raw, f"residual recall {res} <= raw recall {raw}"


def test_scurve_terms_match_python_model(spark):
    # the fold-multiply S-curve expressions, evaluated by Spark on a j
    # grid, must equal the closed form p = 1 - (1 - j^r)^b replicated in
    # Python with the same left-fold multiplication order
    import math

    from pyspark.sql import functions as F

    from kioss_spark.queries.llm import _LSH_CONFIGS, _scurve_terms

    grid = [0.0, 0.3, 0.5, 0.8, 0.95, 1.0]
    df = spark.createDataFrame([(j,) for j in grid], "j double")
    for b, r in _LSH_CONFIGS:
        cand, miss = _scurve_terms(r, b, one="1.0D")
        rows = {
            r_["j"]: (r_["c"], r_["m"])
            for r_ in df.select(
                "j", F.expr(cand).alias("c"), F.expr(miss).alias("m")
            ).collect()
        }
        for j in grid:
            jr = j
            for _ in range(r - 1):
                jr = jr * j
            q = 1.0 - jr
            qb = q
            for _ in range(b - 1):
                qb = qb * q
            p = 1.0 - qb
            assert rows[j] == (math.floor(p * 1000000), math.floor(qb * 1000000)), (
                b, r, j, rows[j],
            )


def test_scurve_configs_cover_k():
    from kioss_spark.queries.llm import _LSH_CONFIGS, _LSH_K

    assert all(b * r == _LSH_K for b, r in _LSH_CONFIGS)
    assert len({(b, r) for b, r in _LSH_CONFIGS}) == len(_LSH_CONFIGS)


def test_join_fanout_audit_predicts_actual_join(spark):
    # the audit's predicted row count must equal the ACTUAL self-join
    # output — the instrument is only useful if its prediction is exact
    from pyspark.sql import functions as F

    rows = [(i % 7,) for i in range(100)] + [(99,)] * 30
    df = spark.createDataFrame(rows, "user_id long")
    c = df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    predicted = c.select(F.sum(F.col("n") * F.col("n"))).first()[0]
    actual = df.alias("a").join(df.alias("b"), "user_id").count()
    assert predicted == actual == 15 * 15 * 2 + 14 * 14 * 5 + 30 * 30


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["can", "cano", "scan", "a", "ab", "co", "cu", "x"]),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_vocab_keyed_bpe_equals_per_occurrence_chain(spark, docs):
    # the round-8 optimization's invariance pin: running the replace
    # chain once per DISTINCT word and multiplying by counts must equal
    # the chain applied to every occurrence, for ANY word multiset
    from pyspark.sql import functions as F

    from kioss_spark.queries.llm import _BPE_MERGES, _bpe_wordcounts_with_k

    rows = [(i, w) for i, d in enumerate(docs) for w in d]
    words = spark.createDataFrame(rows, "doc_id long, w string")

    lb, rb = "\x1e", "\x1f"
    s = F.regexp_replace(F.col("w"), "(.)", lb + "$1" + rb)
    for a, b in _BPE_MERGES:
        s = F.replace(s, F.lit(lb + a + rb + lb + b + rb), F.lit(lb + a + b + rb))
    k = F.length(s) - F.length(F.replace(s, F.lit(lb), F.lit("")))
    direct = {
        (r["doc_id"], r["k"]): r["n"]
        for r in words.select("doc_id", k.alias("k"))
        .groupBy("doc_id", "k")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    vocab_keyed = {
        (r["doc_id"], r["k"]): r["n"]
        for r in _bpe_wordcounts_with_k(words)
        .groupBy("doc_id", "k")
        .agg(F.sum("c").cast("long").alias("n"))
        .collect()
    }
    assert direct == vocab_keyed
