"""Round-9 operator tests: unigram-LM (SentencePiece-style) segmentation.

Reference parity note: the reference engine has no tokenizer surface;
these pin the §2.5 LLM-pipeline addition (Kudo 2018 Viterbi semantics)
against a trivial driver-side Viterbi and the operator's documented
invariants (packed tie-break, UNK fallback, cross-engine agreement,
vocab-keyed distinct-word seam).
"""

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from kioss_spark.operators import unigram as U
from kioss_spark.queries.llm import (
    _UNIGRAM_LMAX,
    _UNIGRAM_PMAX,
    _UNIGRAM_UNK_E3,
    _UNIGRAM_VOCAB,
)

_SCORES = dict(_UNIGRAM_VOCAB)


def _fuzz_words(n=200, seed=9):
    """Seeded fuzz corpus: corpus-alphabet words, hostile chars (z/x not
    in the trained vocab -> UNK path), boundary lengths 1..LMAX, and a
    few quote-bearing words (SQL-escaping path)."""
    rng = random.Random(seed)
    alpha = "abcdefghijklmnopqrstuvwy"
    hostile = alpha + "zx'"
    words = []
    for _ in range(n):
        pool = alpha if rng.random() < 0.7 else hostile
        ln = rng.randint(1, _UNIGRAM_LMAX)
        words.append("".join(rng.choice(pool) for _ in range(ln)))
    # pin the exact boundary and some real vocab words
    words += ["join", "joinjoinjoinjoin", "batch", "a", "z",
              "w" * _UNIGRAM_LMAX]
    return sorted(set(words))


def _reference(words):
    return {
        w: U.viterbi_segment(w, _SCORES, _UNIGRAM_UNK_E3, _UNIGRAM_PMAX)[:2]
        for w in words
    }


def test_spark_fold_matches_reference_viterbi(spark):
    words = _fuzz_words()
    df = spark.createDataFrame([(w,) for w in words], "w string")
    pexpr = U.unigram_packed_expr(
        _UNIGRAM_VOCAB, _UNIGRAM_UNK_E3, col="w", max_piece_len=_UNIGRAM_PMAX
    )
    got = {
        r["w"]: (r["k"], r["s"])
        for r in df.select("w", F.expr(pexpr).alias("p"))
        .select(
            "w",
            F.expr(U.spark_extract_k("w", "p", _UNIGRAM_LMAX)).alias("k"),
            F.expr(
                U.spark_extract_s("w", "p", _UNIGRAM_LMAX, _UNIGRAM_UNK_E3)
            ).alias("s"),
        )
        .collect()
    }
    assert got == _reference(words)


def test_duck_unroll_matches_reference_viterbi():
    words = _fuzz_words(seed=10)
    vals = ", ".join("('%s')" % w.replace("'", "''") for w in words)
    dp = U.duck_dp_subquery(
        _UNIGRAM_VOCAB, _UNIGRAM_UNK_E3, _UNIGRAM_LMAX,
        source_sql=f"(SELECT w FROM (VALUES {vals}) t(w))",
        max_piece_len=_UNIGRAM_PMAX,
    )
    k = U.duck_extract_k("w", "p", _UNIGRAM_LMAX)
    s = U.duck_extract_s("w", "p", _UNIGRAM_LMAX, _UNIGRAM_UNK_E3)
    got = {
        w: (kk, ss)
        for w, kk, ss in duckdb.sql(
            f"SELECT w, {k} AS k, {s} AS s FROM {dp} dp"
        ).fetchall()
    }
    assert got == _reference(words)


def test_past_lmax_char_fallback_agrees_cross_engine(spark):
    # words longer than the oracle's unroll bound take the SAME
    # char-per-piece UNK fallback on both engines — in-vocab pieces
    # inside an over-long word must NOT resurrect the DP on one side only
    words = ["join" * 5, "a" * (_UNIGRAM_LMAX + 1)]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    pexpr = U.unigram_packed_expr(
        _UNIGRAM_VOCAB, _UNIGRAM_UNK_E3, col="w", max_piece_len=_UNIGRAM_PMAX
    )
    got_spark = {
        r["w"]: (r["k"], r["s"])
        for r in df.select("w", F.expr(pexpr).alias("p"))
        .select(
            "w",
            F.expr(U.spark_extract_k("w", "p", _UNIGRAM_LMAX)).alias("k"),
            F.expr(
                U.spark_extract_s("w", "p", _UNIGRAM_LMAX, _UNIGRAM_UNK_E3)
            ).alias("s"),
        )
        .collect()
    }
    vals = ", ".join("('%s')" % w for w in words)
    dp = U.duck_dp_subquery(
        _UNIGRAM_VOCAB, _UNIGRAM_UNK_E3, _UNIGRAM_LMAX,
        source_sql=f"(SELECT w FROM (VALUES {vals}) t(w))",
        max_piece_len=_UNIGRAM_PMAX,
    )
    k = U.duck_extract_k("w", "p", _UNIGRAM_LMAX)
    s = U.duck_extract_s("w", "p", _UNIGRAM_LMAX, _UNIGRAM_UNK_E3)
    got_duck = {
        w: (kk, ss)
        for w, kk, ss in duckdb.sql(
            f"SELECT w, {k} AS k, {s} AS s FROM {dp} dp"
        ).fetchall()
    }
    expect = {w: (len(w), len(w) * _UNIGRAM_UNK_E3) for w in words}
    assert got_spark == expect
    assert got_duck == expect


def test_packed_tiebreak_prefers_fewer_pieces():
    # two segmentations with EQUAL total score: the packed encoding
    # (score * 1024 + (1023 - k)) must pick the shorter piece list, so
    # the emitted counts are deterministic cross-engine
    scores = {"a": -1000, "aa": -2000}  # "aa" == "a"+"a" on score
    k, s, pieces = U.viterbi_segment("aa", scores, unk_e3=-9000,
                                     max_piece_len=2)
    assert (k, s) == (1, -2000)
    assert pieces == ["aa"]


def test_train_unigram_deterministic_and_covers_alphabet(spark):
    docs = spark.createDataFrame(
        [(i, "join scan batch filter join merge row scan") for i in range(6)],
        "doc_id long, text string",
    )
    v1, u1 = U.train_unigram(docs, vocab_size=24, max_piece_len=4, iters=2)
    v2, u2 = U.train_unigram(docs, vocab_size=24, max_piece_len=4, iters=2)
    assert (v1, u1) == (v2, u2)
    got = dict(v1)
    chars = {c for w in "join scan batch filter merge row".split() for c in w}
    assert chars <= set(got)  # character-coverage floor
    assert u1 < min(got.values())  # UNK strictly below every piece
    # segmentation under the learned vocab never shatters a training word
    for w in ("join", "batch", "filter"):
        k, _, _ = U.viterbi_segment(w, got, u1, 4)
        assert 1 <= k < len(w) or len(w) == 1


def test_production_vocab_covers_fixture_alphabet():
    # the inlined literals must keep the coverage floor for the fixture
    # corpus alphabet — a regenerated vocab that drops a char would send
    # in-distribution text down the UNK path silently
    alphabet = set("abcdefghijklmnopqrstuvwy")
    assert alphabet <= {p for p, _ in _UNIGRAM_VOCAB if len(p) == 1}
    assert _UNIGRAM_UNK_E3 < min(s for _, s in _UNIGRAM_VOCAB)
    assert max(len(p) for p, _ in _UNIGRAM_VOCAB) <= _UNIGRAM_PMAX


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(
                ["join", "scan", "batch", "a", "er", "zq", "x", "joinscan"]
            ),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_distinct_word_seam_equals_per_occurrence(spark, docs):
    # the vocab-keyed seam invariance pin (the round-8 BPE lesson, same
    # property): evaluating the Viterbi fold once per DISTINCT word and
    # multiplying by counts must equal evaluating it per occurrence,
    # for ANY word multiset
    rows = [(i, w) for i, d in enumerate(docs) for w in d]
    words = spark.createDataFrame(rows, "doc_id long, w string")
    pexpr = U.unigram_packed_expr(
        _UNIGRAM_VOCAB, _UNIGRAM_UNK_E3, col="w", max_piece_len=_UNIGRAM_PMAX
    )
    kx = U.spark_extract_k("w", "p", _UNIGRAM_LMAX)
    per_occurrence = {
        (r["doc_id"], r["k"]): r["n"]
        for r in words.select("doc_id", "w", F.expr(pexpr).alias("p"))
        .select("doc_id", F.expr(kx).alias("k"))
        .groupBy("doc_id", "k")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    wcnt = words.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    vk = (
        wcnt.select("w").distinct()
        .select("w", F.expr(pexpr).alias("p"))
        .select("w", F.expr(kx).alias("k"))
    )
    vocab_keyed = {
        (r["doc_id"], r["k"]): r["n"]
        for r in wcnt.join(vk, "w")
        .groupBy("doc_id", "k")
        .agg(F.sum("c").cast("long").alias("n"))
        .collect()
    }
    assert per_occurrence == vocab_keyed


# ---------------------------------------------------------------------------
# OPQ (Ge et al. 2013) — the learned-rotation rung of the PQ ladder
# ---------------------------------------------------------------------------

import numpy as np  # noqa: E402

from kioss_spark.operators import similarity as S  # noqa: E402
from kioss_spark.queries._opq_model import (  # noqa: E402
    OPQ_CODEBOOKS,
    OPQ_R,
    OPQ_SUB,
)


def test_opq_frozen_model_shapes():
    assert len(OPQ_R) == 64 and all(len(r) == 64 for r in OPQ_R)
    assert len(OPQ_CODEBOOKS) == 4
    assert all(len(b) == 16 for b in OPQ_CODEBOOKS)
    assert all(len(cv) == OPQ_SUB for b in OPQ_CODEBOOKS for _, cv in b)
    assert OPQ_SUB == 16


def test_opq_rotation_is_orthonormal():
    # R is rounded to 6 decimals for literal stability; orthonormality
    # must survive the rounding (each dot accumulates <= 64 * ~1e-6)
    R = np.array(OPQ_R)
    err = np.abs(R @ R.T - np.eye(64)).max()
    assert err < 1e-3, f"R @ R.T deviates from I by {err}"


def test_opq_rotated_distance_equals_original(spark):
    # the serving-validity invariant: rotated-space ADC approximates
    # ORIGINAL-space distance only because R is orthonormal — pin that
    # ||Rx - Ry||^2 == ||x - y||^2 within rounding tolerance, computed
    # through the ENGINE's rotate expression (not numpy)
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    rot = df.selectExpr(
        "vec_id", S.opq_rotate_expr(OPQ_R, "v") + " AS ov", "v"
    ).collect()
    for a in rot:
        for b in rot:
            d_orig = sum((x - y) ** 2 for x, y in zip(a["v"], b["v"]))
            d_rot = sum((x - y) ** 2 for x, y in zip(a["ov"], b["ov"]))
            assert abs(d_orig - d_rot) < 1e-3


def test_opq_cuts_recon_error_at_equal_bits(spark, sf_dir):
    # the Ge et al. objective is reconstruction error: the frozen
    # (sf0.01-trained) model must beat raw PQ at equal bits even on the
    # near-isotropic fixture (Lloyd + rotation vs Forgy slices)
    from pyspark.sql import functions as F

    nn = S.with_norm(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ).where(F.col("vec_id") >= 16)
    cb_raw, sub = S.train_pq(nn, m=4, n_codes=16)
    err_raw = S.pq_encode(nn, cb_raw, sub).agg(
        F.avg("recon_err_e6")
    ).first()[0]
    err_opq = S.pq_encode(nn, OPQ_CODEBOOKS, OPQ_SUB, R=OPQ_R).agg(
        F.avg("recon_err_e6")
    ).first()[0]
    assert err_opq < err_raw


def test_opq_wins_anisotropic_recall(spark):
    # the geometry OPQ exists for: correlated dimensions with a decaying
    # spectrum (real embedding corpora). At equal bits OPQ must beat raw
    # ADC on recall@5 — measured ~2x (RECALL.md); pin the direction, not
    # the exact count (Lloyd/SVD are deterministic per platform but the
    # pin should survive a BLAS change)
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    Q_, _ = np.linalg.qr(rng.normal(size=(64, 64)))
    spec = np.exp(-np.arange(64) / 12.0)
    pts = rng.normal(size=(216, 64)) * spec[None, :] @ Q_.T
    an = S.with_norm(
        spark.createDataFrame(
            [(int(i), [float(x) for x in pts[i]]) for i in range(216)],
            "vec_id long, embedding array<double>",
        )
    )
    q = an.where(F.col("vec_id") < 16)
    c = an.where(F.col("vec_id") >= 16)
    truth = {
        (r["query_id"], r["cand_id"])
        for r in S.cosine_topk(q, c, k=5, partial=False).collect()
    }
    raw = {
        (r["query_id"], r["cand_id"])
        for r in S.ivf_pq_topk(q, c, k=5).collect()
    }
    opq = {
        (r["query_id"], r["cand_id"])
        for r in S.ivf_pq_topk(q, c, k=5, opq=True).collect()
    }
    assert len(opq & truth) > len(raw & truth)


# ---------------------------------------------------------------------------
# SCD2 history reconstruction (gaps-and-islands over snapshots)
# ---------------------------------------------------------------------------


def test_scd2_history_interval_shapes(spark):
    # every interval shape in one table: stable run, mid-life content
    # break, presence GAP (absence closes, reappearance reopens even
    # with identical content), and a NULL hash (eqNullSafe: NULL vs
    # non-NULL breaks the run, NULL vs NULL would not)
    from kioss_spark.operators.curation import scd2_history

    rows = [
        (1, 1, "A"), (1, 2, "A"), (1, 3, "A"),        # stable 1..3
        (2, 1, "A"), (2, 2, "B"), (2, 3, "B"),        # content break at v2
        (3, 1, "A"), (3, 3, "A"),                      # gap at v2
        (4, 1, "A"), (4, 2, None), (4, 3, "A"),        # NULL break
    ]
    snaps = spark.createDataFrame(
        rows, "doc_id long, version int, content_hash string"
    )
    got = sorted(
        (
            (r["doc_id"], r["content_hash"], r["v_from"], r["v_to"])
            for r in scd2_history(snaps).collect()
        ),
        key=lambda t: (t[0], t[2], t[1] or ""),
    )
    assert got == [
        (1, "A", 1, 3),
        (2, "A", 1, 1),
        (2, "B", 2, 3),
        (3, "A", 1, 1),
        (3, "A", 3, 3),
        (4, "A", 1, 1),
        (4, None, 2, 2),
        (4, "A", 3, 3),
    ], got


def test_opq_residual_identity_rotation_equals_plain_residual(spark):
    # plumbing equivalence: with R = I and the SAME codebooks, each
    # rotated rung must reproduce its unrotated twin row-for-row — OPQ
    # over raw vectors vs raw PQ, OPQ∘residual vs residual (identity dot
    # is IEEE-exact: 0.0*x terms vanish, the 1.0*x term passes through)
    # — isolating the rotation as the ONLY semantic difference
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    pts = rng.normal(size=(120, 64))
    nn = S.with_norm(
        spark.createDataFrame(
            [(int(i), [float(x) for x in pts[i]]) for i in range(120)],
            "vec_id long, embedding array<double>",
        )
    )
    q = nn.where(F.col("vec_id") < 8)
    c = nn.where(F.col("vec_id") >= 8)
    cents = S.train_ivf(c, n_centroids=16, iters=0)
    eye = [[1.0 if i == j else 0.0 for j in range(64)] for i in range(64)]
    for residual in (False, True):
        cb, sub = S.train_pq(
            c, m=4, n_codes=16, cents=cents if residual else None
        )
        plain = sorted(
            tuple(r) for r in S.ivf_pq_topk(
                q, c, k=5, m=4, n_codes=16, n_centroids=16, nprobe=3,
                residual=residual,
            ).collect()
        )
        composed = sorted(
            tuple(r) for r in S.ivf_pq_topk(
                q, c, k=5, n_centroids=16, nprobe=3, residual=residual,
                opq=True, model=(eye, cb, sub),
            ).collect()
        )
        assert composed == plain


def test_ivf_pq_topk_rejects_model_rotation_mismatch():
    # the rung flags and a given model must agree: a rotation only with
    # opq=True, and opq=True only with a rotation (checked before any job)
    with pytest.raises(ValueError, match="rotation"):
        S.ivf_pq_topk(None, None, opq=True, model=(None, OPQ_CODEBOOKS, OPQ_SUB))
    with pytest.raises(ValueError, match="rotation"):
        S.ivf_pq_topk(None, None, model=(OPQ_R, OPQ_CODEBOOKS, OPQ_SUB))


@settings(max_examples=8, deadline=None)
@given(
    snaps=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),   # doc_id
            st.integers(min_value=1, max_value=4),   # version
            st.sampled_from(["A", "B", None]),       # content hash
        ),
        min_size=1,
        max_size=16,
        unique_by=lambda t: (t[0], t[1]),  # one row per (id, version)
    )
)
def test_scd2_history_matches_trivial_reconstruction(spark, snaps):
    # property pin vs a trivial single-process reconstruction: walk each
    # id's versions in order, open a new interval on first sight, on a
    # version gap, or on a hash change (None vs value IS a change;
    # None vs None is not — the eqNullSafe contract)
    from kioss_spark.operators.curation import scd2_history

    expected = []
    by_id = {}
    for i, v, h in snaps:
        by_id.setdefault(i, []).append((v, h))
    for i, rows in by_id.items():
        rows.sort()
        cur = None  # (hash, v_from, v_to)
        for v, h in rows:
            if cur is not None and v == cur[2] + 1 and h == cur[0]:
                cur = (cur[0], cur[1], v)
            else:
                if cur is not None:
                    expected.append((i, cur[0], cur[1], cur[2]))
                cur = (h, v, v)
        expected.append((i, cur[0], cur[1], cur[2]))
    df = spark.createDataFrame(
        [(i, v, h) for i, v, h in snaps],
        "doc_id long, version int, content_hash string",
    )
    got = sorted(
        (
            (r["doc_id"], r["content_hash"], r["v_from"], r["v_to"])
            for r in scd2_history(df).collect()
        ),
        key=lambda t: (t[0], t[2]),
    )
    assert got == sorted(expected, key=lambda t: (t[0], t[2]))


def test_tokenizer_compare_consistent_with_single_family_queries(spark):
    # cross-query consistency: tokenizer_compare's corpus-wide subword
    # totals must equal the sums of the single-family accounting queries
    # (bpe_segment_corpus / unigram_segment_corpus) — three independent
    # plans over the same chains agreeing on the same corpus
    from kioss_spark.queries import load_all

    reg = load_all()
    sf = "/root/testdata/sf0.001"
    tc = reg["tokenizer_compare"].fn(spark, sf).agg(
        F.sum("n_words"), F.sum("bpe_subwords"), F.sum("uni_pieces")
    ).first()
    bpe = reg["bpe_segment_corpus"].fn(spark, sf).agg(
        F.sum("n_words"), F.sum("n_subwords")
    ).first()
    uni = reg["unigram_segment_corpus"].fn(spark, sf).agg(
        F.sum("n_words"), F.sum("n_pieces")
    ).first()
    assert tc[0] == bpe[0] == uni[0]   # same word total
    assert tc[1] == bpe[1]             # same BPE subword total
    assert tc[2] == uni[1]             # same unigram piece total
