"""Round-7 operators: Bradley–Terry, Fleiss' kappa, PSI, bigram LM,
Wilson lower bound — hand-computed or exact-Python-mirror expectations."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# -- Bradley–Terry ------------------------------------------------------------


def _bt_reference(match_list, iters=3, scale=1000):
    """Exact Python mirror of bradley_terry_int's integer updates."""
    from collections import defaultdict

    n = defaultdict(int)
    wins = defaultdict(int)
    players = set()
    for w, l in match_list:
        n[(w, l)] += 1
        n[(l, w)] += 1
        wins[w] += 1
        players |= {w, l}
    p = {x: scale for x in players}
    for _ in range(iters):
        d = defaultdict(int)
        for (i, j), nij in n.items():
            d[i] += nij * 1_000_000_000 // max(p[i] + p[j], 1)
        p = {x: wins[x] * 1_000_000_000 // max(d[x], 1) for x in players}
    nm = defaultdict(int)
    for (i, j), nij in n.items():
        nm[i] += nij
    return {x: (wins[x], nm[x], p[x]) for x in players}


def test_bradley_terry_matches_exact_python_mirror(spark):
    from aeon_mecha_spark.operators.graph import bradley_terry_int

    matches = [
        ("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"),
        ("c", "b"), ("a", "d"), ("d", "b"), ("b", "d"),
    ]
    df = spark.createDataFrame(matches, "winner string, loser string")
    got = {
        r.node: (r.n_wins, r.n_matches, r.strength_milli)
        for r in bradley_terry_int(df, iters=3).collect()
    }
    assert got == _bt_reference(matches, iters=3)


def test_bradley_terry_symmetric_pair_stays_at_scale(spark):
    from aeon_mecha_spark.operators.graph import bradley_terry_int

    # one win each: W_i = n_i/2 -> the update is a fixed point at scale
    df = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "winner string, loser string"
    )
    got = {r.node: r.strength_milli for r in bradley_terry_int(df, iters=3).collect()}
    assert got == {"a": 1000, "b": 1000}


def test_bradley_terry_dominant_player_ranks_first(spark):
    from aeon_mecha_spark.operators.graph import bradley_terry_int

    df = spark.createDataFrame(
        [("a", "b")] * 5 + [("b", "a")] + [("b", "c")] * 3 + [("c", "b")],
        "winner string, loser string",
    )
    got = {r.node: r.strength_milli for r in bradley_terry_int(df, iters=3).collect()}
    assert got["a"] > got["b"] > got["c"]


def test_bradley_terry_plan_linear_in_iters(spark):
    """Each MM round's strength table is a checkpointed leaf and the
    loop-invariant tables are cached (InMemoryTableScan), so the FINAL
    physical plan does not unroll the whole lineage — raising ``iters``
    must not explode the plan."""
    from aeon_mecha_spark.operators.graph import bradley_terry_int
    from aeon_mecha_spark.util import release_cached

    matches = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "a")]
    df = spark.createDataFrame(matches, "winner string, loser string")
    import contextlib
    import io
    import re

    out = bradley_terry_int(df, iters=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "InMemoryTableScan" in plan
    # DISTINCT numbered plan nodes (the display re-prints a cached
    # relation's inner plan per reference, so raw string counts can be
    # exponential; the node-id space is the true plan size): at most
    # linear in iters — ~40/round — NOT the exponential lineage unroll
    n_nodes = len(set(re.findall(r"\((\d+)\)", plan)))
    assert n_nodes <= 60 * 8
    # still numerically identical to the unpersisted mirror
    got = {r.node: r.strength_milli for r in out.collect()}
    assert got == {x: v[2] for x, v in _bt_reference(matches, iters=8).items()}
    release_cached(out)


# -- Fleiss' kappa ------------------------------------------------------------


def test_fleiss_kappa_hand_computed(spark):
    from aeon_mecha_spark.operators.analytics import fleiss_kappa

    # subject 1: five 'x' (sq=25); subject 2: x,x,x,y,y (sq=13)
    rows = [("s1", i, "x") for i in range(5)] + [
        ("s2", 0, "x"), ("s2", 1, "x"), ("s2", 2, "x"), ("s2", 3, "y"), ("s2", 4, "y")
    ]
    df = spark.createDataFrame(rows, "subj string, ord int, cat string")
    out = fleiss_kappa(df, ["subj"], "cat", n_raters=5, order_cols=["ord"]).collect()[0]
    # S1 = (25-5)+(13-5) = 28; C_x=8, C_y=2 -> S2 = 68; N=2
    assert (out.n_subjects, out.n_categories, out.s1, out.s2) == (2, 2, 28, 68)
    assert out.pbar_ppm == 28 * 1_000_000 // 40        # 0.70
    assert out.pe_ppm == 68 * 1_000_000 // 100         # 0.68
    # kappa = (0.70-0.68)/(1-0.68) = 0.0625
    assert out.kappa_ppm == 62_500


def test_fleiss_kappa_incomplete_subjects_dropped_and_degenerate_null(spark):
    from aeon_mecha_spark.operators.analytics import fleiss_kappa

    rows = [("s1", i, "x") for i in range(5)] + [("s2", i, "x") for i in range(3)]
    df = spark.createDataFrame(rows, "subj string, ord int, cat string")
    out = fleiss_kappa(df, ["subj"], "cat", n_raters=5, order_cols=["ord"]).collect()[0]
    assert out.n_subjects == 1          # s2 has only 3 ratings
    assert out.kappa_ppm is None        # one category: P̄e = 1, 0/0


def test_fleiss_kappa_perfect_agreement_two_categories(spark):
    from aeon_mecha_spark.operators.analytics import fleiss_kappa

    rows = [("s1", i, "x") for i in range(5)] + [("s2", i, "y") for i in range(5)]
    df = spark.createDataFrame(rows, "subj string, ord int, cat string")
    out = fleiss_kappa(df, ["subj"], "cat", n_raters=5, order_cols=["ord"]).collect()[0]
    assert out.pbar_ppm == 1_000_000
    assert out.kappa_ppm == 1_000_000


# -- PSI ----------------------------------------------------------------------


def test_psi_identical_distributions_is_zero(spark):
    from aeon_mecha_spark.operators.analytics import psi_numeric

    rows = [(float(v), s) for v in range(1, 101) for s in (0, 1)]
    df = spark.createDataFrame(rows, "v double, is_ref int")
    out = psi_numeric(df, "v", F.col("is_ref") == 1, n_buckets=10).collect()
    assert len(out) == 10
    assert {r.bucket for r in out} == set(range(10))
    # type-1 deciles of 1..100 are 10,20,...,90; bucket 0 holds 1..9
    # (9 values), buckets 1..8 hold 10 each, bucket 9 holds 90..100
    assert sum(r.n_ref for r in out) == 100
    for r in out:
        assert r.n_ref == r.n_cur  # identical distributions
        assert r.log_ratio_unat == 0 and r.term_unat == 0


def test_psi_boundaries_are_reference_type1_deciles(spark):
    from aeon_mecha_spark.operators.analytics import psi_numeric

    # ref = 1..100 -> decile boundaries 10,20,...,90; cur all in [1,10]
    rows = [(float(v), 1) for v in range(1, 101)] + [(5.0, 0)] * 50
    df = spark.createDataFrame(rows, "v double, is_ref int")
    out = {r.bucket: r for r in psi_numeric(df, "v", F.col("is_ref") == 1).collect()}
    assert out[0].n_cur == 50 and out[0].n_ref == 9    # ref v<10
    assert out[1].lo == 10.0
    assert out[9].lo == 90.0
    total_unat = sum(r.term_unat for r in out.values())
    assert total_unat > 500_000  # drastic shift -> PSI >> 0.25


def test_psi_terms_are_nonnegative(spark):
    from aeon_mecha_spark.operators.analytics import psi_numeric

    rows = [(float(v % 37) + 0.5, v % 3 == 0) for v in range(300)]
    df = spark.createDataFrame(rows, "v double, is_ref boolean")
    out = psi_numeric(df, "v", F.col("is_ref")).collect()
    # (p-q) and ln(p/q) always share a sign, so every term >= 0 (the
    # half-up micro-nat rounding can produce at most a tiny negative
    # when ln rounds across zero; floor(+0.5) keeps sign at 0 there)
    assert all(r.term_unat >= 0 for r in out)


# -- bigram LM ----------------------------------------------------------------


def test_bigram_logprob_hand_computed(spark):
    from aeon_mecha_spark.datapipe.bpe import apply_bpe_merges  # noqa: F401 (module import sanity)
    from aeon_mecha_spark.datapipe.textqc import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a"), (3, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in bigram_logprob(df).collect()}
    assert set(out) == {1}  # <2 tokens -> no row
    r = out[1]
    assert r.n_bigrams == 3 and r.n_unseen == 0
    # corpus: c12(a,b)=2,(b,a)=1; c1(a)=2,(b)=1; ucnt b=2,a=1; N=3
    pu_b = (2 + 0.5) / (3 + 128.5)
    pu_a = (1 + 0.5) / (3 + 128.5)
    lp_ab = math.floor(math.log(0.75 * (2 / 2) + 0.25 * pu_b) * 1e6 + 0.5)
    lp_ba = math.floor(math.log(0.75 * (1 / 1) + 0.25 * pu_a) * 1e6 + 0.5)
    s = lp_ab * 2 + lp_ba
    expected = math.floor((2.0 * s + 3.0) / 6.0) / 1e6
    assert r.logprob_per_bigram == pytest.approx(expected, abs=2e-6)


def test_bigram_logprob_orders_scores_sanely(spark):
    from aeon_mecha_spark.datapipe.textqc import bigram_logprob

    # doc 1 repeats one bigram (predictable); doc 2 is the same tokens
    # in a shuffled order with unseen-elsewhere transitions
    df = spark.createDataFrame(
        [(1, "x y x y x y x y"), (2, "y y x x y x y x")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_logprob(df).collect()}
    assert out[1].logprob_per_bigram > out[2].logprob_per_bigram


# -- Wilson lower bound -------------------------------------------------------


def _wilson_reference(n, s, z_centi=196):
    zz4 = z_centi * z_centi
    rad = zz4 * (10_000 * s * (n - s) * n + (zz4 // 4) * n * n)
    isq = math.isqrt(rad)
    num = 10_000 * s * n + (zz4 // 2) * n - isq
    den = n * (10_000 * n + zz4)
    return max(num * 1000 // den, 0) if num >= 0 else 0


def test_wilson_lower_bound_matches_exact_python_isqrt(spark):
    from aeon_mecha_spark.operators.analytics import wilson_lower_bound

    rows = []
    cases = {"a": (100, 90), "b": (2, 2), "c": (1000, 500), "d": (7, 0)}
    for k, (n, s) in cases.items():
        rows += [(k, True)] * s + [(k, False)] * (n - s)
    df = spark.createDataFrame(rows, "k string, ok boolean")
    out = {r.k: r for r in wilson_lower_bound(df, ["k"], F.col("ok")).collect()}
    for k, (n, s) in cases.items():
        assert (out[k].n, out[k].n_success) == (n, s)
        assert out[k].lb_milli == _wilson_reference(n, s), k
    # the ranking property the operator exists for: 90/100 beats 2/2
    assert out["a"].lb_milli > out["b"].lb_milli
    assert out["d"].lb_milli == 0


def test_wilson_lower_bound_large_groups_exact(spark):
    from aeon_mecha_spark.operators.analytics import wilson_lower_bound

    # large n pushes the radicand past 2^53 (double-seed error >> 1):
    # the Newton+clamp path must still land on the exact floor sqrt
    n, s = 200_000, 123_456
    df = (
        spark.range(n)
        .selectExpr("'g' AS k", f"id < {s} AS ok")
    )
    out = wilson_lower_bound(df, ["k"], F.col("ok")).collect()[0]
    assert out.lb_milli == _wilson_reference(n, s)
