"""Tests: Gopher quality/repetition filters, PII scrub, contamination
check, Katz centrality, deterministic-Luby MIS."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from montecarlopagerank_spark.algos.katz import eigenvector_centrality, katz
from montecarlopagerank_spark.algos.mis import luby_mis
from montecarlopagerank_spark.pipeline.contamination import contamination_check
from montecarlopagerank_spark.pipeline.pii import pii_scrub
from montecarlopagerank_spark.pipeline.quality_filters import (
    gopher_quality_flags,
    repetition_stats,
)
from tests.conftest import shuffle_partitions
from tests.oracle import random_powerlaw_digraph


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


# ---------------------------------------------------------------------------
# quality filters
# ---------------------------------------------------------------------------


def test_gopher_flags_rules(spark):
    good = "the quick brown fox jumps over a lazy dog " * 5  # 45 words, stopwords
    short = "too short"
    symbols = "the a " + "### ... ### " * 20  # symbol-heavy but enough words
    rows = (
        gopher_quality_flags(docs_df(spark, [good, short, symbols]))
        .orderBy("doc_id")
        .collect()
    )
    assert rows[0].passes_gopher
    assert not rows[1].ok_words and not rows[1].passes_gopher
    assert not rows[2].ok_symbol_ratio and not rows[2].passes_gopher
    # measured values, not just flags: 'the' and 'a' ×5 repeats
    assert rows[0].n_words == 45
    assert rows[0].n_stopwords == 10


def test_gopher_flags_empty_text(spark):
    rows = gopher_quality_flags(docs_df(spark, ["", "   "])).collect()
    for r in rows:
        assert not r.passes_gopher


def test_repetition_stats_values(spark):
    # "a b a b a" → tokens 5, distinct 2 → dup_token_frac = 0.6
    # bigrams: [a b, b a, a b, b a] → distinct 2 → dup_bigram_frac = 0.5
    # top bigram count 2 of 4 → top_bigram_frac = 0.5
    r = repetition_stats(docs_df(spark, ["a b a b a"])).collect()[0]
    assert r.n_tokens == 5
    assert r.dup_token_frac == pytest.approx(0.6)
    assert r.dup_bigram_frac == pytest.approx(0.5)
    assert r.top_bigram_frac == pytest.approx(0.5)


def test_repetition_stats_degenerate(spark):
    rows = (
        repetition_stats(docs_df(spark, ["solo", "x y"])).orderBy("doc_id").collect()
    )
    assert rows[0].n_tokens == 1 and rows[0].top_bigram_frac == 0.0
    assert rows[1].dup_bigram_frac == 0.0 and rows[1].top_bigram_frac == 1.0


# ---------------------------------------------------------------------------
# PII
# ---------------------------------------------------------------------------


def test_pii_scrub_kinds_and_masking(spark):
    df = docs_df(
        spark,
        [
            "contact bob.smith+x@example.co.uk today",
            "server at 10.0.255.3 rebooted",
            "call +1 (555) 123-4567 now",
            "pin 123456 rejected",  # 6 digits: too short for phone, digit run fires
            "mixed a@b.io and 1.2.3.4 and 99999",
            "clean text with no pii at all",
        ],
    )
    rows = pii_scrub(df, "text", ("doc_id",)).orderBy("doc_id").collect()
    assert rows[0].n_email == 1 and "<EMAIL>" in rows[0].redacted
    assert "bob" not in rows[0].redacted
    assert rows[1].n_ipv4 == 1 and "<IP>" in rows[1].redacted
    assert rows[2].n_phone == 1 and "<PHONE>" in rows[2].redacted
    assert rows[3].n_digit_run == 1 and "<NUM>" in rows[3].redacted
    assert rows[4].n_email == 1 and rows[4].n_ipv4 == 1 and rows[4].n_digit_run == 1
    assert rows[5].n_pii == 0 and rows[5].redacted == "clean text with no pii at all"


def test_pii_email_digits_not_double_counted(spark):
    # the email mask runs first, so its digits never count as a digit run
    df = docs_df(spark, ["reach 12345@example.com ok"])
    r = pii_scrub(df, "text", ("doc_id",)).collect()[0]
    assert r.n_email == 1 and r.n_digit_run == 0
    assert r.redacted == "reach <EMAIL> ok"


# ---------------------------------------------------------------------------
# contamination
# ---------------------------------------------------------------------------


def test_contamination_known_overlap(spark):
    bench = docs_df(spark, ["alpha beta gamma delta"])
    train = spark.createDataFrame(
        [
            (10, "alpha beta gamma epsilon"),  # shares 'alpha beta gamma'
            (11, "zeta eta theta iota"),  # no overlap
            (12, "xy"),  # too short for a 3-gram
        ],
        "doc_id long, text string",
    )
    rows = (
        contamination_check(train, bench, n=3).orderBy("doc_id").collect()
    )
    assert (rows[0].n_shingles, rows[0].n_contaminated, rows[0].contaminated) == (
        2,
        1,
        True,
    )
    assert (rows[1].n_contaminated, rows[1].contaminated) == (0, False)
    assert (rows[2].n_shingles, rows[2].contaminated) == (0, False)


def test_contamination_counts_distinct_shingles_once(spark):
    bench = docs_df(spark, ["a b c"])
    train = spark.createDataFrame(
        [(1, "a b c a b c a b c")], "doc_id long, text string"
    )
    r = contamination_check(train, bench, n=3).collect()[0]
    # 7 positions but distinct shingles are {a b c, b c a, c a b} → 3,
    # of which only 'a b c' is in the benchmark
    assert r.n_shingles == 3 and r.n_contaminated == 1


# ---------------------------------------------------------------------------
# katz
# ---------------------------------------------------------------------------


def test_katz_matches_dense_numpy(spark):
    edges = random_powerlaw_digraph(n=80, seed=7)
    df = spark.createDataFrame(edges, "src long, dst long")
    scores, info = katz(spark, df, alpha=0.01, iters=8)
    got = {r.v: r.katz for r in scores.collect()}
    verts = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(verts)}
    A = np.zeros((len(verts), len(verts)))
    for u, v in edges:
        A[idx[u], idx[v]] += 1.0  # multigraph: duplicates accumulate
    x = np.ones(len(verts))
    for _ in range(8):
        x = 1.0 + 0.01 * (A.T @ x)
    for v in verts:
        assert got[v] == pytest.approx(x[idx[v]], rel=1e-9)
    assert info["n"] == len(verts)


def test_katz_norm_sums_to_n(spark, cycle5):
    scores, info = katz(spark, cycle5, alpha=0.1, iters=4)
    total = scores.agg(F.sum("katz_norm")).collect()[0][0]
    assert total == pytest.approx(info["n"], rel=1e-9)


def test_eigenvector_matches_dense_power_method(spark):
    edges = random_powerlaw_digraph(n=80, seed=11)
    df = spark.createDataFrame(edges, "src long, dst long")
    scores, info = eigenvector_centrality(spark, df, iters=6)
    got = {r.v: r.katz_norm for r in scores.collect()}
    verts = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(verts)}
    A = np.zeros((len(verts), len(verts)))
    for u, v in edges:
        A[idx[u], idx[v]] += 1.0
    x = np.ones(len(verts))
    for _ in range(6):
        x = A.T @ x  # raw power method, normalized once at the end
    x = x * len(verts) / x.sum()
    for v in verts:
        assert got[v] == pytest.approx(x[idx[v]], rel=1e-9, abs=1e-12)
    assert info["n"] == len(verts)


def test_eigenvector_zero_in_degree_scores_zero(spark):
    # a -> b -> c chain: after 2+ steps only c retains mass (a gets none,
    # b's supply dies once a's initial mass passes through)
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    scores, _ = eigenvector_centrality(spark, df, iters=3)
    got = {r.v: r.katz for r in scores.collect()}
    assert got["a"] == 0.0 and got["b"] == 0.0 and got["c"] == 0.0
    # iters=1 keeps the chain alive: b and c each received a's/b's unit
    scores1, _ = eigenvector_centrality(spark, df, iters=1)
    got1 = {r.v: r.katz for r in scores1.collect()}
    assert got1 == {"a": 0.0, "b": 1.0, "c": 1.0}


# ---------------------------------------------------------------------------
# MIS
# ---------------------------------------------------------------------------


def _check_mis(edges, mis_set):
    und = {(u, v) for u, v in edges if u != v} | {
        (v, u) for u, v in edges if u != v
    }
    nbrs: dict = {}
    verts = set()
    for u, v in und:
        nbrs.setdefault(u, set()).add(v)
        verts.add(u), verts.add(v)
    verts |= {u for u, v in edges} | {v for _, v in edges}
    # independence
    for u in mis_set:
        assert not (nbrs.get(u, set()) & mis_set), f"{u} has a MIS neighbour"
    # maximality: every non-member has a MIS neighbour
    for u in verts - mis_set:
        assert nbrs.get(u, set()) & mis_set, f"{u} could be added"


def test_mis_valid_on_powerlaw(spark):
    edges = random_powerlaw_digraph(n=150, seed=11)
    df = spark.createDataFrame(edges, "src long, dst long")
    mis, info = luby_mis(spark, df)
    assert info["converged"]
    _check_mis(edges, {r.v for r in mis.select("v").collect()})


def test_mis_deterministic_across_partitioning(spark):
    edges = random_powerlaw_digraph(n=100, seed=3)
    df = spark.createDataFrame(edges, "src long, dst long")
    with shuffle_partitions(spark, 2):
        a, _ = luby_mis(spark, df)
        va = {r.v for r in a.collect()}
    with shuffle_partitions(spark, 7):
        b, _ = luby_mis(spark, df.repartition(13))
        vb = {r.v for r in b.collect()}
    assert va == vb


def test_mis_isolated_and_self_loop_vertices(spark):
    df = spark.createDataFrame(
        [(1, 1), (2, 3)], "src long, dst long"
    )  # 1 is self-loop-only → independent; 2-3 an edge
    mis, info = luby_mis(spark, df)
    got = {r.v for r in mis.select("v").collect()}
    assert 1 in got and len(got & {2, 3}) == 1


def test_quality_funnel_stages_monotone_and_exact(spark):
    from montecarlopagerank_spark.pipeline.quality_filters import quality_funnel

    # 37 distinct words, 2 stopwords, mean len ≥ 3 → passes every stage
    good = "the and " + " ".join(f"word{i:02d}" for i in range(35))
    dupe = good  # exact duplicate of good → dropped at stage 4
    short = "too short"  # fails gopher
    # passes gopher (40 words, mean len ≥ 3, 2 stopwords, all-alpha) but
    # 30× "word" pushes dup_token_frac ≈ 0.72 past the 0.3 ceiling
    reps = "the brown dog runs over fields and waits here again " + "word " * 30
    rows = {
        r.stage: r
        for r in quality_funnel(
            spark.createDataFrame(
                [(0, good), (1, dupe), (2, short), (3, reps)],
                "doc_id long, text string",
            )
        ).collect()
    }
    names = {r.stage: r.name for r in rows.values()}
    assert names == {0: "all", 1: "gopher", 2: "repetition", 3: "langid_en",
                     4: "exact_dedup"}
    counts = [rows[s].n_docs for s in range(5)]
    assert counts[0] == 4
    assert counts == sorted(counts, reverse=True)  # cumulative conjunction
    # short fails gopher; reps fails repetition; dupe dies only at dedup
    assert counts[1] == 3 and counts[2] == 2 and counts[3] == 2 and counts[4] == 1
    # char mass consistent: stage-0 mass is the total text length
    assert rows[0].n_chars == sum(len(t) for t in (good, dupe, short, reps))


def test_bloom_prefilter_no_false_negatives(spark):
    """Every truly contaminated shingle passes the Bloom prefilter
    (suspect counts dominate contaminated counts, doc for doc), and a
    tight filter keeps false positives plausible."""
    import random

    from montecarlopagerank_spark.pipeline.contamination import (
        bloom_positions,
        bloom_prefilter,
        contamination_check,
        word_shingles,
    )

    rng = random.Random(97)
    vocab = [f"w{i}" for i in range(40)]
    mk = lambda: " ".join(rng.choice(vocab) for _ in range(25))  # noqa: E731
    bench_texts = [mk() for _ in range(6)]
    # half the train docs embed a benchmark span verbatim → contaminated
    train_texts = [
        (mk() + " " + " ".join(bench_texts[i % 6].split()[3:9])) if i % 2 == 0
        else mk()
        for i in range(20)
    ]
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(i, t) for i, t in enumerate(bench_texts)], "doc_id long, text string"
    )
    from pyspark.sql import functions as F2

    bloom = bloom_positions(
        bench.select(F2.explode(word_shingles(F2.col("text"), 5)).alias("g")),
        key_col="g", m_bits=1 << 14, k_hashes=4,
    )
    pre = {
        r.doc_id: r.n_suspect
        for r in bloom_prefilter(
            train, bloom, n=5, m_bits=1 << 14, k_hashes=4
        ).collect()
    }
    exact = {
        r.doc_id: r.n_contaminated
        for r in contamination_check(train, bench, n=5).collect()
    }
    assert set(pre) == set(exact)
    for d in exact:
        assert pre[d] >= exact[d]  # no false negatives, ever
    assert sum(1 for d in exact if exact[d] > 0) >= 8  # fixture is real
    # at 2^14 bits / ~130 benchmark shingles the FP load stays small
    assert sum(pre.values()) <= sum(exact.values()) + 10
