"""Interpolated Kneser-Ney order-n scorer (llm/text.py,
LanguageModelScore.kneser_ney_logprob) against a brute-force pure-
Python reference on small corpora."""

import math
from collections import Counter, defaultdict

import pytest

from sparker_spark.llm.text import LanguageModelScore

DOCS = [
    (1, "the cat sat on the mat and the cat ran off the mat"),
    (2, "the dog sat on the rug and the dog ran off the rug"),
    (3, "a cat and a dog sat on a mat near the rug"),
    (4, "the cat the cat the cat sat sat sat on on the mat"),
    (5, "tiny"),
]


def tokenize(text):
    import re

    return [t for t in re.split(r"[^0-9a-z_]+", text.lower()) if t]


def brute_kn(docs, n):
    """Reference interpolated KN with one Ney discount per order,
    continuation counts at orders < n, uniform 1/V base."""
    toks = {d: tokenize(t) for d, t in docs}
    vocab = {w for ts in toks.values() for w in ts}
    V = float(len(vocab))
    # raw k-gram counts per order 2..n
    raw = {k: Counter() for k in range(2, n + 1)}
    for ts in toks.values():
        for k in range(2, n + 1):
            for i in range(len(ts) - k + 1):
                raw[k][tuple(ts[i : i + k])] += 1
    # adjusted counts: raw at top, continuation below
    adj = {n: dict(raw[n])}
    for k in range(n - 1, 0, -1):
        c = Counter()
        for gram in raw[k + 1]:
            c[gram[1:]] += 1
        adj[k] = dict(c)
    # Ney discounts
    D = {}
    for k in range(1, n + 1):
        n1 = sum(1 for v in adj[k].values() if v == 1)
        n2 = sum(1 for v in adj[k].values() if v == 2)
        D[k] = n1 / (n1 + 2.0 * n2) if (n1 + 2 * n2) > 0 else 0.5
    # context sums / type counts
    den = {k: defaultdict(float) for k in range(2, n + 1)}
    nt = {k: defaultdict(float) for k in range(2, n + 1)}
    for k in range(2, n + 1):
        for gram, a in adj[k].items():
            den[k][gram[:-1]] += a
            nt[k][gram[:-1]] += 1
    t_prime = float(sum(adj[1].values()))
    n1_types = float(len(adj[1]))

    def prob(gram):  # gram: tuple of n tokens (w_{n-1}..w0 order)
        w = gram[-1]
        p = max(adj[1][(w,)] - D[1], 0.0) / t_prime + (
            D[1] * n1_types / t_prime
        ) * (1.0 / V)
        for k in range(2, n + 1):
            sub = gram[n - k :]
            ctx = sub[:-1]
            p = max(adj[k][sub] - D[k], 0.0) / den[k][ctx] + (
                D[k] * nt[k][ctx] / den[k][ctx]
            ) * p
        return p

    out = {}
    for d, ts in toks.items():
        lps = []
        for i in range(n - 1, len(ts)):
            lps.append(round(math.log(prob(tuple(ts[i - n + 1 : i + 1]))), 6))
        if lps:
            out[d] = (len(lps), round(sum(lps) / len(lps), 6))
    return out


@pytest.mark.parametrize("n", [2, 3, 5])
def test_kn_matches_bruteforce(spark, n):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_grams"], r["avg_logprob"])
        for r in LanguageModelScore.kneser_ney_logprob(df, n).collect()
    }
    want = brute_kn(DOCS, n)
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0], d
        assert got[d][1] == pytest.approx(want[d][1], abs=2e-6), d


def test_kn_probabilities_normalize(spark):
    """Every conditional P_k sums to 1 over the vocab for an observed
    context — checked via the brute-force model (the engine matches it
    above); guards the den/nt bookkeeping."""
    n = 3
    toks = {d: tokenize(t) for d, t in DOCS}
    vocab = sorted({w for ts in toks.values() for w in ts})
    # reuse the reference internals by rebuilding them here
    raw = {k: Counter() for k in range(2, n + 1)}
    for ts in toks.values():
        for k in range(2, n + 1):
            for i in range(len(ts) - k + 1):
                raw[k][tuple(ts[i : i + k])] += 1
    adj = {n: dict(raw[n])}
    for k in range(n - 1, 0, -1):
        c = Counter()
        for gram in raw[k + 1]:
            c[gram[1:]] += 1
        adj[k] = dict(c)
    D = {}
    for k in range(1, n + 1):
        n1 = sum(1 for v in adj[k].values() if v == 1)
        n2 = sum(1 for v in adj[k].values() if v == 2)
        D[k] = n1 / (n1 + 2.0 * n2) if (n1 + 2 * n2) > 0 else 0.5
    den = defaultdict(float)
    nt = defaultdict(float)
    for gram, a in adj[2].items():
        den[gram[:-1]] += a
        nt[gram[:-1]] += 1
    t_prime = float(sum(adj[1].values()))
    n1_types = float(len(adj[1]))
    V = float(len(vocab))

    def p1(w):
        a = adj[1].get((w,), 0.0)
        return max(a - D[1], 0.0) / t_prime + (D[1] * n1_types / t_prime) * (
            1.0 / V
        )

    assert sum(p1(w) for w in vocab) == pytest.approx(1.0, abs=1e-9)
    ctx = ("the",)
    s = 0.0
    for w in vocab:
        a = adj[2].get(ctx + (w,), 0.0)
        s += max(a - D[2], 0.0) / den[ctx] + (
            D[2] * nt[ctx] / den[ctx]
        ) * p1(w)
    assert s == pytest.approx(1.0, abs=1e-9)


def test_kn_short_docs_produce_no_row(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {r["doc_id"] for r in LanguageModelScore.kneser_ney_logprob(df, 5).collect()}
    assert 5 not in got  # "tiny" has one token


def test_kn_leaves_no_cached_relation(spark):
    """The scorer's intermediates are owned by its result: nothing is
    left registered with the session cache once it is collected."""
    spark.catalog.clearCache()
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    assert LanguageModelScore.kneser_ney_logprob(df, 3).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
