"""Order-5 Jelinek-Mercer interpolated LM
(llm/text.LanguageModelScore.interpolated_logprob) vs an independent
pure-Python reference written straight from the formula:

    P_1(w)     = (c(w) + 1) / (T + V)
    P_k(w|ctx) = lam * c_k(ctx,w) / c_k(ctx,*) + (1-lam) * P_{k-1}
"""

import math
import re
from collections import Counter

import pytest

from sparker_spark.llm.text import LanguageModelScore


def _rnd6(x: float) -> float:
    return math.floor(x * 1e6 + 0.5) / 1e6


def ref_lm(
    docs: dict[int, str],
    n: int,
    lam: float,
    prune_min_count: int = 1,
    prune_from: int = 3,
):
    toks = {
        d: [t for t in re.split(r"[^0-9a-z_]+", s.lower()) if t]
        for d, s in docs.items()
    }
    total = sum(len(t) for t in toks.values())
    vocab = len({w for t in toks.values() for w in t})
    counts = [Counter() for _ in range(n + 1)]  # counts[k][gram]
    ctx = [Counter() for _ in range(n + 1)]
    for t in toks.values():
        for i, w in enumerate(t):
            for k in range(1, n + 1):
                if i - k + 1 >= 0:
                    g = tuple(t[i - k + 1 : i + 1])
                    counts[k][g] += 1
                    ctx[k][g[:-1]] += 1
    out = {}
    for d, t in toks.items():
        if len(t) < n:
            continue
        lps = []
        for i in range(n - 1, len(t)):
            w = t[i]
            p = (counts[1][(w,)] + 1.0) / (total + vocab)
            for k in range(2, n + 1):
                g = tuple(t[i - k + 1 : i + 1])
                # KenLM-style pruning: gram removed from the model ->
                # ML term 0 (context sums stay unpruned)
                if (
                    prune_min_count > 1
                    and k >= prune_from
                    and counts[k][g] < prune_min_count
                ):
                    ml = 0.0
                else:
                    ml = counts[k][g] / ctx[k][g[:-1]]
                p = lam * ml + (1.0 - lam) * p
            lps.append(_rnd6(math.log(p)))
        # DECIMAL(18,6) sum == exact sum of the 6-dp terms
        s = round(sum(round(x * 1e6) for x in lps))
        out[d] = (len(lps), _rnd6(s / 1e6 / len(lps)))
    return out


@pytest.mark.parametrize("n", [2, 3, 5])
def test_interpolated_matches_reference(spark, n):
    docs = {
        0: "the cat sat on the mat and the cat ran",
        1: "the dog sat on the log and the dog ran far away",
        2: "a b a b a b a b",
        3: "one two three four five six seven",
        4: "short",  # fewer than n tokens at n=2? one token -> no row
    }
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_grams"], float(r["avg_logprob"]))
        for r in LanguageModelScore.interpolated_logprob(df, n).collect()
    }
    want = ref_lm(docs, n, 0.5)
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0], (n, d, got[d], want[d])
        assert abs(got[d][1] - want[d][1]) < 1e-9, (n, d, got[d], want[d])


@pytest.mark.parametrize("n,pmc,pfrom", [(3, 2, 3), (5, 2, 3), (5, 3, 2)])
def test_pruned_matches_reference(spark, n, pmc, pfrom):
    docs = {
        0: "the cat sat on the mat and the cat sat on the rug",
        1: "the dog sat on the log and the dog ran far away now",
        2: "a b a b a b a b c d e f",
        3: "one two three four five six seven eight nine",
    }
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_grams"], float(r["avg_logprob"]))
        for r in LanguageModelScore.interpolated_logprob(
            df, n, prune_min_count=pmc, prune_from=pfrom
        ).collect()
    }
    want = ref_lm(docs, n, 0.5, prune_min_count=pmc, prune_from=pfrom)
    assert set(got) == set(want)
    for d in want:
        assert got[d][0] == want[d][0], (n, d, got[d], want[d])
        assert abs(got[d][1] - want[d][1]) < 1e-9, (n, d, got[d], want[d])


def test_prune_one_is_identity(spark):
    docs = {
        0: "the cat sat on the mat and the cat ran",
        1: "the dog sat on the log and the dog ran far away",
    }
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    base = sorted(
        (r["doc_id"], r["n_grams"], float(r["avg_logprob"]))
        for r in LanguageModelScore.interpolated_logprob(df, 5).collect()
    )
    p1 = sorted(
        (r["doc_id"], r["n_grams"], float(r["avg_logprob"]))
        for r in LanguageModelScore.interpolated_logprob(
            df, 5, prune_min_count=1
        ).collect()
    )
    assert base == p1


def test_prune_changes_singleton_grams(spark):
    # every 5-gram here is a singleton -> with pmc=2 the top orders
    # contribute 0 and the score must DROP vs unpruned
    docs = {0: "q w e r t y u i o p"}
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    base = float(
        LanguageModelScore.interpolated_logprob(df, 5)
        .collect()[0]["avg_logprob"]
    )
    pruned = float(
        LanguageModelScore.interpolated_logprob(df, 5, prune_min_count=2)
        .collect()[0]["avg_logprob"]
    )
    assert pruned < base


def test_prune_rejects_bad_min_count(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        LanguageModelScore.interpolated_logprob(df, 5, prune_min_count=0)


def test_interpolated_empty_and_short(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "a b c")], "doc_id long, text string"
    )
    rows = LanguageModelScore.interpolated_logprob(df, 5).collect()
    assert rows == []  # no doc has 5 tokens


def test_interpolated_rejects_unigram_order(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        LanguageModelScore.interpolated_logprob(df, 1)


@pytest.mark.parametrize(
    "score",
    [
        LanguageModelScore.unigram_logprob,
        LanguageModelScore.bigram_logprob,
        LanguageModelScore.trigram_logprob,
        lambda d: LanguageModelScore.interpolated_logprob(d, 5),
        lambda d: LanguageModelScore.interpolated_logprob(
            d, 5, prune_min_count=2
        ),
    ],
    ids=["unigram", "bigram", "trigram", "jm5", "jm5_pruned"],
)
def test_scorers_leave_no_cached_relation(spark, score):
    """Each scorer's intermediates are owned by its result: nothing is
    left registered with the session cache once it is collected."""
    spark.catalog.clearCache()
    docs = {
        0: "the cat sat on the mat and the cat ran",
        1: "the dog sat on the log and the dog ran far away",
    }
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    assert score(df).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
