"""Gopher/C4-style quality rules: golden cases + Spark/Python parity."""

import pytest

from langid_mr_spark import quality as Q

CASES = [
    "the quick brown fox jumps over the lazy dog and more words here",  # pass
    "one two",                                            # too_few_words
    "a b c d e f g h",                                    # mean_word_len low
    "the cat!!! sat??? on*** the### mat$$$ and^^^ ran&&& far(((",  # symbols
    "word word word word word word word word word word",  # repetitive
    "zzz qqq xxx vvv kkk jjj mmm nnn ppp rrr",            # no stopwords
    "",                                                   # empty → too_few
    "le chat est sur la table avec un livre rouge",       # french pass
]
EXPECT = [None, "too_few_words", "mean_word_len", "symbol_ratio",
          "repetitive", "low_stopword_density", "too_few_words", None]


def test_python_golden():
    for text, want in zip(CASES, EXPECT):
        got = Q.quality_one(text)
        assert got["quality_fail_reason"] == want, (text, got)


def test_spark_python_parity(spark):
    df = spark.createDataFrame([(t,) for t in CASES], ["t"])
    rows = Q.with_quality(df, "t", out_col="reason",
                          keep_metrics=True).collect()
    for r in rows:
        o = Q.quality_one(r["t"])
        assert r["reason"] == o["quality_fail_reason"], r["t"]
        assert r["n_words"] == o["n_words"]
        assert r["mean_word_len"] == pytest.approx(o["mean_word_len"], abs=0)
        assert r["symbol_ratio"] == pytest.approx(o["symbol_ratio"], abs=0)
        assert r["dup_token_ratio"] == pytest.approx(o["dup_token_ratio"], abs=0)
        assert r["stopword_density"] == pytest.approx(o["stopword_density"], abs=0)
