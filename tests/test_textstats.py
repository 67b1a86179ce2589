"""The text n-gram core: the shared gram extractor equals a Python
sliding window, and the integer counts of the LM scorers and the BPE
merge ladder do not depend on the shuffle partitioning."""

from __future__ import annotations

import pytest

from mapreduce_chisquare_spark.operators import textstats as tx

_ARRAYS = [[], ["a"], ["a", "b"], ["a", "b", "a"], ["c", "a", "b", "a"]]


@pytest.mark.parametrize("n", [2, 3])
def test_ngram_structs_match_python_sliding_window(spark, n):
    df = spark.createDataFrame(
        list(enumerate(_ARRAYS)), "id int, __arr array<string>"
    )
    got = {
        r.id: [tuple(g) for g in r.g]
        for r in df.select("id", tx._ngram_structs("__arr", n).alias("g"))
        .collect()
    }
    want = {
        i: list(zip(*[w[j:] for j in range(n)]))
        for i, w in enumerate(_ARRAYS)
    }
    assert got == want


# doc_id % 10 == 0 trains the held-out scorers: docs 0, 10, 20 train,
# the rest share some of their n-grams and add unseen ones; doc 33
# backs off one level ("q y z" unseen, "y z" seen in doc 0)
_WORDS = "the cat sat on a mat and the dog ran to the cat".split()
_CORPUS = [
    (i, " ".join(_WORDS[(i * 3) % 7 :][: 3 + i % 6] + ["w%d" % (i % 4)]))
    for i in range(1, 30)
] + [(0, "x y z w"), (30, ""), (31, "solo"), (33, "q y z w")]

_COUNTS = {
    "lm_unigram_score": ["n_tokens"],
    "lm_heldout_score": ["n_tokens", "n_oov"],
    "lm_bigram_score": ["n_bigrams"],
    "lm_kn_bigram_score": ["n_bigrams"],
    "lm_stupid_backoff_score": ["n_trigrams", "n_bo1", "n_bo2"],
    "lm_jm_bigram_score": ["n_bigrams", "n_unseen"],
}


def _run_all(spark, parts):
    docs = spark.createDataFrame(_CORPUS, "doc_id long, text string")
    docs = docs.repartition(parts)
    out = {
        name: sorted(
            tuple(r) for r in getattr(tx, name)(docs)
            .select("doc_id", *cols).collect()
        )
        for name, cols in _COUNTS.items()
    }
    out["bpe_merges"] = sorted(tuple(r) for r in tx.bpe_merges(docs).collect())
    return out


def test_integer_counts_identical_under_any_partitioning(spark):
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "1")
        one = _run_all(spark, 1)
        spark.conf.set(key, "7")
        seven = _run_all(spark, 7)
    finally:
        spark.conf.set(key, saved)
    assert spark.conf.get(key) == saved
    assert all(one[k] for k in one), one
    assert one == seven
