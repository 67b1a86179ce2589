"""Text-analysis operators for corpus curation, all built-in Catalyst
expressions (no UDFs). The families:

- language ID and quality: lang_id, quality_score/quality_gate,
  quality_gopher_rules, char_entropy, sentence_stats, html_strip,
  normalize_text/dedup_normalized;
- token statistics and retrieval: token_count, corpus_composition,
  tfidf/tfidf_topk_terms, bm25/bm25_topk, vocab_*, tokens_to_ids,
  inverted_index, skipgram_cooc, bpe_*;
- fingerprinting: doc_fingerprint, winnowing_fingerprint;
- the n-gram family: the LM ladder (lm_unigram_score,
  lm_bigram_score, lm_heldout_score, lm_kn_bigram_score,
  lm_stupid_backoff_score, lm_jm_bigram_score),
  quality_perplexity_buckets, the collocation rankers
  (collocations_pmi, collocations_g2) and the string n-grams
  (ngram_counts, ngram_novelty).

The n-gram family is built from one counting core (_ngram_structs,
_gram_tf, _per_doc, _mean, _collocations, _ngram_strings) with one
contract: the corpus is tokenized once; one exchange keyed on the gram
columns serves both the per-document tf aggregate and every corpus
count rolled up from it (ReusedExchange); corpus-wide scalars (totals,
vocabulary sizes) attach as 1-row broadcasts; the held-out scorers
train on doc_id % 10 == 0. Each scorer keeps its own smoothing formula.

Ratios are single IEEE divisions of exact integer counts, and composite
scores are sums of those — deterministic across engines when written in
the same order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..constants import DELIM_REGEX, STOPWORDS
from ..sources.readers import literal_relation

# Tiny per-language marker profiles (n-gram-heuristic stand-in; real
# deployments would ship fastText-style models via a pandas_udf).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "ist", "das", "nicht"),
    "en": ("the", "and", "of", "is", "was", "not"),
    "es": ("el", "la", "los", "es", "que", "no"),
    "fr": ("le", "la", "les", "est", "et", "pas"),
    "zh": ("de", "shi", "le", "bu", "wo", "ta"),
}

# BPE-ish pre-tokenizer: letter runs | single digits | single symbols.
BPE_REGEX = "[a-z]+|[0-9]|[^a-z0-9\\s]"


def _words(text_col: str = "text"):
    return F.filter(
        F.split(F.lower(F.col(text_col)), "\\s+"), lambda t: t != ""
    )


def _ngram_structs(arr: str, n: int) -> Column:
    """struct(w1, .., wn) per start position of the token-array column
    `arr` (by name), for n = 2 or 3. Empty-safe: the slice has length
    max(size - (n-1), 0), where sequence(0, size - n) would turn into a
    DESCENDING range on short documents and fabricate null grams. The
    lambda variables are collision-proof names: a lambda parameter
    shadows any same-named column inside the body."""
    rest = ", ".join(f"{arr}[__bg_i + {j}] AS w{j + 1}" for j in range(1, n))
    return F.expr(
        f"transform(slice({arr}, 1, greatest(size({arr}) - {n - 1}, 0)), "
        f"(__bg_w, __bg_i) -> struct(__bg_w AS w1, {rest}))"
    )


def _train_flag() -> Column:
    """The held-out scorers' training split (the DuckDB twins hard-code
    the same % 10 = 0)."""
    return F.col("doc_id") % F.lit(10) == F.lit(0)


def _gram_tf(
    docs: DataFrame, text_col: str, n: int, train: bool = False
) -> DataFrame:
    """(doc_id[, __train], gram..., tf): the per-document n-gram counts.
    Grams are `term` for n = 1, else (w1, .., wn). The one corpus-sized
    exchange is the repartition on the gram columns: it satisfies the
    (doc, gram) aggregate here AND every gram-keyed roll-up of it, so
    corpus counts reuse it instead of re-scanning."""
    flag = [_train_flag().alias("__train")] if train else []
    keys = ["doc_id", "__train"][: 1 + int(train)]
    if n == 1:
        grams = ["term"]
        toks = docs.select(
            "doc_id", *flag, F.explode(_words(text_col)).alias("term")
        )
    else:
        grams = ["w1", "w2", "w3"][:n]
        toks = (
            docs.select("doc_id", *flag, _words(text_col).alias("__arr"))
            .select(*keys, F.explode(_ngram_structs("__arr", n)).alias("g"))
            .select(*keys, *(f"g.{w}" for w in grams))
        )
    return (
        toks.repartition(*grams)
        .groupBy(*keys, *grams)
        .agg(F.count("*").cast("long").alias("tf"))
    )


def _sum(col: str, name: str) -> Column:
    return F.sum(col).cast("long").alias(name)


def _dbl(col: str) -> Column:
    return F.col(col).cast("double")


def _micro(x: Column) -> Column:
    """floor(x · 1e6) as BIGINT: a log quantized to micro-nats."""
    return F.floor(x * F.lit(1e6)).cast("long")


def _tf_where(cond: Column, name: str) -> Column:
    """The tf mass of the grams that satisfy cond (an integer count)."""
    return F.sum(F.when(cond, F.col("tf")).otherwise(F.lit(0))).cast(
        "long"
    ).alias(name)


def _per_doc(
    scored: DataFrame, n_col: str, lp: Column, *extra: Column
) -> DataFrame:
    """(doc_id, n_col, *extra, __s): gram count, extra counts and the
    tf-weighted log-probability sum — sum(tf·lp)/sum(tf) is the
    per-position mean without carrying the raw gram stream."""
    return scored.groupBy("doc_id").agg(
        _sum("tf", n_col),
        *extra,
        F.sum(_dbl("tf") * lp).alias("__s"),
    )


def _mean(n_col: str, minus: Column | None = None) -> Column:
    """avg_logprob: the per-position mean, less a corpus log-normalizer
    attached once after the per-doc aggregate when one is given."""
    mean = F.col("__s") / _dbl(n_col)
    return (mean if minus is None else mean - minus).alias("avg_logprob")


def _collocations(
    docs: DataFrame,
    text_col: str,
    min_count: int,
    k: int,
    name: str,
    score: Column,
) -> DataFrame:
    """Top-k adjacent bigrams (w1, w2, pair_cnt, <name>) by score, over
    bigram POSITIONS: pair_cnt = c(w1,w2), lc = c_left(w1), rc =
    c_right(w2), nbi = total bigrams, so the marginals and the joint
    share one sample space. The pair-count relation has four consumers
    (two marginals, the total, scoring), so it is materialized once:
    unmaterialized, the corpus scan and explode ran once per consumer.
    Pairs below min_count are pruned before scoring; the top-k is
    TakeOrdered on (score DESC, w1, w2)."""
    bigrams = (
        docs.select(_words(text_col).alias("__w"))
        .select(F.explode(_ngram_structs("__w", 2)).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    bc = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("pair_cnt")
    ).localCheckpoint()
    left = bc.groupBy("w1").agg(_sum("pair_cnt", "lc"))
    right = bc.groupBy("w2").agg(_sum("pair_cnt", "rc"))
    total = bc.agg(_sum("pair_cnt", "nbi"))
    scored = (
        bc.filter(F.col("pair_cnt") >= F.lit(int(min_count)))
        .join(F.broadcast(left), "w1")
        .join(F.broadcast(right), "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "pair_cnt", score.alias(name))
    )
    return scored.orderBy(F.desc(name), F.asc("w1"), F.asc("w2")).limit(
        int(k)
    )


def _ngram_strings(n: int) -> Column:
    """The space-joined word n-grams of the token-array column __w;
    empty below n tokens."""
    parts = ", ".join(f"element_at(__w, i + {j})" for j in range(n))
    return F.expr(
        f"CASE WHEN size(__w) >= {n} THEN "
        f"transform(sequence(1, size(__w) - {n - 1}), "
        f"i -> concat_ws(' ', {parts})) "
        f"ELSE array() END"
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang, score): argmax of profile-marker hits (with
    multiplicity), ties broken by language code; 'und' when nothing
    matches.

    Entirely map-side: the profiles are literals, so each language's
    score is a membership count over the tokenized words inside ONE
    projection and the argmax is a CASE chain across the 5 score
    columns — zero shuffles, scan-speed at 100 TB. (The first-round
    form exploded every word, broadcast-joined the 30-row profile
    table, aggregated (doc,lang), and ranked with a window: two
    exchanges plus a window for a per-document computation.)"""
    langs = sorted(LANG_PROFILES)
    base = docs.select("doc_id", _words(text_col).alias("__w"))
    words = F.col("__w")

    def score_of(lang: str):
        prof = F.array(*[F.lit(w) for w in LANG_PROFILES[lang]])
        return F.size(F.filter(words, lambda t: F.array_contains(prof, t)))

    # Materialize the 5 scores once (their own projection — used many
    # times below, so CollapseProject keeps them); the argmax CASE then
    # reads array slots, not re-evaluated filters.
    scored = base.select(
        "doc_id", F.array(*[score_of(lang) for lang in langs]).alias("__s")
    )
    s = F.col("__s")
    best = F.array_max(s)
    pred = F.when(best <= 0, F.lit("und"))
    for i, lang in enumerate(langs):  # first hit = lowest code wins ties
        pred = pred.when(F.element_at(s, i + 1) == best, F.lit(lang))
    return scored.select(
        "doc_id",
        # coalesce/greatest guard the null-text row (size(null) = -1)
        F.coalesce(pred, F.lit("und")).alias("pred_lang"),
        F.greatest(best, F.lit(0)).cast("long").alias("score"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_chars, n_tokens, n_distinct, stop_ratio, ttr, score).

    score = stop_ratio + ttr (type-token ratio): crude but the shape
    (cheap per-doc columnar metrics feeding a filter) is what a 100 TB
    curation pass runs.
    """
    words = _words(text_col)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(words)
    n_stop = F.size(F.filter(words, lambda t: F.array_contains(stop_arr, t)))
    n_distinct = F.size(F.array_distinct(words))
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens.cast("double")).otherwise(F.lit(0.0))
    ttr = F.when(n_tokens > 0, n_distinct.cast("double") / n_tokens.cast("double")).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct"),
        stop_ratio.alias("stop_ratio"),
        ttr.alias("ttr"),
        (stop_ratio + ttr).alias("score"),
    )


def quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_stop_ratio: float = 0.6,
) -> DataFrame:
    """Single-scan quality gate: the quality_score thresholds applied
    as an inline scan predicate — no metric relation, no join-back.
    Keeps exactly the rows that joining quality_score and filtering
    keeps (same token/stopword expressions, same IEEE division), but
    the corpus is read ONCE and the gate runs inside the scan stage —
    the difference between one pass and two at 100 TB."""
    words = _words(text_col)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(words)
    n_stop = F.size(F.filter(words, lambda t: F.array_contains(stop_arr, t)))
    stop_ratio = F.when(
        n_tokens > 0, n_stop.cast("double") / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    return docs.filter(
        (n_tokens >= min_tokens) & (stop_ratio <= max_stop_ratio)
    )


def token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_ws, n_bpe): whitespace tokens vs BPE-ish pre-tokens."""
    return docs.select(
        "doc_id",
        F.size(_words(text_col)).cast("long").alias("n_ws"),
        F.regexp_count(F.lower(F.col(text_col)), F.lit(BPE_REGEX))
        .cast("long")
        .alias("n_bpe"),
    )


def doc_fingerprint(docs: DataFrame, text_col: str = "text", gram: int = 5) -> DataFrame:
    """(doc_id, content_md5, min_gram_hash): whole-content hash + the
    minimum rolling character-5-gram md5 (winnowing-style robust
    fingerprint — stable under small edits).

    The lowered text is materialized in its own projection first —
    inside the (interpreted, CSE-less) transform lambda it would be
    re-lowered once per gram, O(len²) per document.
    """
    base = docs.select(
        "doc_id", F.lower(F.col(text_col)).alias("__t")
    )
    text = F.col("__t")
    grams = F.when(
        F.length(text) >= gram,
        F.transform(
            F.sequence(F.lit(1), F.length(text) - (gram - 1)),
            lambda i: F.md5(text.substr(i, F.lit(gram))),
        ),
    ).otherwise(F.array(F.md5(text)))
    return base.select(
        "doc_id",
        F.md5(text).alias("content_md5"),
        F.array_min(grams).alias("min_gram_hash"),
    )


def ngram_counts(
    docs: DataFrame, text_col: str = "text", n: int = 3, k: int = 50
) -> DataFrame:
    """Global top-k word n-grams: (ngram, n_count) — the corpus
    collocation table contamination screens and quality reports read.
    Grams materialize from a per-doc array transform (the token array
    is projected once first — HOFs are interpreted, no CSE), then one
    hash count and a TakeOrderedAndProject top-k (no full sort). Ties
    break on the gram text for determinism."""
    base = docs.select(_words(text_col).alias("__w")).select(
        F.explode(_ngram_strings(n)).alias("ngram")
    )
    return (
        base.groupBy("ngram")
        .agg(F.count("*").alias("n_count"))
        .orderBy(F.desc("n_count"), F.asc("ngram"))
        .limit(k)
    )


def corpus_composition(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The corpus-composition report every training run starts with:
    per (lang, source) cell — document count, token count, token
    share, and the cumulative share in descending-size order (the
    'what covers 90% of my tokens' view that drives mixing and
    curation decisions).

    Exactness: doc/token counts are exact integers (map-side token
    sizing, one tiny hash aggregate), shares are single divisions of
    exact integers, and the cumulative share is a running window sum —
    a sequential left-to-right addition in BOTH engines under the same
    total order (tokens DESC, lang, source), so even the float columns
    are bit-stable cross-engine.

    One corpus scan, zero corpus-sized shuffles: the corpus-total
    token count is an UNBOUNDED window over the cell relation, riding
    the same single-partition pass the global cum_share ordering needs
    anyway (cells = langs x sources rows) — a separate total-aggregate
    branch would re-plan the corpus scan with differently-pruned
    partial buffers that never stage-cache (the round-4 PLANS.md
    lesson from the flagship's rollup)."""
    nt = F.greatest(F.size(_words(text_col)), F.lit(0)).cast("long")
    cells = (
        docs.select("lang", "source", nt.alias("nt"))
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").alias("n_tokens"),
        )
    )
    # Both unpartitioned windows are BOUNDED: the relation is the
    # (lang, source) aggregate — |langs| x |sources| rows, a grid of
    # label cardinalities, never corpus rows.
    w_all = Window.partitionBy()  # whole (tiny) relation
    # Tie-break NULL order is pinned explicitly: Spark ASC defaults to
    # NULLS FIRST while DuckDB defaults to NULLS LAST, so a NULL
    # lang/source cell tying on n_tokens would otherwise diverge. The
    # oracle twin says NULLS FIRST to match.
    w_cum = (
        Window.orderBy(
            F.desc("n_tokens"),
            F.asc_nulls_first("lang"),
            F.asc_nulls_first("source"),
        ).rowsBetween(Window.unboundedPreceding, 0)
    )
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(
        w_all
    ).cast("double")
    return (
        cells.withColumn("token_share", share)
        .withColumn("cum_share", F.sum("token_share").over(w_cum))
        .select(
            "lang",
            "source",
            "n_docs",
            "n_tokens",
            "token_share",
            "cum_share",
        )
    )


def lm_unigram_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-self-trained unigram language-model scoring — the
    perplexity-filter shape (CCNet-style): score each document by the
    mean token log-probability under the corpus's own unigram
    distribution; documents far below the corpus norm are
    gibberish/boilerplate candidates. Returns (doc_id, n_tokens,
    avg_logprob) for documents with >= 1 token;
    avg_logprob = avg(ln c_term) - ln(T) since ln(c/T) = ln c - ln T,
    so the corpus-total T attaches ONCE after the per-doc aggregate.

    Scale shape: the tfidf/χ² skeleton. Tokens shuffle ONCE on term;
    the (doc, term) tf aggregate, the per-term count roll-up, the
    count join, and the corpus-total T all sit on that same exchange
    (ReusedExchange — the corpus is scanned and tokenized once,
    plan-asserted in tests), then one doc-level exchange for the mean.
    T is a 1-row broadcast derived from the vocabulary-sized term
    relation, never a separate corpus-scanning .count() action.
    Weighted form sum(tf·ln c)/sum(tf) == the per-token mean, without
    carrying the corpus-sized raw token stream into the join."""
    tf = _gram_tf(docs, text_col, 1)
    tc = tf.groupBy("term").agg(_sum("tf", "c"))
    tot = tc.agg(_sum("c", "t_total"))
    per_doc = _per_doc(tf.join(tc, "term"), "n_tokens", F.log(_dbl("c")))
    return per_doc.join(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        _mean("n_tokens", F.log(_dbl("t_total"))),
    )


def tfidf(tokens_with_mult: DataFrame, n_docs_df: DataFrame) -> DataFrame:
    """(doc_id, term, tf, df, tfidf) over a (doc_id, term) relation
    WITH multiplicity. Generalizes the χ² feature-selection: same
    shuffle skeleton (group by (doc,term), window/broadcast for the
    document frequency), different score.

    tf = in-doc count; df = docs containing term (distinct);
    tfidf = tf * ln(N / df) — natural log, smooth-free, identical
    arithmetic on both engines.

    n_docs_df is a ONE-ROW aggregate (column `n_docs`) attached via
    broadcast cross join — the J3 pattern (contingency.py
    chi_square_from_counts): the corpus count stays inside this plan
    as a 1-row broadcast instead of a separate driver-side .count()
    action that would re-scan the corpus at 100 TB.
    """
    # ONE exchange serves both aggregation levels: hash-partitioning
    # by term alone satisfies the (doc_id, term) ClusteredDistribution
    # of the tf aggregate AND the per-term window, so Catalyst plans
    # no second exchange between them (the naive form pays an exchange
    # per level — measured ~1.2x slower at sf0.1). Skew note: the
    # hottest terms (stopwords) are already filtered out of the input
    # relation, and the window step needs per-term colocation anyway,
    # so this adds no skew the plan didn't have.
    tf = (
        tokens_with_mult.repartition("term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("term")
    return (
        tf.withColumn("df", F.count("*").over(w))
        .join(F.broadcast(n_docs_df))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * F.log(
                    F.col("n_docs").cast("double") / F.col("df").cast("double")
                )
            ).alias("tfidf"),
        )
    )


VOCAB_SIZE = 16


def vocab_topv(
    docs: DataFrame, text_col: str = "text", vocab_size: int = VOCAB_SIZE
) -> DataFrame:
    """The corpus vocabulary: top `vocab_size` terms by total
    occurrence count, ties to the lexicographically smaller term.
    (term, n_occurrences, vrank). One map-side-combined hash aggregate
    on term; the top-V cut is a global TakeOrderedAndProject (V rows
    per partition -> V rows on the driver side of the exchange), never
    a full sort of the term relation."""
    counts = (
        docs.select(F.explode(_words(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n_occurrences"))
    )
    return (
        counts.orderBy(F.desc("n_occurrences"), F.asc("term"))
        .limit(vocab_size)
        .withColumn(
            # unpartitioned window BOUNDED by the preceding
            # .limit(vocab_size) — ranks vocab_size rows, not the
            # term universe
            "vrank",
            F.row_number()
            .over(
                Window.orderBy(F.desc("n_occurrences"), F.asc("term"))
            )
            .cast("int"),
        )
    )


def vocab_oov(
    docs: DataFrame, text_col: str = "text", vocab_size: int = VOCAB_SIZE
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-V vocabulary: (doc_id, n_tokens, n_oov, oov_rate) — the
    classic tokenizer-fit / domain-shift signal (a doc whose tokens
    miss the vocabulary is foreign to the corpus the tokenizer was
    fitted on). oov_rate is NULL for empty docs in BOTH engines.

    Shape: the vocabulary relation is V rows -> broadcast to the token
    relation (left semi-style flag join, no shuffle of the corpus
    side beyond the per-doc aggregate); the final window-free rollup
    is one map-side-combinable aggregate on doc_id. The top-V limit
    sort is the only global step and moves V rows."""
    vocab = vocab_topv(docs, text_col, vocab_size).select(
        "term", F.lit(1).alias("__in_v")
    )
    toks = docs.select(
        "doc_id", F.explode(_words(text_col)).alias("term")
    )
    flagged = toks.join(F.broadcast(vocab), "term", "left")
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(
            F.when(F.col("__in_v").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_oov"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_oov").cast("double")
                / F.col("n_tokens").cast("double"),
            ),
        )
    )


def tokens_to_ids(
    docs: DataFrame, text_col: str = "text", vocab_size: int = VOCAB_SIZE
) -> DataFrame:
    """Tokenize-to-ids against the corpus's own top-V vocabulary:
    (doc_id, n_tokens, ids_csv) where ids_csv is the comma-joined,
    order-preserving id sequence (id = vocabulary rank 1..V, 0 for
    out-of-vocabulary) — the final mapping step before doc_chunk /
    pack_sequences turns documents into training sequences. Empty
    docs emit an empty string. The id sequence is a STRING, not
    array<int>, because the driver canonicalizer hashes nested int
    arrays unreliably (the round-3 embed_quantize lesson).

    Shape: positions explode once; the V-row vocabulary attaches as a
    broadcast; order is restored with one array_sort over (pos, id)
    structs inside the per-doc aggregate — a single doc_id exchange,
    no window."""
    vocab = vocab_topv(docs, text_col, vocab_size).select(
        "term", F.col("vrank").alias("__vid")
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(_words(text_col)).alias("pos", "term"),
    )
    joined = toks.join(F.broadcast(vocab), "term", "left").select(
        "doc_id",
        "pos",
        F.coalesce("__vid", F.lit(0)).cast("int").alias("id"),
    )
    per_doc = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "id"))
                ),
                lambda s: s["id"],
            ),
            ",",
        ).alias("ids_csv"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("ids_csv", F.lit("")).alias("ids_csv"),
        )
    )


def bm25(
    docs: DataFrame,
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 (Lucene formulation) per (doc, term):
    (doc_id, term, tf, df, bm25) — the retrieval-scoring upgrade of
    tfidf, with document-length normalization so long documents stop
    winning on raw term counts.

      idf  = ln(1 + (N - df + 0.5) / (df + 0.5))
      bm25 = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Scale shape — the tfidf/lm_unigram skeleton: tokens shuffle ONCE
    on term; the (doc, term) tf aggregate and the per-term df window
    share that exchange (ReusedExchange), as does the corpus-stats
    branch (N docs, total length -> avgdl), which collapses to a
    1-row broadcast before it touches the scored relation (the J3
    pattern — no driver .count() re-scanning the corpus). Only dl
    (per-doc length) needs the second, doc_id exchange. Every float
    op is a per-row expression over exact integer inputs, so the
    score is bit-identical cross-engine."""
    toks = docs.select(
        "doc_id", F.explode(_words(text_col)).alias("term")
    )
    tf = (
        toks.repartition("term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    w_t = Window.partitionBy("term")
    w_d = Window.partitionBy("doc_id")
    dld = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dld.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )
    dfd = F.col("df").cast("double")
    nd = F.col("n_docs").cast("double")
    dl = F.col("dl").cast("double")
    avgdl = F.col("total_len").cast("double") / nd
    tfd = F.col("tf").cast("double")
    idf = F.log(
        F.lit(1.0) + (nd - dfd + F.lit(0.5)) / (dfd + F.lit(0.5))
    )
    norm = (tfd * F.lit(k1 + 1.0)) / (
        tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl)
    )
    return (
        tf.withColumn("df", F.count("*").over(w_t))
        .withColumn("dl", F.sum("tf").over(w_d))
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            (idf * norm).alias("bm25"),
        )
    )


def lm_bigram_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-self-trained bigram language-model scoring: mean bigram
    log-probability per document under add-one smoothing,
    p(w2 | w1) = (c(w1,w2) + 1) / (c(w1,.) + V), with V = number of
    distinct observed context tokens (w1 types). The sharper
    perplexity-filter companion of lm_unigram_score — repeated
    boilerplate scores high, token-salad gibberish that unigram
    statistics cannot see scores low. Returns (doc_id, n_bigrams,
    avg_logprob) for documents with >= 2 tokens.

    V comes from the bigram relation itself (distinct w1), not a
    separate unigram pass, so the corpus is scanned and tokenized
    exactly once. Shapes: one corpus-sized exchange on (w1, w2)
    serves the per-doc tf aggregate AND the corpus bigram counts
    (ReusedExchange); the context roll-up and V are vocabulary-sized;
    V attaches as a 1-row broadcast (J3)."""
    tfb = _gram_tf(docs, text_col, 2)
    c12 = tfb.groupBy("w1", "w2").agg(_sum("tf", "c12"))
    c1 = c12.groupBy("w1").agg(_sum("c12", "c1"))
    v = c1.agg(F.count("*").alias("v"))
    scored = (
        tfb.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .join(F.broadcast(v))
    )
    lp = F.log(
        (_dbl("c12") + F.lit(1.0)) / (_dbl("c1") + _dbl("v"))
    )
    per_doc = _per_doc(scored, "n_bigrams", lp)
    return per_doc.select("doc_id", "n_bigrams", _mean("n_bigrams"))


WINNOW_BASE = 257
WINNOW_MOD = 2_147_483_648  # 2^31
WINNOW_MIX = 2_654_435_761  # Knuth multiplicative; odd => bijection mod 2^31


def winnowing_fingerprint(
    docs: DataFrame,
    text_col: str = "text",
    gram: int = 5,
    window: int = 4,
    hash_fn: str = "poly",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): hash every `gram`-char window of the lowered text,
    slide a `window` over the hash sequence keeping each window's
    MINIMUM, and emit the distinct kept values as (doc_id, fp). The
    selection guarantee: any substring shared by two documents of
    length >= gram + window - 1 contributes at least one shared
    fingerprint — the plagiarism/boilerplate-detection primitive with
    a fingerprint density of ~2/(window+1) instead of every gram
    (doc_fingerprint keeps only the single global min; this keeps a
    position-spread sample, robust to local edits).

    The default hash is a POLYNOMIAL over codepoints: h(w) =
    ((sum_j code(w[j]) * B^(g-1-j)) mod 2^31) * A mod 2^31 with
    B=257 and A=2654435761 — exact BIGINT arithmetic on both engines
    (the unreduced sum stays under 2^53, the mix product under
    2^63), computed from ONE materialized codepoint array with plain
    integer ops per gram instead of one md5 per char; ~1.65x faster
    at sf0.1 and identically expressible as a DuckDB list
    expression. The final multiplicative mix matters: the raw
    polynomial ORDERS grams by their leading codepoints, so window
    minima would cluster on space-led grams (shared word boundaries)
    and oversample boilerplate — the odd-constant multiply is a
    bijection mod 2^31 that restores winnowing's uniform-sampling
    assumption (measured: background pair overlap 99.9th pct drops
    from ~46 unmixed back to the md5 ladder's band).
    hash_fn='md5' keeps the 32-bit md5-prefix ladder as a
    cross-check: the winnowing GUARANTEE is hash-independent, so
    both variants must find the same planted near-dup pairs
    (tests/test_extensions.py).

    Scale shape: ENTIRELY map-side — the codepoint array, hash
    sequence, sliding minima, and distinct-set all happen as array
    expressions inside one projection (zero shuffles, scan-speed);
    only the final explode to rows fans out. Documents shorter than
    `gram` chars fingerprint as the fold of their whole codepoint
    array. Codepoints (not bytes): both engines index substrings and
    ascii() by character, so non-ASCII text hashes identically.
    Input spread to the session parallelism floor first
    (operators/spread.py — no-op at cluster scale) so the per-char
    hash projections use every core on a single-row-group scan."""
    from ..operators.spread import spread_for_kernel

    base = spread_for_kernel(
        docs.select("doc_id", F.col(text_col)), "doc_id"
    ).select(
        "doc_id", F.lower(F.col(text_col)).alias("__t")
    )
    t = F.col("__t")
    if hash_fn == "md5":

        def h32(expr):
            return F.conv(
                F.substring(F.md5(expr), 1, 8), 16, 10
            ).cast("long")

        n = F.length(t) - (gram - 1)
        harr = F.when(
            F.length(t) >= gram,
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: h32(t.substr(i, F.lit(gram))),
            ),
        ).otherwise(F.array(h32(t)))
        # hash array materialized in its own projection (interpreted
        # HOF lambdas get no CSE — the shingles lesson)
        hd = base.select("doc_id", harr.alias("__h"))
    else:
        codes = F.when(
            F.length(t) == 0, F.array(F.lit(0).cast("long"))
        ).otherwise(
            F.transform(
                F.split(t, ""), lambda ch: F.ascii(ch).cast("long")
            )
        )
        # codepoint array materialized first (no-CSE lesson); the
        # per-position hash is then element_at reads + mul-adds with
        # ONE deferred mod (unreduced sum < 2^53: exact in long)
        cd = base.select(
            "doc_id", F.length(t).alias("__n"), codes.alias("__c")
        )
        c, nn = F.col("__c"), F.col("__n")

        def h_at(i):
            e = None
            for j in range(gram):
                term = F.element_at(
                    c, (i + F.lit(j)).cast("int")
                ) * F.lit(WINNOW_BASE ** (gram - 1 - j))
                e = term if e is None else e + term
            return (e % F.lit(WINNOW_MOD)) * F.lit(
                WINNOW_MIX
            ) % F.lit(WINNOW_MOD)

        h_short = (
            F.aggregate(
                c,
                F.lit(0).cast("long"),
                lambda acc, x: (acc * WINNOW_BASE + x) % WINNOW_MOD,
            )
            * F.lit(WINNOW_MIX)
        ) % F.lit(WINNOW_MOD)
        harr = F.when(
            nn >= gram,
            F.transform(
                F.sequence(F.lit(1), nn - (gram - 1)), h_at
            ),
        ).otherwise(F.array(h_short))
        hd = cd.select("doc_id", harr.alias("__h"))
    ha = F.col("__h")
    wins = F.greatest(F.size(ha) - (window - 1), F.lit(1))

    def wmin(j):
        # unrolled least() over the window (no per-position slice
        # allocation); the index clamp only engages when the hash
        # array is shorter than the window, where re-reading the
        # last element leaves the min unchanged
        e = None
        for m in range(window):
            x = F.element_at(
                ha, F.least((j + F.lit(m)).cast("int"), F.size(ha))
            )
            e = x if e is None else F.least(e, x)
        return e

    fps = F.array_distinct(
        F.transform(F.sequence(F.lit(1), wins), wmin)
    )
    return hd.select("doc_id", F.explode(fps).alias("fp"))


def bm25_topk(
    docs: DataFrame,
    terms: list[str],
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Top-k retrieval: the k documents scoring highest on the SUM of
    per-term BM25 for a fixed query term set — what a user of the
    scoring relation actually runs. Returns (doc_id, score), selection
    tie-broken by doc_id so the cut is deterministic.

    The per-doc combine pivots each query term's score into its own
    column (max-of-matches per term: the (doc, term) relation is
    unique, so max is just "the score if present") and adds them in
    the QUERY'S WRITTEN ORDER — a fixed left-to-right float sum both
    engines reproduce bit-identically, where sum() over a group would
    add in engine-chosen order. The global cut executes as
    TakeOrderedAndProject: k rows per partition move, never a full
    sort — the only corpus-wide ordering primitive that scales.

    Query terms form a SET: duplicates in `terms` are dropped (first
    occurrence kept, written order preserved) — each would otherwise
    pivot into its own column holding the same per-term score and be
    summed twice. This is deliberate: classic BM25's query-term-
    frequency (qtf) weighting, where a term repeated in the query
    legitimately counts multiple times, is NOT supported here — a
    caller who wants qtf weighting should weight terms explicitly
    rather than rely on duplicates in `terms`."""
    terms = list(dict.fromkeys(terms))
    s = bm25(docs, text_col).filter(F.col("term").isin(list(terms)))
    cols = [
        F.max(
            F.when(F.col("term") == t, F.col("bm25"))
        ).alias(f"__s{i}")
        for i, t in enumerate(terms)
    ]
    per_doc = s.groupBy("doc_id").agg(*cols)
    score = None
    for i in range(len(terms)):
        c = F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
        score = c if score is None else score + c
    return (
        per_doc.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


ACCENT_SRC = "àáâãäåèéêëìíîïòóôõöùúûüñçýÿ"
ACCENT_DST = "aaaaaaeeeeiiiiooooouuuuncyy"


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical text normalization — the pass every dedup/fingerprint
    stage should share so near-identical variants collapse: lowercase,
    fold Latin-1 accents through an EXPLICIT literal translate table
    (both engines apply the same mapping — no reliance on
    locale/ICU-dependent strip-accents builtins), squeeze every
    non-alphanumeric run to one space, and trim. Returns
    (doc_id, norm_text). Pure projection: zero shuffles, scan speed,
    trivially partition-parallel at any corpus size."""
    t = F.lower(F.col(text_col))
    t = F.translate(t, ACCENT_SRC, ACCENT_DST)
    t = F.regexp_replace(t, "[^a-z0-9]+", " ")
    t = F.trim(t)
    return docs.select("doc_id", t.alias("norm_text"))


def dedup_normalized(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup over the NORMALIZED text: (norm_hash, n_variants,
    keep_doc_id) for groups of >= 2 — catches the case/punctuation/
    accent variants a raw md5(text) group-by calls distinct (the
    'Same title!' vs 'same title' mirror-page case). One hash-agg
    shuffle on the normalized content hash, same shape and survivor
    rule (min doc_id) as dedup_exact.

    Documents whose normalization is EMPTY (all punctuation/digits…
    nothing in [a-z0-9] survives) are excluded: they are not variants
    of one another, and grouping them would drop unrelated docs as
    'duplicates' of the min doc_id."""
    n = normalize_text(docs, text_col).filter(F.col("norm_text") != "")
    return (
        n.groupBy(F.md5(F.col("norm_text")).alias("norm_hash"))
        .agg(
            F.count("*").alias("n_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_variants") >= 2)
    )


def bpe_pair_counts(
    docs: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """The first step of BPE tokenizer training (Sennrich et al.,
    ACL 2016, public): adjacent-character pair frequencies over the
    corpus vocabulary, weighted by word frequency — the statistic the
    first merge decision reads. Returns the top-`k` (pair,
    pair_count) rows, count-desc then pair-asc for determinism. A
    pair occurring twice inside one word ('aaa' -> 'aa' x2) counts
    twice per word occurrence, exactly as BPE counts symbol-sequence
    adjacencies.

    Scale shape: the corpus is touched ONCE — one token explode into
    a (word, count) vocabulary aggregate (exchange 1, map-side
    combined), after which everything runs on the VOCABULARY
    relation: distinct words, millions of rows at 100 TB, vanishing
    next to the corpus. Pair positions explode per distinct word
    (bounded by word length), one pair aggregate (exchange 2 — the
    pair relation is ~alphabet², tiny), TakeOrderedAndProject top-k.
    All exact integers; no UDFs."""
    words = (
        docs.select(F.explode(_words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("w_count"))
    )
    pairs = words.select(
        "w_count",
        F.explode(
            F.expr(
                "CASE WHEN length(word) >= 2 THEN "
                "transform(sequence(1, length(word) - 1), "
                "i -> substring(word, i, 2)) "
                "ELSE array() END"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("w_count").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(k)
    )


def _bpe_learn(
    docs: DataFrame, n_merges: int, text_col: str
) -> tuple:
    """The shared BPE training loop (see bpe_merges for the full
    mechanics and scale story): returns (merges, vocab) where merges
    is the list of (rank, left, right, pair_count) tuples in merge
    order and vocab is the (word, syms, w_count) vocabulary DataFrame
    with ALL chosen merges applied — the relation bpe_vocab tokenizes
    from and bpe_encode joins the corpus against. The corpus is scanned once; each round collects a 1-row
    argmax and re-applies it as literal strings over the
    localCheckpointed vocabulary."""
    syms = F.expr(
        "concat(' ', concat_ws('  ', transform(sequence(1, length(word)), "
        "i -> substring(word, i, 1))), ' ')"
    )
    v = (
        docs.select(F.explode(_words(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("w_count"))
        .select("word", syms.alias("syms"), "w_count")
        .localCheckpoint()
    )
    merges: list = []
    for rank in range(1, n_merges + 1):
        # materialize the token array ONCE before the pair lambda —
        # interpreted HOFs get no CSE, so split(trim(syms)) inside the
        # transform would re-split the string per element (the r6
        # re-tokenization lesson)
        pc = (
            v.select(
                "w_count",
                F.split(F.trim(F.col("syms")), "  ").alias("__t"),
            )
            .select(
                "w_count",
                F.explode(
                    F.expr(
                        "CASE WHEN size(__t) >= 2 THEN "
                        "transform(sequence(1, size(__t) - 1), "
                        "i -> struct(element_at(__t, i) AS l, "
                        "element_at(__t, i + 1) AS r)) "
                        "ELSE array() END"
                    )
                ).alias("pr"),
            )
            .groupBy(F.col("pr.l").alias("left"), F.col("pr.r").alias("right"))
            .agg(F.sum("w_count").cast("long").alias("pair_count"))
        )
        top = pc.orderBy(
            F.desc("pair_count"), F.asc("left"), F.asc("right")
        ).take(1)
        if not top:
            break
        left, right, cnt = top[0]["left"], top[0]["right"], top[0]["pair_count"]
        merges.append((rank, left, right, cnt))
        v = v.select(
            "word",
            F.replace(
                F.col("syms"),
                F.lit(f" {left}  {right} "),
                F.lit(f" {left}{right} "),
            ).alias("syms"),
            "w_count",
        ).localCheckpoint()
    return merges, v


def bpe_merges(
    docs: DataFrame, n_merges: int = 6, text_col: str = "text"
) -> DataFrame:
    """Learn the first `n_merges` BPE merges (Sennrich et al., ACL
    2016): returns (rank, left, right, pair_count), the merge table a
    tokenizer trainer would persist, rank 1..n in merge order with
    the pair's frequency-weighted count at the time it was chosen
    (ties: count desc, then left asc, right asc). Fewer rows when the
    vocabulary exhausts its pairs first.

    Mechanics: each word becomes a delimited symbol string
    ' a  b  c ' (single outer spaces, DOUBLE inner separators).
    Applying merge (l, r) is then a single literal
    replace(' l  r ' -> ' lr '): left-to-right non-overlapping
    literal replacement IS the greedy one-pass BPE merge ('a a a a'
    merges to 'aa aa', 'a a a' to 'aa a'), and the double separator
    makes a cross-symbol false match impossible (pattern ' a  b '
    cannot match symbols 'xa','b', whose rendering '␣xa␣␣b␣' never
    contains '␣a␣␣b␣'). Both engines' replace() is literal
    left-to-right, so every round's merge decisions agree exactly
    (property-tested merge-for-merge against a plain-Python BPE
    reference in tests/test_extensions.py).

    Scale shape: the corpus is touched ONCE — the (word, count)
    vocabulary aggregate is localCheckpointed (bounded: distinct
    words, millions of rows at 100 TB, vanishing next to the corpus —
    exactly how production BPE trainers are structured; a fully lazy
    n-round chain instead re-derives the corpus scan and every prior
    round per union branch, a quadratic plan blowup measured at 64
    scans for n=6 before this materialization). Per round: one
    pair-count exchange over the vocabulary, then the 1-row argmax is
    collected (bounded driver state, n rows total — the series
    ladder's collect-shortlist-once discipline) and re-applied as
    LITERAL strings in the next round's replace, with the tiny
    rewritten vocabulary localCheckpointed to truncate lineage. No
    UDFs; n bounded driver actions, each 1 row. Build-time freeze
    semantics: the merges reflect the corpus at call time (bench
    times builder + collect together)."""
    spark = docs.sparkSession
    merges, _ = _bpe_learn(docs, n_merges, text_col)
    return literal_relation(
        spark, merges, "rank int, left string, right string, pair_count long"
    )


def bpe_vocab(
    docs: DataFrame,
    n_merges: int = 6,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """The APPLY half of BPE induction: learn the first `n_merges`
    merges (bpe_merges semantics, same corpus, same tie-breaks),
    apply them all, and return the top-`k` resulting subword tokens
    with their corpus frequencies — (token, token_count), count-desc
    then token-asc. This is the vocabulary a tokenizer ships after n
    merge steps: unmerged single characters plus the learned subwords
    ('er', 'in', ...), exactly what tokens_to_ids would be fed next.

    Scale shape: encoding is PER-WORD, so the corpus-level token
    count is the vocabulary-level count weighted by word frequency —
    the corpus is never re-read to tokenize it. Cost over bpe_merges:
    one explode + one aggregate over the final (already
    localCheckpointed) vocabulary relation. Same freeze semantics as
    bpe_merges."""
    _, v = _bpe_learn(docs, n_merges, text_col)
    toks = v.select(
        F.explode(F.split(F.trim(F.col("syms")), "  ")).alias("token"),
        "w_count",
    )
    return (
        toks.groupBy("token")
        .agg(F.sum("w_count").cast("long").alias("token_count"))
        .orderBy(F.desc("token_count"), F.asc("token"))
        .limit(k)
    )


def bpe_encode(
    docs: DataFrame, n_merges: int = 6, text_col: str = "text"
) -> DataFrame:
    """The ENCODE rung that completes the BPE ladder (pair stats ->
    merges -> vocabulary -> encode the corpus): per document, its
    token counts under the learned subword vocabulary —
    (doc_id, n_words, n_bpe_tokens, fertility) with fertility =
    subwords per word (the standard tokenizer-quality metric; NULL
    for word-free documents in both engines). A training pipeline
    runs exactly this to budget sequence lengths before packing.

    Scale shape: encoding is PER-WORD, so the corpus is never
    re-segmented — the learned (word -> subword count) map is the
    BOUNDED vocabulary relation (distinct words), joined to the
    corpus word explode (AQE broadcasts it at this SF; a plain hash
    join on word at 100 TB), then one doc_id aggregate. Same
    call-time freeze semantics as bpe_merges."""
    _, v = _bpe_learn(docs, n_merges, text_col)
    wmap = v.select(
        "word",
        F.size(F.split(F.trim(F.col("syms")), "  "))
        .cast("long")
        .alias("__n_sub"),
    )
    words = docs.select(
        "doc_id", F.explode(_words(text_col)).alias("word")
    )
    per_doc = (
        words.join(wmap, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("__n_sub").cast("long").alias("n_bpe_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0).cast("long")).alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0).cast("long")).alias(
                "n_bpe_tokens"
            ),
            F.when(
                F.col("n_words") > 0,
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_words").cast("double"),
            ).alias("fertility"),
        )
    )


GOPHER_REQUIRED_STOPWORDS = ("the", "a", "to", "of", "and", "that", "with")


def quality_gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The Gopher quality heuristics (Rae et al. 2021 §A1.1, public)
    as a single map-side screen — the named rule set most production
    LLM corpora are actually filtered with. Per document:

      rule_word_count   min_words <= n <= max_words
      rule_mean_len     mean word length in [3, 10] characters
      rule_alpha        >= 80% of words contain an alphabetic char
      rule_symbol       symbol-to-word ratio ('#', ellipsis) <= 0.1
      rule_stopwords    >= 2 distinct required stopwords present
      rule_repetition   modal-word share <= 0.2 (the single-line
                        adaptation of Gopher's duplicate-line rules;
                        this corpus has no line structure)

    Returns (doc_id, n_words, the six rule flags as 0/1 ints, passed)
    for EVERY doc — a screen reports, the caller filters.

    Exactness: every ratio decision is an exact integer
    cross-multiplication (3n <= chars <= 10n; 5*alpha >= 4n;
    10*symbols <= n; 5*modal <= n) — no float boundary can flip
    between engines. Scale shape: zero shuffles, zero UDFs — one
    projection over the scan; the token array is materialized once
    (the no-CSE rule) and every rule reads it. At 100 TB this runs at
    scan speed."""
    words = _words(text_col)
    base = docs.select(
        "doc_id", F.col(text_col).alias("__t"), words.alias("__w")
    )
    n = F.size("__w")
    chars = F.aggregate(
        F.transform("__w", lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )  # 0 (not NULL) on empty docs; the DuckDB twin coalesces to match
    alpha = F.size(F.filter("__w", lambda w: w.rlike("[a-z]")))
    symbols = (
        F.length("__t")
        - F.length(F.replace(F.col("__t"), F.lit("#"), F.lit("")))
        + (
            F.length("__t")
            - F.length(F.replace(F.col("__t"), F.lit("…"), F.lit("")))
        )
    )
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPWORDS])
    n_req_stop = F.size(
        F.array_intersect(F.array_distinct("__w"), stop_arr)
    )
    modal = F.array_max(
        F.transform(
            F.array_distinct("__w"),
            lambda w: F.size(F.filter("__w", lambda x: x == w)),
        )
    )
    r_count = (n >= F.lit(int(min_words))) & (n <= F.lit(int(max_words)))
    r_mean = (F.lit(3) * n <= chars) & (chars <= F.lit(10) * n)
    r_alpha = F.lit(5) * alpha >= F.lit(4) * n
    r_symbol = F.lit(10) * symbols <= n
    r_stop = n_req_stop >= F.lit(2)
    r_rep = F.lit(5) * F.coalesce(modal, F.lit(0)) <= n
    return base.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        r_count.cast("int").alias("rule_word_count"),
        r_mean.cast("int").alias("rule_mean_len"),
        r_alpha.cast("int").alias("rule_alpha"),
        r_symbol.cast("int").alias("rule_symbol"),
        r_stop.cast("int").alias("rule_stopwords"),
        r_rep.cast("int").alias("rule_repetition"),
        (r_count & r_mean & r_alpha & r_symbol & r_stop & r_rep)
        .cast("int")
        .alias("passed"),
    )


def collocations_pmi(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual
    information (Church & Hanks 1990, public):
    pmi(a,b) = ln(N_bi * c(a,b) / (c_left(a) * c_right(b))) over
    bigram POSITIONS — c_left counts a's occurrences as a left
    element, c_right as a right element, N_bi = total bigram count,
    so the three marginals and the joint live in one consistent
    sample space (no end-of-doc off-by-one between engines).
    Bigrams below min_count are pruned BEFORE scoring (rare-pair PMI
    is noise — the standard guard). Returns
    (w1, w2, pair_cnt, pmi) ordered by (pmi DESC, w1, w2).

    Exactness: all counts integer; pmi is ONE shared double
    expression (a single ln of a single quotient — not a sum of
    logs, so there is no summation-order freedom); the top-k is
    TakeOrdered on (pmi, w1, w2).

    Scale shape: one corpus scan explodes bigrams map-side; the
    bigram count is the one big exchange (map-side combinable) and is
    materialized ONCE (localCheckpoint — it has four consumers, and
    the unchecked plan recomputed the corpus explode per consumer);
    the marginal relations aggregate FROM it (vocab-sized) and
    broadcast back. At 100 TB: scan, one shuffle, two vocab-sized
    broadcasts. Build-time freeze semantics apply."""
    pmi = F.log(
        _dbl("nbi") * _dbl("pair_cnt") / (_dbl("lc") * _dbl("rc"))
    )
    return _collocations(docs, text_col, min_count, k, "pmi", pmi)


def skipgram_cooc(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 2,
    k: int = 50,
) -> DataFrame:
    """Top-k (center, context) skip-gram co-occurrence counts within
    a +/-`window` token window — the word2vec training-pair statistic
    (Mikolov et al. 2013, public) a corpus profile quotes before
    embedding pretraining. Pairs are emitted for every offset
    1..window in BOTH directions (so (a,b) at offset -1 and (b,a) at
    offset +1 are distinct pairs, as in the original sampler).
    Returns (center, context, pair_cnt) ordered by
    (pair_cnt DESC, center, context).

    All integer; the fan-out is map-side (one corpus scan exploding
    <= 2*window pairs per token position), the count is one map-side
    combinable exchange, the cut TakeOrdered. At 100 TB: scan + one
    shuffle of the (vocab x vocab intersected with data) pair
    relation."""
    words = _words(text_col)
    offs = ", ".join(
        str(o) for o in range(-int(window), int(window) + 1) if o != 0
    )
    pairs = (
        docs.select(words.alias("__w"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__w, (w, i) -> "
                    f"filter(transform(array({offs}), o -> "
                    "CASE WHEN i + o >= 0 AND i + o < size(__w) "
                    "THEN struct(w AS center, __w[i + o] AS context) "
                    "END), p -> p IS NOT NULL)))"
                )
            ).alias("p")
        )
        .select(
            F.col("p.center").alias("center"),
            F.col("p.context").alias("context"),
        )
    )
    counts = pairs.groupBy("center", "context").agg(
        F.count("*").cast("long").alias("pair_cnt")
    )
    return counts.orderBy(
        F.desc("pair_cnt"), F.asc("center"), F.asc("context")
    ).limit(int(k))


def inverted_index(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 100,
    max_postings: int = 20,
) -> DataFrame:
    """Inverted-index construction — the retrieval artifact BM25 and
    phrase search read: per term its document frequency, collection
    frequency, and a bounded posting list (the first `max_postings`
    doc ids in ascending order, comma-joined so the row stays a flat
    scalar). Returns the top-`k` terms by (df DESC, term ASC):
    (term, df, cf, postings).

    Scale shape: the token stream collapses to (term, doc_id, tf)
    with one map-side-combinable aggregate; the posting cut is a
    rank FILTER (`rn <= max_postings`) on its own relation, which
    Catalyst rewrites to WindowGroupLimit with a PARTIAL map-side
    limit — each input partition forwards at most `max_postings`
    postings per term into the exchange, so a stopword-grade term
    (millions of postings at corpus scale) never sorts or shuffles
    its full list; df/cf come from a separate plain aggregate over
    the same relation and join back on term (co-partitioned — no
    extra exchange). The top-k head is a TakeOrdered, never a full
    sort."""
    base = docs.select(
        "doc_id", F.explode(_words(text_col)).alias("term")
    )
    per_doc = base.groupBy("term", "doc_id").agg(
        F.count("*").cast("long").alias("tf")
    )
    stats = per_doc.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    rn = F.row_number().over(
        Window.partitionBy("term").orderBy("doc_id")
    )
    posts = (
        per_doc.withColumn("__rn", rn)
        .filter(F.col("__rn") <= F.lit(int(max_postings)))
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    # merge hint: both sides are already hash-partitioned on term, so
    # the sort-merge join adds no exchange, and the plan no longer
    # flips between broadcasting either side from run to run
    agg = stats.join(posts.hint("merge"), "term")
    return agg.orderBy(F.desc("df"), F.asc("term")).limit(int(k))


def lm_heldout_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Held-out-trained unigram LM scoring with OOV smoothing — the
    CCNet-shaped quality filter lm_unigram_score cannot express: the
    model is fit on a DESIGNATED split (doc_id % 10 == 0 — in
    production: the trusted target-domain corpus) and
    applied to EVERY document, so scoring-set tokens can be unseen.
    Add-one smoothing over the train counts handles them:
    p(w) = (c_train(w) + 1) / (T + V + 1), where T = train token
    count and V = train vocabulary size, so an OOV token gets the
    floor mass 1/(T + V + 1). Returns (doc_id, n_tokens, n_oov,
    avg_logprob) for documents with >= 1 token;
    avg_logprob = (Σ tf·ln(c+1))/Σtf − ln(T+V+1) — the corpus scalar
    attaches ONCE after the per-doc aggregate.

    Scale shape: the lm_unigram_score skeleton. The token stream
    shuffles ONCE on term; the per-(doc, term) tf aggregate, the
    train-count roll-up (filtered from the SAME relation — the train
    split is not re-scanned), the count left-join, and the (T, V)
    scalar all sit on that exchange; then one doc-level exchange for
    the mean. (T, V) is a 1-row broadcast."""
    tf = _gram_tf(docs, text_col, 1)
    train_c = tf.filter(_train_flag()).groupBy("term").agg(_sum("tf", "c"))
    tv = train_c.agg(
        (F.sum("c") + F.count("*") + F.lit(1)).alias("tv1")
    )
    lp = F.log(F.coalesce(F.col("c"), F.lit(0)) + F.lit(1))
    per_doc = _per_doc(
        tf.join(train_c, "term", "left"),
        "n_tokens",
        lp,
        _tf_where(F.col("c").isNull(), "n_oov"),
    )
    return per_doc.crossJoin(F.broadcast(tv)).select(
        "doc_id",
        "n_tokens",
        "n_oov",
        _mean("n_tokens", F.log(_dbl("tv1"))),
    )


def html_strip(
    pages: DataFrame, html_col: str = "html"
) -> DataFrame:
    """Markup-to-text extraction — the first stage of every web-crawl
    pipeline (the input to lang-id / quality / dedup is STRIPPED
    text, not raw HTML): drop tags, decode the five XML/HTML core
    entities, squeeze the whitespace runs stripping leaves behind.
    Returns (doc_id, text).

    Pure Catalyst expressions (regexp_replace chain — no Python), so
    the strip runs inside whole-stage codegen map-side with ZERO
    exchanges: at 100 TB this stage is scan-bound, exactly as it
    should be. The tag regex `<[^>]*>` is the bounded non-backtracking
    form (no nested quantifiers); script/style CONTENT is dropped
    first with a reluctant match so their inline payloads don't leak
    into text. Real-world tag-soup recovery (unclosed tags, CDATA)
    belongs to a full parser — documented out of scope, fail-soft:
    unparseable fragments stay as text rather than erroring."""
    x = F.col(html_col)
    # script payloads out first, then style (two sequential passes,
    # not one alternation+backreference pass, so interleaved or
    # unclosed markup resolves the same way on every regex engine),
    # then all tags, then entities, then whitespace normalization
    x = F.regexp_replace(x, r"(?is)<script[^>]*>.*?</script\s*>", " ")
    x = F.regexp_replace(x, r"(?is)<style[^>]*>.*?</style\s*>", " ")
    x = F.regexp_replace(x, r"<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&apos;", "'"),
        ("&amp;", "&"),  # last, so &amp;lt; decodes to &lt; not <
    ):
        x = F.replace(x, F.lit(ent), F.lit(ch))
    x = F.trim(F.regexp_replace(x, r"\s+", " "))
    return pages.select("doc_id", x.alias("text"))


KN_DISCOUNT = 0.75


def lm_kn_bigram_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Kneser-Ney smoothed bigram scoring — the state-of-the-art
    count-based LM (Kneser & Ney 1995, public) above the add-one
    lm_bigram_score: absolute discounting with the CONTINUATION
    back-off (how many contexts a word follows, not how often it
    occurs — 'francisco' is frequent but only follows 'san'):

      p(w2|w1) = max(c(w1 w2) - d, 0)/c(w1)
               + d·N1+(w1·)/c(w1) · (N1+(·w2)/|bigram types|)

    with d = KN_DISCOUNT (0.75, the DuckDB twin's constant too).
    Returns (doc_id, n_bigrams, avg_logprob) for documents with >= 2
    tokens; every count is an exact integer and the float expression
    is pinned left-to-right identically in the DuckDB twin.

    Scale shape: the lm_bigram_score skeleton exactly — one
    corpus-sized (w1, w2) exchange serving the per-doc tf aggregate
    AND the corpus bigram counts; the three KN statistics (c1 and
    N1+(w1·) roll up per w1 FROM the bigram relation, N1+(·w2) per
    w2, |types| as a 1-row broadcast) are all vocabulary-sized.
    Self-trained: every scored bigram is observed, so c12 >= 1 and
    the discounted term never needs an unseen branch."""
    tfb = _gram_tf(docs, text_col, 2)
    c12 = tfb.groupBy("w1", "w2").agg(_sum("tf", "c12"))
    ctx = c12.groupBy("w1").agg(
        _sum("c12", "c1"), F.count("*").cast("long").alias("n1p_fwd")
    )
    cont = c12.groupBy("w2").agg(
        F.count("*").cast("long").alias("n1p_bwd")
    )
    types = c12.agg(F.count("*").cast("long").alias("n_types"))
    scored = (
        tfb.join(c12, ["w1", "w2"])
        .join(ctx, "w1")
        .join(cont, "w2")
        .join(F.broadcast(types))
    )
    dd = F.lit(KN_DISCOUNT)
    lp = F.log(
        F.greatest(_dbl("c12") - dd, F.lit(0.0)) / _dbl("c1")
        + dd * _dbl("n1p_fwd") / _dbl("c1")
        * (_dbl("n1p_bwd") / _dbl("n_types"))
    )
    per_doc = _per_doc(scored, "n_bigrams", lp)
    return per_doc.select("doc_id", "n_bigrams", _mean("n_bigrams"))


SB_ALPHA_NUM = 4  # stupid-backoff alpha = 0.4 = 4/10
SB_ALPHA_DEN = 10


def lm_stupid_backoff_score(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Trigram stupid-backoff scoring (Brants et al., EMNLP 2007,
    public — "Large Language Models in Machine Translation"): the
    web-scale count-based LM that skips normalized discounting
    entirely; relative frequencies with a fixed backoff penalty
    alpha = 0.4 beat Kneser-Ney at large counts for a fraction of
    the compute. Trained on the designated split (doc_id % 10 == 0),
    scored over EVERY document:

      S(w3|w1,w2) = c123/c12                     if c123 > 0
                  = 0.4 * c23/c2                 elif c23 > 0
                  = 0.4^2 * (c3 + 1)/(T + V + 1) otherwise
                    (add-one floor so unseen words stay finite —
                     stupid backoff leaves OOV undefined; the
                     lm_heldout_score floor is reused verbatim)

    ALL counts are roll-ups of the train TRIGRAM relation (c12 =
    sum over w3, c23 = sum over w1, c2/c3/T = further roll-ups,
    V = distinct w3), so the corpus tokenizes ONCE and every count
    relation rides the same (w1, w2, w3) exchange — the lm_bigram
    "V from the bigram relation itself" discipline, disclosed: c12
    here counts (w1, w2) as trigram CONTEXT, not free-standing
    bigrams (the two differ only at document tails). Returns
    (doc_id, n_trigrams, n_bo1, n_bo2, avg_logprob) for documents
    with >= 3 tokens — the backoff-level counts make the gate fail
    if the CASE ladder picks the wrong branch.

    Scale shape: one corpus-sized exchange on (w1, w2, w3) serves
    the per-doc tf aggregate AND the train counts; the roll-up
    chain is vocabulary-sized; (T, V) attach as a 1-row broadcast
    (J3); one doc-keyed aggregate closes."""
    tfb = _gram_tf(docs, text_col, 3, train=True)
    c123 = tfb.filter("__train").groupBy("w1", "w2", "w3").agg(
        _sum("tf", "c123")
    )
    c12 = c123.groupBy("w1", "w2").agg(_sum("c123", "c12"))
    c23 = c123.groupBy("w2", "w3").agg(_sum("c123", "c23"))
    c2 = c23.groupBy("w2").agg(_sum("c23", "c2"))
    c3 = c23.groupBy("w3").agg(_sum("c23", "c3"))
    tv = c123.agg(
        F.coalesce(F.sum("c123"), F.lit(0)).cast("long").alias("t"),
        F.count_distinct("w3").cast("long").alias("v"),
    )
    scored = (
        tfb.join(c123, ["w1", "w2", "w3"], "left")
        .join(c12, ["w1", "w2"], "left")
        .join(c23, ["w2", "w3"], "left")
        .join(c2, "w2", "left")
        .join(c3, "w3", "left")
        .join(F.broadcast(tv))
    )
    alpha = F.lit(SB_ALPHA_NUM).cast("double") / F.lit(
        SB_ALPHA_DEN
    ).cast("double")
    s1 = _dbl("c123") / _dbl("c12")
    s2 = alpha * (_dbl("c23") / _dbl("c2"))
    s3 = alpha * alpha * (
        (F.coalesce(F.col("c3"), F.lit(0)).cast("double") + F.lit(1.0))
        / (_dbl("t") + _dbl("v") + F.lit(1.0))
    )
    lvl = F.when(F.col("c123").isNotNull(), F.lit(0)).otherwise(
        F.when(F.col("c23").isNotNull(), F.lit(1)).otherwise(F.lit(2))
    )
    s = F.when(lvl == 0, s1).otherwise(F.when(lvl == 1, s2).otherwise(s3))
    per_doc = _per_doc(
        scored,
        "n_trigrams",
        F.log(s),
        _tf_where(lvl == 1, "n_bo1"),
        _tf_where(lvl == 2, "n_bo2"),
    )
    return per_doc.select(
        "doc_id", "n_trigrams", "n_bo1", "n_bo2", _mean("n_trigrams")
    )


def sentence_stats(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Sentence segmentation statistics — the readability/quality
    signal family (Flesch-style heuristics, Gopher's mean-sentence
    bounds) reads: split on terminator runs `[.!?]+`, trim each
    fragment, drop empties. Returns (doc_id, n_sentences,
    total_chars, avg_sentence_chars, max_sentence_chars) for
    documents with >= 1 sentence; char counts measure the TRIMMED
    fragments.

    Pure Catalyst array expressions (split/transform/filter/
    aggregate) — zero exchanges beyond the scan, whole-stage
    codegen: at 100 TB this is scan-bound, the html_strip posture.
    A full Punkt-style abbreviation-aware segmenter is a model, not
    an expression — documented out of scope; terminator-run
    splitting is the disclosed contract (it never splits on
    abbreviation-internal periods followed by more letters, e.g.
    "U.S." loses its dots but yields no empty fragments)."""
    frags = F.filter(
        F.transform(
            F.split(F.col(text_col), r"[.!?]+"), lambda x: F.trim(x)
        ),
        lambda x: x != "",
    )
    lens = F.transform(frags, lambda x: F.length(x).cast("long"))
    out = docs.select(
        "doc_id",
        F.size(lens).cast("long").alias("n_sentences"),
        F.aggregate(
            lens, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_chars"),
        F.array_max(lens).cast("long").alias("max_sentence_chars"),
    )
    return out.filter(F.col("n_sentences") > 0).select(
        "doc_id",
        "n_sentences",
        "total_chars",
        (
            F.col("total_chars").cast("double")
            / F.col("n_sentences").cast("double")
        ).alias("avg_sentence_chars"),
        "max_sentence_chars",
    )


JM_LAMBDA = 0.7  # interpolation weight on the bigram ML term


def lm_jm_bigram_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Jelinek-Mercer interpolated bigram scoring (Jelinek & Mercer
    1980; the smoothing baseline of Chen & Goodman 1996's study,
    public) — the LINEAR-interpolation rung of the smoothing ladder
    (add-one lm_bigram_score, held-out lm_heldout_score, Kneser-Ney
    lm_kn_bigram_score, stupid-backoff lm_stupid_backoff_score):

      S(w2|w1) = λ · c12/c1  +  (1-λ) · (c2 + 1)/(T + V + 1)

    with λ = 0.7, trained on the designated split (doc_id % 10 == 0)
    and scored over EVERY document; an
    unseen bigram contributes only the smoothed unigram term (the
    ML term is 0, not undefined), so S > 0 always and the log is
    safe. Counts are roll-ups of the train BIGRAM relation (c2 =
    Σ_w1 c12 — continuation-style, the stupid-backoff disclosure;
    T = Σ c12, V = distinct w2), so the corpus tokenizes ONCE.
    Returns (doc_id, n_bigrams, n_unseen, avg_logprob) for docs
    with >= 2 tokens; n_unseen counts positions scored by the
    unigram term alone — the gate fails if the interpolation picks
    the wrong arm.

    Scale shape: the lm_bigram skeleton — one corpus-sized (w1, w2)
    exchange serves the per-doc tf aggregate and the train counts;
    roll-ups are vocabulary-sized; (T, V) is a 1-row broadcast."""
    tfb = _gram_tf(docs, text_col, 2, train=True)
    c12 = tfb.filter("__train").groupBy("w1", "w2").agg(_sum("tf", "c12"))
    c1 = c12.groupBy("w1").agg(_sum("c12", "c1"))
    c2 = c12.groupBy("w2").agg(_sum("c12", "c2"))
    tv = c12.agg(
        F.coalesce(F.sum("c12"), F.lit(0)).cast("long").alias("t"),
        F.count_distinct("w2").cast("long").alias("v"),
    )
    scored = (
        tfb.join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .join(c2, "w2", "left")
        .join(F.broadcast(tv))
    )
    ml = F.when(
        F.col("c12").isNotNull(),
        F.lit(float(JM_LAMBDA)) * (_dbl("c12") / _dbl("c1")),
    ).otherwise(F.lit(0.0))
    uni = F.lit(1.0 - JM_LAMBDA) * (
        (F.coalesce(F.col("c2"), F.lit(0)).cast("double") + F.lit(1.0))
        / (_dbl("t") + _dbl("v") + F.lit(1.0))
    )
    per_doc = _per_doc(
        scored,
        "n_bigrams",
        F.log(ml + uni),
        _tf_where(F.col("c12").isNull(), "n_unseen"),
    )
    return per_doc.select("doc_id", "n_bigrams", "n_unseen", _mean("n_bigrams"))


PPL_BUCKET_K = 256  # rank-sketch sample size per language


def quality_perplexity_buckets(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    k: int = PPL_BUCKET_K,
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020, public): score every document with the corpus unigram LM
    (lm_unigram_score), then split each language into head / middle /
    tail at its own P66 / P33 score thresholds — the "keep the head,
    maybe the middle, drop the tail" quality tiers CCNet feeds
    downstream. Returns (doc_id, lang, score_fp, bucket); score_fp =
    sum(tf * floor(ln(c) * 1e6)) div n_tokens - floor(ln(T) * 1e6),
    micro-nat units, higher = more fluent.

    Determinism: every per-term contribution floor(ln(c) * 1e6) is
    an exact BIGINT of the term's corpus count c, so the per-doc sum
    is ORDER-INDEPENDENT — summing raw doubles and flooring at the
    end drifts with partition/accumulation order
    and can flip score_fp (and a doc's tier) at a floor boundary
    cross-engine. Residual risk (not eliminated, only shrunk): ln()
    of a fixed integer is evaluated once per DISTINCT count on each
    engine, and when ln(c)*1e6 lands within 1 ulp of an integer the
    JVM-vs-libm ln() disagreement can still flip that one floor —
    the exposure is per-distinct-count-value rather than per-doc-sum,
    which is why no flip has been observed at any certified SF, but
    bit-exactness is NOT guaranteed; quantize ln via a lookup table
    or rational approximation if it ever must be. The non-negative
    s_fp div n_tokens floor-division matches DuckDB //.

    Scale shape: thresholds come from the per-language DETERMINISTIC
    bottom-k rank sketch (sketches.rank_sketch_kept — the
    dq_quantiles_sketch machinery), NOT a per-language sort of the
    corpus: at 100 TB a data-sized percentile window is the
    scale-killer, while the sketch is <= k rows per language,
    mergeable across executors, and gives the classic n/sqrt(k) rank
    error — exactly how CCNet fits its thresholds on a sample. The
    thresholds broadcast back (languages x 2 longs) and bucket
    assignment is a row-local comparison. Documents with NULL lang
    are dropped by the inner threshold join (disclosed; a NULL
    language has no tier table).
    """
    from .sketches import rank_sketch_kept, rank_sketch_quantiles

    # lm_unigram_score's shuffle skeleton, with the per-term log
    # quantized to BIGINT micro-nats BEFORE the per-doc sum (see
    # determinism note above)
    tf = _gram_tf(docs, text_col, 1)
    tc = tf.groupBy("term").agg(_sum("tf", "c"))
    lc = tc.select("term", _micro(F.log(_dbl("c"))).alias("lc"))
    tot = tc.agg(_micro(F.log(F.sum("c").cast("double"))).alias("lt"))
    per_doc = tf.join(lc, "term").groupBy("doc_id").agg(
        _sum("tf", "n_tokens"),
        F.sum(F.col("tf") * F.col("lc")).cast("long").alias("s_fp"),
    )
    langs = docs.select("doc_id", F.col(lang_col).alias("lang"))
    # s_fp >= 0 and n_tokens > 0, so truncating div == floor == DuckDB's //
    score = (F.expr("s_fp div n_tokens") - F.col("lt")).cast("long")
    s = per_doc.join(F.broadcast(tot)).join(langs, "doc_id").select(
        "doc_id", "lang", score.alias("score_fp")
    )
    kept = rank_sketch_kept(
        s, id_col="doc_id", value_col="score_fp", group_cols=["lang"], k=k
    )
    thr = rank_sketch_quantiles(kept, ["lang"], percentiles=(33, 66))
    out = s.join(F.broadcast(thr.select("lang", "q33", "q66")), "lang")
    bucket = (
        F.when(F.col("score_fp") > F.col("q66"), F.lit("head"))
        .when(F.col("score_fp") > F.col("q33"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return out.select("doc_id", "lang", "score_fp", bucket.alias("bucket"))


TFIDF_TOPK = 5


def tfidf_topk_terms(
    tokens_with_mult: DataFrame,
    n_docs_df: DataFrame,
    k: int = TFIDF_TOPK,
) -> DataFrame:
    """Per-document keyword extraction: the k highest-tf-idf terms of
    each document (doc_id, term, tf, df, tfidf, trank) — the classic
    unsupervised keyword tagger over a corpus. Ranking is a TOTAL
    order (tfidf DESC, term ASC), so engines rank identically: each
    tfidf is the single multiplication tf * ln(N/df) of exact
    integers, bit-identical cross-engine, and the term tie-break
    settles equal scores.

    Scale shape: tfidf's shuffle skeleton (one term-keyed exchange
    serving both aggregation levels) plus one doc-keyed exchange for
    the per-doc window; row_number + filter <= k plans as
    WindowGroupLimit, so each partition keeps k rows per doc instead
    of materializing the full sort."""
    scored = tfidf(tokens_with_mult, n_docs_df)
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return scored.withColumn(
        "trank", F.row_number().over(w).cast("int")
    ).filter(F.col("trank") <= k)


ZIPF_V = 64
ZIPF_SCALE = 1_048_576  # 2^20 fixed point for the log-log sums


def vocab_zipf_fit(
    docs: DataFrame, text_col: str = "text", vocab_size: int = ZIPF_V
) -> DataFrame:
    """Zipf-law fit of the corpus frequency distribution: OLS slope of
    ln(freq) on ln(rank) over the top `vocab_size` terms — the corpus-
    health diagnostic (natural text fits slope ≈ -1; a corpus of
    boilerplate or template spam bends the curve). Returns ONE row
    (n_terms, slope, intercept); slope is the Zipf exponent.

    Exactness: ln(rank) and ln(freq) quantize to 2^20 fixed point
    BEFORE the OLS sums, so Σx, Σy, Σxy, Σx² are exact int64 over the
    vocab_size rows (order-independent; the 2^20 scale cancels in the
    slope). Same residual floor-boundary caveat as
    quality_perplexity_buckets: floor(ln(k)·2^20) can still flip
    cross-engine when ln(k)·2^20 sits within 1 ulp of an integer —
    per-distinct-value exposure only, no flip observed at any
    certified SF, but not a bit-exactness proof. The only data-sized
    work is vocab_topv's one hash aggregate + TakeOrdered; the
    regression runs over vocab_size rows.
    """
    v = vocab_topv(docs, text_col, vocab_size)
    q = v.select(
        F.floor(
            F.log(F.col("vrank").cast("double")) * F.lit(float(ZIPF_SCALE))
        ).cast("long").alias("xq"),
        F.floor(
            F.log(F.col("n_occurrences").cast("double"))
            * F.lit(float(ZIPF_SCALE))
        ).cast("long").alias("yq"),
    )
    agg = q.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = ((sy - slope * sx) / n) / F.lit(float(ZIPF_SCALE))
    return agg.select(
        "n_terms", slope.alias("slope"), intercept.alias("intercept")
    )


def collocations_g2(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by Dunning's log-likelihood
    ratio — G²'s ORIGINAL application (Dunning 1993 introduced it for
    exactly this, because PMI over-ranks rare pairs even after a
    min-count guard while G² stays calibrated at small expected
    counts). The 2×2 table per bigram lives in the same consistent
    position space as collocations_pmi: a = c(w1,w2), row = c_left(w1),
    col = c_right(w2), N = total bigrams. Returns
    (w1, w2, pair_cnt, g2) ordered by (g2 DESC, w1, w2).

    Scale shape and float discipline: identical to collocations_pmi —
    one corpus explode, ONE bigram-count exchange materialized once
    (localCheckpoint, four consumers), vocab-sized marginals broadcast
    back, TakeOrdered top-k; G² uses functions/stats.py g2_expr
    (one ln per cell of the o·n/(row·col) ratio)."""
    from ..functions.stats import g2_expr

    a = F.col("pair_cnt")
    b = F.col("lc") - a
    c = F.col("rc") - a
    d = F.col("nbi") - a - b - c
    g2 = g2_expr(a, b, c, d, F.col("nbi"))
    return _collocations(docs, text_col, min_count, k, "g2", g2)


ENTROPY_LOW_FP = 1_500_000   # 1.5 nats: repeated-char / template junk
ENTROPY_HIGH_FP = 4_300_000  # 4.3 nats: base64 / binary-ish gibberish


def char_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document character-level Shannon entropy — the cheap
    gibberish screen that catches what token-level quality rules
    miss: repeated-character padding and template boilerplate sit
    far BELOW natural text (≈2.5-3.5 nats for English), while
    base64 blobs and binary junk sit far ABOVE it. Returns
    (doc_id, n_chars, ent_fp, entropy, bucket) with bucket in
    ('low', 'normal', 'high'); empty documents produce no row (no
    characters — same contract as shingles()).

    Exactness: entropy = ln(n) − (Σ c·ln c)/n is computed in BIGINT
    micro-nats with the per-distinct-count quantization discipline
    (floor(ln(c)·1e6) BEFORE the per-doc sum — order-independent,
    same residual 1-ulp floor-boundary caveat as
    quality_perplexity_buckets); the double `entropy` is one final
    division. The non-negative s_fp div n floor-division matches
    DuckDB //.

    Scale shape: one char explode (row per character — the same
    volume class as tokenize), one map-side-combined (doc, char)
    hash aggregate, then a per-doc aggregate whose input is the
    distinct-(doc, char) relation (≤ alphabet × docs rows — far
    below corpus size), so the only data-sized exchange is the
    first aggregate's."""
    chars = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.col(text_col), F.lit(r"[\s\S]"), F.lit(0)
            )
        ).alias("ch"),
    )
    per = chars.groupBy("doc_id", "ch").agg(
        F.count("*").cast("long").alias("c")
    )
    lc = _micro(F.log(_dbl("c")))
    doc = per.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.sum(F.col("c") * lc).cast("long").alias("__s_fp"),
    )
    ln_n = _micro(F.log(_dbl("n_chars")))
    ent_fp = (ln_n - F.expr("__s_fp div n_chars")).cast("long")
    return doc.select(
        "doc_id",
        "n_chars",
        ent_fp.alias("ent_fp"),
        (ent_fp.cast("double") / F.lit(1e6)).alias("entropy"),
        F.when(ent_fp < F.lit(ENTROPY_LOW_FP), F.lit("low"))
        .when(ent_fp > F.lit(ENTROPY_HIGH_FP), F.lit("high"))
        .otherwise(F.lit("normal"))
        .alias("bucket"),
    )


def ngram_novelty(
    docs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty under the doc_id ingestion order:
    the fraction of a doc's DISTINCT n-grams whose FIRST corpus
    occurrence (min doc_id) is this doc — the curriculum/freshness
    curve a training-data pipeline watches to see when a source
    stops contributing new content (novelty decays toward 0 as the
    corpus saturates; a flat-high curve means the stream is still
    fresh). Returns (doc_id, n_grams, n_novel, novelty); documents
    with fewer than n tokens have no grams and produce no row (same
    contract as shingles()).

    Exactness: counts are exact integers over the distinct
    (doc, gram) relation; novelty is ONE division of exact counts.

    Scale shape: gram explode (the ngram_counts volume class) → one
    distinct on (doc, gram) (map-side combinable) → min(doc_id) per
    gram over the distinct relation → one gram-keyed join back + a
    per-doc aggregate. Every post-explode relation is
    distinct-gram-sized, not corpus-token-sized; nothing quadratic,
    no windows."""
    dg = (
        docs.select("doc_id", _words(text_col).alias("__w"))
        .select("doc_id", F.explode(_ngram_strings(n)).alias("ngram"))
        .distinct()
    )
    first = dg.groupBy("ngram").agg(F.min("doc_id").alias("__first"))
    novel = F.when(F.col("__first") == F.col("doc_id"), 1).otherwise(0)
    per_doc = dg.join(first, "ngram").groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(novel).cast("long").alias("n_novel"),
    )
    novelty = _dbl("n_novel") / _dbl("n_grams")
    return per_doc.select(
        "doc_id", "n_grams", "n_novel", novelty.alias("novelty")
    )
