"""Corpus-curation operators beyond dedup: eval-set decontamination,
repetition/boilerplate metrics, PII redaction, per-source quotas.

These are the remaining standard passes of a large-scale training-data
pipeline (the reference has none of this; SURVEY.md §2 covers only the
χ² surface). All are built-in Catalyst expressions — no UDFs — and
each states its 100 TB posture in the docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import shingles

# Decontamination screen: a training document sharing at least this
# many distinct shingles with the eval set is flagged. Longer
# shingles than the dedup default (5-word vs 3-word): contamination
# means *verbatim benchmark text*, and short n-grams over a small
# vocabulary flag unrelated documents (3-grams flag 84% of the
# synthetic corpus; real pipelines use 8-13-gram screens).
MIN_OVERLAP = 1
DECONTAM_SHINGLE_N = 5

EMAIL_REGEX = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
LONG_DIGITS_REGEX = "[0-9]{9,}"


def decontaminate(
    docs: DataFrame,
    eval_source: str = "src0",
    min_overlap: int = MIN_OVERLAP,
) -> DataFrame:
    """Benchmark decontamination: flag training documents (source !=
    eval_source) sharing >= min_overlap distinct word-3-grams with the
    eval set (source == eval_source). Returns (doc_id, n_overlap) for
    flagged docs; the kept corpus is the anti-join on this relation.

    Scale shape: the eval side of the shingle join is a *benchmark
    suite* — MBs against a 100 TB corpus — so its distinct-shingle set
    is broadcast and the screen is one map-side hash-join pass over
    the corpus shingles plus one aggregate by doc. No shuffle touches
    the corpus-sized relation until the per-doc count (which is
    map-side combined). The shingle relation is already distinct per
    doc (dedup.shingles), so count(*) == count(DISTINCT shingle).

    Each side shingles its OWN source-filtered slice (the predicate
    pushes into the parquet scan) instead of joining one global
    shingle relation against a (doc_id, source) map twice — the
    round 1-3 form planned the corpus scan three times and paid two
    doc-keyed joins for what two pushdown filters express; with
    source-partitioned storage the eval scan touches only the eval
    partition's files. (At local SF the old form looked cheap only
    because AQE broadcast the corpus-wide (doc_id, source) map — at
    100 TB that map cannot broadcast and the join degrades to a full
    shuffle of the shingle relation on doc_id, which this form never
    plans.)"""
    eval_sh = (
        shingles(
            docs.filter(F.col("source") == eval_source),
            n=DECONTAM_SHINGLE_N,
        )
        .select("shingle")
        .distinct()
    )
    train_sh = shingles(
        docs.filter(F.col("source") != eval_source), n=DECONTAM_SHINGLE_N
    )
    return (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )


def decontaminate_spans(
    docs: DataFrame,
    eval_source: str = "src0",
    n: int = DECONTAM_SHINGLE_N,
) -> DataFrame:
    """Surgical span-level decontamination: (doc_id, span_start,
    span_end) — the merged token ranges in TRAINING documents (source
    != eval_source) whose n-grams appear anywhere in the eval slice.
    Where `decontaminate` flags whole documents for dropping, this
    emits the exact ranges to CUT, keeping the rest of the document —
    what modern pipelines do when a page quotes one benchmark question
    amid pages of clean text.

    Scale shape mirrors decontaminate: both sides shingle their OWN
    source-filtered slice (predicate pushdown), the eval gram set is
    a broadcast (a benchmark suite is MBs against a 100 TB corpus), so
    the corpus pays one map-side hash-join pass; only the HIT relation
    (matched windows, ≪ corpus) reaches the gaps-and-islands merge's
    single doc_id exchange (dedup.merge_spans)."""
    from .dedup import merge_spans, ngram_positions

    eval_g = (
        ngram_positions(docs.filter(F.col("source") == eval_source), n=n)
        .select("gram")
        .distinct()
    )
    train_g = ngram_positions(
        docs.filter(F.col("source") != eval_source), n=n
    )
    hits = train_g.join(F.broadcast(eval_g), "gram").select(
        "doc_id", "start", "end"
    )
    return merge_spans(hits)


def repetition_metrics(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document repetition/boilerplate metrics:
    (doc_id, n_tokens, dup_token_ratio, dup_3gram_ratio,
    top_token_share).

    dup ratios are computed ARRAY-SIDE (size vs size(array_distinct))
    — a pure projection, zero shuffle for 2 of the 3 metrics. Only
    top_token_share (modal-token frequency) needs an explode +
    (doc_id, token) count + per-doc max, both map-side combinable.
    Ratios are single IEEE divisions of exact integer counts, so the
    oracle reproduces them bit-for-bit."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "\\s+"), lambda t: t != ""
    )
    base = docs.select("doc_id", toks.alias("__t"))
    arr = F.col("__t")
    g3 = F.when(
        F.size(arr) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(arr, i + 1),
                F.element_at(arr, i + 2),
                F.element_at(arr, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Token stats all derive from the (doc, token) counts — n_tokens =
    # sum(c), distinct = count(*), modal = max(c) — so the explode
    # carries ONLY (doc_id, token); selecting array-derived scalars in
    # the same projection as the explode makes Catalyst retain both
    # arrays through Generate, replicating them once per token row
    # (measured 4x slower at sf0.1). The 3-gram stats branch is a pure
    # map-side projection (3 ints per doc) equi-joined back on doc_id;
    # the token-stats side is already hash-partitioned on doc_id by
    # its final aggregate, so the join adds one tiny exchange for the
    # gram side only.
    tok_rows = base.select("doc_id", F.explode(arr).alias("w"))
    tok_stats = (
        tok_rows.groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("int").alias("n_tokens"),
            F.count("*").cast("int").alias("__nd"),
            F.max("c").alias("__top"),
        )
    )
    # g3 is referenced twice below; materialize it in its own
    # projection (HOFs are interpreted with no CSE — multi-referenced
    # lambdas re-evaluate per reference unless bound to a column).
    gram_stats = base.select("doc_id", g3.alias("__g")).select(
        "doc_id",
        F.size("__g").alias("__ng"),
        F.size(F.array_distinct("__g")).alias("__ndg"),
    )
    return tok_stats.join(gram_stats, "doc_id").select(
        "doc_id",
        "n_tokens",
        (
            F.lit(1.0)
            - F.col("__nd").cast("double") / F.col("n_tokens").cast("double")
        ).alias("dup_token_ratio"),
        F.when(
            F.col("__ng") > 0,
            F.lit(1.0)
            - F.col("__ndg").cast("double") / F.col("__ng").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_3gram_ratio"),
        (
            F.col("__top").cast("double") / F.col("n_tokens").cast("double")
        ).alias("top_token_share"),
    )


def repetition_gate(
    docs: DataFrame, text_col: str = "text", max_dup_ratio: float = 0.65
) -> DataFrame:
    """Array-side repetition gate: dup_token_ratio applied as an
    inline scan predicate — no explode, no metric relation, no
    join-back. dup_token_ratio = 1 − distinct/total over the
    whitespace tokens, the same integer counts and single IEEE
    division as repetition_metrics, so the keep-set is identical to
    joining that relation and filtering (including dropping zero-token
    docs, which repetition_metrics' explode+inner-join excludes)."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "\\s+"), lambda t: t != ""
    )
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    ratio = F.lit(1.0) - nd.cast("double") / n.cast("double")
    return docs.filter((n > 0) & (ratio <= max_dup_ratio))


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction: emails -> <EMAIL>, 9+-digit runs -> <NUM>.
    Returns (doc_id, clean_text, n_emails, n_numbers).

    Map-side only — regexp_replace/extract_all in one projection, no
    shuffle, no UDF; at 100 TB this runs at scan speed. The test
    corpus contains no natural PII, so the registry query injects a
    deterministic email + id-number per document (identically in the
    oracle) and the redaction must remove exactly those."""
    pii = F.col(text_col)
    n_emails = F.size(
        F.regexp_extract_all(pii, F.lit(EMAIL_REGEX), F.lit(0))
    )
    after_email = F.regexp_replace(pii, EMAIL_REGEX, "<EMAIL>")
    n_numbers = F.size(
        F.regexp_extract_all(after_email, F.lit(LONG_DIGITS_REGEX), F.lit(0))
    )
    clean = F.regexp_replace(after_email, LONG_DIGITS_REGEX, "<NUM>")
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        n_emails.alias("n_emails"),
        n_numbers.alias("n_numbers"),
    )


# Typed PII detectors. Every pattern is written to evaluate
# identically under Java regex (Spark) and RE2 (DuckDB oracle): no
# backreferences, no lookaround, alternations ordered longest-first
# so leftmost-first matching agrees, ASCII-only \b boundaries.
PHONE_REGEX = r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b"
SSN_REGEX = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
_OCTET = "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
IPV4_REGEX = rf"\b{_OCTET}(\.{_OCTET}){{3}}\b"
CARD_CAND_REGEX = r"\b[0-9]{13,19}\b"


def luhn_valid(s: F.Column) -> F.Column:
    """Luhn mod-10 checksum over a digit string — exact integer
    arithmetic only (doubling with 9-subtraction from the right), so
    Spark and the DuckDB oracle cannot disagree. i counts from the
    RIGHTMOST digit, 0-based; odd positions double."""
    n = F.length(s)
    total = F.aggregate(
        F.sequence(F.lit(0), n - F.lit(1)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            i % 2 == 1,
            F.when(
                (F.ascii(F.substring(s, n - i, F.lit(1))) - 48) * 2 > 9,
                (F.ascii(F.substring(s, n - i, F.lit(1))) - 48) * 2 - 9,
            ).otherwise(
                (F.ascii(F.substring(s, n - i, F.lit(1))) - 48) * 2
            ),
        ).otherwise(F.ascii(F.substring(s, n - i, F.lit(1))) - 48),
    )
    return total % 10 == 0


def pii_screen(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Typed PII census per document — the admission-control
    counterpart of redact_pii (which rewrites text; this one counts
    and flags so the curation pipeline can route documents to
    redaction/quarantine). Detects emails, phone numbers, SSNs,
    IPv4 addresses (octet-validated IN the regex — 999.1.2.3 is not
    an address), and payment-card numbers (13-19 digit candidates
    that pass the Luhn mod-10 check — a random long digit run is not
    a card). Returns (doc_id, n_emails, n_phones, n_ssn, n_ipv4,
    n_cards, pii_total, flagged).

    Scale shape: map-side only — five regexp_extract_all projections
    plus a row-local integer Luhn filter over the card candidates; no
    shuffle, no UDF, runs at scan speed at 100 TB. Cross-engine: the
    patterns are RE2-compatible (see the detector block above) and
    the Luhn check is pure integer arithmetic."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_REGEX), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PHONE_REGEX), F.lit(0)))
    n_ssn = F.size(F.regexp_extract_all(t, F.lit(SSN_REGEX), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(t, F.lit(IPV4_REGEX), F.lit(0)))
    n_cards = F.size(
        F.filter(
            F.regexp_extract_all(t, F.lit(CARD_CAND_REGEX), F.lit(0)),
            luhn_valid,
        )
    )
    out = docs.select(
        "doc_id",
        n_emails.cast("int").alias("n_emails"),
        n_phones.cast("int").alias("n_phones"),
        n_ssn.cast("int").alias("n_ssn"),
        n_ipv4.cast("int").alias("n_ipv4"),
        n_cards.cast("int").alias("n_cards"),
    )
    total = (
        F.col("n_emails")
        + F.col("n_phones")
        + F.col("n_ssn")
        + F.col("n_ipv4")
        + F.col("n_cards")
    )
    return out.select(
        "*",
        total.cast("int").alias("pii_total"),
        (total > 0).alias("flagged"),
    )


def pii_inject_expr(
    id_col: F.Column | str = "doc_id", text_col: F.Column | str = "text"
) -> F.Column:
    """Deterministic PII test fixture (the corpus carries no natural
    PII): appends a typed PII item per doc_id residue class, including
    two NEGATIVE plants the validated detectors must reject — an
    out-of-range IPv4 octet (999.1.2.3) and a Luhn-failing card
    number. Mirrored verbatim in the oracle SQL; used by both the
    batch registry query and the streaming twin so they certify the
    identical text."""
    did = F.col(id_col) if isinstance(id_col, str) else id_col
    txt = F.col(text_col) if isinstance(text_col, str) else text_col
    s = did.cast("string")

    def w(mod: int, *parts: F.Column | str) -> F.Column:
        cols = [F.lit(p) if isinstance(p, str) else p for p in parts]
        return F.when(did % mod == 0, F.concat(*cols)).otherwise(F.lit(""))

    return F.concat(
        txt,
        w(7, " contact user", s, "@mail.example.com"),
        w(
            11,
            " call 555-",
            F.lpad((did % 1000).cast("string"), 3, "0"),
            "-",
            F.lpad((did % 10000).cast("string"), 4, "0"),
        ),
        w(
            13,
            " ssn ",
            (did % 900 + 100).cast("string"),
            "-",
            (did % 90 + 10).cast("string"),
            "-",
            (did % 9000 + 1000).cast("string"),
        ),
        w(
            5,
            " ip 10.",
            (did % 256).cast("string"),
            ".0.",
            (did % 200 + 1).cast("string"),
        ),
        w(6, " ip 999.1.2.3"),
        w(17, " card 4111111111111111"),
        w(19, " card 4111111111111112"),
        w(23, " amex 371449635398431"),
    )


def sample_per_source(docs: DataFrame, quota: int = 5) -> DataFrame:
    """Per-source quota sampling: keep at most `quota` documents per
    source, chosen by a deterministic content-free hash order
    (md5(doc_id)) so the sample is reproducible and unbiased by
    insertion order. Returns (doc_id, source).

    One shuffle on source; rank via row_number, which Spark executes
    as WindowGroupLimit (per-partition top-k before the exchange) —
    the same bounded-state shape as topk_per_group, safe at any number
    of sources. Skewed source sizes don't matter: the group limit
    caps what each task retains at quota rows per source."""
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= quota)
        .select("doc_id", "source")
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Per-group outlier clipping: clip value_col to that group's
    [lo_q, hi_q] exact interpolated percentiles. Adds
    `<value_col>_wins` (double) and `was_clipped`.

    Two-pass shape: one hash aggregate computes the per-group bounds
    (groups ≪ rows, so the stats relation broadcasts), then a
    map-side broadcast join + greatest/least clip — the input is
    never shuffled. The standard feature-clipping pass before model
    training, and the same shape as any stats-then-normalize
    operator (z-score, min-max)."""
    stats = df.groupBy(group_col).agg(
        F.percentile(value_col, F.lit(lo_q)).alias("__lo"),
        F.percentile(value_col, F.lit(hi_q)).alias("__hi"),
    )
    v = F.col(value_col).cast("double")
    clipped = F.greatest(F.col("__lo"), F.least(F.col("__hi"), v))
    return (
        df.join(F.broadcast(stats), group_col)
        .withColumn(f"{value_col}_wins", clipped)
        .withColumn(
            "was_clipped", (v < F.col("__lo")) | (v > F.col("__hi"))
        )
        .drop("__lo", "__hi")
    )


def _id_hash32(id_col: str | F.Column) -> F.Column:
    """Deterministic 32-bit hash of an id column or expression,
    engine-portable: the first 8 hex digits of md5 of the DECIMAL
    STRING rendering. Both Spark and DuckDB render integers
    identically, so an oracle can embed the same expression — unlike
    xxhash64, which only Spark has."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.conv(
        F.substring(F.md5(c.cast("string")), 1, 8), 16, 10
    ).cast("long")


def _bucket_split(
    id_expr: str | F.Column, train_pct: int, val_pct: int
) -> F.Column:
    """hash-bucket -> 'train'/'val'/'test' label — the ONE when-chain
    train_split and split_no_leakage share, so the singleton-parity
    property between them (same id => same split) holds by
    construction, not by keeping two copies in sync."""
    bucket = _id_hash32(id_expr) % 100
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def corpus_shard(docs: DataFrame, n_shards: int = 16) -> DataFrame:
    """Deterministic global shuffle for training-order randomization:
    (doc_id, shard, pos) where shard = hash % n_shards and pos is the
    hash-ordered rank within the shard. A reproducible corpus
    permutation with NO global sort: the row_number window runs per
    shard — n_shards independent partition-local sorts of ~N/n_shards
    rows each — never funnelling the corpus through one partition.
    Readers stream shard files in pos order; reshuffling between
    epochs is a different n_shards or a salt on the id string."""
    h = _id_hash32("doc_id")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"))
        .withColumn("shard", (F.col("h") % n_shards).cast("int"))
        .select(
            "doc_id",
            "shard",
            "h",
        )
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("h")
    )


def train_split(
    docs: DataFrame, train_pct: int = 90, val_pct: int = 5
) -> DataFrame:
    """Deterministic train/val/test assignment: (doc_id, split) from a
    content-independent id hash, so membership is stable across runs,
    machines, and engine versions — re-ingesting the corpus never
    migrates a document between splits (the property that prevents
    silent train-on-test leakage). Entirely map-side: a projection at
    scan speed, no shuffle, no state."""
    return docs.select(
        "doc_id",
        _bucket_split("doc_id", train_pct, val_pct).alias("split"),
    )


def split_no_leakage(
    docs: DataFrame,
    text_col: str = "text",
    train_pct: int = 90,
    val_pct: int = 5,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: like train_split, but
    the split hash keys on the near-dup COMPONENT id (min doc_id of
    the MinHash-connected cluster; the doc's own id when it has no
    near-dup), so every member of a duplicate cluster lands in the
    SAME split. Per-doc hashing lets near-copies straddle the
    train/test boundary — the quiet contamination that survives
    upstream dedup whenever the keep-one rule and the split
    disagree; grouping by component closes it structurally.

    Scale shape: the component labels come from the iterative
    min-label propagation (neardup_components — bounded rounds,
    lineage-truncated); the label relation covers only docs that
    COLLIDE (collision-sized, not corpus-sized), so the corpus pays
    one left join against a small relation (AQE broadcasts it) and
    the split itself stays a map-side projection.

    Freeze-at-build: the component iteration executes (and
    localCheckpoints its labels) WHEN THIS FUNCTION IS CALLED — the
    select_token_budget semantics; timing consumers must wrap the
    builder call plus the action (bench.py does). The iteration must
    CONVERGE (components_over_pairs raises otherwise): a
    max_iter-truncated label is non-minimal on pathological
    long-chain components, which would silently split a cluster
    across the train/test boundary — the exact leak this operator
    exists to prevent (and would diverge from the exact
    transitive-closure oracle). Propagation finishes
    in graph-diameter rounds; the 100k-doc planted-skew stress
    converges in 10 of the default 20."""
    from .dedup import neardup_components

    comp = neardup_components(docs, text_col)
    gid = F.coalesce(F.col("component_id"), F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            _bucket_split(gid, train_pct, val_pct).alias("split"),
        )
    )


HASH_SCALE = 1048576  # 2^20: fixed-point scale for exact weight sums


def source_temperature(
    docs: DataFrame, budget: int = 200, alpha: float = 0.5
) -> DataFrame:
    """Temperature-based source rebalancing: allot a sampling budget
    across sources proportionally to n_s^alpha (alpha < 1 upweights
    small sources — the standard domain-mixing pass before training),
    then deterministically pick each source's quota by id-hash rank.
    Returns (doc_id, source, pos) with pos = 1..target_n per source.

    Exact cross-engine arithmetic: each weight is fixed-pointed as
    floor(n_s^alpha * 2^20) BIGINT (sqrt/pow are correctly-rounded
    IEEE doubles, floor of one is deterministic), the weight total is
    an exact integer sum, and the per-source target is integer
    `budget * w_s div w_total` (floored, min 1) — no float comparison
    anywhere near a selection cliff.

    Scale shape: per-source counts are a tiny hash aggregate; targets
    broadcast back; selection is a per-source row_number window —
    partition-local sorts, no global funnel. NULL-source rows are
    dropped up front: they could never be selected (the quota join is
    on source) but would still absorb budget weight — and the explicit
    filter makes the weight branches canonically identical to the
    selection branch, so the weight-total replan reuses the one
    source-partitioned exchange instead of re-scanning."""
    docs = docs.filter(F.col("source").isNotNull())
    n_s = F.col("n_s").cast("double")
    weight = F.sqrt(n_s) if alpha == 0.5 else F.pow(n_s, F.lit(alpha))
    w_fp = F.floor(weight * HASH_SCALE).cast("long")
    weights = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_s"))
        .select("source", w_fp.alias("ws"))
    )
    wsum = weights.agg(F.sum("ws").alias("wt"))
    targets = weights.join(F.broadcast(wsum)).select(
        "source",
        F.greatest(
            F.lit(1).cast("long"), F.expr(f"({budget} * ws) div wt")
        ).alias("target_n"),
    )
    h = _id_hash32("doc_id")
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    ranked = (
        docs.select("doc_id", "source", h.alias("h"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("h")
    )
    return (
        ranked.join(F.broadcast(targets), "source")
        .filter(F.col("pos") <= F.col("target_n"))
        .select("doc_id", "source", "pos")
    )


def sample_weighted(
    docs: DataFrame, weight_col: str = "n_chars", k: int = 100
) -> DataFrame:
    """Deterministic weighted sample without replacement (Efraimidis-
    Spirakis A-ES): each row draws u in (0,1] from its content-
    independent id hash and competes on key = -ln(u)/w; the k smallest
    keys win, so selection probability tracks the weights while the
    outcome is reproducible across runs, retries, and engines — never
    rand(), whose per-task re-draw under retry corrupts samples.
    Quality- or length-weighted corpus sampling is this exact pass.

    Scale shape: a pure projection plus orderBy().limit(k), which
    Catalyst executes as TakeOrderedAndProject — per-partition heaps
    of k rows and a k-row driver merge, never a global sort. Rows with
    non-positive weight are excluded (their key is undefined)."""
    u = (_id_hash32("doc_id") + F.lit(1).cast("double")) / F.lit(
        float(2**32)
    )
    w = F.col(weight_col).cast("double")
    key = -F.log(u) / w
    return (
        docs.filter(w > 0)
        .select("doc_id", F.col(weight_col), key.alias("es_key"))
        .orderBy(F.asc("es_key"), F.asc("doc_id"))
        .limit(k)
    )


def sample_weighted_per_group(
    docs: DataFrame,
    group_col: str = "source",
    weight_col: str = "n_chars",
    k: int = 10,
) -> DataFrame:
    """A-ES weighted sampling WITHIN each group: the k best
    Efraimidis-Spirakis keys per group_col win — 'k documents per
    domain, weighted by quality/length', the stratified counterpart of
    sample_weighted. Same deterministic hash-derived uniforms (never
    rand(): task retries re-draw), ranked by a per-group window
    instead of a global TakeOrdered — partition-local sorts per
    group, no global funnel, one corpus scan."""
    u = (_id_hash32("doc_id") + F.lit(1).cast("double")) / F.lit(
        float(2**32)
    )
    w = F.col(weight_col).cast("double")
    key = -F.log(u) / w
    win = Window.partitionBy(group_col).orderBy(
        F.asc("es_key"), F.asc("doc_id")
    )
    return (
        docs.filter(w > 0)
        .select(
            "doc_id", group_col, F.col(weight_col), key.alias("es_key")
        )
        .withColumn("pos", F.row_number().over(win).cast("long"))
        .filter(F.col("pos") <= k)
    )


def select_token_budget(
    docs: DataFrame, budget: int, text_col: str = "text"
) -> DataFrame:
    """Cut the corpus to a token budget in priority order: select
    documents in (n_chars DESC, doc_id ASC) order while the running
    token total BEFORE each document is < budget — "give me the best
    ~budget tokens" (budget >= 1 always selects at least one
    non-empty document when one exists). Returns (doc_id, n_chars, n_tokens) for
    the selected set.

    Scale shape — the naive form is a GLOBAL running-sum window
    (single partition, the classic 100 TB non-starter). This is the
    two-level exact equivalent:
      1. aggregate tokens per n_chars BUCKET (one map-side-combined
         hash agg; distinct n_chars values are bounded and tiny
         relative to the corpus),
      2. cumulative-sum over the BUCKET relation (a window over
         thousands of rows, not billions),
      3. buckets strictly inside the budget select wholesale via a
         literal IN-set that pushes down to the parquet scan; only
         the single BOUNDARY bucket runs a per-doc running sum, and
         that window is partitioned by the bucket key over that
         bucket's rows alone (final plan: 1 exchange).
    Selection is identical to the global window by construction —
    the order within a bucket (doc_id ASC) and across buckets
    (n_chars DESC) compose to the same total order the oracle's
    single window uses. Zero-token documents are excluded from the
    selection domain (with n_tokens >= 1, "bucket cum_through <=
    budget" is exactly "every member's before-total < budget", so
    wholesale selection and the per-doc rule agree; a zero-token doc
    sitting where the running total equals the budget would split
    the engines on a boundary tie).

    Freeze-at-build semantics: the bucket thresholds come from a
    bounded collect that runs WHEN THIS FUNCTION IS CALLED, not when
    the returned DataFrame executes — mutate the source between build
    and action and the cut reflects build-time data. Timing consumers
    must wrap the builder call plus the action (bench.py does: its
    timed region starts before fn(spark, sf_dir)), or the corpus scan
    behind the thresholds escapes the measurement."""
    nt = F.greatest(
        F.size(
            F.filter(
                F.split(F.lower(F.col(text_col)), "\\s+"),
                lambda t: t != "",
            )
        ),
        F.lit(0),
    ).cast("long")
    d = docs.select("doc_id", "n_chars", nt.alias("n_tokens")).filter(
        F.col("n_tokens") > 0
    )
    buckets = d.groupBy("n_chars").agg(F.sum("n_tokens").alias("bt"))
    # Unpartitioned cumsum window is BOUNDED: `buckets` has one row
    # per DISTINCT n_chars value (<= max doc length), not per doc.
    w_b = (
        Window.orderBy(F.desc("n_chars"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bstat = buckets.withColumn(
        "cum_through", F.sum("bt").over(w_b)
    ).withColumn("cum_before", F.col("cum_through") - F.col("bt"))
    # BOUNDED collect: one row per distinct n_chars value (<= max doc
    # length, data-independent of corpus row count — same class as the
    # centroid/Bloom collects). Joining the threshold relations as
    # DataFrames instead re-derives this corpus-scan lineage once per
    # consumer: the first form planned EIGHT parquet scans; literals
    # cut the final plan to the two branch scans (+ this one).
    stats = bstat.collect()
    inner_vals = [r["n_chars"] for r in stats if r["cum_through"] <= budget]
    brows = [
        (r["n_chars"], r["cum_before"])
        for r in stats
        if r["cum_before"] < budget and r["cum_through"] > budget
    ]
    parts = []
    if inner_vals:
        # literal IN-set pushes down to the parquet scan
        parts.append(
            d.filter(F.col("n_chars").isin(inner_vals)).select(
                "doc_id", "n_chars", "n_tokens"
            )
        )
    if brows:
        nc_b, cum_b = brows[0]
        w_doc = (
            Window.partitionBy("n_chars")
            .orderBy(F.asc("doc_id"))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        parts.append(
            d.filter(F.col("n_chars") == nc_b)
            .withColumn(
                "__before",
                F.lit(cum_b)
                + F.sum("n_tokens").over(w_doc)
                - F.col("n_tokens"),
            )
            .filter(F.col("__before") < budget)
            .select("doc_id", "n_chars", "n_tokens")
        )
    if not parts:
        return d.filter(F.lit(False))
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


def c4_line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    min_line_words: int = 3,
    min_doc_lines: int = 1,
) -> DataFrame:
    """The C4 line-level cleaning pass (Raffel et al. 2020 §2.2,
    public): split each document into lines, keep lines with >=
    min_line_words words, then CORPUS-GLOBAL exact line
    deduplication — every line's first occurrence (smallest
    (doc_id, line_no)) survives, all later copies are cut from their
    documents — and reassemble. Documents keeping fewer than
    min_doc_lines lines are dropped. (C4 also requires terminal
    punctuation per line; this corpus has none, so that rule is
    deliberately not part of the contract here — the global-dedup
    shuffle is the load-bearing piece.) Returns
    (doc_id, clean_text, n_lines_kept, n_lines_dropped) where
    dropped counts the deduplicated lines (quality-filtered lines are
    cut before counting, as in C4).

    Scale shape: exactly TWO exchanges — one keyed by the line for
    the first-occurrence window (at 100 TB this is the big shuffle;
    it moves each line once, and a production variant would key on a
    64-bit line hash and carry (doc_id, line_no) only — the payload
    here keeps the line text because reassembly needs it), one keyed
    by doc_id for reassembly. First-occurrence is decided by
    row_number over (doc_id, line_no) — total order, so both engines
    keep identical survivors. No UDFs."""
    lines = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.col(text_col), "\n")).alias(
                "line_no", "line"
            ),
        )
        .filter(
            F.size(F.filter(F.split("line", " "), lambda w: w != ""))
            >= F.lit(int(min_line_words))
        )
    )
    w = Window.partitionBy("line").orderBy("doc_id", "line_no")
    marked = lines.withColumn(
        "__keep", (F.row_number().over(w) == 1).cast("int")
    )
    per_doc = (
        marked.groupBy("doc_id")
        .agg(
            F.sum("__keep").cast("long").alias("n_lines_kept"),
            (F.count("*") - F.sum("__keep"))
            .cast("long")
            .alias("n_lines_dropped"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("__keep") == 1,
                        F.struct("line_no", "line"),
                    )
                )
            ).alias("__kept"),
        )
        .filter(F.col("n_lines_kept") >= F.lit(int(min_doc_lines)))
    )
    return per_doc.select(
        "doc_id",
        F.array_join(
            F.transform("__kept", lambda e: e["line"]), "\n"
        ).alias("clean_text"),
        "n_lines_kept",
        "n_lines_dropped",
    )


def dsir_importance(
    docs: DataFrame,
    target_filter,
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    public) — unigram variant: score every document by how much more
    likely its words are under the TARGET distribution (the rows
    matching `target_filter`, a Column predicate) than under the raw
    corpus distribution, log lambda(d) = sum_w cnt_w(d) *
    ln(p_target(w) / p_raw(w)), both Laplace-smoothed over the shared
    vocabulary. Returns the top-k (doc_id, n_tokens, log_weight) by
    (log_weight DESC, doc_id ASC) — the documents importance
    resampling would keep first.

    Cross-engine exactness: the per-document float sum folds the
    (word, cnt*llr) terms IN WORD ORDER (array_sort + left fold — the
    module's standard ordered-fold discipline), and each term is the
    same left-to-right double expression on both engines; the final
    top-k is decided on those bit-identical doubles with a doc_id
    tie-break.

    Scale shape: the (doc, word) count relation feeds both the
    vocabulary chain and the scoring join, so the plan tokenizes the
    corpus TWICE (two column-pruned scans) — deliberate: checkpointing
    the corpus-sized token relation instead was MEASURED SLOWER
    (0.92s -> 1.55s at sf0.1; writing (doc, word) to disk costs more
    than the second scan, and the same holds wherever scans are
    column-pruned). The vocabulary (word, target_cnt, raw_cnt)
    aggregates FROM the count relation, is vocab-sized, and
    BROADCASTS back (at 100 TB, hashed n-gram buckets cap the vocab —
    the paper's 10k-bucket trick); one doc-keyed exchange for the
    ordered fold; TakeOrdered for the global top-k."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "\\s+"), lambda t: t != ""
    )
    toks = docs.select(
        "doc_id",
        target_filter.cast("long").alias("__is_t"),
        F.explode(words).alias("word"),
    )
    dw = toks.groupBy("doc_id", "word").agg(
        F.count("*").cast("long").alias("cnt"),
        # per-doc constant; carried so vocab can aggregate FROM dw
        F.max("__is_t").alias("__is_t"),
    )
    vocab = dw.groupBy("word").agg(
        F.sum(F.col("cnt") * F.col("__is_t")).cast("long").alias("tcnt"),
        F.sum("cnt").cast("long").alias("rcnt"),
    )
    # totals ride a 1-row aggregate, broadcast as a cross join
    totals = vocab.agg(
        F.sum("tcnt").cast("long").alias("t_total"),
        F.sum("rcnt").cast("long").alias("r_total"),
        F.count("*").cast("long").alias("v"),
    )
    llr = (
        F.log(
            (F.col("tcnt").cast("double") + F.lit(1.0))
            / (F.col("t_total").cast("double") + F.col("v").cast("double"))
        )
        - F.log(
            (F.col("rcnt").cast("double") + F.lit(1.0))
            / (F.col("r_total").cast("double") + F.col("v").cast("double"))
        )
    )
    terms = dw.join(F.broadcast(vocab.crossJoin(F.broadcast(totals))), "word").select(
        "doc_id",
        "cnt",
        F.struct(F.col("word"), (F.col("cnt").cast("double") * llr).alias("t")).alias("e"),
    )
    per_doc = terms.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.array_sort(F.collect_list("e")).alias("es"),
    )
    folded = per_doc.select(
        "doc_id",
        "n_tokens",
        F.aggregate(
            "es", F.lit(0.0), lambda acc, e: acc + e["t"]
        ).alias("log_weight"),
    )
    return folded.orderBy(
        F.desc("log_weight"), F.asc("doc_id")
    ).limit(int(k))


# ---------------------------------------------------------------------
# Model-based quality score (fastText-architecture linear classifier)
# ---------------------------------------------------------------------

QM_BUCKETS = 1024  # hashed-ngram feature space (fastText's -bucket)
QM_BIAS_MILLI = 25  # intercept, milliunits


def quality_model_weights(spark, n_buckets: int = QM_BUCKETS):
    """The model: a (bucket, w) weight relation, w an integer in
    [-500, 500] milliunits derived deterministically from the shared
    60-bit md5 hash of the bucket id — a fixed stand-in for trained
    weights (training is out of scope; the SERVING plan is the
    operator). A real deployment loads this relation from the
    trainer's output; everything downstream is unchanged. Broadcast
    at join time: n_buckets rows."""
    from pyspark.sql import functions as F

    from .sketches import kmv_hash_expr

    return spark.range(int(n_buckets)).select(
        F.col("id").alias("bucket"),
        (kmv_hash_expr(F.col("id")) % 1001 - 500)
        .cast("long")
        .alias("w"),
    )


def quality_model_score(
    docs,
    weights=None,
    n_buckets: int = QM_BUCKETS,
    text_col: str = "text",
):
    """Model-based document quality score — the public fastText
    architecture (Joulin et al. 2016) expressed as a Spark plan:
    tokens + token bigrams → hashed feature buckets (hash(gram) mod
    n_buckets) → weight lookup in a BROADCAST weight relation →
    mean-pooled linear score through a logistic link. This is the
    learned-filter shape modern pipelines run after the heuristic
    screens (Gopher/C4 rules elsewhere in this module): same
    tokenization, but the verdict comes from a model table, not
    hand-coded thresholds.

    Returns (doc_id, n_grams, quality_model_score, keep) for docs
    with >= 1 token. The KEEP DECISION is exact integer arithmetic:
    keep = (bias*n + sum w) >= 0 — equivalent to score >= 0.5 but
    immune to float rounding at the boundary, so both engines decide
    identically (the repo's exact-decision discipline); the reported
    score is one shared double formula
    sigmoid((bias + s/n) / 1000).

    Scale shape: tokenize + gram expansion are row-local array
    expressions (token array materialized ONCE before the bigram
    transform — interpreted HOF lambdas get no CSE); the weight join
    is a broadcast hash join (n_buckets rows); the per-doc aggregate
    is one map-side-combinable doc_id exchange of (bucket-hit, w)
    pairs. No UDFs, no driver state."""
    from pyspark.sql import functions as F

    from ..constants import DELIM_REGEX
    from .sketches import kmv_hash_expr

    if weights is None:
        weights = quality_model_weights(docs.sparkSession, n_buckets)
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), DELIM_REGEX),
        lambda t: t != F.lit(""),
    )
    base = docs.select("doc_id", toks.alias("__toks"))
    bigrams = F.when(
        F.size("__toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - 1),
            lambda i: F.concat(
                F.element_at(F.col("__toks"), i),
                F.lit("_"),
                F.element_at(F.col("__toks"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        "doc_id",
        F.explode(F.concat(F.col("__toks"), bigrams)).alias("gram"),
    )
    hit = grams.select(
        "doc_id",
        (kmv_hash_expr(F.col("gram")) % F.lit(int(n_buckets))).alias(
            "bucket"
        ),
    ).join(F.broadcast(weights), "bucket")
    per = hit.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum("w").cast("long").alias("__s"),
    )
    z = (
        F.lit(float(QM_BIAS_MILLI))
        + F.col("__s").cast("double") / F.col("n_grams").cast("double")
    ) / F.lit(1000.0)
    return per.select(
        "doc_id",
        "n_grams",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias(
            "quality_model_score"
        ),
        (
            F.lit(int(QM_BIAS_MILLI)) * F.col("n_grams") + F.col("__s")
            >= 0
        ).alias("keep"),
    )


def quality_model_weight_values(n_buckets: int = QM_BUCKETS) -> list:
    """The weight table as Python literals — the same md5-derived
    formula as quality_model_weights, computed driver-side so it can
    be embedded as a literal array expression (the broadcast-table-
    as-expression trick that makes the scorer row-local). Pinned
    equal to the relation form in tests."""
    import hashlib

    vals = []
    for b in range(int(n_buckets)):
        h = int(hashlib.md5(str(b).encode()).hexdigest()[:15], 16)
        vals.append(h % 1001 - 500)
    return vals


def quality_model_score_rowlocal(
    docs, n_buckets: int = QM_BUCKETS, text_col: str = "text"
):
    """quality_model_score as ONE row-local projection — zero
    shuffles: the hashed-bucket weight lookup becomes element_at over
    a literal n_buckets-int array and the mean-pool becomes an
    F.aggregate fold over the gram array, so the scorer is legal in
    APPEND-MODE STRUCTURED STREAMING (no per-doc aggregation state) —
    the stream_neardup rewrite discipline applied to the learned
    filter. Output is column-for-column and BIT-identical to the
    broadcast-join form (same integer sum, same shared double
    formula; pinned by test), so the streaming entry certifies
    against the same batch oracle.

    At 100 TB the join form remains the default for BIG weight
    tables; the literal-array form is the ingest-screen variant for
    models that fit a task binary (fastText quantized models do)."""
    from pyspark.sql import functions as F

    from ..constants import DELIM_REGEX

    w_arr = F.array(
        *[
            F.lit(int(v)).cast("long")
            for v in quality_model_weight_values(n_buckets)
        ]
    )
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), DELIM_REGEX),
        lambda t: t != F.lit(""),
    )
    base = docs.select("doc_id", toks.alias("__toks"))
    bigrams = F.when(
        F.size("__toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - 1),
            lambda i: F.concat(
                F.element_at(F.col("__toks"), i),
                F.lit("_"),
                F.element_at(F.col("__toks"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    from .sketches import kmv_hash_expr

    withg = base.select(
        "doc_id", F.concat(F.col("__toks"), bigrams).alias("__grams")
    ).filter(F.size("__grams") >= 1)
    wlist = F.transform(
        F.col("__grams"),
        lambda g: F.element_at(
            w_arr, (kmv_hash_expr(g) % F.lit(int(n_buckets))).cast("int") + F.lit(1)
        ),
    )
    per = withg.select(
        "doc_id",
        F.size("__grams").cast("long").alias("n_grams"),
        F.aggregate(
            wlist,
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("__s"),
    )
    from pyspark.sql import functions as _F

    z = (
        _F.lit(float(QM_BIAS_MILLI))
        + _F.col("__s").cast("double") / _F.col("n_grams").cast("double")
    ) / _F.lit(1000.0)
    return per.select(
        "doc_id",
        "n_grams",
        (_F.lit(1.0) / (_F.lit(1.0) + _F.exp(-z))).alias(
            "quality_model_score"
        ),
        (
            _F.lit(int(QM_BIAS_MILLI)) * _F.col("n_grams")
            + _F.col("__s")
            >= 0
        ).alias("keep"),
    )


def canonicalize_url(url: F.Column | str) -> F.Column:
    """Canonical form of a crawl URL — the normalization every
    CommonCrawl-style pipeline applies before exact URL dedup
    (scheme/host case, www., default ports, tracking params, query
    order, trailing slashes, fragments are all presentation noise):

      1. fragment dropped (everything from '#')
      2. scheme lowercased; host lowercased, 'www.' stripped,
         default port stripped (':443' for https, ':80' for http)
      3. path: trailing '/' runs stripped; empty path becomes '/'
      4. query: params split on '&', tracking params dropped
         (utm_* / fbclid* / gclid* prefixes), survivors sorted
         lexically and rejoined; empty query drops its '?'
      5. path and query VALUES keep their case — only scheme and
         host are case-insensitive per RFC 3986

    Pure Catalyst string/array expressions (split/instr/filter/
    array_sort) — zero exchanges, whole-stage codegen; the dedup
    that follows is one exact groupBy on the canonical string. A
    full WHATWG parser (percent-encoding normalization, IDN) is a
    library, not an expression — documented out of scope."""
    u = F.col(url) if isinstance(url, str) else url
    nofrag = F.split(u, "#")[0]
    # scheme/rest split on the FIRST '://' only — a second '://'
    # inside the query (redirect/callback params, ubiquitous in real
    # crawls) must survive; a split-array element_at would truncate
    # everything after it. No '://' anywhere -> NULL (malformed).
    sep = F.instr(nofrag, "://")
    scheme = F.when(
        sep > 0, F.lower(F.substring(nofrag, F.lit(1), sep - 1))
    )
    rest = F.when(sep > 0, F.substr(nofrag, sep + F.lit(3)))
    # the authority ends at the FIRST of '/' or '?' — a URL with a
    # query but no path ('https://e.com?a=1') must not absorb the
    # query into the host, and a '/' inside a query value
    # ('?u=http://x/p') is not a path boundary
    slash = F.instr(rest, "/")
    qmark = F.instr(rest, "?")
    cut = (
        F.when((slash > 0) & ((qmark == 0) | (slash < qmark)), slash)
        .when(qmark > 0, qmark)
        .otherwise(F.lit(0))
    )
    hostport = F.when(
        cut > 0, F.substring(rest, F.lit(1), cut - 1)
    ).otherwise(rest)
    tail = F.when(cut > 0, F.substr(rest, cut)).otherwise(F.lit(""))
    base_host = F.regexp_replace(F.lower(hostport), r"^www\.", "")
    # strip only the port that is the SCHEME's default — a
    # non-default port (http://h:443) is a different authority
    host = (
        F.when(
            scheme == "https", F.regexp_replace(base_host, ":443$", "")
        )
        .when(scheme == "http", F.regexp_replace(base_host, ":80$", ""))
        .otherwise(base_host)
    )
    # split path/query on the FIRST '?' only — a literal second '?'
    # inside the query is legal per RFC 3986 and must survive
    qpos = F.instr(tail, "?")
    path = F.when(
        qpos > 0, F.substring(tail, F.lit(1), qpos - 1)
    ).otherwise(tail)
    path = F.regexp_replace(path, "/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    q = F.when(qpos > 0, F.substr(tail, qpos + F.lit(1)))
    qs = F.filter(
        F.split(F.coalesce(q, F.lit("")), "&"),
        lambda x: (x != "")
        & ~x.startswith("utm_")
        & ~x.startswith("fbclid")
        & ~x.startswith("gclid"),
    )
    qjoin = F.array_join(F.array_sort(qs), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qjoin == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), qjoin)
        ),
    )


def dedup_url_groups(
    pages: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the canonical URL: groups of >= 2 pages whose
    URLs normalize identically. Returns (canon_url, n_dups,
    keep_id) — keep_id is the smallest member id (the deterministic
    survivor rule shared with dedup_exact). One exchange on the
    canonical string; the canonicalization itself is map-side.

    Malformed URLs (no '://', or NULL) canonicalize to NULL and are
    EXCLUDED before the groupBy — groupBy treats NULLs as equal, so
    without the filter every malformed URL corpus-wide would collapse
    into one NULL-keyed group and unrelated pages would be falsely
    marked duplicates of each other. Malformed rows simply never
    appear in the output (they are trivially unique)."""
    c = pages.select(
        F.col(id_col).alias("__id"),
        canonicalize_url(url_col).alias("canon_url"),
    ).filter(F.col("canon_url").isNotNull())
    return (
        c.groupBy("canon_url")
        .agg(
            F.count("*").cast("long").alias("n_dups"),
            F.min("__id").cast("long").alias("keep_id"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def robots_screen(
    pages: DataFrame,
    rules: DataFrame,
    id_col: str = "doc_id",
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Robots-exclusion admission screen — the crawl-frontier gate
    every fetch pipeline runs before touching a URL: `rules` is the
    parsed per-host rule table (host, rule_path, allow) and a page is
    admitted by the RFC 9309 longest-match rule — among the host's
    rules whose rule_path is a prefix of the page's path, the
    LONGEST rule_path decides; an allow rule wins a length tie; a
    page matching no rule is allowed. Returns (doc_id, host, path,
    allowed). (Rule-file PARSING is a line format, not a relation —
    out of scope; this operator is the decision semantics.)

    Scale shape: the rule table is config-sized (robots.txt lines
    per crawled host) — broadcast; the winner is ONE map-side-
    combinable max over a (match_len, allow) struct per page, so the
    whole screen is a broadcast join + one (doc_id) aggregate, no
    window, no skew surface. The struct max encodes the tie rule
    structurally: lexicographic (len DESC via max, allow 1 > 0), so
    both engines pick the same winner without a sort."""
    # Ill-formed rules (NULL rule_path or NULL allow) are dropped up
    # front: a NULL field inside the max-struct would order
    # engine-specifically, and a NULL-allow winner would otherwise
    # fall through coalesce to "allowed" — an unparseable line must
    # never silently admit a page it meant to block.
    rules = rules.filter(
        F.col("rule_path").isNotNull() & F.col("allow").isNotNull()
    )
    j = pages.select(
        F.col(id_col).alias("doc_id"),
        F.col(host_col).alias("host"),
        F.col(path_col).alias("path"),
    ).join(F.broadcast(rules), "host", "left")
    match = F.when(
        F.col("path").startswith(F.col("rule_path")),
        F.struct(
            F.length("rule_path").cast("int").alias("l"),
            F.col("allow").cast("int").alias("a"),
        ),
    )
    return (
        j.groupBy("doc_id", "host", "path")
        .agg(F.max(match).alias("__w"))
        .select(
            "doc_id",
            "host",
            "path",
            F.coalesce(F.col("__w.a") == 1, F.lit(True)).alias(
                "allowed"
            ),
        )
    )


# Fixture-deterministic stand-in for a real toxicity/safety lexicon
# (LDNOOBW-style public blocklists are word lists exactly like this;
# the operator is the lexicon-agnostic screen around one).
BLOCKLIST_TERMS = ("slow", "big", "merge", "hash")
BLOCKLIST_RATE_NUM = 1  # flag when n_blocked * DEN > n_tokens * NUM
BLOCKLIST_RATE_DEN = 10  # i.e. blocked-token rate > 10%


def blocklist_screen(
    docs: DataFrame,
    text_col: str = "text",
    terms: tuple = BLOCKLIST_TERMS,
    rate_num: int = BLOCKLIST_RATE_NUM,
    rate_den: int = BLOCKLIST_RATE_DEN,
) -> DataFrame:
    """Toxicity/safety wordlist screen — the blocklist gate every
    public curation pipeline runs (C4 ran the LDNOOBW list): count
    blocklist-term OCCURRENCES per document (multiset, not distinct
    — repetition is signal here) and flag documents whose blocked
    rate exceeds rate_num/rate_den. Returns (doc_id, n_tokens,
    n_blocked, flagged) for documents with >= 1 token.

    Scale shape: pure row-local array expressions — tokenize once,
    count membership against an expression-literal set (a few dozen
    terms; a real lexicon of ~10^3 is still an expression literal,
    never a join side). Zero exchanges, scan-speed. The flag decision
    is integer cross-multiplied (n_blocked * den > n_tokens * num),
    so engines cannot disagree at the threshold."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    base = docs.select("doc_id", toks.alias("__t"))
    blocked = F.size(
        F.filter(
            F.col("__t"),
            lambda t: t.isin(*[F.lit(x) for x in terms]),
        )
    )
    return (
        base.select(
            "doc_id",
            F.size("__t").cast("long").alias("n_tokens"),
            blocked.cast("long").alias("n_blocked"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "flagged",
            F.col("n_blocked") * F.lit(int(rate_den))
            > F.col("n_tokens") * F.lit(int(rate_num)),
        )
    )
