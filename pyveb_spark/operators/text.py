"""Text-analysis operators for LLM-data pipelines (north star, BASELINE.json).

All features are native Catalyst expressions (split/filter/aggregate HOFs,
regexp counts) — no Python in the hot path, so a 100 TB corpus scan stays
inside whole-stage codegen. Language-ID uses an n-gram/stopword marker
heuristic; real corpora would swap in a fastText-style model via a
``mapInPandas`` batch scorer (see ``pyveb_spark.operators.multimodal`` for
the batching pattern).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyveb_spark.operators.cache import cached_once

__all__ = [
    "tokenize",
    "regex_tokens",
    "text_stats",
    "quality_score",
    "language_id",
    "normalized_text",
    "doc_fingerprint",
    "t5_span_corrupt",
    "winnow_fingerprints",
    "winnow_pairs",
    "repetition_stats",
    "hashed_linear_score",
    "build_vocab",
    "encode_with_vocab",
    "distinctive_terms",
    "bpe_train",
    "bpe_apply",
    "gopher_quality_filter",
    "mlm_mask",
    "fim_transform",
    "preference_pairs",
]

# tiny built-in stopword marker sets per language for the heuristic lang-id;
# the corpus convention (FIXTURES.md documents table) is space-separated text
_LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "los"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "les", "et"),
    "zh": ("de5", "shi4", "le5", "he2"),
}

_EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokenize(text_col) -> Column:
    """Whitespace tokenizer (single-space corpus convention). For messier
    text use ``regex_tokens`` (BPE-style pre-tokenization)."""
    return F.split(text_col, " ")


_BPE_PRETOKEN_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"


def regex_tokens(text_col, pattern: str = _BPE_PRETOKEN_PATTERN) -> Column:
    """BPE-style pre-tokenizer: letter runs, digit runs, and punctuation
    runs as separate tokens (the shape GPT-2-family pre-tokenization
    produces before merges). ``regexp_extract_all`` keeps this a single
    codegen expression — the token-counting path for corpora where
    whitespace splitting undercounts (``"foo,bar"`` is 3 tokens here, 1
    there). ASCII character classes deliberately: they behave identically
    across Java regex (Spark) and RE2 (oracle engines)."""
    return F.regexp_extract_all(text_col, F.lit(pattern), 0)


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token/char statistics — the quality-feature base.

    Adds: n_tokens, n_unique_tokens, n_chars_text, sum_token_len,
    avg_token_len, unique_ratio, stopword_ratio.
    All ratios are single IEEE double divisions of exact integer counts
    (oracle-reproducible bit-for-bit).
    """
    toks = tokenize(F.col(text_col))
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
    )
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_EN_STOPWORDS)))
    return (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("n_unique_tokens", n_unique)
        .withColumn("n_chars_text", F.length(F.col(text_col)))
        .withColumn("sum_token_len", sum_len)
        .withColumn(
            "avg_token_len",
            F.col("sum_token_len").cast("double") / F.col("n_tokens"),
        )
        .withColumn(
            "unique_ratio",
            F.col("n_unique_tokens").cast("double") / F.col("n_tokens"),
        )
        .withColumn("n_stopwords", n_stop)
        .withColumn(
            "stopword_ratio",
            F.col("n_stopwords").cast("double") / F.col("n_tokens"),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0..1 quality score from length / repetition / stopword
    signals (the C4/Gopher-style filter family, here as a cheap linear
    blend). Thresholds are corpus knobs, not learned weights."""
    base = text_stats(df, text_col)
    len_score = F.least(F.col("n_tokens") / F.lit(50.0), F.lit(1.0))
    rep_score = F.col("unique_ratio")
    stop_score = F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
    return base.withColumn(
        "quality_score",
        (len_score * 0.4 + rep_score * 0.4 + stop_score * 0.2),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: count marker-stopword hits per language, pick
    the argmax (ties → 'und'). One pass, pure expressions; the per-language
    counts stay as columns for downstream routing."""
    toks = tokenize(F.col(text_col))
    out = df
    for lang, markers in _LANG_MARKERS.items():
        out = out.withColumn(
            f"__hits_{lang}", F.size(F.filter(toks, lambda t: t.isin(*markers)))
        )
    hit_structs = F.array(
        *[
            F.struct(F.col(f"__hits_{lang}").alias("hits"), F.lit(lang).alias("lang"))
            for lang in _LANG_MARKERS
        ]
    )
    best = F.reduce(
        hit_structs,
        F.struct(F.lit(-1).alias("hits"), F.lit("und").alias("lang")),
        lambda acc, x: F.when(x["hits"] > acc["hits"], x).otherwise(acc),
    )
    out = out.withColumn(
        "lang_pred",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")),
    )
    return out.drop(*[f"__hits_{lang}" for lang in _LANG_MARKERS])


def normalized_text(
    text_col: str = "text", prefix_tokens: int | None = None
) -> Column:
    """The whitespace-collapsed lowercase normal form the fingerprinting
    family keys on (optionally truncated to the first ``prefix_tokens``
    whitespace tokens). Exposed as a Column so operators that need the
    *string* itself — e.g. group-keyed splitting, where the md5 sampling
    uniform must hash the same renderable value in Spark and the oracle —
    share one definition with ``doc_fingerprint``'s xxhash."""
    normalized = F.trim(
        F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    )
    if prefix_tokens is not None:
        normalized = F.array_join(
            F.slice(F.split(normalized, " "), 1, prefix_tokens), " "
        )
    return normalized


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", prefix_tokens: int | None = None
) -> DataFrame:
    """Deterministic 64-bit content fingerprint (normalized text →
    xxhash64) ↔ the reference's dataclass content hashes
    (``dbt_client.py:45-58``). Exact-dup detection = groupBy fingerprint.

    ``prefix_tokens=N`` fingerprints only the first N whitespace tokens —
    the standard *prefix-blocking* variant (CCNet/RefinedWeb-style URL and
    boilerplate dedup): catches template/head duplicates that whole-doc
    hashing misses whenever tails diverge, at the same stateless
    scan-stage cost."""
    return df.withColumn(
        "fingerprint", F.xxhash64(normalized_text(text_col, prefix_tokens))
    )


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 1024,
    out_col: str = "clf_score",
) -> DataFrame:
    """fastText-shaped linear classifier scoring at corpus scale: every
    token hashes into one of ``n_buckets`` feature buckets (the hashing
    trick — no vocabulary table to ship), the document score is the mean
    bucket weight, squashed by a sigmoid. This is the scoring half of the
    quality-classifier stage every LLM data pipeline runs (the training
    half produces the weight vector offline).

    Weights here are a deterministic function of the bucket index
    (``(b*2654435761 mod 2^31) / 2^31 - 0.5``, a Knuth-hash ramp) rather
    than a learned array: the *shape* under test is score = mean over
    tokens of w[h(token)], which is what a real exported model plugs into
    — swap ``weight_of_bucket`` for an ``element_at(lit(weights), b+1)``
    lookup against a broadcast literal array. Everything (md5 bucketing,
    integer ramp, sigmoid) renders identically in ANSI SQL, so the whole
    scorer is oracle-checkable.

    Scale: stateless per-row expression over the token array — no
    shuffle, no UDF, no explode (the fold runs inside ``aggregate``).
    """
    toks = F.split(F.col(text_col), " ")
    bucket = lambda t: (  # noqa: E731 — tiny local expr builder
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.lit("clf"), t).cast("binary")
                ), 1, 12,
            ), 16, 10,
        ).cast("bigint") % F.lit(int(n_buckets))
    )
    weight = lambda b: (  # noqa: E731
        (b * F.lit(2654435761)) % F.lit(2147483648)
    ).cast("double") / F.lit(2147483648.0) - F.lit(0.5)
    total = F.aggregate(
        toks, F.lit(0.0), lambda acc, t: acc + weight(bucket(t))
    )
    mean = total / F.greatest(F.size(toks), F.lit(1))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-mean * F.lit(8.0)))
    return df.withColumn(out_col, F.round(score, 4))


def _word_ngrams(toks: Column, n: int, m: Column) -> Column:
    """Array of space-joined word ``n``-grams from a token array, built
    row-wise with ``zip_with`` over shifted slices (``m`` = gram count,
    precomputed as ``greatest(size - n + 1, 0)``). One pure expression, no
    explode: the per-row cost is O(tokens · n) string concats."""
    acc = F.slice(toks, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, 1 + j, m), lambda x, y: F.concat_ws(" ", x, y)
        )
    return acc


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    out_col: str = "fingerprints",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    MOSS algorithm; public literature): rolling word k-gram hashes, then
    the minimum hash of every sliding window of ``w`` consecutive grams.
    Guarantees any shared run of ≥ k+w-1 tokens between two docs yields a
    shared fingerprint, while storing only ~2/(w+1) of the gram hashes —
    the local-similarity detector that whole-document hashing
    (``doc_fingerprint``) and set-similarity (``ngram_jaccard_pairs``)
    both miss (copied *passages*, not copied *documents*).

    One pure-expression pass per row (no explode, no shuffle); matching is
    then a fingerprint equi-join on the exploded output — see q80_winnow_pairs. Hashes
    are 48-bit md5-hex prefixes so oracle SQL reproduces them verbatim
    (see ``operators/sampling.py`` for the md5-portability rationale).
    Docs shorter than k tokens get an empty fingerprint set; docs with
    fewer than w grams contribute their single overall min (the standard
    boundary convention).
    """
    toks = tokenize(F.col(text_col))
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    gram_hashes = F.transform(
        _word_ngrams(toks, k, m),
        lambda g: F.substring(F.md5(g.cast("binary")), 1, 12),
    )
    # two projections, not one nested expression: referencing the hash
    # array through a materialized column binds it once per row; inlining
    # it into the sliding-min lambda re-evaluates the whole gram+md5
    # subtree per window (no CSE across lambda scopes) — O(n²) md5s,
    # measured 4× slower even on 54-token docs.
    hashes = F.col("__winnow_hashes")
    n_windows = F.greatest(
        F.size(hashes) - (w - 1), F.least(F.size(hashes), F.lit(1))
    )
    mins = F.transform(
        F.when(n_windows > 0, F.sequence(F.lit(1), n_windows)).otherwise(
            F.array().cast("array<int>")
        ),
        lambda j: F.array_min(F.slice(hashes, j, w)),
    )
    return (
        df.withColumn("__winnow_hashes", gram_hashes)
        .withColumn(out_col, F.array_sort(F.array_distinct(mins)))
        .drop("__winnow_hashes")
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Shared-passage document pairs: explode ``winnow_fingerprints`` into a
    postings table and self-join on the fingerprint, counting how many
    fingerprints each pair shares. Returns ``(<id>_a, <id>_b, n_shared)``
    with ``a < b``.

    Scale shape: one shuffle keyed on the 48-bit fingerprint; per-key
    fan-out is quadratic in a fingerprint's document frequency, but
    winnowing keeps only ~2/(w+1) of gram hashes and natural-language
    k-grams are near-unique, so postings stay sparse (hot keys would be
    boilerplate passages — cap df with a frequency filter if observed).
    The fingerprint table is persisted *before* the explode, for two
    compounding reasons. (1) The self-join consumes the postings twice and
    Spark does not reuse the exchange across differently-aliased sides —
    without a cache the whole tokenize→gram→hash→winnow pipeline runs
    twice. (2) Exploding the raw expression is pathological: Catalyst
    collapses the projection that materializes the gram-hash array into
    the Generate input, re-inlining the md5 subtree into the sliding-min
    lambda — O(n·w) md5 tree evaluations per doc (measured 17× slower at
    sf0.1). Caching the array column freezes the safe two-projection plan;
    the explode then reads arrays from the InMemoryRelation. Cached rows
    are (id, ~2·n/(w+1) 12-char strings) ≈ the size of the text itself,
    and MEMORY_AND_DISK spills rather than OOMs on a real cluster.
    """
    # The gram+md5+winnow expression is compute-bound and (as a
    # higher-order-function tree) runs interpreted, so spread rows across
    # all cores before evaluating it: a columnar text scan often yields
    # far fewer splits than cores (one file here; 128 MB text splits with
    # minutes of per-partition CPU at 100 TB). A round-robin shuffle of
    # the narrow (id, text) projection is cheap relative to the compute.
    narrow = df.select(id_col, text_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    fp = cached_once(
        winnow_fingerprints(narrow, id_col, text_col, k, w),
        "text.winnow_pairs.fingerprints",
    )
    ex = fp.select(id_col, F.explode("fingerprints").alias("__f"))
    a_id, b_id = f"{id_col}_a", f"{id_col}_b"
    a = ex.select(F.col(id_col).alias(a_id), "__f")
    b = ex.select(F.col(id_col).alias(b_id), "__f")
    return (
        a.join(b, "__f")
        .where(F.col(a_id) < F.col(b_id))
        .groupBy(a_id, b_id)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Intra-document repetition metrics (the Gopher/MassiveText repetition
    filters, Rae et al. 2021 §A1.1 — public literature): per document, the
    word ``n``-gram count, distinct-gram count, duplicate-gram fraction
    ``1 − distinct/total``, and the share of the single most frequent gram.
    High values flag boilerplate/spam pages that inter-document dedup
    (q17/q28/q80) cannot catch because the repetition is *inside* one doc.

    Shuffle-based rather than per-row HOF aggregation deliberately: a mode
    (most-frequent element) computed inside an array lambda is O(tokens²)
    per row, which dies on book-length documents; explode → two-level
    groupBy is O(tokens) per row and scales with the cluster. Both
    aggregations hash-partition on (or by prefix of) ``id_col``, so at
    100 TB this is one shuffle of the gram stream plus a map-side-combined
    per-doc rollup. Docs with fewer than ``n`` tokens produce no grams and
    are absent from the output (explode drops them — mirrors SQL UNNEST).

    ``top_ngram`` tie-breaks deterministically to the lexicographically
    greatest gram among the most frequent (max over a (count, gram)
    struct), so results are stable across partitionings and engines.
    """
    toks = tokenize(F.col(text_col))
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = df.select(
        id_col, F.explode(_word_ngrams(toks, n, m)).alias("__g")
    )
    per_gram = grams.groupBy(id_col, "__g").agg(
        F.count(F.lit(1)).alias("__c")
    )
    top = F.max(
        F.struct(F.col("__c").alias("c"), F.col("__g").alias("g"))
    ).alias("__top")
    return (
        per_gram.groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_ngrams"),
            F.count(F.lit(1)).alias("n_distinct"),
            top,
        )
        .select(
            id_col,
            "n_ngrams",
            "n_distinct",
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_ngrams"), 4
            ).alias("dup_ngram_frac"),
            F.round(F.col("__top.c") / F.col("n_ngrams"), 4).alias(
                "top_ngram_frac"
            ),
            F.col("__top.g").alias("top_ngram"),
        )
    )


def bpe_merge_candidates(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """First-iteration BPE merge statistics: corpus-wide counts of adjacent
    CHARACTER pairs within whitespace tokens, ranked by frequency — the
    quantity byte-pair-encoding greedily merges on (Sennrich et al. 2016,
    the public subword-vocabulary recipe). Returns the ``top_k`` pairs as
    ``(pair, n)`` with a total deterministic order (count desc, pair asc),
    so the cut is engine-portable even under count ties.

    100 TB design: pair extraction is a scan-stage nested HOF (per token,
    zip the character array against its tail); the explode feeds straight
    into a partial-aggregated groupBy on a key whose cardinality is
    ~|alphabet|² — the shuffle carries ONLY (pair, partial count) rows, so
    cost is one corpus scan regardless of size. Top-k is a driver-side
    LIMIT over the tiny aggregate."""
    toks = F.split(F.col(text_col), " ")
    pair_lists = F.flatten(
        F.transform(
            toks,
            lambda t: F.zip_with(
                F.split(t, ""),
                F.slice(F.split(t, ""), 2, F.greatest(F.length(t) - 1, F.lit(0))),
                lambda a, b: F.concat(a, b),
            ),
        )
    )
    pairs = df.select(
        F.explode(F.filter(pair_lists, lambda p: F.length(p) == 2)).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(top_k)
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (Sennrich et al. 2016): run the
    full greedy merge loop, not just the first-iteration statistics
    (``bpe_merge_candidates``). Returns the learned merge table
    ``(merge_rank, left_sym, right_sym, merged, pair_count)`` — the
    artifact a tokenizer ships.

    Exactly the reference algorithm on (word, frequency) pairs: the
    corpus is scanned ONCE into a distinct-word frequency table (the
    classical trick — pair counts only depend on word shapes ×
    frequencies), each word's symbol sequence is kept as a
    double-space-joined string (`` a  b  c ``), and one merge round is
    (1) a pair-count aggregation over the zipped symbol arrays, (2) a
    1-row argmax collect (count desc, pair asc — the deterministic
    tie-break that makes training engine-replayable), (3) a literal
    ``replace(' l  r ', ' lr ')`` over the sequence strings. Literal
    leftmost non-overlapping replace IS greedy BPE application, and both
    Spark and DuckDB implement exactly that semantics, so the oracle
    can replay training as ``num_merges`` unrolled CTE blocks.

    100 TB design: cost is one corpus tokenization scan + ``num_merges``
    rounds over the DISTINCT-WORD table (vocabulary-sized, cached — at
    web scale ~10⁷ rows regardless of corpus bytes). Each round shuffles
    only (pair, partial count) rows with |alphabet|²-bounded keys and
    collects exactly one row. The O(corpus) work never repeats.
    """
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    spark = df.sparkSession
    words = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chars = F.regexp_extract_all(F.col("word"), F.lit("."), 0)
    cur = words.select(
        "word",
        "freq",
        F.concat(
            F.lit(" "), F.array_join(chars, "  "), F.lit(" ")
        ).alias("seq"),
    )
    # each round's frame feeds BOTH that round's argmax and the next
    # round's rewrite — persist the chain, release it all at the end
    persisted = []
    cur = cur.persist()
    persisted.append(cur)
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for rank in range(num_merges):
            syms = F.split(F.trim(F.col("seq")), "\\s+")
            pair_arr = F.zip_with(
                syms,
                F.slice(
                    syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))
                ),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
            top = (
                cur.select(
                    "freq", F.explode(pair_arr).alias("pair")
                )
                .where(F.col("pair").isNotNull())
                .groupBy("pair")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.col("n").desc(), F.col("pair").asc())
                .limit(1)
                .collect()
            )
            if not top:
                break
            pair, n = top[0]["pair"], int(top[0]["n"])
            left, right = pair.split(" ", 1)
            merged = left + right
            merges.append((rank, left, right, merged, n))
            replaced = F.replace(
                F.col("seq"),
                F.lit(f" {left}  {right} "),
                F.lit(f" {merged} "),
            )
            canon = F.concat(
                F.lit(" "),
                F.array_join(F.split(F.trim(replaced), "\\s+"), "  "),
                F.lit(" "),
            )
            cur = cur.select("word", "freq", canon.alias("seq")).persist()
            persisted.append(cur)
    finally:
        for p in persisted:
            p.unpersist()
    from pyveb_spark.session import local_df

    return local_df(
        spark,
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


def bpe_apply(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned BPE merge list (``bpe_train`` output order) to
    tokenize ``text_col`` — the serving half of the tokenizer: merges are
    baked into the plan as literal replace chains, so encoding a corpus
    is a STATELESS scan-stage expression (codegen, no UDF, no join
    against a vocab table). Adds ``out_col`` = the subword token array
    per document.

    Each word becomes the canonical double-space symbol string; each
    merge is one literal leftmost ``replace`` followed by
    re-normalization (split + re-join) so the next merge's pattern sees
    canonical boundaries — identical semantics to training's rewrite
    step, hence train→apply round-trips. Expression depth grows with
    ``len(merges)``: fine for the tens-of-merges demo grain; production
    vocab sizes (~50k merges) would compile the SAME merge table into a
    linear-scan Arrow kernel (``mapInPandas``) instead — the plan shape
    (broadcast-free scan) is unchanged."""

    def encode_word(w):
        s = F.concat(
            F.lit(" "),
            F.array_join(F.regexp_extract_all(w, F.lit("."), 0), "  "),
            F.lit(" "),
        )
        for left, right in merges:
            s = F.replace(
                s,
                F.lit(f" {left}  {right} "),
                F.lit(f" {left}{right} "),
            )
            s = F.concat(
                F.lit(" "),
                F.array_join(F.split(F.trim(s), "\\s+"), "  "),
                F.lit(" "),
            )
        return F.split(F.trim(s), "\\s+")

    words = F.filter(
        F.split(F.col(text_col), " "), lambda w: w != ""
    )
    return df.withColumn(
        out_col, F.flatten(F.transform(words, encode_word))
    )


def ngram_count_table(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    min_count: int = 1,
    widen: bool = True,
) -> DataFrame:
    """Corpus n-gram count table ``(gram, n_occurrences)`` with a prune
    threshold — the backbone of count-based LM quality filters (the CCNet
    recipe scores documents against exactly such tables). Gram extraction
    is a scan-stage HOF (no explode until the counting groupBy, which
    partial-aggregates map-side); pruning keeps the table broadcastable
    for downstream scoring joins.

    ``widen`` (default True) floors the scan parallelism for CORPUS-sized
    training inputs (guide §2.5 — the q102 3× win). Callers training on a
    reference SUBSET should pass ``widen=False``: repartitioning a
    subset-sized table costs more than the count aggregation it feeds
    (measured r12: q175 ×0.73 with the widen on, 8 cores beating 32)."""
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = F.split(F.col(text_col), " ")
    if n == 1:
        grams = toks
    else:
        m = F.size(toks) - (n - 1)
        # guard m < 1: sequence(1, 0) would generate DESCENDING [1, 0]
        grams = F.when(
            m >= 1,
            F.transform(
                F.sequence(F.lit(1), m),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    if widen:
        from pyveb_spark.operators.layout import widen_scan

        df = widen_scan(df)
    out = (
        df.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    if min_count > 1:
        out = out.where(F.col("n_occurrences") >= min_count)
    return out


def bigram_lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.1,
    min_count: int = 2,
    bigram_counts: DataFrame | None = None,
    unigram_counts: DataFrame | None = None,
) -> DataFrame:
    """Per-document bigram language-model quality score — the CCNet-style
    count-LM filter: ``avg_logp = (1/k) Σ ln P(wᵢ | wᵢ₋₁)`` with
    add-``alpha`` smoothing ``P = (c₂ + α) / (c₁ + α·V)`` over corpus (or
    supplied) count tables; higher = more fluent under the corpus LM,
    low-scoring docs are the filter's drop set. Returns
    ``(<id>, n_bigrams, avg_logp)``.

    Engine-portable BIT-EXACTLY: each ln term is computed from identical
    operands, and the per-doc sum is an ORDERED left-to-right fold over
    the position-sorted term array (``F.aggregate`` ↔ DuckDB
    ``list_reduce``) — no aggregation-order nondeterminism — followed by
    one final double division.

    100 TB design: scoring is two joins on gram keys (the pruned bigram
    table broadcasts when ``min_count`` bites; the unigram table is
    vocabulary-sized) plus one groupBy per doc whose state is the doc's
    own term list. Train tables once, persist, reuse per batch."""
    toks = F.split(F.col(text_col), " ")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    c2 = (
        bigram_counts
        if bigram_counts is not None
        else ngram_count_table(docs, text_col, n=2, min_count=min_count)
    ).select(F.col("gram"), F.col("n_occurrences").alias("__c2"))
    c1 = (
        unigram_counts
        if unigram_counts is not None
        else ngram_count_table(docs, text_col, n=1)
    ).select(F.col("gram").alias("__w"), F.col("n_occurrences").alias("__c1"))
    vocab = c1.agg(F.count(F.lit(1)).alias("__v"))

    terms = (
        docs.select(F.col(id_col), F.posexplode(bigrams).alias("__pos", "gram"))
        .withColumn("__w", F.split(F.col("gram"), " ")[0])
        .join(c2, "gram", "left")
        .join(c1, "__w", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "__lnp",
            # LEFT join + coalesce(0): identical to the old inner join
            # whenever the tables are trained on the scored corpus (every
            # unigram present), and correct for REFERENCE-trained tables
            # (CCNet shape, q175) where scored docs carry OOV unigrams —
            # those back off to P = α / (α·V).
            F.log(
                (F.coalesce(F.col("__c2"), F.lit(0)) + F.lit(float(alpha)))
                / (
                    F.coalesce(F.col("__c1"), F.lit(0))
                    + F.lit(float(alpha)) * F.col("__v")
                )
            ),
        )
    )
    folded = (
        terms.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.aggregate(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("__pos", "__lnp"))
                    ),
                    lambda s: s["__lnp"],
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("__sum"),
        )
        .withColumn("avg_logp", F.col("__sum") / F.col("n_bigrams"))
        .drop("__sum")
    )
    return folded


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the RAG /
    context-window ingestion primitive: one row per chunk with
    ``(chunk_no, tok_start, n_tokens, chunk_text)``, stride =
    ``chunk_tokens - overlap``. The final chunk is the remainder (shorter
    than ``chunk_tokens``) unless a full-size chunk already covers the
    tail exactly; empty docs yield no chunks.

    100 TB design: chunk boundaries are a scan-stage ``sequence`` over
    token offsets and each chunk is a ``slice`` of the token array — no
    shuffle at all until whatever consumes the chunks aggregates them.
    Output rows ≈ corpus tokens / stride; pick stride ≥ chunk/2 to bound
    the duplication factor at 2×."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    # split("", " ") yields [""] (size 1) — treat empty text as 0 tokens
    n = F.when(F.length(F.col(text_col)) == 0, F.lit(0)).otherwise(
        F.size(toks)
    )
    # starts: 1, 1+stride, ... while start <= max(n - overlap, 1) — the
    # last window begins before the un-covered tail, remainder included
    n_chunks = F.when(
        n <= 0, F.lit(0)
    ).otherwise(
        F.floor((F.greatest(n - F.lit(overlap + 1), F.lit(0)))
                / F.lit(stride)).cast("int") + 1
    )
    starts = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: i * stride + 1,
        ),
    ).otherwise(F.array().cast("array<int>"))
    exploded = df.select(
        F.col(id_col),
        n.alias("__n"),
        F.posexplode(starts).alias("chunk_no", "tok_start"),
        toks.alias("__t"),
    )
    chunk = F.slice(
        F.col("__t"), F.col("tok_start"),
        F.least(F.lit(chunk_tokens), F.col("__n") - F.col("tok_start") + 1),
    )
    return exploded.select(
        F.col(id_col),
        "chunk_no",
        "tok_start",
        F.size(chunk).alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def build_vocab(
    df: DataFrame,
    vocab_size: int,
    text_col: str = "text",
) -> DataFrame:
    """Frequency vocabulary: the top ``vocab_size`` tokens by
    (count DESC, token ASC) — a total order, so ids are deterministic —
    with ``token_id`` 0-based in that order. The ID-assignment step every
    tokenizer pipeline ends with (after BPE merges, q99, pick the vocab;
    this operator is the unigram baseline and the serving-side table).

    Scale shape: one explode + one partial-aggregated groupBy over the
    corpus, then rank/limit on the TOKEN DICTIONARY (vocabulary-sized,
    not corpus-sized). The final row_number runs on ≤ vocab_size rows.
    """
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(vocab_size)
    w = Window.partitionBy().orderBy(F.desc("n"), F.asc("token"))
    return top.select(
        "token", "n", (F.row_number().over(w) - 1).alias("token_id")
    )


def encode_with_vocab(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = -1,
) -> DataFrame:
    """Encode each document's token sequence to id arrays against a
    ``build_vocab`` table: ``(id_col, ids, n_tokens, oov_rate)`` where
    out-of-vocabulary tokens map to ``unk_id``. The corpus→tensors step
    of a training-data pipeline; OOV rate is its standing quality metric
    (a rising OOV rate means the vocab no longer fits the corpus mix).

    Scale shape: posexplode to (doc, pos, token), ONE token-keyed join
    against the vocabulary (broadcast-hinted under the configured vocab
    cap — ``joins.broadcast_if_bounded``), and one groupBy
    back to arrays via ``array_sort`` on (pos, id) structs — order is
    restored by data, not by assuming shuffle stability. No Python UDFs;
    the id arrays never pass through the driver.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "token"),
    )
    from pyveb_spark.operators.joins import broadcast_if_bounded

    enc = toks.join(broadcast_if_bounded(vocab.select("token", "token_id")),
                    "token", "left").select(
        id_col,
        "pos",
        F.coalesce(F.col("token_id"), F.lit(unk_id)).alias("tid"),
    )
    return (
        enc.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                lambda x: x["tid"],
            ).alias("ids"),
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.sum(F.when(F.col("tid") == unk_id, 1).otherwise(0))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )


def distinctive_terms(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    top_k: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """The characteristic vocabulary of each document group: top-k tokens
    per group by group-level TF-IDF — ``score = tf_g · ln(G / gf)`` where
    ``tf_g`` is the token's count inside the group, ``G`` the number of
    groups, and ``gf`` the number of groups containing the token. Tokens
    appearing in EVERY group score exactly 0 (ln 1) and drop out, so the
    output is what makes each source/language/domain DIFFERENT — the
    corpus-triage view (which source is code? which is boilerplate?)
    every mixing decision starts from. Returns
    ``(group, token, tf_g, gf, score)``, ``top_k`` rows per group by
    (score DESC, token).

    Scale shape: one explode + one (group, token) partial-aggregated
    groupBy; group-frequency and G are aggregations of THAT table (token-
    dictionary-sized). The ranking window partitions by group over
    dictionary rows. One corpus scan total; the score is one int
    multiply and one ln — margins are rank-gaps on the top-k cut, probed
    like every rounded ranking.
    """
    from pyspark.sql import Window

    tf = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokenize(F.col(text_col))).alias("token"),
        )
        .groupBy("grp", "token")
        .agg(F.count(F.lit(1)).alias("tf_g"))
        .where(F.col("tf_g") >= min_count)
    )
    gf = tf.groupBy("token").agg(F.count(F.lit(1)).alias("gf"))
    n_groups = tf.select("grp").distinct().agg(
        F.count(F.lit(1)).alias("__g")
    )
    scored = (
        tf.join(gf, "token")
        .crossJoin(F.broadcast(n_groups))
        .select(
            "grp",
            "token",
            "tf_g",
            "gf",
            F.round(
                F.col("tf_g")
                * F.log(F.col("__g").cast("double") / F.col("gf")),
                6,
            ).alias("score"),
        )
        .where(F.col("score") > 0)
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= top_k)
        .drop("__rk")
    )


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stopwords: int = 2,
) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021 §A1.1, the
    published heuristic battery most LLM corpora start from), as native
    scan-stage expressions: word-count bounds, mean-word-length band,
    fraction of words containing an alphabetic character, and a minimum
    stopword count (the "the/of/and" signal that screens gibberish and
    boilerplate). Adds the per-rule booleans plus the conjunctive
    ``keep`` — keep the columns, not just the verdict, so downstream
    audits can ask WHICH rule rejected a document.

    100 TB design: stateless per-row expressions inside whole-stage
    codegen — no shuffle, no UDF, no vocabulary join; composes with the
    q94 admission pipeline as one more filter stage."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    n_words = F.size(toks)
    total_len = F.aggregate(
        toks, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_len = total_len.cast("double") / n_words
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = n_alpha.cast("double") / n_words
    stop_arr = F.array(*[F.lit(s) for s in _EN_STOPWORDS])
    n_stop = F.size(
        F.filter(toks, lambda w: F.array_contains(stop_arr, F.lower(w)))
    )
    r_words = (n_words >= min_words) & (n_words <= max_words)
    r_len = (mean_len >= min_mean_word_len) & (
        mean_len <= max_mean_word_len
    )
    r_alpha = alpha_frac >= min_alpha_frac
    r_stop = n_stop >= min_stopwords
    return (
        df.withColumn("n_words", n_words.cast("bigint"))
        .withColumn("mean_word_len", F.round(mean_len, 4))
        .withColumn("alpha_frac", F.round(alpha_frac, 4))
        .withColumn("n_stopwords", n_stop.cast("bigint"))
        .withColumn("rule_word_count", r_words)
        .withColumn("rule_word_len", r_len)
        .withColumn("rule_alpha", r_alpha)
        .withColumn("rule_stopwords", r_stop)
        .withColumn("keep", r_words & r_len & r_alpha & r_stop)
    )


def mlm_mask(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_pct: int = 15,
    sentinel: str = "<mask>",
) -> DataFrame:
    """Deterministic masked-LM example construction: mask ``rate_pct``%
    of whitespace tokens, chosen by the portable md5 hash of
    ``(doc_id, position)`` — so the "random" mask is reproducible across
    engines, runs, and retries (the property that makes training-data
    builds idempotent; seeded RNGs are NOT stable across partitionings).
    Adds ``masked_text`` and ``n_masked``.

    100 TB design: a single index-aware ``transform`` over the token
    array — per-row, scan-stage, codegen; no explode, no shuffle, no
    re-join to restore token order. Position indices are 0-based."""
    from pyveb_spark.operators.dedup import portable_hash48

    toks = F.split(F.col(text_col), " ")
    masked = F.transform(
        toks,
        lambda t, i: F.when(
            portable_hash48(
                F.concat(
                    F.col(id_col).cast("string"), F.lit("|"),
                    i.cast("string"),
                )
            )
            % 100
            < F.lit(int(rate_pct)),
            F.lit(sentinel),
        ).otherwise(t),
    )
    return df.withColumn(
        "masked_text", F.array_join(masked, " ")
    ).withColumn(
        "n_masked",
        F.size(F.filter(masked, lambda t: t == sentinel)).cast("bigint"),
    )


def c4_line_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 5,
    require_terminal_punct: bool = False,
    blocklist: Sequence[str] = ("javascript", "lorem ipsum", "cookie"),
    drop_brace_lines: bool = True,
) -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020 §2.2, the public
    recipe behind the C4 corpus): split each document on newlines and
    keep only lines that (a) have ≥ ``min_words`` words, (b) end in
    terminal punctuation when ``require_terminal_punct``, (c) contain no
    blocklisted phrase (case-insensitive), and (d) carry no curly brace
    when ``drop_brace_lines`` (the "looks like code/JSON" heuristic).
    Returns ``(<id>, text_clean, n_lines, n_kept, n_dropped_short,
    n_dropped_punct, n_dropped_blocklist, n_dropped_brace)`` — the
    per-rule audit counts quality dashboards need, attributing each
    dropped line to the FIRST rule that rejected it (rule order is the
    documented C4 order).

    100 TB design: pure per-row higher-order expressions — zero
    shuffles, zero Python; the whole cleaning pass rides the scan stage
    and composes with the admission pipeline's other per-row gates
    (Gopher rules, MLM masking) into one codegen stage.
    """
    lines = F.split(F.col(text_col), "\n")
    n_words = lambda l: F.size(F.split(F.trim(l), " +"))  # noqa: E731
    is_short = lambda l: n_words(l) < F.lit(int(min_words))  # noqa: E731
    bad_punct = (
        (lambda l: ~l.rlike("[.!?\"']$"))
        if require_terminal_punct
        else (lambda l: F.lit(False))
    )
    blk = [b.lower() for b in blocklist]
    hits_block = lambda l: F.arrays_overlap(  # noqa: E731
        F.array(*[F.lit(b) for b in blk]),
        F.filter(
            F.array(*[F.lit(b) for b in blk]),
            lambda b: F.contains(F.lower(l), b),
        ),
    ) if blk else F.lit(False)
    has_brace = (
        (lambda l: l.contains("{") | l.contains("}"))
        if drop_brace_lines
        else (lambda l: F.lit(False))
    )
    keep = lambda l: (  # noqa: E731
        ~is_short(l) & ~bad_punct(l) & ~hits_block(l) & ~has_brace(l)
    )

    def count_where(pred):
        return F.size(F.filter(lines, pred))

    kept = F.filter(lines, keep)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text_clean"),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        count_where(is_short).alias("n_dropped_short"),
        count_where(lambda l: ~is_short(l) & bad_punct(l)).alias(
            "n_dropped_punct"
        ),
        count_where(
            lambda l: ~is_short(l) & ~bad_punct(l) & hits_block(l)
        ).alias("n_dropped_blocklist"),
        count_where(
            lambda l: ~is_short(l)
            & ~bad_punct(l)
            & ~hits_block(l)
            & has_brace(l)
        ).alias("n_dropped_brace"),
    )


def token_kl_divergence(
    df: DataFrame,
    group_col: str,
    text_col: str,
    alpha: float = 1.0,
) -> DataFrame:
    """Token-distribution drift per corpus partition: the KL divergence
    ``KL(P_group || P_corpus)`` between each group's add-``alpha``
    smoothed unigram distribution and the whole corpus's, over the
    corpus vocabulary — the standard distribution-shift monitor for
    multi-source training mixes (a new crawl snapshot whose KL jumps is
    the first sign its content changed). Returns
    ``(group, n_tokens, n_vocab_hit, kl_divergence)`` with KL in nats,
    rounded to 4 decimals (float-accumulated — the module contract).

    100 TB design: one shuffle builds (group, token) counts with
    map-side partials; corpus totals re-aggregate FROM those partials
    (never re-scanning text); the per-group sum over the corpus vocab
    works on the grouped table — every join is keyed on the token and
    the vocab-sized frames are the only intermediates. Smoothing over
    missing (group, token) cells is computed in closed form
    (``absent·alpha/denominator`` terms) instead of materializing the
    group×vocab cross join.
    """
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    gt = toks.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("c_gt"))
    corpus = gt.groupBy("tok").agg(F.sum("c_gt").alias("c_t"))
    totals = gt.groupBy("grp").agg(F.sum("c_gt").alias("n_g"))
    n_total_row = corpus.agg(
        F.sum("c_t").alias("n_all"), F.count(F.lit(1)).alias("v")
    ).first()
    n_all, v = float(n_total_row["n_all"]), int(n_total_row["v"])
    a = float(alpha)
    # vocab-sized side: hint gated on the configured cap — v is already a
    # driver constant here, so the gate is exact and free (joins.py
    # docstring has the web-scale rationale + the hapax-floor trick)
    from pyveb_spark.operators.joins import broadcast_if_bounded

    # present terms: p_g log(p_g / p_c) with both smoothed over corpus vocab
    present = (
        gt.join(broadcast_if_bounded(corpus, n_rows=v), "tok")
        .join(F.broadcast(totals), "grp")
        .withColumn("p_g", (F.col("c_gt") + a) / (F.col("n_g") + a * v))
        .withColumn("p_c", (F.col("c_t") + a) / (F.lit(n_all + a * v)))
        .groupBy("grp")
        .agg(
            F.sum(F.col("p_g") * F.log(F.col("p_g") / F.col("p_c"))).alias(
                "kl_present"
            ),
            F.count(F.lit(1)).alias("n_vocab_hit"),
            # absent-cell correction needs Σ log p_c over the group's
            # PRESENT tokens (the closed form subtracts it from the
            # vocab-wide Σ log p_c, computed once below)
            F.sum(F.log(F.col("p_c"))).alias("sum_log_pc_present"),
        )
    )
    sum_log_pc_all = (
        corpus.select(
            F.sum(
                F.log((F.col("c_t") + a) / F.lit(n_all + a * v))
            ).alias("s")
        ).first()["s"]
    )
    # each absent token contributes p0·log(p0/p_c) where p0 = a/(n_g+aV):
    # Σ_absent = p0·(n_absent·log p0 − Σ_absent log p_c)
    p0 = F.lit(a) / (F.col("n_g") + a * v)
    n_absent = F.lit(v) - F.col("n_vocab_hit")
    return (
        present.join(F.broadcast(totals), "grp")
        .withColumn(
            "kl_absent",
            p0
            * (
                n_absent * F.log(p0)
                - (F.lit(float(sum_log_pc_all)) - F.col("sum_log_pc_present"))
            ),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("n_g").alias("n_tokens"),
            "n_vocab_hit",
            F.round(F.col("kl_present") + F.col("kl_absent"), 4).alias(
                "kl_divergence"
            ),
        )
    )


def source_diversity(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Lexical-diversity monitor per corpus partition: type-token ratio
    (distinct/total unigrams — the classic templated-content detector:
    spun/boilerplate sources score low) and bigram Shannon entropy in
    nats (low entropy = repetitive phrasing even when the vocabulary is
    wide; the corpus-level counterpart of the per-doc q81 repetition
    stats). Returns ``(group, n_tokens, n_types, type_token_ratio,
    bigram_entropy)``, floats rounded to 4 (module contract).

    100 TB design: two aggregations, each keyed on (group, gram) with
    map-side partials, re-aggregated per group — never a per-group
    collect. The entropy uses the identity −Σ(c/N)·ln(c/N) =
    ln(N) − Σ c·ln(c)/N so the per-group pass needs only Σc·ln(c) and N
    (single-pass mergeable partials, the sketch discipline).
    """
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.split(F.col(text_col), " ").alias("__t"),
    )
    uni = (
        toks.select("grp", F.explode("__t").alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("grp")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
        )
    )
    t = F.col("__t")
    # index the VALID positions only — element_at past the end throws
    # under ANSI semantics, even inside a later-filtered transform
    bi_expr = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(t, i), F.element_at(t, i + F.lit(1))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = (
        toks.select("grp", F.explode(bi_expr).alias("bg"))
        .groupBy("grp", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("grp")
        .agg(
            F.sum("c").alias("nb"),
            F.sum(F.col("c") * F.log(F.col("c"))).alias("clogc"),
        )
        .select(
            "grp",
            F.round(
                F.log(F.col("nb")) - F.col("clogc") / F.col("nb"), 4
            ).alias("bigram_entropy"),
        )
    )
    return (
        uni.join(bi, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_types",
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens"), 4
            ).alias("type_token_ratio"),
            "bigram_entropy",
        )
    )


def dsir_importance_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023, DSIR —
    public literature): score every raw-corpus document by its unigram
    log-likelihood ratio under a TARGET-domain language model vs the raw
    corpus's own, ``log w(d) = Σ_tok [ln p_target(tok) − ln p_raw(tok)]``
    with add-``alpha`` smoothing over the RAW corpus vocabulary
    (out-of-vocab target mass follows the same smoothing; raw-corpus
    tokens absent from the target get the smoothed floor). High scores =
    documents that look like the target domain; resample the corpus by
    these weights (``sampling.weighted_sample``) to match it. Returns
    ``(<id>, n_tokens, log_weight)`` (round 4, float-sum contract).

    100 TB design: both LMs are token-keyed count tables (one shuffle
    each, map-side combined — the raw LM reuses the token explode);
    per-doc scoring joins the doc's token stream to the broadcast
    log-ratio table and sums per doc — one shuffle keyed on the doc id.
    The ratio table is vocabulary-sized (tiny next to the corpus), which
    is exactly why DSIR scales where neural scoring doesn't.
    """
    raw_toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).where(F.col("tok") != "")
    tgt_toks = (
        target.select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    raw_lm = raw_toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_raw"))
    tgt_lm = tgt_toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_tgt"))
    consts = raw_lm.agg(
        F.sum("c_raw").alias("n_raw"), F.count(F.lit(1)).alias("v")
    ).crossJoin(
        tgt_lm.agg(F.coalesce(F.sum("c_tgt"), F.lit(0)).alias("n_tgt"))
    ).first()
    n_raw, v, n_tgt = (
        float(consts["n_raw"]),
        int(consts["v"]),
        float(consts["n_tgt"]),
    )
    a = float(alpha)
    ratio = (
        raw_lm.join(tgt_lm, "tok", "left")
        .select(
            "tok",
            (
                F.log(
                    (F.coalesce(F.col("c_tgt"), F.lit(0)) + a)
                    / F.lit(n_tgt + a * v)
                )
                - F.log((F.col("c_raw") + a) / F.lit(n_raw + a * v))
            ).alias("log_ratio"),
        )
    )
    # vocab-sized ratio table: hint gated on the configured cap (v is a
    # driver constant already — exact and free; see joins.py docstring)
    from pyveb_spark.operators.joins import broadcast_if_bounded

    return (
        raw_toks.join(broadcast_if_bounded(ratio, n_rows=v), "tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("log_ratio"), 4).alias("log_weight"),
        )
    )


def fim_transform(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 4,
    fim_rate: float = 0.5,
) -> DataFrame:
    """Fill-in-the-middle (FIM) transform in PSM order (Bavarian et al.
    2022): pick two deterministic token cut points 0 < c1 ≤ c2 < n and
    rewrite the document as ``<PRE>prefix<SUF>suffix<MID>middle`` so an
    autoregressive model learns infilling "for free". The cuts and the
    apply/skip decision are pure functions of the doc id (md5-derived,
    ``portable_hash48``) — the only correct way to randomize a corpus
    transform in a task-retry world (the q157/q147 rule: a retried
    partition must re-emit byte-identical rows), and what lets the DuckDB
    oracle replay every split exactly.

    Docs shorter than ``min_tokens``, and the ``1 - fim_rate`` complement
    of the hash split, pass through unchanged (``fim = false``) — the
    standard practice of mixing FIM and plain-AR views of the same
    corpus. Returns the input columns plus ``fim`` (bool), ``c1``/``c2``
    (token cut points, NULL when not transformed) and ``fim_text``.

    100 TB shape: pure per-row codegen (split / slice / concat — zero
    shuffles, zero UDFs); composes scan-stage with the admission gates.
    """
    from pyveb_spark.operators.dedup import portable_hash48

    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    gate_h = portable_hash48(
        F.concat_ws("|", F.lit("fim-gate"), F.col(id_col).cast("string"))
    )
    eligible = (n >= F.lit(int(min_tokens))) & (
        (gate_h % 1_000_000) < F.lit(int(round(fim_rate * 1_000_000)))
    )
    h1 = portable_hash48(
        F.concat_ws("|", F.lit("fim-c1"), F.col(id_col).cast("string"))
    )
    h2 = portable_hash48(
        F.concat_ws("|", F.lit("fim-c2"), F.col(id_col).cast("string"))
    )
    c1 = (h1 % (n - 1) + 1).cast("int")          # 1 .. n-1
    c2 = (c1 + h2 % (n - c1)).cast("int")        # c1 .. n-1
    prefix = F.array_join(F.slice(toks, 1, c1), " ")
    middle = F.array_join(
        F.slice(toks, c1 + 1, c2 - c1), " "
    )
    suffix = F.array_join(F.slice(toks, c2 + 1, n - c2), " ")
    psm = F.concat(
        F.lit("<PRE>"), prefix, F.lit("<SUF>"), suffix, F.lit("<MID>"), middle
    )
    return df.select(
        "*",
        eligible.alias("fim"),
        F.when(eligible, c1).alias("c1"),
        F.when(eligible, c2).alias("c2"),
        F.when(eligible, psm).otherwise(F.col(text_col)).alias("fim_text"),
    )


def t5_span_corrupt(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 3,
    tokens_per_span: int = 20,
    min_tokens: int = 20,
) -> DataFrame:
    """T5-style span corruption (Raffel 2020 §3.1.4): drop ``k =
    max(1, n // tokens_per_span)`` non-overlapping ``span_len``-token
    spans and emit the sentinel-joined (input, target) pair —
    ``input = kept text with <extra_id_j> at each hole``, ``target =
    <extra_id_j> + dropped span ... + <extra_id_k>``. With the defaults
    this corrupts ~15% of tokens in 3-token spans — the T5 recipe.
    Completes the objective-transform triad next to deterministic MLM
    masking (``mlm_mask``) and FIM PSM rewriting (``fim_transform``).

    Span placement is CLOSED-FORM per row: the doc is cut into k equal
    segments and span j starts at ``j·seg + 1 + (h_j mod (seg−span_len+1))``
    with ``h_j = portable_hash48('t5-span|<id>|<j>')`` — disjoint by
    construction (one span per segment), no sequential state, and a pure
    function of the doc id: a retried partition re-emits byte-identical
    rows (the q157/q147/q170 rule), and an ANSI oracle replays every
    span exactly.

    Docs under ``min_tokens`` pass through (``corrupted = false``,
    input = original text, empty target). Returns the input columns plus
    ``corrupted``, ``n_spans``, ``t5_input``, ``t5_target``.

    100 TB shape: pure per-row codegen — sequence/transform/flatten/
    slice/concat, zero shuffles, zero UDFs; composes scan-stage with
    admission gates and packing.
    """
    from pyveb_spark.operators.dedup import portable_hash48

    if span_len < 1 or tokens_per_span <= span_len:
        raise ValueError("need span_len >= 1 and tokens_per_span > span_len")
    if min_tokens < tokens_per_span:
        raise ValueError(
            "min_tokens < tokens_per_span would allow seg < span_len"
        )
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    eligible = n >= F.lit(int(min_tokens))
    k = F.greatest(F.lit(1), (n / F.lit(int(tokens_per_span))).cast("int"))
    seg = (n / k).cast("int")
    js = F.sequence(F.lit(1), k)  # 1-based span index

    def h(j):
        return portable_hash48(
            F.concat_ws(
                "|",
                F.lit("t5-span"),
                F.col(id_col).cast("string"),
                (j - 1).cast("string"),
            )
        )

    # start position (1-indexed) of span j, inside segment j-1
    starts = F.transform(
        js,
        lambda j: (
            (j - 1) * seg + 1 + h(j) % (seg - F.lit(int(span_len)) + 1)
        ).cast("int"),
    )

    def sentinel(j):
        # sentinel index is 0-based: span 1 -> <extra_id_0>
        return F.concat(
            F.lit("<extra_id_"), (j - 1).cast("string"), F.lit(">")
        )

    def start_of(j):
        return F.element_at(starts, j)

    def prev_end(j):
        # end position of the previous span; 0 before the first span.
        # when() keeps element_at(starts, 0) from ever evaluating (ANSI).
        return F.when(j == 1, F.lit(0)).otherwise(
            start_of(j - 1) + F.lit(int(span_len) - 1)
        )

    input_tokens = F.concat(
        F.flatten(
            F.transform(
                js,
                lambda j: F.concat(
                    F.slice(
                        toks, prev_end(j) + 1, start_of(j) - prev_end(j) - 1
                    ),
                    F.array(sentinel(j)),
                ),
            )
        ),
        # kept tail after the last span
        F.slice(
            toks,
            F.element_at(starts, k) + F.lit(int(span_len)),
            n - (F.element_at(starts, k) + F.lit(int(span_len))) + 1,
        ),
    )
    target_tokens = F.concat(
        F.flatten(
            F.transform(
                js,
                lambda j: F.concat(
                    F.array(sentinel(j)),
                    F.slice(toks, start_of(j), span_len),
                ),
            )
        ),
        F.array(
            F.concat(F.lit("<extra_id_"), k.cast("string"), F.lit(">"))
        ),
    )
    return df.select(
        "*",
        eligible.alias("corrupted"),
        F.when(eligible, k).otherwise(F.lit(0)).alias("n_spans"),
        F.when(eligible, F.array_join(input_tokens, " "))
        .otherwise(F.col(text_col))
        .alias("t5_input"),
        F.when(eligible, F.array_join(target_tokens, " "))
        .otherwise(F.lit(""))
        .alias("t5_target"),
    )


def preference_pairs(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    score_col: str,
    min_margin: float = 0.05,
    min_candidates: int = 2,
) -> DataFrame:
    """DPO/RLHF preference-pair selection: within each ``group_cols``
    bucket (a prompt id in real alignment data), pick the highest- and
    lowest-``score_col`` rows as the (chosen, rejected) pair, keeping
    only groups with ``min_candidates``+ rows and a score margin of at
    least ``min_margin`` (near-tie pairs teach nothing and double
    training noise). Ties break to the LOWEST id on both sides so the
    pair is a pure function of the data — reproducible on any
    partitioning, like every sampling decision in this engine.

    Returns one row per surviving group: the group columns plus
    ``n_candidates, chosen_id, rejected_id, chosen_score,
    rejected_score, margin`` (scores/margin rounded to 4 — reported
    values only; selection compares the raw score).

    100 TB shape: ONE groupBy shuffle of (key, score, id) triples with
    max_by/min_by struct aggregates — no window, no per-group sort, no
    self-join; prompt-count output rows."""
    gcols = list(group_cols)
    s = F.col(score_col)
    grp = df.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.max_by(
            id_col, F.struct(s, (-F.col(id_col)).alias("neg"))
        ).alias("chosen_id"),
        F.min_by(id_col, F.struct(s, F.col(id_col))).alias("rejected_id"),
        F.max(s).alias("__s_max"),
        F.min(s).alias("__s_min"),
    )
    return grp.where(
        (F.col("n_candidates") >= int(min_candidates))
        & (F.col("__s_max") - F.col("__s_min") >= float(min_margin))
    ).select(
        *gcols,
        "n_candidates",
        "chosen_id",
        "rejected_id",
        F.round("__s_max", 4).alias("chosen_score"),
        F.round("__s_min", 4).alias("rejected_score"),
        F.round(F.col("__s_max") - F.col("__s_min"), 4).alias("margin"),
    )


def preference_matches(
    df: DataFrame,
    block_col: str,
    id_col: str,
    score_col: str,
    side_col: str,
) -> DataFrame:
    """Head-to-head preference matches from a scored corpus — the
    Chatbot-Arena-shaped input for rating fits (``bradley_terry``) and
    reward-bias audits: within each ``block_col`` bucket, pair every row
    with its ``id_col``-successor (a deterministic linear pairing — one
    lag window, never the O(n²) all-pairs tournament) and call the
    higher-``score_col`` row the winner. Exact score ties and
    same-``side_col`` pairings are dropped (a side never plays itself;
    ties carry no preference signal). Returns one row per match:
    ``(winner_id, loser_id, winner_side, loser_side, winner_score,
    loser_score)`` with raw (unrounded) scores, so the winner decision is
    a pure function of the corpus wherever ``score_col`` follows the
    deterministic-score contract (q27/q181).

    Scale: one keyed window (lead) over the block — cost linear in rows,
    one shuffle; at 100 TB with real A/B judgments the lag pairing is
    replaced by the judgment table and everything downstream is
    unchanged."""
    from pyspark.sql import Window

    w = Window.partitionBy(block_col).orderBy(id_col)
    nxt = (
        df.select(block_col, id_col, score_col, side_col)
        .withColumn("__id_b", F.lead(id_col).over(w))
        .withColumn("__s_b", F.lead(score_col).over(w))
        .withColumn("__side_b", F.lead(side_col).over(w))
        .where(F.col("__id_b").isNotNull())
        .where(F.col(score_col) != F.col("__s_b"))
        .where(F.col(side_col) != F.col("__side_b"))
    )
    a_wins = F.col(score_col) > F.col("__s_b")
    return nxt.select(
        F.when(a_wins, F.col(id_col)).otherwise(F.col("__id_b"))
        .alias("winner_id"),
        F.when(a_wins, F.col("__id_b")).otherwise(F.col(id_col))
        .alias("loser_id"),
        F.when(a_wins, F.col(side_col)).otherwise(F.col("__side_b"))
        .alias("winner_side"),
        F.when(a_wins, F.col("__side_b")).otherwise(F.col(side_col))
        .alias("loser_side"),
        F.when(a_wins, F.col(score_col)).otherwise(F.col("__s_b"))
        .alias("winner_score"),
        F.when(a_wins, F.col("__s_b")).otherwise(F.col(score_col))
        .alias("loser_score"),
    )


def bradley_terry(
    wins: dict[tuple[str, str], int],
    iters: int = 10,
    round_to: int = 9,
) -> dict[str, float]:
    """Bradley-Terry strength fit via the classic MM update (Hunter 2004
    — the model behind Elo-style arena leaderboards):
    ``p_i ← W_i / Σ_j n_ij / (p_i + p_j)``, renormalized to mean 1 each
    iteration. ``wins[(i, j)]`` is i's win count over j (the side-pair
    matrix an aggregation produces — model-sized driver state, the
    k×dim precedent: #sides², NOT #matches).

    Determinism contract: each iteration's strengths are rounded to
    ``round_to`` decimals AFTER renormalization, and the per-side
    denominators sum in sorted-side order — so a SQL oracle that unrolls
    the same ``iters`` updates over the same integer win matrix replays
    the fit bit-for-bit (float sum-order noise ~1e-16 is absorbed by the
    1e-9 rounding grid)."""
    if not wins:  # no matches at all -> no model, not a ZeroDivisionError
        return {}
    sides = sorted({s for pair in wins for s in pair})
    n_tot: dict[tuple[str, str], int] = {}
    w_tot: dict[str, int] = {s: 0 for s in sides}
    for (i, j), w in wins.items():
        n_tot[(i, j)] = n_tot.get((i, j), 0) + w
        n_tot[(j, i)] = n_tot.get((j, i), 0) + w
        w_tot[i] += w
    p = {s: 1.0 for s in sides}
    for _ in range(int(iters)):
        raw = {}
        for i in sides:
            denom = 0.0
            for j in sides:
                nij = n_tot.get((i, j), 0)
                if j != i and nij:
                    # the round(9) grid can underflow a weak side's
                    # strength to exactly 0.0; clamp the pairwise
                    # denominator so two zero-strength opponents never
                    # divide by zero (ADVICE r8 — mirrored in the SQL
                    # oracle's GREATEST clamp)
                    denom += nij / max(p[i] + p[j], 1e-12)
            raw[i] = (w_tot[i] / denom) if denom > 0 else p[i]
        mean = sum(raw[s] for s in sides) / len(sides)
        p = {s: round(raw[s] / mean, int(round_to)) for s in sides}
    return p
