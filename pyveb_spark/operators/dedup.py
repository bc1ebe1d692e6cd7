"""Deduplication operators — exact, keep-first, n-gram Jaccard, MinHash-LSH,
SimHash.

Reference parity: the reference dedups list-of-dicts on the driver — full
record via ``set(tuple(d.items()))`` (``common.py:290-292``), by-key
keep-first (``common.py:294-303``), and dataclass content hashes
(``dbt_client.py:45-58,649-658``). Those collapse at scale; everything here
is shuffle-on-key distributed with no driver materialization.

The near-dup family is the north-star LLM-pipeline surface (BASELINE.json):
``ngram_jaccard_pairs`` is the exact algorithm (prefix+length-filtered
set-similarity join — lossless for threshold > 0), ``minhash_lsh_pairs``
is the sub-quadratic scale path (candidate recall < 1 by design),
``simhash`` a 64-bit fingerprint for Hamming-distance bucketing.

Measured scaling (local[32], synthetic corpus with a deliberately dense
931-bigram vocabulary — the worst case for shingle blocking): 5k→50k docs
takes the exact join 4s→132s (candidate growth is inherently quadratic when
every shingle is corpus-frequent) while MinHash-LSH goes 3.5s→13.7s with
recall 1.0 at t=0.8. The operational rule at 100 TB follows: exact for
audits/small partitions, LSH + exact verification as the default pipeline.
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyveb_spark.operators.cache import cached_once

__all__ = [
    "exact_dedup",
    "keep_first",
    "repeat_weighted_dedup",
    "shingles",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_pairs",
    "simhash_index",
    "simhash_lookup",
    "hamming_pairs",
    "duplicate_clusters",
    "chunk_stats",
    "contamination_check",
    "minhash_lsh_index",
    "minhash_lsh_lookup",
    "fuzzy_decontaminate",
    "exact_substring_pairs",
    "substring_duplication",
    "cross_source_overlap",
]


def chunk_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 12,
    delimiter: str = " ",
) -> DataFrame:
    """Sub-document exact dedup at fixed token-chunk granularity (the
    C4/CCNet line-dedup shape, adapted to a corpus without line breaks:
    the dedup unit is a run of ``chunk_tokens`` consecutive tokens instead
    of a physical line — pass ``delimiter='\\n'`` and ``chunk_tokens=1``
    for literal line dedup).

    Returns per-document ``(id_col, n_chunks, n_dup_chunks, dup_frac)``
    where a chunk is a *duplicate* if the identical chunk text occurs
    earlier in the corpus stream — "earlier" being the total order
    (id, chunk position), so the first occurrence corpus-wide is the one
    kept, deterministically on any partitioning.

    Scale notes: one shuffle on the chunk-text hash (the keep-first
    window), one shuffle back to the document grain. Chunks are md5-hashed
    before the shuffle so exchange rows are fixed-width; the window per
    hash group is tiny (duplicate multiplicity), so no skew beyond
    pathological boilerplate — which is exactly what the operator is for
    finding. No driver state.
    """
    # NULL text behaves like '' (one empty chunk): split(NULL) is NULL and
    # would otherwise silently drop the doc (ANSI) or explode phantom
    # chunks via sequence(0,-1) (legacy mode)
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), delimiter)
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunked = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - F.lit(1)),
                    lambda i: F.array_join(
                        F.slice(
                            toks, i * chunk_tokens + 1, chunk_tokens
                        ),
                        delimiter,
                    ),
                )
            ).alias("__pos", "__chunk"),
        )
        .withColumn("__h", F.md5(F.col("__chunk").cast("binary")))
    )
    w = Window.partitionBy("__h").orderBy(F.col(id_col), F.col("__pos"))
    first = F.row_number().over(w) == 1
    per_doc = chunked.withColumn("__is_dup", (~first).cast("int")).groupBy(
        id_col
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("__is_dup").alias("n_dup_chunks"),
        F.round(
            F.sum("__is_dup") / F.count(F.lit(1)), 4
        ).alias("dup_frac"),
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    corpus_id: str,
    corpus_text: str,
    bench_id: str,
    bench_text: str,
    n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: find corpus documents sharing ≥
    ``min_overlap`` distinct word ``n``-grams with any benchmark item —
    the standard check (GPT-3 appendix C / PaLM / Llama style, n = 8..13)
    run before training so eval sets aren't memorized.

    Returns ``(corpus_id, bench_id, n_shared)`` per contaminated
    (document, benchmark item) pair.

    Scale notes: the benchmark side is small by definition (eval suites),
    so its exploded n-gram postings broadcast; the corpus side streams
    through one scan → explode with NO shuffle of corpus text and no
    corpus self-join — cost is O(corpus tokens) + a broadcast hash probe.
    Shingles are distinct-per-doc first, so ``n_shared`` counts distinct
    shared n-grams (overlap multiplicity in the corpus doc doesn't
    inflate the signal).
    """
    # shingles() already returns the distinct n-gram set per document
    c_grams = corpus.select(
        F.col(corpus_id),
        F.explode(shingles(F.col(corpus_text), n)).alias("__g"),
    )
    b_grams = benchmark.select(
        F.col(bench_id),
        F.explode(shingles(F.col(bench_text), n)).alias("__g"),
    )
    return (
        c_grams.join(F.broadcast(b_grams), "__g")
        .groupBy(corpus_id, bench_id)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= F.lit(int(min_overlap)))
    )


def exact_dedup(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Full-record (or by-column) exact dedup ↔ ``common.py:290-303`` /
    dataclass-hash dedup. ``dropDuplicates`` does partial map-side dedup
    before the shuffle — the 100 TB-safe version of the driver-side set."""
    return df.dropDuplicates(list(cols)) if cols else df.distinct()


def keep_first(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> DataFrame:
    """Keep the first row per key group by a deterministic order
    ↔ ``common.py:294-303`` (which kept Python-iteration order — here the
    order is explicit, as iteration order doesn't exist on a cluster)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .drop("__rk")
    )


def repeat_weighted_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Duplicate-aware repeat weighting: collapse each exact-duplicate
    class to its minimum-id representative carrying
    ``weight = n_copies ** alpha`` — the training-mix step BETWEEN "keep
    every copy" (over-weights boilerplate) and "hard dedup to weight 1"
    (throws away the signal that a document the crawl found n times is
    disproportionately canonical). Data-constrained-scaling measurements
    (Muennighoff et al. 2023) show repeated data is worth less than fresh
    data per additional epoch, decaying roughly like this sublinear
    discount; ``alpha=0.5`` is the square-root compromise, ``alpha=0``
    recovers hard dedup, ``alpha=1`` recovers keep-all.

    Returns ``(id_col, n_copies, weight)``, one row per duplicate class,
    weight rounded to 4 decimals (float pow — the module contract).

    100 TB shape: ONE md5-keyed groupBy with map-side partials (the hash
    is computed scan-stage; full texts never shuffle as keys — 16-byte
    digests do). Compose upstream of the sampler: feed ``weight`` to
    ``sampling.weighted_sample`` or multiply into per-example loss."""
    h = F.md5(F.col(text_col).cast("binary"))
    return (
        df.groupBy(h.alias("__h"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            id_col,
            "n_copies",
            F.round(
                F.pow(F.col("n_copies").cast("double"), F.lit(float(alpha))),
                4,
            ).alias("weight"),
        )
    )


def shingles(text_col, n: int = 2):
    """Distinct word n-gram shingle array for a text column (Column expr).

    Tokenizes on single spaces (the corpus convention); swap the delimiter
    for ``\\s+`` splitting on messier corpora.

    Construction is ``zip_with`` over n shifted slices of the token array —
    O(|doc|·n) with whole-array slices taken once. The tempting
    ``transform(sequence(...), i -> slice(toks, i, n))`` form is 4-6×
    slower (a per-element array copy makes it O(|doc|²)). Docs with fewer
    than n tokens yield an empty array (empty slices compose safely — no
    guard needed)."""
    toks = F.split(text_col, " ")
    if n == 1:
        return F.array_distinct(toks)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, 1 + j, m), lambda x, y: F.concat_ws(" ", x, y)
        )
    return F.array_distinct(acc)


def _doc_shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, __grams distinct 48-bit-hashed array, __n size) per document.

    Shingles are hashed to int64 immediately: every downstream join key,
    shuffle row, and ``array_intersect`` then moves 8-byte longs instead of
    ~15-byte UTF-8 bigrams. Distinctness is taken on the strings first, so
    ``|set|`` is exact; a 48-bit collision merging two shingles corpus-wide
    has probability ~|vocab|²/2⁴⁹ — negligible at fixture vocab sizes and
    still < 1e-5 at a 10⁹-shingle vocabulary. The hash is the portable md5
    prefix (not xxhash64) so the DuckDB oracle replays the pipeline
    bit-for-bit; jaccard values are hash-invariant either way.
    """
    return df.select(
        F.col(id_col),
        F.transform(
            shingles(F.col(text_col), n), lambda g: portable_hash48(g)
        ).alias("__grams"),
    ).withColumn("__n", F.size("__grams"))


def _jaccard_at_least(
    cand: DataFrame, a: str, b: str, threshold: float
) -> DataFrame:
    """``(a, b, jaccard)`` for candidate rows carrying both shingle sets
    (``__ga``/``__na``, ``__gb``/``__nb``), kept when ``jaccard ≥
    threshold``. ``array_intersect`` is evaluated row-wise inside
    codegen; the division matches the oracle's ``intersection * 1.0 /
    (na + nb - intersection)`` bit-for-bit."""
    inter = F.size(F.array_intersect("__ga", "__gb"))
    return (
        cand.withColumn("intersection", inter)
        .withColumn(
            "jaccard",
            F.col("intersection").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("intersection")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def _verify_jaccard(
    cand: DataFrame, docs: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify of candidate ``(<id>_a, <id>_b)`` pairs against
    the per-doc shingle-set table — no extra shuffle beyond the two id
    joins (which Spark broadcasts whenever the doc table is small enough;
    at cluster scale AQE picks the strategy)."""
    a, b = f"{id_col}_a", f"{id_col}_b"
    da = docs.select(
        F.col(id_col).alias(a),
        F.col("__grams").alias("__ga"),
        F.col("__n").alias("__na"),
    )
    db = docs.select(
        F.col(id_col).alias(b),
        F.col("__grams").alias("__gb"),
        F.col("__n").alias("__nb"),
    )
    return _jaccard_at_least(cand.join(da, a).join(db, b), a, b, threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact near-duplicate pairs by word n-gram Jaccard similarity.

    All-pairs set-similarity join with the standard lossless prunings
    (prefix filtering + length filtering, per Bayardo et al. WWW'07 /
    Xiao et al. WWW'08 — public literature):

    1. Per doc: distinct shingle set, ordered by ascending global document
       frequency (rarest first — the canonical order).
    2. *Prefix filter*: if J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so the first
       ``|A| − ⌈t·|A|⌉ + 1`` canonical-order shingles of A must hit B's
       equally-defined prefix. Only prefixes are exploded into the join —
       frequent shingles sort last and rarely enter a prefix, collapsing
       the join fan-out that a naive shared-shingle join suffers
       (Σ df(g)² → Σ prefix_df(g)²).
    3. *Length filter* inside the join: ``min(|A|,|B|) ≥ t·max(|A|,|B|)``
       prunes before the shuffle-heavy aggregation.
    4. Candidates are exactly verified with ``array_intersect`` — precision
       and recall are both 1.0 vs the O(n²) brute force.

    Output: ``(<id>_a, <id>_b, jaccard)`` with ``id_a < id_b``.

    Scale notes: every step is a key-partitioned join/agg — no driver
    materialization, no cross join. At 100 TB the same plan holds; the
    approximate ``minhash_lsh_pairs`` remains the cheaper option when
    exactness isn't required. Threshold arithmetic is rounded to 9 decimals
    so float noise can only *lengthen* a prefix (keeps pruning lossless).
    """
    a, b = f"{id_col}_a", f"{id_col}_b"
    # Persist the hashed shingle sets: this frame is read THREE times per
    # call (the prefix-postings pipeline below + both sides of the verify
    # join), and without a cache each read re-runs the md5 over every
    # shingle of every document — the single most CPU-expensive scan
    # expression in the operator (guide §5: cache when reused and
    # recompute is more expensive). Size is Σ|shingle set| longs —
    # MEMORY_AND_DISK-spillable at any SF.
    docs = cached_once(
        _doc_shingle_sets(df, id_col, text_col, n), "dedup.pairs.shingle_sets"
    )
    postings = docs.select(id_col, "__n", F.explode("__grams").alias("__g"))
    gfreq = postings.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    # canonical order: ascending (df, gram); prefix = rarest shingles.
    # Built row-wise: join df counts (AQE broadcasts — the distinct-gram
    # table is tiny relative to postings), then rank shingles within each
    # doc by one window and keep ranks below the prefix length. Wall-clock
    # ties the collect_list → array_sort → slice → posexplode formulation
    # at sf0.1 (both shuffle the postings once on the doc id), but stays
    # row-oriented inside whole-stage codegen with no per-doc array
    # materialization — the form that degrades gracefully when individual
    # docs are huge (a 10⁶-shingle doc is 10⁶ window rows, not one 8 MB
    # array element).
    prefix_len = (
        F.col("__n")
        - F.ceil(F.round(F.lit(threshold) * F.col("__n"), 9))
        + F.lit(1)
    ).cast("int")
    w = Window.partitionBy(id_col).orderBy("__df", "__g")
    # persist: the self-join consumes this tiny table twice, and Spark does
    # not reuse the exchange across the differently-aliased sides — without
    # this the whole postings→freq→rank pipeline runs twice. Size is
    # ~(1−t)·Σ|doc| rows of (id, int, long) — trivially cacheable at any SF.
    pref = cached_once(
        postings.join(gfreq, "__g")
        .withColumn("__p", F.row_number().over(w) - 1)
        .where(F.col("__p") < prefix_len)
        .select(id_col, "__n", "__p", "__g"),
        "dedup.ngram_jaccard_pairs.prefixes",
    )
    # Pin the self-join exchange width (layout.pin_width — the q17 rule):
    # the prefix table is BYTES-tiny but the __g join's output explodes
    # (Σ prefix_df²), so AQE's bytes-based coalescing — reachable inside
    # cached plans since canChangeCachedPlanOutputPartitioning=true
    # (session.py) — would run the CPU-heavy candidate join + dedup on
    # 1-3 tasks (measured 2.6× the whole operator at sf0.1).
    from pyveb_spark.operators.layout import pin_width

    n_shuf = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    pa = pin_width(
        pref.select(
            F.col(id_col).alias(a), F.col("__n").alias("__na"), F.col("__p").alias("__pa"), "__g"
        ),
        "__g",
    )
    pb = pin_width(
        pref.select(
            F.col(id_col).alias(b), F.col("__n").alias("__nb"), F.col("__p").alias("__pb"), "__g"
        ),
        "__g",
    )
    # positional filter (PPJoin, Xiao et al. WWW'08): for the first common
    # prefix element at 0-based positions (pa, pb), the overlap can't exceed
    # min(|A|-pa, |B|-pb); a pair with J ≥ t needs overlap ≥
    # ⌈t/(1+t)·(|A|+|B|)⌉, so matches that can't reach it are pruned before
    # the dedup shuffle. Lossless: a qualifying pair always survives via its
    # first common element.
    alpha = F.ceil(
        F.round(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("__na") + F.col("__nb")),
            9,
        )
    )
    overlap_ub = F.least(
        F.col("__na") - F.col("__pa"), F.col("__nb") - F.col("__pb")
    )
    cand = (
        pa.join(pb, "__g")
        .where(
            (F.col(a) < F.col(b))
            & (
                F.least("__na", "__nb")
                >= F.round(F.lit(threshold) * F.greatest("__na", "__nb"), 9)
            )
            & (overlap_ub >= alpha)
        )
        .select(a, b)
        # candidate rows are 16 bytes but the verify work per row is not —
        # pin the dedup width too (same AQE-coalesce hazard as above);
        # repartition on the full dedup key adds no extra exchange
        .repartition(n_shuf, a, b)
        .dropDuplicates([a, b])
    )
    return _verify_jaccard(cand, docs, id_col, threshold)


# Portable hashing: every hash in the MinHash/SimHash pipelines must be
# reproducible verbatim in ANSI SQL so the DuckDB oracle can replay the
# whole construction (same scheme as operators/sketches.py::cms_bucket and
# operators/sampling.py::uniform_hex — lowercase md5, 12/15-hex prefixes).
# The seeded MinHash functions are a multiply-add universal family over
# the 48-bit md5-hashed shingle universe: h_s(x) = (a_s·x + b_s) mod M61.
# Bounds: a_s < 2^14, x < 2^48 → a_s·x < 2^62; b_s < 2^61 → the sum stays
# below 2^63, so plain BIGINT arithmetic is exact in both engines.

_MERSENNE61 = (1 << 61) - 1

# Default hot-bucket skew cap for the banded LSH join (SCALE.md "LSH skew"):
# a band bucket with m members yields m² candidate pairs on one join key,
# so the per-key fan-out ceiling is DEFAULT_MAX_BUCKET_SIZE² ≈ 250k pairs —
# a few MB per task. Callers pass None to disable (exact banding) or size
# it as sqrt(target_pairs_per_key); the DuckDB oracles mirror the same
# constant, so capped semantics stay value-hash-checked.
DEFAULT_MAX_BUCKET_SIZE = 500


def portable_hash48(col) -> Column:
    """48-bit md5-prefix hash of a string/castable column, as BIGINT.
    DuckDB equivalent: ``('0x' || substr(md5(x), 1, 12))::BIGINT``."""
    return (
        F.conv(F.substring(F.md5(col.cast("binary")), 1, 12), 16, 10)
        .cast("bigint")
    )


def minhash_coeffs(seed: int) -> tuple[int, int]:
    """(a, b) for the seed-th MinHash function — md5-derived so they are
    plain deterministic integers any engine can inline as literals
    (the oracle SQL is generated from this same function)."""
    a = (
        int(hashlib.md5(f"mh-a|{seed}".encode()).hexdigest()[:8], 16)
        % (1 << 13)
    ) * 2 + 1  # odd, < 2^14
    b = int(hashlib.md5(f"mh-b|{seed}".encode()).hexdigest()[:15], 16) % (
        1 << 60
    )
    return a, b


def _minhash_expr(grams_col, seed: int) -> Column:
    """min over the gram array of the seed-th hash function. NOTE: the
    ``transform`` lambda must be UNARY — a second parameter (even with a
    default) is bound by PySpark to the array-index column, silently
    replacing the seed."""
    a, b = minhash_coeffs(seed)
    return F.array_min(
        F.transform(
            grams_col,
            lambda g: (F.lit(a) * g + F.lit(b)) % F.lit(_MERSENNE61),
        )
    )


# --------------------------------------------------------------------------
# Memoized signature Columns (r13, guide §1.2 per-call work): every index
# build, lookup probe and pairs kernel re-built the IDENTICAL num_hashes
# seeded min-hash expression trees over the canonical ``__grams`` column —
# measured ~0.57 s of pure Py4J Column construction per call at
# num_hashes=32 (plus ~0.2 s for the band array), paid 4× per q209/q216
# lifecycle run and once per pairs call. Columns are immutable
# df-independent expression trees (pinned by
# test_minhash_memoized_columns_value_identity's reuse-across-frames
# shape), so process-lifetime memoization is semantics-free. The cached
# objects are unresolved JVM expression trees: they hold no session state
# (analysis happens per plan), so they stay valid across getOrCreate
# sessions within one driver process — the same lifetime
# _simhash_fp_expr/lsh_bucket_expr callers rely on.
# --------------------------------------------------------------------------


@lru_cache(maxsize=32)
def _minhash_cols_aliased(num_hashes: int) -> tuple[Column, ...]:
    """The ``num_hashes`` seeded min-hash Columns over ``__grams``,
    aliased ``mh_<s>`` (the signature-frame select list)."""
    return tuple(
        _minhash_expr(F.col("__grams"), s).alias(f"mh_{s}")
        for s in range(num_hashes)
    )


@lru_cache(maxsize=32)
def _band_arr_named(num_hashes: int, bands: int) -> Column:
    """The band-hash array over the ``mh_<s>`` signature columns: band
    key = portable 48-bit hash of the '|'-joined min-hash tuple
    (oracle-replayable)."""
    r = _check_banding(num_hashes, bands)
    return F.array(
        *[
            portable_hash48(
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * r + i}") for i in range(r)]
                )
            )
            for b in range(bands)
        ]
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 32,
) -> DataFrame:
    """MinHash signature per document: for each of ``num_hashes`` seeded
    hash functions, the min hash over the doc's shingle set — computed as
    ``array_min(transform(grams, seeded_hash))`` per seed, a stateless
    scan-stage expression. No explode, no groupBy: the earlier
    explode+min-agg formulation shuffled |docs|×|shingles| rows to produce
    what is a per-row reduction; this one shuffles nothing. Operates on
    the int64-hashed shingle universe (see ``_doc_shingle_sets``) so the
    seeded re-hashes run over longs. Docs with no shingles (< n tokens)
    are dropped, matching the explode form's semantics."""
    sets = _doc_shingle_sets(df, id_col, text_col, n).where(
        F.size("__grams") > 0
    )
    return sets.select(F.col(id_col), *_minhash_cols_aliased(num_hashes))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Approximate near-dup pairs via MinHash + banded LSH, candidates
    verified with exact Jaccard.

    ``num_hashes`` minhashes split into ``bands`` bands of r = n/b rows;
    docs colliding on any full band become candidates (collision prob
    1-(1-s^r)^b for true Jaccard s). Candidates are then *exactly* verified,
    so precision is 1.0; recall < 1 is the scale trade-off vs
    ``ngram_jaccard_pairs``. At 100 TB this is the only viable plan: cost is
    bands × (hash-join on band signature), never O(n²).

    ``max_bucket_size`` is the hot-bucket skew cap (SCALE.md): a band
    bucket shared by m docs produces m² candidate pairs, so one
    boilerplate bucket with 10⁵ members means 10¹⁰ pairs in a single join
    key — the classic LSH skew failure. Capping drops buckets larger than
    the bound BEFORE the self-join (a window count whose (band, hash)
    shuffle the self-join then reuses — measured FASTER than the uncapped
    form at sf0.1), bounding per-key join fan-out at max_bucket_size². Docs in
    a dropped bucket still pair through their other ``bands-1`` buckets,
    so the recall loss is limited to pairs whose ONLY collision was the
    hot bucket — near-identical boilerplate, exactly what a dedup wants to
    handle via the exact-hash pass instead. ``None`` disables the
    cap (exact banding); the default is ``DEFAULT_MAX_BUCKET_SIZE`` and is
    mirrored in the DuckDB oracles, so capped semantics stay
    value-hash-checked.
    """
    _check_banding(num_hashes, bands)
    a, b_ = f"{id_col}_a", f"{id_col}_b"
    # Same three-read pattern as ngram_jaccard_pairs: the hashed shingle
    # sets feed the signature pipeline AND both verify sides (same slot).
    docs = cached_once(
        _doc_shingle_sets(df, id_col, text_col, n), "dedup.pairs.shingle_sets"
    )
    # one (band_idx, band_hash) row per band → a single self-join keyed on
    # both, instead of `bands` separate joins + union (fewer stages, one
    # shuffle). The verify re-reads `docs`, so only the keys go on.
    banded = _banded_postings(docs, id_col, num_hashes, bands).select(
        id_col, "__band", "__h"
    )
    if max_bucket_size is not None:
        # window count, not groupBy+join-back: one shuffle on (band, hash)
        # whose partitioning the self-join below then reuses
        wb = Window.partitionBy("__band", "__h")
        banded = (
            banded.withColumn("__m", F.count(F.lit(1)).over(wb))
            .where(F.col("__m") <= F.lit(int(max_bucket_size)))
            .drop("__m")
        )
    # Deliberately NOT width-pinned (the one fan-out join exempt from the
    # layout.pin_width q17 rule): the band self-join's exchange input is
    # the corpus's FULL posting set — bytes ∝ corpus — so AQE's
    # bytes-based parallelism sizing is faithful here, and the hot-bucket
    # cap above bounds per-key join CPU at cap² regardless. Pinning was
    # measured, not skipped: pre-window pin 1.24×, both-sides 1.13× at
    # sf0.1 (oversized task counts for the data), and a post-window
    # one-sided pin is elided by EnsureRequirements (child already
    # hash(band, h)-partitioned) — so the pin buys nothing the window
    # exchange doesn't already provide. Contrast hamming_pairs/
    # triangle_counts/ngram_jaccard_pairs, where the exchange input
    # (16-byte fingerprints, cached plans) genuinely understates CPU.
    left = banded.select(F.col(id_col).alias(a), "__band", "__h")
    right = banded.select(F.col(id_col).alias(b_), "__band", "__h")
    cand = (
        left.join(right, ["__band", "__h"])
        .where(F.col(a) < F.col(b_))
        .select(a, b_)
        .dropDuplicates([a, b_])
    )
    # exact verification of *candidates only* (never the full corpus):
    # precision 1.0; recall is governed by the banding collision curve.
    # `docs` is the persisted shingle-set frame from above.
    return _verify_jaccard(cand, docs, id_col, threshold)


# SimHash width: 60 bits = the 15-hex md5 prefix that fits a positive
# BIGINT in every engine (16 hex chars would overflow signed int64) — the
# portability trade that lets the DuckDB oracle recompute fingerprints
# verbatim. All masks are positive, so no two's-complement special case.
SIMHASH_BITS = 60
_BIT_MASKS = [1 << b for b in range(SIMHASH_BITS)]

# Signature defaults shared by the index builders and their
# manifest-validated lookups. The lookups treat an argument as
# "explicit" — and conflict-check it against the artifact's persisted
# build manifest — only when it differs from the default, so the
# defaults must live in ONE place: a hardcoded copy inside the lookup
# would silently drift if a signature default ever changed (a genuinely
# explicit value equal to the stale copy skips validation; a new
# default spuriously raises against older manifests).
MINHASH_DEFAULTS: dict[str, int] = {"n": 2, "num_hashes": 32, "bands": 8}
SIMHASH_DEFAULTS: dict[str, int] = {"bands": 4, "bits": SIMHASH_BITS}


def _check_banding(num_hashes: int, bands: int) -> int:
    """bands must divide num_hashes exactly: r=0 crashes with an opaque
    zero-arg hash error, and a remainder silently drops trailing
    signatures — making the real collision curve worse than the
    documented 1-(1-s^r)^b for the requested parameters."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes (got num_hashes={num_hashes}, "
            f"bands={bands})"
        )
    return num_hashes // bands


def _banded_postings(
    docs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, __grams, __n, __band, __h) posting rows of a
    ``_doc_shingle_sets`` frame: the doc's shingle set plus one row per
    LSH band hash — the joinable form of a MinHash signature, shared by
    the pairs self-join, the index build and the lookup probe. Docs with
    no shingles (< n tokens) are dropped.

    The signature is selected as named ``mh_<s>`` columns and banded
    from those: the min-hash ``Project`` then sits under a whole-stage
    codegen ``Generate``. Inlining the min-hash expressions into the
    band array loses codegen on the ``Generate``; it was slower in a
    small probe (sf0.1, 4-core ``local[4]``, alternating runs, medians:
    pairs 1.58 s vs 1.76 s, index build 1.80 s vs 1.98 s)."""
    _check_banding(num_hashes, bands)
    sig = docs.where(F.size("__grams") > 0).select(
        F.col(id_col), "__grams", "__n", *_minhash_cols_aliased(num_hashes)
    )
    return sig.select(
        F.col(id_col),
        "__grams",
        "__n",
        F.posexplode(_band_arr_named(num_hashes, bands)).alias(
            "__band", "__h"
        ),
    )


def minhash_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Build the persistent dedup index for a corpus: banded MinHash
    postings carrying each doc's shingle set, so future batches can be
    checked *incrementally* — the production shape at 100 TB, where
    re-running all-pairs dedup per ingest is a non-starter. Write it
    bucketed by ``(__band, __h)`` (``writers.write_bucketed_table``) and
    the lookup join needs no index-side shuffle at all; append new
    batches' postings after admission.

    The index is pure scan-stage — NO shuffle at build. The hot-bucket
    skew cap is enforced at lookup via :func:`minhash_hot_buckets` (a
    tiny blacklist, broadcast anti-joined); persist that blacklist next
    to the index and refresh it at compaction time — it only guards
    skew, not correctness, so staleness after appends is acceptable.
    (A per-posting bucket-size column would shuffle every posting WITH
    its shingle array to carry 8 bytes of skew metadata; the blacklist
    shuffles (band, hash) pairs only, map-side combined.)

    (A widen_scan of the input was measured here in r12 and REVERTED:
    parallelizing the hash build also multiplies the bucketed save's
    file count — parts × buckets — and the extra opens on every
    downstream bucket scan cost more than the build saved at sf0.1.)"""
    return _banded_postings(
        _doc_shingle_sets(df, id_col, text_col, n), id_col, num_hashes, bands
    )


def minhash_hot_buckets(
    index: DataFrame, max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE
) -> DataFrame:
    """Buckets of a ``minhash_lsh_index`` with more than ``max_bucket_size``
    postings — boilerplate shingles whose candidate fan-out would be
    quadratic. Hot buckets are rare by definition, so the result is tiny
    and broadcastable at any corpus size; the aggregation shuffles only
    (band, hash) pairs with map-side partial counts, never the postings
    themselves."""
    return (
        index.groupBy("__band", "__h")
        .agg(F.count(F.lit(1)).alias("__m"))
        .where(F.col("__m") > int(max_bucket_size))
        .select("__band", "__h")
    )


def minhash_lsh_lookup(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    n: int = MINHASH_DEFAULTS["n"],
    num_hashes: int = MINHASH_DEFAULTS["num_hashes"],
    bands: int = MINHASH_DEFAULTS["bands"],
    threshold: float = 0.8,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    hot_buckets: DataFrame | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """Incremental near-dup check: candidate (new, corpus) pairs from a
    band-hash join of the new batch's postings against a
    ``minhash_lsh_index`` table, verified with exact Jaccard — identical
    hash pipeline (and therefore identical recall curve) to
    ``minhash_lsh_pairs``, but the cost scales with the BATCH, not the
    corpus. Returns ``(<id>_new, <id>_corpus, jaccard)``. The verify
    reuses the shingle sets already carried on both posting sides, so
    the only shuffle is the candidate join itself.

    Pass a persisted :func:`minhash_hot_buckets` frame as ``hot_buckets``
    to skip recomputing the skew blacklist per admission batch (the
    production shape) — an explicit blacklist is ALWAYS applied,
    regardless of ``max_bucket_size``; otherwise it is derived from
    ``index`` on the fly.

    ``meta`` — the index's persisted build manifest
    (``load_minhash_index``) — makes the probe hash
    with the index's OWN ``n``/``num_hashes``/``bands``: a probe hashed
    under different parameters joins into unrelated buckets and silently
    returns nothing (or garbage). An explicit non-default argument that
    CONFLICTS with the manifest raises instead of picking a side.
    """
    if meta:
        from pyveb_spark.sinks.index_store import check_index_meta

        defaults = MINHASH_DEFAULTS
        explicit = {"n": n, "num_hashes": num_hashes, "bands": bands}
        check_index_meta(
            meta,
            **{k: v for k, v in explicit.items() if v != defaults[k]},
        )
        n = int(meta.get("n", n))
        num_hashes = int(meta.get("num_hashes", num_hashes))
        bands = int(meta.get("bands", bands))
    a_id, b_id = f"{id_col}_new", f"{id_col}_corpus"
    probe = _banded_postings(
        _doc_shingle_sets(new_df, id_col, text_col, n), id_col, num_hashes,
        bands,
    )
    a = probe.select(
        F.col(id_col).alias(a_id),
        F.col("__grams").alias("__ga"),
        F.col("__n").alias("__na"),
        "__band",
        "__h",
    )
    b = index.select(
        F.col(id_col).alias(b_id),
        F.col("__grams").alias("__gb"),
        F.col("__n").alias("__nb"),
        "__band",
        "__h",
    )
    # hot-bucket skew cap on the CORPUS side (see minhash_lsh_pairs) — a
    # boilerplate bucket with m index members fans every probe row hitting
    # it out ×m. Precedence: an explicitly passed blacklist ALWAYS applies
    # (the caller built it to protect this job); else the blacklist is
    # derived from the index on the fly. The anti-join carries no
    # broadcast hint — the blacklist is tiny in the rare-by-definition
    # skew case and AQE picks broadcast then, but a pathological cap (most
    # buckets hot) degrades to a sort-merge anti-join instead of a driver
    # OOM.
    if hot_buckets is not None:
        b = b.join(hot_buckets, ["__band", "__h"], "left_anti")
    elif max_bucket_size is not None:
        # Deriving the blacklist on the fly reads the index twice
        # (blacklist aggregation + candidate join); persist the postings
        # so the expensive minhash pipeline runs once. Production passes a
        # persisted blacklist and never hits this branch.
        b = cached_once(b, "dedup.minhash_lsh_lookup.postings")
        derived = minhash_hot_buckets(
            b.select("__band", "__h"), max_bucket_size
        )
        b = b.join(derived, ["__band", "__h"], "left_anti")
    # Pin the candidate-join exchange width on the PROBE side only
    # (layout.pin_width — the q17 rule): the probe batch is byte-tiny by
    # design (cost ∝ batch), so AQE would otherwise run the fan-out join
    # at the probe scan's parallelism (one task on a single-file batch).
    # The INDEX side is deliberately left unpinned — its posting rows
    # carry the shingle arrays the verify needs, and forcing a shuffle of
    # that wide side (measured 1.16× at sf0.1) defeats the
    # broadcast/bucketed-index plan that keeps the payload unshuffled.
    from pyveb_spark.operators.layout import pin_width

    cand = (
        pin_width(a, "__band", "__h")
        .join(b, ["__band", "__h"])
        .where(F.col(a_id) != F.col(b_id))
        .dropDuplicates([a_id, b_id])
    )
    # the postings carry both shingle sets, so the verify needs no join
    return _jaccard_at_least(cand, a_id, b_id, threshold)


def fuzzy_decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    widen: bool = True,
) -> DataFrame:
    """FUZZY benchmark decontamination: flag every training document
    whose n-gram Jaccard similarity to ANY eval/benchmark document
    reaches ``threshold`` — the paraphrase-robust complement to
    :func:`contamination_check` (exact n-gram containment misses
    reworded eval items; near-duplicate leakage is what actually
    inflates benchmark scores). Returns one row per contaminated
    training doc: ``(id_col, n_eval_matches, max_jaccard)`` — anti-join
    it against the corpus to produce the cleaned training set.

    100 TB shape: the EVAL set is indexed (``minhash_lsh_index`` — it is
    benchmark-sized, thousands of rows, so its banded postings stay
    broadcastable at any corpus size) and the CORPUS streams through
    ONE :func:`minhash_lsh_lookup` pass — cost ∝ corpus scan, identical
    recall curve to ``minhash_lsh_pairs`` at the same banding. Candidate
    pairs are exact-Jaccard verified, so precision is 1.0 and the
    flag threshold is a real similarity, not an LSH artifact."""
    from pyveb_spark.operators.layout import widen_scan

    a_id, b_id = f"{id_col}_new", f"{id_col}_corpus"
    index = minhash_lsh_index(
        eval_docs, id_col, text_col, n=n, num_hashes=num_hashes, bands=bands
    )
    # the corpus side is corpus-scale by the operator's contract (one
    # full pass) — widen_scan keeps its shingle hashing parallel when
    # the input arrives as fewer splits than cores (no-op otherwise).
    # Callers decontaminating a BATCH-sized frame (q180's admission
    # wave) pass widen=False: repartitioning a few dozen rows costs a
    # shuffle round-trip and parallelizes nothing.
    hits = minhash_lsh_lookup(
        widen_scan(corpus) if widen else corpus,
        index,
        id_col,
        text_col,
        n=n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket_size=max_bucket_size,
    )
    return (
        hits.groupBy(F.col(a_id).alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            F.round(F.max("jaccard"), 4).alias("max_jaccard"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash fingerprint per document (token-level).

    Each token hashes to 60 bits (the portable 15-hex md5 prefix — see
    ``SIMHASH_BITS``); per bit position the doc sums ±1 over tokens; the
    sign vector packs into a BIGINT fingerprint. Computed as ONE array
    fold per document — ``aggregate`` carries a 60-counter accumulator
    over the token-hash array (``zip_with`` against the bit-mask array
    adds ±1 per position), then a second tiny fold packs the sign vector.
    Stateless scan-stage expression: the earlier formulation exploded to
    |tokens|×60 rows through two groupBy shuffles; this one shuffles
    nothing. No UDF, and the whole construction replays in ANSI SQL.
    """
    return df.select(F.col(id_col), _simhash_fp_expr(text_col))


@lru_cache(maxsize=8)
def _simhash_fp_expr(text_col: str) -> Column:
    """The df-independent fingerprint Column behind :func:`simhash`,
    memoized per text column name (the _minhash_cols_aliased rule —
    ~0.15 s of fold construction per call, rebuilt 1-4× per
    fingerprint-family query)."""
    # one ArrayType Literal node instead of 60 child Literals (the
    # similarity._lit_arr convention — less plan-compile per call;
    # int64 here, values identical)
    import numpy as np

    masks = F.lit(np.asarray(_BIT_MASKS, dtype=np.int64))
    toks_h = F.transform(
        F.split(F.col(text_col), " "),
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10)
        .cast("bigint"),
    )
    counts = F.aggregate(
        toks_h,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, p: a
            + F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    fp = F.aggregate(
        F.zip_with(
            counts,
            masks,
            lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a.bitwiseOR(x),
    )
    return fp.alias("simhash")


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance with pigeonhole
    banding: split the 60-bit fingerprint into ``bands`` equal chunks —
    any pair within ``max_hamming ≤ bands - 1`` bit flips must agree on
    at least one full chunk, so candidates come from ``bands`` hash-join
    buckets instead of O(n²), and are verified exactly with
    ``bit_count(xor)``. Precision 1.0; recall 1.0 whenever
    ``max_hamming < bands`` (the pigeonhole guarantee — unlike MinHash
    banding, this blocking is lossless). One band-bucket self-join is the
    only shuffle."""
    from pyveb_spark.operators.layout import widen_scan

    fp = simhash(widen_scan(df), id_col, text_col)
    return hamming_pairs(
        fp, id_col, "simhash", max_hamming=max_hamming, bands=bands,
        bits=SIMHASH_BITS,
    )


def hamming_pairs(
    fp: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Pigeonhole-banded near-dup pairs over ANY precomputed ``bits``-wide
    fingerprint column (SimHash, image dHash, audio chromaprints...):
    split into ``bands`` equal chunks — a pair within
    ``max_hamming ≤ bands - 1`` bit flips must agree on at least one full
    chunk, so candidates come from ``bands`` hash-join buckets instead of
    O(n²), verified exactly with ``bit_count(xor)``. Lossless blocking
    (recall 1.0 whenever ``max_hamming < bands``); one band-bucket
    self-join is the only shuffle. Fingerprints must be non-negative
    (< 2^bits)."""
    a, b_ = f"{id_col}_a", f"{id_col}_b"
    banded = _hamming_postings(fp, id_col, hash_col, bands, bits)
    # Pin the band-key exchange width (layout.pin_width — the q17 rule):
    # fingerprint rows are 16 bytes but the band self-join's output is
    # quadratic in bucket size; AQE's bytes-based sizing would coalesce
    # the candidate join onto a few tasks. The pin IS the join's hash
    # distribution, so it replaces the exchange rather than adding one.
    from pyveb_spark.operators.layout import pin_width

    banded = pin_width(banded, "__band", "__h")
    left = banded.select(
        F.col(id_col).alias(a), F.col(hash_col).alias("__fa"),
        "__band", "__h",
    )
    right = banded.select(
        F.col(id_col).alias(b_), F.col(hash_col).alias("__fb"),
        "__band", "__h",
    )
    cand = left.join(right, ["__band", "__h"]).where(F.col(a) < F.col(b_))
    return _hamming_at_most(cand, a, b_, max_hamming, bands)


def _hamming_postings(
    fp: DataFrame, id_col: str, hash_col: str, bands: int, bits: int
) -> DataFrame:
    """(id, <hash_col>, __band, __h) rows: one per ``bits/bands``-wide
    chunk of a non-negative ``bits``-wide fingerprint — the pigeonhole
    blocking key of ``hamming_pairs``, ``simhash_index`` and the
    ``simhash_lookup`` probe."""
    if bits % bands != 0:
        raise ValueError(f"bands must divide {bits} (got bands={bands})")
    width = bits // bands
    # fingerprints are positive (< 2^bits), so plain shift + mask per band
    band_arr = F.array(
        *[
            F.expr(
                f"(CAST({hash_col} AS BIGINT) >> {i * width})"
                f" & {(1 << width) - 1}"
            )
            for i in range(bands)
        ]
    )
    return fp.select(
        F.col(id_col),
        F.col(hash_col),
        F.posexplode(band_arr).alias("__band", "__h"),
    )


def _hamming_at_most(
    cand: DataFrame, a: str, b: str, max_hamming: int, bands: int
) -> DataFrame:
    """``(a, b, hamming)`` for band-join candidates carrying both
    fingerprints (``__fa``, ``__fb``): one row per pair, verified exactly
    with ``bit_count(xor)`` and kept when ``hamming ≤ max_hamming``.
    Raises unless ``max_hamming < bands`` — the pigeonhole condition
    under which the banding found every such pair."""
    if max_hamming >= bands:
        raise ValueError(
            "pigeonhole blocking needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    return (
        cand.dropDuplicates([a, b])
        .withColumn(
            "hamming",
            F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb"))),
        )
        .where(F.col("hamming") <= F.lit(int(max_hamming)))
        .select(a, b, "hamming")
    )


def simhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Banded SimHash postings for a PERSISTENT near-dup index — the
    serving form of ``simhash_pairs``' pigeonhole blocking: one row per
    (doc, band) carrying ``(<id>, simhash, __band, __h)`` where ``__h``
    is the band's ``bits/bands``-wide fingerprint chunk. Persist it
    bucketed on ``(__band, __h)`` (``index_store.save_bucketed_index``
    — the same zero-index-side-shuffle join layout as the MinHash
    index, with the same column convention, so the whole bucketed-index
    lifecycle applies). Pure scan-stage: fingerprint fold + one
    posexplode, no shuffle at build.

    Unlike MinHash banding, this blocking is LOSSLESS for
    ``max_hamming < bands`` (any pair within that many bit flips agrees
    on at least one full chunk), so the index has no recall-losing skew
    blacklist: a hot band value fans candidates out, but each verify is
    one 64-bit xor on values already carried by the postings — O(1) per
    candidate, not O(|doc|). At 100 TB the principled skew lever is
    more/wider bands, never dropping buckets."""
    return _hamming_postings(
        simhash(df, id_col, text_col), id_col, "simhash", bands, bits
    )


def simhash_lookup(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = SIMHASH_DEFAULTS["bands"],
    bits: int = SIMHASH_DEFAULTS["bits"],
    meta: dict | None = None,
) -> DataFrame:
    """Incremental SimHash near-dup check: the new batch's banded
    postings equi-join a ``simhash_index`` on ``(__band, __h)``,
    candidates verify exactly with ``bit_count(xor)`` — identical
    fingerprint pipeline (and the same lossless pigeonhole guarantee
    for ``max_hamming < bands``) as ``simhash_pairs``, but the cost
    scales with the BATCH, not the corpus. Returns
    ``(<id>_new, <id>_corpus, hamming)``.

    ``meta`` — the index's persisted build manifest
    (``load_bucketed_index``) — makes the probe
    band with the index's OWN ``bands``/``bits``: chunks cut at
    different widths join into unrelated buckets and silently return
    nothing. A conflicting explicit argument raises."""
    if meta:
        from pyveb_spark.sinks.index_store import check_index_meta

        defaults = SIMHASH_DEFAULTS
        explicit = {"bands": bands, "bits": bits}
        check_index_meta(
            meta,
            **{k: v for k, v in explicit.items() if v != defaults[k]},
        )
        bands = int(meta.get("bands", bands))
        bits = int(meta.get("bits", bits))
    a_id, b_id = f"{id_col}_new", f"{id_col}_corpus"
    probe = simhash_index(new_df, id_col, text_col, bands, bits)
    a = probe.select(
        F.col(id_col).alias(a_id), F.col("simhash").alias("__fa"),
        "__band", "__h",
    )
    b = index.select(
        F.col(id_col).alias(b_id), F.col("simhash").alias("__fb"),
        "__band", "__h",
    )
    return _hamming_at_most(
        a.join(b, ["__band", "__h"]), a_id, b_id, max_hamming, bands
    )


def _large_star(sym: DataFrame) -> DataFrame:
    """One large-star round over a *symmetric* edge list ``(u, v)``:
    every neighbor larger than ``u`` is re-pointed at the minimum of
    ``N(u) ∪ {u}``. Output edges are ``(bigger, candidate_root)``."""
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select("u", F.least("u", "__mn").alias("__m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: edges are first directed big→small
    ``(u > v)``; every small neighbor (and ``u`` itself) is re-pointed at
    the minimum small neighbor. Output stays big→small and self-loop-free."""
    d = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = d.groupBy("u").agg(F.min("v").alias("__m"))
    repointed = (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
        .union(mins.select("u", F.col("__m").alias("v")))
    )
    return (
        repointed.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    out_node: str = "node_id",
    out_cluster: str = "cluster_id",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: turns the
    *pairs* produced by ``ngram_jaccard_pairs`` / ``minhash_lsh_pairs`` /
    embedding-cosine into *clusters*, the form a dedup pipeline actually
    consumes (pick one representative per cluster, drop the rest).

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    literature), expressed purely as groupBy-min + join rounds. Converges in
    O(log² n) rounds regardless of component diameter — unlike naive label
    propagation, a 10⁶-long duplicate chain costs ~20 rounds, not 10⁶.
    Every round is one shuffle on the node id; nothing is collected to the
    driver. Lineage is truncated per round with ``localCheckpoint`` (swap
    for a reliable ``checkpoint`` dir on a real cluster if preemption-safe
    restarts matter); convergence is detected by an order-independent
    (count, hash-sum) checksum of the canonical edge set.

    Returns ``(out_node, out_cluster)`` for every node appearing in
    ``pairs``, where ``out_cluster`` is the minimum node id of the
    component. Ids must be an orderable type (int, string, ...). Singleton
    docs never enter a pair list, so callers union them back as their own
    cluster (see q41 for the pattern).
    """
    # Materialize the incoming pair plan ONCE before iterating: the
    # symmetrize-union below references it twice per round, and the caller's
    # pair plan is typically the expensive similarity join itself.
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sum: tuple | None = None
    for _ in range(max_iterations):
        sym = edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # lazy checkpoint: the checksum action below materializes it, so
        # each round costs ONE job instead of two (eager-materialize +
        # checksum); later rounds read the materialized checkpoint
        edges = _small_star(_large_star(sym)).localCheckpoint(eager=False)
        # bit_xor: order-independent, overflow-free under ANSI mode (the
        # edge set is distinct, so xor cancellation can't hide a change
        # that count doesn't catch... pairs {x,y} vs {x',y'} with equal
        # xor AND equal count is a 2⁻⁶⁴ event per round).
        chk = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        cur = (chk["n"], chk["h"])
        if cur == prev_sum:
            break
        prev_sum = cur
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iterations} rounds"
        )
    # Converged star edges are (member, root) with root = component min.
    nodes = edges.select("u").union(edges.select("v")).distinct()
    labels = edges.select(
        F.col("u").alias(out_node), F.col("v").alias(out_cluster)
    )
    roots = nodes.join(
        labels, nodes["u"] == labels[out_node], "left_anti"
    ).select(F.col("u").alias(out_node), F.col("u").alias(out_cluster))
    return labels.union(roots)


# ---------------------------------------------------------------------------
# Exact-substring window dedup (ExactSubstr family)
# ---------------------------------------------------------------------------

# Default cap on a window's document frequency in exact_substring_pairs: a
# window shared by m docs emits m² pair rows on one join key, and windows
# above this frequency are boilerplate (licence headers, navigation chrome),
# not duplication signal — the same rationale as DEFAULT_MAX_BUCKET_SIZE.
DEFAULT_MAX_WINDOW_DF = 1_000


def _window_hash_array(text_col, window: int) -> Column:
    """Array of 48-bit hashes of every ``window``-token sliding window.

    One stateless scan-stage expression per document (transform over a
    position sequence → slice → join → md5 prefix): no explode, no
    shuffle, to *build* the windows — mirroring ``minhash_signatures``'s
    fold shape. Hash is engine-portable (``portable_hash48``) so DuckDB
    oracles replay it bit-for-bit. Docs shorter than ``window`` tokens get
    an empty array (the explicit guard matters: ``sequence(1, 0)`` counts
    DOWN in Spark, which would fabricate windows).
    """
    toks = F.split(text_col, " ")
    n_wins = F.size(toks) - F.lit(window - 1)
    idx = F.when(n_wins >= 1, F.sequence(F.lit(1), n_wins)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: portable_hash48(
            F.array_join(F.slice(toks, i, window), " ")
        ),
    )


def exact_substring_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    max_window_df: int | None = DEFAULT_MAX_WINDOW_DF,
) -> DataFrame:
    """Document pairs sharing ≥ 1 exact ``window``-token substring, with the
    count of shared distinct windows — the pair view of the ExactSubstr
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"), re-expressed as hashing + a postings self-join instead
    of a monolithic suffix array (which is single-machine by construction).

    Columns: ``(<id>_a, <id>_b, n_shared_windows)``.

    100 TB design: windows are built scan-stage (no shuffle); the whole
    pair derivation is TWO shuffles and no self-join — groupBy the window
    hash into a per-window id set (map-side partial sets, dedup subsumed),
    generate the id pairs of each shared window as a scan-stage array
    expression, and groupBy the pair to count. (A postings self-join
    formulation was measured at 3 shuffles + a double-computed build
    side.) Fan-out per window is bounded by ``max_window_df`` exactly like
    the LSH hot-bucket cap (and per-key state by the same bound — with the
    cap disabled a boilerplate window holds its full posting set AND emits
    df² pairs, so audits at ``None`` should pre-filter boilerplate).
    Result is EXACT up to the cap (and 48-bit collisions): a pair sharing
    a w-token run must share a window, so blocking loses nothing.
    """
    from pyveb_spark.operators.layout import widen_scan

    grouped = (
        widen_scan(df).select(
            F.col(id_col),
            F.explode(_window_hash_array(F.col(text_col), window)).alias("__h"),
        )
        .groupBy("__h")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("__ids"))
        .where(F.size("__ids") >= 2)
    )
    if max_window_df is not None:
        grouped = grouped.where(F.size("__ids") <= max_window_df)
    ids = F.col("__ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_structs).alias("__p"))
        .groupBy(
            F.col("__p.a").alias(f"{id_col}_a"),
            F.col("__p.b").alias(f"{id_col}_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )


def substring_duplication(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
) -> DataFrame:
    """Per-document duplicated-substring fraction: of the doc's sliding
    ``window``-token windows (by position, duplicates within the doc
    counted), the fraction whose window text occurs in ≥ 2 distinct
    documents. This is the per-doc removal metric of the ExactSubstr
    procedure (drop/trim docs whose duplicated fraction exceeds a
    threshold) without materialising pairs at all.

    Columns: ``(<id>, n_windows, dup_frac)``. Docs shorter than ``window``
    tokens have no windows and are absent from the output.

    100 TB design: two shuffles on the same key (__h): a groupBy computing
    global window document-frequency, and a join back to the positional
    windows. No self-join — cost is linear in corpus windows, which is why
    this is the production admission metric while ``exact_substring_pairs``
    is the forensic/pair view.
    """
    from pyveb_spark.operators.layout import widen_scan

    wins = widen_scan(df).select(
        F.col(id_col),
        F.explode(_window_hash_array(F.col(text_col), window)).alias("__h"),
    )
    freq = wins.groupBy("__h").agg(
        F.count_distinct(F.col(id_col)).alias("__df")
    )
    joined = wins.join(freq, "__h")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            (
                F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("dup_frac"),
        )
    )


def cross_source_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str,
    chunk_tokens: int = 12,
    delimiter: str = " ",
) -> DataFrame:
    """Pairwise CONTENT overlap between corpus partitions (sources,
    crawl dumps, snapshots): chunk every document (the ``chunk_stats``
    granularity), reduce to distinct (group, chunk-hash), and count
    shared chunks per group pair with a chunk-Jaccard. The
    contamination *matrix* — q65 answers "is my eval set leaked into
    train"; this answers "which sources are copies of each other", the
    question dedup planning starts from.

    Returns ``(group_a, group_b, shared_chunks, chunks_a, chunks_b,
    jaccard)`` for pairs with at least one shared chunk.

    100 TB design: the distinct collapses to |groups| × |distinct
    chunks per group| rows BEFORE any pairing; the pair join is keyed on
    the chunk hash, so fan-out per hash is (groups containing that
    chunk)² — bounded by |groups|², not documents. One distinct shuffle,
    one hash-keyed join, one pair aggregation; fixed-width md5 keys.

    No ``widen_scan``: the per-row work here is one split + slice + md5
    per chunk — cheap enough that a round-robin shuffle of the full
    document text costs more than it buys (measured r12: q149 ×0.73
    with the widen on, 8 cores beating 32)."""
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), delimiter)
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = (
        df.select(
            F.col(group_col).alias("__g"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - F.lit(1)),
                    lambda i: F.array_join(
                        F.slice(toks, i * chunk_tokens + 1, chunk_tokens),
                        delimiter,
                    ),
                )
            ).alias("__chunk"),
        )
        .select("__g", F.md5(F.col("__chunk").cast("binary")).alias("__h"))
        .distinct()
    )
    sizes = chunks.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
    a = chunks.select(F.col("__g").alias("group_a"), "__h")
    b = chunks.select(F.col("__g").alias("group_b"), "__h")
    pairs = (
        a.join(b, "__h")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("shared_chunks"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("__g", "group_a")),
            "group_a",
        )
        .withColumnRenamed("__n", "chunks_a")
        .join(
            F.broadcast(sizes.withColumnRenamed("__g", "group_b")),
            "group_b",
        )
        .withColumnRenamed("__n", "chunks_b")
        .select(
            "group_a",
            "group_b",
            "shared_chunks",
            F.col("chunks_a").cast("bigint").alias("chunks_a"),
            F.col("chunks_b").cast("bigint").alias("chunks_b"),
            F.round(
                F.col("shared_chunks")
                / (
                    F.col("chunks_a")
                    + F.col("chunks_b")
                    - F.col("shared_chunks")
                ),
                6,
            ).alias("jaccard"),
        )
    )


def trim_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
) -> DataFrame:
    """The APPLY step of exact-substring dedup (Lee et al. 2022 §4.1):
    rewrite each document with corpus-duplicated spans REMOVED, keeping
    one canonical occurrence corpus-wide. A ``window``-token span at
    position ``p`` of doc ``D`` is removable iff its window text occurs
    in ≥ 2 distinct documents AND ``D`` is not the minimum-id document
    containing it (the deterministic canonical-survivor rule — the same
    tie-break ``dedup_keep_first`` uses). Every token covered by at
    least one removable span is dropped; the doc's surviving tokens are
    re-joined in order. Returns
    ``(<id>, text_clean, n_tokens, n_removed)`` for every input doc
    (docs shorter than ``window`` pass through untouched).

    100 TB design: positional windows are scan-stage; span statistics
    (document frequency + canonical owner) are ONE groupBy on the
    window hash with map-side partials; removable positions shuffle
    back keyed on the hash (same key — no extra exchange) and collapse
    to a per-doc start-position array (second shuffle, keyed on the
    doc). The rewrite itself is a scan-stage higher-order filter over
    the token array — per-token cost is O(|spans in this doc|), and the
    span list rides in as a normal column, never through the driver. No
    self-join, no pair materialization: cost is linear in corpus
    windows, which is what makes the TRANSFORM (not just the metric,
    ``substring_duplication``) runnable at corpus scale.
    """
    toks = F.split(F.col(text_col), " ")
    wins = df.select(
        F.col(id_col),
        F.posexplode(
            _window_hash_array(F.col(text_col), window)
        ).alias("__p0", "__h"),
    ).select(
        id_col, (F.col("__p0") + F.lit(1)).alias("__p"), "__h"
    )
    stats = wins.groupBy("__h").agg(
        F.count_distinct(F.col(id_col)).alias("__df"),
        F.min(F.col(id_col)).alias("__owner"),
    )
    removable = (
        wins.join(stats, "__h")
        .where((F.col("__df") >= 2) & (F.col(id_col) != F.col("__owner")))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("__p")).alias("__starts"))
    )
    joined = df.join(removable, id_col, "left").withColumn(
        "__starts",
        F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
    )
    starts = F.col("__starts")
    kept = F.filter(
        toks,
        lambda tok, i: ~F.exists(
            starts,
            # i is 0-based; spans are 1-based [p, p+window)
            lambda p: (p <= i + 1) & (i + 1 < p + F.lit(window)),
        ),
    )
    n_tokens = F.size(toks)
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("text_clean"),
        n_tokens.alias("n_tokens"),
        (n_tokens - F.size(kept)).alias("n_removed"),
    )
