"""Inverted-index retrieval (BM25) over the documents table.

A training-data pipeline needs lexical retrieval constantly — benchmark
decontamination beyond exact n-gram matches (``dedup.py::decontaminate``),
"find corpus docs about X" curation queries, retrieval-augmented quality
filtering. The reference has no analogue (its search was delegated to
warehouse SQL); this is a north-star extension in the BASELINE.json sense,
built Spark-first:

- ``build_inverted_index``: one explode + two aggregations produce the
  classic (token → postings) table plus per-doc/corpus statistics. At
  100 TB the postings table is the thing you persist, bucketed by token
  (``writers.write_bucketed_table``), so every search is a bucket-pruned
  join, not a corpus scan.
- ``bm25_search``: score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)),
  the Robertson/Spärck-Jones BM25 with the standard k1=1.2, b=0.75.
  Query tokens are a literal filter pushed into the postings scan;
  scoring is one narrow aggregation over the ≤ |query|·df matching
  postings; top-k compiles to TakeOrderedAndProject (per-partition heaps).

Everything is native Catalyst expressions — no UDFs — and the arithmetic
(ln, division) is IEEE-reproducible, so BM25 queries sit under the DuckDB
value-hash oracle like the rest of the suite.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "build_inverted_index",
    "build_bm25_postings",
    "bm25_search",
    "bm25_search_indexed",
    "tfidf_doc_norms",
    "tfidf_search",
    "build_ngram_index",
    "phrase_search",
    "rrf_fuse",
]

BM25_K1 = 1.2
BM25_B = 0.75


def build_inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(postings, docstats): postings = one row per (token, doc) with term
    frequency and document frequency; docstats = per-doc token length plus
    corpus constants (N, avgdl) carried on every row so search needs no
    extra driver round-trip. Two shuffles total — (doc, token) partial
    counts combine map-side, then token-level df is a second aggregation
    the planner reuses the same key partitioning for."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    doc_freq = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    from pyveb_spark.operators.cache import cached_once

    # postings feed BM25 hits, TF-IDF norms AND TF-IDF scores — cache the
    # aggregated table so the tokenize/explode pipeline runs once per
    # corpus (persisting bucketed-by-token is the durable form at scale)
    postings = cached_once(
        tf.join(doc_freq, "token"), "retrieval.postings"
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    docstats = dl.crossJoin(F.broadcast(stats))
    return postings, docstats


def build_bm25_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """The DURABLE form of :func:`build_inverted_index`:
    ``(postings, doclens)`` with NO corpus-global columns — postings =
    ``(token, <id>, tf)``, doclens = ``(<id>, dl)``. Document frequency
    and the collection constants are deliberately NOT materialized per
    row: ``df`` is recomputed exactly from the matched postings at
    search time (every posting of a query token is in the probe's
    buckets anyway, so the count IS the global document frequency — it
    stays exact after any number of appends with zero maintenance), and
    ``N``/``Σdl`` live in the index manifest, updated incrementally per
    batch (``index_store.append_bm25_index``). That is what makes the
    persisted index APPENDABLE: a new-document wave adds purely
    additive rows, never a corpus-scale stats rewrite — the property a
    df-per-posting layout (``build_inverted_index``) cannot have."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dl = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    return tf, dl


def _bm25_topk(
    hits: DataFrame, id_col: str, k1: float, b: float, k: int
) -> DataFrame:
    """Shared BM25 scoring tail over a hits frame carrying
    ``tf/df/dl/n_docs/avgdl`` — ONE definition of the arithmetic so the
    in-session and durable-index paths cannot drift (their certified
    equality, q220 vs the q44 oracle, is an identity of this expression
    tree over identical inputs)."""
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * F.lit(k1 + 1.0) / denom
    return (
        hits.withColumn("__c", contrib)
        .groupBy(id_col)
        .agg(
            F.round(F.sum("__c"), 6).alias("bm25"),
            F.count(F.lit(1)).alias("n_matched"),
        )
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def bm25_search(
    postings: DataFrame,
    docstats: DataFrame,
    query_tokens: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k documents for a bag-of-tokens query. Duplicate query tokens
    are deduplicated (standard bag-of-words BM25). Scores are rounded to 6
    decimals with a doc-id tie-break, making the ranking reproducible
    across engines and partitionings (raw float sums are association-order
    sensitive; the rounding absorbs that)."""
    qtoks = sorted(set(query_tokens))
    hits = postings.where(F.col("token").isin(qtoks)).join(
        docstats, id_col
    )
    return _bm25_topk(hits, id_col, k1, b, k)


def bm25_search_indexed(
    postings: DataFrame,
    doclens: DataFrame,
    n_docs: int,
    sum_dl: int,
    query_tokens: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k BM25 against a DURABLE inverted index
    (``index_store.save_bm25_index`` / ``load_bm25_index``): postings
    carry only ``(token, <id>, tf)``, so document frequency is derived
    from the matched rows themselves — one tiny aggregation over the
    ≤ |q|·df postings the query-token filter already selected (every
    posting of a matched token is present, so the count equals the
    global df exactly, no matter how many appends the index absorbed).
    ``n_docs``/``sum_dl`` come from the index manifest; ``avgdl`` is
    their exact IEEE double quotient — identical to ``avg(dl)`` over
    the full doclens table. Scoring/rounding/tie-break are byte-shared
    with :func:`bm25_search` (``_bm25_topk``), so persisted == fresh is
    certified at the query level (q220 vs the q44 oracle).

    Scale shape: the query-token IN-filter bucket-prunes the
    token-bucketed postings table at the scan; the doclens join touches
    only matched docs; nothing downstream is corpus-sized."""
    qtoks = sorted(set(query_tokens))
    matched = postings.where(F.col("token").isin(qtoks))
    df_t = matched.groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    hits = (
        matched.join(df_t, "token")
        .join(doclens, id_col)
        .withColumn("n_docs", F.lit(int(n_docs)).cast("long"))
        .withColumn(
            "avgdl", F.lit(float(int(sum_dl) / int(n_docs)))
        )
    )
    return _bm25_topk(hits, id_col, k1, b, k)


def tfidf_doc_norms(
    postings: DataFrame,
    docstats: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document L2 norms of the TF-IDF vectors implied by the
    inverted index: ``w(d,t) = tf · idf(t)`` with the smooth idf
    ``ln((1+N)/(1+df)) + 1`` (never negative, never div-zero — the
    scikit-learn convention), ``norm(d) = √Σ_t w²``. Computed once at
    index-build time and persisted next to the postings; every cosine
    search then reads norms instead of re-scanning the corpus.

    One aggregation over the postings table (map-side partials); the
    corpus constant N rides in via a broadcast single-row cross join —
    no driver round-trip."""
    n_docs = docstats.select("n_docs").distinct()
    idf = (
        F.log(
            (F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df"))
        )
        + F.lit(1.0)
    )
    w = F.col("tf") * idf
    return (
        postings.crossJoin(F.broadcast(n_docs))
        .withColumn("__w2", w * w)
        .groupBy(id_col)
        .agg(F.sqrt(F.sum("__w2")).alias("norm"))
    )


def tfidf_search(
    postings: DataFrame,
    docstats: DataFrame,
    norms: DataFrame,
    query_tokens: Sequence[str],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents by TF-IDF cosine against a bag-of-tokens query
    (uniform query weights — the vector-space twin of :func:`bm25_search`;
    BM25 usually ranks better for ad-hoc queries, TF-IDF cosine is the
    standard for doc-to-doc similarity and linear classifiers).
    ``score(d) = Σ_{t∈q} tf·idf / norm(d)``, rounded to 6 decimals with a
    doc-id tie-break (float sums are association-order sensitive; the
    rounding absorbs that — the q44 contract).

    Scale shape: query tokens are a literal IN-filter pushed into the
    (token-bucketed) postings scan; one narrow aggregation over the
    ≤ |q|·df matching postings; the norm join touches only matched docs;
    top-k compiles to TakeOrderedAndProject."""
    qtoks = sorted(set(query_tokens))
    n_docs = docstats.select("n_docs").distinct()
    idf = (
        F.log(
            (F.lit(1.0) + F.col("n_docs")) / (F.lit(1.0) + F.col("df"))
        )
        + F.lit(1.0)
    )
    hits = (
        postings.where(F.col("token").isin(qtoks))
        .crossJoin(F.broadcast(n_docs))
        .withColumn("__w", F.col("tf") * idf)
    )
    return (
        hits.groupBy(id_col)
        .agg(F.sum("__w").alias("__num"), F.count(F.lit(1)).alias("n_matched"))
        .join(norms, id_col)
        .select(
            id_col,
            F.round(F.col("__num") / F.col("norm"), 6).alias("score"),
            "n_matched",
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def build_ngram_index(
    df: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional n-gram (phrase) index: one row per distinct
    ``(window_hash, doc)`` over every ``n``-token sliding window, with
    the in-doc occurrence count. The window hash is the portable
    md5-prefix construction (``dedup.portable_hash48``), so a phrase
    probe is ONE literal equality against the index — and an oracle can
    replay the hash bit-for-bit.

    100 TB design: windows are built scan-stage (no explode-shuffle
    until the single groupBy); persist the result bucketed by ``__h``
    (``writers.write_bucketed_table``) and phrase lookups become
    bucket-pruned point reads — the same serving shape as the BM25
    postings, specialized to exact phrases.
    """
    from pyveb_spark.operators.dedup import _window_hash_array

    return (
        df.select(
            F.col(id_col),
            F.explode(
                _window_hash_array(F.col(text_col), n)
            ).alias("__h"),
        )
        .groupBy("__h", id_col)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


def phrase_search(
    df: DataFrame | None,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    index: DataFrame | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """Exact token-sequence (phrase) search through the n-gram index: the
    phrase's own window hash is computed DRIVER-side as a literal and
    pushed into the index scan — no join, no text scan. Returns
    ``(<id>, n_occurrences)`` for matching docs.

    The index path is certified hash-equal to the naive
    whitespace-boundary substring scan (`` text LIKE '% phrase %'`` with
    padding) at the query level (q158) — the q132/q151
    certified-equivalence discipline: an index is only trustworthy if
    the query proves it returns exactly what the scan it replaces would.

    Pass a prebuilt (persisted/bucketed) ``index`` in production (``df``
    may then be ``None``); the default builds one from ``df`` for
    self-contained use. ``meta`` — the persisted index's build manifest
    (``index_store.load_bucketed_index``) —
    validates that the phrase's token count equals the index's window width ``n``:
    a 3-token probe against a 2-gram index hashes to a key that cannot
    exist, silently returning nothing, so the mismatch raises instead.
    """
    from pyveb_spark.operators.dedup import portable_hash48

    n = len(phrase.split(" "))
    if meta:
        from pyveb_spark.sinks.index_store import check_index_meta

        check_index_meta(meta, n=n)
    if index is None:
        if df is None:
            raise ValueError(
                "phrase_search needs either a corpus df or a prebuilt "
                "index"
            )
        index = build_ngram_index(df, n, id_col, text_col)
    probe = portable_hash48(F.lit(phrase))
    return index.where(F.col("__h") == probe).select(id_col, "n_occurrences")


def rrf_fuse(
    ranked_lists: Sequence[DataFrame],
    id_col: str = "doc_id",
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of N ranked
    lists — the standard score-free way to combine lexical (BM25) and
    dense (embedding-cosine) retrieval into one hybrid ranking: each
    input carries ``(id_col, rank)`` with rank starting at 1, the fused
    score is ``Σ_lists 1/(rrf_k + rank)``, and ties break on id. RRF
    needs no score calibration between the lists (BM25 logs and cosine
    similarities live on incomparable scales), which is why it is the
    default hybrid fusion in production search stacks.

    Returns ``(id_col, rrf_score, n_lists)`` — top ``k`` by
    ``(rrf_score desc, id asc)``, score rounded to 6 decimals (the q44
    cross-engine rank-stability contract).

    Scale shape: the inputs are already top-k'd (heap-sized, not
    corpus-sized), so the union + one id-keyed aggregation is bounded by
    N·k rows no matter the corpus; the final top-k compiles to
    TakeOrderedAndProject."""
    if not ranked_lists:
        raise ValueError("rrf_fuse needs at least one ranked list")
    parts = [
        df.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(int(rrf_k)) + F.col("rank").cast("double"))
             ).alias("__c"),
        )
        for df in ranked_lists
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy(id_col)
        .agg(
            F.round(F.sum("__c"), 6).alias("rrf_score"),
            F.count(F.lit(1)).alias("n_lists"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(int(k))
    )
