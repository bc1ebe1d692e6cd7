"""Document dedup: exact, n-gram Jaccard, MinHash LSH, SimHash, substring, clustering, decontamination.

Split from the round-4 queries.py monolith; float determinism contract
in ``pyveb_spark.queries.__doc__``. Registry/gate-window order lives in
``pyveb_spark/queries/__init__.py`` only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyveb_spark.operators.cleaning import clean_old_dates
from pyveb_spark.operators.joins import asof_join
from pyveb_spark.queries._helpers import (
    QueryScratch,
    _dec,
    _query_vec,
    scratch_query,
)
from pyveb_spark.sources.readers import read_table



# ---------------------------------------------------------------------------
# dedup: keep-first by key (common.py:294-303 ≙ row_number()==1)
# ---------------------------------------------------------------------------

def q16_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the first record per (lang, source) by doc_id ↔ the reference's
    by-key keep-first dedup over list-of-dicts (``common.py:294-303``).
    Implemented as min_by-style window rank; at scale this is one shuffle on
    the dedup key with partial aggregation."""
    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


_Q16_SQL = """
SELECT doc_id, lang, source, n_chars
FROM (
    SELECT doc_id, lang, source, n_chars,
           ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rk
    FROM documents) t
WHERE rk = 1
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# LLM ops: exact n-gram Jaccard near-dup pairs (deterministic; oracle-able)
# ---------------------------------------------------------------------------

def q17_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard near-duplicate pairs at threshold 0.8.

    Exact algorithm with shared-shingle blocking: a pair with Jaccard ≥ t>0
    must share ≥1 shingle, so joining on the shingle loses nothing — the
    result is identical to the O(n²) brute force the oracle runs. Scale
    path: the shingle join's fan-out is bounded by shingle document
    frequency; production use drops ultra-frequent shingles or switches to
    the MinHash-LSH variant (``operators.dedup.minhash_dedup_pairs``,
    rows-only checked) when the corpus no longer fits this plan.
    """
    from pyveb_spark.operators.dedup import ngram_jaccard_pairs

    d = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", n=2, threshold=0.8
    ).orderBy("doc_id_a", "doc_id_b")


_Q17_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS g
          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) s),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS intersection
          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT doc_id_a, doc_id_b,
       intersection * 1.0 / (sa.n + sb.n - intersection) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_id_a
JOIN sizes sb ON sb.doc_id = doc_id_b
WHERE intersection * 1.0 / (sa.n + sb.n - intersection) >= 0.8
ORDER BY doc_id_a, doc_id_b
"""


# ---------------------------------------------------------------------------
# MinHash / SimHash — fully oracle-checked: every hash in the pipeline is
# the portable md5-prefix scheme (operators/dedup.py::portable_hash48), so
# the DuckDB SQL below replays signatures, banding, candidates, and verify
# bit-for-bit.
# ---------------------------------------------------------------------------

def q28_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate near-dup pairs (MinHash banding + exact verify). The
    oracle replays the identical construction: 48-bit md5 shingle hashes,
    32 multiply-add minhash functions, 8 md5-keyed bands, exact-Jaccard
    verify — recall vs the exact q17 pairs is additionally asserted in
    tests/test_sources_llmops.py."""
    from pyveb_spark.operators.dedup import minhash_lsh_pairs

    d = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=32, bands=8, threshold=0.8
    ).orderBy("doc_id_a", "doc_id_b")


def _minhash_sql_exprs(num_hashes: int = 32) -> str:
    """The 32 DuckDB minhash expressions, generated from the SAME
    ``minhash_coeffs`` the Spark operator uses — single source of truth
    for the (a, b) constants."""
    from pyveb_spark.operators.dedup import _MERSENNE61, minhash_coeffs

    exprs = []
    for s in range(num_hashes):
        a, b = minhash_coeffs(s)
        exprs.append(
            f"list_min(list_transform(gh, x -> ({a}*x + {b}) % {_MERSENNE61}))"
        )
    return ",\n    ".join(exprs)


def _band_sql_exprs(num_hashes: int = 32, bands: int = 8) -> str:
    r = num_hashes // bands
    out = []
    for b in range(bands):
        parts = " || '|' || ".join(
            f"mh[{b * r + i + 1}]::VARCHAR" for i in range(r)
        )
        out.append(f"('0x' || substr(md5({parts}), 1, 12))::BIGINT")
    return ",\n    ".join(out)


# the oracle mirrors the operator's default hot-bucket cap — one constant
from pyveb_spark.operators.dedup import (  # noqa: E402
    DEFAULT_MAX_BUCKET_SIZE as _LSH_CAP,
)

_Q28_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gs
          FROM toks),
hashed AS (SELECT doc_id,
                  list_transform(gs, g -> ('0x' || substr(md5(g), 1, 12))::BIGINT) AS gh,
                  len(gs) AS n
           FROM grams),
sigs AS (SELECT doc_id, gh, n, [
    {_minhash_sql_exprs(32)}
  ] AS mh
  FROM hashed WHERE n > 0),
bandvals AS (SELECT doc_id, [
    {_band_sql_exprs(32, 8)}
  ] AS bh
  FROM sigs),
banded AS (SELECT doc_id, generate_subscripts(bh, 1) AS band, unnest(bh) AS h
           FROM bandvals),
bsz AS (SELECT band, h, COUNT(*) AS m FROM banded GROUP BY band, h),
bandedc AS (SELECT banded.doc_id, banded.band, banded.h
            FROM banded JOIN bsz USING (band, h)
            WHERE m <= {_LSH_CAP}),
cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         FROM bandedc a JOIN bandedc b
           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id)
SELECT ida AS doc_id_a, idb AS doc_id_b,
       len(list_intersect(ga.gh, gb.gh)) * 1.0
         / (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh))) AS jaccard
FROM cand
JOIN hashed ga ON ga.doc_id = ida
JOIN hashed gb ON gb.doc_id = idb
WHERE len(list_intersect(ga.gh, gb.gh)) * 1.0
        / (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh))) >= 0.8
ORDER BY doc_id_a, doc_id_b
"""


def q29_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document — oracle-checked: the fingerprint is
    rebuilt in DuckDB from the same 15-hex md5 token hashes; Hamming-
    closeness of near-dups additionally asserted in unit tests."""
    from pyveb_spark.operators.dedup import simhash

    d = read_table(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text").orderBy("doc_id")


_SIMHASH_FP_SQL = """
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
bits AS (SELECT doc_id, b,
                SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bl
         GROUP BY doc_id, b),
fp AS (SELECT doc_id,
              CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)
                   AS BIGINT) AS simhash
       FROM bits GROUP BY doc_id)
"""

_Q29_SQL = f"""
WITH {_SIMHASH_FP_SQL}
SELECT doc_id, simhash FROM fp ORDER BY doc_id
"""

_Q64_SQL = f"""
WITH {_SIMHASH_FP_SQL},
banded AS (SELECT doc_id, simhash, band,
                  (simhash >> (band * 15)) & 32767 AS v
           FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
cand AS (SELECT DISTINCT a.doc_id AS ida, a.simhash AS fa,
                         b.doc_id AS idb, b.simhash AS fb
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id)
SELECT ida AS doc_id_a, idb AS doc_id_b, bit_count(xor(fa, fb)) AS hamming
FROM cand
WHERE bit_count(xor(fa, fb)) <= 3
ORDER BY doc_id_a, doc_id_b
"""


# ---------------------------------------------------------------------------
# LLM ops: content-fingerprint exact-duplicate groups (text.py
# doc_fingerprint ↔ reference dataclass hashes dbt_client.py:45-58,649-658)
# ---------------------------------------------------------------------------

def q86_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs whose 12-token *prefix* fingerprint collides — prefix blocking
    catches template/head duplicates (the fixture has no whole-doc exact
    dups below sf0.1, so whole-doc hashing would be a vacuous 0-row
    query; prefix-12 yields ~45 collided docs at every SF). Oracle groups
    by the normalized prefix itself — equal modulo xxhash64 collisions
    (~n²/2⁶⁵)."""
    from pyveb_spark.operators.text import doc_fingerprint

    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint")
    return (
        doc_fingerprint(d, prefix_tokens=12)
        .withColumn("n_dups", F.count(F.lit(1)).over(w))
        .where(F.col("n_dups") > 1)
        .select("doc_id", "n_dups")
        .orderBy("doc_id")
    )


_Q86_SQL = r"""
WITH g AS (SELECT doc_id,
                  array_to_string(
                    (string_split(
                       trim(lower(regexp_replace(text, '\s+', ' ', 'g'))),
                       ' '))[1:12], ' ') AS nt
           FROM documents),
c AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY nt) AS n_dups FROM g)
SELECT doc_id, n_dups FROM c WHERE n_dups > 1 ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# LLM ops: near-dup clusters (connected components) + representative pick
# ---------------------------------------------------------------------------

def q41_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters → keep-one: the full dedup decision pipeline.

    Near-dup pairs (q17's exact algorithm) are clustered with alternating
    large-star/small-star connected components (``duplicate_clusters``),
    singleton docs rejoin as their own cluster, and one representative per
    cluster is chosen (longest text, ties to smallest doc_id) — exactly
    what a 100 TB corpus dedup emits: every doc labeled keep/drop.
    The oracle reproduces the clustering with a recursive CTE (min-label
    reachability), which only DuckDB-side smallness permits — the Spark
    plan is the one that scales.
    """
    from pyveb_spark.operators.dedup import duplicate_clusters, ngram_jaccard_pairs

    d = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, id_col="doc_id", text_col="text", n=2, threshold=0.8)
    clustered = duplicate_clusters(
        pairs, "doc_id_a", "doc_id_b", out_node="doc_id", out_cluster="cluster_id"
    )
    singles = d.select("doc_id").join(clustered, "doc_id", "left_anti").select(
        F.col("doc_id"), F.col("doc_id").alias("cluster_id")
    )
    labeled = clustered.union(singles).join(
        d.select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("cluster_id")
    rk = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    )
    return (
        labeled.select(
            "doc_id",
            "cluster_id",
            F.count(F.lit(1)).over(w).alias("cluster_size"),
            (rk == 1).cast("int").alias("is_representative"),
        )
        .orderBy("doc_id")
    )


_Q41_SQL = """
WITH RECURSIVE
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS g
          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) s),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
cand AS (SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS isect
         FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
pairs AS (SELECT u, v FROM cand
          JOIN sizes sa ON sa.doc_id = u JOIN sizes sb ON sb.doc_id = v
          WHERE isect * 1.0 / (sa.n + sb.n - isect) >= 0.8),
edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach(u, x) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
    UNION
    SELECT e.u, r.x FROM edges e JOIN reach r ON r.u = e.v),
comp AS (SELECT u AS doc_id, MIN(x) AS cluster_id FROM reach GROUP BY u),
labeled AS (
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id, d.n_chars
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY n_chars DESC, doc_id ASC) = 1 AS INT)
         AS is_representative
FROM labeled
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# LLM ops: winnowing fingerprints → shared-passage doc pairs
# ---------------------------------------------------------------------------

def q80_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-similarity detection: docs sharing ≥ 2 winnowed rolling-hash
    fingerprints (word 3-grams, window 4) — catches copied *passages* that
    whole-doc hashing (q86) misses and set-similarity (q17) underweights.
    Explode + equi-join on the fingerprint: the 100 TB plan is a shuffle
    keyed on 48-bit hashes, fan-out bounded by fingerprint document
    frequency (winnowing keeps ~2/(w+1) of grams, so postings stay sparse).
    """
    from pyveb_spark.operators.text import winnow_pairs

    d = read_table(spark, sf_dir, "documents")
    return winnow_pairs(
        d, id_col="doc_id", text_col="text", k=3, w=4, min_shared=2
    ).orderBy("doc_id_a", "doc_id_b")


_Q80_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT doc_id,
             list_transform(generate_series(1, greatest(len(t) - 2, 0)),
                 i -> substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 12)) AS h
      FROM toks),
fp AS (SELECT doc_id,
              list_distinct(list_transform(
                  generate_series(1, greatest(len(h) - 3, least(len(h), 1))),
                  j -> list_min(h[j:j+3]))) AS f
       FROM g),
ex AS (SELECT doc_id, unnest(f) AS fh FROM fp)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_shared
FROM ex a JOIN ex b ON a.fh = b.fh AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY doc_id_a, doc_id_b
"""


# ---------------------------------------------------------------------------
# LLM ops: sub-document exact dedup (C4/CCNet line-dedup shape)
# ---------------------------------------------------------------------------

def q55_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-chunk profile: split every document into
    12-token chunks, mark each chunk a duplicate if the identical text
    occurred earlier in the corpus stream (global keep-first order), and
    report per-doc counts + duplicate fraction — the signal CCNet-style
    pipelines threshold to drop boilerplate-heavy documents."""
    from pyveb_spark.operators.dedup import chunk_stats

    d = read_table(spark, sf_dir, "documents")
    return chunk_stats(d, "doc_id", "text", chunk_tokens=12).orderBy(
        "doc_id"
    )


_Q55_SQL = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
c AS (
  SELECT doc_id, i AS pos,
         array_to_string(toks[(i * 12 + 1):(i * 12 + 12)], ' ') AS chunk
  FROM (SELECT doc_id, toks,
               unnest(generate_series(
                   0, CAST(ceil(len(toks) / 12.0) AS BIGINT) - 1)) AS i
        FROM d)
),
r AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rk
  FROM c
)
SELECT doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_chunks,
       ROUND(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) / COUNT(*), 4)
           AS dup_frac
FROM r
GROUP BY doc_id
ORDER BY doc_id
"""


def q45_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission — the PRODUCTION dedup shape at
    100 TB: check a new batch (doc_id < 100) against a prebuilt banded
    MinHash index of the corpus (doc_id ≥ 100) instead of re-running
    all-pairs; cost scales with the batch. Same portable hash pipeline as
    q28, so the oracle replays index build, band-join candidates, and the
    exact-Jaccard verify. The batch↔corpus restriction of q28's pairs is
    also pinned equal in tests/test_sources_llmops.py.

    Runs the PRODUCTION blacklist shape end-to-end: the index postings
    are persisted (the bucketed-table stand-in) and the skew blacklist
    is derived ONCE from them and passed as ``hot_buckets=`` — the
    lookup plan carries no per-batch blacklist aggregation
    (plan-gated, tests/test_plan_quality.py)."""
    from pyveb_spark.operators.cache import cached_once
    from pyveb_spark.operators.dedup import (
        minhash_hot_buckets,
        minhash_lsh_index,
        minhash_lsh_lookup,
    )

    d = read_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") >= 100)
    batch = d.where(F.col("doc_id") < 100)
    index = cached_once(
        minhash_lsh_index(corpus, "doc_id", "text"), "q45_index"
    )
    hot = cached_once(minhash_hot_buckets(index), "q45_hot_buckets")
    return minhash_lsh_lookup(
        batch, index, "doc_id", "text", threshold=0.8, hot_buckets=hot
    ).orderBy("doc_id_new", "doc_id_corpus")


_Q45_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gs
          FROM toks),
hashed AS (SELECT doc_id,
                  list_transform(gs, g -> ('0x' || substr(md5(g), 1, 12))::BIGINT) AS gh,
                  len(gs) AS n
           FROM grams),
sigs AS (SELECT doc_id, gh, n, [
    {_minhash_sql_exprs(32)}
  ] AS mh
  FROM hashed WHERE n > 0),
bandvals AS (SELECT doc_id, gh, n, [
    {_band_sql_exprs(32, 8)}
  ] AS bh
  FROM sigs),
banded AS (SELECT doc_id, gh, n,
                  generate_subscripts(bh, 1) AS band, unnest(bh) AS h
           FROM bandvals),
bsz AS (SELECT band, h, COUNT(*) AS m FROM banded
        WHERE doc_id >= 100 GROUP BY band, h),
corpusb AS (SELECT banded.doc_id, banded.band, banded.h
            FROM banded JOIN bsz USING (band, h)
            WHERE banded.doc_id >= 100 AND m <= {_LSH_CAP}),
cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         FROM banded a JOIN corpusb b ON a.band = b.band AND a.h = b.h
         WHERE a.doc_id < 100)
SELECT ida AS doc_id_new, idb AS doc_id_corpus,
       len(list_intersect(ga.gh, gb.gh)) * 1.0
         / (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh))) AS jaccard
FROM cand
JOIN hashed ga ON ga.doc_id = ida
JOIN hashed gb ON gb.doc_id = idb
WHERE len(list_intersect(ga.gh, gb.gh)) * 1.0
        / (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh))) >= 0.8
ORDER BY doc_id_new, doc_id_corpus
"""


# ---------------------------------------------------------------------------
# LLM ops: benchmark decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------

def q65_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sweep: treating the first 50 documents as the held-
    out benchmark, flag every training document sharing a distinct 5-gram
    with any benchmark item (the GPT-3/PaLM-style overlap check run
    before training). Benchmark postings broadcast; the corpus streams
    through one scan — no corpus shuffle, no self-join."""
    from pyveb_spark.operators.dedup import contamination_check

    d = read_table(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("bench_id"), F.col("text").alias("btext")
    )
    corpus = d.where(F.col("doc_id") >= 50)
    return contamination_check(
        corpus, bench, "doc_id", "text", "bench_id", "btext",
        n=5, min_overlap=1,
    ).orderBy("doc_id", "bench_id")


_Q65_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT DISTINCT doc_id,
                 t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                      || ' ' || t[i+4] AS g
          FROM toks,
               LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i) s),
bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id < 50),
corp AS (SELECT doc_id, g FROM grams WHERE doc_id >= 50)
SELECT corp.doc_id, bench_id, COUNT(*) AS n_shared
FROM corp JOIN bench USING (g)
GROUP BY corp.doc_id, bench_id
HAVING COUNT(*) >= 1
ORDER BY doc_id, bench_id
"""


# ---------------------------------------------------------------------------
# LLM ops: SimHash near-dup pairs via pigeonhole banding
# (rows-only: xxhash64-seeded fingerprints aren't reproducible in DuckDB;
# the pigeonhole-losslessness contract is pinned in unit tests)
# ---------------------------------------------------------------------------

def q64_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs within Hamming distance 3 of each other's SimHash —
    the constant-cost near-dup screen (one 60-bit fingerprint per doc, 4
    band-bucket joins) that complements q17's exact Jaccard and q28's
    MinHash: blocking here is *lossless* by pigeonhole, so this is the
    cheap first pass a 100 TB dedup runs before any expensive verify."""
    from pyveb_spark.operators.dedup import simhash_pairs

    d = read_table(spark, sf_dir, "documents")
    return simhash_pairs(
        d, "doc_id", "text", max_hamming=3, bands=4
    ).orderBy("doc_id_a", "doc_id_b")


# ---------------------------------------------------------------------------
# LLM ops: exact-substring window dedup (ExactSubstr family, Lee et al. 2022)
# ---------------------------------------------------------------------------

def q89_exact_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc pairs sharing ≥ 1 exact 8-token substring, with shared-window
    counts — the pair/forensic view of exact-substring dedup, as hashed
    sliding windows + a postings self-join (a distributed re-expression of
    the suffix-array ExactSubstr procedure, which is single-machine by
    construction). Window hashes are the portable md5-prefix construction,
    so the oracle replays them bit-for-bit; the window-document-frequency
    cap (1000, no-op on this fixture where max df = 4) bounds join fan-out
    at scale and is mirrored in the SQL.
    """
    from pyveb_spark.operators.dedup import exact_substring_pairs

    d = read_table(spark, sf_dir, "documents")
    return exact_substring_pairs(
        d, id_col="doc_id", text_col="text", window=8, max_window_df=1000
    ).orderBy("doc_id_a", "doc_id_b")


_Q89_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
wins AS (SELECT DISTINCT doc_id,
                ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 12))::BIGINT AS h
         FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-7)) AS i) s),
freq AS (SELECT h, COUNT(*) AS df FROM wins GROUP BY h),
keep AS (SELECT w.doc_id, w.h FROM wins w JOIN freq f USING (h) WHERE f.df <= 1000)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_shared_windows
FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY doc_id_a, doc_id_b
"""


def q90_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-substring fraction (the ExactSubstr admission
    metric): of each doc's positional 8-token windows, the fraction whose
    text occurs in ≥ 2 distinct docs. Linear in corpus windows — no
    self-join — so this is the shape that scans 100 TB; q89 is the pair
    view. Single final int/int double division keeps the float
    deterministic across engines.
    """
    from pyveb_spark.operators.dedup import substring_duplication

    d = read_table(spark, sf_dir, "documents")
    return (
        substring_duplication(d, id_col="doc_id", text_col="text", window=8)
        .select("doc_id", "n_windows", "dup_frac")
        .orderBy("doc_id")
    )


_Q90_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
wins AS (SELECT doc_id,
                ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 12))::BIGINT AS h
         FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-7)) AS i) s),
freq AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM wins GROUP BY h)
SELECT w.doc_id, COUNT(*) AS n_windows,
       CAST(SUM(CASE WHEN f.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_frac
FROM wins w JOIN freq f USING (h)
GROUP BY w.doc_id
ORDER BY w.doc_id
"""


def q149_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination MATRIX
    (``dedup.py::cross_source_overlap``): which corpus sources share
    verbatim 12-token chunks, with chunk-Jaccard — the question dedup
    planning starts from (q65 answers train↔eval leakage; this answers
    source↔source duplication). Distinct (source, chunk-hash) collapses
    the corpus before any pairing; the pair join fans out per chunk by
    at most |sources|². Top 20 pairs by shared chunks."""
    from pyveb_spark.operators.dedup import cross_source_overlap

    d = read_table(spark, sf_dir, "documents")
    out = cross_source_overlap(d, "source", "text", chunk_tokens=12)
    return out.orderBy(
        F.col("shared_chunks").desc(), "group_a", "group_b"
    ).limit(20)


_Q149_SQL = """
WITH d AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
c AS (
  SELECT DISTINCT source,
         md5(array_to_string(toks[(i * 12 + 1):(i * 12 + 12)], ' ')) AS h
  FROM (SELECT source, toks,
               unnest(generate_series(
                   0, CAST(ceil(len(toks) / 12.0) AS BIGINT) - 1)) AS i
        FROM d)),
sizes AS (SELECT source, COUNT(*)::BIGINT AS n FROM c GROUP BY source),
pairs AS (
  SELECT a.source AS group_a, b.source AS group_b,
         COUNT(*)::BIGINT AS shared_chunks
  FROM c a JOIN c b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2)
SELECT group_a, group_b, shared_chunks,
       sa.n AS chunks_a, sb.n AS chunks_b,
       ROUND(shared_chunks / CAST(sa.n + sb.n - shared_chunks AS DOUBLE),
             6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.source = group_a
JOIN sizes sb ON sb.source = group_b
ORDER BY shared_chunks DESC, group_a, group_b
LIMIT 20
"""


def q156_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of exact-substring dedup
    (``dedup.py::trim_duplicate_spans``, Lee et al. 2022 §4.1): rewrite
    every document with corpus-duplicated 8-token spans removed, keeping
    the minimum-id canonical occurrence. q89/q90 are the metric views of
    this procedure; this is the actual TRANSFORM a training corpus
    ships through, oracle-checked down to the rewritten text itself
    (the oracle replays windows → df/owner stats → coverage mask →
    in-order token reassembly)."""
    from pyveb_spark.operators.dedup import trim_duplicate_spans

    d = read_table(spark, sf_dir, "documents")
    return (
        trim_duplicate_spans(d, "doc_id", "text", window=8)
        .orderBy("doc_id")
    )


_Q156_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
wins AS (SELECT doc_id, i AS p,
                ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 12))::BIGINT AS h
         FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-7)) AS i) s),
stats AS (SELECT h, COUNT(DISTINCT doc_id) AS df, MIN(doc_id) AS owner
          FROM wins GROUP BY h),
removable AS (SELECT w.doc_id, w.p FROM wins w JOIN stats s USING (h)
              WHERE s.df >= 2 AND w.doc_id <> s.owner),
tokidx AS (SELECT doc_id, u.tok, u.i
           FROM toks, LATERAL (SELECT unnest(t) AS tok,
                                      generate_subscripts(t, 1) AS i) u),
mask AS (SELECT ti.doc_id, ti.tok, ti.i,
                NOT EXISTS (SELECT 1 FROM removable r
                            WHERE r.doc_id = ti.doc_id
                              AND r.p <= ti.i AND ti.i < r.p + 8) AS keep
         FROM tokidx ti)
SELECT doc_id,
       COALESCE(string_agg(tok, ' ' ORDER BY i) FILTER (WHERE keep), '')
         AS text_clean,
       COUNT(*) AS n_tokens,
       COUNT(*) FILTER (WHERE NOT keep) AS n_removed
FROM mask
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# LLM ops: duplicate-aware repeat weighting (Muennighoff 2023)
# ---------------------------------------------------------------------------

def q168_repeat_weighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware repeat weighting over the corpus: exact-duplicate
    classes collapse to their min-id representative carrying
    ``n_copies^0.5`` — the training-mix middle ground between keep-all
    (over-weights boilerplate) and hard dedup (discards the canonicality
    signal), per the data-constrained-scaling measurements that repeated
    data decays in value per epoch (Muennighoff 2023). One md5-keyed
    groupBy; digests shuffle, texts don't. The weight column feeds
    ``sampling.weighted_sample`` or per-example loss downstream."""
    from pyveb_spark.operators.dedup import repeat_weighted_dedup

    d = read_table(spark, sf_dir, "documents")
    return repeat_weighted_dedup(d, "doc_id", "text", alpha=0.5).orderBy(
        "doc_id"
    )


_Q168_SQL = """
SELECT MIN(doc_id) AS doc_id,
       COUNT(*)::BIGINT AS n_copies,
       ROUND(POWER(COUNT(*), 0.5), 4) AS weight
FROM documents
GROUP BY md5(text)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# LLM ops: FUZZY benchmark decontamination (MinHash-LSH, paraphrase-robust)
# ---------------------------------------------------------------------------

def q172_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination sweep — the paraphrase-robust complement to
    q65's exact n-gram check: treating every tenth document as the
    held-out benchmark, flag training docs whose bigram Jaccard to ANY
    benchmark item reaches 0.7 (``dedup.fuzzy_decontaminate``). The eval
    set is indexed (benchmark-sized postings — broadcastable at any
    corpus scale); the corpus streams through one LSH lookup pass with
    exact-Jaccard verification, so the flags are real similarities. The
    oracle replays index build, band candidates, cap, verify, and the
    per-doc aggregation — the q45 pipeline with the roles flipped."""
    from pyveb_spark.operators.dedup import fuzzy_decontaminate

    d = read_table(spark, sf_dir, "documents")
    eval_docs = d.where(F.col("doc_id") % 10 == 0)
    corpus = d.where(F.col("doc_id") % 10 != 0)
    return fuzzy_decontaminate(
        corpus, eval_docs, "doc_id", "text", threshold=0.7
    ).orderBy("doc_id")


_Q172_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gs
          FROM toks),
hashed AS (SELECT doc_id,
                  list_transform(gs, g -> ('0x' || substr(md5(g), 1, 12))::BIGINT) AS gh,
                  len(gs) AS n
           FROM grams),
sigs AS (SELECT doc_id, gh, n, [
    {_minhash_sql_exprs(32)}
  ] AS mh
  FROM hashed WHERE n > 0),
bandvals AS (SELECT doc_id, gh, n, [
    {_band_sql_exprs(32, 8)}
  ] AS bh
  FROM sigs),
banded AS (SELECT doc_id, gh, n,
                  generate_subscripts(bh, 1) AS band, unnest(bh) AS h
           FROM bandvals),
bsz AS (SELECT band, h, COUNT(*) AS m FROM banded
        WHERE doc_id % 10 = 0 GROUP BY band, h),
evalb AS (SELECT banded.doc_id, banded.band, banded.h
          FROM banded JOIN bsz USING (band, h)
          WHERE banded.doc_id % 10 = 0 AND m <= {{cap}}),
cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         FROM banded a JOIN evalb b ON a.band = b.band AND a.h = b.h
         WHERE a.doc_id % 10 <> 0),
pairs AS (SELECT ida, idb,
                 len(list_intersect(ga.gh, gb.gh)) * 1.0
                   / (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh))) AS j
          FROM cand
          JOIN hashed ga ON ga.doc_id = ida
          JOIN hashed gb ON gb.doc_id = idb)
SELECT ida AS doc_id,
       COUNT(*)::BIGINT AS n_eval_matches,
       ROUND(MAX(j), 4) AS max_jaccard
FROM pairs WHERE j >= 0.7
GROUP BY ida
ORDER BY doc_id
""".replace("{cap}", str(_LSH_CAP))


# ---------------------------------------------------------------------------
# LLM ops: quality-aware dup-cluster survivorship (round-8 head)
# ---------------------------------------------------------------------------

def q185_quality_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivorship over near-dup clusters — what a
    production dedup actually emits: within each connected component of
    near-dup pairs (q41's exact-Jaccard pairs + alternating-star CC,
    unchanged), keep the HIGHEST-quality member (the q27 composite score;
    ties to the lowest doc_id), not the longest or the first-seen — and
    report per cluster what the policy dropped (member count, token
    mass). q16/q41 certify keep-first/longest; this certifies the
    score-driven policy, which is the one that changes downstream model
    quality (the dedup papers' recommendation: dedup should delete the
    WORSE copy).

    Determinism: selection compares the RAW score double (bit-identical
    across engines — every term a single IEEE op on integer inputs, the
    q181 contract) with the doc_id tie-break; only the reported score
    rounds. Cluster labels are the CC min-label fixpoint both engines
    already agree on (q41). Scale: the pairs/CC cost IS q41 (measured
    sf1 ~5x for 10x); the survivorship adds ONE groupBy of
    (cluster, score, id, tokens) and one kept-id join back."""
    from pyveb_spark.operators.dedup import (
        duplicate_clusters,
        ngram_jaccard_pairs,
    )
    from pyveb_spark.operators.text import quality_score

    d = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", n=2, threshold=0.8
    )
    clustered = duplicate_clusters(
        pairs, "doc_id_a", "doc_id_b",
        out_node="doc_id", out_cluster="cluster_id",
    )
    scored = quality_score(d, "text").select(
        "doc_id",
        F.col("quality_score").alias("s"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    m = clustered.join(scored, "doc_id")
    # kept_tokens is the n_tokens of the SAME argmax row max_by already
    # selects for kept_id ((s, -doc_id) is unique per cluster since
    # doc_id is), so a second max_by on the identical key replaces the
    # old join-back through a fresh `scored` subtree — which re-ran the
    # whole quality_score scan (split + regex over every doc) a second
    # time per action, Spark sharing no subtrees across join branches
    # (guide §5 / §2.4). One aggregation, zero join-backs, same rows.
    grp = m.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max_by(
            "doc_id", F.struct(F.col("s"), (-F.col("doc_id")).alias("neg"))
        ).alias("kept_id"),
        F.max_by(
            "n_tokens", F.struct(F.col("s"), (-F.col("doc_id")).alias("neg"))
        ).alias("kept_tokens"),
        F.max("s").alias("s_max"),
        F.sum("n_tokens").alias("tok_all"),
    )
    return (
        grp
        .select(
            "cluster_id",
            "n_members",
            "kept_id",
            F.round("s_max", 4).alias("kept_score"),
            (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
            (F.col("tok_all") - F.col("kept_tokens"))
            .cast("bigint")
            .alias("tokens_dropped"),
        )
        .orderBy("cluster_id")
    )


_Q185_SQL = """
WITH RECURSIVE
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS g
          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) s),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
cand AS (SELECT a.doc_id AS u, b.doc_id AS v, COUNT(*) AS isect
         FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
pairs AS (SELECT u, v FROM cand
          JOIN sizes sa ON sa.doc_id = u JOIN sizes sb ON sb.doc_id = v
          WHERE isect * 1.0 / (sa.n + sb.n - isect) >= 0.8),
edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach(u, x) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
    UNION
    SELECT e.u, r.x FROM edges e JOIN reach r ON r.u = e.v),
comp AS (SELECT u AS doc_id, MIN(x) AS cluster_id FROM reach GROUP BY u),
stats AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
           len(list_distinct(string_split(text, ' '))) AS n_unique
    FROM documents),
scored AS (
    SELECT doc_id, n_tokens,
           least(n_tokens / 50.0, 1.0) * 0.4
             + (CAST(n_unique AS DOUBLE) / n_tokens) * 0.4
             + least((CAST(n_stop AS DOUBLE) / n_tokens) * 5.0, 1.0) * 0.2
             AS s
    FROM stats),
m AS (SELECT c.cluster_id, c.doc_id, sc.s, sc.n_tokens
      FROM comp c JOIN scored sc USING (doc_id)),
rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                    ORDER BY s DESC, doc_id ASC) AS r
       FROM m)
SELECT cluster_id,
       COUNT(*)::BIGINT AS n_members,
       MAX(CASE WHEN r = 1 THEN doc_id END) AS kept_id,
       ROUND(MAX(s), 4) AS kept_score,
       (COUNT(*) - 1)::BIGINT AS n_dropped,
       (SUM(n_tokens) - MAX(CASE WHEN r = 1 THEN n_tokens END))::BIGINT
         AS tokens_dropped
FROM rk
GROUP BY cluster_id
ORDER BY cluster_id
"""


# ---------------------------------------------------------------------------
# LLM ops: dedup threshold sweep (round-8 head)
# ---------------------------------------------------------------------------

def q186_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning audit for near-dup dedup: the pair/doc/token
    impact of every candidate Jaccard threshold, from ONE pass of the
    exact pair machinery (q17's prefix-filtered set-similarity join at
    the loosest threshold 0.6) — never one re-run per threshold. For
    each t ∈ {0.6, 0.7, 0.8, 0.9} it reports how many pairs survive, how
    many distinct docs are flagged (the higher-id member of each pair —
    keep-first convention), and the flagged docs' token mass — the table
    an operator reads before committing a production threshold, where
    each 0.1 step can swing the deleted volume by an order of magnitude.

    Scale: the pair join runs ONCE at the loosest threshold (its cost is
    q17's, measured); the sweep itself is an explode of a 4-element
    literal array over the pair set + two grouped aggregations. Exact
    integer outputs except the threshold key itself."""
    from pyveb_spark.operators.dedup import ngram_jaccard_pairs

    d = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", n=2, threshold=0.6
    )
    return _sweep_pair_thresholds(d, pairs)


def _sweep_pair_thresholds(d: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared sweep tail of q186/q205: explode a 4-element threshold
    array over a verified ``(doc_id_a, doc_id_b, jaccard)`` pair set and
    report per-threshold pair/doc/token impact (keep-first convention:
    the higher id of each pair is the flagged copy)."""
    # The tail fans ``pairs`` into TWO aggregation branches (pair counts
    # + flagged-doc impact); Spark shares no subtrees across branches,
    # so without a pin the whole candidate/verify pipeline — the
    # dominant cost at the loosest threshold — executes twice per
    # action (guide §5; measured 11.8 → ~6 s at sf0.1 for q186).
    # The verified pair set itself is rows of (id, id, double) — tiny
    # at any corpus size — so an eager batch-sized materialization is
    # the right cut point.
    pairs = pairs.localCheckpoint(eager=True)
    thresholds = F.array(*[F.lit(t) for t in (0.6, 0.7, 0.8, 0.9)])
    swept = pairs.select(
        "doc_id_a", "doc_id_b", "jaccard",
        F.explode(thresholds).alias("threshold"),
    ).where(F.col("jaccard") >= F.col("threshold"))
    pair_counts = swept.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    ntok = F.size(F.split("text", " ")).cast("bigint")
    flagged = (
        swept.select("threshold", F.col("doc_id_b").alias("doc_id"))
        .distinct()
        .join(d.select("doc_id", ntok.alias("n_tokens")), "doc_id")
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_docs_flagged"),
            F.sum("n_tokens").alias("tokens_flagged"),
        )
    )
    return (
        pair_counts.join(flagged, "threshold", "left")
        .select(
            F.round("threshold", 1).alias("threshold"),
            "n_pairs",
            F.coalesce(F.col("n_docs_flagged"), F.lit(0)).alias(
                "n_docs_flagged"
            ),
            "tokens_flagged",
        )
        .orderBy("threshold")
    )


_SWEEP_TAIL_SQL = """
swept AS (SELECT p.*, t.threshold
          FROM pairs p
          JOIN (VALUES (0.6), (0.7), (0.8), (0.9)) t(threshold)
            ON p.jaccard >= t.threshold),
pc AS (SELECT threshold, COUNT(*)::BIGINT AS n_pairs
       FROM swept GROUP BY threshold),
fl AS (SELECT threshold, doc_id_b AS doc_id
       FROM swept GROUP BY threshold, doc_id_b),
fd AS (SELECT f.threshold,
              COUNT(*)::BIGINT AS n_docs_flagged,
              SUM(len(string_split(d.text, ' ')))::BIGINT AS tokens_flagged
       FROM fl f JOIN documents d USING (doc_id)
       GROUP BY f.threshold)
SELECT ROUND(CAST(pc.threshold AS DOUBLE), 1) AS threshold,
       pc.n_pairs,
       COALESCE(fd.n_docs_flagged, 0)::BIGINT AS n_docs_flagged,
       fd.tokens_flagged
FROM pc LEFT JOIN fd ON fd.threshold = pc.threshold
ORDER BY threshold
"""

_Q186_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS g
          FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) s),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
cand AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS isect
         FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
pairs AS (SELECT doc_id_a, doc_id_b,
                 isect * 1.0 / (sa.n + sb.n - isect) AS jaccard
          FROM cand
          JOIN sizes sa ON sa.doc_id = doc_id_a
          JOIN sizes sb ON sb.doc_id = doc_id_b
          WHERE isect * 1.0 / (sa.n + sb.n - isect) >= 0.6),""" + _SWEEP_TAIL_SQL


# ---------------------------------------------------------------------------
# LLM ops: multi-signal dedup agreement matrix (round-8 head)
# ---------------------------------------------------------------------------

def q195_dedup_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement matrix across the suite's three independent near-dup
    SIGNALS at their production thresholds — bigram Jaccard ≥ 0.8,
    SimHash Hamming ≤ 3 (60-bit, pigeonhole-banded), and ≥ 1 shared
    exact 8-token window — as a combo histogram over the union of
    flagged pairs. This is the governance table behind choosing (and
    trusting) a dedup stack: pairs all three signals agree on are
    deletable with confidence; single-signal pairs are where each
    signal's bias lives (Jaccard: bag-of-ngrams, order-insensitive;
    SimHash: global token distribution; ExactSubstr: verbatim runs).
    Complements q186's threshold sweep (one signal, many thresholds)
    with one threshold, many signals.

    Scale: reuses the three pair generators unchanged — each is banded /
    prefix-filtered / postings-capped (measured separately at sf1); the
    agreement stage is two full-outer joins over PAIR sets (output-sized,
    not corpus-sized) + one small groupBy."""
    from pyveb_spark.operators.dedup import (
        exact_substring_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    d = read_table(spark, sf_dir, "documents")
    keys = ["doc_id_a", "doc_id_b"]
    j = ngram_jaccard_pairs(
        d, id_col="doc_id", text_col="text", n=2, threshold=0.8
    ).select(*keys, F.lit(1).alias("in_j"))
    s = simhash_pairs(
        d, "doc_id", "text", max_hamming=3, bands=4
    ).select(*keys, F.lit(1).alias("in_s"))
    u = exact_substring_pairs(
        d, id_col="doc_id", text_col="text", window=8
    ).select(*keys, F.lit(1).alias("in_u"))
    allp = j.join(s, keys, "full").join(u, keys, "full")
    return (
        allp.select(
            F.coalesce("in_j", F.lit(0)).alias("in_jaccard"),
            F.coalesce("in_s", F.lit(0)).alias("in_simhash"),
            F.coalesce("in_u", F.lit(0)).alias("in_substring"),
        )
        .groupBy("in_jaccard", "in_simhash", "in_substring")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy(
            F.desc("in_jaccard"), F.desc("in_simhash"), F.desc("in_substring")
        )
    )


_Q195_SQL = f"""
WITH {_SIMHASH_FP_SQL},
tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] AS g
          FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) s),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
jcand AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                 COUNT(*) AS isect
          FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
jp AS (SELECT doc_id_a, doc_id_b, 1 AS in_j
       FROM jcand
       JOIN sizes sa ON sa.doc_id = doc_id_a
       JOIN sizes sb ON sb.doc_id = doc_id_b
       WHERE isect * 1.0 / (sa.n + sb.n - isect) >= 0.8),
banded AS (SELECT doc_id, simhash, band,
                  (simhash >> (band * 15)) & 32767 AS v
           FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
sp AS (SELECT ida AS doc_id_a, idb AS doc_id_b, 1 AS in_s
       FROM (SELECT DISTINCT a.doc_id AS ida, a.simhash AS fa,
                             b.doc_id AS idb, b.simhash AS fb
             FROM banded a JOIN banded b
               ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id)
       WHERE bit_count(xor(fa, fb)) <= 3),
wins AS (SELECT DISTINCT doc_id,
                ('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 12))::BIGINT AS h
         FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t)-7)) AS i) s),
freq AS (SELECT h, COUNT(*) AS df FROM wins GROUP BY h),
keep AS (SELECT w.doc_id, w.h FROM wins w JOIN freq f USING (h)
         WHERE f.df <= 1000),
up AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, 1 AS in_u
       FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
       GROUP BY 1, 2),
allp AS (
  SELECT COALESCE(in_j, 0) AS in_jaccard,
         COALESCE(in_s, 0) AS in_simhash,
         COALESCE(in_u, 0) AS in_substring
  FROM jp
  FULL JOIN sp USING (doc_id_a, doc_id_b)
  FULL JOIN up USING (doc_id_a, doc_id_b))
SELECT in_jaccard, in_simhash, in_substring, COUNT(*)::BIGINT AS n_pairs
FROM allp
GROUP BY 1, 2, 3
ORDER BY in_jaccard DESC, in_simhash DESC, in_substring DESC
"""


# ---------------------------------------------------------------------------
# LSH-tier dedup threshold sweep (round-9 head) — q186's production shape
# ---------------------------------------------------------------------------

def q205_threshold_sweep_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold sweep over the MinHash-LSH candidate tier — the
    production shape of q186, composed the way q200 pairs with q189:
    candidates come from ONE banded-LSH pass (32 hashes / 8 bands, whose
    s-curve midpoint (1/b)^(1/r) ≈ 0.59 sits exactly at the sweep's
    loosest threshold 0.6 — the banding IS the 0.6 retrieval step, not a
    coincidence), are exactly Jaccard-verified, and the per-threshold
    pair/doc/token impact derives from that single verified pair set.
    q186's exact prefix-join kernel stays registered as the recall
    yardstick: its candidate stage is Σ prefix_df² — quadratic in corpus
    under heavy-hitter shingles (measured 23× runtime at 10× corpus on
    12× output pairs) — while this path is bands × hash-join with the
    hot-bucket cap, the only viable 100 TB plan; missing pairs follow
    the LSH recall curve at 0.6 and tighten with bands.

    Determinism: the whole candidate construction is the portable
    md5/minhash scheme the oracle replays hash-for-hash (q28), and the
    sweep tail is exact integers (q186)."""
    from pyveb_spark.operators.dedup import minhash_lsh_pairs

    d = read_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "doc_id", "text", num_hashes=32, bands=8, threshold=0.6
    )
    return _sweep_pair_thresholds(d, pairs)


_Q205_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gs
          FROM toks),
hashed AS (SELECT doc_id,
                  list_transform(gs, g -> ('0x' || substr(md5(g), 1, 12))::BIGINT) AS gh,
                  len(gs) AS n
           FROM grams),
sigs AS (SELECT doc_id, gh, n, [
    {_minhash_sql_exprs(32)}
  ] AS mh
  FROM hashed WHERE n > 0),
bandvals AS (SELECT doc_id, [
    {_band_sql_exprs(32, 8)}
  ] AS bh
  FROM sigs),
banded AS (SELECT doc_id, generate_subscripts(bh, 1) AS band, unnest(bh) AS h
           FROM bandvals),
bsz AS (SELECT band, h, COUNT(*) AS m FROM banded GROUP BY band, h),
bandedc AS (SELECT banded.doc_id, banded.band, banded.h
            FROM banded JOIN bsz USING (band, h)
            WHERE m <= {_LSH_CAP}),
cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         FROM bandedc a JOIN bandedc b
           ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id),
pairs AS (
  SELECT ida AS doc_id_a, idb AS doc_id_b,
         len(list_intersect(ga.gh, gb.gh)) * 1.0
           / (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh))) AS jaccard
  FROM cand
  JOIN hashed ga ON ga.doc_id = ida
  JOIN hashed gb ON gb.doc_id = idb
  WHERE len(list_intersect(ga.gh, gb.gh)) * 1.0
          / (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh))) >= 0.6),""" + _SWEEP_TAIL_SQL


# ---------------------------------------------------------------------------
# MinHash admission from a PERSISTED bucketed index — round-10 head
# ---------------------------------------------------------------------------

@scratch_query
def q208_minhash_persisted_admission(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """q45's incremental near-dup admission served from a DURABLE index
    (``sinks/index_store.py``): the corpus postings (doc_id ≥ 100) are
    saved as a catalog table BUCKETED on ``(__band, __h)`` — the lookup
    join's key, so the index side joins with ZERO shuffle (bucket scan,
    plan-gated) — together with the ``minhash_hot_buckets`` skew
    blacklist, persisted once instead of recomputed per batch. The
    reloaded pair feeds ``minhash_lsh_lookup`` unchanged, and the output
    is the per-document ADMISSION TABLE (match count, best Jaccard,
    admit flag at 0.8) rather than q45's raw pair list — what an ingest
    controller actually consumes.

    The candidate/verify pipeline is byte-identical to q45's certified
    path (same hashes, same cap), so the oracle replays it and folds the
    same aggregation + no-match left join on top.

    100 TB design: per-ingest cost is |batch| hashing + a bucket-local
    join against postings that are never reshuffled or rebuilt — the
    warm-index property durable across sessions; appends go to the same
    bucketed table, blacklist refresh rides compaction (staleness only
    loosens the skew guard)."""
    from pyveb_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_lsh_lookup,
    )
    from pyveb_spark.sinks.index_store import (
        load_minhash_index,
        save_minhash_index,
    )

    table = s.name("minhash_idx")
    d = read_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") >= 100)
    batch = d.where(F.col("doc_id") < 100)

    save_minhash_index(
        minhash_lsh_index(corpus, "doc_id", "text"),
        table,
        f"{s.dir}/hot",
        path=f"{s.dir}/postings",
        meta={"n": 2, "num_hashes": 32, "bands": 8},
    )
    idx, hot, idx_meta = load_minhash_index(spark, table, f"{s.dir}/hot")
    matches = minhash_lsh_lookup(
        batch, idx, "doc_id", "text", threshold=0.8, hot_buckets=hot,
        meta=idx_meta,
    )
    per = matches.groupBy("doc_id_new").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.max("jaccard").alias("best_jaccard"),
    )
    return (
        batch.select("doc_id")
        .join(per, F.col("doc_id") == F.col("doc_id_new"), "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0).cast("bigint"))
            .alias("n_matches"),
            "best_jaccard",
            F.col("doc_id_new").isNull().cast("int").alias("admitted"),
        )
        .orderBy("doc_id")
    )


_Q208_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gs
          FROM toks),
hashed AS (SELECT doc_id,
                  list_transform(gs, g -> ('0x' || substr(md5(g), 1, 12))::BIGINT) AS gh,
                  len(gs) AS n
           FROM grams),
sigs AS (SELECT doc_id, gh, n, [
    {_minhash_sql_exprs(32)}
  ] AS mh
  FROM hashed WHERE n > 0),
bandvals AS (SELECT doc_id, gh, n, [
    {_band_sql_exprs(32, 8)}
  ] AS bh
  FROM sigs),
banded AS (SELECT doc_id, gh, n,
                  generate_subscripts(bh, 1) AS band, unnest(bh) AS h
           FROM bandvals),
bsz AS (SELECT band, h, COUNT(*) AS m FROM banded
        WHERE doc_id >= 100 GROUP BY band, h),
corpusb AS (SELECT banded.doc_id, banded.band, banded.h
            FROM banded JOIN bsz USING (band, h)
            WHERE banded.doc_id >= 100 AND m <= {_LSH_CAP}),
cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         FROM banded a JOIN corpusb b ON a.band = b.band AND a.h = b.h
         WHERE a.doc_id < 100),
hits AS (
  SELECT ida AS doc_id_new,
         len(list_intersect(ga.gh, gb.gh)) * 1.0
           / (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh))) AS jaccard
  FROM cand
  JOIN hashed ga ON ga.doc_id = ida
  JOIN hashed gb ON gb.doc_id = idb
  WHERE len(list_intersect(ga.gh, gb.gh)) * 1.0
          / (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh))) >= 0.8),
per AS (SELECT doc_id_new,
               COUNT(*)::BIGINT AS n_matches,
               MAX(jaccard) AS best_jaccard
        FROM hits GROUP BY doc_id_new)
SELECT d.doc_id,
       COALESCE(per.n_matches, 0)::BIGINT AS n_matches,
       per.best_jaccard,
       CASE WHEN per.doc_id_new IS NULL THEN 1 ELSE 0 END::INT AS admitted
FROM documents d
LEFT JOIN per ON per.doc_id_new = d.doc_id
WHERE d.doc_id < 100
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Sequential ingest: the MinHash index EVOLVES between waves — round-10 head
# ---------------------------------------------------------------------------

@scratch_query
def q209_minhash_index_evolution(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The full production ingest CYCLE over the durable MinHash index —
    q208 certified the save→load half; this certifies admit→APPEND→
    re-admit: wave 1 (100 ≤ doc_id < 200) is checked against the
    persisted corpus index (doc_id ≥ 200), its admitted documents'
    postings are APPENDED into the same bucketed table
    (``index_store.append_minhash_index`` — same bucket spec, the
    zero-shuffle join property survives the append), the skew blacklist
    is refreshed from the grown table (the compaction-time step), and
    wave 2 (doc_id < 100) is then admitted against the EVOLVED index —
    its duplicates of wave-1 admits are caught without any rebuild.
    Output per wave-2 document: total matches, matches specifically
    against wave-1 admits (``n_vs_admitted`` — the column that proves
    the index grew), best Jaccard, admit flag.

    Determinism: admission is a pure function of the certified q45
    candidate/verify pipeline, so wave 1's admitted set — and therefore
    wave 2's candidate universe — replays exactly in the oracle (two
    unrolled generations of the same CTEs).

    100 TB design: each wave costs |wave| hashing + one bucket-local
    join; the corpus postings are written once and never reshuffled —
    appends are new files in existing buckets. This is the shape a
    continuous ingest runs forever."""
    return _q209_frame(spark, sf_dir, s)


def _q209_frame(
    spark: SparkSession, sf_dir: str, s: QueryScratch, compact: bool = False
) -> DataFrame:
    """The q209 lifecycle over an index table and files in ``s``.

    ``compact=True`` inserts ``index_store.compact_minhash_index``
    between the append and the wave-2 admission — the q216 lifecycle
    variant: compaction must be semantically invisible (same oracle)."""
    from pyveb_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_lsh_lookup,
    )
    from pyveb_spark.sinks.index_store import (
        append_minhash_index,
        load_minhash_index,
        save_minhash_index,
    )

    table = s.name("minhash_idx")
    d = read_table(spark, sf_dir, "documents")
    corpus0 = d.where(F.col("doc_id") >= 200)
    wave1 = d.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    wave2 = d.where(F.col("doc_id") < 100)

    save_minhash_index(
        minhash_lsh_index(corpus0, "doc_id", "text"),
        table,
        f"{s.dir}/hot",
        path=f"{s.dir}/postings",
        meta={"n": 2, "num_hashes": 32, "bands": 8},
    )
    idx, hot, idx_meta = load_minhash_index(spark, table, f"{s.dir}/hot")
    w1_matched = (
        minhash_lsh_lookup(
            wave1, idx, "doc_id", "text", threshold=0.8,
            hot_buckets=hot, meta=idx_meta,
        )
        .select(F.col("doc_id_new").alias("doc_id"))
        .distinct()
    )
    admitted1 = wave1.join(w1_matched, "doc_id", "left_anti")
    append_minhash_index(
        minhash_lsh_index(admitted1, "doc_id", "text"),
        table,
        hot_path=f"{s.dir}/hot",
    )
    if compact:
        from pyveb_spark.sinks.index_store import compact_minhash_index

        compact_minhash_index(spark, table, hot_path=f"{s.dir}/hot")
    # the second reload's manifest comes THROUGH the lifecycle: it
    # must survive the append (same table) and the q216 compaction swap
    # (properties copied to the staged replacement, pinned by test).
    idx2, hot2, meta2 = load_minhash_index(spark, table, f"{s.dir}/hot")
    matches2 = minhash_lsh_lookup(
        wave2, idx2, "doc_id", "text", threshold=0.8,
        hot_buckets=hot2, meta=meta2,
    )
    per = matches2.groupBy("doc_id_new").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.sum(
            (
                (F.col("doc_id_corpus") >= 100)
                & (F.col("doc_id_corpus") < 200)
            ).cast("bigint")
        ).alias("n_vs_admitted"),
        F.max("jaccard").alias("best_jaccard"),
    )
    return (
        wave2.select("doc_id")
        .join(per, F.col("doc_id") == F.col("doc_id_new"), "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0).cast("bigint"))
            .alias("n_matches"),
            F.coalesce("n_vs_admitted", F.lit(0).cast("bigint"))
            .alias("n_vs_admitted"),
            "best_jaccard",
            F.col("doc_id_new").isNull().cast("int").alias("admitted"),
        )
        .orderBy("doc_id")
    )


_Q209_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (SELECT doc_id,
                 list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gs
          FROM toks),
hashed AS (SELECT doc_id,
                  list_transform(gs, g -> ('0x' || substr(md5(g), 1, 12))::BIGINT) AS gh,
                  len(gs) AS n
           FROM grams),
sigs AS (SELECT doc_id, gh, n, [
    {_minhash_sql_exprs(32)}
  ] AS mh
  FROM hashed WHERE n > 0),
bandvals AS (SELECT doc_id, gh, n, [
    {_band_sql_exprs(32, 8)}
  ] AS bh
  FROM sigs),
banded AS MATERIALIZED (SELECT doc_id, gh, n,
                  generate_subscripts(bh, 1) AS band, unnest(bh) AS h
           FROM bandvals),
bsz0 AS (SELECT band, h, COUNT(*) AS m FROM banded
         WHERE doc_id >= 200 GROUP BY band, h),
corpusb0 AS (SELECT banded.doc_id, banded.band, banded.h
             FROM banded JOIN bsz0 USING (band, h)
             WHERE banded.doc_id >= 200 AND m <= {_LSH_CAP}),
cand1 AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          FROM banded a JOIN corpusb0 b ON a.band = b.band AND a.h = b.h
          WHERE a.doc_id >= 100 AND a.doc_id < 200),
hit1 AS (SELECT DISTINCT ida FROM cand1
         JOIN hashed ga ON ga.doc_id = ida
         JOIN hashed gb ON gb.doc_id = idb
         WHERE len(list_intersect(ga.gh, gb.gh)) * 1.0
                 / (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh))) >= 0.8),
members1 AS MATERIALIZED (
  SELECT doc_id FROM documents WHERE doc_id >= 200
  UNION ALL
  SELECT doc_id FROM documents
  WHERE doc_id >= 100 AND doc_id < 200
    AND doc_id NOT IN (SELECT ida FROM hit1)),
bsz1 AS (SELECT band, h, COUNT(*) AS m
         FROM banded JOIN members1 USING (doc_id) GROUP BY band, h),
corpusb1 AS (SELECT banded.doc_id, banded.band, banded.h
             FROM banded JOIN members1 USING (doc_id)
             JOIN bsz1 USING (band, h)
             WHERE m <= {_LSH_CAP}),
cand2 AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          FROM banded a JOIN corpusb1 b ON a.band = b.band AND a.h = b.h
          WHERE a.doc_id < 100),
hits2 AS (
  SELECT ida AS doc_id_new, idb AS doc_id_corpus,
         len(list_intersect(ga.gh, gb.gh)) * 1.0
           / (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh))) AS jaccard
  FROM cand2
  JOIN hashed ga ON ga.doc_id = ida
  JOIN hashed gb ON gb.doc_id = idb
  WHERE len(list_intersect(ga.gh, gb.gh)) * 1.0
          / (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh))) >= 0.8),
per AS (SELECT doc_id_new,
               COUNT(*)::BIGINT AS n_matches,
               SUM(CASE WHEN doc_id_corpus >= 100 AND doc_id_corpus < 200
                        THEN 1 ELSE 0 END)::BIGINT AS n_vs_admitted,
               MAX(jaccard) AS best_jaccard
        FROM hits2 GROUP BY doc_id_new)
SELECT d.doc_id,
       COALESCE(per.n_matches, 0)::BIGINT AS n_matches,
       COALESCE(per.n_vs_admitted, 0)::BIGINT AS n_vs_admitted,
       per.best_jaccard,
       CASE WHEN per.doc_id_new IS NULL THEN 1 ELSE 0 END::INT AS admitted
FROM documents d
LEFT JOIN per ON per.doc_id_new = d.doc_id
WHERE d.doc_id < 100
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# MinHash index compaction in the lifecycle — round-11 head (built r10)
# ---------------------------------------------------------------------------

@scratch_query
def q216_minhash_compacted_evolution(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The compaction step of the MinHash index lifecycle — the gap
    q209 left open: every ``append_minhash_index`` lands one file per
    (task × bucket), so a long-running ingest accretes small files per
    bucket. ``index_store.compact_minhash_index`` rewrites the bucketed
    table with its rows repartition-aligned to the bucket hash (one
    file per bucket), preserves the catalog bucket spec, and refreshes
    the hot-bucket skew blacklist in the same pass — and must be
    SEMANTICALLY INVISIBLE, which this query certifies: the q209
    admit→append→re-admit cycle with compaction inserted between the
    append and wave 2, against q209's own oracle (identical CTEs — a
    compaction that changed or dropped a posting would go red). The
    file-count drop and the preserved zero-index-side-shuffle join are
    pinned separately in test_index_store.py.

    100 TB design: compaction is one read + one bucket-aligned write of
    the postings (the repartition IS the bucket hash, so the write
    needs no extra shuffle beyond it), schedulable off the ingest path;
    lookups before and after read identical postings through fewer
    opens."""
    return _q209_frame(spark, sf_dir, s, compact=True)


_Q216_SQL = _Q209_SQL


# ---------------------------------------------------------------------------
# Durable SimHash index lifecycle (round-12 head, built round 11): the
# fingerprint family joins the persisted-index program
# ---------------------------------------------------------------------------


@scratch_query
def q219_simhash_persisted_admission(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The SimHash tier of the durable-index program — the fingerprint
    family (q29/q64) gets what MinHash got in q208/q209/q216: the
    corpus's banded postings persist as a catalog table bucketed on
    ``(__band, __h)`` with the band geometry stamped as a
    ``pyveb.index.*`` manifest, and admission runs the FULL lifecycle
    against it — wave-1 (doc_id 100-199) is checked via
    ``simhash_lookup`` (probe postings equi-join the bucketed index,
    zero index-side shuffle; exact ``bit_count(xor)`` verify), its
    non-matches append into the index, ``compact_bucketed_index``
    rewrites the grown table band-hash-aligned (the shared crash-safe
    staged swap, manifest preserved), and wave-2 (doc_id < 100) probes the
    compacted result through the reloaded manifest. Unlike MinHash
    banding, SimHash's pigeonhole blocking is LOSSLESS at
    max_hamming < bands, so this index needs no skew blacklist: the
    verify is one 64-bit xor per candidate on values the postings
    already carry.

    Returns per wave-2 doc: match count, matches against wave-1
    admissions (proving appended postings serve), best Hamming
    distance, and the admission decision. Oracle: the q64 fingerprint/
    banding construction with the two-wave admission replayed in SQL —
    compaction and persistence must both be invisible.

    100 TB design: lookup cost scales with the batch (scan-stage
    fingerprint fold + one bucketed equijoin); appends are batch-sized;
    compaction is the shared crash-safe aligned rewrite, off the ingest
    path."""
    from pyveb_spark.operators.dedup import simhash_index, simhash_lookup
    from pyveb_spark.sinks.index_store import (
        append_bucketed_index,
        compact_bucketed_index,
        load_bucketed_index,
        save_bucketed_index,
    )

    table = s.name("simhash_idx")
    d = read_table(spark, sf_dir, "documents")
    corpus0 = d.where(F.col("doc_id") >= 200)
    wave1 = d.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 200))
    wave2 = d.where(F.col("doc_id") < 100)

    save_bucketed_index(
        simhash_index(corpus0, "doc_id", "text"),
        table,
        ["__band", "__h"],
        path=f"{s.dir}/postings",
        meta={"bands": 4, "bits": 60},
    )
    idx, idx_meta = load_bucketed_index(spark, table)
    w1_matched = (
        simhash_lookup(
            wave1, idx, "doc_id", "text", max_hamming=3, meta=idx_meta
        )
        .select(F.col("doc_id_new").alias("doc_id"))
        .distinct()
    )
    admitted1 = wave1.join(w1_matched, "doc_id", "left_anti")
    append_bucketed_index(simhash_index(admitted1, "doc_id", "text"), table)
    compact_bucketed_index(spark, table)
    idx2, meta2 = load_bucketed_index(spark, table)
    matches2 = simhash_lookup(
        wave2, idx2, "doc_id", "text", max_hamming=3, meta=meta2
    )
    per = matches2.groupBy("doc_id_new").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.sum(
            (
                (F.col("doc_id_corpus") >= 100)
                & (F.col("doc_id_corpus") < 200)
            ).cast("bigint")
        ).alias("n_vs_admitted"),
        F.min("hamming").cast("int").alias("best_hamming"),
    )
    return (
        wave2.select("doc_id")
        .join(per, F.col("doc_id") == F.col("doc_id_new"), "left")
        .select(
            "doc_id",
            F.coalesce("n_matches", F.lit(0).cast("bigint"))
            .alias("n_matches"),
            F.coalesce("n_vs_admitted", F.lit(0).cast("bigint"))
            .alias("n_vs_admitted"),
            "best_hamming",
            F.col("doc_id_new").isNull().cast("int").alias("admitted"),
        )
        .orderBy("doc_id")
    )


_Q219_SQL = f"""
WITH {_SIMHASH_FP_SQL},
banded AS (SELECT doc_id, simhash, band,
                  (simhash >> (band * 15)) & 32767 AS v
           FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
w1m AS (SELECT DISTINCT a.doc_id
        FROM banded a JOIN banded b ON a.band = b.band AND a.v = b.v
        WHERE a.doc_id >= 100 AND a.doc_id < 200 AND b.doc_id >= 200
          AND bit_count(xor(a.simhash, b.simhash)) <= 3),
idx AS (SELECT doc_id FROM documents WHERE doc_id >= 200
        UNION ALL
        SELECT doc_id FROM documents
        WHERE doc_id >= 100 AND doc_id < 200
          AND doc_id NOT IN (SELECT doc_id FROM w1m)),
cand AS (SELECT DISTINCT a.doc_id AS idn, b.doc_id AS idc,
                         a.simhash AS fa, b.simhash AS fb
         FROM banded a
         JOIN banded b ON a.band = b.band AND a.v = b.v
         JOIN idx i ON i.doc_id = b.doc_id
         WHERE a.doc_id < 100),
hits AS (SELECT idn, idc, bit_count(xor(fa, fb)) AS hamming
         FROM cand WHERE bit_count(xor(fa, fb)) <= 3),
per AS (SELECT idn,
               COUNT(*)::BIGINT AS n_matches,
               SUM(CASE WHEN idc >= 100 AND idc < 200
                        THEN 1 ELSE 0 END)::BIGINT AS n_vs_admitted,
               MIN(hamming)::INT AS best_hamming
        FROM hits GROUP BY idn)
SELECT d.doc_id,
       COALESCE(per.n_matches, 0)::BIGINT AS n_matches,
       COALESCE(per.n_vs_admitted, 0)::BIGINT AS n_vs_admitted,
       per.best_hamming,
       CASE WHEN per.idn IS NULL THEN 1 ELSE 0 END::INT AS admitted
FROM documents d
LEFT JOIN per ON per.idn = d.doc_id
WHERE d.doc_id < 100
ORDER BY d.doc_id
"""
