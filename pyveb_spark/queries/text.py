"""Text analysis: stats, quality, language-id, PII, BPE, n-gram LMs, chunking, retrieval (BM25/TF-IDF).

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
# LLM ops: text statistics (tokenize / quality features, all native fns)
# ---------------------------------------------------------------------------

def q18_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyveb_spark.operators.text import text_stats

    d = read_table(spark, sf_dir, "documents")
    return text_stats(d, text_col="text").select(
        "doc_id", "lang", "n_tokens", "n_unique_tokens", "n_chars_text",
        "avg_token_len", "unique_ratio",
    ).orderBy("doc_id")


_Q18_SQL = """
SELECT doc_id, lang,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
       length(text) AS n_chars_text,
       CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS DOUBLE)
         / len(string_split(text, ' ')) AS avg_token_len,
       CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         / len(string_split(text, ' ')) AS unique_ratio
FROM documents
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# §2.9 explode at query level: token frequencies over a document slice
# ---------------------------------------------------------------------------

def q84_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


_Q84_SQL = """
SELECT token, COUNT(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents WHERE doc_id < 100) t
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# LLM ops: quality scoring (C4/Gopher-style linear blend; oracle-mirrored)
# ---------------------------------------------------------------------------

def q27_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyveb_spark.operators.text import quality_score

    d = read_table(spark, sf_dir, "documents")
    return (
        quality_score(d, "text")
        .select(
            "doc_id",
            "n_tokens",
            "n_stopwords",
            F.round("quality_score", 4).alias("quality_score"),
        )
        .orderBy("doc_id")
    )


_Q27_SQL = """
WITH stats AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','and','to','in','is','it'))) AS n_stopwords,
           len(list_distinct(string_split(text, ' '))) AS n_unique
    FROM documents)
SELECT doc_id, n_tokens, n_stopwords,
       ROUND(
         least(n_tokens / 50.0, 1.0) * 0.4
         + (CAST(n_unique AS DOUBLE) / n_tokens) * 0.4
         + least((CAST(n_stopwords AS DOUBLE) / n_tokens) * 5.0, 1.0) * 0.2,
       4) AS quality_score
FROM stats
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# LLM ops: heuristic language-ID confusion matrix (text.py language_id)
# ---------------------------------------------------------------------------

def q85_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language-ID vs the corpus's true ``lang`` label."""
    from pyveb_spark.operators.text import language_id

    d = read_table(spark, sf_dir, "documents")
    return (
        language_id(d)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


# lang order in the CASE chain mirrors _LANG_MARKERS iteration order (the
# reduce keeps the earlier language on ties).
_Q85_SQL = """
WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
hits AS (SELECT lang,
    len(list_filter(t, x -> x IN ('the','a','of','and')))      AS h_en,
    len(list_filter(t, x -> x IN ('el','la','de','los')))      AS h_es,
    len(list_filter(t, x -> x IN ('der','die','das','und')))   AS h_de,
    len(list_filter(t, x -> x IN ('le','la','les','et')))      AS h_fr,
    len(list_filter(t, x -> x IN ('de5','shi4','le5','he2')))  AS h_zh
  FROM toks),
pred AS (SELECT lang,
    CASE WHEN greatest(h_en,h_es,h_de,h_fr,h_zh) <= 0 THEN 'und'
         WHEN h_en = greatest(h_en,h_es,h_de,h_fr,h_zh) THEN 'en'
         WHEN h_es = greatest(h_es,h_de,h_fr,h_zh) THEN 'es'
         WHEN h_de = greatest(h_de,h_fr,h_zh) THEN 'de'
         WHEN h_fr = greatest(h_fr,h_zh) THEN 'fr'
         ELSE 'zh' END AS lang_pred
  FROM hits)
SELECT lang, lang_pred, COUNT(*) AS n_docs
FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
"""


# ---------------------------------------------------------------------------
# LLM ops: intra-document repetition (Gopher filters) + PII redaction
# ---------------------------------------------------------------------------

def q81_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram repetition metrics (Gopher/MassiveText filter
    family): total/distinct gram counts, duplicate-gram fraction, top-gram
    share, and the (deterministically tie-broken) top gram itself. One
    explode + two hash aggregations keyed on doc_id — map-side combine
    does the heavy lifting at scale."""
    from pyveb_spark.operators.text import repetition_stats

    d = read_table(spark, sf_dir, "documents")
    return repetition_stats(d, id_col="doc_id", text_col="text", n=2).orderBy(
        "doc_id"
    )


_Q81_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                 i -> t[i] || ' ' || t[i+1])) AS gram
      FROM toks),
pg AS (SELECT doc_id, gram, COUNT(*) AS c,
              row_number() OVER (PARTITION BY doc_id
                                 ORDER BY COUNT(*) DESC, gram DESC) AS rn
       FROM g GROUP BY doc_id, gram)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_ngrams,
       COUNT(*) AS n_distinct,
       ROUND(1.0 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 4) AS dup_ngram_frac,
       ROUND(MAX(CASE WHEN rn = 1 THEN c END) / CAST(SUM(c) AS DOUBLE), 4)
           AS top_ngram_frac,
       MAX(CASE WHEN rn = 1 THEN gram END) AS top_ngram
FROM pg
GROUP BY doc_id
ORDER BY doc_id
"""


def q82_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing under the oracle gate: build a deterministic note
    string with an email / phone / IPv4 per customer (the corpus itself is
    PII-free synthetic text), redact with the shared dialect-portable
    patterns, and count redacted spans. The scrub is a chain of
    regexp_replace inside whole-stage codegen — at 100 TB it runs at scan
    throughput with no shuffle."""
    from pyveb_spark.operators.cleaning import redact_pii

    c = read_table(spark, sf_dir, "customer")
    email = F.concat(
        F.lower(F.regexp_replace(F.col("c_name"), "#", ".")),
        F.lit("@example.com"),
    )
    phone = F.concat(
        F.lit("555-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
    )
    ip = F.concat(
        F.lit("10."), (F.col("c_custkey") % 256).cast("string"), F.lit(".0.1")
    )
    note = F.concat_ws(
        " ",
        F.lit("contact"), email,
        F.lit("phone"), phone,
        F.lit("ip"), ip,
        F.lit("segment"), F.col("c_mktsegment"),
    )
    base = c.select("c_custkey", note.alias("note"))
    return (
        redact_pii(base, ["note"])
        .select("c_custkey", "note", "note_pii_count")
        .orderBy("c_custkey")
    )


def _q46_sql() -> str:
    from pyveb_spark.operators.cleaning import PII_PATTERNS

    e, i, p = (PII_PATTERNS[k] for k in ("email", "ipv4", "phone"))
    return f"""
WITH base AS (
  SELECT c_custkey,
         'contact ' || lower(replace(c_name, '#', '.')) || '@example.com'
         || ' phone 555-' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
         || '-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
         || ' ip 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.0.1'
         || ' segment ' || c_mktsegment AS note
  FROM customer),
-- sequential count-then-redact per pattern, mirroring redact_pii: the
-- count is the number of spans actually replaced at each step
r1 AS (SELECT c_custkey, len(regexp_extract_all(note, '{e}')) AS n1,
              regexp_replace(note, '{e}', '[PII]', 'g') AS s1 FROM base),
r2 AS (SELECT c_custkey, n1, len(regexp_extract_all(s1, '{i}')) AS n2,
              regexp_replace(s1, '{i}', '[PII]', 'g') AS s2 FROM r1),
r3 AS (SELECT c_custkey, n1, n2, len(regexp_extract_all(s2, '{p}')) AS n3,
              regexp_replace(s2, '{p}', '[PII]', 'g') AS s3 FROM r2)
SELECT c_custkey, s3 AS note, CAST(n1 + n2 + n3 AS INT) AS note_pii_count
FROM r3
ORDER BY c_custkey
"""


_Q82_SQL = _q46_sql()


def q44_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 lexical retrieval over the documents corpus for a fixed
    bag-of-tokens query — the inverted-index search a training-data
    pipeline runs for decontamination and curation. One postings build
    (two aggregations), a literal token filter pushed into the postings
    scan, and a heap top-k; scores rounded to 6 decimals for cross-engine
    rank stability (see ``operators/retrieval.py``)."""
    from pyveb_spark.operators.retrieval import bm25_search, build_inverted_index

    d = read_table(spark, sf_dir, "documents")
    postings, docstats = build_inverted_index(d, "doc_id", "text")
    return bm25_search(
        postings, docstats, ["hash", "merge", "scan", "window"], k=10
    )


_Q44_SQL = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
hits AS (SELECT t.doc_id, t.tf, d.df, l.dl, s.n_docs, s.avgdl
         FROM tf t
         JOIN dfq d USING (token)
         JOIN dl l USING (doc_id)
         CROSS JOIN stats s
         WHERE t.token IN ('hash', 'merge', 'scan', 'window'))
SELECT doc_id,
       ROUND(SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25,
       COUNT(*) AS n_matched
FROM hits
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


# ---------------------------------------------------------------------------
# LLM ops: hashed linear classifier scoring (fastText-shaped, oracle-checked)
# ---------------------------------------------------------------------------

def q61_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier scoring pass: hashing-trick features, mean
    bucket weight, sigmoid — the exported-model scoring shape, as one
    stateless scan expression. Weights are an exact-in-double ramp
    (multiples of 2⁻³¹, so the fold is associative and the oracle's
    unordered SUM matches bit-for-bit; see hashed_linear_score)."""
    from pyveb_spark.operators.text import hashed_linear_score

    d = read_table(spark, sf_dir, "documents")
    return (
        hashed_linear_score(d, "text")
        .select("doc_id", "clf_score")
        .orderBy("doc_id")
    )


_Q61_SQL = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
b AS (
  SELECT doc_id,
         (('0x' || substr(md5('clf|' || token), 1, 12))::BIGINT) % 1024 AS bk
  FROM t
),
s AS (
  SELECT doc_id,
         SUM(CAST((bk * 2654435761) % 2147483648 AS DOUBLE) / 2147483648.0
             - 0.5) AS tot,
         COUNT(*) AS n
  FROM b GROUP BY doc_id
)
SELECT doc_id,
       ROUND(1.0 / (1.0 + exp(-(tot / n) * 8.0)), 4) AS clf_score
FROM s
ORDER BY doc_id
"""


def q99_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE merge statistics over the corpus: top-20
    within-token adjacent character pairs — the quantity byte-pair
    encoding greedily merges on (Sennrich et al. 2016). Pair extraction
    is a scan-stage nested HOF; the groupBy key has ~|alphabet)|²
    cardinality so the shuffle carries only (pair, partial count) rows.
    The (count desc, pair asc) order is total, so the top-20 cut is
    engine-portable under ties."""
    from pyveb_spark.operators.text import bpe_merge_candidates

    d = read_table(spark, sf_dir, "documents")
    return bpe_merge_candidates(d, "text", top_k=20)


_Q99_SQL = """
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
pl AS (SELECT [substr(tok, CAST(i AS INT), 2)
               FOR i IN range(1, length(tok))] AS pairs FROM toks),
p AS (SELECT unnest(pairs) AS pair FROM pl)
SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
ORDER BY n DESC, pair LIMIT 20
"""


def q102_trigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned corpus trigram count table, top 15 — the count-based-LM
    building block (CCNet-style filters score documents against exactly
    such tables). Gram extraction is scan-stage; the groupBy
    partial-aggregates map-side; pruning (≥5) keeps the table
    broadcastable for scoring joins. Total (n desc, gram asc) order makes
    the top-15 cut engine-portable."""
    from pyveb_spark.operators.text import ngram_count_table

    d = read_table(spark, sf_dir, "documents")
    return (
        ngram_count_table(d, "text", n=3, min_count=5)
        .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
        .limit(15)
    )


_Q102_SQL = """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
gl AS (SELECT [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               FOR i IN range(1, len(t) - 1)] AS gs FROM toks),
g AS (SELECT unnest(gs) AS gram FROM gl)
SELECT gram, COUNT(*) AS n_occurrences FROM g GROUP BY gram
HAVING COUNT(*) >= 5
ORDER BY n_occurrences DESC, gram LIMIT 15
"""


def q103_lm_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM quality score (CCNet-style count-LM
    filter): avg ln P(wᵢ|wᵢ₋₁) with add-0.1 smoothing over corpus-trained
    bigram (pruned ≥2) and unigram tables. Portability: every ln term has
    identical operands and the per-doc sum is an ordered left-to-right
    fold (``F.aggregate`` ↔ DuckDB ``list_reduce`` over a
    position-ordered list) — that kills aggregation-order variance, but
    HotSpot's ``Math.log`` is not correctly rounded on every input where
    glibc's nearly is, so a last-ulp residue (~1e-15 relative) remains;
    the score is compared at round(6), with the distance of every doc to
    a rounding boundary probed ≥ 1e-9 at each SF. Scored slice:
    doc_id < 200 (tables train on the FULL corpus). Docs with < 2 tokens
    carry no score and are absent by construction (none in the
    fixture)."""
    from pyveb_spark.operators.text import bigram_lm_score, ngram_count_table

    d = read_table(spark, sf_dir, "documents")
    # train on the FULL corpus, score the doc_id < 200 slice
    c2 = ngram_count_table(d, "text", n=2, min_count=2)
    c1 = ngram_count_table(d, "text", n=1)
    scored = bigram_lm_score(
        d.where(F.col("doc_id") < 200), "doc_id", "text",
        alpha=0.1, bigram_counts=c2, unigram_counts=c1,
    )
    return scored.select(
        "doc_id", "n_bigrams", F.round("avg_logp", 6).alias("avg_logp")
    ).orderBy("doc_id")


_Q103_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
u AS (SELECT unnest(t) AS w FROM toks),
c1 AS (SELECT w, COUNT(*) AS c FROM u GROUP BY w),
v AS (SELECT COUNT(*) AS v FROM c1),
bgall AS (SELECT unnest([t[i] || ' ' || t[i+1]
                         FOR i IN range(1, len(t))]) AS g FROM toks),
c2 AS (SELECT g, COUNT(*) AS c FROM bgall GROUP BY g HAVING COUNT(*) >= 2),
bg AS (SELECT doc_id, generate_subscripts(gs, 1) AS pos, unnest(gs) AS g,
              unnest(ws) AS w1
       FROM (SELECT doc_id,
                    [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))] AS gs,
                    [t[i] FOR i IN range(1, len(t))] AS ws
             FROM toks WHERE doc_id < 200)),
terms AS (SELECT bg.doc_id, bg.pos,
                 ln((COALESCE(c2.c, 0) + 0.1)
                    / (c1.c + 0.1 * (SELECT v FROM v))) AS lnp
          FROM bg LEFT JOIN c2 ON bg.g = c2.g JOIN c1 ON bg.w1 = c1.w),
folded AS (SELECT doc_id, COUNT(*) AS n_bigrams,
                  list_reduce(
                    list_prepend(CAST(0 AS DOUBLE),
                                 list(lnp ORDER BY pos)),
                    (acc, x) -> acc + x) AS s
           FROM terms GROUP BY doc_id)
SELECT doc_id, n_bigrams, ROUND(s / n_bigrams, 6) AS avg_logp
FROM folded ORDER BY doc_id
"""


def q107_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping token-window chunking (32-token chunks,
    8-token overlap) of the doc_id < 50 slice: one row per chunk with
    offsets and text. Boundaries are scan-stage ``sequence``/``slice``
    expressions — zero shuffles until a consumer aggregates; the oracle
    replays the stride arithmetic and slicing with DuckDB list
    comprehensions."""
    from pyveb_spark.operators.text import chunk_documents

    d = read_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return chunk_documents(
        d, "doc_id", "text", chunk_tokens=32, overlap=8
    ).orderBy("doc_id", "chunk_no")


_Q107_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t,
                     CASE WHEN length(text) = 0 THEN 0
                          ELSE len(string_split(text, ' ')) END AS n
              FROM documents WHERE doc_id < 50),
nc AS (SELECT doc_id, t, n,
              CASE WHEN n <= 0 THEN 0
                   ELSE CAST(FLOOR(GREATEST(n - 9, 0) / 24) AS INT) + 1
              END AS n_chunks
       FROM toks),
chunks AS (SELECT doc_id, t, n,
                  unnest(range(0, n_chunks)) AS chunk_no
           FROM nc),
sliced AS (SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
                  CAST(chunk_no * 24 + 1 AS INT) AS tok_start,
                  t[(chunk_no * 24 + 1):
                    (chunk_no * 24 + LEAST(32, n - chunk_no * 24))] AS ct
           FROM chunks)
SELECT doc_id, chunk_no, tok_start,
       CAST(len(ct) AS INT) AS n_tokens,
       array_to_string(ct, ' ') AS chunk_text
FROM sliced
ORDER BY doc_id, chunk_no
"""


def q116_tfidf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine top-10 over the documents corpus for the q44 query
    bag — the vector-space twin of BM25 (``operators/retrieval.py::
    tfidf_search``): smooth-idf weights, per-doc L2 norms computed once
    at index build, literal token filter pushed into the postings scan,
    heap top-k. Scores rounded to 6 (the q44 float contract)."""
    from pyveb_spark.operators.retrieval import (
        build_inverted_index,
        tfidf_doc_norms,
        tfidf_search,
    )

    d = read_table(spark, sf_dir, "documents")
    postings, docstats = build_inverted_index(d, "doc_id", "text")
    norms = tfidf_doc_norms(postings, docstats)
    return tfidf_search(
        postings, docstats, norms, ["hash", "merge", "scan", "window"], k=10
    )


_Q116_SQL = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
stats AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
w AS (SELECT t.doc_id, t.token,
             t.tf * (ln((1.0 + s.n_docs) / (1.0 + d.df)) + 1.0) AS w
      FROM tf t JOIN dfq d USING (token) CROSS JOIN stats s),
norms AS (SELECT doc_id, sqrt(SUM(w * w)) AS norm FROM w GROUP BY doc_id),
num AS (SELECT doc_id, SUM(w) AS num, COUNT(*) AS n_matched
        FROM w WHERE token IN ('hash', 'merge', 'scan', 'window')
        GROUP BY doc_id)
SELECT n.doc_id,
       ROUND(n.num / m.norm, 6) AS score,
       n.n_matched
FROM num n JOIN norms m USING (doc_id)
ORDER BY score DESC, doc_id
LIMIT 10
"""


def q117_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary + corpus encoding (``operators/text.py::
    build_vocab / encode_with_vocab``): top-64 unigram vocab by
    (count, token) total order, documents encoded to 0-based id arrays
    with OOV → -1, per-doc OOV rate. The corpus→tensors admission step;
    ids are rebuilt from (pos, id) structs via array_sort, so order
    never depends on shuffle stability. The id array is emitted as a
    space-joined scalar string: the certification harness canonicalizes
    rows via pandas hashing, which cannot hash list cells, so every
    registered query's output schema must be scalar-only (the
    registration-time gate in tests/test_oracle.py enforces this)."""
    from pyveb_spark.operators.text import build_vocab, encode_with_vocab

    d = read_table(spark, sf_dir, "documents")
    vocab = build_vocab(d, vocab_size=64)
    enc = encode_with_vocab(d, vocab)
    return enc.select(
        "doc_id",
        F.array_join(F.col("ids").cast("array<string>"), " ").alias("ids"),
        "n_tokens",
        "oov_rate",
    ).orderBy("doc_id")


_Q117_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
pos AS (SELECT doc_id, i AS pos, ts[i + 1] AS token
        FROM toks, UNNEST(range(len(ts))) AS u(i)),
counts AS (SELECT token, COUNT(*) AS n FROM pos GROUP BY token),
vocab AS (SELECT token,
                 ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1 AS token_id
          FROM counts ORDER BY n DESC, token LIMIT 64),
enc AS (SELECT p.doc_id, p.pos,
               CAST(COALESCE(v.token_id, -1) AS INTEGER) AS tid
        FROM pos p LEFT JOIN vocab v USING (token))
SELECT doc_id,
       array_to_string(list(tid ORDER BY pos), ' ') AS ids,
       COUNT(*) AS n_tokens,
       CAST(COUNT(CASE WHEN tid = -1 THEN 1 END) AS DOUBLE) / COUNT(*)
         AS oov_rate
FROM enc
GROUP BY doc_id
ORDER BY doc_id
"""


def q125_source_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each source's characteristic vocabulary (``operators/text.py::
    distinctive_terms``): top-5 tokens per source by group-level TF-IDF
    ``tf_g · ln(G/gf)`` — tokens in every source score 0 and vanish, so
    what remains is what makes each source different. One corpus scan;
    ranking runs over the token dictionary."""
    from pyveb_spark.operators.text import distinctive_terms

    d = read_table(spark, sf_dir, "documents")
    return distinctive_terms(d, "source", "text", top_k=5).orderBy(
        "grp", F.col("score").desc(), "token"
    )


_Q125_SQL = """
WITH tf AS (
  SELECT source AS grp, unnest(string_split(text, ' ')) AS token
  FROM documents),
tfc AS (SELECT grp, token, COUNT(*) AS tf_g FROM tf GROUP BY 1, 2
        HAVING COUNT(*) >= 2),
gf AS (SELECT token, COUNT(*) AS gf FROM tfc GROUP BY token),
g AS (SELECT COUNT(DISTINCT grp) AS g FROM tfc),
scored AS (
  SELECT grp, token, tf_g, gf,
         ROUND(tf_g * ln(CAST(g.g AS DOUBLE) / gf), 6) AS score
  FROM tfc JOIN gf USING (token) CROSS JOIN g),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
                               ORDER BY score DESC, token) AS rk
  FROM scored WHERE score > 0)
SELECT grp, token, tf_g, gf, score
FROM ranked WHERE rk <= 5
ORDER BY grp, score DESC, token
"""


def q138_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (``text.py::bpe_train``,
    Sennrich et al. 2016): the full greedy merge loop — not just q99's
    first-iteration pair statistics — over the corpus's (word, freq)
    table, returning the learned merge table a tokenizer ships. The
    oracle replays all six rounds as unrolled CTE blocks: literal
    leftmost non-overlapping ``replace`` on double-space-joined symbol
    strings IS greedy BPE application, and both engines implement that
    replace semantics identically, so training is value-hash-certified
    end to end (pair counts, tie-breaks, merge order)."""
    from pyveb_spark.operators.text import bpe_train

    d = read_table(spark, sf_dir, "documents")
    return bpe_train(d, text_col="text", num_merges=6).orderBy(
        "merge_rank"
    )


def _q138_sql(num_merges: int = 6) -> str:
    blocks = [
        """
WITH words AS (
  SELECT word, COUNT(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word),
s0 AS (SELECT word, freq,
       ' ' || array_to_string(regexp_extract_all(word, '.'), '  ') || ' '
         AS seq
       FROM words)"""
    ]
    for i in range(1, num_merges + 1):
        p = i - 1
        blocks.append(
            rf""",
p{i} AS (
  SELECT l[j] || ' ' || l[j+1] AS pair, SUM(freq)::BIGINT AS n
  FROM (SELECT freq, string_split_regex(trim(seq), '\s+') AS l FROM s{p}) t,
       LATERAL (SELECT unnest(generate_series(1, len(l)-1)) AS j) u
  GROUP BY 1),
m{i} AS (SELECT pair, n FROM p{i} ORDER BY n DESC, pair LIMIT 1),
s{i} AS (
  SELECT word, freq,
         ' ' || array_to_string(string_split_regex(trim(
             replace(seq,
                     ' ' || split_part(m.pair, ' ', 1) || '  '
                         || split_part(m.pair, ' ', 2) || ' ',
                     ' ' || replace(m.pair, ' ', '') || ' ')),
             '\s+'), '  ') || ' ' AS seq
  FROM s{p}, m{i} m)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT {i - 1} AS merge_rank, split_part(pair, ' ', 1) AS left_sym, "
        f"split_part(pair, ' ', 2) AS right_sym, "
        f"replace(pair, ' ', '') AS merged, n AS pair_count FROM m{i}"
        for i in range(1, num_merges + 1)
    )
    return "".join(blocks) + "\n" + selects + "\nORDER BY merge_rank"


def q144_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving half of the BPE tokenizer: TRAIN six merges on the
    corpus (q138's loop), then APPLY them corpus-wide as a stateless
    literal-replace scan (``text.py::bpe_apply`` — no UDF, no vocab
    join) and report per-document word vs subword token counts. The
    oracle re-derives the merges from scratch (the q138 CTE blocks) and
    re-applies them via scalar-subquery replaces — certifying the full
    train→apply round trip end to end."""
    from pyveb_spark.operators.text import bpe_apply, bpe_train

    d = read_table(spark, sf_dir, "documents")
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train(d, text_col="text", num_merges=6)
        .orderBy("merge_rank")
        .collect()
    ]
    enc = bpe_apply(d, merges, text_col="text")
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    return enc.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        F.size("bpe_tokens").cast("bigint").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


def _q144_sql(num_merges: int = 6) -> str:
    # merge-table CTE blocks identical to q138's generator
    train = _q138_sql(num_merges)
    train_ctes = train[: train.rindex("\nSELECT 0 AS merge_rank")]
    apply_blocks = [
        """,
docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         FROM documents),
e0 AS (SELECT doc_id,
              ' ' || array_to_string(regexp_extract_all(w, '.'), '  ')
                  || ' ' AS s
       FROM docw WHERE w <> '')"""
    ]
    for i in range(1, num_merges + 1):
        p = i - 1
        apply_blocks.append(
            rf""",
e{i} AS (SELECT doc_id,
              ' ' || array_to_string(string_split_regex(trim(
                  replace(s,
                      (SELECT ' ' || split_part(pair, ' ', 1) || '  '
                              || split_part(pair, ' ', 2) || ' ' FROM m{i}),
                      (SELECT ' ' || replace(pair, ' ', '') || ' '
                       FROM m{i}))),
                  '\s+'), '  ') || ' ' AS s
       FROM e{p})"""
        )
    final = rf"""
SELECT doc_id, COUNT(*)::BIGINT AS n_words,
       SUM(len(string_split_regex(trim(s), '\s+')))::BIGINT
         AS n_bpe_tokens
FROM e{num_merges}
GROUP BY doc_id
ORDER BY doc_id"""
    return train_ctes + "".join(apply_blocks) + final


def q145_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher document-quality rule battery (Rae et al. 2021,
    ``text.py::gopher_quality_filter``) over the corpus: per-document
    word-count bounds, mean-word-length band, alphabetic-word fraction,
    and minimum stopword count, each kept as an auditable column plus
    the conjunctive keep verdict — all stateless codegen expressions,
    the shape that filters a 100 TB crawl in one scan."""
    from pyveb_spark.operators.text import gopher_quality_filter

    d = read_table(spark, sf_dir, "documents")
    out = gopher_quality_filter(d, text_col="text", min_words=30)
    return out.select(
        "doc_id", "n_words", "mean_word_len", "alpha_frac",
        "n_stopwords", "rule_word_count", "rule_word_len", "rule_alpha",
        "rule_stopwords", "keep",
    ).orderBy("doc_id")


_Q145_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), w -> w <> '') AS toks
  FROM documents),
s AS (
  SELECT doc_id,
         len(toks) AS n_words,
         CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
           / len(toks) AS mean_len,
         CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
              AS DOUBLE) / len(toks) AS alpha_frac,
         len(list_filter(toks, w -> list_contains(
             ['the','a','of','and','to','in','is','it'], lower(w))))
           AS n_stop
  FROM t)
SELECT doc_id,
       n_words::BIGINT AS n_words,
       ROUND(mean_len, 4) AS mean_word_len,
       ROUND(alpha_frac, 4) AS alpha_frac,
       n_stop::BIGINT AS n_stopwords,
       (n_words >= 30 AND n_words <= 100000) AS rule_word_count,
       (mean_len >= 3.0 AND mean_len <= 10.0) AS rule_word_len,
       (alpha_frac >= 0.8) AS rule_alpha,
       (n_stop >= 2) AS rule_stopwords,
       ((n_words >= 30 AND n_words <= 100000)
        AND (mean_len >= 3.0 AND mean_len <= 10.0)
        AND (alpha_frac >= 0.8) AND (n_stop >= 2)) AS keep
FROM s
ORDER BY doc_id
"""


def q147_mlm_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic masked-LM example construction
    (``text.py::mlm_mask``): mask 15% of tokens chosen by the portable
    md5 hash of (doc_id, position) — reproducible across engines, runs,
    and partitionings, which is what makes a training-data build
    idempotent (a seeded RNG is not). One index-aware ``transform`` per
    row: no explode, no shuffle, no order-restoring join. The oracle
    replays the identical hash arithmetic token by token."""
    from pyveb_spark.operators.text import mlm_mask

    d = read_table(spark, sf_dir, "documents")
    out = mlm_mask(d, rate_pct=15)
    return out.select(
        "doc_id", "n_masked", F.md5("masked_text").alias("masked_md5")
    ).orderBy("doc_id")


_Q147_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
m AS (
  SELECT doc_id,
         list_transform(toks, (w, i) -> CASE
             WHEN ('0x' || substr(md5(doc_id || '|' || (i - 1)), 1, 12))
                    ::BIGINT % 100 < 15
             THEN '<mask>' ELSE w END) AS masked
  FROM t)
SELECT doc_id,
       len(list_filter(masked, w -> w = '<mask>'))::BIGINT AS n_masked,
       md5(array_to_string(masked, ' ')) AS masked_md5
FROM m
ORDER BY doc_id
"""


def q154_c4_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (``text.py::c4_line_filter``, Raffel
    2020 §2.2) with per-rule audit counts. The fixture's docs are
    single-line, so the query first assembles multi-line "pages"
    deterministically (doc_id % 400 buckets, id-ordered, newline-joined
    — a pure relational construction both engines replay), then cleans
    each page: lines under 25 words drop as too-short, lines containing
    the blocklisted phrase drop next, and the audit attributes each
    dropped line to the FIRST rejecting rule in the documented C4 order.
    Returns per-page counts + the cleaned page length."""
    from pyveb_spark.operators.text import c4_line_filter

    d = read_table(spark, sf_dir, "documents")
    pages = (
        d.groupBy((F.col("doc_id") % 400).alias("page_id"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "text"))
                    ),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("text")
        )
    )
    out = c4_line_filter(
        pages,
        "page_id",
        "text",
        min_words=25,
        blocklist=("merge join",),
    )
    return out.select(
        "page_id",
        "n_lines",
        "n_kept",
        "n_dropped_short",
        "n_dropped_blocklist",
        F.length("text_clean").alias("clean_chars"),
    ).orderBy("page_id")


_Q154_SQL = """
WITH pages AS (
  SELECT doc_id % 400 AS page_id,
         string_agg(text, chr(10) ORDER BY doc_id) AS text
  FROM documents GROUP BY 1
),
lines AS (SELECT page_id, string_split(text, chr(10)) AS ls FROM pages),
flags AS (
  SELECT page_id, ls,
         list_transform(ls, l -> len(string_split_regex(trim(l), ' +')) < 25)
           AS short,
         list_transform(ls, l -> contains(lower(l), 'merge join')) AS blocked
  FROM lines
),
audit AS (
  SELECT page_id,
         len(ls) AS n_lines,
         len(list_filter(ls, (l, i) -> NOT short[i] AND NOT blocked[i]))
           AS n_kept,
         len(list_filter(ls, (l, i) -> short[i])) AS n_dropped_short,
         len(list_filter(ls, (l, i) -> NOT short[i] AND blocked[i]))
           AS n_dropped_blocklist,
         COALESCE(length(array_to_string(
             list_filter(ls, (l, i) -> NOT short[i] AND NOT blocked[i]),
             chr(10))), 0) AS clean_chars
  FROM flags
)
SELECT * FROM audit ORDER BY page_id
"""


def q155_source_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift (``text.py::token_kl_divergence``):
    add-1-smoothed unigram KL(source ‖ corpus) in nats over the corpus
    vocabulary — the distribution-shift monitor for multi-source training
    mixes. Spark computes the absent-token mass in closed form (no
    group×vocab cross join); the oracle materializes the explicit
    source×vocab grid and sums directly — agreement certifies the closed
    form. Top 10 most-drifted sources."""
    from pyveb_spark.operators.text import token_kl_divergence

    d = read_table(spark, sf_dir, "documents")
    return (
        token_kl_divergence(d, "source", "text", alpha=1.0)
        .orderBy(F.desc("kl_divergence"), "source")
        .limit(10)
    )


_Q155_SQL = """
WITH toks AS (
  SELECT source AS grp, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
toks2 AS (SELECT * FROM toks WHERE tok <> ''),
gt AS (SELECT grp, tok, COUNT(*) AS c_gt FROM toks2 GROUP BY 1, 2),
corpus AS (SELECT tok, SUM(c_gt) AS c_t FROM gt GROUP BY 1),
totals AS (SELECT grp, SUM(c_gt) AS n_g FROM gt GROUP BY 1),
consts AS (SELECT SUM(c_t) AS n_all, COUNT(*) AS v FROM corpus),
grid AS (
  SELECT t.grp, c.tok, t.n_g, c.c_t, COALESCE(g.c_gt, 0) AS c_gt
  FROM totals t CROSS JOIN corpus c
  LEFT JOIN gt g ON g.grp = t.grp AND g.tok = c.tok
),
kl AS (
  SELECT grp,
         ANY_VALUE(n_g)::BIGINT AS n_tokens,
         SUM(CASE WHEN c_gt > 0 THEN 1 ELSE 0 END)::BIGINT AS n_vocab_hit,
         SUM(((c_gt + 1.0) / (n_g + 1.0 * v))
             * ln(((c_gt + 1.0) / (n_g + 1.0 * v))
                  / ((c_t + 1.0) / (n_all + 1.0 * v)))) AS kl_raw
  FROM grid, consts
  GROUP BY grp
)
SELECT grp AS source, n_tokens, n_vocab_hit,
       ROUND(kl_raw, 4) AS kl_divergence
FROM kl
ORDER BY kl_divergence DESC, source LIMIT 10
"""


def q158_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval through the positional n-gram index
    (``retrieval.py::build_ngram_index`` / ``phrase_search``): the probe
    phrase (the first 3 tokens of doc 0 — a driver-side literal, the
    ``_query_vec`` discipline) hashes to ONE literal pushed into the
    index scan. The q132/q151 certified-equivalence discipline: the
    query full-outer-joins the index hits against the naive
    whitespace-boundary substring scan, so ANY disagreement between the
    index and the scan it replaces materializes as a row difference and
    fails the oracle hash. Returns (doc_id, n_occurrences, in_scan)."""
    from pyveb_spark.operators.retrieval import phrase_search

    d = read_table(spark, sf_dir, "documents")
    row = d.where(F.col("doc_id") == 0).select("text").first()
    phrase = " ".join(row["text"].split(" ")[:3])
    idx_hits = phrase_search(d, phrase, "doc_id", "text")
    scan_hits = d.where(
        F.contains(
            F.concat(F.lit(" "), F.col("text"), F.lit(" ")),
            F.lit(f" {phrase} "),
        )
    ).select("doc_id", F.lit(1).alias("in_scan"))
    return (
        idx_hits.join(scan_hits, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("n_occurrences", F.lit(0)).alias("n_occurrences"),
            F.coalesce("in_scan", F.lit(0)).alias("in_scan"),
        )
        .orderBy("doc_id")
    )


_Q158_SQL = """
WITH phrase AS (
  SELECT array_to_string(string_split(text, ' ')[1:3], ' ') AS ph
  FROM documents WHERE doc_id = 0
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
idx AS (
  SELECT doc_id, COUNT(*) AS n_occurrences
  FROM toks, phrase,
       LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS i) s
  WHERE ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 12))::BIGINT
        = ('0x' || substr(md5(ph), 1, 12))::BIGINT
  GROUP BY doc_id
),
scan AS (
  SELECT doc_id, 1 AS in_scan FROM documents, phrase
  WHERE contains(' ' || text || ' ', ' ' || ph || ' ')
)
SELECT COALESCE(i.doc_id, s.doc_id) AS doc_id,
       COALESCE(i.n_occurrences, 0) AS n_occurrences,
       COALESCE(s.in_scan, 0) AS in_scan
FROM idx i FULL OUTER JOIN scan s ON i.doc_id = s.doc_id
ORDER BY doc_id
"""


def q159_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity monitor (``text.py::source_diversity``): per
    source, type-token ratio and bigram Shannon entropy in nats — the
    corpus-level templated-content detector complementing per-doc
    repetition stats (q81). Entropy uses the single-pass identity
    ln(N) − Σ c·ln(c)/N (mergeable partials); the oracle sums
    −(c/N)·ln(c/N) directly over the bigram table, certifying the
    identity. Bottom 10 sources by entropy (most repetitive first)."""
    from pyveb_spark.operators.text import source_diversity

    d = read_table(spark, sf_dir, "documents")
    return (
        source_diversity(d, "source", "text")
        .orderBy("bigram_entropy", "source")
        .limit(10)
    )


_Q159_SQL = """
WITH toks AS (
  SELECT source AS grp, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
toks2 AS (SELECT * FROM toks WHERE tok <> ''),
uni AS (
  SELECT grp, SUM(c)::BIGINT AS n_tokens, COUNT(*)::BIGINT AS n_types
  FROM (SELECT grp, tok, COUNT(*) AS c FROM toks2 GROUP BY 1, 2)
  GROUP BY grp
),
docs2 AS (SELECT source AS grp, string_split(text, ' ') AS t FROM documents),
bigrams AS (
  SELECT grp, t[i] || ' ' || t[i+1] AS bg
  FROM docs2, LATERAL (SELECT unnest(generate_series(1, len(t)-1)) AS i) s
),
bc AS (SELECT grp, bg, COUNT(*) AS c FROM bigrams GROUP BY 1, 2),
ent AS (
  SELECT grp,
         ROUND(-SUM((c * 1.0 / nb) * ln(c * 1.0 / nb)), 4) AS bigram_entropy
  FROM (SELECT grp, bg, c, SUM(c) OVER (PARTITION BY grp) AS nb FROM bc)
  GROUP BY grp
)
SELECT u.grp AS source, n_tokens, n_types,
       ROUND(n_types * 1.0 / n_tokens, 4) AS type_token_ratio,
       bigram_entropy
FROM uni u JOIN ent e ON u.grp = e.grp
ORDER BY bigram_entropy, source LIMIT 10
"""


def q160_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (``text.py::dsir_importance_weights``, Xie
    2023): score every non-src0 document by its unigram log-likelihood
    ratio under the src0 target LM vs the raw-corpus LM (add-1 smoothing
    over the raw vocabulary) — the importance-resampling scores that
    re-balance a web corpus toward a target domain. The ratio table is
    vocabulary-sized and broadcast; the oracle replays both LMs and the
    per-doc sum exactly. Top 15 most-target-like docs (id tie-break)."""
    from pyveb_spark.operators.text import dsir_importance_weights

    d = read_table(spark, sf_dir, "documents")
    raw = d.where(F.col("source") != "src0")
    target = d.where(F.col("source") == "src0")
    return (
        dsir_importance_weights(raw, target, "doc_id", "text")
        .orderBy(F.desc("log_weight"), "doc_id")
        .limit(15)
    )


_Q160_SQL = """
WITH raw_toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE source <> 'src0'
),
raw_toks2 AS (SELECT * FROM raw_toks WHERE tok <> ''),
tgt_toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE source = 'src0'
),
tgt_toks2 AS (SELECT * FROM tgt_toks WHERE tok <> ''),
raw_lm AS (SELECT tok, COUNT(*) AS c_raw FROM raw_toks2 GROUP BY 1),
tgt_lm AS (SELECT tok, COUNT(*) AS c_tgt FROM tgt_toks2 GROUP BY 1),
consts AS (
  SELECT (SELECT SUM(c_raw) FROM raw_lm) AS n_raw,
         (SELECT COUNT(*) FROM raw_lm) AS v,
         (SELECT COALESCE(SUM(c_tgt), 0) FROM tgt_lm) AS n_tgt
),
ratio AS (
  SELECT r.tok,
         ln((COALESCE(t.c_tgt, 0) + 1.0) / (n_tgt + 1.0 * v))
         - ln((r.c_raw + 1.0) / (n_raw + 1.0 * v)) AS log_ratio
  FROM raw_lm r LEFT JOIN tgt_lm t USING (tok), consts
)
SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
       ROUND(SUM(log_ratio), 4) AS log_weight
FROM raw_toks2 JOIN ratio USING (tok)
GROUP BY doc_id
ORDER BY log_weight DESC, doc_id LIMIT 15
"""


def q166_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit by language: after the q144 train→apply
    round trip, the per-language subword fertility (BPE tokens per word)
    and compression (characters per BPE token) — the metric that decides
    whether a tokenizer under-serves a language (high fertility = more
    sequence length spent per word; the multilingual-tokenizer fairness
    check). Pure composition: ``bpe_train`` → ``bpe_apply`` →
    language-keyed aggregate; the oracle replays the entire train→apply
    pipeline and the same ratios."""
    from pyveb_spark.operators.text import bpe_apply, bpe_train

    d = read_table(spark, sf_dir, "documents")
    merges = [
        (r["left_sym"], r["right_sym"])
        for r in bpe_train(d, text_col="text", num_merges=6)
        .orderBy("merge_rank")
        .collect()
    ]
    enc = bpe_apply(d, merges, text_col="text")
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    per_doc = enc.select(
        "lang",
        F.size(words).cast("bigint").alias("n_words"),
        F.size("bpe_tokens").cast("bigint").alias("n_bpe"),
        chars.cast("bigint").alias("n_chars"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_words"), 4
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_bpe"), 4
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


def _q166_sql(num_merges: int = 6) -> str:
    base = _q144_sql(num_merges)
    final = base[base.rindex("SELECT doc_id, COUNT(*)::BIGINT") :]
    ctes = base[: base.rindex("SELECT doc_id, COUNT(*)::BIGINT")]
    assert final  # structure pinned by the rindex above
    return (
        ctes
        + """,
per_doc AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_words,
         SUM(len(string_split_regex(trim(s), '\\s+')))::BIGINT AS n_bpe,
         SUM(length(replace(trim(s), ' ', '')))::BIGINT AS n_chars
  FROM e6
  GROUP BY doc_id)
SELECT d.lang,
       SUM(p.n_words)::BIGINT AS n_words,
       SUM(p.n_bpe)::BIGINT AS n_bpe_tokens,
       ROUND(SUM(p.n_bpe) * 1.0 / SUM(p.n_words), 4) AS fertility,
       ROUND(SUM(p.n_chars) * 1.0 / SUM(p.n_bpe), 4) AS chars_per_token
FROM per_doc p JOIN documents d USING (doc_id)
GROUP BY d.lang
ORDER BY d.lang
"""
    )


# ---------------------------------------------------------------------------
# LLM ops: hybrid retrieval — BM25 + embedding-cosine fused with RRF
# ---------------------------------------------------------------------------

def q169_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search, the production retrieval shape: the lexical BM25
    top-10 (q44's index machinery) and the dense embedding-cosine top-10
    (q19's exact baseline; vec_id ≡ doc_id in the fixture convention)
    fused with reciprocal-rank fusion (``retrieval.rrf_fuse``, Cormack
    2009) — score-free, so the incomparable BM25-log and cosine scales
    need no calibration. Ranks are assigned on (rounded score, id) — the
    cross-engine determinism contract — and the oracle replays BOTH
    retrieval pipelines and the fusion arithmetic end-to-end."""
    from pyveb_spark.operators.retrieval import (
        bm25_search,
        build_inverted_index,
        rrf_fuse,
    )
    from pyveb_spark.operators.similarity import cosine_topk

    d = read_table(spark, sf_dir, "documents")
    e = read_table(spark, sf_dir, "embeddings")
    postings, docstats = build_inverted_index(d, "doc_id", "text")
    bm = bm25_search(
        postings, docstats, ["hash", "merge", "scan", "window"], k=10
    )
    bm_ranked = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rank"),
    )
    qv = _query_vec(e)
    knn = cosine_topk(e, qv, k=10, exclude_ids=[0]).select(
        F.col("vec_id").alias("doc_id"),
        F.round("cosine_sim", 4).alias("sim"),
    )
    knn_ranked = knn.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("sim"), F.asc("doc_id")))
        .alias("rank"),
    )
    return rrf_fuse([bm_ranked, knn_ranked], id_col="doc_id", k=10)


_Q169_SQL = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
bm AS (SELECT t.doc_id,
              ROUND(SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                        * t.tf * 2.2
                        / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))), 6)
                  AS bm25
       FROM tf t JOIN dfq d USING (token) JOIN dl l USING (doc_id)
       CROSS JOIN stats s
       WHERE t.token IN ('hash', 'merge', 'scan', 'window')
       GROUP BY t.doc_id
       ORDER BY bm25 DESC, t.doc_id LIMIT 10),
bmr AS (SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM bm),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
knn AS (SELECT vec_id AS doc_id,
               ROUND(list_dot_product(embedding::DOUBLE[], qv)
                     / (sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))
                        * sqrt(list_dot_product(qv, qv))), 4) AS sim
        FROM embeddings, q
        WHERE vec_id <> 0
        ORDER BY sim DESC, vec_id LIMIT 10),
knnr AS (SELECT doc_id,
                ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rank
         FROM knn),
u AS (SELECT doc_id, 1.0 / (60 + rank) AS c FROM bmr
      UNION ALL
      SELECT doc_id, 1.0 / (60 + rank) AS c FROM knnr)
SELECT doc_id, ROUND(SUM(c), 6) AS rrf_score, COUNT(*)::BIGINT AS n_lists
FROM u GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT 10
"""


# ---------------------------------------------------------------------------
# LLM ops: fill-in-the-middle corpus transform (Bavarian 2022)
# ---------------------------------------------------------------------------

def q170_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIM (PSM-order) corpus rewriting with md5-deterministic cut points
    and apply-rate gate (``text.fim_transform``): half the corpus is
    rewritten ``<PRE>prefix<SUF>suffix<MID>middle``, half passes through
    as plain AR — the standard mixed-view pretraining recipe. The
    randomness is a pure function of doc_id (the q157/q147 retry-safety
    rule), which is exactly what lets the oracle re-derive every cut
    point and the md5 of every rewritten document. Pure per-row codegen:
    the only exchange in the plan is the presentation sort."""
    from pyveb_spark.operators.text import fim_transform

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = fim_transform(d, "doc_id", "text", min_tokens=4, fim_rate=0.5)
    return out.select(
        "doc_id",
        "fim",
        "c1",
        "c2",
        F.md5(F.col("fim_text").cast("binary")).alias("fim_md5"),
        F.length("fim_text").cast("bigint").alias("fim_len"),
    ).orderBy("doc_id")


_Q170_SQL = """
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
s AS (SELECT doc_id, text, tk, len(tk) AS n,
             ('0x' || substr(md5('fim-gate|' || doc_id), 1, 12))::BIGINT AS gh,
             ('0x' || substr(md5('fim-c1|' || doc_id), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5('fim-c2|' || doc_id), 1, 12))::BIGINT AS h2
      FROM t),
c AS (SELECT *, (n >= 4 AND (gh % 1000000) < 500000) AS fim,
             CASE WHEN n >= 4 THEN CAST(h1 % (n - 1) + 1 AS INT) END AS c1x
      FROM s),
c2t AS (SELECT *,
               CASE WHEN n >= 4
                    THEN CAST(c1x + h2 % (n - c1x) AS INT) END AS c2x
        FROM c),
r AS (SELECT doc_id, fim,
             CASE WHEN fim THEN c1x END AS c1,
             CASE WHEN fim THEN c2x END AS c2,
             -- COALESCE: DuckDB yields NULL (not '') for an inverted
             -- slice, e.g. the empty middle when c1 = c2; Spark's
             -- slice/array_join yield '' — match that
             CASE WHEN fim THEN
                 '<PRE>' || COALESCE(array_to_string(tk[1:c1x], ' '), '')
                 || '<SUF>' || COALESCE(array_to_string(tk[c2x + 1:n], ' '), '')
                 || '<MID>' || COALESCE(array_to_string(tk[c1x + 1:c2x], ' '), '')
             ELSE text END AS ft
      FROM c2t)
SELECT doc_id, fim, c1, c2, md5(ft) AS fim_md5, length(ft)::BIGINT AS fim_len
FROM r ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# LLM ops: CCNet-style perplexity tiers against a reference LM
# ---------------------------------------------------------------------------

def q175_ccnet_perplexity_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's quality-bucketing step (Wenzek 2020 §3.3): score the WHOLE
    corpus under a count-LM trained on a REFERENCE subset only (src0 —
    the Wikipedia stand-in), then split each language into head/middle/
    tail perplexity terciles. This is the piece q103 (scores under the
    corpus's own LM) and q163 (heuristic-quality curriculum) don't cover:
    an external-reference fluency prior, bucketed per language so
    low-resource languages aren't all branded "tail".

    Scored docs may carry unigrams the reference never saw — they back
    off to ``P = α/(α·V)`` (the ``bigram_lm_score`` OOV path this query
    exercises). Tier assignment runs over each language's DISTINCT
    rounded-score table (``score_tiers``): docs sharing a score share a
    tier, deterministically. Scores compare at round(4): the fixture's
    minimum distance to a rounding boundary is 1.5e-8 absolute across
    SFs — five orders above the cross-libm ln() residue (~1e-13).

    Scale: LM training = two reference-sized count aggs; scoring = two
    gram-keyed joins + per-doc fold (q103's plan); tiering adds one
    distinct-score groupBy and a broadcast stamp — nothing data-sized
    shuffles beyond the scoring joins.
    """
    from pyveb_spark.operators.sampling import score_tiers
    from pyveb_spark.operators.text import bigram_lm_score, ngram_count_table

    d = read_table(spark, sf_dir, "documents")
    ref = d.where(F.col("source") == "src0")
    # widen=False: the reference slice is subset-sized — the round-robin
    # shuffle costs more than the two count aggregations it would feed
    # (r12's q175 ×0.73 regression; guide §2.5 applies to corpus scans)
    c2 = ngram_count_table(ref, "text", n=2, min_count=2, widen=False)
    c1 = ngram_count_table(ref, "text", n=1, widen=False)
    scored = bigram_lm_score(
        d, "doc_id", "text", alpha=0.1, bigram_counts=c2, unigram_counts=c1
    ).select("doc_id", F.round("avg_logp", 4).alias("s"))
    labeled = scored.join(d.select("doc_id", "lang"), "doc_id")
    tiered = score_tiers(labeled, "s", n_tiers=3, group_cols=["lang"])
    bucket = (
        F.when(F.col("tier") == 1, "head")
        .when(F.col("tier") == 2, "middle")
        .otherwise("tail")
    )
    return (
        tiered.groupBy("lang", "tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("s").alias("score_lo"),
            F.max("s").alias("score_hi"),
        )
        .select("lang", "tier", bucket.alias("bucket"), "n_docs",
                "score_lo", "score_hi")
        .orderBy("lang", "tier")
    )


_Q175_SQL = """
WITH rt AS (SELECT string_split(text, ' ') AS t FROM documents
            WHERE source = 'src0'),
u AS (SELECT unnest(t) AS w FROM rt),
c1 AS (SELECT w, COUNT(*) AS c FROM u GROUP BY w),
v AS (SELECT COUNT(*) AS v FROM c1),
bgall AS (SELECT unnest([t[i] || ' ' || t[i+1]
                         FOR i IN range(1, len(t))]) AS g FROM rt),
c2 AS (SELECT g, COUNT(*) AS c FROM bgall GROUP BY g HAVING COUNT(*) >= 2),
toks AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
bg AS (SELECT doc_id, lang, generate_subscripts(gs, 1) AS pos,
              unnest(gs) AS g, unnest(ws) AS w1
       FROM (SELECT doc_id, lang,
                    [t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))] AS gs,
                    [t[i] FOR i IN range(1, len(t))] AS ws
             FROM toks)),
terms AS (SELECT bg.doc_id, bg.lang, bg.pos,
                 ln((COALESCE(c2.c, 0) + 0.1)
                    / (COALESCE(c1.c, 0) + 0.1 * (SELECT v FROM v))) AS lnp
          FROM bg LEFT JOIN c2 ON bg.g = c2.g LEFT JOIN c1 ON bg.w1 = c1.w),
folded AS (SELECT doc_id, lang, COUNT(*) AS n,
                  list_reduce(
                    list_prepend(CAST(0 AS DOUBLE), list(lnp ORDER BY pos)),
                    (acc, x) -> acc + x) AS ssum
           FROM terms GROUP BY doc_id, lang),
scored AS (SELECT doc_id, lang, ROUND(ssum / n, 4) AS s FROM folded),
per_score AS (SELECT lang, s, COUNT(*) AS cnt FROM scored GROUP BY lang, s),
tiers AS (
  SELECT lang, s,
         LEAST(3, CEIL(SUM(cnt) OVER (PARTITION BY lang ORDER BY s DESC
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)
                       * 3
                       / (SUM(cnt) OVER (PARTITION BY lang) * 1.0))::INT)
           AS tier
  FROM per_score)
SELECT sc.lang, t.tier,
       CASE t.tier WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       COUNT(*)::BIGINT AS n_docs,
       MIN(sc.s) AS score_lo,
       MAX(sc.s) AS score_hi
FROM scored sc JOIN tiers t ON sc.lang = t.lang AND sc.s = t.s
GROUP BY sc.lang, t.tier
ORDER BY sc.lang, t.tier
"""


# ---------------------------------------------------------------------------
# LLM ops: T5 span corruption (the third objective transform)
# ---------------------------------------------------------------------------

def q178_t5_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption (Raffel 2020 §3.1.4) over the corpus
    (``text.t5_span_corrupt``): ~15% of tokens dropped in 3-token spans
    (one per n/20-token segment), sentinel-joined input/target pair per
    doc. Span placement is a pure md5 function of (doc_id, span index) —
    the q157/q147/q170 retry-safety rule — so the oracle re-derives every
    span start and the md5 of both rendered strings. Completes the
    objective triad: MLM masking (q147), FIM (q170), span corruption.
    Pure per-row codegen; the only exchange is the presentation sort."""
    from pyveb_spark.operators.text import t5_span_corrupt

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = t5_span_corrupt(
        d, "doc_id", "text", span_len=3, tokens_per_span=20, min_tokens=20
    )
    return out.select(
        "doc_id",
        "corrupted",
        "n_spans",
        F.md5(F.col("t5_input").cast("binary")).alias("input_md5"),
        F.length("t5_input").cast("bigint").alias("input_len"),
        F.md5(F.col("t5_target").cast("binary")).alias("target_md5"),
        F.length("t5_target").cast("bigint").alias("target_len"),
    ).orderBy("doc_id")


_Q178_SQL = """
WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk,
                  len(string_split(text, ' ')) AS n
           FROM documents),
p AS (SELECT doc_id, text, tk, n,
             GREATEST(1, n // 20) AS k,
             n // GREATEST(1, n // 20) AS seg
      FROM t),
st AS (SELECT doc_id, tk, n, k,
              [CAST((i - 1) * seg + 1
                    + (('0x' || substr(md5('t5-span|' || doc_id || '|'
                                           || (i - 1)), 1, 12))::BIGINT
                       % (seg - 2)) AS INT)
               FOR i IN range(1, k + 1)] AS s
       FROM p WHERE n >= 20),
built AS (
  SELECT doc_id, k,
         array_to_string(list_concat(
           flatten([list_concat(
                      COALESCE(tk[(CASE WHEN i = 1 THEN 0
                                   ELSE s[i - 1] + 2 END) + 1 : s[i] - 1],
                               []),
                      ['<extra_id_' || (i - 1) || '>'])
                    FOR i IN range(1, k + 1)]),
           COALESCE(tk[s[k] + 3 : n], [])), ' ') AS t5_input,
         array_to_string(list_concat(
           flatten([list_concat(['<extra_id_' || (i - 1) || '>'],
                                tk[s[i] : s[i] + 2])
                    FOR i IN range(1, k + 1)]),
           ['<extra_id_' || k || '>']), ' ') AS t5_target
  FROM st)
SELECT doc_id, TRUE AS corrupted, CAST(k AS INT) AS n_spans,
       md5(t5_input) AS input_md5, length(t5_input)::BIGINT AS input_len,
       md5(t5_target) AS target_md5, length(t5_target)::BIGINT AS target_len
FROM built
UNION ALL
SELECT doc_id, FALSE AS corrupted, 0 AS n_spans,
       md5(text) AS input_md5, length(text)::BIGINT AS input_len,
       md5('') AS target_md5, 0::BIGINT AS target_len
FROM t WHERE n < 20
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# LLM ops: DPO preference-pair construction (round-8 head)
# ---------------------------------------------------------------------------

def q181_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair construction — the alignment-data prep
    step: within each prompt group (stand-in: the (source, lang) bucket),
    pick the highest- and lowest-reward responses (reward stand-in: the
    q27 composite quality score) as the (chosen, rejected) pair, keeping
    only groups with >= 2 candidates and a reward margin >= 0.05 (near-
    tie pairs teach nothing and double training noise — standard DPO
    hygiene). Ties break to the LOWEST doc_id on both sides, so the pair
    is a pure function of the corpus.

    Determinism: candidates are ranked on the RAW score double — both
    engines compute bit-identical values because every term is a single
    IEEE op on integer inputs in the same order (the q27 contract) — with
    the doc_id tie-break; only the REPORTED score/margin round to 4.

    Scale: one scan to score (stateless expressions), one groupBy on the
    prompt key with max_by/min_by struct aggregates — a single shuffle of
    (key, score, id) triples, no window, no self-join, no per-group sort.
    At 100 TB of (prompt_id, response) rows this is the same plan with
    prompt_id as the key."""
    from pyveb_spark.operators.text import preference_pairs, quality_score

    d = read_table(spark, sf_dir, "documents")
    scored = quality_score(d, "text").select(
        "source", "lang", "doc_id", "quality_score"
    )
    return preference_pairs(
        scored, ["source", "lang"], "doc_id", "quality_score",
        min_margin=0.05,
    ).orderBy("source", "lang")


_Q181_SQL = """
WITH stats AS (
    SELECT doc_id, source, lang,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
           len(list_distinct(string_split(text, ' '))) AS n_unique
    FROM documents),
scored AS (
    SELECT doc_id, source, lang,
           least(n_tokens / 50.0, 1.0) * 0.4
             + (CAST(n_unique AS DOUBLE) / n_tokens) * 0.4
             + least((CAST(n_stop AS DOUBLE) / n_tokens) * 5.0, 1.0) * 0.2
             AS s
    FROM stats),
ranked AS (
    SELECT source, lang, doc_id, s,
           ROW_NUMBER() OVER (PARTITION BY source, lang
                              ORDER BY s DESC, doc_id ASC) AS rk_hi,
           ROW_NUMBER() OVER (PARTITION BY source, lang
                              ORDER BY s ASC, doc_id ASC) AS rk_lo
    FROM scored),
grp AS (
    SELECT source, lang,
           COUNT(*)::BIGINT AS n_candidates,
           MAX(CASE WHEN rk_hi = 1 THEN doc_id END) AS chosen_id,
           MAX(CASE WHEN rk_lo = 1 THEN doc_id END) AS rejected_id,
           MAX(s) AS s_max, MIN(s) AS s_min
    FROM ranked GROUP BY source, lang)
SELECT source, lang, n_candidates,
       chosen_id, rejected_id,
       ROUND(s_max, 4) AS chosen_score,
       ROUND(s_min, 4) AS rejected_score,
       ROUND(s_max - s_min, 4) AS margin
FROM grp
WHERE n_candidates >= 2 AND s_max - s_min >= 0.05
ORDER BY source, lang
"""


# ---------------------------------------------------------------------------
# LLM ops: UL2 mixture-of-denoisers budget audit (round-8 head)
# ---------------------------------------------------------------------------

def q182_ul2_denoiser_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UL2 mixture-of-denoisers planning audit (Tay et al. 2022): assign
    every document one denoiser via the deterministic md5 split — R
    (regular T5 spans: 3-token spans, one per 20 tokens; 50%), S
    (sequential/prefix-LM: predict the suffix past a hash-chosen cut;
    25%), X (extreme: 12-token spans, one per 24 tokens; 25%) — and
    report, per denoiser, the document/token counts and the corrupted-
    token budget its parameters imply. Docs under 24 tokens route to
    'none' (too short for the X geometry). The corrupted-token math is
    the same closed-form the certified transforms execute (q178's
    ``k = max(1, n // tokens_per_span)`` spans × span_len; q170's hash
    cut for the S suffix), so this certifies the MIXTURE layer on top of
    the already-certified per-objective transforms.

    All integer arithmetic except the final rate — oracle-exact. Pure
    scan-stage assignment (stateless md5), one 4-row aggregation;
    retry-safe by construction like every objective transform here."""
    from pyveb_spark.operators.dedup import portable_hash48

    d = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    h = portable_hash48(
        F.concat_ws("|", F.lit("ul2"), F.col("doc_id").cast("string"))
    ) % 100
    hs = portable_hash48(
        F.concat_ws("|", F.lit("ul2-s"), F.col("doc_id").cast("string"))
    )
    den = (
        F.when(n < 24, F.lit("none"))
        .when(h < 50, F.lit("R"))
        .when(h < 75, F.lit("S"))
        .otherwise(F.lit("X"))
    )
    k_r = F.greatest(F.lit(1), (n / F.lit(20)).cast("int"))
    k_x = F.greatest(F.lit(1), (n / F.lit(24)).cast("int"))
    cut_s = (hs % (n - 1) + 1).cast("int")  # 1 .. n-1 (n >= 24 here)
    corrupted = (
        F.when(den == "R", k_r * 3)
        .when(den == "X", k_x * 12)
        .when(den == "S", n - cut_s)
        .otherwise(F.lit(0))
    )
    return (
        d.select(
            den.alias("denoiser"),
            n.cast("bigint").alias("n"),
            corrupted.cast("bigint").alias("c"),
        )
        .groupBy("denoiser")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
            F.sum("c").alias("n_corrupted"),
            F.round(
                F.sum("c") / F.sum("n").cast("double"), 4
            ).alias("corruption_rate"),
        )
        .orderBy("denoiser")
    )


_Q182_SQL = """
WITH t AS (
    SELECT doc_id,
           len(string_split(text, ' ')) AS n,
           ('0x' || substr(md5('ul2|' || doc_id), 1, 12))::BIGINT % 100 AS h,
           ('0x' || substr(md5('ul2-s|' || doc_id), 1, 12))::BIGINT AS hs
    FROM documents),
assigned AS (
    SELECT n,
           CASE WHEN n < 24 THEN 'none'
                WHEN h < 50 THEN 'R'
                WHEN h < 75 THEN 'S'
                ELSE 'X' END AS denoiser,
           hs % (n - 1) + 1 AS cut_s,
           greatest(1, n // 20) AS k_r,
           greatest(1, n // 24) AS k_x
    FROM t),
budget AS (
    SELECT denoiser, n,
           CASE denoiser
                WHEN 'R' THEN k_r * 3
                WHEN 'X' THEN k_x * 12
                WHEN 'S' THEN n - cut_s
                ELSE 0 END AS c
    FROM assigned)
SELECT denoiser,
       COUNT(*)::BIGINT AS n_docs,
       SUM(n)::BIGINT AS n_tokens,
       SUM(c)::BIGINT AS n_corrupted,
       ROUND(SUM(c) * 1.0 / SUM(n), 4) AS corruption_rate
FROM budget
GROUP BY denoiser
ORDER BY denoiser
"""


# ---------------------------------------------------------------------------
# LLM ops: RAG context assembly (round-8 head)
# ---------------------------------------------------------------------------

def q184_rag_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context-window assembly — the serving step between retrieval
    and the model call: take the hybrid top-10 (q169's BM25 + dense RRF
    fusion, unchanged), fetch the documents, and fill a 512-token context
    budget in fused-rank order — whole docs while they fit, the first
    overflowing doc TRUNCATED to the remaining budget, everything after
    it dropped (the standard greedy context packer). Output: one row per
    doc that contributes tokens, with its fused rank, token counts, and
    a ``truncated`` flag.

    The budget arithmetic is a prefix sum over the k-row fused list — a
    window over ≤10 rows, bounded by the retrieval k at any corpus size
    (this is the one place a global window is CORRECT: the input is the
    shortlist, not the corpus). Oracle: q169's full double-pipeline SQL
    + the same prefix-sum CASE arithmetic — integer-exact past the
    already-certified fusion scores."""
    from pyveb_spark.operators.retrieval import (
        bm25_search,
        build_inverted_index,
        rrf_fuse,
    )
    from pyveb_spark.operators.similarity import cosine_topk

    d = read_table(spark, sf_dir, "documents")
    e = read_table(spark, sf_dir, "embeddings")
    postings, docstats = build_inverted_index(d, "doc_id", "text")
    bm = bm25_search(
        postings, docstats, ["hash", "merge", "scan", "window"], k=10
    )
    bm_ranked = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rank"),
    )
    qv = _query_vec(e)
    knn = cosine_topk(e, qv, k=10, exclude_ids=[0]).select(
        F.col("vec_id").alias("doc_id"),
        F.round("cosine_sim", 4).alias("sim"),
    )
    knn_ranked = knn.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("sim"), F.asc("doc_id")))
        .alias("rank"),
    )
    fused = rrf_fuse([bm_ranked, knn_ranked], id_col="doc_id", k=10)
    sized = fused.join(
        d.select("doc_id", F.size(F.split("text", " ")).cast("bigint")
                 .alias("n_tokens")),
        "doc_id",
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    budget = F.lit(512)
    ranked = sized.select(
        F.row_number().over(w).alias("rank"),
        "doc_id",
        "rrf_score",
        "n_tokens",
        (F.sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ) - F.col("n_tokens")).alias("__before"),
    )
    included = F.when(
        F.col("__before") < budget,
        F.least(F.col("n_tokens"), budget - F.col("__before")),
    ).otherwise(F.lit(0))
    return (
        ranked.withColumn("included_tokens", included.cast("bigint"))
        .where(F.col("included_tokens") > 0)
        .select(
            "rank",
            "doc_id",
            "rrf_score",
            "n_tokens",
            "included_tokens",
            (F.col("included_tokens") < F.col("n_tokens")).alias("truncated"),
        )
        .orderBy("rank")
    )


def _q184_sql() -> str:
    # q169's full double-retrieval SQL, then the greedy budget fill
    fused = _Q169_SQL.strip().rstrip()
    assert fused.startswith("WITH ")
    body = fused[len("WITH "):]
    # strip q169's trailing SELECT into a CTE
    head, tail = body.rsplit("SELECT doc_id, ROUND(SUM(c), 6) AS rrf_score", 1)
    return f"""
WITH {head.rstrip()},
fused AS (SELECT doc_id, ROUND(SUM(c), 6) AS rrf_score{tail.replace("LIMIT 10", "LIMIT 10)")},
sized AS (SELECT f.doc_id, f.rrf_score,
                 len(string_split(d.text, ' '))::BIGINT AS n_tokens
          FROM fused f JOIN documents d USING (doc_id)),
ranked AS (SELECT ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rank,
                  doc_id, rrf_score, n_tokens,
                  SUM(n_tokens) OVER (ORDER BY rrf_score DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tokens
                    AS before_tok
           FROM sized)
SELECT rank::INT AS rank, doc_id, rrf_score, n_tokens,
       LEAST(n_tokens, 512 - before_tok)::BIGINT AS included_tokens,
       (LEAST(n_tokens, 512 - before_tok) < n_tokens) AS truncated
FROM ranked
WHERE before_tok < 512
ORDER BY rank
"""


_Q184_SQL = _q184_sql()


# ---------------------------------------------------------------------------
# Prefix-cache-aware request grouping (round-8 head)
# ---------------------------------------------------------------------------

_Q199_KEY = 4
_Q199_CAP = 16


def q199_prefix_cache_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache (KV-cache reuse) grouping audit — the serving-side
    twin of the dedup stack: group requests by their leading 4-token
    key, compute each group's EXACT shared token prefix, and rank groups
    by the tokens a prefix-cache-aware scheduler would avoid recomputing
    (``(n_docs − 1) × lcp``). vLLM-style engines get their largest
    batching wins from exactly this routing decision; on a corpus with
    planted near-dups the top groups are the dup clusters — the audit
    quantifies how much serving compute duplication costs even AFTER
    training-side dedup decisions are made.

    The group LCP is computed distributively and exactly: explode the
    first 16 token positions, and a position is "shared" iff every
    member reaches it AND carries one distinct token there; the LCP is
    the first non-shared position (capped at 16 — prefix caches bill in
    pages, not unbounded prefixes). Pure integer/string arithmetic.

    Scale: one scan + one (key, position) aggregation (map-side
    combinable, ≤ 16 rows per doc) + one key-level join — no pairwise
    stage, cost linear in corpus; the cap bounds per-key state."""
    d = read_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    g0 = d.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, _Q199_KEY), " ").alias("prefix_key"),
        F.slice(toks, 1, _Q199_CAP).alias("head"),
    ).where(F.size(toks) >= _Q199_KEY)
    counts = (
        g0.groupBy("prefix_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # shortest member head: positions past it produce no per-pos
            # rows, so without this cap a group of identical short docs
            # would report lcp = CAP > its members' actual length
            F.min(F.size("head")).alias("min_len"),
        )
        .where(F.col("n_docs") >= 2)
    )
    ex = g0.join(counts, "prefix_key").select(
        "prefix_key",
        "n_docs",
        "min_len",
        F.posexplode("head").alias("pos", "tok"),
    )
    per_pos = ex.groupBy("prefix_key", "n_docs", "min_len", "pos").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("tok").alias("nd"),
    )
    shared = (F.col("cnt") == F.col("n_docs")) & (F.col("nd") == 1)
    lcp = per_pos.groupBy("prefix_key", "n_docs").agg(
        F.least(
            F.coalesce(
                F.min(F.when(~shared, F.col("pos"))), F.lit(_Q199_CAP)
            ),
            F.min("min_len"),
        ).alias("lcp_tokens")
    )
    return (
        lcp.select(
            "prefix_key",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("lcp_tokens").cast("bigint").alias("lcp_tokens"),
            ((F.col("n_docs") - 1) * F.col("lcp_tokens"))
            .cast("bigint")
            .alias("cached_tokens_saved"),
        )
        .orderBy(F.desc("cached_tokens_saved"), "prefix_key")
        .limit(15)
    )


_Q199_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g0 AS (SELECT doc_id,
              array_to_string(toks[1:{_Q199_KEY}], ' ') AS prefix_key,
              toks[1:{_Q199_CAP}] AS head
       FROM t WHERE len(toks) >= {_Q199_KEY}),
counts AS (SELECT prefix_key, COUNT(*) AS n_docs, MIN(len(head)) AS min_len
           FROM g0 GROUP BY prefix_key HAVING COUNT(*) >= 2),
ex AS (SELECT g.prefix_key, c.n_docs, c.min_len, i - 1 AS pos,
              g.head[i] AS tok
       FROM g0 g JOIN counts c USING (prefix_key),
            LATERAL (SELECT unnest(generate_series(1, len(g.head))) AS i) s),
per_pos AS (SELECT prefix_key, n_docs, min_len, pos,
                   COUNT(*) AS cnt, COUNT(DISTINCT tok) AS nd
            FROM ex GROUP BY 1, 2, 3, 4),
lcp AS (SELECT prefix_key, n_docs,
               LEAST(COALESCE(MIN(CASE WHEN NOT (cnt = n_docs AND nd = 1)
                                       THEN pos END), {_Q199_CAP}),
                     MIN(min_len)) AS lcp_tokens
        FROM per_pos GROUP BY 1, 2)
SELECT prefix_key, n_docs::BIGINT AS n_docs,
       lcp_tokens::BIGINT AS lcp_tokens,
       ((n_docs - 1) * lcp_tokens)::BIGINT AS cached_tokens_saved
FROM lcp
ORDER BY cached_tokens_saved DESC, prefix_key
LIMIT 15
"""


# ---------------------------------------------------------------------------
# Bradley-Terry source-strength leaderboard (round-9 head)
# ---------------------------------------------------------------------------

_Q201_ITERS = 10


def q201_bradley_terry_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bradley-Terry strength leaderboard over data sources
    (``operators/text.py::preference_matches + bradley_terry`` — Hunter
    2004's MM updates, the model behind Chatbot-Arena-style Elo
    leaderboards): within each language, documents meet their
    doc_id-successor head-to-head and the higher q27 quality score wins;
    per-(winner_source, loser_source) win counts feed a 10-iteration BT
    fit whose strengths say which SOURCE wins quality comparisons after
    controlling for who it was compared against — the preference-data
    analogue of the per-source quality ranking, robust to unbalanced
    pairings where raw win-rate is not.

    Scale: matches are ONE lag window (linear, never the n² tournament);
    the win matrix is #sources² driver state (the k×dim precedent), and
    the fit runs on that matrix, never on match rows. Determinism: the
    winner decision compares raw q27 doubles (bit-identical by the q27
    contract); each MM iteration renormalizes to mean 1 and rounds to
    9 decimals — the oracle unrolls the identical 10 updates over the
    identical integer win matrix."""
    from pyveb_spark.operators.text import (
        bradley_terry,
        preference_matches,
        quality_score,
    )

    d = read_table(spark, sf_dir, "documents")
    scored = quality_score(d, "text").select(
        "lang", "doc_id", "source", "quality_score"
    )
    matches = preference_matches(
        scored, "lang", "doc_id", "quality_score", "source"
    )
    counts = matches.groupBy("winner_side", "loser_side").agg(
        F.count(F.lit(1)).alias("w")
    )
    wins = {
        (r["winner_side"], r["loser_side"]): int(r["w"])
        for r in counts.collect()
    }
    strengths = bradley_terry(wins, iters=_Q201_ITERS)
    # degenerate corpus (no decidable matches): empty model, empty output
    # — F.create_map() with zero args is invalid, so use a typed NULL
    smap_lookup = (
        F.create_map(*[F.lit(x) for kv in strengths.items() for x in kv])[
            F.col("source")
        ]
        if strengths
        else F.lit(None).cast("double")
    )
    plays = matches.select(
        F.col("winner_side").alias("source"), F.lit(1).alias("win")
    ).unionAll(
        matches.select(
            F.col("loser_side").alias("source"), F.lit(0).alias("win")
        )
    )
    per_side = plays.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.sum("win").cast("bigint").alias("n_wins"),
    )
    w = Window.orderBy(F.desc("strength"), "source")
    return (
        per_side.withColumn("strength", F.round(smap_lookup, 6))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "source", "n_matches", "n_wins", "strength")
        .orderBy("rank")
    )


def _q201_sql() -> str:
    """Unrolled 10-iteration Bradley-Terry MM fit (mirrors
    ``bradley_terry``'s determinism contract: renormalize to mean 1,
    round(9) per iteration)."""
    heads = """
WITH stats AS (
    SELECT doc_id, source, lang,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
           len(list_distinct(string_split(text, ' '))) AS n_unique
    FROM documents),
scored AS (
    SELECT doc_id, source, lang,
           least(n_tokens / 50.0, 1.0) * 0.4
             + (CAST(n_unique AS DOUBLE) / n_tokens) * 0.4
             + least((CAST(n_stop AS DOUBLE) / n_tokens) * 5.0, 1.0) * 0.2
             AS s
    FROM scored_src),
m0 AS MATERIALIZED (
    SELECT lang, doc_id, source, s,
           LEAD(doc_id) OVER w AS id_b,
           LEAD(source) OVER w AS side_b,
           LEAD(s) OVER w AS s_b
    FROM scored WINDOW w AS (PARTITION BY lang ORDER BY doc_id)),
matches AS MATERIALIZED (
    SELECT CASE WHEN s > s_b THEN source ELSE side_b END AS wside,
           CASE WHEN s > s_b THEN side_b ELSE source END AS lside
    FROM m0
    WHERE id_b IS NOT NULL AND s <> s_b AND source <> side_b),
wins AS MATERIALIZED (SELECT wside AS i, lside AS j, COUNT(*) AS w
         FROM matches GROUP BY 1, 2),
ntot AS MATERIALIZED (SELECT i, j, SUM(w) AS n FROM (
             SELECT i, j, w FROM wins
             UNION ALL SELECT j AS i, i AS j, w FROM wins)
         GROUP BY 1, 2),
wtot AS MATERIALIZED (SELECT i, SUM(w) AS wi FROM wins GROUP BY 1),
p0 AS MATERIALIZED (SELECT DISTINCT i AS s, 1.0 AS p FROM ntot)"""
    # the quality-score CTE reads documents directly (scored_src alias
    # keeps the SQL readable above)
    heads = heads.replace("FROM scored_src", "FROM stats")
    iters = []
    prev = "p0"
    for k in range(1, _Q201_ITERS + 1):
        iters.append(f"""
r{k} AS MATERIALIZED (SELECT n.i AS s,
              COALESCE(ANY_VALUE(w.wi), 0)
                / SUM(n.n / GREATEST(pi.p + pj.p, 1e-12)) AS praw
       FROM ntot n
       JOIN {prev} pi ON pi.s = n.i
       JOIN {prev} pj ON pj.s = n.j
       LEFT JOIN wtot w ON w.i = n.i
       GROUP BY n.i),
p{k} AS MATERIALIZED (SELECT s,
              ROUND(praw / (SELECT SUM(praw) / COUNT(*) FROM r{k}), 9)
                AS p
       FROM r{k})""")
        prev = f"p{k}"
    tail = f"""
plays AS (SELECT wside AS source, 1 AS win FROM matches
          UNION ALL SELECT lside AS source, 0 AS win FROM matches),
per_side AS (SELECT source, COUNT(*)::BIGINT AS n_matches,
                    SUM(win)::BIGINT AS n_wins
             FROM plays GROUP BY source),
final AS (SELECT ps.source, ps.n_matches, ps.n_wins,
                 ROUND(p.p, 6) AS strength
          FROM per_side ps JOIN {prev} p ON p.s = ps.source)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY strength DESC, source) AS INT)
         AS rank,
       source, n_matches, n_wins, strength
FROM final
ORDER BY rank"""
    return heads + "," + ",".join(iters) + "," + tail


# ---------------------------------------------------------------------------
# Preference-pair length-bias audit (round-9 head)
# ---------------------------------------------------------------------------

def q202_preference_length_bias(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length-bias audit of a preference signal — the standard
    reward-model sanity check (verbosity bias is the best-documented
    failure of learned and heuristic reward signals alike): over the
    same head-to-head match stream as q201, measure per language how
    often the WINNER is also the LONGER document and the mean length
    delta (winner − loser chars). A frac_winner_longer far above 0.5
    means the quality signal is substantially a length proxy — exactly
    what q27's 50-token length-term saturation is supposed to bound.

    Scale: the q201 lag-window match stream + two doc_id-keyed joins to
    fetch lengths + one groupBy — all linear. Determinism: winner choice
    on raw q27 doubles (q181 contract); counts and char sums are exact
    integers; the two reported ratios are single final double
    divisions."""
    from pyveb_spark.operators.text import preference_matches, quality_score

    d = read_table(spark, sf_dir, "documents")
    scored = quality_score(d, "text").select(
        "lang", "doc_id", "source", "quality_score"
    )
    matches = preference_matches(
        scored, "lang", "doc_id", "quality_score", "source"
    ).join(
        d.select(F.col("doc_id").alias("winner_id"),
                 F.col("n_chars").alias("winner_chars"),
                 F.col("lang")),
        "winner_id",
    ).join(
        d.select(F.col("doc_id").alias("loser_id"),
                 F.col("n_chars").alias("loser_chars")),
        "loser_id",
    )
    return (
        matches.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.when(
                    F.col("winner_chars") > F.col("loser_chars"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_winner_longer"),
            (
                F.sum(
                    F.when(
                        F.col("winner_chars") > F.col("loser_chars"), 1
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("__frac"),
            (
                F.sum(
                    F.col("winner_chars") - F.col("loser_chars")
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("__delta"),
        )
        .select(
            "lang",
            "n_pairs",
            "n_winner_longer",
            F.round("__frac", 6).alias("frac_winner_longer"),
            F.round("__delta", 2).alias("mean_char_delta"),
        )
        .orderBy("lang")
    )


_Q202_SQL = """
WITH stats AS (
    SELECT doc_id, source, lang, n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','and','to','in','is','it'))) AS n_stop,
           len(list_distinct(string_split(text, ' '))) AS n_unique
    FROM documents),
scored AS (
    SELECT doc_id, source, lang, n_chars,
           least(n_tokens / 50.0, 1.0) * 0.4
             + (CAST(n_unique AS DOUBLE) / n_tokens) * 0.4
             + least((CAST(n_stop AS DOUBLE) / n_tokens) * 5.0, 1.0) * 0.2
             AS s
    FROM stats),
m0 AS (
    SELECT lang, doc_id, source, s, n_chars,
           LEAD(doc_id) OVER w AS id_b,
           LEAD(source) OVER w AS side_b,
           LEAD(s) OVER w AS s_b,
           LEAD(n_chars) OVER w AS chars_b
    FROM scored WINDOW w AS (PARTITION BY lang ORDER BY doc_id)),
matches AS (
    SELECT lang,
           CASE WHEN s > s_b THEN n_chars ELSE chars_b END AS winner_chars,
           CASE WHEN s > s_b THEN chars_b ELSE n_chars END AS loser_chars
    FROM m0
    WHERE id_b IS NOT NULL AND s <> s_b AND source <> side_b)
SELECT lang,
       COUNT(*)::BIGINT AS n_pairs,
       SUM(CASE WHEN winner_chars > loser_chars THEN 1 ELSE 0 END)::BIGINT
         AS n_winner_longer,
       ROUND(CAST(SUM(CASE WHEN winner_chars > loser_chars
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS frac_winner_longer,
       ROUND(CAST(SUM(winner_chars - loser_chars) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 2) AS mean_char_delta
FROM matches
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# Durable LEXICAL index lifecycle (round-12 tranche): BM25 + phrase join
# the persisted-index program — the last retrieval family without one
# ---------------------------------------------------------------------------


@scratch_query
def q220_bm25_persisted_lifecycle(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The lexical tier of the durable-index program — BM25 gets what
    the vector/dedup families got in q206–q219: the corpus's token
    postings persist as a catalog table BUCKETED on ``token`` with the
    collection statistics (``n_docs``/``sum_dl``) stamped as a
    ``pyveb.index.*`` manifest, and the full lifecycle runs against
    it — save (doc_id >= 100), admit the doc_id < 100 wave
    (``append_bm25_index``: purely additive postings + doclens, a
    two-integer incremental manifest bump, no corpus rescan),
    ``compact_bucketed_index`` (the SHARED crash-safe staged-swap
    rewrite — nothing in it is banded-tier-specific) +
    ``refresh_bm25_stats`` (the compaction-time exact recompute), then
    q44's query served by ``bm25_search_indexed`` from the RELOADED
    artifacts only. Document frequency is derived from the matched
    postings themselves (exact at any append count — every posting of
    a query token is in the probe's buckets), so the durable layout
    carries no per-row global state to go stale.

    Correctness claim: persistence, append, compaction and the
    df-at-search-time derivation are all semantically invisible — the
    served top-10 equals the in-session ``bm25_search`` over the full
    corpus, i.e. exactly the certified q44 oracle (shared scoring tail
    ``_bm25_topk``; same rounding/tie-break contract).

    100 TB design: admission cost scales with the batch; the search
    reads only the query tokens' buckets (bucket pruning on the
    token-bucketed table) plus matched doclens; compaction amortizes
    off the ingest path with the crash-safe rename-aside swap."""
    from pyveb_spark.operators.retrieval import bm25_search_indexed
    from pyveb_spark.sinks.index_store import (
        append_bm25_index,
        compact_bucketed_index,
        load_bm25_index,
        refresh_bm25_stats,
        save_bm25_index,
    )

    table = s.name("bm25_idx")
    d = read_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") >= 100)
    wave = d.where(F.col("doc_id") < 100)
    dl_path = f"{s.dir}/doclens"

    save_bm25_index(corpus, table, dl_path, path=f"{s.dir}/postings")
    append_bm25_index(wave, table, dl_path)
    compact_bucketed_index(spark, table)
    refresh_bm25_stats(spark, table, dl_path)
    postings, doclens, meta = load_bm25_index(spark, table, dl_path)
    return bm25_search_indexed(
        postings,
        doclens,
        meta["n_docs"],
        meta["sum_dl"],
        ["hash", "merge", "scan", "window"],
        k=10,
    )


_Q220_SQL = _Q44_SQL


@scratch_query
def q221_phrase_persisted_lifecycle(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """q220's sibling for EXACT-PHRASE retrieval: the positional n-gram
    index persists bucketed on the window hash with the window width
    ``n`` in its manifest, absorbs the doc_id < 100 wave via
    ``append_ngram_index``, is rewritten by the shared crash-safe
    ``compact_bucketed_index``, and then serves q158's probe through
    ``phrase_search(index=..., meta=...)`` — the manifest validating
    that the phrase's token count equals the index's window width (a
    mismatched probe hashes to a key that cannot exist and would
    silently return nothing). The q158 certified-equivalence discipline
    is kept END TO END: the reloaded-index hits full-outer-join the
    naive whitespace-boundary substring scan, so any document the
    persisted/appended/compacted index misses (or invents) materializes
    as a row difference and fails the oracle hash.

    100 TB design: the probe is one literal pushed into a bucket-pruned
    scan of the hash-bucketed postings; appends are batch-sized;
    compaction is the shared staged swap."""
    from pyveb_spark.operators.retrieval import phrase_search
    from pyveb_spark.sinks.index_store import (
        append_ngram_index,
        compact_bucketed_index,
        load_bucketed_index,
        save_ngram_index,
    )

    table = s.name("ngram_idx")
    d = read_table(spark, sf_dir, "documents")
    row = d.where(F.col("doc_id") == 0).select("text").first()
    phrase = " ".join(row["text"].split(" ")[:3])
    n = len(phrase.split(" "))

    save_ngram_index(
        d.where(F.col("doc_id") >= 100), table, n, path=f"{s.dir}/ngrams"
    )
    append_ngram_index(d.where(F.col("doc_id") < 100), table, n)
    compact_bucketed_index(spark, table)
    idx, meta = load_bucketed_index(spark, table)
    idx_hits = phrase_search(None, phrase, index=idx, meta=meta)
    scan_hits = d.where(
        F.contains(
            F.concat(F.lit(" "), F.col("text"), F.lit(" ")),
            F.lit(f" {phrase} "),
        )
    ).select("doc_id", F.lit(1).alias("in_scan"))
    return (
        idx_hits.join(scan_hits, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("n_occurrences", F.lit(0)).alias("n_occurrences"),
            F.coalesce("in_scan", F.lit(0)).alias("in_scan"),
        )
        .orderBy("doc_id")
    )


_Q221_SQL = _Q158_SQL


@scratch_query
def q223_hybrid_persisted_serving(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """q169's hybrid production shape with BOTH legs served from DURABLE
    index artifacts — the composition the round-12 lexical tier exists
    for: the BM25 top-10 comes from the persisted token-bucketed
    postings + manifest collection stats (``bm25_search_indexed``, df
    derived from the matched buckets), and the dense top-10 from the
    persisted list-partitioned IVF index (``ivf_search`` k=10 nprobe=3
    — the real approximate serving point, partition-pruned at the
    scan), fused with reciprocal-rank fusion. Zero session state at
    query time beyond two model-sized reloads (collection stats,
    centroids): a restarted serving process reproduces this ranking
    from artifacts alone.

    Oracle: q44's BM25 pipeline + q207's IVF probe replay (seeded
    centroids, argmin assignment, 3-list probe) + the RRF arithmetic,
    end-to-end in SQL. Ranks are assigned on (rounded score, id) — the
    q169 determinism contract."""
    from pyveb_spark.operators.retrieval import (
        bm25_search_indexed,
        rrf_fuse,
    )
    from pyveb_spark.operators.similarity import ivf_index, ivf_search
    from pyveb_spark.queries._helpers import _query_vec
    from pyveb_spark.sinks.index_store import (
        load_bm25_index,
        load_ivf_index,
        save_bm25_index,
        save_ivf_index,
    )

    table = s.name("bm25_idx")
    d = read_table(spark, sf_dir, "documents")
    e = read_table(spark, sf_dir, "embeddings")

    # ---- persist both index artifacts, then serve from reloads only ----
    save_bm25_index(d, table, f"{s.dir}/doclens", path=f"{s.dir}/postings")
    indexed, cents = ivf_index(e, n_lists=16)
    save_ivf_index(indexed, cents, f"{s.dir}/ivf")

    postings, doclens, bm_meta = load_bm25_index(
        spark, table, f"{s.dir}/doclens"
    )
    bm = bm25_search_indexed(
        postings, doclens, bm_meta["n_docs"], bm_meta["sum_dl"],
        ["hash", "merge", "scan", "window"], k=10,
    )
    bm_ranked = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rank"),
    )

    ivf_postings, ivf_cents, ivf_meta = load_ivf_index(spark, f"{s.dir}/ivf")
    qv = _query_vec(e)
    knn = ivf_search(
        ivf_postings, ivf_cents, qv, k=10, nprobe=3,
        exclude_ids=[0], meta=ivf_meta,
    ).select(
        F.col("vec_id").alias("doc_id"),
        F.round("cosine_sim", 4).alias("sim"),
    )
    knn_ranked = knn.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("sim"), F.asc("doc_id")))
        .alias("rank"),
    )
    return rrf_fuse([bm_ranked, knn_ranked], id_col="doc_id", k=10)


_Q223_SQL = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
bm AS (SELECT t.doc_id,
              ROUND(SUM(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                        * t.tf * 2.2
                        / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))), 6)
                  AS bm25
       FROM tf t JOIN dfq d USING (token) JOIN dl l USING (doc_id)
       CROSS JOIN stats s
       WHERE t.token IN ('hash', 'merge', 'scan', 'window')
       GROUP BY t.doc_id
       ORDER BY bm25 DESC, t.doc_id LIMIT 10),
bmr AS (SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM bm),
ch AS (SELECT vec_id, embedding,
              ('0x' || substr(md5('ivf|' || vec_id), 1, 12))::BIGINT AS h
       FROM embeddings),
cent AS (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS list_id,
                embedding::DOUBLE[] AS cv
         FROM ch
         QUALIFY ROW_NUMBER() OVER (ORDER BY h, vec_id) <= 16),
assign AS (SELECT vec_id, list_id FROM (
    SELECT e.vec_id, c.list_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY list_distance(e.embedding::DOUBLE[], c.cv),
                                       c.list_id) AS rk
    FROM embeddings e CROSS JOIN cent c) t
  WHERE rk = 1),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
probe AS (SELECT c.list_id FROM cent c, q
          ORDER BY list_distance(c.cv, q.qv), c.list_id
          LIMIT 3),
scored AS (SELECT e.vec_id, 
                  list_dot_product(e.embedding::DOUBLE[], q.qv)
                    / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(q.qv, q.qv))) AS sim
           FROM embeddings e
           JOIN assign a ON a.vec_id = e.vec_id
           CROSS JOIN q
           WHERE a.list_id IN (SELECT list_id FROM probe) AND e.vec_id <> 0),
knn AS (SELECT vec_id AS doc_id, ROUND(sim, 4) AS simr
        FROM scored ORDER BY sim DESC, vec_id LIMIT 10),
knnr AS (SELECT doc_id,
                ROW_NUMBER() OVER (ORDER BY simr DESC, doc_id) AS rank
         FROM knn),
u AS (SELECT doc_id, 1.0 / (60 + rank) AS c FROM bmr
      UNION ALL
      SELECT doc_id, 1.0 / (60 + rank) AS c FROM knnr)
SELECT doc_id, ROUND(SUM(c), 6) AS rrf_score, COUNT(*)::BIGINT AS n_lists
FROM u GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT 10
"""
