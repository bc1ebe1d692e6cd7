"""ETL pipelines and merge/CDC: upserts, SCD2, snapshot diff, admission pipelines.

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
# §2.2 merge: upsert semantics (delete-then-insert, rs_client.py:242-283)
# as a pure-query equivalence check
# ---------------------------------------------------------------------------

def q21_upsert_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert = stage ∪ (target ⟕anti stage) on key o_orderkey — the exact
    merge the reference runs as DELETE USING + INSERT inside Redshift
    (``rs_client.py:242-283``). Uses the engine's merge implementation and
    verifies its result aggregate against the oracle's relational algebra.
    Stage batch: 1997+ orders with totalprice discounted 10% (exact decimal).
    """
    from pyveb_spark.sinks.merge import upsert_frames

    o = read_table(spark, sf_dir, "orders")
    target = o.where(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    stage = o.where(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).withColumn(
        "o_totalprice",
        (_dec("o_totalprice") * F.lit(0.9).cast("decimal(3,2)")).cast("double"),
    )
    merged = upsert_frames(target, stage, keys=["o_orderkey"])
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice", 14, 4)).cast("double").alias("sum_totalprice"),
        )
        .orderBy("o_orderstatus")
    )


_Q21_SQL = """
WITH target AS (SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
stage AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                 CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(0.9 AS DECIMAL(3,2)) AS DOUBLE) AS o_totalprice,
                 o_orderdate, o_orderpriority
          FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
merged AS (
    SELECT * FROM stage
    UNION ALL
    SELECT t.* FROM target t WHERE NOT EXISTS (SELECT 1 FROM stage s WHERE s.o_orderkey = t.o_orderkey))
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,4))) AS DOUBLE) AS sum_totalprice
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@scratch_query
def q32_pipeline_e2e(
    spark: SparkSession, sf_dir: str, s: QueryScratch
) -> DataFrame:
    """The reference's whole Extract → Transform → Load flow as ONE
    oracle-checked job: a declarative ``Pipeline`` reads orders, runs the
    §2.3 transform library (clamp old dates, nan_to_null on the status
    string), upserts the per-(year, priority) aggregate into a
    ``ParquetMergeSink`` TWICE (idempotence is part of what the oracle
    certifies — a second identical merge must not change the table), and
    returns the table read back from disk. The reference needed three
    processes and S3 staging between them (SURVEY §3.1); here extract,
    transform and merge fuse into one lazy plan per run."""
    import os

    from pyveb_spark.operators.cleaning import clean_old_dates, nan_to_null
    from pyveb_spark.plans.pipeline import Pipeline, PipelineStep
    from pyveb_spark.sinks.merge import ParquetMergeSink

    def agg(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                F.year("o_orderdate").alias("order_year"),
                F.col("o_orderpriority").alias("priority"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(_dec("o_totalprice")).cast("double").alias("total_price"),
            )
        )

    sink = ParquetMergeSink(spark, os.path.join(s.dir, "table"))
    pipe = Pipeline(
        name="orders_rollup",
        source=lambda sess: read_table(sess, sf_dir, "orders"),
        steps=[
            PipelineStep("clamp", clean_old_dates,
                         {"cols": ["o_orderdate"], "floor": "1996-01-01"}),
            PipelineStep("nulls", nan_to_null, {"cols": ["o_orderstatus"]}),
            PipelineStep("rollup", agg),
        ],
        sink=lambda df: sink.upsert(df, keys=["order_year", "priority"]),
    )
    pipe.run(spark)
    pipe.run(spark)  # idempotent re-run: same keys upsert to same state
    return sink.read().orderBy("order_year", "priority")


_Q32_SQL = """
SELECT EXTRACT(year FROM CASE WHEN o_orderdate < TIMESTAMP '1996-01-01'
                              THEN TIMESTAMP '1996-01-01'
                              ELSE o_orderdate END) AS order_year,
       o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY order_year, priority
ORDER BY order_year, priority
"""


# ---------------------------------------------------------------------------
# ETL ops: single-pass table profiler (data-quality gate before load)
# ---------------------------------------------------------------------------

def q94_llm_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data admission pipeline as ONE lazy plan, under
    the oracle: quality filter (rounded q27 score > 0.55) → boilerplate
    drop (chunk-dup ratio > 1/2, exact integer compare) → benchmark
    decontamination (shared distinct 5-gram vs docs < 50) → τ=0.5
    temperature mix (geometric-mean quotas, hash-ranked exact-k) →
    512-token sequence packing. Output is the q54 per-pack summary of the
    admitted corpus. Each stage recomputes over the previous stage's
    survivors (staged semantics, mirrored CTE-for-CTE in the SQL); all
    stage predicates are engine-portable (rounded floats, integer ratios,
    md5 ranks), which is what lets a five-stage pipeline hash-match
    bit-for-bit. The composed plan is still scan → filters → two bounded
    joins → one window → one prefix-sum window: no stage materializes."""
    from pyveb_spark.operators.dedup import chunk_stats, contamination_check
    from pyveb_spark.operators.packing import pack_spans
    from pyveb_spark.operators.sampling import ranked_quota_sample
    from pyveb_spark.operators.text import quality_score

    d = read_table(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("bench_id"), F.col("text").alias("btext")
    )
    corpus = d.where(F.col("doc_id") >= 50)

    surv1 = (
        quality_score(corpus, "text")
        .where(F.round(F.col("quality_score"), 4) > 0.55)
        .select("doc_id", "text", "source")
    )
    boiler = (
        chunk_stats(surv1, "doc_id", "text", chunk_tokens=12)
        .where(F.col("n_dup_chunks") * 2 > F.col("n_chunks"))
        .select("doc_id")
    )
    surv2 = surv1.join(boiler, "doc_id", "left_anti")
    dirty = (
        contamination_check(
            surv2, bench, "doc_id", "text", "bench_id", "btext",
            n=5, min_overlap=1,
        )
        .select("doc_id")
        .distinct()
    )
    surv3 = surv2.join(dirty, "doc_id", "left_anti")

    counts = surv3.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    min_n = counts.agg(F.min("__n").alias("__mn"))
    quotas = counts.crossJoin(F.broadcast(min_n)).select(
        "source",
        F.floor(
            F.sqrt((F.col("__n") * F.col("__mn")).cast("double"))
        ).alias("quota"),
    )
    kept = ranked_quota_sample(surv3, "source", ["doc_id"], quotas, seed="e2e")

    sized = kept.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    spans = pack_spans(sized, "n_tokens", "doc_id", budget=512)
    return (
        spans.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("span_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("pack_id")
    )


_Q94_SQL = """
WITH corpus AS (SELECT * FROM documents WHERE doc_id >= 50),
stats AS (
    SELECT doc_id, text, source,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','and','to','in','is','it'))) AS n_stopwords,
           len(list_distinct(string_split(text, ' '))) AS n_unique
    FROM corpus),
surv1 AS (
    SELECT doc_id, text, source FROM stats
    WHERE ROUND(least(n_tokens / 50.0, 1.0) * 0.4
                + (CAST(n_unique AS DOUBLE) / n_tokens) * 0.4
                + least((CAST(n_stopwords AS DOUBLE) / n_tokens) * 5.0, 1.0)
                  * 0.2, 4) > 0.55),
ck AS (
    SELECT doc_id, i AS pos,
           array_to_string(toks[(i * 12 + 1):(i * 12 + 12)], ' ') AS chunk
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM surv1) d,
         LATERAL (SELECT unnest(generate_series(
             0, CAST(ceil(len(toks) / 12.0) AS BIGINT) - 1)) AS i) s),
cr AS (
    SELECT doc_id,
           row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rk
    FROM ck),
boiler AS (
    SELECT doc_id FROM cr
    GROUP BY doc_id
    HAVING SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) * 2 > COUNT(*)),
surv2 AS (
    SELECT * FROM surv1 WHERE doc_id NOT IN (SELECT doc_id FROM boiler)),
bgrams AS (
    SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
               || ' ' || t[i+4] AS g
    FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id < 50) b,
         LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i) s),
dirty AS (
    SELECT DISTINCT doc_id
    FROM (SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                 || t[i+3] || ' ' || t[i+4] AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM surv2) c,
               LATERAL (SELECT unnest(generate_series(1, len(t)-4)) AS i) s)
    WHERE g IN (SELECT g FROM bgrams)),
surv3 AS (
    SELECT * FROM surv2 WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
c AS (SELECT source, COUNT(*) AS n FROM surv3 GROUP BY source),
q AS (SELECT source,
             CAST(FLOOR(SQRT(CAST(n * (SELECT MIN(n) FROM c) AS DOUBLE)))
                  AS BIGINT) AS quota
      FROM c),
r AS (SELECT s.doc_id, s.text, s.source,
             ROW_NUMBER() OVER (
                 PARTITION BY s.source
                 ORDER BY substr(md5(concat_ws('|', 'e2e', s.doc_id)), 1, 12),
                          s.doc_id) AS rk
      FROM surv3 s),
kept AS (SELECT r.doc_id, r.text FROM r JOIN q ON r.source = q.source
         WHERE r.rk <= q.quota),
sized AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM kept),
offs AS (SELECT doc_id, n,
                SUM(n) OVER (ORDER BY doc_id) - n AS start_tok,
                SUM(n) OVER (ORDER BY doc_id) - 1 AS end_tok
         FROM sized),
spans AS (SELECT doc_id,
                 unnest(generate_series(CAST(start_tok // 512 AS BIGINT),
                                        CAST(end_tok // 512 AS BIGINT)))
                     AS pack_id,
                 start_tok, end_tok
          FROM offs WHERE n > 0)
SELECT pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(LEAST(end_tok, pack_id * 512 + 511)
                - GREATEST(start_tok, pack_id * 512) + 1) AS BIGINT)
           AS pack_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM spans
GROUP BY pack_id
ORDER BY pack_id
"""


def q112_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply (``sinks/merge.py::apply_changelog``): a
    synthetic Debezium-style changelog derived from orders — key =
    custkey, seq = (orderdate, orderkey), op = D when the latest order is
    'F' else U with the order's payload — applied to the customer table.
    Latest-op-wins per key, deletes remove rows, updates/inserts land the
    payload. The delete capability is exactly what the reference's
    three ``insert_type`` strategies lack (``rs_client.py:242-283``)."""
    from pyveb_spark.sinks.merge import apply_changelog

    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    o = read_table(spark, sf_dir, "orders")
    changelog = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("u"), F.col("o_orderkey")).alias("c_name"),
        F.col("o_totalprice").alias("c_acctbal"),
        F.when(F.col("o_orderstatus") == "F", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "o_orderdate",
        "o_orderkey",
    )
    return apply_changelog(
        c, changelog, ["c_custkey"], ["o_orderdate", "o_orderkey"]
    ).orderBy("c_custkey")


_Q112_SQL = """
WITH ch AS (SELECT o_custkey AS c_custkey,
                   'u' || o_orderkey AS c_name,
                   o_totalprice AS c_acctbal,
                   CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
                   ROW_NUMBER() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders),
latest AS (SELECT * FROM ch WHERE rn = 1)
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
UNION ALL
SELECT c_custkey, c_name, c_acctbal FROM latest WHERE op <> 'D'
ORDER BY c_custkey
"""


def q113_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of) read: backfill an SCD2 history from the
    orders event stream (``history_from_events`` — each customer's orders
    become consecutive versions closed by the next order) and snapshot
    the state as of 1997-06-01 (``snapshot_asof`` — a shuffle-free,
    pushdown-able filter). The question the reference's destructive
    upsert permanently destroys the answer to."""
    from pyveb_spark.sinks.merge import history_from_events, snapshot_asof

    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice", "o_orderstatus",
        "o_orderdate",
    )
    hist = history_from_events(
        o, ["o_custkey"], "o_orderdate", tiebreak_cols=["o_orderkey"]
    )
    return (
        snapshot_asof(hist, "1997-06-01")
        .select(
            "o_custkey", "o_orderkey", "o_totalprice", "o_orderstatus",
            F.unix_micros("valid_from").alias("valid_from_us"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


_Q113_SQL = """
WITH v AS (SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus,
                  o_orderdate AS valid_from,
                  LEAD(o_orderdate) OVER (
                      PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey) AS valid_to
           FROM orders)
SELECT o_custkey, o_orderkey, o_totalprice, o_orderstatus,
       epoch_us(valid_from) AS valid_from_us
FROM v
WHERE valid_from <= TIMESTAMP '1997-06-01'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '1997-06-01')
ORDER BY o_custkey, o_orderkey
"""


def q133_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC recovery from full snapshots (``sinks/merge.py::
    snapshot_diff`` — the inverse of q112's apply): yesterday = orders
    before 1997, today = orders from 1996 on with 1996 prices doubled.
    The diff must classify pre-1996 keys D, 1997+ keys I, and 1996 keys
    U with the new payload — exactly the changelog a full-extract source
    (the reference's ``lynx_client`` daily pulls) can't emit itself.
    One full-outer join on the key; output is delta-sized."""
    from pyveb_spark.sinks.merge import snapshot_diff

    o = read_table(spark, sf_dir, "orders")
    y96 = F.lit("1996-01-01").cast("timestamp")
    y97 = F.lit("1997-01-01").cast("timestamp")
    old = o.where(F.col("o_orderdate") < y97).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    new = o.where(F.col("o_orderdate") >= y96).select(
        "o_orderkey",
        F.when(
            F.col("o_orderdate") < y97, F.col("o_totalprice") * 2
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderpriority",
    )
    return snapshot_diff(old, new, ["o_orderkey"]).orderBy("o_orderkey")


_Q133_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
  WHERE o_orderdate < TIMESTAMP '1997-01-01'),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
              THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
         o_orderpriority
  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01')
SELECT n.o_orderkey, n.o_totalprice, n.o_orderpriority, 'I' AS op
FROM new n WHERE n.o_orderkey NOT IN (SELECT o_orderkey FROM old)
UNION ALL
SELECT o.o_orderkey, o.o_totalprice, o.o_orderpriority, 'D' AS op
FROM old o WHERE o.o_orderkey NOT IN (SELECT o_orderkey FROM new)
UNION ALL
SELECT n.o_orderkey, n.o_totalprice, n.o_orderpriority, 'U' AS op
FROM new n JOIN old o ON n.o_orderkey = o.o_orderkey
WHERE n.o_totalprice IS DISTINCT FROM o.o_totalprice
   OR n.o_orderpriority IS DISTINCT FROM o.o_orderpriority
ORDER BY o_orderkey
"""


def q150_pretrain_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 admission pipeline, composed from the NEWEST
    operators as ONE lazy plan (the q94 discipline): Gopher rule gate
    (q145, scan-stage) → exact dedup keep-first on the md5 content
    fingerprint (one window shuffle) → deterministic MLM masking (q147,
    scan-stage) → hash-shard assignment (q148, scan-stage) → per-shard
    audit aggregation (one shuffle). TWO shuffles total for the whole
    five-stage build; nothing materializes in between, every stage's
    arithmetic is replayed by the oracle."""
    from pyveb_spark.operators.dedup import portable_hash48
    from pyveb_spark.operators.sampling import shard_assign
    from pyveb_spark.operators.text import (
        gopher_quality_filter,
        mlm_mask,
    )

    d = read_table(spark, sf_dir, "documents")
    gated = gopher_quality_filter(d, text_col="text", min_words=30).where(
        F.col("keep")
    )
    fp = portable_hash48(F.trim(F.lower(F.col("text"))))
    w = Window.partitionBy("__fp").orderBy("doc_id")
    deduped = (
        gated.withColumn("__fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
    )
    masked = mlm_mask(deduped, rate_pct=15)
    sharded = shard_assign(masked, 4, ["doc_id"], seed="v2")
    return (
        sharded.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("bigint")
            .alias("n_tokens"),
            F.sum("n_masked").cast("bigint").alias("n_masked"),
        )
        .orderBy("shard")
    )


_Q150_SQL = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), w -> w <> '') AS toks,
         string_split(text, ' ') AS raw_toks
  FROM documents),
gated AS (
  SELECT doc_id, text, raw_toks
  FROM t
  WHERE len(toks) >= 30 AND len(toks) <= 100000
    AND CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
          / len(toks) BETWEEN 3.0 AND 10.0
    AND CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
             AS DOUBLE) / len(toks) >= 0.8
    AND len(list_filter(toks, w -> list_contains(
            ['the','a','of','and','to','in','is','it'], lower(w)))) >= 2),
deduped AS (
  SELECT doc_id, raw_toks
  FROM (SELECT doc_id, raw_toks,
               ROW_NUMBER() OVER (
                 PARTITION BY
                   ('0x' || substr(md5(trim(lower(text))), 1, 12))::BIGINT
                 ORDER BY doc_id) AS rn
        FROM gated)
  WHERE rn = 1),
masked AS (
  SELECT doc_id, len(raw_toks) AS nt,
         len(list_filter(
             list_transform(raw_toks, (w, i) -> CASE
                 WHEN ('0x' || substr(md5(doc_id || '|' || (i - 1)), 1, 12))
                        ::BIGINT % 100 < 15
                 THEN '<mask>' ELSE w END),
             w -> w = '<mask>')) AS nm
  FROM deduped)
SELECT CAST(('0x' || substr(md5('v2|' || doc_id), 1, 12))::BIGINT % 4
            AS INT) AS shard,
       COUNT(*)::BIGINT AS n_docs,
       SUM(nt)::BIGINT AS n_tokens,
       SUM(nm)::BIGINT AS n_masked
FROM masked
GROUP BY 1 ORDER BY shard
"""


# ---------------------------------------------------------------------------
# LLM ops: the composed new-batch ingest recipe (quarantine -> dedup-admit
# -> decontaminate -> pack) — the end-to-end shape a 100 TB ingest runs
# ---------------------------------------------------------------------------

def q180_ingest_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed "new-batch ingest at scale" recipe — every serving
    shape the suite certifies separately, chained the way a production
    corpus ingest actually runs them, with a terminal status per document
    (first failing stage wins):

    1. **quality quarantine** — the Gopher rule gate (q145/q150's
       battery, scan-stage); rejects become ``quarantined`` — the text
       corpus analog of q167's corrupt-payload routing: failures are
       DATA, the batch never dies.
    2. **dedup admission** — the q45 production shape: one
       ``minhash_lsh_lookup`` of the survivors against the prebuilt
       corpus index (persisted postings + precomputed hot-bucket
       blacklist; cost ∝ batch, never corpus); exact-Jaccard ≥ 0.8
       hits become ``duplicate``.
    3. **fuzzy decontamination** — q172's sweep against the held-out
       eval set (benchmark-sized index, broadcastable at any corpus
       scale); bigram Jaccard ≥ 0.7 hits become ``contaminated``.
    4. **packing** — admitted docs tile into 512-token training windows
       (q54's distributed prefix-sum ``pack_spans``, no global window).

    Output: the 4-row ingest audit (status, doc count, token count, and
    for admitted docs the packed-window count) — always 4 rows, so a
    batch where a stage rejects nothing still reports that stage.

    Roles on the fixture: eval = ``doc_id % 10 == 0``, corpus =
    ``doc_id >= 100`` (rest), batch = ``doc_id < 100`` (rest).

    Oracle: the q150 Gopher SQL + the q45 band-join/cap/verify SQL (run
    twice: corpus-side cap for dedup, eval-side cap for decontamination)
    + the packing invariant (every window except the last holds exactly
    512 tokens, so ``n_packs = ceil(tokens/512)``), composed over the
    same role split.

    Scale: stage 1 is scan-stage; stage 2 is the measured-flat q45
    admission (BASELINE.md: ~flat across 30× corpus growth); stage 3
    costs one lookup pass against a benchmark-sized index; stage 4 is
    one range exchange. Nothing materializes between stages except the
    two persisted index artifacts a production ingest would already
    hold on disk."""
    from pyveb_spark.operators.cache import cached_once
    from pyveb_spark.operators.dedup import (
        fuzzy_decontaminate,
        minhash_hot_buckets,
        minhash_lsh_index,
        minhash_lsh_lookup,
    )
    from pyveb_spark.operators.packing import pack_spans
    from pyveb_spark.operators.text import gopher_quality_filter

    d = read_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 10 == 0
    eval_docs = d.where(is_eval).select("doc_id", "text")
    corpus = d.where((F.col("doc_id") >= 100) & ~is_eval).select(
        "doc_id", "text"
    )
    batch = d.where((F.col("doc_id") < 100) & ~is_eval).select(
        "doc_id",
        "text",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )

    gated = gopher_quality_filter(batch, text_col="text", min_words=30)
    quarantined = gated.where(~F.col("keep"))
    pass1 = gated.where(F.col("keep")).select("doc_id", "text", "n_tokens")

    index = cached_once(
        minhash_lsh_index(corpus, "doc_id", "text"), "q180_index"
    )
    hot = cached_once(minhash_hot_buckets(index), "q180_hot_buckets")
    # Pin the two id-lists for the duration of this plan: Spark shares no
    # common subtrees across union branches, so without these persists the
    # LSH admission lookup executes once per leg that references
    # dup_ids/pass2 (4 legs + the packing subquery) and the
    # decontamination pipeline three times (guide §5 caching rule). Both
    # frames are batch-sized id lists.
    dup_ids = cached_once(
        minhash_lsh_lookup(
            pass1, index, "doc_id", "text", threshold=0.8, hot_buckets=hot
        )
        .select(F.col("doc_id_new").alias("doc_id"))
        .distinct(),
        "q180_dup_ids",
    )
    duplicate = pass1.join(dup_ids, "doc_id", "left_semi")
    pass2 = pass1.join(dup_ids, "doc_id", "left_anti")

    contam_ids = cached_once(
        fuzzy_decontaminate(
            pass2, eval_docs, "doc_id", "text", threshold=0.7, widen=False
        ).select("doc_id"),
        "q180_contam_ids",
    )
    contaminated = pass2.join(contam_ids, "doc_id", "left_semi")
    admitted = pass2.join(contam_ids, "doc_id", "left_anti")

    def audit(df: DataFrame, status: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        ).select(F.lit(status).alias("status"), "n_docs", "n_tokens")

    no_packs = F.lit(None).cast("bigint")
    n_packs = pack_spans(
        admitted.select("doc_id", "n_tokens"), "n_tokens", "doc_id",
        budget=512,
    ).agg(F.count_distinct("pack_id").alias("n_packs"))
    return (
        audit(admitted, "admitted")
        .crossJoin(n_packs)
        .unionByName(
            audit(contaminated, "contaminated").withColumn(
                "n_packs", no_packs
            )
        )
        .unionByName(
            audit(duplicate, "duplicate").withColumn("n_packs", no_packs)
        )
        .unionByName(
            audit(quarantined, "quarantined").withColumn("n_packs", no_packs)
        )
        .orderBy("status")
    )


def _q180_sql() -> str:
    from pyveb_spark.queries.dedup import (
        _LSH_CAP,
        _band_sql_exprs,
        _minhash_sql_exprs,
    )

    jacc = (
        "len(list_intersect(ga.gh, gb.gh)) * 1.0 "
        "/ (ga.n + gb.n - len(list_intersect(ga.gh, gb.gh)))"
    )
    return f"""
WITH roles AS (
  SELECT doc_id, text,
         len(string_split(text, ' ')) AS n_tokens,
         CASE WHEN doc_id % 10 = 0 THEN 'eval'
              WHEN doc_id >= 100 THEN 'corpus'
              ELSE 'batch' END AS role
  FROM documents),
gatein AS (
  SELECT doc_id, n_tokens,
         list_filter(string_split(text, ' '), w -> w <> '') AS toks
  FROM roles WHERE role = 'batch'),
gate AS (
  SELECT doc_id, n_tokens,
         (len(toks) >= 30 AND len(toks) <= 100000
          AND CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
                / len(toks) BETWEEN 3.0 AND 10.0
          AND CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
                   AS DOUBLE) / len(toks) >= 0.8
          AND len(list_filter(toks, w -> list_contains(
                  ['the','a','of','and','to','in','is','it'], lower(w)))) >= 2
         ) AS keep
  FROM gatein),
mtoks AS (SELECT r.doc_id, string_split(r.text, ' ') AS t, r.role
          FROM roles r LEFT JOIN gate g USING (doc_id)
          WHERE r.role <> 'batch' OR g.keep),
grams AS (SELECT doc_id, role,
                 list_distinct([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gs
          FROM mtoks),
hashed AS (SELECT doc_id, role,
                  list_transform(gs, g -> ('0x' || substr(md5(g), 1, 12))::BIGINT) AS gh,
                  len(gs) AS n
           FROM grams),
sigs AS (SELECT doc_id, role, gh, n, [
    {_minhash_sql_exprs(32)}
  ] AS mh
  FROM hashed WHERE n > 0),
bandvals AS (SELECT doc_id, role, gh, n, [
    {_band_sql_exprs(32, 8)}
  ] AS bh
  FROM sigs),
banded AS (SELECT doc_id, role,
                  generate_subscripts(bh, 1) AS band, unnest(bh) AS h
           FROM bandvals),
bszc AS (SELECT band, h, COUNT(*) AS m FROM banded
         WHERE role = 'corpus' GROUP BY band, h),
corpusb AS (SELECT banded.doc_id, banded.band, banded.h
            FROM banded JOIN bszc USING (band, h)
            WHERE banded.role = 'corpus' AND m <= {_LSH_CAP}),
candc AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          FROM banded a JOIN corpusb b ON a.band = b.band AND a.h = b.h
          WHERE a.role = 'batch'),
dup_ids AS (SELECT DISTINCT ida AS doc_id
            FROM candc
            JOIN hashed ga ON ga.doc_id = ida
            JOIN hashed gb ON gb.doc_id = idb
            WHERE {jacc} >= 0.8),
bsze AS (SELECT band, h, COUNT(*) AS m FROM banded
         WHERE role = 'eval' GROUP BY band, h),
evalb AS (SELECT banded.doc_id, banded.band, banded.h
          FROM banded JOIN bsze USING (band, h)
          WHERE banded.role = 'eval' AND m <= {_LSH_CAP}),
cande AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
          FROM banded a JOIN evalb b ON a.band = b.band AND a.h = b.h
          WHERE a.role = 'batch'
            AND a.doc_id NOT IN (SELECT doc_id FROM dup_ids)),
contam_ids AS (SELECT DISTINCT ida AS doc_id
               FROM cande
               JOIN hashed ga ON ga.doc_id = ida
               JOIN hashed gb ON gb.doc_id = idb
               WHERE {jacc} >= 0.7),
statuses AS (
  SELECT g.doc_id, g.n_tokens,
         CASE WHEN NOT g.keep THEN 'quarantined'
              WHEN g.doc_id IN (SELECT doc_id FROM dup_ids) THEN 'duplicate'
              WHEN g.doc_id IN (SELECT doc_id FROM contam_ids)
                THEN 'contaminated'
              ELSE 'admitted' END AS status
  FROM gate g),
agg AS (
  SELECT status, COUNT(*) AS n_docs, SUM(n_tokens) AS n_tokens
  FROM statuses GROUP BY status)
SELECT s.status,
       COALESCE(a.n_docs, 0)::BIGINT AS n_docs,
       a.n_tokens::BIGINT AS n_tokens,
       CASE WHEN s.status = 'admitted'
            THEN COALESCE((a.n_tokens + 511) // 512, 0)::BIGINT
            ELSE NULL END AS n_packs
FROM (VALUES ('admitted'), ('contaminated'), ('duplicate'),
             ('quarantined')) s(status)
LEFT JOIN agg a USING (status)
ORDER BY s.status
"""


_Q180_SQL = _q180_sql()


# ---------------------------------------------------------------------------
# GDPR tombstone cascade (round-8 head)
# ---------------------------------------------------------------------------

def q190_gdpr_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten erasure audit
    (``operators/cleaning.py::tombstone_cascade``): a 5% hash-keyed
    erasure batch of customers propagates down the FK chain
    customer → orders → lineitem, and the audit reports — per table —
    total rows, rows erased, rows retained, and the monetary mass
    leaving the table (acctbal / totalprice / extendedprice, exact
    decimal sums). This is the signed-off artifact a deletion run
    produces BEFORE the rewrite; the retained frames from the same flags
    feed the §2.2 writers.

    Scale: one hash semi-join-shaped flag join per level (AQE-sized, no
    forced broadcast — erasure batches can be millions of keys), one
    aggregation per table, flags computed once. The erasure set is
    deterministic (md5-keyed sample), so retries rebuild the identical
    cascade."""
    from pyveb_spark.operators.cleaning import tombstone_cascade
    from pyveb_spark.operators.sampling import sample_predicate

    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    tomb = c.where(
        sample_predicate(0.05, ["c_custkey"], seed="gdpr")
    ).select("c_custkey")
    flagged = tombstone_cascade(
        tomb,
        [
            ("customer", c, "c_custkey", "c_custkey"),
            ("orders", o, "o_custkey", "o_orderkey"),
            ("lineitem", li, "l_orderkey", None),
        ],
    )
    value_col = {
        "customer": "c_acctbal",
        "orders": "o_totalprice",
        "lineitem": "l_extendedprice",
    }
    audits = []
    for name, df in flagged:
        d = F.col("__deleted")
        audits.append(
            df.agg(
                F.lit(name).alias("table_name"),
                F.count(F.lit(1)).cast("bigint").alias("rows_total"),
                F.sum(F.when(d, 1).otherwise(0))
                .cast("bigint")
                .alias("rows_erased"),
                F.sum(F.when(~d, 1).otherwise(0))
                .cast("bigint")
                .alias("rows_retained"),
                F.sum(F.when(d, _dec(value_col[name])).otherwise(None))
                .cast("double")
                .alias("value_erased"),
            )
        )
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out.orderBy("table_name")


_Q190_SQL = """
WITH tomb AS (
  SELECT c_custkey FROM customer
  WHERE substr(md5('gdpr|' || c_custkey), 1, 12) < '0ccccccccccd'),
del_o AS (SELECT o_orderkey FROM orders
          WHERE o_custkey IN (SELECT c_custkey FROM tomb)),
a_c AS (
  SELECT 'customer' AS table_name,
         COUNT(*)::BIGINT AS rows_total,
         SUM(CASE WHEN c_custkey IN (SELECT c_custkey FROM tomb)
                  THEN 1 ELSE 0 END)::BIGINT AS rows_erased,
         SUM(CASE WHEN c_custkey IN (SELECT c_custkey FROM tomb)
                  THEN 0 ELSE 1 END)::BIGINT AS rows_retained,
         CAST(SUM(CASE WHEN c_custkey IN (SELECT c_custkey FROM tomb)
                       THEN CAST(c_acctbal AS DECIMAL(12,2)) END)
              AS DOUBLE) AS value_erased
  FROM customer),
a_o AS (
  SELECT 'orders', COUNT(*)::BIGINT,
         SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM tomb)
                  THEN 1 ELSE 0 END)::BIGINT,
         SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM tomb)
                  THEN 0 ELSE 1 END)::BIGINT,
         CAST(SUM(CASE WHEN o_custkey IN (SELECT c_custkey FROM tomb)
                       THEN CAST(o_totalprice AS DECIMAL(12,2)) END)
              AS DOUBLE)
  FROM orders),
a_l AS (
  SELECT 'lineitem', COUNT(*)::BIGINT,
         SUM(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM del_o)
                  THEN 1 ELSE 0 END)::BIGINT,
         SUM(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM del_o)
                  THEN 0 ELSE 1 END)::BIGINT,
         CAST(SUM(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM del_o)
                       THEN CAST(l_extendedprice AS DECIMAL(12,2)) END)
              AS DOUBLE)
  FROM lineitem)
SELECT * FROM a_c UNION ALL SELECT * FROM a_o UNION ALL SELECT * FROM a_l
ORDER BY table_name
"""
