"""Durable index artifacts: build once, reload in any later session.
The layout is the index: each artifact is laid out on the column its
lookup prunes by, so reading it back costs a metadata listing, not a
rebuild.

Every artifact belongs to one of two families:

- **Parquet directory.** IVF postings partitioned by ``ivf_list`` (a
  probe is partition pruning at the scan) with a k×dim centroid table
  beside them; sign-LSH rows partitioned by bucket id; the id-Bloom word
  table; PQ codebooks; SQ8 stats. One layout, ``<path>/{<table>…,
  manifest}``, where the manifest is a one-row typed parquet table, and
  one commit: ``_save_artifact`` writes every table and the manifest
  under ``<path>__save_stage`` and installs it with ``writers.swap_dir``,
  so a crash never leaves data and manifest that disagree.
  ``_load_artifact`` names the recovery rename of a crashed commit
  before anything is read.
- **Bucketed catalog table.** MinHash and SimHash banded postings on
  ``(__band, __h)``, BM25 token postings on ``token``, n-gram phrase
  postings on ``__h``. They share one lifecycle:
  ``save_bucketed_index`` → ``load_bucketed_index`` →
  ``append_bucketed_index`` → ``compact_bucketed_index``. The save fixes
  the bucket spec; appends and compaction read it back from the catalog,
  so the zero-index-side-shuffle join survives every step. The build
  manifest lives in ``pyveb.index.*`` TBLPROPERTIES and travels with the
  table. The tier functions add only their own step: the MinHash skew
  list, the BM25 doclens and collection statistics, the n-gram build.

Every loader returns the manifest as its last element; search and
lookup helpers validate against it (``check_index_meta``).

Reference parity: the reference stages corpus artifacts to files
between pipeline phases through one upload/download path
(``src/pyveb/s3_client.py:188-231``); this is the Spark-first
equivalent for index artifacts.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "save_ivf_index",
    "load_ivf_index",
    "append_ivf_postings",
    "compact_ivf_postings",
    "maybe_compact_ivf_postings",
    "rebuild_ivf_index",
    "save_lsh_index",
    "load_lsh_index",
    "save_bucketed_index",
    "load_bucketed_index",
    "append_bucketed_index",
    "compact_bucketed_index",
    "save_minhash_index",
    "load_minhash_index",
    "append_minhash_index",
    "compact_minhash_index",
    "save_id_bloom",
    "load_id_bloom",
    "update_id_bloom",
    "bloom_words_frame",
    "save_bm25_index",
    "load_bm25_index",
    "append_bm25_index",
    "refresh_bm25_stats",
    "save_ngram_index",
    "append_ngram_index",
    "save_pq_codebooks",
    "load_pq_codebooks",
    "save_sq8_stats",
    "load_sq8_stats",
    "check_index_meta",
]

# table names inside a directory artifact
_MANIFEST = "manifest"
_IVF_POSTINGS = "postings"
_IVF_CENTROIDS = "centroids"
_LSH_BUCKETS = "buckets"
_BLOOM_WORDS = "words"
_PQ_CODEBOOKS = "codebooks"
_SQ8_STATS = "stats"
# every directory-artifact save stages at <path>__save_stage
_SAVE_STAGE = "__save_stage"
_IVF_LIST = "ivf_list"  # the partition column every IVF search probes
_LSH_BUCKET = "__b"  # the lsh_bucket column a persisted LSH index keeps
_BLOOM_BITS_PER_KEY = 32  # see save_id_bloom for the sizing
# catalog-property namespace for a bucketed table's build manifest
_MH_PROP = "pyveb.index."
# bucket count a bucketed index is saved with; appends and compaction
# read the count back from the catalog
_NUM_BUCKETS = 8


# ---------------------------------------------------------------------------
# Build manifests — the round-10 sign-LSH pattern, generalized (round 11).
#
# Every index artifact is only usable with the EXACT build parameters it
# was constructed with: a MinHash lookup with mismatched n/num_hashes/
# bands hashes probes into unrelated buckets, an IVF probe against the
# wrong dim or list count scores garbage, PQ/SQ8 codes decode against the
# wrong geometry. The parameters therefore belong to the ARTIFACT, not to
# whoever happens to remember them next session: savers persist a typed
# one-row manifest with the data, loaders return it, and the search/
# lookup helpers validate against it (mismatch = loud error, the exact
# failure mode the LSH manifest docstring names).
# ---------------------------------------------------------------------------


def _meta_type(v) -> str:
    if isinstance(v, bool):
        raise TypeError("manifest values must be int/float/str, not bool")
    if isinstance(v, int):
        return "bigint"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    raise TypeError(f"unsupported manifest value type: {type(v).__name__}")


def _save_artifact(
    spark: SparkSession, path: str, tables: dict, meta: dict, check=None
) -> None:
    """The one commit of every directory artifact. Writes each table
    (name → its configured ``DataFrameWriter``) and ``meta`` as the
    one-row typed manifest (int → bigint, float → double, str → string;
    values round-trip exactly; none when ``meta`` is empty) under
    ``<path>__save_stage``, runs ``check(stage)`` on the complete stage,
    marks it complete (``_SUCCESS``) and installs it as ``<path>``
    through ``writers.swap_dir``. A failure before the swap drops the
    stage and leaves ``<path>`` untouched; a crash inside the swap keeps
    both copies, and ``_load_artifact`` and the next save name the
    recovery rename."""
    from pyveb_spark.session import local_df
    from pyveb_spark.sinks.writers import (
        _hadoop_fs,
        raise_if_swap_crashed,
        swap_dir,
    )

    stage = path.rstrip("/") + _SAVE_STAGE
    raise_if_swap_crashed(spark, stage, path)
    fs, HPath = _hadoop_fs(spark, stage)
    # a stage beside the live artifact is left by a save that failed
    # before its swap; the live copy is authoritative — redo
    fs.delete(HPath(stage), True)
    if meta:
        keys = sorted(meta)
        tables = dict(tables)
        tables[_MANIFEST] = local_df(
            spark,
            [tuple(meta[k] for k in keys)],
            ", ".join(f"{k} {_meta_type(meta[k])}" for k in keys),
        ).coalesce(1).write
    try:
        for name, writer in tables.items():
            writer.mode("overwrite").parquet(os.path.join(stage, name))
        if check is not None:
            check(stage)
        fs.create(HPath(os.path.join(stage, "_SUCCESS")), True).close()
    except Exception:
        fs.delete(HPath(stage), True)
        raise
    with swap_dir(spark, stage, path):
        pass


def _load_artifact(spark: SparkSession, path: str, *tables: str) -> tuple:
    """``(path of each table…, manifest)`` of a directory artifact, after
    ``writers.raise_if_swap_crashed`` on its save stage and on each
    table's ``compact_files`` stage (the IVF postings compaction), so a
    crashed commit is reported with its recovery rename instead of being
    read as a missing or empty artifact.

    The manifest comes back with its stored types, ``{}`` when the
    artifact has none (saved without ``meta``, or before manifests). A
    manifest that exists but fails to read propagates: swallowing the
    error would be indistinguishable from no manifest and let a caller
    silently hash with the wrong constants."""
    from pyveb_spark.sinks.writers import _hadoop_fs, raise_if_swap_crashed

    raise_if_swap_crashed(spark, path.rstrip("/") + _SAVE_STAGE, path)
    paths = [os.path.join(path, t) for t in tables]
    for p in paths:
        raise_if_swap_crashed(spark, p + "__compact_stage", p)
    manifest = os.path.join(path, _MANIFEST)
    fs, HPath = _hadoop_fs(spark, manifest)
    row = (
        spark.read.parquet(manifest).first()
        if fs.exists(HPath(manifest))
        else None
    )
    return (*paths, {} if row is None else row.asDict())


def check_index_meta(meta: dict, **expected) -> None:
    """Raise when a persisted build manifest disagrees with the
    parameters a caller is about to search/encode with — the loud-error
    half of the manifest contract. Keys absent from ``meta`` are not
    checked (pre-manifest artifacts validate vacuously)."""
    bad = {
        k: (meta[k], v)
        for k, v in expected.items()
        if k in meta and meta[k] != v
    }
    if bad:
        detail = ", ".join(
            f"{k}: artifact was built with {a!r}, caller uses {b!r}"
            for k, (a, b) in sorted(bad.items())
        )
        raise ValueError(
            f"index build-manifest mismatch — {detail}. Searching an "
            "index with parameters other than its build parameters "
            "returns silent garbage; pass the values of the manifest "
            "its load_* function returned."
        )


def _ivf_tables(
    indexed: DataFrame, centroids: list[tuple[int, list[float]]], meta
) -> tuple[dict, dict]:
    """(tables, manifest) of an IVF index for ``_save_artifact``."""
    from pyveb_spark.session import local_df

    # Align the write to the partition column (guide §8: decide with
    # small rows, move narrow bytes once): the upstream encode runs at
    # scan parallelism, then only the NARROW encoded rows (id + m code
    # bytes + list) shuffle into one task per list — one right-sized
    # file per partition instead of (input partitions × lists) small
    # files, and the probe's pruned scan opens nprobe files.
    tables = {
        _IVF_POSTINGS: indexed.repartition(F.col(_IVF_LIST)).write.partitionBy(
            _IVF_LIST
        ),
        _IVF_CENTROIDS: local_df(
            indexed.sparkSession,
            [(int(i), [float(x) for x in c]) for i, c in centroids],
            "list_id int, centroid array<double>",
        ).coalesce(1).write,
    }
    manifest = {"n_lists": len(centroids)}
    if centroids:
        manifest["dim"] = len(centroids[0][1])
    manifest.update(meta or {})
    return tables, manifest


def save_ivf_index(
    indexed: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    meta: dict | None = None,
) -> None:
    """Persist an ``ivf_index`` result: postings partitioned by the list
    id (probe = partition pruning), centroids as a k×dim parquet table,
    plus a build manifest (``n_lists``/``dim`` derived from the
    centroids, merged with caller extras like ``metric`` or the PQ
    geometry of encoded postings). A re-save over an existing index
    replaces the whole artifact in one ``_save_artifact`` commit."""
    _save_artifact(
        indexed.sparkSession, path, *_ivf_tables(indexed, centroids, meta)
    )


def load_ivf_index(spark: SparkSession, path: str):
    """Reload a persisted IVF index: (postings frame with the partition
    column restored to its build-time int type, driver-side centroid
    list sorted by list id, build manifest). The centroid collect is
    k×dim — model-sized by construction. Pass the manifest to
    ``ivf_search(meta=...)`` so a dim/list-count drift fails loudly."""
    postings, cents, meta = _load_artifact(
        spark, path, _IVF_POSTINGS, _IVF_CENTROIDS
    )
    rows = sorted(
        spark.read.parquet(cents).collect(), key=lambda r: r["list_id"]
    )
    centroids = [
        (int(r["list_id"]), [float(x) for x in r["centroid"]])
        for r in rows
    ]
    return (
        spark.read.parquet(postings).withColumn(
            _IVF_LIST, F.col(_IVF_LIST).cast("int")
        ),
        centroids,
        meta,
    )


def append_ivf_postings(assigned: DataFrame, path: str) -> None:
    """Incremental IVF admission: append newly-assigned vectors (rows
    already carrying ``ivf_list`` from ``nearest_centroid`` against the
    EXISTING centroids) into the persisted postings — each batch lands
    in its list's partition directories, searchable immediately, no
    rebuild. The coarse quantizer stays frozen between rebuilds (the
    standard IVF serving contract; re-clustering is the rebuild path,
    ``save_ivf_index``)."""
    assigned.write.mode("append").partitionBy(_IVF_LIST).parquet(
        os.path.join(path, _IVF_POSTINGS)
    )


def compact_ivf_postings(spark: SparkSession, path: str) -> None:
    """Index-lifecycle compaction for the IVF postings (the step
    ``append_ivf_postings`` defers): every append lands new small files
    in the grown lists' partition directories, and after N batches a
    probe pays N file opens per pruned list. This rewrites the postings
    layout via ``layout.compact_files`` with ``partition_cols`` set to
    the list id — one right-sized file per list partition, committed by
    ``writers.swap_dir`` — so the ``PartitionFilters`` pruning property is
    untouched (pinned by test: search identical, file count drops).
    Centroids are k×dim and never fragment; they are left alone."""
    from pyveb_spark.operators.layout import compact_files

    compact_files(
        spark, os.path.join(path, _IVF_POSTINGS), partition_cols=[_IVF_LIST]
    )


def maybe_compact_ivf_postings(
    spark: SparkSession,
    path: str,
    max_files_per_list: int = 8,
) -> bool:
    """Threshold-triggered lifecycle compaction — the policy half of
    ``compact_ivf_postings``, for callers that append continuously (the
    streaming admission loop, q218): FS-list the postings directory,
    count data files per list partition, and compact only when some
    list exceeds ``max_files_per_list``. The check is a metadata
    listing (no data scan); returns whether a compaction ran.

    100 TB note: the trigger runs off the ingest path's critical
    section — appends land first, the rewrite happens after the batch
    commits — and the rewrite itself is per-partition and committed by
    ``writers.swap_dir`` (``compact_ivf_postings``), so probes never see
    a half-compacted list."""
    from collections import Counter

    from pyveb_spark.operators.layout import _parquet_files
    from pyveb_spark.sinks.writers import _hadoop_fs

    root = os.path.join(path, _IVF_POSTINGS)
    fs, HPath = _hadoop_fs(spark, root)
    if not fs.exists(HPath(root)):
        # a raw Py4J FileNotFoundException from the listing would be the
        # module's one non-actionable failure — name the crashed commit
        # or the missing path
        _load_artifact(spark, path, _IVF_POSTINGS)
        raise ValueError(
            f"IVF postings directory {root!r} does not exist — "
            "nothing to compact; seed the index with save_ivf_index "
            "(or check the index path) before running the "
            "compaction trigger"
        )
    counts = Counter(part for part, _ in _parquet_files(spark, root))
    if not counts or max(counts.values()) <= int(max_files_per_list):
        return False
    compact_ivf_postings(spark, path)
    return True


def rebuild_ivf_index(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    n_lists: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
    tol: float = 0.0,
    meta: dict | None = None,
) -> dict:
    """The RE-CLUSTER lifecycle step the frozen-quantizer serving
    contract defers to (``append_ivf_postings``: "re-clustering is the
    rebuild path") and q211's health audit exists to trigger: as
    batches append under centroids trained on the original corpus, hot
    regions of the drifted distribution pile into a few lists and probe
    cost per pruned list grows unevenly. This retrains the coarse
    quantizer on the GROWN population, re-assigns every posting, and
    swaps in the new artifact version — the acting half of the audit.

    ``source`` is the full current population ``(id, vector)`` — for a
    flat index the postings themselves work; for an encoded index
    (PQ/SQ8 codes, no raw vectors in the postings) pass the vector
    corpus. Retraining uses Lloyd's k-means (``kmeans_iters`` > 0 —
    the balance-restoring path, pinned by test) or the deterministic
    md5 seed-sample (``kmeans_iters=0`` — oracle-replayable verbatim);
    both are engine-portable, so a rebuilt index stays under the full
    value-hash oracle (q222). Postings keep every non-list column
    untouched (codes are NOT re-encoded — this implementation encodes
    raw vectors, not residuals, so codes are list-independent): the new
    assignment joins onto the old rows by id, and a source that fails
    to cover the postings ids aborts loudly before any swap (silent
    row loss is the failure mode).

    The new artifact — postings, centroids, manifest (old extras kept,
    geometry keys refreshed) and COPIES of any sidecars in the index
    dir (e.g. the q218 admission Bloom; the id set is preserved) — is
    staged and committed by ``_save_artifact``, like any re-save.

    Returns the balance report: per-list max/mean ratio (empty lists
    count as zero) before and after — the number q211 monitors, so the
    operator can log the improvement the rebuild bought.

    100 TB note: cost is one k-means fit over the population (or one
    hash-sample scan), one assignment scan, one partitioned rewrite —
    the same order as the initial build, run at the cadence the health
    audit indicates (weeks, not batches), entirely off the ingest and
    query paths."""
    from pyveb_spark.operators.similarity import (
        _seed_centroids,
        kmeans_fit,
        nearest_centroid,
    )
    from pyveb_spark.sinks.writers import _hadoop_fs

    postings_dir = os.path.join(path, _IVF_POSTINGS)
    fs, HPath = _hadoop_fs(spark, path)
    if not fs.exists(HPath(postings_dir)):
        _load_artifact(spark, path, _IVF_POSTINGS)
        raise ValueError(
            f"IVF postings directory {postings_dir!r} does not exist — "
            "seed the index with save_ivf_index before rebuilding"
        )

    old_postings, _, old_meta = load_ivf_index(spark, path)
    before = {
        int(r[_IVF_LIST]): int(r["n"])
        for r in old_postings.groupBy(_IVF_LIST)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if n_lists is None:
        n_lists = int(old_meta.get("n_lists", len(before)))

    vecs = source.select(id_col, vec_col)
    if kmeans_iters > 0:
        new_cents = kmeans_fit(
            vecs, k=n_lists, max_iter=kmeans_iters, tol=tol,
            id_col=id_col, vec_col=vec_col,
        )
    else:
        new_cents = _seed_centroids(vecs, n_lists, id_col, vec_col)
    assigned = vecs.select(
        F.col(id_col),
        nearest_centroid(F.col(vec_col), new_cents)["list_id"].alias(
            _IVF_LIST
        ),
    )
    new_postings = old_postings.drop(_IVF_LIST).join(assigned, id_col)
    new_meta = {
        k: v for k, v in old_meta.items() if k not in ("n_lists", "dim")
    }
    new_meta.update(meta or {})
    after: dict[int, int] = {}

    def _cover_and_copy_sidecars(stage: str) -> None:
        after.update(
            (int(r[_IVF_LIST]), int(r["n"]))
            for r in spark.read.parquet(os.path.join(stage, _IVF_POSTINGS))
            .groupBy(_IVF_LIST)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        n_before, n_after = sum(before.values()), sum(after.values())
        if n_before != n_after:
            raise ValueError(
                f"rebuild source does not cover the postings ids: "
                f"{n_before} postings rows but {n_after} survived the "
                "re-assignment join — the original artifact is "
                "untouched; pass a source containing every indexed id"
            )
        # sidecar artifacts (anything that is not a core table) travel
        # as COPIES so the live artifact keeps its own until the swap
        FileUtil = spark._jvm.org.apache.hadoop.fs.FileUtil
        core = {_IVF_POSTINGS, _IVF_CENTROIDS, _MANIFEST}
        for st in fs.listStatus(HPath(path)):
            name = st.getPath().getName()
            if name in core:
                continue
            FileUtil.copy(
                fs, st.getPath(), fs,
                HPath(os.path.join(stage, name)), False,
                spark._jsc.hadoopConfiguration(),
            )

    _save_artifact(
        spark,
        path,
        *_ivf_tables(new_postings, new_cents, new_meta),
        check=_cover_and_copy_sidecars,
    )

    def _imbalance(counts: dict[int, int]) -> float:
        total = sum(counts.values())
        mean = total / float(n_lists) if n_lists else 0.0
        return round(max(counts.values()) / mean, 4) if mean else 0.0

    return {
        "n_rows": sum(after.values()),
        "n_lists": int(n_lists),
        "before_max": max(before.values()),
        "before_imbalance": _imbalance(before),
        "after_max": max(after.values()),
        "after_imbalance": _imbalance(after),
    }


def save_lsh_index(
    index: DataFrame, path: str, meta: dict | None = None
) -> None:
    """Persist a sign-LSH bucketed corpus (``lsh_bucket`` output with
    ``bucket_col="__b"``) partitioned by the bucket id: a lookup against
    the reloaded index prunes to the probe's buckets at the scan.

    ``meta`` (recommended: ``{"n_planes": ..., "seed": ..., "dim":
    ...}``) is the artifact's typed manifest. A sign-LSH index is only
    usable with the EXACT plane construction it was built with — a probe
    hashed under different planes lands in unrelated buckets and
    silently returns garbage — so the build parameters belong to the
    artifact, not to whoever happens to remember them next session.
    ``load_lsh_index`` returns them for the lookup call (this is how
    ``n_planes="auto"`` composes with persistence: resolve the count at
    BUILD time — ``suggest_lsh_planes`` — save it in the manifest,
    reload it at admission time)."""
    _save_artifact(
        index.sparkSession,
        path,
        {_LSH_BUCKETS: index.write.partitionBy(_LSH_BUCKET)},
        meta or {},
    )


def load_lsh_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, dict]:
    """Reload a persisted LSH index: (frame with the bucket column
    restored to the build-time long type — partition-dir inference
    narrows it, build manifest with its saved types, ``{}`` when the
    index was saved without one). Pass the manifest's
    ``n_planes``/``seed`` straight into ``lsh_cosine_lookup``."""
    buckets, meta = _load_artifact(spark, path, _LSH_BUCKETS)
    df = spark.read.parquet(buckets).withColumn(
        _LSH_BUCKET, F.col(_LSH_BUCKET).cast("long")
    )
    return df, meta




def _set_table_meta(spark: SparkSession, table: str, meta: dict) -> None:
    """Stamp a build manifest into the table's catalog properties under
    the ``pyveb.index.`` namespace — the manifest travels with the table
    identity (rename, compaction swap), no side file to drift. Each
    value carries a type tag (``bigint:4`` / ``double:0.8`` /
    ``string:007``) matching the typed parquet manifest of
    ``_save_artifact``: TBLPROPERTIES are strings, and blind int/float
    re-parsing on read would round-trip a string value that happens to
    parse numerically (a version tag ``'007'``, ``'1e3'``) as a number
    — making ``check_index_meta`` raise a spurious mismatch against the
    original string."""
    props = ", ".join(
        f"'{_MH_PROP}{k}'='{_meta_type(meta[k])}:{meta[k]}'"
        for k in sorted(meta)
    )
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({props})")


def _get_table_meta(spark: SparkSession, table: str) -> dict:
    """Read the ``pyveb.index.`` manifest back out of the catalog
    properties. Tagged values (``_set_table_meta``) re-type exactly;
    untagged values from pre-round-12 artifacts fall back to the legacy
    heuristic (int, then float, else str)."""
    meta: dict = {}
    for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect():
        if not r["key"].startswith(_MH_PROP):
            continue
        k, v = r["key"][len(_MH_PROP):], r["value"]
        tag, _, rest = v.partition(":")
        if tag == "bigint":
            meta[k] = int(rest)
        elif tag == "double":
            meta[k] = float(rest)
        elif tag == "string":
            meta[k] = rest
        else:
            try:
                meta[k] = int(v)
            except ValueError:
                try:
                    meta[k] = float(v)
                except ValueError:
                    meta[k] = v
    return meta


def _raise_if_crashed_swap(spark: SparkSession, table: str) -> None:
    """Crashed-compaction detection for every bucketed catalog index:
    the table is missing but its committed compaction stage exists — a
    compaction died inside the metadata swap. Refuse to proceed with the
    full recovery steps (including the external-table SET LOCATION case,
    where a plain RENAME would re-attach the stage to a now-moved
    path)."""
    stage = f"{table}__compact_stage"
    if not spark.catalog.tableExists(table) and spark.catalog.tableExists(
        stage
    ):
        raise RuntimeError(
            f"index table {table!r} is missing but its "
            f"compaction stage {stage!r} exists — a compaction crashed "
            "inside the metadata swap; the compacted data is complete. "
            f"Recover with: ALTER TABLE {stage} RENAME TO {table}. "
            "External tables: first check which location actually holds "
            "the data — if the crash happened after the directory swap, "
            "the stage table points at a now-moved path and needs "
            f"ALTER TABLE {stage} SET LOCATION '<index location>' "
            "BEFORE the rename (re-attaching it unchanged would serve "
            "an empty/nonexistent directory)."
        )


def _bucket_spec(
    spark: SparkSession, table: str
) -> tuple[int, list[str], dict[str, str]]:
    """(bucket count, bucket columns, DESCRIBE FORMATTED fields) of an
    existing bucketed index table, read from the catalog — the one
    source of the layout for appends and compaction. The spec is
    load-bearing: a different count or key would rebucket the table
    (Spark refuses such an append) and break the zero-shuffle
    co-located join, so an unreadable spec raises instead of being
    guessed."""
    if not spark.catalog.tableExists(table):
        _raise_if_crashed_swap(spark, table)
        raise ValueError(f"index table {table!r} does not exist")
    described = {
        r.col_name.strip(): (r.data_type or "").strip()
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        if r.col_name and r.col_name.strip()
    }
    if "Num Buckets" not in described:
        raise ValueError(
            f"table {table!r} has no 'Num Buckets' in its catalog "
            "metadata — not a bucketed index table (or the DESCRIBE "
            "FORMATTED layout changed); refusing to guess a count"
        )
    bucket_cols = re.findall(
        r"`([^`]+)`", described.get("Bucket Columns", "")
    )
    if not bucket_cols:
        raise ValueError(
            f"table {table!r} has no parseable 'Bucket Columns' in its "
            "catalog metadata — refusing to guess the bucket key "
            f"(got: {described.get('Bucket Columns')!r})"
        )
    return int(described["Num Buckets"]), bucket_cols, described


def save_bucketed_index(
    postings: DataFrame,
    table: str,
    bucket_cols: list[str],
    path: str | None = None,
    meta: dict | None = None,
) -> None:
    """Persist index postings as a catalog table bucketed on
    ``bucket_cols`` (``writers.write_bucketed_table``) — a lookup
    equi-joins the table with zero index-side shuffle, and a literal
    probe bucket-prunes the scan. ``path`` makes it an external table.

    ``meta`` (the build parameters the lookup must hash with) is stamped
    as ``pyveb.index.*`` TBLPROPERTIES: a probe built with different
    parameters joins into unrelated buckets and silently returns
    garbage, so the parameters belong to the artifact. They survive
    appends and the compaction swap (pinned by test)."""
    from pyveb_spark.sinks.writers import write_bucketed_table

    write_bucketed_table(
        postings, table, bucket_cols, num_buckets=_NUM_BUCKETS, path=path
    )
    if meta:
        _set_table_meta(postings.sparkSession, table, meta)


def load_bucketed_index(spark: SparkSession, table: str):
    """Reload a bucketed index table after checking for a crashed
    compaction swap: (table frame, build manifest — ``{}`` for a
    pre-manifest table). Pass the manifest to the lookup
    (``simhash_lookup(meta=...)``, ``phrase_search(meta=...)``, …) so
    the probe uses the index's own parameters."""
    _raise_if_crashed_swap(spark, table)
    return spark.table(table), _get_table_meta(spark, table)


def append_bucketed_index(postings: DataFrame, table: str) -> None:
    """Append an admitted batch's postings into a persisted bucketed
    index. The bucket count and columns come from the table's catalog
    entry (``_bucket_spec``), so the append always matches the spec the
    table was saved with and the zero-shuffle join property survives
    (pinned by test)."""
    from pyveb_spark.sinks.writers import write_bucketed_table

    num_buckets, bucket_cols, _ = _bucket_spec(postings.sparkSession, table)
    write_bucketed_table(
        postings, table, bucket_cols, num_buckets=num_buckets, mode="append"
    )


def compact_bucketed_index(spark: SparkSession, table: str) -> None:
    """Crash-safe lifecycle compaction for ANY bucketed catalog index
    table — MinHash/SimHash banded postings, BM25 token postings, n-gram
    phrase postings all share it. Each append's ``saveAsTable`` lands
    one file per (task × bucket); after N ingest waves a lookup opens
    ~N files per bucket. This rewrites the rows
    ``repartition(num_buckets, *bucket_cols)``-aligned to the bucket
    hash (Spark's bucket id and HashPartitioning share the same
    pmod-Murmur3, so every task holds exactly one bucket → ONE file per
    bucket), with the bucket spec — count AND columns — read from the
    table's own catalog metadata (``_bucket_spec``), so the
    zero-index-side-shuffle join property survives by construction
    (pinned by test) and nothing in the rewrite is tier-specific.

    Crash-safety: the replacement is FULLY written as the bucketed
    table ``{table}__compact_stage`` while the original keeps serving;
    a failed write drops the partial stage. Then managed tables DROP +
    RENAME; external tables run ``SET LOCATION`` + RENAME inside a
    ``writers.swap_dir`` from ``<loc>__compact_stage`` into ``<loc>``
    (the path is part of the table's identity, pinned by test). A crash
    in the catalog window is reported by ``_raise_if_crashed_swap``."""
    from pyveb_spark.sinks.writers import swap_dir, write_bucketed_table

    num_buckets, bucket_cols, described = _bucket_spec(spark, table)
    stage = f"{table}__compact_stage"
    # a stage alongside a live original is leftover from a run that
    # failed BEFORE the swap — the original is authoritative; redo.
    spark.sql(f"DROP TABLE IF EXISTS {stage}")
    loc = described.get("Location") or None
    is_external = described.get("Type", "").upper() == "EXTERNAL"
    stage_loc = (loc.rstrip("/") + "__compact_stage") if is_external else None
    build_meta = _get_table_meta(spark, table)

    # 1) expensive part: write the complete replacement as a bucketed
    #    stage table while the original keeps serving. Failure here
    #    loses nothing — drop the partial stage and re-raise.
    try:
        write_bucketed_table(
            spark.table(table).repartition(num_buckets, *bucket_cols),
            stage,
            bucket_cols,
            num_buckets=num_buckets,
            path=stage_loc,
        )
    except Exception:
        spark.sql(f"DROP TABLE IF EXISTS {stage}")
        raise
    # the build manifest travels with the replacement (stamped BEFORE
    # the swap so a crash inside the window loses no metadata either)
    if build_meta:
        _set_table_meta(spark, stage, build_meta)
    # 2) swap; the compacted data is durable from here on (swap_dir
    #    keeps the original at <loc>__compact_old until the body ends)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if is_external:
        with swap_dir(spark, stage_loc, loc):
            spark.sql(f"ALTER TABLE {stage} SET LOCATION '{loc}'")
            spark.sql(f"ALTER TABLE {stage} RENAME TO {table}")
    else:
        spark.sql(f"ALTER TABLE {stage} RENAME TO {table}")


def _write_hot_buckets(spark: SparkSession, table: str, hot_path: str) -> None:
    """(Re)write the ``minhash_hot_buckets`` skew blacklist of a MinHash
    index table at ``hot_path`` — one tiny file."""
    from pyveb_spark.operators.dedup import minhash_hot_buckets

    minhash_hot_buckets(spark.table(table)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(hot_path)


def save_minhash_index(
    index: DataFrame,
    table: str,
    hot_path: str,
    path: str | None = None,
    meta: dict | None = None,
) -> None:
    """Persist a ``minhash_lsh_index`` through ``save_bucketed_index``
    on ``(__band, __h)`` and write the ``minhash_hot_buckets`` skew
    blacklist at ``hot_path`` (tiny by definition; refresh at compaction
    time, staleness after appends only loosens the skew guard, never
    correctness). ``meta`` is the ``minhash_lsh_index`` build parameters
    ``{"n": ..., "num_hashes": ..., "bands": ...}``;
    ``load_minhash_index`` returns them for
    ``minhash_lsh_lookup(meta=...)``."""
    save_bucketed_index(index, table, ["__band", "__h"], path=path, meta=meta)
    _write_hot_buckets(index.sparkSession, table, hot_path)


def load_minhash_index(spark: SparkSession, table: str, hot_path: str):
    """Reload the bucketed MinHash postings table and its persisted
    hot-bucket blacklist — pass both straight into
    ``minhash_lsh_lookup(index=..., hot_buckets=...)`` (the q45
    production shape with zero per-batch index work) — plus the build
    manifest stamped by ``save_minhash_index(meta=...)`` (``{}`` for a
    pre-manifest table): pass it as ``minhash_lsh_lookup(meta=...)`` so
    the probe hashes with the index's OWN n/num_hashes/bands."""
    idx, meta = load_bucketed_index(spark, table)
    return idx, spark.read.parquet(hot_path), meta


def append_minhash_index(
    postings: DataFrame, table: str, hot_path: str | None = None
) -> None:
    """``append_bucketed_index`` for MinHash postings. Pass ``hot_path``
    to also REFRESH the skew blacklist from the grown table (the
    compaction-time step); omit it to defer — staleness only loosens the
    skew guard, never correctness (the ``minhash_lsh_index``
    contract)."""
    append_bucketed_index(postings, table)
    if hot_path is not None:
        _write_hot_buckets(postings.sparkSession, table, hot_path)


def compact_minhash_index(
    spark: SparkSession, table: str, hot_path: str | None = None
) -> None:
    """:func:`compact_bucketed_index` (the shared crash-safe rewrite —
    see its docstring for the staged swap contract) plus the MinHash
    step: when ``hot_path`` is given, the ``minhash_hot_buckets`` skew
    blacklist is refreshed from the compacted table in the same pass
    (the compaction-time refresh ``append_minhash_index`` defers to)."""
    compact_bucketed_index(spark, table)
    if hot_path is not None:
        _write_hot_buckets(spark, table, hot_path)


# ---------------------------------------------------------------------------
# Persisted membership Bloom filter (round 12): the admission-screen
# sidecar for streaming ingest against a durable index — replaces the
# per-batch corpus-id scan the q218 lifecycle was flagged for.
# ---------------------------------------------------------------------------


def save_id_bloom(
    ids: DataFrame,
    path: str,
    key_col: str = "vec_id",
    num_bits: int | None = None,
    num_hashes: int = 7,
):
    """Build and persist a Bloom filter over an index's id column — the
    fixed-size membership sidecar that makes streaming admission's
    idempotence check O(batch) instead of O(corpus ids) per micro-batch
    (``sketches.bloom_gated_anti_join``).

    SIZING IS THE WHOLE GAME for the admission use-case: the screen
    only skips the corpus-id scan when the ENTIRE batch reports zero
    possible hits, so the per-batch false-positive budget is
    ``batch_size × FP`` and must sit well under 1 — a "1% FP" filter
    (the classic join-pruning sizing) false-hits on virtually every
    1000-row batch and degenerates to exact-plus-overhead. 32 bits/key
    and the default 7 hashes → FP ≈ 9·10⁻⁶, ``(1-e^{-k·n/m})^k`` — keep
    batches up to ~10⁴ rows hit-free >90% of the time at 4 bytes/member
    of filter (100 M ids ≈ 400 MB: about the ceiling for the broadcast
    form; beyond that the streaming checkpoint state store is the right
    tool).

    Returns ``(probe_frame, meta, words)`` — the exact triple
    ``load_id_bloom`` returns — by collecting the (model-sized,
    ≤ num_bits/63 rows) word table once and writing it back through the
    Arrow LocalRelation path, so a build-then-serve caller (the q218
    seed and its compaction-time refresh) skips the save→load round
    trip: the state it just wrote IS the state it serves (r12).

    ``num_bits=None`` auto-sizes to 32 bits per member from a count of
    the ids frame — one narrow scan, paid once at build/refresh time.
    The geometry is the artifact's typed manifest: a probe hashed with
    different bits/hashes tests garbage positions, so the parameters
    belong to the artifact (the ``check_index_meta`` contract). Refresh
    by calling this again on the index's id column — the
    compaction-time step that also sheds any conservative
    over-approximation accumulated by ``update_id_bloom``'s
    merge-before-append ordering."""
    from pyveb_spark.operators.sketches import bloom_build

    if num_bits is None:
        num_bits = max(2048, _BLOOM_BITS_PER_KEY * int(ids.count()))
    meta = {
        "num_bits": int(num_bits),
        "num_hashes": int(num_hashes),
        "key_col": key_col,
    }
    words = sorted(
        (int(r["word_idx"]), int(r["word"]))
        for r in bloom_build(ids, key_col, num_bits, num_hashes).collect()
    )
    return _save_bloom(ids.sparkSession, path, words, meta), meta, words


def _save_bloom(
    spark: SparkSession, path: str, words: list[tuple[int, int]], meta: dict
) -> DataFrame:
    """Commit the word list and its geometry; returns the probe frame."""
    frame = bloom_words_frame(spark, words)
    _save_artifact(
        spark, path, {_BLOOM_WORDS: frame.coalesce(1).write}, meta
    )
    return frame


def load_id_bloom(spark: SparkSession, path: str):
    """(word-table frame, geometry manifest, ``(word_idx, word)`` list).
    Pass the first two straight into
    ``bloom_probe``/``bloom_gated_anti_join``; the list is the
    driver-side state a per-batch admission loop threads into
    ``update_id_bloom`` and ``bloom_words_frame``, so a restarted loop
    resumes from the filter on disk.

    The word table is ≤ num_bits/63 rows — broadcast-sized by
    construction — and comes back as an Arrow LocalRelation: probe
    plans embed the filter state and are IMMUNE to a later
    ``update_id_bloom`` replacing the artifact, and the broadcast ships
    from driver memory with exact size stats."""
    words_path, meta = _load_artifact(spark, path, _BLOOM_WORDS)
    rows = sorted(
        (int(r["word_idx"]), int(r["word"]))
        for r in spark.read.parquet(words_path).collect()
    )
    return bloom_words_frame(spark, rows), meta, rows


def bloom_words_frame(
    spark: SparkSession, rows: list[tuple[int, int]]
) -> DataFrame:
    """Driver-held Bloom words → the Arrow LocalRelation probe frame
    (job-free; the form every probe path consumes)."""
    from pyveb_spark.session import local_df

    return local_df(spark, rows, "word_idx bigint, word bigint")


def update_id_bloom(
    batch_ids: DataFrame,
    path: str,
    words: list[tuple[int, int]],
    meta: dict,
) -> list[tuple[int, int]]:
    """OR an admitted batch's keys into the persisted filter. Bloom
    words merge exactly (bit_or is the union), so the incremental
    filter equals a from-scratch rebuild over the grown corpus — no
    false-negative drift, ever. ``words`` and ``meta`` are the filter's
    current state, as ``save_id_bloom``/``load_id_bloom`` (or the
    previous update) returned it: the update costs ONE batch-sized
    aggregation job plus the commit, never a re-read of the artifact
    (r12: two driver-roundtrip jobs per batch removed). The merge
    happens driver-side over the (model-sized) word dict and commits
    through ``_save_artifact``, so a kill mid-update leaves the previous
    filter readable.

    Returns the merged ``(word_idx, word)`` list — exactly what the
    artifact now holds; a per-batch caller (the q218 admission loop)
    passes it back as ``words`` on the next call.

    Ordering contract for crash-safe idempotent admission: update the
    filter BEFORE appending the batch to the index. A crash between
    the two leaves the filter OVER-approximating (keys marked present
    that never landed) — those keys just take the exact-anti-join path
    on replay and are admitted correctly. The reverse order would
    under-approximate — a replayed batch would skip the exact check
    and double-admit. Over-approximation is healed at compaction time
    by re-running ``save_id_bloom`` on the index's id column."""
    from pyveb_spark.operators.sketches import bloom_build

    if not meta:
        raise ValueError(
            f"no Bloom manifest for {path!r} — build the filter with "
            "save_id_bloom before updating it"
        )
    delta = bloom_build(
        batch_ids,
        meta["key_col"],
        int(meta["num_bits"]),
        int(meta["num_hashes"]),
    )
    merged = dict(words)
    for r in delta.collect():
        i = int(r["word_idx"])
        merged[i] = merged.get(i, 0) | int(r["word"])
    out = sorted(merged.items())
    if merged:  # an empty batch over an empty filter has nothing to write
        _save_bloom(batch_ids.sparkSession, path, out, meta)
    return out


# ---------------------------------------------------------------------------
# Durable lexical retrieval: the BM25 inverted index and the n-gram phrase
# index, both bucketed catalog tables. Design follows the standard
# Lucene/ES split of per-posting data vs collection statistics.
# ---------------------------------------------------------------------------


def _doclen_stats(doclens: DataFrame) -> dict[str, int]:
    """BM25 collection statistics ``{"n_docs", "sum_dl"}`` of a doclens
    frame — one narrow aggregation."""
    row = doclens.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).first()
    return {"n_docs": int(row["n"]), "sum_dl": int(row["s"] or 0)}


def save_bm25_index(
    df: DataFrame,
    table: str,
    doclen_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    path: str | None = None,
    meta: dict | None = None,
) -> None:
    """Persist a corpus's inverted index for BM25/phrase-era lexical
    serving: token postings ``(token, <id>, tf)`` through
    ``save_bucketed_index`` on ``token`` — a query's IN-filter
    bucket-prunes the scan — plus the per-doc length table at
    ``doclen_path`` and the collection statistics (``n_docs``,
    ``sum_dl``) in the table's manifest, surviving appends and the
    compaction swap.

    The layout deliberately carries NO corpus-global columns per
    posting (contrast ``build_inverted_index``'s df-annotated form):
    document frequency is derived exactly from the matched postings at
    search time and the collection constants live in the manifest — so
    ``append_bm25_index`` is purely additive (batch-sized writes + a
    two-integer manifest bump), never a corpus-scale stats rewrite.
    That is the property that makes a 100 TB lexical index operable:
    admission cost scales with the batch, compaction
    (``compact_bucketed_index`` + ``refresh_bm25_stats``) amortizes off
    the ingest path, and the artifact serves across sessions with zero
    rebuild."""
    from pyveb_spark.operators.retrieval import build_bm25_postings

    postings, doclens = build_bm25_postings(df, id_col, text_col)
    doclens.write.mode("overwrite").parquet(doclen_path)
    manifest = _doclen_stats(df.sparkSession.read.parquet(doclen_path))
    manifest["tokenizer"] = "whitespace"
    manifest.update(meta or {})
    save_bucketed_index(postings, table, ["token"], path=path, meta=manifest)


def load_bm25_index(spark: SparkSession, table: str, doclen_path: str):
    """Reload the persisted BM25 tier: (token-bucketed postings frame,
    doclens frame, manifest). Pass the manifest's ``n_docs``/``sum_dl``
    straight into ``bm25_search_indexed`` — the search needs no other
    session state and no corpus scan."""
    postings, meta = load_bucketed_index(spark, table)
    return postings, spark.read.parquet(doclen_path), meta


def append_bm25_index(
    batch_df: DataFrame,
    table: str,
    doclen_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Admit a NEW-document wave into the persisted BM25 tier: the
    batch's postings go through ``append_bucketed_index``, its doclens
    append at ``doclen_path``, and the manifest's collection statistics
    bump incrementally (one batch-sized aggregation — n_docs += |batch|,
    sum_dl += Σ batch dl; the corpus is never rescanned). Documents
    must be new ids (admission dedup is the caller's anti-join, as in
    every other tier); re-appending an id would double-count its tf
    rows. A crash between the data append and the manifest bump leaves
    the stats slightly stale — which only perturbs the avgdl length
    normalization, never membership — and ``refresh_bm25_stats``
    (run at compaction time) recomputes them exactly from the doclens
    table, so the tier is self-healing."""
    from pyveb_spark.operators.retrieval import build_bm25_postings

    postings, doclens = build_bm25_postings(batch_df, id_col, text_col)
    append_bucketed_index(postings, table)
    doclens.write.mode("append").parquet(doclen_path)
    spark = batch_df.sparkSession
    batch = _doclen_stats(doclens)
    meta = _get_table_meta(spark, table)
    if "n_docs" in meta and "sum_dl" in meta:
        _set_table_meta(
            spark, table, {k: int(meta[k]) + v for k, v in batch.items()}
        )


def refresh_bm25_stats(
    spark: SparkSession, table: str, doclen_path: str
) -> dict:
    """Recompute the manifest's collection statistics exactly from the
    persisted doclens table and re-stamp them — the compaction-time
    self-heal for any drift the incremental bumps accumulated (a crash
    between an append's data and manifest writes). One narrow two-column
    scan; returns the fresh ``{"n_docs", "sum_dl"}``."""
    fresh = _doclen_stats(spark.read.parquet(doclen_path))
    _set_table_meta(spark, table, fresh)
    return fresh


def save_ngram_index(
    df: DataFrame,
    table: str,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    path: str | None = None,
    meta: dict | None = None,
) -> None:
    """Persist a positional n-gram (phrase) index
    (``retrieval.build_ngram_index``) through ``save_bucketed_index`` on
    the window hash ``__h`` — a phrase probe is one literal equality,
    bucket-pruned at the scan. Reload it with ``load_bucketed_index``.
    The window width ``n`` is stamped into the manifest: a probe phrase
    of any other token count hashes to a key that cannot exist and
    silently returns nothing, so ``phrase_search(meta=...)`` validates
    it loudly instead."""
    from pyveb_spark.operators.layout import widen_scan
    from pyveb_spark.operators.retrieval import build_ngram_index

    save_bucketed_index(
        build_ngram_index(widen_scan(df), n, id_col, text_col),
        table,
        ["__h"],
        path=path,
        meta={"n": int(n), **(meta or {})},
    )


def append_ngram_index(
    batch_df: DataFrame,
    table: str,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append a new-document wave's n-gram postings through
    ``append_bucketed_index`` (documents must be new ids — a re-appended
    doc would split its per-window occurrence counts across rows).
    Validate ``n`` against the manifest ``load_bucketed_index`` returns
    first."""
    from pyveb_spark.operators.retrieval import build_ngram_index

    append_bucketed_index(
        build_ngram_index(batch_df, n, id_col, text_col), table
    )


# ---------------------------------------------------------------------------
# PQ / SQ8 quantizer models — the remaining ANN tiers' durable artifacts
# ---------------------------------------------------------------------------


def save_pq_codebooks(
    spark: SparkSession,
    codebooks: list[list[tuple[int, list[float]]]],
    path: str,
    meta: dict | None = None,
) -> None:
    """Persist trained PQ codebooks (``similarity.pq_train`` output) as
    one tiny parquet table ``(subspace, code, centroid)`` — m×k rows of
    dim/m doubles, the whole model — plus a build manifest (m/k/dim +
    caller extras). Doubles round-trip parquet exactly, so a reloaded
    codebook encodes and scores BIT-IDENTICALLY to the fresh one (pinned
    by test). With this + ``save_ivf_index`` over a ``pq_encode``d
    postings frame, the IVF-PQ serving composition (q88) is fully
    durable: coarse lists prune partitions, codes stream from the pruned
    scan, and the only session state is two model-sized reloads."""
    from pyveb_spark.session import local_df

    rows = [
        (j, int(code), [float(x) for x in cent])
        for j, cb in enumerate(codebooks)
        for code, cent in cb
    ]
    manifest = {"m": len(codebooks)}
    if codebooks and codebooks[0]:
        manifest["k"] = len(codebooks[0])
        manifest["dim"] = len(codebooks) * len(codebooks[0][0][1])
    manifest.update(meta or {})
    table = local_df(
        spark, rows, "subspace int, code int, centroid array<double>"
    )
    _save_artifact(
        spark, path, {_PQ_CODEBOOKS: table.coalesce(1).write}, manifest
    )


def load_pq_codebooks(spark: SparkSession, path: str):
    """Reload persisted PQ codebooks in ``pq_train``'s return shape
    (``codebooks[j] = [(code, sub_centroid), ...]`` sorted by code) plus
    the build manifest — pass it to ``pq_adc_topk(meta=...)`` /
    ``pq_encode(meta=...)``. The collect is m×k rows — model-sized by
    construction."""
    table, meta = _load_artifact(spark, path, _PQ_CODEBOOKS)
    by: dict[int, dict[int, list[float]]] = {}
    for r in spark.read.parquet(table).collect():
        by.setdefault(int(r["subspace"]), {})[int(r["code"])] = [
            float(x) for x in r["centroid"]
        ]
    codebooks = [
        [(code, by[j][code]) for code in sorted(by[j])]
        for j in sorted(by)
    ]
    return codebooks, meta


def save_sq8_stats(
    spark: SparkSession,
    stats: list[tuple[float, float]],
    path: str,
    meta: dict | None = None,
) -> None:
    """Persist the scalar-quantizer per-dimension (lo, hi) stats
    (``similarity.sq8_stats`` output) as a dim-row parquet table — the
    SQ8 "codebook" — plus a build manifest (``dim`` derived, merged
    with caller extras like the source ``vec_col``). Exact double round
    trip: the reloaded stats encode and dequantize bit-identically
    (pinned by test)."""
    from pyveb_spark.session import local_df

    table = local_df(
        spark,
        [(i, float(lo), float(hi)) for i, (lo, hi) in enumerate(stats)],
        "dim int, lo double, hi double",
    )
    _save_artifact(
        spark,
        path,
        {_SQ8_STATS: table.coalesce(1).write},
        {"dim": len(stats), **(meta or {})},
    )


def load_sq8_stats(spark: SparkSession, path: str):
    """Reload persisted SQ8 stats in ``sq8_stats``'s return shape
    (``[(lo_0, hi_0), ...]`` ordered by dimension) plus the build
    manifest — validate with ``check_index_meta(meta, dim=...)`` before
    encoding a batch against reloaded stats."""
    table, meta = _load_artifact(spark, path, _SQ8_STATS)
    rows = sorted(
        spark.read.parquet(table).collect(), key=lambda r: r["dim"]
    )
    return [(float(r["lo"]), float(r["hi"])) for r in rows], meta
