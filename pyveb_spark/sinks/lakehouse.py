"""Lakehouse ``MERGE INTO`` upgrade path for the merge sinks.

``ParquetMergeSink`` (merge.py) implements upsert as anti-join + union +
rename-aside directory swap — correct single-writer semantics on Parquet.
On a table format with a transaction log (Delta, Iceberg) the same merge
algebra should instead compile to ONE ``MERGE INTO`` statement: the log
gives real atomicity, file-level pruning on the join keys, and no
full-table rewrite. This module is that documented upgrade, as code:

- :class:`MergeSpec` — the merge described declaratively,
- :func:`merge_into_sql` — spec → ANSI ``MERGE INTO`` (the statement the
  reference's staged DELETE USING + INSERT transaction expresses;
  ``rs_client.py:242-283``),
- :class:`LakehouseMergeSink` — executes it against a catalog table when
  the provider supports MERGE.

The container ships neither Delta nor Iceberg (jar fetch re-attempted and
still network-blocked each round), so the execution path is exercised with
an injected executor in tests and provider detection is probed against
Spark's catalog; the generated SQL itself is the tested contract, emitted
in BOTH clause dialects — ``star`` (``UPDATE SET *`` / ``INSERT *``, the
Delta/Spark-native form) and ``explicit`` (spelled-out column lists, the
conservative form every Iceberg/Hudi release accepts) — with
provider-driven auto-selection, so whichever lakehouse lands first is
drop-in.

Semantics vs the reference (``rs_client.py:242-283``): DELETE target rows
whose composite key appears in stage, then INSERT every stage row ==
``WHEN MATCHED THEN UPDATE SET *`` + ``WHEN NOT MATCHED THEN INSERT *``,
with one sharpening: MERGE requires the stage to be key-unique (multiple
stage matches per target row raise), where DELETE+INSERT would silently
load duplicate keys — the failure mode the reference's loader never
guarded. ``upsert_frames`` and this statement agree on key-unique stages,
which the pipeline's dedup-before-load step guarantees.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "MergeSpec",
    "merge_into_sql",
    "supports_merge_into",
    "table_provider",
    "LakehouseMergeSink",
    "execute_merge_spec",
    "MERGE_DIALECTS",
]

#: catalog providers whose Spark integration implements MERGE INTO
MERGE_CAPABLE_PROVIDERS = {"delta", "iceberg", "hudi"}


def _ident(name: str) -> str:
    """Backtick-quote one identifier part; reject embedded backticks
    rather than escaping them (no real schema needs one)."""
    if "`" in name:
        raise ValueError(f"invalid identifier: {name!r}")
    return f"`{name}`"


def _table_ident(name: str) -> str:
    """Quote a possibly catalog-qualified table name part by part."""
    return ".".join(_ident(p) for p in name.split("."))


@dataclass(frozen=True)
class MergeSpec:
    """Declarative description of one upsert merge.

    ``mode='upsert'`` replaces every matched row (reference delete+insert
    semantics); ``mode='upsert_if_changed'`` adds a null-safe
    any-column-differs guard so no-op updates don't churn the transaction
    log (the working form of the reference's TO-DO ``upsert_on_condition``,
    ``rs_client.py:174-233``; mirrors ``merge.upsert_if_changed``).
    """

    target: str
    source: str
    keys: Sequence[str]
    mode: str = "upsert"
    compare_cols: Sequence[str] = field(default_factory=tuple)

    def __post_init__(self):
        if not self.keys:
            raise ValueError("MergeSpec requires at least one key")
        if self.mode not in ("upsert", "upsert_if_changed"):
            raise ValueError(f"unknown mode {self.mode!r}")
        if self.mode == "upsert_if_changed" and not self.compare_cols:
            raise ValueError("upsert_if_changed requires compare_cols")


#: dialect → clause style. ``star`` is the Delta / Spark-native form
#: (``UPDATE SET *`` / ``INSERT *``); ``explicit`` spells out the column
#: lists — the conservative ANSI form every Iceberg release (and Hudi,
#: and classic MERGE-capable warehouses) accepts, so whichever lakehouse
#: lands first is drop-in. Provider names normalize to their style.
MERGE_DIALECTS = {
    "star": "star",
    "delta": "star",
    "spark": "star",
    "explicit": "explicit",
    "ansi": "explicit",
    "iceberg": "explicit",
    "hudi": "explicit",
    # Trino/Presto MERGE is ANSI with three real divergences from the
    # Spark-side explicit form: identifiers quote with double quotes (not
    # backticks), UPDATE SET targets must be UNQUALIFIED (Trino rejects
    # ``t.col = ...``), and there is no ``<=>`` — the null-safe guard is
    # ``IS NOT DISTINCT FROM``. Emitting it here is the contract twin
    # that proves the generator isn't Delta-shaped in hidden ways.
    "trino": "trino",
    "presto": "trino",
}


def _ident_dq(name: str) -> str:
    """Double-quote one identifier part (Trino/ANSI quoting); reject
    embedded quotes rather than escaping them."""
    if '"' in name or "`" in name:
        raise ValueError(f"invalid identifier: {name!r}")
    return f'"{name}"'


def merge_into_sql(
    spec: MergeSpec,
    dialect: str = "star",
    columns: Sequence[str] | None = None,
) -> str:
    """Compile a :class:`MergeSpec` to one ``MERGE INTO`` statement.

    ``dialect`` picks the clause style (``MERGE_DIALECTS``): ``star``
    (default — Delta and Spark's native DSv2 MERGE) emits
    ``UPDATE SET *`` / ``INSERT *``; ``explicit`` (what ``iceberg`` /
    ``hudi`` / ``ansi`` normalize to) spells out the assignments and the
    insert column list, which requires ``columns`` — the target's full
    column list, keys included (the stage's columns, by the merge
    contract). The explicit UPDATE assigns only non-key columns: the ON
    clause already equates the keys, and several engines reject
    assignments to merge-key columns outright. Both dialects express the
    identical algebra ``execute_merge_spec`` interprets on the
    no-jar fallback."""
    style = MERGE_DIALECTS.get(dialect)
    if style is None:
        raise ValueError(
            f"unknown MERGE dialect {dialect!r} "
            f"(expected one of {sorted(MERGE_DIALECTS)})"
        )
    q = _ident_dq if style == "trino" else _ident
    qt = (
        (lambda name: ".".join(q(p) for p in name.split(".")))
        if style == "trino"
        else _table_ident
    )
    on = " AND ".join(f"t.{q(k)} = s.{q(k)}" for k in spec.keys)
    matched_guard = ""
    if spec.mode == "upsert_if_changed":
        if style == "trino":
            same = " AND ".join(
                f"t.{q(c)} IS NOT DISTINCT FROM s.{q(c)}"
                for c in spec.compare_cols
            )
        else:
            same = " AND ".join(
                f"t.{q(c)} <=> s.{q(c)}" for c in spec.compare_cols
            )
        matched_guard = f" AND NOT ({same})"
    if style == "star":
        update_clause = "UPDATE SET *"
        insert_clause = "INSERT *"
    else:
        if not columns:
            raise ValueError(
                "explicit-dialect MERGE needs the target column list "
                "(columns=...)"
            )
        cols = list(columns)
        missing = [k for k in spec.keys if k not in cols]
        if missing:
            raise ValueError(f"columns is missing merge keys: {missing}")
        non_keys = [c for c in cols if c not in set(spec.keys)]
        if not non_keys:
            raise ValueError(
                "explicit-dialect MERGE needs at least one non-key column "
                "to assign in WHEN MATCHED"
            )
        # Trino requires UNQUALIFIED assignment targets; Spark-side
        # engines accept (and docs show) the t. prefix
        set_lhs = (lambda c: q(c)) if style == "trino" else (
            lambda c: f"t.{q(c)}"
        )
        update_clause = "UPDATE SET " + ", ".join(
            f"{set_lhs(c)} = s.{q(c)}" for c in non_keys
        )
        insert_clause = (
            "INSERT ("
            + ", ".join(q(c) for c in cols)
            + ") VALUES ("
            + ", ".join(f"s.{q(c)}" for c in cols)
            + ")"
        )
    return (
        f"MERGE INTO {qt(spec.target)} t\n"
        f"USING {qt(spec.source)} s\n"
        f"ON {on}\n"
        f"WHEN MATCHED{matched_guard} THEN {update_clause}\n"
        f"WHEN NOT MATCHED THEN {insert_clause}"
    )


def execute_merge_spec(
    sink,
    stage: DataFrame,
    spec: MergeSpec,
) -> dict:
    """Execute a :class:`MergeSpec`'s algebra against a
    ``ParquetMergeSink`` — the fallback when :func:`supports_merge_into`
    is False (no lakehouse jar). This INTERPRETS the same statement
    :func:`merge_into_sql` compiles, clause by clause, so the merge
    semantics run end-to-end even without a transactional table format:

    - stage key-uniqueness is enforced first (a real MERGE engine raises
      on multiple source matches per target row; plain DELETE+INSERT
      would silently load duplicates — the sharpening documented above),
    - ``WHEN MATCHED [AND any-compare-col-differs] THEN UPDATE SET *``
      replaces the full target row,
    - ``WHEN NOT MATCHED THEN INSERT *`` appends,
    - the new state lands via the sink's ``swap_dir`` commit (the
      single-writer stand-in for the transaction log).

    Returns ``{"updated": n, "matched_skipped": n, "inserted": n}`` so
    the ``upsert_if_changed`` guard is observable — at 100 TB the whole
    point of the guard is that ``updated`` tracks the churn the
    transaction log would see, not the snapshot size. Counting costs one
    extra key-join over the (small) stage; the state rewrite itself is
    one anti-join + union, AQE-broadcast on the stage side.
    """
    from pyveb_spark.sinks.merge import upsert_frames, upsert_if_changed

    keys = list(spec.keys)
    n_stage = stage.count()
    n_stage_keys = stage.select(*keys).distinct().count()
    if n_stage_keys != n_stage:
        raise ValueError(
            "MERGE source has multiple rows per key "
            f"({n_stage} rows, {n_stage_keys} distinct keys)"
        )
    target = sink.read()
    t_keys = target.select(*keys, F.lit(True).alias("__m"))
    joined = stage.join(t_keys, keys, "left")
    n_matched = joined.where(F.col("__m")).count()
    n_inserted = n_stage - n_matched
    if spec.mode == "upsert_if_changed":
        compare = list(spec.compare_cols)
        t_cmp = target.select(
            *keys, *[F.col(c).alias(f"__t_{c}") for c in compare]
        )
        differs = F.lit(False)
        for c in compare:
            differs = differs | ~F.col(c).eqNullSafe(F.col(f"__t_{c}"))
        n_updated = (
            stage.join(t_cmp, keys, "inner").where(differs).count()
        )
        new_state = upsert_if_changed(target, stage, keys, compare)
    else:
        n_updated = n_matched
        new_state = upsert_frames(target, stage, keys)
    sink.overwrite(new_state)
    return {
        "updated": n_updated,
        "matched_skipped": n_matched - n_updated,
        "inserted": n_inserted,
    }


def table_provider(spark: SparkSession, table: str) -> str | None:
    """The catalog provider of ``table`` (lower-cased), or None when the
    table is unknown or carries no provider row."""
    try:
        rows = spark.sql(
            f"DESCRIBE TABLE EXTENDED {_table_ident(table)}"
        ).collect()
    except Exception:
        return None
    for r in rows:
        if (r.col_name or "").strip().lower() == "provider":
            return (r.data_type or "").strip().lower() or None
    return None


def supports_merge_into(spark: SparkSession, table: str) -> bool:
    """True when ``table`` exists in the catalog under a MERGE-capable
    provider. Unknown tables / providers → False (caller falls back to the
    Parquet swap path)."""
    return table_provider(spark, table) in MERGE_CAPABLE_PROVIDERS


class LakehouseMergeSink:
    """Upsert into a catalog table through ``MERGE INTO`` when the format
    supports it.

    ``run`` is injectable for tests (and for routing through a different
    SQL frontend); it defaults to ``spark.sql``. ``upsert`` stages the
    batch as a temp view so the statement is pure SQL — the lakehouse
    engine owns atomicity, conflict detection and file pruning.

    ``dialect='auto'`` (default) resolves the clause style from the
    catalog provider at upsert time — a Delta table gets the ``star``
    form, an Iceberg/Hudi table the ``explicit`` column-list form — so
    whichever lakehouse format lands first is drop-in with no caller
    change. Pass a dialect name from ``MERGE_DIALECTS`` to pin it.
    """

    def __init__(
        self,
        spark: SparkSession,
        table: str,
        run: Callable[[str], object] | None = None,
        dialect: str = "auto",
    ):
        if dialect != "auto" and dialect not in MERGE_DIALECTS:
            raise ValueError(
                f"unknown MERGE dialect {dialect!r} "
                f"(expected 'auto' or one of {sorted(MERGE_DIALECTS)})"
            )
        self.spark = spark
        self.table = table
        self.dialect = dialect
        self._run = run or spark.sql

    def _resolve_dialect(self) -> str:
        if self.dialect != "auto":
            return self.dialect
        provider = table_provider(self.spark, self.table)
        return provider if provider in MERGE_DIALECTS else "star"

    def supports_merge(self) -> bool:
        return supports_merge_into(self.spark, self.table)

    def upsert_auto(
        self,
        df: DataFrame,
        keys: Sequence[str],
        compare_cols: Sequence[str] | None = None,
        fallback_sink=None,
    ):
        """Route one upsert through ``MERGE INTO`` when the catalog table
        supports it, else execute the SAME spec's algebra against
        ``fallback_sink`` (a ``ParquetMergeSink``) via
        :func:`execute_merge_spec` — the spec, not the path, is the
        contract, so upgrading a table to Delta/Iceberg changes no
        caller code."""
        if self.supports_merge():
            return self.upsert(df, keys, compare_cols)
        if fallback_sink is None:
            raise ValueError(
                f"table {self.table!r} has no MERGE-capable provider and "
                "no fallback_sink was given"
            )
        spec = MergeSpec(
            target=self.table,
            source="__stage__",
            keys=keys,
            mode="upsert_if_changed" if compare_cols else "upsert",
            compare_cols=tuple(compare_cols or ()),
        )
        return execute_merge_spec(fallback_sink, df, spec)

    def upsert(
        self,
        df: DataFrame,
        keys: Sequence[str],
        compare_cols: Sequence[str] | None = None,
    ):
        view = f"__merge_stage_{abs(hash((self.table, tuple(keys)))) % 10**8}"
        df.createOrReplaceTempView(view)
        try:
            spec = MergeSpec(
                target=self.table,
                source=view,
                keys=keys,
                mode="upsert_if_changed" if compare_cols else "upsert",
                compare_cols=tuple(compare_cols or ()),
            )
            return self._run(
                merge_into_sql(
                    spec,
                    dialect=self._resolve_dialect(),
                    # stage columns ARE the target columns by the merge
                    # contract (schema parity is enforced upstream)
                    columns=df.columns,
                )
            )
        finally:
            self.spark.catalog.dropTempView(view)
