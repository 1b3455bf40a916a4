"""Time-series table layer: GreptimeDB's semantic data model on Parquet.

Reference semantics reproduced here (SURVEY.md §1):
- Every table has tag columns (ordered primary key), exactly one time-index
  column, and field columns — reference ``RegionMetadata``,
  src/store-api/src/metadata.rs:135-163.
- Tables are upsert-by-default: rows sharing (tags, time_index) are merged at
  read time per ``MergeMode`` — ``LastRow`` (whole-row last-write-wins) or
  ``LastNonNull`` (per-field last non-null) — src/mito2/src/region/options.rs:68-73,
  dedup readers src/mito2/src/read/dedup.rs.
- ``append_mode=true`` disables dedup (options.rs:96); ``ttl`` expires rows
  older than now()-ttl (options.rs:85).

Spark-first design: instead of an LSM tree with merge-on-read readers, writes
append Parquet files carrying a monotonically increasing ``__seq`` column, and
reads return a *logical dedup view* built from window functions. At 100 TB the
physical layout is hour/day partitioned Parquet (``time_bucket`` directory
column) so time-range predicates become partition pruning, and the dedup
window shuffles only once on the primary key (AQE handles skew). A periodic
``compact()`` job rewrites the dedup view in place — the analog of the
reference's TWCS compaction (src/mito2/src/compaction/twcs.rs) collapsing
overlapping SSTs — after which reads are plain scans until new writes arrive.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field, asdict
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SEQ_COL = "__seq"
BUCKET_COL = "__time_bucket"


class TableNotFoundError(ValueError):
    """Missing-table rejection (the reference's TableNotFound status)."""


def _phys_name(name: str) -> str:
    """Parquet-safe physical column name: declared names may carry characters
    parquet rejects (flow sinks inherit DataFusion-style auto names like
    ``sum(tbl.number)``). The declared name lives in the table meta; the
    mapping is applied at write and reversed at read."""
    import re

    return re.sub(r"[ ,;{}()=.\n\t]", "_", name)


def _live_gens(hist: list) -> list:
    """Generations after the last drop sentinel ([None, None]) — the only
    ones a re-added column may render."""
    cut = 0
    for i, g in enumerate(hist):
        if g[0] is None:
            cut = i + 1
    return hist[cut:]


def _ttl_interval(ttl: str) -> str:
    """Normalize a reference TTL ('5s', '1 hour', '90m') to a Spark INTERVAL
    expression (Spark doesn't parse compact unit suffixes like '5s')."""
    from greptimedb_spark.range_query import parse_duration_ms

    return f"INTERVAL {parse_duration_ms(ttl)} MILLISECOND"

_META_FILE = "_greptime_meta.json"


@dataclass
class TableMeta:
    """Table-level semantic metadata (reference RegionMetadata + RegionOptions)."""

    name: str
    time_index: str
    tags: list[str] = field(default_factory=list)
    merge_mode: str = "last_row"  # last_row | last_non_null
    append_mode: bool = False
    ttl: str | None = None  # e.g. "7 days" (SQL interval literal)
    partition_granularity: str = "day"  # hour | day | month — physical layout
    # Declared schema: [name, spark_type, decl_type, default_sql|None,
    # not_null] per column (short legacy entries [name, spark_type] accepted).
    columns: list | None = None
    batch_no: int = 0  # ingest batch counter (strict write ordering)
    # bumped by every meta or data rewrite: with table_id it tells a reader
    # whether its binding is current (batch_no orders __seq, kept apart)
    write_version: int = 0
    # unique per table INSTANCE (reference table id): DROP + CREATE under the
    # same name yields a new id, so flows bound to the old instance see no
    # data from the new one (sqlness flow/flow_rebuild)
    table_id: str = ""
    # metric-engine logical tables keep columns name-sorted (reference
    # metric engine schema ordering; sqlness alter/alter_table.sql t1/t2)
    sorted_columns: bool = False
    # table-level COMMENT (reference COMMENT ON TABLE / CREATE ... COMMENT)
    comment: str | None = None
    # raw `PARTITION ON COLUMNS (...) (...)` clause kept for SHOW CREATE
    # rendering (physical placement maps to Parquet buckets here)
    partition_sql: str | None = None
    # WITH(...) options verbatim (SHOW CREATE re-renders them)
    with_opts: dict | None = None
    # logical schema name at CREATE time (single physical schema; the name
    # is surfaced through information_schema)
    schema_name: str = "public"
    # metric-engine logical table: name of the physical table that stores its
    # rows (reference src/metric-engine: one wide physical region multiplexes
    # many logical tables, keyed by __table_id/__tsid)
    on_physical: str | None = None
    # storage engine from the DDL (mito | metric); a mito table may carry a
    # physical_metric_table option without being a metric-engine table
    # (show/show_create.result phy-as-mito case)
    engine: str = "mito"
    # ingest batch numbers sealed at each memtable flush — the SST-boundary
    # record that drives json2 per-SST union-schema rendering (flat format)
    # and skip-wal restart loss; compaction collapses all sealed boundaries
    # into the last one
    flush_batches: list = field(default_factory=list)
    # batch counter value when skip_wal was first enabled: rows ingested
    # after this and never flushed are lost on restart (reference skip_wal
    # option; sqlness common/skip_wal pins the post-ALTER loss too)
    skip_wal_since: int | None = None
    # MODIFY COLUMN type history: {logical_col: [[phys_name, spark_type],
    # ...]} for PRIOR generations (oldest first). The reference changes only
    # the column metadata — stored values keep their original representation
    # and re-render via a direct stored→current cast at read time
    # ("wired behavior due to underlying column data is unchanged",
    # alter/alter_table.sql). Each generation writes to its own physical
    # column name so parquet schemas never conflict across files.
    col_history: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2)

    @staticmethod
    def from_json(text: str) -> "TableMeta":
        return TableMeta(**json.loads(text))


class Catalog:
    """Directory-backed catalog: one sub-directory of Parquet per table."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path
        # database-level WITH(...) options (kept in sync by GreptimeSQL's
        # CREATE/ALTER DATABASE handlers): tables without their own ttl
        # inherit the database ttl at expiry time (options.rs:85)
        self.db_options: dict[str, dict] = {}
        os.makedirs(base_path, exist_ok=True)

    def _effective_ttl(self, meta: TableMeta) -> str | None:
        if meta.ttl:
            return meta.ttl
        db = (getattr(meta, "schema_name", "public") or "public").lower()
        return (self.db_options.get(db) or {}).get("ttl") or None

    # -- DDL ---------------------------------------------------------------

    def create_table(self, meta: TableMeta, if_not_exists: bool = False) -> None:
        path = self._table_path(meta.name)
        meta_path = os.path.join(path, _META_FILE)
        if os.path.exists(meta_path):
            if if_not_exists:
                return
            raise ValueError(f"table {meta.name} already exists")
        if not meta.table_id:
            import uuid
            import zlib

            meta.table_id = uuid.uuid4().hex
            if getattr(meta, "on_physical", None):
                # __table_id (crc32 of the uuid) keys this logical table's
                # rows inside the shared physical region — a 32-bit collision
                # with a sibling would silently merge their rows, so re-roll
                # until unique (the reference allocates unique table ids)
                sibling_ids = {
                    self._logical_table_id(self.meta(t))
                    for t in self.list_tables()
                    if getattr(self.meta(t), "on_physical", None)
                    == meta.on_physical
                }
                while zlib.crc32(meta.table_id.encode()) in sibling_ids:
                    meta.table_id = uuid.uuid4().hex
        os.makedirs(path, exist_ok=True)
        with open(meta_path, "w") as f:
            f.write(meta.to_json())

    def meta(self, name: str) -> TableMeta:
        try:
            with open(os.path.join(self._table_path(name), _META_FILE)) as f:
                return TableMeta.from_json(f.read())
        except FileNotFoundError:
            # typed rejection (the reference's TableNotFound), not a bare
            # IO error — error-parity checks count only deliberate errors
            raise TableNotFoundError(f"Table not found: {name}") from None

    def drop_table(self, name: str) -> None:
        import shutil

        # a physical metric table refuses to drop while logical tables are
        # still attached (engine/create.rs physical-region busy check)
        for t in self.list_tables():
            if t != name and getattr(self.meta(t), "on_physical", None) == name:
                raise ValueError(
                    "Physical region is busy, there are still some logical "
                    "regions using it")
        shutil.rmtree(self._table_path(name), ignore_errors=True)

    def _logical_table_id(self, meta: TableMeta) -> int:
        """Stable u32 id per logical table INSTANCE (drop+recreate gets a new
        id, like the reference's table ids)."""
        import zlib

        return zlib.crc32(meta.table_id.encode())

    # -- write path ----------------------------------------------------------

    def insert(self, name: str, df: DataFrame) -> None:
        """Append a batch. Adds the monotone ingest sequence and the physical
        time-bucket partition column.

        Ordering: ``__seq = (batch_no << 33) | monotonically_increasing_id``.
        The per-table batch counter (persisted in the table meta) guarantees
        any later batch outranks every row of every earlier batch — matching
        the reference's strict ingest-order dedup (mito2 sequence numbers) —
        while monotonically_increasing_id orders rows *within* a batch.

        The batch is repartitioned on the bucket column before the
        partitionBy write so each time-bucket directory receives one file per
        batch instead of one per upstream partition (small-files fix; at
        1000 executors this is the difference between p and p×buckets files)."""
        meta = self.meta(name)
        if getattr(meta, "on_physical", None):
            # metric-engine logical write: rows land in the physical table
            # with __table_id and the per-row label-hash __tsid filled in
            # (row_modifier.rs fill_internal_columns)
            import pandas as pd
            from pyspark.sql.functions import PandasUDFType, pandas_udf
            from pyspark.sql.types import LongType

            from greptimedb_spark.functions.fxhash import tsid_i64

            names = list(meta.tags)

            def _tsid_fn(*cols):
                out = []
                for vals in zip(*cols):
                    labels = [(n, None if v is None
                               or (isinstance(v, float) and v != v)
                               else str(v)) for n, v in zip(names, vals)]
                    out.append(tsid_i64(labels))
                return pd.Series(out, dtype="int64")

            _tsid = pandas_udf(_tsid_fn, LongType(), PandasUDFType.SCALAR)

            df = df.withColumn(
                "__table_id", F.lit(self._logical_table_id(meta)).cast("long"))
            df = df.withColumn(
                "__tsid",
                _tsid(*[F.col(t) for t in names]) if names
                else F.lit(tsid_i64([])).cast("long"))
            self.insert(meta.on_physical, df)
            return
        batch_no = meta.batch_no + 1
        self._update_meta(name, batch_no=batch_no)
        if meta.columns:
            for entry in meta.columns:
                p = self._cur_phys(meta, entry[0])
                if p != entry[0] and entry[0] in df.columns:
                    df = df.withColumnRenamed(entry[0], p)
        out = (
            df.withColumn(
                SEQ_COL,
                F.lit(batch_no).cast("long") * F.lit(1 << 33)
                + F.monotonically_increasing_id() % F.lit(1 << 33),
            )
            .withColumn(BUCKET_COL, F.date_trunc(meta.partition_granularity, F.col(meta.time_index)))
        )
        # explicit numPartitions: AQE must NOT coalesce the write exchange
        # (with coalescePartitions.parallelismFirst=false a ~50MB batch would
        # collapse to one advisory-sized partition = one serial write task —
        # the exact r5 ingest bug, resurrected through AQE)
        n_write = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        # Decision order (r11): the optimizer's size estimate first — it is a
        # plan inspection (~10 ms), while df.rdd.getNumPartitions() pays a
        # ~0.3 s py4j/RDD-conversion toll. A big batch repartitions regardless
        # of its input partitioning (parallel encode + one file per bucket);
        # only small batches need the partition probe to decide between
        # "single partition: write as-is" and "many partitions: coalesce the
        # bucket fan-out so each bucket gets one file per batch, not one per
        # upstream partition".
        try:
            est = int(out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:
            est = 0
        if est > (32 << 20) or df.rdd.getNumPartitions() > 1:
            out = out.repartition(n_write, F.col(BUCKET_COL))
        (
            out.write.mode("append")
            .partitionBy(BUCKET_COL)
            .parquet(os.path.join(self._table_path(name), "data"))
        )

    def _update_meta(self, table: str, **kv) -> None:
        """Rewrite the meta with ``kv`` applied and bump ``write_version``
        (no ``kv``: after a data-only rewrite)."""
        meta = self.meta(table)
        for k, v in kv.items():
            setattr(meta, k, v)
        meta.write_version += 1
        with open(os.path.join(self._table_path(table), _META_FILE), "w") as f:
            f.write(meta.to_json())

    # -- read path -----------------------------------------------------------

    def read(self, name: str, raw: bool = False, at: str | None = None,
             min_batch: int | None = None) -> DataFrame:
        """Return the table as the reference's merged logical view.

        ``raw=True`` skips dedup/TTL (the reference's append-mode scan).
        ``min_batch`` keeps only rows ingested at or after that batch number —
        the flow-engine watermark (flows only see data inserted after
        ``CREATE FLOW``, reference src/flow/src/batching_mode/task.rs).
        """
        meta = self.meta(name)
        if getattr(meta, "on_physical", None):
            # logical view over the physical table: its own rows, its own
            # columns (name-sorted), nothing materialized
            base = self.read(meta.on_physical, raw=raw, at=at,
                             min_batch=min_batch)
            tid = self._logical_table_id(meta)
            cols = [e[0] for e in (meta.columns or [])]
            return base.filter(F.col("__table_id") == tid).select(*cols)
        data_path = os.path.join(self._table_path(name), "data")
        if not self._has_data(data_path):
            return self._empty_df(meta)
        df = self.spark.read.option("mergeSchema", "true").parquet(data_path)
        if min_batch is not None:
            df = df.filter(F.col(SEQ_COL) >= min_batch * (1 << 33))
        hist = getattr(meta, "col_history", None) or {}
        if meta.columns:
            for entry in meta.columns:
                if entry[0] in hist:
                    # type-modified column: render every stored generation
                    # with a DIRECT stored→current try_cast (the reference's
                    # lazy column cast); rows carry exactly one generation.
                    # Generations before a drop sentinel stay invisible (a
                    # re-added column must not resurrect dropped data).
                    cur = self._cur_phys(meta, entry[0])
                    all_g = [g[0] for g in hist[entry[0]] if g[0]] + [cur]
                    live = [g[0] for g in _live_gens(hist[entry[0]])] + [cur]
                    present = [g for g in live if g in df.columns]
                    rendered = (
                        F.coalesce(*[F.col(g).try_cast(entry[1])
                                     for g in present])
                        if present else F.lit(None).cast(entry[1])
                    )
                    df = df.withColumn(entry[0], rendered).drop(
                        *[g for g in all_g
                          if g in df.columns and g != entry[0]])
                    continue
                p = _phys_name(entry[0])
                if p != entry[0] and p in df.columns:
                    df = df.withColumnRenamed(p, entry[0])
        # columns added by ALTER that no file carries yet must exist BEFORE
        # the merge (they may be tags the dedup groups on)
        if meta.columns and all(len(c) >= 2 for c in meta.columns):
            for entry in meta.columns:
                if entry[0] not in df.columns:
                    df = df.withColumn(entry[0], F.lit(None).cast(entry[1]))
        # flat-format json2 columns render per-SST union schemas (reference
        # RFC 2024-08-06-json-datatype; sqlness types/json/json2): rewrite
        # each document against its segment's union skeleton
        j2cols = [
            e[0] for e in (meta.columns or [])
            if len(e) > 2 and str(e[2]).lower() == "json2"
            and e[0] in df.columns
        ]
        if j2cols and str((meta.with_opts or {}).get(
                "sst_format", "")).strip("'\"").lower() == "flat":
            from greptimedb_spark.functions.json2_shred import (
                apply_sst_union_schema,
            )

            df = apply_sst_union_schema(
                df, j2cols, getattr(meta, "flush_batches", []) or [], SEQ_COL)
        if raw or meta.append_mode:
            df = df.drop(SEQ_COL, BUCKET_COL)
        else:
            df = merge_view(df, meta)
            # TTL expires rows at FLUSH/COMPACT time, not query time (the
            # reference applies TTL during memtable flush and compaction —
            # rows past their TTL stay queryable until then; sqlness
            # flow/flow_advance_ttl pins this). flush_table() does the
            # physical delete. The `at` override keeps a deterministic
            # read-time filter for tests.
            ttl = self._effective_ttl(meta)
            if (ttl or "").lower() == "instant":
                # ttl='instant' stores nothing queryable (reference
                # options.rs) — rows only reach flows, which read with a
                # min_batch watermark and DO see them.
                if min_batch is None:
                    df = df.filter(F.lit(False))
            elif ttl and at is not None:
                df = df.filter(
                    F.col(meta.time_index)
                    > F.expr(f"TIMESTAMP '{at}'") - F.expr(_ttl_interval(ttl))
                )
        return self._project_declared(df, meta)

    def _project_declared(self, df: DataFrame, meta: TableMeta) -> DataFrame:
        """Apply the declared schema (order, casts, columns added/dropped by
        ALTER): missing columns read as NULL (ADD COLUMN ... DEFAULT backfills
        at alter time), dropped columns vanish, MODIFY COLUMN casts."""
        if not meta.columns or any(len(c) < 2 for c in meta.columns):
            return df
        out = []
        for entry in meta.columns:
            cname, styp = entry[0], entry[1]
            if cname in df.columns:
                safe = cname.replace("`", "``")
                out.append(F.col(f"`{safe}`").cast(styp).alias(cname))
            else:
                out.append(F.lit(None).cast(styp).alias(cname))
        return df.select(*out)

    @staticmethod
    def _has_data(data_path: str) -> bool:
        if not os.path.isdir(data_path):
            return False
        for root, _dirs, files in os.walk(data_path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _empty_df(self, meta: TableMeta) -> DataFrame:
        """Created-but-never-written table → empty frame with the declared
        schema (the reference serves these from region metadata alone)."""
        if not meta.columns:
            raise FileNotFoundError(
                f"table {meta.name} has no data and no declared schema"
            )
        schema = ", ".join(f"`{c[0]}` {c[1]}" for c in meta.columns)
        return self.spark.createDataFrame([], schema)

    # -- schema evolution (reference AlterTable, src/sql/src/statements/
    # alter.rs; sqlness common/alter/) --------------------------------------

    def add_column(self, name: str, entry: list, position: str | None = None,
                   after: str | None = None, is_tag: bool = False) -> None:
        """ADD COLUMN: meta update; a DEFAULT backfills existing rows by a
        one-time copy-on-write rewrite (the reference stores the default in
        region metadata and applies it to pre-alter SSTs at read — same
        observable result; the rewrite keeps read-side plans branch-free).
        At scale the rewrite is per-bucket and only for defaulted adds."""
        import shutil

        meta = self.meta(name)
        cols = [list(c) for c in (meta.columns or [])]
        if any(c[0] == entry[0] for c in cols):
            return  # IF NOT EXISTS semantics handled by caller; idempotent
        if meta.sorted_columns:
            cols.append(list(entry))
            cols.sort(key=lambda c: c[0])
        elif position == "first":
            cols.insert(0, list(entry))
        elif after is not None:
            idx = next(i for i, c in enumerate(cols) if c[0] == after)
            cols.insert(idx + 1, list(entry))
        else:
            cols.append(list(entry))
        kv = {"columns": cols}
        if is_tag:
            kv["tags"] = meta.tags + [entry[0]]
        self._update_meta(name, **kv)
        default = entry[3] if len(entry) > 3 else None
        data_path = os.path.join(self._table_path(name), "data")
        if default is not None and self._has_data(data_path):
            # backfill the CURRENT generation's physical column: a re-added
            # column (post-drop sentinel) renders from its fresh __gN name,
            # so writing the base name would leave old rows NULL
            phys = self._cur_phys(self.meta(name), entry[0])
            df = self.spark.read.option("mergeSchema", "true").parquet(data_path)
            df = df.withColumn(phys, F.expr(default).cast(entry[1]))
            tmp = data_path + ".alter"
            df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(tmp)
            shutil.rmtree(data_path)
            os.rename(tmp, data_path)

    @staticmethod
    def _resolve_col(meta: TableMeta, col: str) -> str:
        """Resolve a column reference case-insensitively (the reference's
        parser lowercases unquoted identifiers)."""
        names = [c[0] for c in (meta.columns or [])]
        if col in names:
            return col
        for n in names:
            if n.lower() == col.lower():
                return n
        raise ValueError(f"column {col!r} not found in {meta.name}")

    def drop_column(self, name: str, col: str) -> None:
        meta = self.meta(name)
        col = self._resolve_col(meta, col)
        if col == meta.time_index or col in meta.tags:
            raise ValueError(f"cannot drop key column {col!r}")
        hist = dict(getattr(meta, "col_history", None) or {})
        # Seal the current generation and mark the drop boundary ([None,
        # None] sentinel) UNCONDITIONALLY — also for never-modified columns,
        # whose stored base physical column would otherwise be resurrected by
        # a later re-ADD of the same name (the reference assigns a fresh
        # column id on re-add). A future re-ADD starts a FRESH generation and
        # the read path never coalesces pre-drop generations back in.
        entry = next((c for c in (meta.columns or []) if c[0] == col), None)
        hist[col] = list(hist.get(col, [])) + [
            [self._cur_phys(meta, col), entry[1] if entry else "string"],
            [None, None],
        ]
        cols = [list(c) for c in (meta.columns or []) if c[0] != col]
        self._update_meta(name, columns=cols, col_history=hist)

    def _cur_phys(self, meta: TableMeta, col: str) -> str:
        """Physical parquet column of the CURRENT type generation: the base
        name for never-modified columns, ``<base>__gN`` after N MODIFYs."""
        gens = (getattr(meta, "col_history", None) or {}).get(col)
        base = _phys_name(col)
        return f"{base}__g{len(gens)}" if gens else base

    def modify_column(self, name: str, col: str, spark_type: str, decl_type: str) -> None:
        """Change a column's type WITHOUT touching stored data (the
        reference's lazy column cast, alter/alter_table.sql "wired
        behavior"): the old generation's physical column is sealed in
        col_history, new writes land in a fresh generation column, and the
        read path renders every generation with a DIRECT stored→current
        try_cast (unconvertible values become NULL — change_col_type.sql).
        The declared DEFAULT re-casts STEPWISE through each type change
        (f64 0.1 → BOOLEAN true → INT 1, alter_table.result DESC golden)."""
        meta = self.meta(name)
        col = self._resolve_col(meta, col)
        hist = dict(getattr(meta, "col_history", None) or {})
        cols = [list(c) for c in (meta.columns or [])]
        for c in cols:
            if c[0] == col:
                old_type = c[1]
                if old_type != spark_type:
                    hist[col] = list(hist.get(col, [])) + [
                        [self._cur_phys(meta, col), old_type]]
                c[1] = spark_type
                if len(c) > 2:
                    c[2] = decl_type
                if len(c) > 3 and c[3] is not None and old_type != spark_type:
                    c[3] = self._recast_default(c[3], old_type, spark_type)
        self._update_meta(name, columns=cols, col_history=hist)

    def _recast_default(self, lit: str, old_type: str, new_type: str):
        """One step of the DEFAULT adaptation chain; renders the cast result
        back to a SQL literal (scalar probe, no table data involved)."""
        try:
            v = self.spark.sql(
                f"SELECT try_cast(CAST({lit} AS {old_type}) AS {new_type})"
            ).collect()[0][0]
        except Exception:
            return lit
        if v is None:
            return None
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    def set_default(self, name: str, col: str, default: str | None) -> None:
        meta = self.meta(name)
        col = self._resolve_col(meta, col)
        cols = [list(c) for c in (meta.columns or [])]
        for c in cols:
            if c[0] == col:
                while len(c) < 5:
                    c.append(None if len(c) != 4 else False)
                c[3] = default
        self._update_meta(name, columns=cols)

    def rename_table(self, old: str, new: str) -> None:
        import shutil

        if os.path.exists(self._table_path(new)):
            raise ValueError(f"table {new} already exists")
        shutil.move(self._table_path(old), self._table_path(new))
        self._update_meta(new, name=new)

    def delete(self, name: str, predicate, _from_logical: bool = False) -> int:
        """DELETE FROM t WHERE predicate — copy-on-write rewrite.

        ``predicate`` is a pyspark Column (or SQL text) evaluated against the
        raw stored rows; matching rows are removed and the table rewritten.
        At scale this would rewrite only the time-bucket partitions containing
        matches (predicate → partition pruning); here the table is rewritten
        whole. Reference: DELETE statement, src/sql/src/statements/delete.rs."""
        import shutil

        meta = self.meta(name)
        if getattr(meta, "on_physical", None):
            # logical metric delete: scope the predicate to this table's rows
            # in the physical region
            pred = F.expr(predicate) if isinstance(predicate, str) else predicate
            scoped = pred & (F.col("__table_id") == self._logical_table_id(meta))
            return self.delete(meta.on_physical, scoped, _from_logical=True)
        if not _from_logical and any(
                getattr(self.meta(t), "on_physical", None) == name
                for t in self.list_tables() if t != name):
            # the reference ignores DELETE FROM a physical metric table
            # ("Affected Rows: 0", basic.result:114-117)
            return 0
        data_path = os.path.join(self._table_path(name), "data")
        if not self._has_data(data_path):
            return 0
        df = self.spark.read.parquet(data_path)
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        keep = df.filter(~F.coalesce(pred, F.lit(False)))
        tmp = data_path + ".delete"
        keep.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(tmp)
        shutil.rmtree(data_path)
        if self._has_data(tmp):
            os.rename(tmp, data_path)
            self._update_meta(name)
            return 0
        shutil.rmtree(tmp, ignore_errors=True)
        kv = {}
        if not meta.columns:
            # everything deleted and no declared schema on file — record the
            # observed schema so subsequent reads serve an empty frame
            drop = {SEQ_COL, BUCKET_COL}
            kv["columns"] = [[c, t] for c, t in df.dtypes if c not in drop]
        self._update_meta(name, **kv)
        return 0

    def read_series(self, name: str, raw: bool = False) -> DataFrame:
        """Per-series scan (reference SeriesScan, src/mito2/src/read/scan_region.rs:389):
        rows of one series are co-located in a partition and ordered by
        (tags, time) — the layout PromQL-style per-series operators want.
        Costs one hash repartition on the tags plus an in-partition sort."""
        meta = self.meta(name)
        df = self.read(name, raw=raw)
        return df.repartition(*[F.col(t) for t in meta.tags]).sortWithinPartitions(
            *meta.tags, meta.time_index
        )

    def flush_table(self, name: str) -> None:
        """Memtable-flush analog: TTL expiry happens HERE, not at read time
        (reference applies TTL on flush/compaction; ttl='instant' tables drop
        everything they have on flush — data only flows on to flows).
        At scale this deletes whole time-bucket partitions (partition-pruned
        drop), plus one boundary-bucket rewrite."""
        meta = self.meta(name)
        # seal the memtable: record the SST boundary for json2 per-SST
        # union-schema rendering (flat format)
        if meta.batch_no and (not meta.flush_batches
                              or meta.flush_batches[-1] != meta.batch_no):
            self._update_meta(
                name, flush_batches=meta.flush_batches + [meta.batch_no])
        ttl = self._effective_ttl(meta)
        if not ttl:
            return
        data_path = os.path.join(self._table_path(name), "data")
        if not self._has_data(data_path):
            return
        if ttl.lower() == "instant":
            import shutil

            shutil.rmtree(data_path)
            self._update_meta(name)
            return
        self.delete(
            name,
            F.col(_phys_name(meta.time_index))
            < F.current_timestamp() - F.expr(_ttl_interval(ttl)),
            _from_logical=True,  # engine-internal expiry, not a user DELETE
        )

    def compact(self, name: str) -> None:
        """Rewrite the table as its dedup view (TWCS-compaction analog);
        applies TTL expiry like the reference's compaction does.

        At scale this runs per time-bucket so only recently-written partitions
        rewrite; here we rewrite the whole (small) table.
        """
        self.flush_table(name)
        meta = self.meta(name)
        if meta.flush_batches:
            # compaction merges all sealed SSTs into one segment
            self._update_meta(name, flush_batches=[meta.flush_batches[-1]])
            meta = self.meta(name)
        data_path = os.path.join(self._table_path(name), "data")
        if not self._has_data(data_path):
            return
        # mergeSchema: ALTER-generation columns may exist in a subset of the
        # files — first-file schema would silently drop them
        df = self.spark.read.option("mergeSchema", "true").parquet(data_path)
        merged = merge_view(df, meta, keep_seq=True).withColumn(
            BUCKET_COL, F.date_trunc(meta.partition_granularity, F.col(meta.time_index))
        )
        tmp = data_path + ".compact"
        merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(tmp)
        import shutil

        shutil.rmtree(data_path)
        os.rename(tmp, data_path)
        self._update_meta(name)

    def list_tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.base_path)
            if os.path.exists(os.path.join(self.base_path, d, _META_FILE))
        )

    def _table_path(self, name: str) -> str:
        return os.path.join(self.base_path, name)


def merge_view(df: DataFrame, meta: TableMeta, keep_seq: bool = False) -> DataFrame:
    """Dedup rows sharing (tags, time_index) per the table's merge mode.

    LastRow  → row_number() over (pk, ts order by __seq desc) == 1
               (reference src/mito2/src/read/dedup.rs LastRow reader)
    LastNonNull → per-field last(col, ignorenulls) over ingest order
               (reference dedup.rs LastNonNull / LastFieldsBuilder)

    Single shuffle on the primary key either way; both window and groupBy
    aggregate are partial-agg friendly, so this scales linearly with series
    count rather than row count per partition.
    """
    keys = [*meta.tags, meta.time_index]
    non_keys = [c for c in df.columns if c not in keys and c not in (SEQ_COL, BUCKET_COL)]
    # quoted column refs: declared names may contain dots ("service.name")
    key_cols = [F.col(f"`{k}`") for k in keys]
    if meta.merge_mode == "last_non_null":
        # max_by(col, seq) among non-null values of col == last non-null write.
        aggs = [
            F.expr(f"max_by(`{c}`, CASE WHEN `{c}` IS NOT NULL THEN {SEQ_COL} END) AS `{c}`")
            for c in non_keys
        ]
        if keep_seq:
            aggs.append(F.max(SEQ_COL).alias(SEQ_COL))
        return df.groupBy(*key_cols).agg(*aggs)
    # last_row
    w = Window.partitionBy(*key_cols).orderBy(F.col(SEQ_COL).desc())
    out = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", BUCKET_COL)
    )
    return out if keep_seq else out.drop(SEQ_COL)


def load_star_schema(spark: SparkSession, sf_dir: str, tables: Iterable[str] | None = None) -> dict[str, DataFrame]:
    """Load the driver's synthetic tables (TESTDATA.md) and register temp views."""
    names = list(tables) if tables else [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for n in names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet"))
        df.createOrReplaceTempView(n)
        out[n] = df
    return out
