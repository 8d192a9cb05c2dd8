"""ToStoreSpark: the engine facade (the reference's ``ToStore`` class).

Reference surface:
- open/close, query/insert/update/delete/upsert entry points
                              lib/tostore.dart:372-700
- spaces (isolated namespaces + global tables)
                              lib/tostore.dart:529-532;
                              lib/src/core/data_store_impl.dart:5873-5936
- memory mode                 lib/tostore.dart:197-240
- KV namespace                lib/tostore.dart:706-803
- vectorSearch                lib/tostore.dart:493-511

Tables are DataFrames registered from Parquet (or created via TableSchema →
managed Parquet directories under a warehouse for the write path).  A
"space" is a namespace prefix; global tables are visible from every space
(isGlobal, table_schema.dart:37).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from tostore_spark.query import QueryBuilder
from tostore_spark.schema import TableSchema
from tostore_spark.localdf import local_df


def _cast_to_table_schema(df: DataFrame, schema) -> DataFrame:
    """Cast ``df``'s columns to a table's stored types where they differ.

    Append-fast-path guard: a delta segment written with a divergent
    parquet physical type (int vs bigint, …) poisons the table's
    multi-root segment read — and only at scan time, after the manifest
    commit.  Casting up front keeps every segment read-compatible and
    surfaces impossible casts at append time instead."""
    from pyspark.sql import functions as F

    stored = {f.name: f.dataType for f in schema.fields}
    if all(df.schema[c].dataType == stored[c]
           for c in df.columns if c in stored):
        return df
    return df.select(*[
        F.col(c).cast(stored[c]).alias(c) if c in stored
        and df.schema[c].dataType != stored[c] else F.col(c)
        for c in df.columns])


class DbResult:
    """Graceful-error result for admin operations (the reference returns a
    DbResult instead of raising for business-logic errors, tostore.dart:1134+)."""

    def __init__(self, success: bool, message: str = ""):
        self.success = success
        self.message = message

    def __bool__(self) -> bool:
        return self.success

    def __repr__(self):
        return f"DbResult(success={self.success}, message={self.message!r})"


class ToStoreSpark:
    def __init__(self, spark: SparkSession, data_dir: Optional[str] = None,
                 warehouse: Optional[str] = None, space: str = "default",
                 default_query_limit: int = 1000,
                 max_query_offset: int = 10000,
                 encryption=None):
        self.spark = spark
        self._space = space
        self._warehouse = warehouse
        #: at-rest EncryptionConfig (tostore_spark.at_rest): fields
        #: marked encrypted=True in their TableSchema are ciphertext
        #: everywhere between the engine read/write boundaries —
        #: flushed segments, deltas, versions, backups
        self.encryption = encryption
        #: cap applied to run() when no explicit limit is given; <=0 makes
        #: unbounded run() raise (data_store_config.dart:68-75 semantics,
        #: defaults 1000/10000).  .df() is exempt — it returns a lazy,
        #: distributed plan, not a driver collect.
        self.default_query_limit = default_query_limit
        #: hard cap for offset paging; <=0 disables (deep offsets should be
        #: keyset cursors instead)
        self.max_query_offset = max_query_offset
        #: set False to skip the matched-count job in update/delete/batch
        #: builders (they then return -1)
        self.eager_mutation_counts = True
        self._data_dir = data_dir
        # (space, name) -> {"df": DataFrame|None, "path": str|None,
        #                   "schema": TableSchema, "global": bool}
        self._tables: dict[tuple[str, str], dict] = {}
        if data_dir:
            self.register_dir(data_dir)
        # durable store: overlay the last flushed state (versioned parquet
        # + manifest under `warehouse`) on top of the data_dir sources —
        # the WAL-recovery analog (wal_manager.dart durability intent)
        if warehouse:
            # fail LOUDLY at open when the warehouse holds encrypted
            # data and the key is missing/wrong — never surface garbage
            from tostore_spark.at_rest import verify_key_check
            verify_key_check(warehouse,
                             encryption.key if encryption else None)
            from tostore_spark import store as _store
            _store.load_warehouse(self)

    # ---- registry -----------------------------------------------------
    def register_dir(self, data_dir: str, is_global: bool = False) -> None:
        for fn in sorted(os.listdir(data_dir)):
            if fn.endswith(".parquet"):
                self.register_table(fn[: -len(".parquet")],
                                    path=os.path.join(data_dir, fn),
                                    is_global=is_global)

    def register_table(self, name: str, path: Optional[str] = None,
                       df: Optional[DataFrame] = None,
                       schema: Optional[TableSchema] = None,
                       is_global: bool = False, format: str = "parquet",
                       partition_by: Optional[list] = None,
                       pre_encrypted: bool = False,
                       **reader_options) -> None:
        """Register a table from parquet (default), csv, json, or orc — any
        Spark batch source; csv defaults to header+inferSchema.

        ``partition_by`` names hive-style partition columns for the
        WAREHOUSE layout: every flush writes the table partitioned by
        these columns (directory-per-value), so reopened readers get
        partition PRUNING — a filter on the partition column reads only
        its directories (``PartitionFilters`` in the plan), the
        100 TB-standard layout for date/source/tenant-keyed tables.
        Prefer low-cardinality string/int columns; the setting persists
        in the manifest across reopens."""
        if df is None and path is None:
            raise ValueError("register_table needs a path or a DataFrame")
        if df is None:
            if format == "parquet":
                df = self._read_parquet(path)
            elif format == "csv":
                opts = {"header": "true", "inferSchema": "true", **reader_options}
                df = self.spark.read.options(**opts).csv(path)
            else:
                df = self.spark.read.options(**reader_options).format(format).load(path)
        if schema is None:
            schema = TableSchema.from_struct_type(name, df.schema, is_global=is_global)
        self._validate_encrypted_fields(schema)
        enc = ([f.name for f in schema.fields
                if getattr(f, "encrypted", False)]
               if self.encryption is not None else [])
        if enc and not pre_encrypted:
            # user-supplied content arrives plaintext; the registry
            # holds ciphertext (``pre_encrypted=True`` — the restore
            # path — registers already-at-rest bytes verbatim)
            from tostore_spark.at_rest import encrypt_frame
            df = encrypt_frame(df, enc, self.encryption.key,
                               types=self._spec_for_schema(schema))
        space = "global" if is_global else self._space
        if (space, name) in self._tables:
            # re-registering replaces the data: advance the generation so
            # query caches and analyze_table stats for the old frame die
            self._generations[(space, name)] = \
                self._generations.get((space, name), 0) + 1
        self._tables[(space, name)] = {
            "df": df, "path": path, "schema": schema, "global": is_global,
            "partition_by": list(partition_by) if partition_by else None,
        }
        # a re-registration is a whole-table replacement — never an
        # append-only mutation the flush fast path may ship as a segment
        self._append_deltas[(space, name)] = None
        self._delete_deltas[(space, name)] = None

    def _read_parquet(self, path: str, schema=None) -> DataFrame:
        """Parquet read that tolerates nanosecond timestamps (Spark rejects
        TIMESTAMP(NANOS) by default): read them as long nanos and convert to
        microsecond timestamps — exact integer math, no double rounding.

        ``schema`` (StructType) pins the read schema — REQUIRED for
        hive-partitioned warehouse dirs, where partition-column type
        inference would otherwise retype numeric-looking string values
        ('001' → int 1, leading zeros irrecoverably lost) and move the
        partition columns to the end of the schema.

        ``path`` may be a list of directories — the SEGMENT read of an
        append-fast-path table (store.flush_tables): one multi-root
        parquet scan over base + delta segments, still one plan node."""
        paths = [path] if isinstance(path, str) else list(path)
        if schema is not None:
            # hive-partitioned roots can't share one multi-root scan
            # (partition discovery wants a single basePath) — read each
            # segment root pinned and union; partition PRUNING still
            # applies per scan, and the union is a no-shuffle plan node
            frames = [
                self.spark.read.schema(schema).parquet(p)
                    .select(*[f.name for f in schema.fields])
                for p in paths]
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f)
            return out
        ns_cols: list[str] = []
        try:
            import pyarrow.parquet as pq
            # probe EVERY root: engine-written segments are always
            # micros, but externally registered bases may mix — a later
            # segment's ns column would otherwise skip conversion
            seen = set()
            for p in paths:
                for f in pq.read_schema(p):
                    if (f.name not in seen
                            and str(f.type).startswith("timestamp[ns")):
                        seen.add(f.name)
                        ns_cols.append(f.name)
        except Exception:
            pass
        if not ns_cols:
            return self.spark.read.parquet(*paths)
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = self.spark.read.parquet(*paths)
        from pyspark.sql import functions as F
        for c in ns_cols:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return df

    def bucket_table(self, name: str, bucket_cols: list[str],
                     n_buckets: int = 32, alias: Optional[str] = None,
                     path: Optional[str] = None) -> str:
        """Persist a bucketed copy of a table (bucketBy + sortBy →
        saveAsTable with an explicit path): equi-joins and aggregations
        keyed on the bucket columns then read co-located, pre-sorted
        buckets with NO shuffle exchange on either side — the lever for
        repeated big x big joins at 100 TB (SURVEY.md §4.2).  Both join
        sides must use the same n_buckets.  Returns the registered name."""
        import re
        import tempfile

        tbl = alias or f"{name}_by_{'_'.join(bucket_cols)}"
        catalog = re.sub(r"[^a-zA-Z0-9_]", "_", f"ts_{self._space}_{tbl}").lower()
        if path is None:
            path = tempfile.mkdtemp(prefix=f"bucketed_{name}_")
        (self.df(name).write.mode("overwrite").format("parquet")
         .option("path", path)
         .bucketBy(n_buckets, *bucket_cols).sortBy(*bucket_cols)
         .saveAsTable(catalog))
        self.register_table(tbl, df=self.spark.table(catalog))
        return tbl

    def create_table(self, schema: TableSchema) -> None:
        """Create an empty managed table from a declared TableSchema."""
        self._validate_encrypted_fields(schema)
        df = local_df(self.spark, [], schema.to_struct_type())
        enc = [f.name for f in schema.fields
               if getattr(f, "encrypted", False)]
        if enc and self.encryption is not None:
            # shape the EMPTY registry frame like every later ciphertext
            # frame: encrypted columns are stored as string regardless
            # of their declared type (the typed-envelope layout), so
            # the first union/decrypt must already see string here
            from tostore_spark.at_rest import encrypt_frame
            df = encrypt_frame(df, enc, self.encryption.key,
                               types=self._spec_for_schema(schema))
        space = "global" if schema.is_global else self._space
        self._tables[(space, schema.name)] = {
            "df": df, "path": None, "schema": schema, "global": schema.is_global,
        }

    def _validate_encrypted_fields(self, schema: TableSchema) -> None:
        """The at_rest module's refusal list (see its doc for each
        reason): encrypted fields must be plain text payload columns —
        never a value the key/index/pruning machinery consults."""
        enc = [f for f in schema.fields if getattr(f, "encrypted", False)]
        if not enc:
            return
        if self.encryption is None:
            raise ValueError(
                f"table {schema.name} declares encrypted fields but the "
                "engine has no encryption=EncryptionConfig(key=...)")
        names = {f.name for f in enc}
        for f in enc:
            # any declared type may encrypt (r12 — the typed-envelope
            # layout in at_rest.encrypt_frame); the refusals below are
            # about VALUES the layout/pruning machinery must consult
            if f.unique or f.create_index:
                raise ValueError(
                    f"encrypted field {f.name} cannot be unique/indexed")
        if schema.primary_key is not None \
                and schema.primary_key.name in names:
            raise ValueError("the primary key cannot be encrypted")
        if schema.ttl is not None and schema.ttl.source_field in names:
            raise ValueError("the TTL source field cannot be encrypted")
        for ix in schema.indexes:
            if names & set(ix.fields):
                raise ValueError(
                    f"encrypted fields {sorted(names & set(ix.fields))} "
                    "cannot be indexed")
        for fk in getattr(schema, "foreign_keys", []) or []:
            if names & set(fk.fields):
                raise ValueError(
                    f"encrypted fields cannot be foreign keys")

    def _enc_cols(self, key: tuple) -> list:
        """Names of at-rest-encrypted columns for a registry entry
        ([] without config — the feature is entirely opt-in)."""
        if self.encryption is None:
            return []
        ent = self._tables.get(key)
        sch = ent.get("schema") if ent else None
        if sch is None:
            return []
        return [f.name for f in sch.fields
                if getattr(f, "encrypted", False)]

    @staticmethod
    def _spec_for_schema(sch) -> dict:
        """column → canonical PLAINTEXT Spark type for every encrypted
        field — the typed-envelope spec both encrypt_frame and
        decrypt_frame need to round-trip non-text values losslessly."""
        from tostore_spark.schema import spark_type_for
        return {f.name: spark_type_for(f.type) for f in sch.fields
                if getattr(f, "encrypted", False)}

    def _enc_spec(self, key: tuple) -> dict:
        """``_enc_cols`` with types: {name: plaintext Spark type}."""
        if self.encryption is None:
            return {}
        ent = self._tables.get(key)
        sch = ent.get("schema") if ent else None
        if sch is None:
            return {}
        return self._spec_for_schema(sch)

    def create_tables(self, schemas: list[TableSchema]) -> None:
        """Create several tables at once (tostore.dart:356)."""
        for sch in schemas:
            self.create_table(sch)

    def table_exists(self, name: str) -> bool:
        """Whether the table resolves in the current space or globally
        (tostore.dart:944)."""
        try:
            self._resolve(name)
            return True
        except KeyError:
            return False

    def get_table_schema(self, name: str) -> Optional[TableSchema]:
        """TableSchema or None (tostore.dart:956)."""
        try:
            return self.schema(name)
        except KeyError:
            return None

    def get_table_info(self, name: str) -> Optional[dict]:
        """Table metadata: record count, index count, schema, global flag,
        write generation (tostore.dart:986 TableInfo)."""
        try:
            key = self._resolve(name)
        except KeyError:
            return None
        ent = self._tables[key]
        sch: TableSchema = ent["schema"]
        return {
            "name": name,
            "space": key[0],
            "record_count": self.df(name).count(),
            "index_count": len(sch.all_indexes()),
            "is_global": ent["global"],
            "schema": sch,
            "generation": self._generations.get(key, 0),
            "path": ent["path"],
        }

    def drop_table(self, name: str) -> None:
        self._tables.pop(self._resolve(name), None)

    def clear(self, name: str) -> None:
        """Empty the table.  Routed through ``set_df`` so the clear is
        DURABLE: the generation bumps (rewrite-dirty — no append/delete
        fast path) and the next flush persists the empty state.  A
        direct ``ent["df"] = empty`` would leave the flushed recipe
        untouched and a reopen would resurrect every row (r17 fix,
        found while testing refresh exports; pinned in
        tests/test_store.py::test_clear_is_durable)."""
        key = self._resolve(name)
        ent = self._tables[key]
        self._set_df_at_key(
            key, local_df(self.spark, [], ent["df"].schema),
            pre_encrypted=True)

    def table_names(self) -> list[str]:
        return sorted({n for (sp, n) in self._tables
                       if sp in (self._space, "global")})

    def _resolve(self, name: str) -> tuple[str, str]:
        for key in ((self._space, name), ("global", name)):
            if key in self._tables:
                return key
        raise KeyError(f"unknown table: {name} (space={self._space})")

    # ---- spaces (data_store_impl.dart:5873-5936) ----------------------
    def switch_space(self, space: str) -> "ToStoreSpark":
        self._space = space
        self._known_spaces.add(space)
        return self

    @property
    def current_space(self) -> str:
        return self._space

    @property
    def _known_spaces(self) -> set:
        if not hasattr(self, "_spaces"):
            self._spaces = {"default", self._space}
        return self._spaces

    def list_spaces(self) -> list[str]:
        """All space names, sorted; always contains 'default'
        (tostore.dart:1152-1158)."""
        named = {sp for sp, _ in self._tables if sp != "global"}
        return sorted(self._known_spaces | named | {"default"})

    def delete_space(self, space: str) -> DbResult:
        """Drop a space and its tables; the default and the currently
        active space are protected (tostore.dart:1134-1146)."""
        if space == "default":
            return DbResult(False, "cannot delete the default space")
        if space == self._space:
            return DbResult(False, "cannot delete the currently active space")
        for key in [k for k in self._tables if k[0] == space]:
            del self._tables[key]
            self._generations.pop(key, None)
            self._append_deltas.pop(key, None)
            self._delete_deltas.pop(key, None)
        self._known_spaces.discard(space)
        return DbResult(True, f"space {space} deleted")

    def get_space_info(self, use_cache: bool = True) -> dict:
        """Current-space summary (tostore.dart:1119-1130); counts are
        computed fresh (the useCache knob is accepted for parity)."""
        tables = self.table_names()
        return {
            "name": self._space,
            "tables": tables,
            "table_count": len(tables),
            "version": self.get_version(),
        }

    # ---- user-maintained version number (tostore.dart:1008-1035) ------
    def get_version(self) -> int:
        return getattr(self, "_versions", {}).get(self._space, 0)

    def set_version(self, version: int) -> None:
        if not hasattr(self, "_versions"):
            self._versions: dict[str, int] = {}
        self._versions[self._space] = int(version)

    # ---- access -------------------------------------------------------
    def df(self, name: str) -> DataFrame:
        return self._df_at_key(self._resolve(name))

    def _df_at_key(self, key: tuple) -> DataFrame:
        """Key-addressed read — (space, name) resolved by the CALLER.
        Cross-space machinery (row-merge replay, apply_changes) must use
        this: ``df(name)`` resolves through the ACTIVE space and would
        silently read a same-named table from the wrong space."""
        rs = getattr(self, "_txn_read_versions", None)
        if rs is not None:
            if key not in rs:
                # serializable transaction scope: record the manifest
                # version this table was READ at (first read wins — the
                # transaction's snapshot); flush re-validates the set
                rs[key] = getattr(self, "_flushed_gen", {}).get(key, 0)
            # read GRANULARITY: a raw frame read demands whole-table
            # validation (the caller can do anything with the plan); a
            # QueryBuilder read flags itself via _txn_pred_scope and
            # appends its compiled predicate (query.py), narrowing the
            # conflict test to rows the read could actually see.  A
            # whole-table demand is never downgraded (setdefault keeps
            # an existing None).
            preds = self._txn_read_preds
            if getattr(self, "_txn_pred_scope", None) == key:
                preds.setdefault(key, [])
            else:
                preds[key] = None
        ent = self._tables[key]
        df = ent["df"]
        sch: TableSchema = ent["schema"]
        if sch.ttl is not None and sch.ttl.ttl_ms > 0 and sch.ttl.source_field:
            from tostore_spark.ttl import ttl_filter
            df = ttl_filter(df, sch.ttl)
        enc = self._enc_cols(key)
        if enc:
            # at-rest boundary: the registry frame is ciphertext;
            # every consumer above this line sees plaintext
            from tostore_spark.at_rest import decrypt_frame
            df = decrypt_frame(df, enc, self.encryption.key,
                               types=self._enc_spec(key))
        return df

    def _stats_summaries(self, name: str,
                         counted_dels: bool = False):
        """Per-segment footer summaries covering EVERY segment of a
        CLEAN warehouse table (plans/skipping shape: {"rows", "cols"}),
        or None when any segment lacks one, the table has unflushed
        mutations, or a TTL read-filter reshapes the visible frame —
        the eligibility gate shared by the metadata-only aggregates.

        ``counted_dels=True`` (the COUNT fast path only) returns
        ``(summaries, deleted_rows)`` instead, staying eligible across
        pending deletion-vector epochs whose exact removed-row counts
        the flush recorded (store ``del_counts``: written only when the
        flush-time probe proved raw == distinct keys, i.e. each key
        removed exactly one row).  Still refused when any del belongs
        to a replace pair (its key may match nothing — an upsert's
        insert half) or lacks a recorded count.  min/max must NOT use
        this: a deleted row could hold the extremum."""
        key = self._resolve(name)
        ent = self._tables[key]
        stats, segs = ent.get("segment_stats"), ent.get("segments")
        if not stats or not segs:
            return None
        if not getattr(self, "data_skipping", True):
            return None    # the master kill switch covers stats serves
        from tostore_spark.store import _norm_path
        ops = ent.get("ops")
        del_total = 0
        if ops and any(k == "del" for k, _p in ops):
            # deletion vectors pending: segment stats still count the
            # deleted rows — metadata answers would be wrong unless
            # every vector carries a flush-verified exact count
            if not counted_dels:
                return None
            dcounts = ent.get("del_counts") or {}
            seg_paths = {_norm_path(p) for k, p in ops if k == "seg"}
            for k, p in ops:
                if k == "seg":
                    continue
                np_ = _norm_path(p)
                if np_ in seg_paths or np_ not in dcounts:
                    return None
                del_total += int(dcounts[np_])
        if (self._generations.get(key, 0)
                != getattr(self, "_flushed_gen", {}).get(key)):
            return None
        sch: TableSchema = ent["schema"]
        if sch.ttl is not None and sch.ttl.ttl_ms > 0 and sch.ttl.source_field:
            return None
        out = []
        for seg in segs:
            st = stats.get(_norm_path(seg))
            if not isinstance(st, dict) or "rows" not in st:
                return None
            out.append(st)
        return (out, del_total) if counted_dels else out

    def stats_count(self, name: str) -> Optional[int]:
        """Metadata-only ``count(*)``: the sum of per-segment footer row
        counts minus the flush-verified deletion-vector counts — zero
        Spark jobs, zero file listings (the Delta/Iceberg numRecords
        fast path, extended across pure-append + pure-delete recipe
        chains).  None when ineligible (then the caller runs the normal
        scan).  ``engine._last_meta_agg`` records the serve so tests
        can assert no scan happened."""
        s = self._stats_summaries(name, counted_dels=True)
        if s is None:
            self._last_meta_agg = None
            return None
        summaries, del_total = s
        self._last_meta_agg = ("count", name)
        return sum(int(x["rows"]) for x in summaries) - del_total

    def stats_min_max(self, name: str, field: str,
                      kind: str) -> Optional[tuple]:
        """Metadata-only min/max over an INTEGRAL or BOOLEAN column:
        parquet footer bounds are exact for those types.  Refused (None)
        for strings (the format allows truncated string bounds) and
        floats (writers exclude NaN from bounds, while Spark's max
        treats NaN as the largest double — a NaN row would make the
        footer answer wrong).  Returns a 1-tuple ``(value,)`` — which
        may be ``(None,)`` for an empty/all-null-eligible table — or
        None when ineligible."""
        s = self._stats_summaries(name)
        if s is None:
            self._last_meta_agg = None
            return None
        ent = self._tables[self._resolve(name)]
        from pyspark.sql import types as T
        try:
            dt = ent["df"].schema[field].dataType
        except KeyError:
            self._last_meta_agg = None
            return None
        if not isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                               T.LongType, T.BooleanType)):
            self._last_meta_agg = None
            return None
        bound = None
        for st in s:
            if int(st["rows"]) == 0:
                continue       # empty segment contributes nothing
            c = (st.get("cols") or {}).get(field)
            if c is None:
                # uncovered in a non-empty segment: could be all-null
                # there (ignorable) or undecodable stats — can't tell,
                # so fall back to the scan
                self._last_meta_agg = None
                return None
            v = c["min"] if kind == "min" else c["max"]
            if v is None:
                continue       # all-null segment: no contribution
            if bound is None or (v < bound if kind == "min" else v > bound):
                bound = v
        self._last_meta_agg = (kind, name, field)
        return (bound,)

    def pruned_df(self, name: str, node) -> Optional[DataFrame]:
        """Manifest-level data skipping (plans/skipping): when ``name``
        is a CLEAN warehouse table (in-memory generation == last flushed
        — unflushed mutations live only in the pinned frame, not in any
        segment) whose manifest entry carries per-segment footer stats,
        rebuild the scan from only the segments (and, with a
        ``_filestats.json`` sidecar, only the FILES) whose min/max
        ranges admit the NORMALIZED condition ``node``.  Tables with
        pending deletion-vector epochs stay skippable: the recipe is
        re-folded with pruning applied per segment step and every
        anti-join re-applied in order — pruning only ever drops
        segments no predicate row can live in, which deletions only
        shrink.  Returns None when skipping does not apply or prunes
        nothing — the caller keeps the standard frame.
        ``engine._last_prune`` records ``(kept, total, table)`` for the
        last eligible read (None when ineligible) and
        ``engine._last_prune_files`` the file-grain ``(kept, total)``;
        ``engine.data_skipping = False`` turns the whole layer off."""
        key = self._resolve(name)
        ent = self._tables[key]
        stats = ent.get("segment_stats")
        segs = ent.get("segments")
        clean = (self._generations.get(key, 0)
                 == getattr(self, "_flushed_gen", {}).get(key))
        if not getattr(self, "data_skipping", True):
            clean = False
        if not stats or not segs or not clean:
            self._last_prune = None
            return None
        from tostore_spark.plans.skipping import (node_may_match,
                                                  prune_segments)
        from tostore_spark.store import _DELETES_SUBDIR, _norm_path
        ops = ent.get("ops")
        has_del = bool(ops and any(k == "del" for k, _p in ops))
        if ent.get("bloom_cols"):
            # inject each segment's decoded bloom sidecar so =/IN
            # leaves can prove a point value absent where the min/max
            # range cannot (enable_bloom_skip)
            aug = {}
            for seg in segs:
                st = stats.get(_norm_path(seg))
                if st is None:
                    continue
                bl = self._bloom_stats(seg)
                aug[_norm_path(seg)] = {**st, "bloom": bl} if bl else st
            stats = aug
        surviving = prune_segments(segs, stats, node, key[1],
                                   norm=_norm_path)
        surv = {_norm_path(s) for s in surviving}
        self._last_prune = (len(surviving), len(segs), key[1])
        self._last_prune_files = None
        base = ent["df"]
        # file-grain refinement (the _filestats.json sidecar): prune
        # individual files WITHIN the surviving roots — after an
        # OPTIMIZE/z-order rewrite every file covers a narrow key
        # range, so this is where clustering pays off.  Unpartitioned
        # tables only (hive roots keep Spark's own partition pruning);
        # engaged only when every surviving root has a sidecar AND a
        # file was actually dropped.
        file_sel: dict = {}
        kept_f = total_f = 0
        file_ok = bool(surviving)
        if file_ok:
            for seg in surviving:
                fstats = self._file_stats(seg)
                if not fstats:
                    file_ok = False
                    break
                total_f += len(fstats)
                root = seg[:-1] if seg.endswith("/") else seg
                # per-FILE blooms (build_bloom_payload's files map):
                # a point value provably absent from a file skips it
                # even inside a surviving segment
                fbloom = (self._bloom_stats(seg) or {}
                          if ent.get("bloom_cols") else {})
                fb_files = fbloom.get("files") or {}
                kept = []
                for rel, summ in fstats.items():
                    if rel in fb_files:
                        summ = {**summ,
                                "bloom": {"m": fbloom["m"],
                                          "k": fbloom["k"],
                                          "h": fbloom.get("h"),
                                          "cols": fb_files[rel]}}
                    if node_may_match(node, summ, key[1]):
                        kept.append(f"{root}/{rel}")
                kept_f += len(kept)
                file_sel[_norm_path(seg)] = kept
        use_files = file_ok and kept_f < total_f
        if use_files:
            self._last_prune_files = (kept_f, total_f)
        if len(surviving) == len(segs) and not use_files:
            return None
        if not has_del:
            # pure-segment table: keep the single multi-root scan
            if use_files:
                if ent.get("partition_by"):
                    # hive roots: explicit files re-read per segment
                    # under their basePath so the path-encoded
                    # partition columns survive the file-level read
                    parts = [
                        self._pruned_read_part(
                            seg, file_sel[_norm_path(seg)], base.schema)
                        .select(*base.columns)
                        for seg in surviving
                        if file_sel[_norm_path(seg)]]
                    if not parts:
                        df = local_df(self.spark, [], base.schema)
                    else:
                        df = parts[0]
                        for p in parts[1:]:
                            df = df.unionByName(p)
                    return self._ttl_filtered(df, ent)
                files = [f for seg in surviving
                         for f in file_sel[_norm_path(seg)]]
                if not files:
                    df = local_df(self.spark, [], base.schema)
                else:
                    df = self._pruned_read(files).select(*base.columns)
            elif not surviving:
                df = local_df(self.spark, [], base.schema)
            else:
                pin = base.schema if ent.get("partition_by") else None
                df = self._pruned_read(
                    surviving if len(surviving) > 1 else surviving[0],
                    schema=pin).select(*base.columns)
            return self._ttl_filtered(df, ent)
        # deletion vectors pending: fold the recipe, pruning each seg
        # step and re-applying every anti-join in epoch order.  Hive-
        # partitioned segments read pinned (and, file-grain, under
        # their basePath) so the path-encoded partition columns keep
        # their exact types — same discipline as the pure-seg branch.
        from pyspark.sql import functions as F
        pby = bool(ent.get("partition_by"))
        df = None
        for kind, path in ops:
            np_ = _norm_path(path)
            if kind == "seg":
                if np_ not in surv:
                    continue
                if use_files:
                    files = file_sel[np_]
                    if not files:
                        continue
                    if pby:
                        root = path[:-1] if path.endswith("/") else path
                        part = self._pruned_read_part(root, files,
                                                      base.schema)
                    else:
                        part = self._pruned_read(files)
                else:
                    part = self._pruned_read(
                        path, schema=base.schema if pby else None)
                part = part.select(*base.columns)
                df = part if df is None else df.unionByName(part)
            elif df is not None:
                from tostore_spark.store import read_delete_keys
                keys = read_delete_keys(
                    self, path[:-1] if path.endswith("/") else path)
                df = df.join(F.broadcast(keys), on=list(keys.columns),
                             how="left_anti")
        if df is None:
            df = local_df(self.spark, [], base.schema)
        return self._ttl_filtered(df, ent)

    def _ttl_filtered(self, df: DataFrame, ent: dict) -> DataFrame:
        """Read-boundary finisher for frames rebuilt from raw segment
        files (pruned_df and friends): applies the TTL read filter AND
        decrypts at-rest-encrypted columns, exactly mirroring the
        standard ``_df_at_key`` read path — a skipping-rebuilt scan
        must be indistinguishable from the registry frame."""
        sch: TableSchema = ent["schema"]
        if sch.ttl is not None and sch.ttl.ttl_ms > 0 and sch.ttl.source_field:
            from tostore_spark.ttl import ttl_filter
            df = ttl_filter(df, sch.ttl)
        if self.encryption is not None:
            enc = [f.name for f in sch.fields
                   if getattr(f, "encrypted", False)]
            if enc:
                from tostore_spark.at_rest import decrypt_frame
                df = decrypt_frame(df, enc, self.encryption.key,
                                   types=self._spec_for_schema(sch))
        return df

    def enable_bloom_skip(self, name: str, cols: list,
                          bits: int = 65536, k: int = 4) -> None:
        """Opt into point-lookup segment skipping on high-cardinality
        keys: from the NEXT flush on, every new version dir gets a
        ``_bloom.json`` sidecar with one ``bits``-bit bloom bitmap per
        listed column (k md5 double-hash probes), and ``=`` / ``IN`` queries drop
        segments the bitmap proves valueless — the case min/max stats
        can never decide (an unsorted key column spans the whole
        keyspace in every segment).  Integral/string columns only
        (float cast formatting and NaN semantics diverge between the
        build and probe sides).  Existing segments are unaffected until
        rewritten (e.g. ``optimize_table``) — absent sidecars just keep
        their segments.  Persisted in the manifest.  Sized at the
        default, 65536 bits = 8 KB/column/segment; ~1% false-keep at
        ~6.8k distinct values per segment — false positives only cost a
        read, never correctness."""
        key = self._resolve(name)
        ent = self._tables[key]
        from pyspark.sql import types as T
        for c in cols:
            try:
                dt = ent["df"].schema[c].dataType
            except KeyError:
                raise ValueError(f"bloom_skip column {c!r} not in "
                                 f"table {name!r}")
            if isinstance(dt, T.BooleanType) or not isinstance(
                    dt, (T.ByteType, T.ShortType, T.IntegerType,
                         T.LongType, T.StringType)):
                raise ValueError(
                    f"bloom_skip column {c!r} must be integral or "
                    f"string, got {dt.simpleString()}")
        ent["bloom_cols"] = {"cols": list(cols), "m": int(bits),
                             "k": int(k)}

    def _bloom_stats(self, seg: str) -> Optional[dict]:
        """Lazy, cached, base64-decoded read of a segment's
        ``_bloom.json`` sidecar — {"m", "k", "cols": {col: bytes}}."""
        cache = getattr(self, "_bloom_cache", None)
        if cache is None:
            cache = self._bloom_cache = {}
        if seg in cache:
            return cache[seg]
        out = None
        try:
            import base64
            import json as _json
            from tostore_spark import fs as _fsmod
            fs = _fsmod.get_fs(self._warehouse, self.spark)
            p = _fsmod.join(seg, "_bloom.json")
            if fs.exists(p):
                raw = _json.loads(fs.read_text(p))
                out = {"m": int(raw["m"]), "k": int(raw["k"]),
                       "h": raw.get("h"),
                       "cols": {c: base64.b64decode(b)
                                for c, b in raw["cols"].items()},
                       "files": {rel: {c: base64.b64decode(b)
                                       for c, b in fm.items()}
                                 for rel, fm in
                                 (raw.get("files") or {}).items()}}
        except Exception:
            out = None
        cache[seg] = out
        return out

    def table_stats(self, name: str) -> dict:
        """Metadata-only observability for a warehouse table: the
        manifest's per-segment footer summaries plus the recipe shape —
        no Spark job, no file listing.  Shape::

            {"table", "segments": [{"path", "rows", "cols":
              {col: {"min", "max", "nulls"}}}, ...],
             "total_rows": int|None,   # None while deletes pending
             "recipe": [["seg"|"del", path], ...],
             "delete_epochs": int, "bloom_cols": [...]|None}

        ``total_rows`` is exact only when no deletion vectors are
        pending (their removed counts live in the key sets, not the
        stats); dirty in-memory state is NOT reflected — this reads
        the flushed metadata, the same source the skipping layer and
        ``stats_count`` use."""
        key = self._resolve(name)
        ent = self._tables[key]
        from tostore_spark.store import _norm_path
        stats = ent.get("segment_stats") or {}
        segs = ent.get("segments") or []
        ops = ent.get("ops") or [["seg", p] for p in segs]
        has_del = any(k == "del" for k, _p in ops)
        seg_rows = []
        total = 0
        complete = True
        for seg in segs:
            st = stats.get(_norm_path(seg))
            if st and "rows" in st:
                total += int(st["rows"])
                seg_rows.append({"path": seg, "rows": int(st["rows"]),
                                 "cols": st.get("cols") or {}})
            else:
                complete = False
                seg_rows.append({"path": seg, "rows": None, "cols": {}})
        bl = ent.get("bloom_cols")
        return {"table": name, "segments": seg_rows,
                "total_rows": (total if complete and not has_del
                               else None),
                "recipe": [list(o) for o in ops],
                "delete_epochs": sum(1 for k, _p in ops if k == "del"),
                "bloom_cols": list(bl["cols"]) if bl else None}

    def _pruned_read(self, paths, schema=None) -> DataFrame:
        """Memoized ``_read_parquet`` for skipping's rebuilt scans:
        a pruned read lists files and reads footers when its plan is
        built, and the SAME predicate re-run would otherwise pay that
        driver-side cost every call.  Version dirs are immutable, so a
        plan keyed by its exact path set stays valid; the cache is
        cleared with the sidecar caches at flush/refresh."""
        cache = getattr(self, "_prune_plan_cache", None)
        if cache is None:
            cache = self._prune_plan_cache = {}
        key = (tuple(paths) if isinstance(paths, list) else paths,
               schema is not None)
        df = cache.get(key)
        if df is None:
            df = self._read_parquet(paths, schema=schema)
            if len(cache) >= 256:
                cache.clear()
            cache[key] = df
        return df

    def _pruned_read_part(self, root: str, files: list,
                          pin) -> DataFrame:
        """File-level read of a hive-partitioned segment: the explicit
        file list under ``basePath=root`` keeps the path-encoded
        partition columns, the pinned schema keeps partition-value
        typing exact (same pin discipline as the full read).  Memoized
        like ``_pruned_read``."""
        cache = getattr(self, "_prune_plan_cache", None)
        if cache is None:
            cache = self._prune_plan_cache = {}
        key = (root, tuple(files))
        df = cache.get(key)
        if df is None:
            df = (self.spark.read.option("basePath", root)
                  .schema(pin).parquet(*files))
            if len(cache) >= 256:
                cache.clear()
            cache[key] = df
        return df

    def _file_stats(self, seg: str) -> Optional[dict]:
        """Lazy, cached read of a segment's ``_filestats.json`` sidecar
        ({relpath: per-file summary}) — version dirs are immutable, so
        the cache key is just the segment path.  None when absent."""
        cache = getattr(self, "_filestats_cache", None)
        if cache is None:
            cache = self._filestats_cache = {}
        if seg in cache:
            return cache[seg]
        out = None
        try:
            import json as _json
            from tostore_spark import fs as _fsmod
            fs = _fsmod.get_fs(self._warehouse, self.spark)
            p = _fsmod.join(seg, "_filestats.json")
            if fs.exists(p):
                out = _json.loads(fs.read_text(p)).get("files") or None
        except Exception:
            out = None
        cache[seg] = out
        return out

    def schema(self, name: str) -> TableSchema:
        return self._tables[self._resolve(name)]["schema"]

    def primary_key(self, name: str) -> Optional[str]:
        try:
            sch = self.schema(name)
        except KeyError:
            return None
        return sch.primary_key.name if sch.primary_key else None

    def set_df(self, name: str, df: DataFrame, weight: int = 1,
               append_delta: Optional[DataFrame] = None,
               delete_delta: Optional[DataFrame] = None,
               deltas_pinned: bool = False) -> None:
        """``weight`` counts toward the compaction budget: plan-heavy
        rewrites (e.g. unique-checked updates, whose olds-join would
        otherwise compound in lineage between barriers) pass >1 so the
        localCheckpoint cut arrives proportionally sooner.

        ``append_delta``: when the new frame is PROVABLY the old frame
        plus exactly these rows (insert paths), pass the appended rows —
        the flush fast path then ships only the delta as a new segment
        instead of rewriting the table (store.flush_tables).

        ``delete_delta``: when the new frame is PROVABLY the old frame
        minus exactly the rows carrying these PK values (validated
        delete paths), pass the deleted-PK frame — the flush then
        commits a deletion vector instead of rewriting.  Any write
        without a delta (or mixing the two kinds in one epoch) poisons
        both fast paths until the next flush."""
        self._set_df_at_key(self._resolve(name), df, weight=weight,
                            append_delta=append_delta,
                            delete_delta=delete_delta,
                            deltas_pinned=deltas_pinned)

    def _set_df_at_key(self, key: tuple, df: DataFrame,
                       weight: int = 1,
                       append_delta: Optional[DataFrame] = None,
                       delete_delta: Optional[DataFrame] = None,
                       pre_encrypted: bool = False,
                       deltas_pinned: bool = False) -> None:
        """Key-addressed write — see ``_df_at_key`` for why cross-space
        callers must not go through active-space name resolution.

        Epoch algebra (flush fast paths): the epoch state is a folded
        REPLACE pair (K, R) — "anti-join the key frame K, then union
        the row frame R onto the base".  Every delta write folds
        exactly (sequential-application semantics):

        - append A:            R ← R ∪ A                 (K unchanged)
        - delete D:            K ← K ∪ D,  R ← R ∖ D
        - replace (D, A) — an upsert/batch_update's touched keys +
          merged output rows:  apply the delete fold, then the append

        A write with neither delta poisons both maps until the next
        flush (a rewrite is not expressible as (K, R)).  Flush commits
        pure-append epochs as plain segments, pure-delete epochs as
        deletion vectors, and mixed epochs as a del+seg pair in one
        version dir (store.flush_tables)."""
        enc = self._enc_cols(key)
        if enc and not pre_encrypted:
            # at-rest boundary: writers hand PLAINTEXT frames (they
            # derive from df()); the registry and every flushed byte
            # hold ciphertext.  Key frames carry only never-encrypted
            # key columns, so the delete delta passes through.
            # ``pre_encrypted``: the caller already holds ciphertext
            # (append_rows unions onto the RAW registry frame) — a
            # second pass would double-encrypt the base.
            from tostore_spark.at_rest import encrypt_frame
            kkey = self.encryption.key
            spec = self._enc_spec(key)
            df = encrypt_frame(df, enc, kkey, types=spec)
            if append_delta is not None:
                append_delta = encrypt_frame(append_delta, enc, kkey,
                                             types=spec)
        self._tables[key]["df"] = df
        self._generations[key] = self._generations.get(key, 0) + 1
        adeltas, ddeltas = self._append_deltas, self._delete_deltas

        def _poison():
            adeltas[key] = None
            ddeltas[key] = None

        poisoned = (key in adeltas and adeltas[key] is None
                    and key in ddeltas and ddeltas[key] is None)
        if append_delta is None and delete_delta is None:
            _poison()                     # rewrite-dirty: no fast path
        elif not poisoned:
            # The fold must NEVER leave a stale (K, R) pair behind: the
            # in-memory frame was already replaced above, so a fold that
            # raises (e.g. a delete delta keyed on a different column
            # set than the epoch's earlier delete — upsert matched on a
            # non-PK unique index, then a PK-keyed delete) would desync
            # the recorded deltas from the visible frame and a later
            # flush would durably drop the second mutation.  Any
            # incompatibility or exception poisons instead — the flush
            # then falls back to the always-correct full rewrite.
            from pyspark.sql import functions as F
            cur_a, cur_d = adeltas.get(key), ddeltas.get(key)
            compatible = True
            if delete_delta is not None:
                dcols = set(delete_delta.columns)
                if cur_d is not None and set(cur_d.columns) != dcols:
                    compatible = False          # mixed delete key sets
                if cur_a is not None and not dcols <= set(cur_a.columns):
                    compatible = False          # can't anti-join R ∖ D
            if not compatible:
                _poison()
            else:
                def _pin(delta):
                    # pin the delta's rows now: its lineage may reference
                    # frames a later mutation invalidates pre-flush.
                    # Callers whose delta is already self-contained vouch
                    # via ``deltas_pinned``: a parallelized local
                    # collection (insert's createDataFrame batch), or a
                    # column selection of an eager pin the caller took
                    # (update/delete's matched rows).  A second checkpoint
                    # would re-run the delta's plan for nothing.
                    if deltas_pinned:
                        return delta
                    return delta.localCheckpoint(eager=True)

                try:
                    if delete_delta is not None:
                        pinned_d = _pin(delete_delta)
                        if cur_a is not None:
                            # R ∖ D — deleting rows this epoch appended
                            cur_a = (cur_a.join(F.broadcast(pinned_d),
                                                on=list(pinned_d.columns),
                                                how="left_anti")
                                     .localCheckpoint(eager=True))
                        new_d = (cur_d.unionByName(pinned_d)
                                 if cur_d is not None else pinned_d)
                        if append_delta is not None:
                            pinned_a = _pin(append_delta)
                            cur_a = (cur_a.unionByName(pinned_a)
                                     if cur_a is not None else pinned_a)
                        # commit both maps only after every step succeeded
                        ddeltas[key] = new_d
                        adeltas[key] = cur_a
                    elif append_delta is not None:
                        pinned_a = _pin(append_delta)
                        adeltas[key] = (cur_a.unionByName(pinned_a)
                                        if cur_a is not None else pinned_a)
                except Exception:
                    _poison()
        self._maybe_compact(key, weight=weight)
        for w in list(getattr(self, "_watchers", [])):
            w.notify_change(key[1])

    @property
    def _txn_read_preds(self) -> dict:
        """(space, name) → None (whole-table read: any concurrent change
        conflicts) or a list of normalized ConditionNodes (predicate-
        scoped reads: only a changed row MATCHING one of them
        conflicts).  Populated only inside a serializable transaction;
        consumed by ``store._check_read_set``."""
        if not hasattr(self, "_txn_rpreds"):
            self._txn_rpreds = {}
        return self._txn_rpreds

    @property
    def _append_deltas(self) -> dict:
        """(space, name) → appended-rows frame for tables whose every
        mutation since the last flush was an append (the flush segment
        fast path), or None for tables rewritten this epoch."""
        if not hasattr(self, "_adeltas"):
            self._adeltas = {}
        return self._adeltas

    @property
    def _delete_deltas(self) -> dict:
        """(space, name) → deleted-PK frame for tables whose every
        mutation since the last flush was a PK-identified delete (the
        flush deletion-vector fast path, store.flush_tables), or None
        for tables rewritten this epoch."""
        if not hasattr(self, "_ddeltas"):
            self._ddeltas = {}
        return self._ddeltas

    def append_rows(self, name: str, rows_df: DataFrame) -> int:
        """Explicit append fast path: union ``rows_df`` into the table
        AND record it as the flush delta — at flush time only these rows
        are written (a new parquet segment joins the table's segment
        list in one manifest commit; store.flush_tables), never a
        whole-table rewrite.  The 100 TB ingest shape: appending a
        1 GB batch to a 100 TB table costs 1 GB of IO.  Columns must
        match the stored frame (missing columns are an error here —
        an append segment must be readable with the table's schema)."""
        key = self._resolve(name)
        cur = self._tables[key]["df"]
        if sorted(rows_df.columns) != sorted(cur.columns):
            raise ValueError(
                f"append_rows into {name}: columns {sorted(rows_df.columns)}"
                f" != table columns {sorted(cur.columns)}")
        enc = self._enc_cols(key)
        if enc:
            # the caller hands PLAINTEXT rows but ``cur`` is the RAW
            # ciphertext registry frame: encrypt the delta here (O(delta)
            # work) and tell _set_df_at_key the union is already at
            # rest — re-encrypting would double-encrypt the base
            from tostore_spark.at_rest import encrypt_frame
            rows_df = encrypt_frame(rows_df, enc, self.encryption.key,
                                    types=self._enc_spec(key))
        # conform TYPES, not just names: a delta segment whose parquet
        # physical type diverges from the base segments breaks (or
        # silently retypes) the multi-root read-back AFTER the manifest
        # commit — cast to the stored schema now so a lossy/impossible
        # cast fails loud here instead
        rows_df = _cast_to_table_schema(rows_df, cur.schema)
        delta = rows_df.select(*cur.columns).localCheckpoint(eager=True)
        self._set_df_at_key(key, cur.unionByName(delta),
                            append_delta=delta, pre_encrypted=True)
        return delta.count()

    @property
    def _generations(self) -> dict:
        if not hasattr(self, "_gen"):
            self._gen = {}
        return self._gen

    def generation(self, name: str) -> int:
        """Per-table write generation — the query-cache invalidation key
        (query_executor.dart:3217-3254).  Keyed by the resolved
        (space, name) so same-named tables in different spaces don't share
        a generation counter."""
        try:
            key = self._resolve(name)
        except KeyError:
            return 0
        return self._generations.get(key, 0)

    # ---- lineage bounding (the batch analog of WAL+buffer compaction,
    # data_store_impl.dart write-buffer flush) -------------------------
    #: mutations between localCheckpoint barriers; 0 disables
    compact_every: int = 32

    def _maybe_compact(self, key: tuple[str, str], weight: int = 1) -> None:
        """Every N mutations, cut the logical plan with an eager
        localCheckpoint: iterative writes otherwise chain a new plan on the
        old one and analysis time / driver memory grow without bound."""
        if not self.compact_every:
            return
        if not hasattr(self, "_mutations"):
            self._mutations: dict[tuple[str, str], int] = {}
        n = self._mutations.get(key, 0) + max(1, weight)
        if n >= self.compact_every:
            self._tables[key]["df"] = self._tables[key]["df"].localCheckpoint(eager=True)
            n = 0
        self._mutations[key] = n

    def watch(self, builder, callback, remote: bool = True):
        """Reactive re-query on table change (query_builder.dart:473-543).

        With a warehouse configured, registering the first watcher also
        starts the cross-engine remote watch (``start_remote_watch`` in
        its default event-push mode) so OTHER engines' flushes reach
        this callback with no polling sleeps — latency bounded by the
        stream trigger.  ``remote=False`` keeps the watcher local-only
        (the caller drives remote visibility via
        ``check_remote_changes``/``start_remote_watch`` itself)."""
        from tostore_spark.streaming.reactive import Watcher
        if not hasattr(self, "_watchers"):
            self._watchers = []
        w = Watcher(builder, callback)
        self._watchers.append(w)
        if (remote and getattr(self, "_warehouse", None)
                and not self.remote_watch_active()):
            self.start_remote_watch()
        return w

    def remote_watch_active(self) -> bool:
        """True while a cross-engine watch (event-push stream or polling
        thread) is delivering other engines' flushes to this engine."""
        stream = getattr(self, "_remote_stream", None)
        if stream is not None and stream.isActive:
            return True
        return getattr(self, "_remote_stop", None) is not None

    def find_foreign_key(self, a: str, b: str):
        """FK metadata lookup for auto-joins: returns
        (child_table, parent_table, child_fields, parent_fields)."""
        for child, parent in ((a, b), (b, a)):
            try:
                sch = self.schema(child)
            except KeyError:
                continue
            for fk in sch.foreign_keys:
                if fk.referenced_table == parent:
                    return child, parent, list(fk.fields), list(fk.referenced_fields)
        return None

    # ---- lifecycle / diagnostics (tostore.dart:1035-1172) -------------
    def flush(self, flush_storage: bool = True,
              only: Optional[list] = None,
              on_conflict: str = "error",
              max_retries: int = 3,
              on_row_conflict: str = "error") -> list[str]:
        """Make pending mutations durable (tostore.dart:1035).

        With a ``warehouse`` configured, every dirty table is written to
        ``<warehouse>/<space>/<table>/v<generation>/`` by the distributed
        parquet writer, the manifest is atomically replaced, and the table
        is re-registered from the written files (lineage cut + memory
        released + durable — reopening ``ToStoreSpark(spark, data_dir,
        warehouse=...)`` resumes from exactly this state).  Without a
        warehouse (or flush_storage=False), dirty tables are only
        localCheckpoint-ed: a memory barrier, NOT durable — mutations die
        with the session, as README limitations document.

        ``on_conflict`` picks the reaction to a concurrent writer having
        flushed one of this engine's dirty tables first (per-table CAS):

        - ``"error"`` (default): raise ``ConcurrentWriteError`` — the
          caller drives ``refresh()``/``refresh(row_merge=True)``.
        - ``"row_merge"``: automatic optimistic retry, the reference's
          transaction-retry loop (transaction_manager.dart:17-50) at row
          granularity — refresh(row_merge=True) then re-flush, up to
          ``max_retries`` times.  Disjoint-row writers commit without
          caller involvement; a genuine row overlap resolves per
          ``on_row_conflict`` (see ``refresh``: 'error' raises naming
          the keys, 'first_wins'/'column_merge' merge and document in
          ``last_merge_report``); exhausted retries still raise."""
        from tostore_spark import store as _store
        if on_conflict not in ("error", "row_merge"):
            raise ValueError(
                f"on_conflict must be error|row_merge, got {on_conflict!r}")
        attempts = max_retries if on_conflict == "row_merge" else 0
        for attempt in range(attempts + 1):
            try:
                flushed = _store.flush_tables(
                    self, flush_storage=flush_storage, only=only)
                break
            except _store.ConcurrentWriteError:
                if attempt == attempts:
                    raise
                self.refresh(row_merge=True,
                             on_row_conflict=on_row_conflict)
        if hasattr(self, "_mutations"):
            self._mutations.clear()
        return flushed

    def refresh(self, row_merge: bool = False,
                on_row_conflict: str = "error") -> list[str]:
        """Retry path after ConcurrentWriteError: reload the warehouse's
        current manifest (another writer's flush), then replay THIS
        engine's unflushed tables on top.  Raises ConcurrentWriteError
        listing the tables if the other writer also flushed one of them
        (a true conflict the caller must re-derive).

        ``row_merge=True`` narrows the conflict unit to the ROW: a
        same-table conflict is replayed by diffing this engine's local
        changes against its own flushed base and ``apply_changes``-ing
        them onto the other writer's committed state — disjoint-row
        writers both commit without re-deriving.  A genuine row overlap
        resolves per ``on_row_conflict``: ``'error'`` (default) raises
        naming the conflicting primary-key values; ``'first_wins'``
        keeps the committed writer's rows and documents the superseded
        keys in ``self.last_merge_report``; ``'column_merge'``
        three-way-merges update-vs-update overlaps column-wise (raises
        when both writers changed the same column differently).
        Returns replayed table names."""
        from tostore_spark import store as _store
        return _store.refresh(self, row_merge=row_merge,
                              on_row_conflict=on_row_conflict)

    def check_remote_changes(self) -> list[str]:
        """Cross-engine watch visibility: one manifest read; if another
        engine flushed the shared warehouse since we loaded it, fold the
        new state in (refresh) and fire the re-query notification of
        every live watcher on a remotely-changed table — the reference's
        all-writers notification (notification_manager.dart:9-40), with
        the manifest as the cross-process truth.  Raises
        ConcurrentWriteError if this engine's own unflushed work
        conflicts.  Returns remotely-changed table names."""
        from tostore_spark import store as _store
        return _store.check_remote_changes(self)

    def start_remote_watch(self, interval_s: float = 1.0,
                           mode: str = "auto") -> None:
        """Deliver other engines' flushes to this engine's watchers
        without explicit checks.

        ``mode="auto"`` (default): event PUSH — a Structured Streaming
        source on the warehouse's per-flush event log
        (``streaming.reactive.start_manifest_stream``), micro-batch
        trigger = ``interval_s``; falls back to the mtime-polling daemon
        thread on filesystems where a streaming file source cannot start.
        ``mode="push"`` requires the stream (raises on failure);
        ``mode="poll"`` forces the polling thread.  Either path records a
        true write conflict on ``last_remote_error`` and keeps running
        (local state kept — the owner must resolve via
        refresh/re-derive)."""
        import threading

        if mode not in ("auto", "push", "poll"):
            raise ValueError(f"mode must be auto|push|poll, got {mode!r}")
        self.stop_remote_watch()
        self.last_remote_error: Optional[Exception] = None
        if mode in ("auto", "push"):
            try:
                from tostore_spark.streaming.reactive import \
                    start_manifest_stream
                self._remote_stream = start_manifest_stream(
                    self, trigger=f"{max(int(interval_s * 1000), 50)} "
                                  "milliseconds")
                return
            except Exception:
                if mode == "push":
                    raise
                # no streaming-source support here — poll instead

        def _loop():
            while not self._remote_stop.wait(interval_s):
                try:
                    self.check_remote_changes()
                except Exception as exc:   # conflict or transient FS error
                    self.last_remote_error = exc

        self._remote_stop = threading.Event()
        self._remote_thread = threading.Thread(
            target=_loop, name="tostore-remote-watch", daemon=True)
        self._remote_thread.start()

    def stop_remote_watch(self) -> None:
        if getattr(self, "_remote_stream", None) is not None:
            try:
                self._remote_stream.stop()
            except Exception:
                pass
            self._remote_stream = None
        if getattr(self, "_remote_stop", None) is not None:
            self._remote_stop.set()
            self._remote_thread.join(timeout=5)
            self._remote_stop = None

    def vacuum(self, keep: int = 1) -> int:
        """Prune superseded version directories in the warehouse, keeping
        the ``keep`` newest per table (current always survives, as does
        any version pinned by a live ``df_at`` frame)."""
        from tostore_spark import store as _store
        return _store.vacuum(self, keep=keep)

    def table_diff(self, table: str, from_version: int,
                   to_version: int) -> DataFrame:
        """Change-data feed between two flushed versions: rows tagged
        ``change`` insert/delete (an in-place change = delete+insert).
        Feeds incremental consumers (mv_delta) without write replay."""
        from tostore_spark import store as _store
        return _store.table_diff(self, table, from_version, to_version,
                                 space=self._resolve(table)[0])

    def build_text_index(self, table: str, path: str,
                         text_field: str = "text",
                         id_field: str = "doc_id") -> dict:
        """Persist a BM25 inverted index for a table (range-sorted
        postings + doclens + (N, avgdl) sidecar) — the lexical
        counterpart of build_vector_index (search.bm25_build_index)."""
        from tostore_spark.llmops.search import bm25_build_index
        return bm25_build_index(self.df(table), path,
                                text_field=text_field, id_field=id_field)

    def text_search(self, path: str, query: str, k: int = 10, **kw):
        """BM25 top-k against a persisted text index — reads only the
        query terms' postings (search.bm25_search_indexed)."""
        from tostore_spark.llmops.search import bm25_search_indexed
        return bm25_search_indexed(self.spark, path, query, k=k, **kw)

    def fsck(self):
        """Warehouse consistency report (manifest vs filesystem):
        missing / orphan / empty version directories as a DataFrame;
        zero rows = clean (store.fsck)."""
        from tostore_spark import store as _store
        return _store.fsck(self)

    def table_history(self, table: str):
        """Metadata view of a table's flushed versions — (version,
        is_current, n_files, size_bytes, modified_ts) as a DataFrame;
        filesystem metadata only, no data read (store.table_history)."""
        from tostore_spark import store as _store
        return _store.table_history(self, table,
                                    space=self._resolve(table)[0])

    def snapshot(self):
        """Consistent multi-table read view of the current flushed state
        (store.SnapshotView): repeatable reads across tables while
        writers keep committing; pinned against vacuum until
        ``.release()``."""
        from tostore_spark import store as _store
        return _store.snapshot(self)

    def apply_changes(self, table: str, feed) -> int:
        """Apply a table_diff-shaped change feed onto the current table
        state (CDC consumer; replay-exact — see store.apply_changes)."""
        from tostore_spark import store as _store
        return _store.apply_changes(self, table, feed,
                                    space=self._resolve(table)[0])

    def export_table(self, table: str, path: str,
                     format: str = "parquet", partition_by=None,
                     mode: str = "error", **options) -> str:
        """Export the table's current state to parquet/csv/json/orc via
        the distributed writer (no driver collect)."""
        from tostore_spark import store as _store
        return _store.export_table(self, table, path, format=format,
                                   partition_by=partition_by, mode=mode,
                                   **options)

    def export_delta(self, table: str, dest: str, mode: str = "error",
                     target_files: Optional[int] = None,
                     allow_decrypted: bool = False,
                     deletion_vectors: bool = False,
                     change_data: bool = False,
                     cluster_by: Optional[list] = None,
                     checkpoint_format: Optional[str] = None) -> dict:
        """Export the table's current version (segments unioned,
        deletion vectors resolved) as a standard Delta Lake table —
        protocol/metaData/add log with per-file footer stats — so
        external Delta readers can consume it without the store's
        manifest (plans/delta_export; the SURVEY's table-format
        interop rung).  ``deletion_vectors=True`` lets updates commit
        merge-on-read vectors for delete/replace epochs (opt-in:
        upgrades the export's reader protocol).  ``change_data=True``
        maintains a Delta CHANGE DATA FEED on the export (the
        ``delta.enableChangeDataFeed`` table property + explicit cdc
        files on dv/refresh commits), consumable incrementally by
        foreign CDF readers or ``read_delta_cdf``."""
        from tostore_spark.plans.delta_export import export_delta as _ed
        return _ed(self, table, dest, mode=mode,
                   target_files=target_files,
                   allow_decrypted=allow_decrypted,
                   deletion_vectors=deletion_vectors,
                   change_data=change_data, cluster_by=cluster_by,
                   checkpoint_format=checkpoint_format)

    def read_delta_cdf(self, path: str, from_version: int,
                       to_version: Optional[int] = None,
                       where=None):
        """Read an external Delta table's CHANGE DATA FEED over a
        commit range: each row is a change tagged ``_change_type`` +
        ``_commit_version`` — cost ∝ the range's change files, never a
        snapshot diff (plans/delta_export.read_delta_cdf).  ``where``
        filters the feed (derivable append commits prune their add
        files by log stats).  Pairs with ``apply_changes`` for
        incremental consumption."""
        from tostore_spark.plans.delta_export import read_delta_cdf
        return read_delta_cdf(self.spark, path, from_version,
                              to_version=to_version, where=where)

    def read_delta(self, path: str, version: Optional[int] = None,
                   where=None,
                   as_of_ms: Optional[int] = None) -> DataFrame:
        """Read an external Delta table (or an ``export_delta``
        output) via transaction-log replay — no Delta library
        (plans/delta_export.read_delta).  ``version`` time-travels;
        ``where`` (the engine predicate language) prunes files by the
        log's per-file stats/partitionValues BEFORE the scan and
        re-applies to rows — the selective-read path for large
        foreign tables."""
        from tostore_spark.plans.delta_export import read_delta
        return read_delta(self.spark, path, version=version,
                          where=where, as_of_ms=as_of_ms)

    def register_delta(self, name: str, path: str,
                       version: Optional[int] = None,
                       where=None,
                       as_of_ms: Optional[int] = None,
                       is_global: bool = False) -> None:
        """Register an external Delta table (or an ``export_delta``
        output) as a readable source via transaction-log replay — no
        Delta library (plans/delta_export.read_delta).  ``version`` /
        ``as_of_ms`` pin a historical commit (time travel); ``where``
        pre-filters with log-stats file pruning (see ``read_delta``)."""
        from tostore_spark.plans.delta_export import read_delta
        df = read_delta(self.spark, path, version=version, where=where,
                        as_of_ms=as_of_ms)
        self.register_table(name, df=df, is_global=is_global)

    def mirror_delta(self, table: str, dest: str,
                     deletion_vectors: bool = True,
                     allow_decrypted: bool = False,
                     change_data: bool = False,
                     bridge_iceberg: bool = False) -> dict:
        """Continuously materialize ``table`` as a standard Delta
        table: an initial commit runs now, and EVERY subsequent
        ``flush()`` of the table auto-exports its next incremental
        commit post-commit — appends as add-only, deletes/upserts as
        merge-on-read deletion vectors, anything else as an atomic
        refresh (plans/delta_export).  Any external Delta reader then
        always sees the store's last committed state without the
        store's own manifest — the practical answer to "I need other
        engines reading this table live" while the store keeps its
        own commit protocol.  Mirror exports are post-commit and
        best-effort: a failure never un-commits the flush; it lands
        in ``engine.last_mirror_error`` and the next flush heals the
        mirror with a refresh commit.  The registration is
        engine-local (not persisted in the manifest) — re-register
        after reopen.  ``bridge_iceberg=True`` runs the continuous
        UniForm loop: after the initial commit the destination is
        ALSO converted to Iceberg (``convert_delta_to_iceberg``) and
        every later mirror flush folds its Delta commits into
        incremental Iceberg snapshots (``sync_delta_to_iceberg``) —
        one table directory, both formats always current.  Deletion
        vectors flow THROUGH the bridge (r17): a DV delete flush
        commits O(deleted rows) on the Delta side and folds as an
        Iceberg merge-on-read position-delete snapshot on the other —
        no file rewrite on either rung.  Returns the initial export
        report."""
        key = self._resolve(table)
        if not hasattr(self, "_delta_mirrors"):
            self._delta_mirrors = {}
        self._delta_mirrors[key] = {
            "dest": dest, "dv": bool(deletion_vectors),
            "allow_decrypted": bool(allow_decrypted),
            "bridge": bool(bridge_iceberg)}
        from tostore_spark.plans.delta_export import export_delta as _ed
        # change_data only needs the initial commit: once the table
        # property is set, every later update commit auto-maintains
        # the feed (the Delta writer contract)
        rep = _ed(self, table, dest, mode="update",
                  deletion_vectors=deletion_vectors,
                  allow_decrypted=allow_decrypted,
                  change_data=change_data)
        if bridge_iceberg:
            from tostore_spark.plans.iceberg import (
                _BRIDGE_PROP, _load_metadata, convert_delta_to_iceberg,
                sync_delta_to_iceberg)
            p = dest[len("file:"):] if dest.startswith("file:") \
                else dest
            try:
                has_bridge = _BRIDGE_PROP in (
                    _load_metadata(p).get("properties") or {})
            except Exception:
                has_bridge = False
            if has_bridge:
                rep["bridge"] = sync_delta_to_iceberg(self.spark, p)
            else:
                rep["bridge"] = convert_delta_to_iceberg(self.spark, p)
        return rep

    def unmirror_delta(self, table: str) -> bool:
        """Stop auto-exporting ``table`` (the destination keeps its
        committed versions).  True if a mirror was registered."""
        key = self._resolve(table)
        return (getattr(self, "_delta_mirrors", {}) or {}) \
            .pop(key, None) is not None

    def convert_delta_to_iceberg(self, path: str) -> dict:
        """UniForm-style bridge: Iceberg v2 metadata over a Delta
        table's CURRENT live files — same parquet, two formats, no
        copy; foreign Iceberg engines read the Delta state
        (plans/iceberg.convert_delta_to_iceberg).  Snapshot-in-time;
        live deletion vectors fold into the bootstrap snapshot as
        position deletes (late r17)."""
        from tostore_spark.plans.iceberg import convert_delta_to_iceberg
        return convert_delta_to_iceberg(self.spark, path)

    def sync_delta_to_iceberg(self, path: str) -> dict:
        """Bring a delta→iceberg bridge CURRENT: fold every Delta
        commit since the last bridged version into an incremental
        Iceberg snapshot over the same files — the continuous-UniForm
        loop (plans/iceberg.sync_delta_to_iceberg); runs automatically
        per flush under ``mirror_delta(bridge_iceberg=True)``."""
        from tostore_spark.plans.iceberg import sync_delta_to_iceberg
        return sync_delta_to_iceberg(self.spark, path)

    def convert_to_iceberg(self, path: str) -> dict:
        """Catalog an existing plain-parquet directory (flat or hive-
        partitioned) as an Iceberg v2 table IN PLACE — no data copied;
        name-mapping property for id-less files, hive dirs become an
        identity partition spec with values in the manifests, bounds
        written for immediate skipping (plans/iceberg.
        convert_to_iceberg)."""
        from tostore_spark.plans.iceberg import convert_to_iceberg
        return convert_to_iceberg(self.spark, path)

    def convert_to_delta(self, path: str) -> dict:
        """Catalog an existing plain-parquet directory (flat or hive-
        partitioned) as a Delta table IN PLACE — no data copied; v0
        lists the files with footer stats and hive partitionValues
        (plans/delta_export.convert_to_delta).  The adoption path for
        pre-existing datasets."""
        from tostore_spark.plans.delta_export import convert_to_delta
        return convert_to_delta(self.spark, path)

    def optimize_delta(self, dest: str,
                       target_file_bytes: int = 128 * 1024 * 1024,
                       cluster_by: Optional[list] = None,
                       min_files: int = 2) -> dict:
        """Compact a Delta export's small files into ~target-sized
        ones as a dataChange=false commit (CDF/stream readers skip
        it; deletion vectors purge; time travel intact until
        vacuum_delta) — the maintenance companion to mirror_delta's
        many small commits (plans/delta_export.optimize_delta)."""
        from tostore_spark.plans.delta_export import optimize_delta
        return optimize_delta(self.spark, dest,
                              target_file_bytes=target_file_bytes,
                              cluster_by=cluster_by,
                              min_files=min_files)

    def tag_iceberg(self, dest: str, name: str,
                    snapshot_id: Optional[int] = None,
                    kind: str = "tag") -> dict:
        """Create a named branch/tag ref on an Iceberg export —
        read back with read_iceberg(ref=name); expire_snapshots
        retains ref'd snapshots (plans/iceberg.create_ref)."""
        from tostore_spark.plans.iceberg import create_ref
        return create_ref(dest, name, snapshot_id=snapshot_id,
                          kind=kind)

    def rename_iceberg_column(self, dest: str, renames: dict) -> dict:
        """ALTER ... RENAME COLUMN on an Iceberg export — metadata-only
        (field ids are the identity; zero data IO at any size).
        Current reads and changelog ranges surface the new names; time
        travel keeps each snapshot's own names
        (plans/iceberg.rename_iceberg_column)."""
        from tostore_spark.plans.iceberg import rename_iceberg_column
        return rename_iceberg_column(dest, renames)

    def drop_iceberg_column(self, dest: str, columns: list) -> dict:
        """ALTER ... DROP COLUMN on an Iceberg export — metadata-only
        (readers project by field id; data files keep the column
        bytes).  Time travel keeps each snapshot's own columns;
        changelog ranges crossing the drop surface rows under the
        range-END schema (plans/iceberg.drop_iceberg_column)."""
        from tostore_spark.plans.iceberg import drop_iceberg_column
        return drop_iceberg_column(dest, columns)

    def widen_iceberg_column(self, dest: str, changes: dict) -> dict:
        """ALTER ... TYPE (widening) on an Iceberg export —
        metadata-only for spec-legal promotions (int→long,
        float→double, decimal precision widening); old files keep the
        narrow physical type and readers upcast at the scan
        (plans/iceberg.widen_iceberg_column)."""
        from tostore_spark.plans.iceberg import widen_iceberg_column
        return widen_iceberg_column(dest, changes)

    def convert_iceberg_to_delta(self, dest: str) -> dict:
        """In-place catalog of an Iceberg table's current snapshot as
        a Delta table over the SAME files — the reverse-bridge
        direction (Apache XTable's shape): position deletes fold into
        Delta deletion vectors, identity partition values into
        partitionValues; zero data IO (plans/xtable)."""
        from tostore_spark.plans.xtable import convert_iceberg_to_delta
        return convert_iceberg_to_delta(self.spark, dest)

    def sync_iceberg_to_delta(self, dest: str) -> dict:
        """Fold every Iceberg snapshot since the bridged one into an
        incremental Delta commit (appends, deletion-vector deletes,
        dataChange=false compactions, additive/drop/widen schema
        evolution) — the continuous reverse bridge (plans/xtable)."""
        from tostore_spark.plans.xtable import sync_iceberg_to_delta
        return sync_iceberg_to_delta(self.spark, dest)

    def optimize_iceberg(self, dest: str,
                         target_file_bytes: int = 128 * 1024 * 1024,
                         cluster_by: Optional[list] = None,
                         min_files: int = 2) -> dict:
        """Iceberg rewriteDataFiles for exports: bin-pack small data
        files as a ``replace`` snapshot — survivors re-listed as
        EXISTING entries with their original sequence numbers; under
        live merge-on-read deletes the rewrite materializes instead
        (plans/iceberg.rewrite_data_files)."""
        from tostore_spark.plans.iceberg import rewrite_data_files
        return rewrite_data_files(self.spark, dest,
                                  target_file_bytes=target_file_bytes,
                                  cluster_by=cluster_by,
                                  min_files=min_files)

    def vacuum_delta(self, dest: str, keep_versions: int = 1,
                     dry_run: bool = False,
                     retention_sec: float = 0.0) -> dict:
        """Reclaim an ``export_delta`` destination's data files that
        only dead versions reference (plans/delta_export.vacuum_delta;
        the log is never touched, retained versions keep time-
        traveling exactly).  ``retention_sec`` additionally spares
        files younger than the window — Delta's own VACUUM retention
        model, for destinations with concurrent foreign writers."""
        from tostore_spark.plans.delta_export import vacuum_delta as _vd
        return _vd(dest, keep_versions=keep_versions, dry_run=dry_run,
                   retention_sec=retention_sec)

    def iceberg_meta(self, dest: str, kind: str = "snapshots",
                     snapshot_id: Optional[int] = None,
                     as_of_ms: Optional[int] = None,
                     ref: Optional[str] = None):
        """Iceberg METADATA TABLES for an export/foreign table —
        snapshots / history / refs / manifests / files / partitions
        as DataFrames (plans/iceberg.read_iceberg_meta); the
        ``table$snapshots``-style inspection surface.  Manifest-scale
        driver work, never row data."""
        from tostore_spark.plans.iceberg import read_iceberg_meta
        return read_iceberg_meta(self.spark, dest, kind,
                                 snapshot_id=snapshot_id,
                                 as_of_ms=as_of_ms, ref=ref)

    def remove_orphan_files(self, dest: str,
                            older_than_ms: Optional[int] = None,
                            dry_run: bool = False) -> dict:
        """Iceberg removeOrphanFiles for exports: delete data-dir
        parquet no retained snapshot references — crashed-export
        debris (plans/iceberg.remove_orphan_files; refuses on a
        UniForm bridge — use vacuum_delta there)."""
        from tostore_spark.plans.iceberg import remove_orphan_files
        return remove_orphan_files(dest, older_than_ms=older_than_ms,
                                   dry_run=dry_run)

    def delta_history(self, dest: str, limit: Optional[int] = None):
        """DESCRIBE HISTORY for a Delta export/foreign table — one
        row per commit, newest first
        (plans/delta_export.describe_delta_history).  O(log) driver
        metadata, never row data."""
        from tostore_spark.plans.delta_export import \
            describe_delta_history
        return describe_delta_history(self.spark, dest, limit=limit)

    def delta_detail(self, dest: str):
        """DESCRIBE DETAIL for a Delta export/foreign table — one row
        of current-state facts (plans/delta_export.
        describe_delta_detail)."""
        from tostore_spark.plans.delta_export import \
            describe_delta_detail
        return describe_delta_detail(self.spark, dest)

    def export_iceberg(self, table: str, dest: str,
                       mode: str = "error",
                       target_files: Optional[int] = None,
                       allow_decrypted: bool = False,
                       cluster_by: Optional[list] = None,
                       delete_route: str = "auto") -> dict:
        """Export the table's current version as an Apache Iceberg v2
        table (metadata JSON + Avro manifest list/manifests + parquet
        data files with field ids) a foreign Iceberg reader can
        consume — the second open-format interop rung next to
        ``export_delta`` (plans/iceberg).  ``mode='append'`` commits
        the current frame as an additional snapshot;
        ``mode='update'`` commits the NEXT snapshot incrementally
        (append-only extensions add only the delta rows, deletes
        become merge-on-read position-delete files, anything else an
        overwrite snapshot).  ``cluster_by`` range-clusters the staged
        data files so per-file manifest bounds are disjoint — what
        makes bounds-based file skipping effective for readers."""
        from tostore_spark.plans.iceberg import export_iceberg as _ei
        return _ei(self, table, dest, mode=mode,
                   target_files=target_files,
                   allow_decrypted=allow_decrypted,
                   cluster_by=cluster_by,
                   delete_route=delete_route)

    def read_iceberg(self, path: str,
                     snapshot_id: Optional[int] = None,
                     as_of_ms: Optional[int] = None,
                     partition_filter: Optional[dict] = None,
                     where=None, ref: Optional[str] = None) -> DataFrame:
        """Read an external Iceberg v1/v2 table (or an
        ``export_iceberg`` output) — pure-Python Avro manifest
        decoding, field-id column resolution, v2 merge-on-read
        deletes, snapshot time travel (plans/iceberg.read_iceberg).
        ``where`` (the engine predicate language) prunes data files by
        the manifests' column bounds and identity partition values
        BEFORE the scan and re-applies to rows."""
        from tostore_spark.plans.iceberg import read_iceberg
        return read_iceberg(self.spark, path, snapshot_id=snapshot_id,
                            as_of_ms=as_of_ms,
                            partition_filter=partition_filter,
                            where=where, ref=ref)

    def register_iceberg(self, name: str, path: str,
                         snapshot_id: Optional[int] = None,
                         as_of_ms: Optional[int] = None,
                         partition_filter: Optional[dict] = None,
                         where=None,
                         is_global: bool = False) -> None:
        """Register an external Iceberg v1/v2 table (or an
        ``export_iceberg`` output) as a readable source — pure-Python
        Avro manifest decoding, field-id column resolution, v2
        merge-on-read position/equality deletes, snapshot time travel
        (plans/iceberg.read_iceberg).  ``partition_filter`` prunes
        data files at the manifest level (identity transforms) before
        Spark lists them; ``where`` additionally prunes by manifest
        column bounds (see ``read_iceberg``)."""
        from tostore_spark.plans.iceberg import read_iceberg
        df = read_iceberg(self.spark, path, snapshot_id=snapshot_id,
                          as_of_ms=as_of_ms,
                          partition_filter=partition_filter,
                          where=where)
        self.register_table(name, df=df, is_global=is_global)

    def apply_cdf(self, table: str, path: str,
                  to_version: Optional[int] = None,
                  from_version: Optional[int] = None,
                  cursor: bool = True, where=None,
                  on_refuse: str = "raise") -> dict:
        """Subscribe a store table to an external Delta table's CHANGE
        DATA FEED: read the feed from the commit after the last one
        applied (tracked in a KV cursor — KV serializes inside the
        warehouse manifest, so the cursor and the applied rows commit
        in ONE atomic CAS at the next flush: the exactly-once ingest
        composition, same design as the streaming ledger), NET it per
        row multiset (a row inserted then deleted across the range
        never touches the table; update_preimage/postimage count as
        delete/insert), and apply via ``apply_changes``.  Cost ∝ the
        range's change files — never a snapshot diff.

        ``from_version`` seeds the FIRST call for a consumer that
        bootstrapped from an existing snapshot (e.g.
        ``register_delta`` at version N → ``from_version=N+1``);
        without it the first call BOOTSTRAPS by reading the target
        snapshot directly as inserts — O(current state), never an
        O(history) replay, and correct even across checkpoint-
        truncated logs.
        ``where`` (the engine predicate language) makes the
        subscription FILTERED: only matching change rows apply, and
        derivable append commits prune their files by log stats
        before being read — a key-range replica never downloads
        unrelated changes.  A consistent filtered replica requires
        the SAME where on every pull — the cursor records the
        filter's signature and a pull under a CHANGED where raises
        instead of silently diverging the replica.
        The cursor-less bootstrap requires an EMPTY consumer table
        (checked — pure-insert bootstrap cannot remove rows a
        non-empty target holds); seed ``from_version`` to resume a
        pre-populated consumer.
        ``on_refuse="rebootstrap"`` (r17; default ``"raise"``): a
        CURSORED pull whose range the feed cannot derive (vacuumed /
        checkpoint-truncated commits, underivable rewrites) RECOVERS
        instead of raising — the target snapshot nets against the
        replica (two ``exceptAll`` passes, the exact ``table_diff``
        shape) and the cursor resumes at HEAD.  O(state), not
        O(history); cursor-signature (changed-where) errors still
        raise — those are consumer bugs, not history divergence.
        Returns ``{"applied", "from_version", "to_version"}`` —
        ``from_version`` is the range start actually folded (the
        first log version on bootstrap)."""
        import os as _os

        from pyspark.sql import functions as F

        from tostore_spark.plans.delta_export import read_delta_cdf
        if on_refuse not in ("raise", "rebootstrap"):
            raise ValueError(
                f"on_refuse must be 'raise'|'rebootstrap', "
                f"got {on_refuse!r}")
        p = path[len("file:"):] if path.startswith("file:") else path
        log_dir = _os.path.join(p, "_delta_log")
        versions = sorted(
            int(f[:-5]) for f in _os.listdir(log_dir)
            if f.endswith(".json") and f[:-5].isdigit())
        if not versions:
            raise FileNotFoundError(f"no delta commits under {p}")
        latest = versions[-1]
        to = latest if to_version is None else int(to_version)
        ckey = (f"__cdf_cursor__:{self._space}:{table}:"
                f"{_os.path.abspath(p)}")
        wsig = self._where_sig(where)
        last = self._cursor_read(ckey, wsig) if cursor else None
        if last is not None:
            frm = int(last) + 1
        elif from_version is not None:
            frm = int(from_version)
        else:
            frm = None                       # bootstrap
        if frm is not None and frm > to:
            return {"applied": 0, "from_version": frm, "to_version": to}
        if frm is None:
            # BOOTSTRAP fast path: the netted replay of every commit
            # up to ``to`` IS the snapshot's live state — read it
            # directly as inserts.  O(current state) instead of
            # O(history), correct even when the early log was
            # checkpoint-truncated or predates CDF enablement, and
            # ``where=`` prunes files through the same log stats.
            # Pure-insert bootstrap equals the netted full replay ONLY
            # when the consumer starts EMPTY (a replay would also
            # delete historically-removed rows already present in a
            # non-empty target) — the precondition is CHECKED, not
            # assumed.
            from pyspark.sql import functions as _F

            from tostore_spark.plans.delta_export import read_delta
            self._require_empty_bootstrap_target(table, "from_version")
            feed = (read_delta(self.spark, p, version=to, where=where)
                    .withColumn("_change_type", _F.lit("insert")))
            frm_rep = versions[0]
        else:
            try:
                feed = read_delta_cdf(self.spark, p, frm, to,
                                      where=where)
            except ValueError:
                if on_refuse != "rebootstrap":
                    raise
                from tostore_spark.plans.delta_export import read_delta
                feed = self._rebootstrap_diff_feed(
                    table, read_delta(self.spark, p, version=to,
                                      where=where))
            frm_rep = frm
        n = self._apply_net_feed(table, feed)
        if cursor:
            self._cursor_write(ckey, int(to), wsig)
        return {"applied": int(n), "from_version": frm_rep,
                "to_version": to}

    def _rebootstrap_diff_feed(self, table: str, target_df):
        """Recovery feed for ``on_refuse="rebootstrap"``: NET the
        source's current (filtered) state against the replica — two
        ``exceptAll`` passes, the exact ``table_diff`` fallback shape.
        Exact at multiset granularity and O(state), never O(history);
        a schema drift between replica and source still raises (the
        consumer must migrate first)."""
        from pyspark.sql import functions as F
        cur = self.df(table)
        cols = sorted(cur.columns)
        if sorted(target_df.columns) != cols:
            raise ValueError(
                f"rebootstrap column mismatch: replica {cols} vs "
                f"source {sorted(target_df.columns)} — migrate the "
                "consumer schema, then retry")
        cur = cur.select(*cols)
        tgt = target_df.select(*cols)
        ins = (tgt.exceptAll(cur)
               .withColumn("_change_type", F.lit("insert")))
        dele = (cur.exceptAll(tgt)
                .withColumn("_change_type", F.lit("delete")))
        return ins.unionByName(dele)

    def _require_empty_bootstrap_target(self, table: str,
                                        seed_param: str) -> None:
        """The cursor-less bootstrap fast path applies the source
        snapshot as PURE INSERTS — equivalent to the netted full
        replay only over an empty consumer table.  Shared guard for
        ``apply_cdf`` / ``apply_iceberg_changes``: metadata-count
        first (zero Spark jobs on a clean table), an ``isEmpty``
        probe otherwise."""
        n0 = self.stats_count(table)
        empty = (n0 == 0) if n0 is not None \
            else self.df(table).isEmpty()
        if not empty:
            raise ValueError(
                f"bootstrap requires an EMPTY consumer table, but "
                f"{table!r} has rows — pure-insert bootstrap would "
                "leave historically-deleted rows in place.  Resume "
                f"with {seed_param}= (the snapshot the table was "
                "bootstrapped from), or clear the table first")

    def _where_sig(self, where) -> Optional[str]:
        """Stable signature of a subscription filter (ConditionNode
        plain-map IR, sha256-prefixed) — None for unfiltered."""
        import hashlib
        import json as _json

        from tostore_spark.condition import to_condition_node
        node = to_condition_node(where)
        if node is None or node.is_empty():
            return None
        return hashlib.sha256(
            _json.dumps(node.simplify().to_map(), sort_keys=True,
                        default=str).encode()).hexdigest()[:16]

    def _cursor_read(self, ckey: str, wsig: Optional[str]):
        """Read a subscription cursor, REFUSING a filter change: the
        cursor records the where-signature it was written under, and
        resuming it with a different filter would silently diverge
        the replica (rows matching only the old filter stay stale
        forever).  Returns the cursor value or None."""
        raw = self.kv.get_value(ckey)
        if raw is None:
            return None
        if isinstance(raw, dict) and "v" in raw:
            if raw.get("w") != wsig:
                raise ValueError(
                    "subscription filter changed: the cursor for "
                    f"{ckey!r} was written under a different where — "
                    "resume with the original filter, or rebuild the "
                    "consumer (clear the table and cursor, or pass "
                    "cursor=False for a one-off pull)")
            return raw["v"]
        # pre-filter-hash integer cursor: only an UNFILTERED
        # subscription may resume it (a legacy filtered cursor is
        # indistinguishable from an unfiltered one)
        if wsig is not None:
            raise ValueError(
                f"cursor {ckey!r} predates filter hashing — clear it "
                "(or pass cursor=False) before resuming a FILTERED "
                "subscription")
        return raw

    def _cursor_write(self, ckey: str, value,
                      wsig: Optional[str]) -> None:
        self.kv.set_value(ckey, {"v": value, "w": wsig})

    def _apply_net_feed(self, table: str, feed) -> int:
        """NET a change feed per row multiset (a row inserted then
        deleted across the range never touches the table;
        update_preimage/postimage count as delete/insert) and apply
        via ``apply_changes`` — the shared fold behind ``apply_cdf``
        (Delta) and ``apply_iceberg_changes``."""
        from pyspark.sql import functions as F
        cols = [c for c in feed.columns
                if c not in ("_change_type", "_commit_version",
                             "_commit_timestamp",
                             "_commit_snapshot_id")]
        sign = (F.when(F.col("_change_type")
                       .isin("insert", "update_postimage"), F.lit(1))
                .when(F.col("_change_type")
                      .isin("delete", "update_preimage"), F.lit(-1)))
        bad = (feed.filter(sign.isNull())
               .select("_change_type").limit(1).collect())
        if bad:
            raise ValueError(
                f"unknown _change_type {bad[0][0]!r} in the feed — "
                "silently dropping it would corrupt the net change")
        net = (feed.withColumn("__s", sign)
               .groupBy(*cols).agg(F.sum("__s").alias("__c"))
               .filter(F.col("__c") != 0))
        changes = (net
                   .withColumn("change",
                               F.when(F.col("__c") > 0,
                                      F.lit("insert"))
                               .otherwise(F.lit("delete")))
                   .withColumn("__x", F.explode(F.expr(
                       "sequence(1, abs(__c))")))
                   .select(*cols, "change"))
        return int(self.apply_changes(table, changes))

    def start_cdf_sync(self, table: str, path: str,
                       interval_s: float = 5.0,
                       from_version: Optional[int] = None,
                       where=None) -> None:
        """Continuously replicate an external Delta table's CHANGE
        DATA FEED into ``table``: a daemon thread polls the feed every
        ``interval_s`` and applies new commits via ``apply_cdf``
        (KV-cursor exactly-once, netting across each pull) — live
        replication FROM a foreign writer, the consumer twin of
        ``mirror_delta``.  Poll errors land on
        ``engine.last_cdf_sync_error`` and polling continues (a
        transient reader failure must not kill replication).  One sync
        per (table, path); ``stop_cdf_sync()`` ends it.  The applied
        rows become durable at this engine's next flush, atomically
        with the cursor."""
        import threading

        self.stop_cdf_sync(table, path)
        self.last_cdf_sync_error: Optional[tuple] = None
        key = (self._resolve(table), os.path.abspath(
            path[len("file:"):] if path.startswith("file:") else path))
        stop = threading.Event()

        def _loop():
            while not stop.wait(interval_s):
                try:
                    # the seed is passed EVERY tick: apply_cdf prefers
                    # the KV cursor once one exists, and a tick that
                    # applied nothing must not burn the seed (the
                    # next tick would fall back to the earliest
                    # commit and re-apply the bootstrap snapshot)
                    self.apply_cdf(table, path,
                                   from_version=from_version,
                                   where=where)
                    self.last_cdf_sync_error = None
                except Exception as exc:   # pragma: no cover - timing
                    self.last_cdf_sync_error = (table, str(exc))

        t = threading.Thread(target=_loop, daemon=True,
                             name=f"cdf-sync-{key[0][1]}")
        if not hasattr(self, "_cdf_syncs"):
            self._cdf_syncs = {}
        self._cdf_syncs[key] = (stop, t)
        t.start()

    def stop_cdf_sync(self, table: Optional[str] = None,
                      path: Optional[str] = None) -> int:
        """Stop CDF sync daemons — the one for (table, path), all for
        ``table``, or all.  Returns the number stopped."""
        syncs = getattr(self, "_cdf_syncs", {}) or {}
        if table is not None:
            tkey = self._resolve(table)
            pabs = None
            if path is not None:
                p = path[len("file:"):] if path.startswith("file:") \
                    else path
                pabs = os.path.abspath(p)
            doomed = [k for k in syncs
                      if k[0] == tkey and (pabs is None
                                           or k[1] == pabs)]
        else:
            doomed = list(syncs)
        for k in doomed:
            stop, t = syncs.pop(k)
            stop.set()
        return len(doomed)

    def mirror_iceberg(self, table: str, dest: str,
                       allow_decrypted: bool = False,
                       bridge_delta: bool = False) -> dict:
        """Continuously materialize ``table`` as an Iceberg v2 table —
        the Iceberg twin of ``mirror_delta``: an initial snapshot runs
        now, and EVERY subsequent ``flush()`` auto-commits the next
        incremental snapshot (appends as add-only, deletes as
        merge-on-read position-delete files, anything else as an
        overwrite snapshot).  Post-commit and best-effort: a mirror
        failure never un-commits the flush; it lands in
        ``engine.last_mirror_error`` and the next flush heals with an
        overwrite snapshot.  Engine-local (re-register after reopen).

        ``bridge_delta=True`` runs the continuous REVERSE bridge
        (plans/xtable): after the initial snapshot the destination is
        ALSO converted to Delta (``convert_iceberg_to_delta``) and
        every later mirror flush folds its snapshots into incremental
        Delta commits (``sync_iceberg_to_delta``) — one directory,
        both formats always current, the mirror twin of
        ``mirror_delta(bridge_iceberg=True)``.  Pure-delete flushes
        then take the POSITION-delete route (not equality deletes —
        the only kind Delta deletion vectors can express), trading
        the eqdel tier's zero-probe write for bridgeability."""
        key = self._resolve(table)
        if not hasattr(self, "_iceberg_mirrors"):
            self._iceberg_mirrors = {}
        self._iceberg_mirrors[key] = {
            "dest": dest, "allow_decrypted": bool(allow_decrypted),
            "bridge": bool(bridge_delta)}
        from tostore_spark.plans.iceberg import export_iceberg as _ei
        rep = _ei(self, table, dest, mode="update",
                  allow_decrypted=allow_decrypted,
                  delete_route="position" if bridge_delta else "auto")
        if bridge_delta:
            from tostore_spark.plans.xtable import (
                convert_iceberg_to_delta, sync_iceberg_to_delta)
            p = dest[len("file:"):] if dest.startswith("file:") \
                else dest
            log_dir = os.path.join(p, "_delta_log")
            if os.path.isdir(log_dir) and os.listdir(log_dir):
                rep["bridge"] = sync_iceberg_to_delta(self.spark, p)
            else:
                rep["bridge"] = convert_iceberg_to_delta(self.spark, p)
        return rep

    def rewrite_iceberg_manifests(self, dest: str,
                                  min_count_to_merge: int = 2) -> dict:
        """Iceberg rewriteManifests for exports/bridges: consolidate
        the stacked per-commit manifests into one per (content, spec)
        group — EXISTING entries re-emitted verbatim with their
        original sequence numbers, zero data IO
        (plans/iceberg.rewrite_manifests)."""
        from tostore_spark.plans.iceberg import rewrite_manifests
        return rewrite_manifests(dest,
                                 min_count_to_merge=min_count_to_merge)

    def expire_iceberg_snapshots(self, dest: str, keep_last: int = 1,
                                 dry_run: bool = False) -> dict:
        """Iceberg ``expireSnapshots`` for an ``export_iceberg``
        destination: atomically drop all but the newest ``keep_last``
        snapshots and reclaim the files only they referenced; retained
        snapshots keep time-traveling exactly
        (plans/iceberg.expire_snapshots)."""
        from tostore_spark.plans.iceberg import expire_snapshots
        return expire_snapshots(dest, keep_last=keep_last,
                                dry_run=dry_run)

    def unmirror_iceberg(self, table: str) -> bool:
        """Stop auto-exporting ``table`` to its Iceberg mirror (the
        destination keeps its snapshots)."""
        key = self._resolve(table)
        return (getattr(self, "_iceberg_mirrors", {}) or {}) \
            .pop(key, None) is not None

    def read_iceberg_changes(self, path: str,
                             from_snapshot: Optional[int] = None,
                             to_snapshot: Optional[int] = None,
                             where=None) -> DataFrame:
        """Read an Iceberg table's INCREMENTAL CHANGELOG — the
        consumer interface ``read_delta_cdf`` gives Delta tables:
        every row is a change tagged ``_change_type`` (insert/delete),
        ``_commit_snapshot_id``, ``_commit_version`` (sequence
        number) and ``_commit_timestamp``.  ``from_snapshot`` is
        EXCLUSIVE (the subscriber's cursor), ``to_snapshot`` inclusive
        (None = current).  Appends derive inserts from added files;
        merge-on-read delete snapshots derive exact delete pre-images;
        compactions contribute nothing; true rewrites refuse.  Cost ∝
        the range's touched files — never a snapshot diff
        (plans/iceberg.read_iceberg_changes)."""
        from tostore_spark.plans.iceberg import read_iceberg_changes
        return read_iceberg_changes(self.spark, path,
                                    from_snapshot=from_snapshot,
                                    to_snapshot=to_snapshot,
                                    where=where)

    def apply_iceberg_changes(self, table: str, path: str,
                              to_snapshot: Optional[int] = None,
                              from_snapshot: Optional[int] = None,
                              cursor: bool = True,
                              where=None,
                              on_refuse: str = "raise") -> dict:
        """Subscribe a store table to an external Iceberg table's
        changelog — the Iceberg twin of ``apply_cdf``: fold the
        changes AFTER the last applied snapshot (KV cursor — cursor
        and applied rows commit in ONE atomic CAS at the next flush),
        NET them per row multiset, and apply via ``apply_changes``.

        ``from_snapshot`` (exclusive) seeds the FIRST call for a
        consumer that bootstrapped from an existing snapshot
        (``read_iceberg(snapshot_id=N)`` → ``from_snapshot=N``);
        without it the first call BOOTSTRAPS by reading the target
        snapshot directly as inserts — O(current state), never an
        O(history) fold, and it works across rewrites the changelog
        refuses to derive.  ``where`` makes the subscription FILTERED —
        matching change rows only, derivable appends pruned by
        manifest bounds; keep it IDENTICAL across pulls — the cursor
        records the filter's signature and a pull under a CHANGED
        where raises instead of silently diverging the replica.
        The cursor-less bootstrap requires an EMPTY consumer table
        (checked — pure-insert bootstrap cannot remove rows a
        non-empty target holds); seed ``from_snapshot`` to resume a
        pre-populated consumer.
        ``on_refuse="rebootstrap"`` (r17; default ``"raise"``): a
        CURSORED pull whose range the changelog cannot derive
        (rewrites/refreshes, expired parents) RECOVERS — the target
        snapshot nets against the replica (two ``exceptAll`` passes)
        and the cursor resumes at HEAD.  O(state), not O(history).
        Returns ``{"applied", "from_snapshot", "to_snapshot"}`` —
        ``from_snapshot`` is the range start actually folded (the
        ancestry-root snapshot on bootstrap, matching the Delta
        twin's ``versions[0]``)."""
        import os as _os

        from tostore_spark.plans.iceberg import (_load_metadata,
                                                 _norm_path,
                                                 read_iceberg_changes)
        if on_refuse not in ("raise", "rebootstrap"):
            raise ValueError(
                f"on_refuse must be 'raise'|'rebootstrap', "
                f"got {on_refuse!r}")
        p = _norm_path(path)
        meta = _load_metadata(p)
        cur = meta.get("current-snapshot-id")
        if cur is None:
            raise ValueError(f"{p} has no current snapshot")
        to = int(cur) if to_snapshot is None else int(to_snapshot)
        ckey = (f"__ice_cdf_cursor__:{self._space}:{table}:"
                f"{_os.path.abspath(p)}")
        wsig = self._where_sig(where)
        last = self._cursor_read(ckey, wsig) if cursor else None
        if last is not None:
            frm = int(last)
        elif from_snapshot is not None:
            frm = int(from_snapshot)
        else:
            frm = None
        if frm is not None and frm == to:
            return {"applied": 0, "from_snapshot": frm,
                    "to_snapshot": to}
        if frm is None:
            # BOOTSTRAP fast path: the netted full-history changelog
            # fold IS the target snapshot's live state — read it
            # directly as inserts.  O(current state) instead of
            # O(history): no pre-image probes, no long-chain fold,
            # and it works across rewrites/refreshes the changelog
            # rightly refuses to derive; ``where=`` prunes at the
            # manifest level.  Incremental pulls (a cursor or
            # from_snapshot) stay on the exact changelog.
            from pyspark.sql import functions as _F

            from tostore_spark.plans.iceberg import read_iceberg
            self._require_empty_bootstrap_target(table,
                                                 "from_snapshot")
            # snapshot_id=None for a current-head bootstrap: the read
            # then binds the CURRENT schema, so a metadata-only rename
            # after the last snapshot surfaces (an explicit
            # to_snapshot keeps that snapshot's own schema)
            feed = (read_iceberg(
                self.spark, p,
                snapshot_id=None if to_snapshot is None else to,
                where=where)
                .withColumn("_change_type", _F.lit("insert")))
            # report the range actually covered (the Delta twin
            # reports versions[0]): the bootstrap folds everything
            # from the ancestry ROOT up to ``to``
            snaps = {s["snapshot-id"]: s
                     for s in meta.get("snapshots") or []}
            frm_rep, node = to, snaps.get(to)
            while node is not None:
                frm_rep = node["snapshot-id"]
                node = snaps.get(node.get("parent-snapshot-id"))
        else:
            try:
                feed = read_iceberg_changes(self.spark, p,
                                            from_snapshot=frm,
                                            to_snapshot=to,
                                            where=where)
            except ValueError:
                if on_refuse != "rebootstrap":
                    raise
                from tostore_spark.plans.iceberg import read_iceberg
                feed = self._rebootstrap_diff_feed(
                    table, read_iceberg(
                        self.spark, p,
                        snapshot_id=None if to_snapshot is None
                        else to, where=where))
            frm_rep = frm
        n = self._apply_net_feed(table, feed)
        if cursor:
            self._cursor_write(ckey, int(to), wsig)
        return {"applied": int(n), "from_snapshot": frm_rep,
                "to_snapshot": to}

    def start_iceberg_sync(self, table: str, path: str,
                           interval_s: float = 5.0,
                           from_snapshot: Optional[int] = None,
                           where=None) -> None:
        """Continuously replicate an external Iceberg table's
        changelog into ``table`` — the Iceberg twin of
        ``start_cdf_sync``: a daemon thread polls every ``interval_s``
        and applies new snapshots via ``apply_iceberg_changes``
        (KV-cursor exactly-once, netting per pull).  Poll errors land
        on ``engine.last_iceberg_sync_error`` and polling continues.
        One sync per (table, path); ``stop_iceberg_sync()`` ends
        it."""
        import threading

        self.stop_iceberg_sync(table, path)
        self.last_iceberg_sync_error: Optional[tuple] = None
        key = (self._resolve(table), os.path.abspath(
            path[len("file:"):] if path.startswith("file:") else path))
        stop = threading.Event()

        def _loop():
            while not stop.wait(interval_s):
                try:
                    # the seed passes EVERY tick — apply_iceberg_changes
                    # prefers the KV cursor once one exists, and a tick
                    # that applied nothing must not burn the seed
                    self.apply_iceberg_changes(
                        table, path, from_snapshot=from_snapshot,
                        where=where)
                    self.last_iceberg_sync_error = None
                except Exception as exc:   # pragma: no cover - timing
                    self.last_iceberg_sync_error = (table, str(exc))

        t = threading.Thread(target=_loop, daemon=True,
                             name=f"ice-sync-{key[0][1]}")
        if not hasattr(self, "_ice_syncs"):
            self._ice_syncs = {}
        self._ice_syncs[key] = (stop, t)
        t.start()

    def stop_iceberg_sync(self, table: Optional[str] = None,
                          path: Optional[str] = None) -> int:
        """Stop Iceberg changelog sync daemons — the one for (table,
        path), all for ``table``, or all.  Returns the number
        stopped."""
        syncs = getattr(self, "_ice_syncs", {}) or {}
        if table is not None:
            tkey = self._resolve(table)
            pabs = None
            if path is not None:
                pp = path[len("file:"):] if path.startswith("file:") \
                    else path
                pabs = os.path.abspath(pp)
            doomed = [k for k in syncs
                      if k[0] == tkey and (pabs is None
                                           or k[1] == pabs)]
        else:
            doomed = list(syncs)
        for k in doomed:
            stop, t = syncs.pop(k)
            stop.set()
        return len(doomed)

    def analyze_table(self, table: str, cols=None,
                      exact_ndv: bool = False):
        """One-pass column statistics (rows, nulls, ndv, min/max) for
        planning decisions (broadcastability, skew, z-order candidates);
        cached per table generation."""
        from tostore_spark.plans.stats import analyze_table as _an
        return _an(self, table, cols=cols, exact_ndv=exact_ndv)

    def histogram(self, table: str, col: str, n_buckets: int = 10,
                  exact: bool = True):
        """Equi-height histogram of one numeric column — see
        plans/stats.column_histogram (``exact=False`` = approx bounds,
        the constant-memory form for huge tables)."""
        from tostore_spark.plans.stats import column_histogram
        return column_histogram(self.df(table), col, n_buckets=n_buckets,
                                exact=exact)

    def column_corr(self, table: str, cols):
        """Pairwise Pearson correlations from exact DECIMAL moments —
        see plans/stats.column_corr."""
        from tostore_spark.plans.stats import column_corr as _cc
        return _cc(self.df(table), cols)

    def join_advice(self, left: str, right: str, key, **kw) -> dict:
        """Stats-driven join strategy (broadcast / salt / shuffle, with
        a bloom-prefilter hint) — see plans/stats.join_advice."""
        from tostore_spark.plans.stats import join_advice as _ja
        return _ja(self, left, right, key, **kw)

    def validate(self, table: str, rules: list):
        """Data-quality rule report (plans/validate.validate_table):
        row rules fold into one single-scan aggregate; unique/fk rules
        add one hash-agg / joined count each."""
        from tostore_spark.plans.validate import validate_table
        return validate_table(self.df(table), rules)

    def resample(self, table: str, partition: str, ts_field: str,
                 value: str, interval_s: int, fill="ffill"):
        """Per-entity regular-grid resample with gap fill — see
        functions/timeseries.resample."""
        from tostore_spark.functions.timeseries import resample as _rs
        return _rs(self.df(table), partition, ts_field, value,
                   interval_s, fill=fill)

    def top_k_per_group(self, table: str, group, order, k: int, **kw):
        """Top-k rows per group (WindowGroupLimit shape) — see
        functions/ranking.top_k_per_group."""
        from tostore_spark.functions.ranking import top_k_per_group as _tk
        return _tk(self.df(table), group, order, k, **kw)

    def rolling_active(self, table: str, ts_field: str, entity: str,
                       window_days: int = 7):
        """Sliding exact count-distinct per day (WAU/MAU) — see
        functions/timeseries.rolling_distinct."""
        from tostore_spark.functions.timeseries import rolling_distinct
        return rolling_distinct(self.df(table), ts_field, entity,
                                window_days=window_days)

    def drift_report(self, ref_table: str, cur_table: str, col: str,
                     n_buckets: int = 10):
        """PSI distribution drift between two table snapshots — see
        plans/stats.drift_report."""
        from tostore_spark.plans.stats import drift_report
        return drift_report(self.df(ref_table), self.df(cur_table),
                            col, n_buckets=n_buckets)

    def seasonal_decompose(self, table: str, partition: str, order: str,
                           value: str, period: int = 7):
        """Classical additive trend/seasonal/resid per entity series —
        see functions/timeseries.seasonal_decompose."""
        from tostore_spark.functions.timeseries import seasonal_decompose
        return seasonal_decompose(self.df(table), partition, order,
                                  value, period=period)

    def fuzzy_match(self, left: str, right: str, left_field: str,
                    right_field=None, max_dist: int = 2, **kw):
        """Levenshtein entity-resolution join between two tables — see
        joins.fuzzy_join (positional-prefix block by default — LOSSY:
        an edit inside the first 2 chars escapes; lossless length band
        as refinement; ``blocking='length'`` for the exact-recall
        mode)."""
        from tostore_spark.joins import fuzzy_join
        return fuzzy_join(self.df(left), self.df(right), left_field,
                          right_field=right_field, max_dist=max_dist,
                          **kw)

    def top_terms(self, table: str, top_n: int = 3, **kw):
        """Per-document TF-IDF keywords — see
        llmops/search.tfidf_top_terms."""
        from tostore_spark.llmops.search import tfidf_top_terms
        return tfidf_top_terms(self.df(table), top_n=top_n, **kw)

    def similar_documents(self, table: str, k: int = 20, **kw):
        """Top-k document pairs by sparse TF-IDF cosine — see
        llmops/search.tfidf_similar_pairs (token-blocked, df-capped)."""
        from tostore_spark.llmops.search import tfidf_similar_pairs
        return tfidf_similar_pairs(self.df(table), k=k, **kw)

    def optimize_table(self, table: str, target_partitions: int = 8,
                       zorder=None) -> list[str]:
        """Layout-only rewrite (same rows): compact to
        ``target_partitions`` files and, with ``zorder`` columns,
        cluster rows so parquet min/max stats prune on every clustering
        dimension.  Flushes as the next version via the per-table CAS
        (time travel / vacuum apply unchanged)."""
        from tostore_spark.plans.layout import optimize_table as _opt
        return _opt(self, table, target_partitions=target_partitions,
                    zorder=zorder)

    def unpin_versions(self) -> int:
        """Release every version pinned by ``df_at`` so vacuum may prune
        them; any still-live time-travel frame over a pruned version will
        fail on its next action.  Returns the number of pins released."""
        n = len(getattr(self, "_pinned_versions", ()))
        self._pinned_versions = set()
        return n

    def table_versions(self, table: str) -> list[int]:
        """Flushed generations on disk for a table (ascending)."""
        from tostore_spark import store as _store
        return _store.list_versions(self, table, space=self._resolve(table)[0])

    def df_at(self, table: str, version: int) -> DataFrame:
        """Time-travel read: the table as of flushed generation
        ``version`` (history persists until vacuum())."""
        from tostore_spark import store as _store
        return _store.read_version(self, table, version,
                                   space=self._resolve(table)[0])

    def close(self, keep_active_space: bool = True) -> None:
        """Release engine-held resources: result cache, vector indexes,
        watchers; with keep_active_space=False, drop every table outside
        the current space too (tostore.dart:1046)."""
        if getattr(self, "_query_cache", None):
            self._query_cache.clear()
        if hasattr(self, "_vector_indexes"):
            self._vector_indexes.clear()
        if hasattr(self, "_watchers"):
            self._watchers.clear()
        self.stop_remote_watch()
        if not keep_active_space:
            for key in [k for k in self._tables
                        if k[0] not in (self._space, "global")]:
                del self._tables[key]
                self._generations.pop(key, None)
                self._append_deltas.pop(key, None)
                self._delete_deltas.pop(key, None)

    def delete_database(self) -> None:
        """Drop everything: all spaces, tables, KV state, caches
        (tostore.dart:1069)."""
        self._tables.clear()
        self._generations.clear()
        self._append_deltas.clear()
        self._delete_deltas.clear()
        if hasattr(self, "_kv"):
            self._kv.restore({})
        if hasattr(self, "_spaces"):
            self._spaces = {"default"}
        self._space = "default"
        self.close()

    @property
    def status(self) -> dict:
        """Unified diagnostics (tostore.dart:1168 DbStatus)."""
        cache = getattr(self, "_query_cache", None)
        return {
            "current_space": self._space,
            "spaces": self.list_spaces(),
            "tables": self.table_names(),
            "generations": {f"{sp}.{n}": g
                            for (sp, n), g in self._generations.items()},
            "query_cache": ({"hits": cache.hits, "misses": cache.misses}
                            if cache else None),
            "vector_indexes": sorted(
                ".".join(str(p) for p in key)
                for key in getattr(self, "_vector_indexes", {})),
            "migration_tasks": len(getattr(self, "_migration_tasks", {})),
            "version": self.get_version(),
        }

    @property
    def config(self) -> dict:
        return {
            "default_query_limit": self.default_query_limit,
            "max_query_offset": self.max_query_offset,
            "eager_mutation_counts": self.eager_mutation_counts,
            "compact_every": self.compact_every,
            "space": self._space,
        }

    @property
    def instance_path(self) -> Optional[str]:
        return getattr(self, "_data_dir", None)

    # ---- query --------------------------------------------------------
    def query(self, table: str) -> QueryBuilder:
        return QueryBuilder(self, table)

    def stream_query(self, table: str) -> QueryBuilder:
        """Chainable per-record pull stream (tostore.dart:427): same chain
        as query(); terminal .stream() iterates partition-by-partition."""
        return QueryBuilder(self, table)

    def update_schema(self, table: str):
        """Name-parity alias for schema_builder (tostore.dart:1098)."""
        return self.schema_builder(table)

    @property
    def query_cache(self):
        """Result cache w/ generation invalidation (query_executor.dart:
        34-50); enabled by default like the reference's 50MB TreeCache."""
        if not hasattr(self, "_query_cache"):
            from tostore_spark.plans.query_cache import QueryResultCache
            self._query_cache = QueryResultCache()
        return self._query_cache

    def enable_query_cache(self, enabled: bool = True,
                           max_bytes: int = 50 * 1024 * 1024) -> None:
        from tostore_spark.plans.query_cache import QueryResultCache
        self._query_cache = QueryResultCache(max_bytes=max_bytes) if enabled else None

    def sql(self, text: str) -> DataFrame:
        """Escape hatch: register current tables as temp views and run SQL.
        Inside a serializable transaction every visible table is recorded
        as a WHOLE-TABLE read (the SQL text could reference any of the
        views) — the same read-set discipline as raw ``df()``."""
        for (sp, n), ent in self._tables.items():
            if sp in (self._space, "global"):
                if getattr(self, "_txn_read_versions", None) is not None:
                    self._df_at_key((sp, n))     # record the read
                ent["df"].createOrReplaceTempView(n)
        return self.spark.sql(text)

    # ---- writes (write.py) --------------------------------------------
    def insert(self, table: str, data: dict) -> None:
        from tostore_spark import write
        write.insert(self, table, [data])

    def batch_insert(self, table: str, rows: list[dict],
                     allow_partial_errors: bool = False):
        """Batch insert; with allow_partial_errors good rows are accepted
        and bad rows come back in the BatchResult error manifest
        (data_store_impl.dart:3968+)."""
        from tostore_spark import write
        return write.insert(self, table, rows,
                            allow_partial_errors=allow_partial_errors)

    def update(self, table: str, data: Optional[dict] = None):
        """Update builder; optional initial payload accumulates until
        execute() (tostore.dart:562-568)."""
        from tostore_spark.write import UpdateBuilder
        return UpdateBuilder(self, table, data)

    def delete(self, table: str):
        from tostore_spark.write import DeleteBuilder
        return DeleteBuilder(self, table)

    def upsert(self, table: str, data: dict) -> None:
        from tostore_spark import write
        write.upsert(self, table, [data])

    def batch_upsert(self, table: str, rows: list[dict], exprs=None) -> None:
        from tostore_spark import write
        write.upsert(self, table, rows, exprs=exprs)

    def batch_update(self, table: str, rows: list[dict],
                     continue_on_partial_errors: bool = False) -> int:
        """Partial update per record carrying its PK (batchUpdate,
        data_store_impl.dart:4907+)."""
        from tostore_spark import write
        return write.batch_update(
            self, table, rows,
            continue_on_partial_errors=continue_on_partial_errors)

    # ---- transactions (transaction.py) --------------------------------
    def transaction(self, action=None, rollback_on_error: bool = True,
                    retries: Optional[int] = None,
                    isolation: str = "snapshot"):
        """Atomic multi-write scope (tostore.dart:860-868): context-manager
        form when called without an action, callback form otherwise.
        With ``retries`` (warehouse engines only) the callback commits via
        flush and auto-retries concurrent-writer losses on a refreshed
        snapshot — the optimistic analog of the reference's SSI retry
        (transaction_manager.dart:17-50).  ``isolation='serializable'``
        (with ``retries``) additionally tracks the action's READ-set at
        (table, manifest-version) granularity and aborts the later
        committer on write-skew (see transaction.py)."""
        from tostore_spark import transaction as tx
        if action is None:
            if retries is not None:
                raise ValueError(
                    "retries requires the callback form: the action must "
                    "re-execute on a refreshed snapshot")
            if isolation != "snapshot":
                raise ValueError(
                    "serializable isolation requires the callback-with-"
                    "retries form: the read-set validates at the flush "
                    "commit point")
            return tx.transaction(self, rollback_on_error=rollback_on_error)
        if retries is not None:
            return tx.run_transaction_with_retry(
                self, action, retries=retries,
                rollback_on_error=rollback_on_error, isolation=isolation)
        if isolation != "snapshot":
            raise ValueError(
                "serializable isolation requires retries= (the flush "
                "commit point): transaction(action, retries=N, "
                "isolation='serializable')")
        return tx.run_transaction(self, action, rollback_on_error=rollback_on_error)

    # ---- schema evolution / backup / batch export ---------------------
    def schema_builder(self, table: str):
        """Chained schema migrations (schema_builder.dart:16-258)."""
        from tostore_spark.plans.schema_builder import SchemaBuilder
        return SchemaBuilder(self, table)

    def _register_migration(self, record: dict) -> str:
        if not hasattr(self, "_migration_tasks"):
            self._migration_tasks: dict[str, dict] = {}
        task_id = f"mig_{len(self._migration_tasks) + 1}"
        record["task_id"] = task_id
        self._migration_tasks[task_id] = record
        return task_id

    def query_migration_task_status(self, task_id: str) -> Optional[dict]:
        """Migration task record or None (tostore.dart:1119; migrations run
        synchronously here, so finished tasks report 'completed')."""
        return getattr(self, "_migration_tasks", {}).get(task_id)

    def backup(self, backup_dir: str, include_global: bool = True) -> str:
        from tostore_spark import backup as bk
        return bk.backup(self, backup_dir, include_global=include_global)

    def restore(self, backup_dir: str, space: Optional[str] = None) -> list[str]:
        from tostore_spark import backup as bk
        return bk.restore(self, backup_dir, space=space)

    def query_each_batch(self, table: str, batch_size: int = 1000, **kw):
        """Resumable cursor-checkpointed batch export
        (query_executor.dart:3393-3492)."""
        from tostore_spark.plans.batch_export import query_each_batch
        return query_each_batch(self.query(table), batch_size=batch_size, **kw)

    # ---- KV namespace (kv.py) -----------------------------------------
    @property
    def kv(self):
        from tostore_spark.kv import KvStore
        if not hasattr(self, "_kv"):
            self._kv = KvStore(self)
        return self._kv

    # facade-level KV methods, name-for-name with the reference
    # (tostore.dart:706-803) — thin delegates to the KvStore
    def set_value(self, key: str, value, is_global: bool = False,
                  ttl_ms: Optional[int] = None):
        return self.kv.set_value(key, value, is_global=is_global,
                                 ttl_ms=ttl_ms)

    def get_value(self, key: str, is_global: bool = False):
        return self.kv.get_value(key, is_global=is_global)

    def remove_value(self, key: str, is_global: bool = False):
        return self.kv.remove_value(key, is_global=is_global)

    def watch_value(self, key: str, callback, is_global: bool = False,
                    **kw):
        return self.kv.watch_value(key, callback, is_global=is_global, **kw)

    def watch_values(self, keys: list[str], callback,
                     is_global: bool = False, **kw):
        return self.kv.watch_values(keys, callback, is_global=is_global,
                                    **kw)

    @classmethod
    def initialize(cls, spark: SparkSession, **kw) -> "ToStoreSpark":
        """Name parity with the reference's async factory
        (tostore.dart initialize); construction here is synchronous."""
        return cls(spark, **kw)

    # ---- vector search (vector.py) ------------------------------------
    def build_vector_index(self, table: str, field_name: str,
                           n_cells: int = 16, path: Optional[str] = None,
                           id_field: Optional[str] = None,
                           centroids=None) -> str:
        """Build-once IVF index for a vector field (the reference's
        persisted NGH build lifecycle, ngh_graph_engine.dart:14-80):
        deterministic spherical-k-means centroids, corpus written out
        partitioned by cell_id, registered so subsequent vector_search
        calls probe the index instead of rescanning the table.
        ``centroids`` overrides the trained geometry with a caller-fixed
        one (e.g. ``similarity.fixed_centroids``) for reproducible cell
        assignment across engines."""
        import tempfile

        from tostore_spark.llmops import similarity as sim
        id_field = id_field or self.primary_key(table) \
            or self.df(table).columns[0]
        if path is None:
            path = tempfile.mkdtemp(prefix=f"ivf_{table}_{field_name}_")
        indexed, cents = sim.ivf_build(self.df(table), n_cells=n_cells,
                                       vec_field=field_name, id_field=id_field,
                                       centroids=centroids)
        sim.ivf_write_index(indexed, cents, path, id_field=id_field)
        cells_df, _ = sim.ivf_read_index(self.spark, path)
        n_rows = cells_df.count()   # parquet-footer count; powers efSearch->nprobe
        sim.ivf_update_meta(path, n_rows=n_rows)
        if not hasattr(self, "_vector_indexes"):
            self._vector_indexes: dict[tuple, dict] = {}
        self._vector_indexes[(self._space, table, field_name)] = {
            "path": path, "centroids": cents, "df": cells_df,
            "n_cells": len(cents), "id_field": id_field,
            "n_rows": n_rows,
            "generation": self.generation(table),
        }
        return path

    def load_vector_index(self, table: str, field_name: str, path: str,
                          id_field: Optional[str] = None) -> None:
        """Attach a previously persisted IVF index (search-many side of the
        build-once lifecycle)."""
        from tostore_spark.llmops import similarity as sim
        cells_df, cents = sim.ivf_read_index(self.spark, path)
        meta = sim.ivf_index_meta(path)
        n_rows = meta.get("n_rows")
        if not n_rows:
            # index written by a direct ivf_write_index caller without
            # n_rows: count once (parquet-footer job) and backfill, so
            # ef_search is never silently ignored
            n_rows = cells_df.count()
            sim.ivf_update_meta(path, n_rows=n_rows)
        if not hasattr(self, "_vector_indexes"):
            self._vector_indexes = {}
        self._vector_indexes[(self._space, table, field_name)] = {
            "path": path, "centroids": cents, "df": cells_df,
            "n_cells": len(cents),
            "id_field": id_field or self.primary_key(table)
            or cells_df.columns[0],
            "n_rows": n_rows,
            "generation": self.generation(table),
        }

    def vector_search(self, table: str, field_name: str, query_vector,
                      top_k: int = 10, metric: str = "cosine",
                      distance_threshold: Optional[float] = None,
                      ef_search: Optional[int] = None,
                      use_index: Optional[bool] = None,
                      nprobe: int = 2) -> DataFrame:
        """Scored top-k (tostore.dart:493-511).  When an IVF index has been
        built for (table, field) and the metric is cosine, the search probes
        the persisted index (approximate, rebuild-free) unless
        ``use_index=False``; a stale index (table written since build)
        silently falls back to the exact scan.  ``ef_search`` (the
        reference's candidate-pool knob, ngh_graph_engine.dart:14-80) maps
        to nprobe via ``ef_search_to_nprobe`` — probe enough cells to scan
        ~efSearch vectors — and overrides ``nprobe`` when given."""
        from tostore_spark.vector import vector_search
        idx = getattr(self, "_vector_indexes", {}).get(
            (self._space, table, field_name))
        fresh = idx is not None and idx["generation"] == self.generation(table)
        if use_index is None:
            use_index = fresh and metric == "cosine"
        if use_index:
            if not fresh or metric != "cosine":
                raise ValueError(
                    "no fresh cosine IVF index for "
                    f"({table}, {field_name}); build_vector_index first")
            from tostore_spark.llmops import similarity as sim
            if ef_search is not None and idx.get("n_rows"):
                nprobe = sim.ef_search_to_nprobe(
                    ef_search, len(idx["centroids"]), idx["n_rows"])
            out = sim.ivf_search(idx["df"], idx["centroids"], query_vector,
                                 k=top_k, nprobe=nprobe,
                                 vec_field=field_name,
                                 id_field=idx["id_field"])
            if distance_threshold is not None:
                out = out.filter(
                    out["distance"] <= float(distance_threshold))
            return out
        return vector_search(self.df(table), field_name, query_vector,
                             top_k=top_k, metric=metric,
                             distance_threshold=distance_threshold,
                             pk=self.primary_key(table))

    def vector_index_recall(self, table: str, field_name: str,
                            k: int = 10, nprobe: int = 2,
                            ef_search: Optional[int] = None,
                            n_queries: int = 50) -> float:
        """MEASURED recall@k of the registered IVF index against the
        exact brute-force baseline, on this table's own vectors — run it
        after a build or append at any scale instead of extrapolating
        from test-size corpora."""
        from tostore_spark.llmops import similarity as sim
        idx = getattr(self, "_vector_indexes", {}).get(
            (self._space, table, field_name))
        if idx is None or idx["generation"] != self.generation(table):
            raise ValueError(
                f"no fresh IVF index for ({table}, {field_name})")
        if ef_search is not None and idx.get("n_rows"):
            nprobe = sim.ef_search_to_nprobe(
                ef_search, len(idx["centroids"]), idx["n_rows"])
        return sim.ivf_measure_recall(
            idx["df"], idx["centroids"], k=k, nprobe=nprobe,
            n_queries=n_queries, vec_field=field_name,
            id_field=idx["id_field"])

    def vector_search_many(self, table: str, field_name: str,
                           queries: DataFrame, top_k: int = 10,
                           query_vec: Optional[str] = None,
                           query_id: Optional[str] = None,
                           ef_search: Optional[int] = None,
                           use_index: Optional[bool] = None,
                           nprobe: int = 2,
                           exclude_self: bool = False) -> DataFrame:
        """Batch top-k for a whole DataFrame of query vectors in ONE
        distributed plan — (query_id, neighbor_id, distance, rank) rows.

        The reference's search API takes one vector per call
        (tostore.dart:493-511); an eval/dedup pipeline at scale queries in
        the thousands, which would loop driver-side.  When a fresh cosine
        IVF index exists the probe side joins the cell_id-partitioned
        index (approximate, partition-pruned — ``ivf_search_many``);
        otherwise the exact broadcast ``knn_join`` baseline runs.
        ``ef_search`` maps to nprobe exactly as in ``vector_search``."""
        from tostore_spark.llmops import similarity as sim
        idx = getattr(self, "_vector_indexes", {}).get(
            (self._space, table, field_name))
        fresh = idx is not None and idx["generation"] == self.generation(table)
        if use_index is None:
            use_index = fresh
        if use_index:
            if not fresh:
                raise ValueError(
                    "no fresh cosine IVF index for "
                    f"({table}, {field_name}); build_vector_index first")
            if ef_search is not None and idx.get("n_rows"):
                nprobe = sim.ef_search_to_nprobe(
                    ef_search, len(idx["centroids"]), idx["n_rows"])
            return sim.ivf_search_many(
                idx["df"], idx["centroids"], queries, k=top_k,
                nprobe=nprobe, vec_field=field_name,
                id_field=idx["id_field"], query_vec=query_vec,
                query_id=query_id, exclude_self=exclude_self)
        pk = self.primary_key(table) or self.df(table).columns[0]
        return sim.knn_join(queries, self.df(table), k=top_k,
                            query_vec=query_vec or field_name,
                            corpus_vec=field_name,
                            query_id=query_id or pk, corpus_id=pk,
                            metric="cosine", exclude_self=exclude_self)

    # ---- graph (Vamana-lite) index facade ------------------------------
    # The reference's vectorSearch is served by its NGH graph by default
    # (ngh_graph_engine.dart:14-80); this facade gives the same
    # build-once / beam-search-many lifecycle over the batch graph.

    def build_graph_index(self, table: str, field_name: str,
                          path: Optional[str] = None,
                          id_field: Optional[str] = None,
                          n_neighbors: int = 8, n_cells: int = 16,
                          prune_alpha: Optional[float] = None,
                          refine: bool = False,
                          centroids=None) -> str:
        """Build-once Vamana-lite graph index (the reference's NGH build,
        ngh_graph_engine.dart:14-80): ``build_knn_graph`` (optionally
        ``prune_alpha``-diversified and/or ``refine``-passed — the
        pruneAlpha / construction knobs), persisted via
        ``graph_write_index`` and registered so ``graph_search`` /
        ``graph_index_recall`` beam-search it.  Maintain with
        ``similarity.graph_append`` / ``graph_delete`` /
        ``graph_compact`` against the returned path, then
        ``load_graph_index`` to refresh the registration."""
        import tempfile

        from tostore_spark.llmops import similarity as sim
        id_field = id_field or self.primary_key(table) \
            or self.df(table).columns[0]
        if path is None:
            path = tempfile.mkdtemp(prefix=f"graph_{table}_{field_name}_")
        corpus = self.df(table)
        graph, hubs = sim.build_knn_graph(
            corpus, n_neighbors=n_neighbors, n_cells=n_cells,
            vec_field=field_name, id_field=id_field,
            centroids=centroids, prune_alpha=prune_alpha)
        if refine:
            graph = sim.graph_refine(
                graph.localCheckpoint(eager=True), corpus, hubs,
                n_neighbors=n_neighbors,
                alpha=prune_alpha if prune_alpha is not None else 1.2,
                vec_field=field_name, id_field=id_field)
        n_rows = corpus.count()
        sim.graph_write_index(
            graph, hubs, path, n_rows=n_rows, id_field=id_field,
            params={"n_neighbors": n_neighbors, "n_cells": n_cells,
                    "prune_alpha": prune_alpha, "refine": refine})
        self.load_graph_index(table, field_name, path, id_field=id_field)
        return path

    def load_graph_index(self, table: str, field_name: str, path: str,
                         id_field: Optional[str] = None) -> None:
        """Attach a persisted graph index (tombstones applied on read)."""
        from tostore_spark.llmops import similarity as sim
        edges, hubs, meta = sim.graph_read_index(self.spark, path)
        if not hasattr(self, "_vector_indexes"):
            self._vector_indexes = {}
        self._vector_indexes[("graph", self._space, table, field_name)] = {
            "kind": "graph", "path": path,
            "graph": edges.localCheckpoint(eager=True),
            "hubs": hubs.localCheckpoint(eager=True),
            "id_field": id_field or meta.get("id_field")
            or self.primary_key(table) or self.df(table).columns[0],
            "n_rows": meta.get("n_rows"),
            "generation": self.generation(table),
        }

    def _graph_index(self, table: str, field_name: str) -> dict:
        idx = getattr(self, "_vector_indexes", {}).get(
            ("graph", self._space, table, field_name))
        if idx is None or idx["generation"] != self.generation(table):
            raise ValueError(
                f"no fresh graph index for ({table}, {field_name}); "
                "build_graph_index (or load_graph_index after "
                "graph_append/graph_delete) first")
        return idx

    def graph_search(self, table: str, field_name: str, query_vector,
                     top_k: int = 10, ef_search: int = 16,
                     max_hops: int = 3,
                     distance_threshold: Optional[float] = None
                     ) -> DataFrame:
        """Beam-search the registered graph index for one query vector —
        the reference's default vectorSearch path (efSearch = the beam
        width, directly; no nprobe mapping needed).  Returns the
        table's matching rows + exact cosine ``distance`` + ``rank``,
        the same surface as the IVF-backed ``vector_search``."""
        from pyspark.sql import functions as F

        from tostore_spark.llmops import similarity as sim
        idx = self._graph_index(table, field_name)
        q = local_df(self.spark, 
            [(0, [float(x) for x in query_vector])],
            "query_id int, qv array<double>")
        hits = sim.graph_search_many(
            idx["graph"], self.df(table), q, idx["hubs"], k=top_k,
            ef=int(ef_search), max_hops=int(max_hops),
            vec_field=field_name, id_field=idx["id_field"],
            query_vec="qv", query_id="query_id")
        if distance_threshold is not None:
            hits = hits.filter(
                F.col("distance") <= float(distance_threshold))
        corpus = self.df(table)
        out = (corpus.join(
            hits.select(F.col("neighbor_id").alias(idx["id_field"]),
                        "distance", "rank"),
            on=idx["id_field"]))
        return out.orderBy(F.col("rank").asc())

    def graph_search_many(self, table: str, field_name: str,
                          queries: DataFrame, top_k: int = 10,
                          ef_search: int = 16, max_hops: int = 3,
                          query_vec: Optional[str] = None,
                          query_id: Optional[str] = None,
                          exclude_self: bool = False) -> DataFrame:
        """Batch beam search over the registered graph index: a whole
        DataFrame of query vectors in ONE fixed-hop join plan
        (similarity.graph_search_many) — (query_id, neighbor_id,
        distance, rank) rows."""
        from tostore_spark.llmops import similarity as sim
        idx = self._graph_index(table, field_name)
        return sim.graph_search_many(
            idx["graph"], self.df(table), queries, idx["hubs"],
            k=top_k, ef=int(ef_search), max_hops=int(max_hops),
            vec_field=field_name, id_field=idx["id_field"],
            query_vec=query_vec, query_id=query_id,
            exclude_self=exclude_self)

    def graph_index_append(self, table: str, field_name: str,
                           new_rows: DataFrame, n_neighbors: int = 8,
                           ef_search: int = 16, max_hops: int = 3) -> int:
        """Incremental insert into the registered graph index
        (similarity.graph_append: beam-search each new node's neighbors
        + bidirectional back-links + batch ring).  Call AFTER inserting
        the same rows into the table — the batch is anti-joined out of
        the table to form the already-indexed corpus, the index is
        appended, and the registration is refreshed AND re-stamped to
        the table's current generation, so the index is fresh and
        complete for the next search.  (The reference maintains the NGH
        index inside its write path, ngh_graph_engine.dart:14-80; the
        facade keeps table and index writes explicit but makes the
        pairing one call each.)"""
        from pyspark.sql import functions as F

        from tostore_spark.llmops import similarity as sim
        key = ("graph", self._space, table, field_name)
        idx = getattr(self, "_vector_indexes", {}).get(key)
        if idx is None:
            raise ValueError(
                f"no graph index for ({table}, {field_name}); "
                "build_graph_index first")
        id_field = idx["id_field"]
        batch = new_rows.select(F.col(id_field), F.col(field_name))
        corpus = self.df(table).join(
            batch.select(id_field), on=id_field, how="left_anti")
        n = sim.graph_append(self.spark, idx["path"], corpus,
                             batch, vec_field=field_name,
                             id_field=id_field,
                             n_neighbors=n_neighbors,
                             ef=int(ef_search), max_hops=int(max_hops))
        self.load_graph_index(table, field_name, idx["path"],
                              id_field=id_field)
        return n

    def graph_index_delete(self, table: str, field_name: str, ids) -> int:
        """Tombstone-delete ids from the registered graph index
        (similarity.graph_delete) and refresh the registration — the
        nodes stop matching immediately; ``similarity.graph_compact``
        later makes it physical.  Like ``graph_index_append``, call
        after the corresponding table delete: the refresh re-stamps the
        registration to the table's current generation."""
        from tostore_spark.llmops import similarity as sim
        key = ("graph", self._space, table, field_name)
        idx = getattr(self, "_vector_indexes", {}).get(key)
        if idx is None:
            raise ValueError(
                f"no graph index for ({table}, {field_name}); "
                "build_graph_index first")
        n = sim.graph_delete(self.spark, idx["path"], ids)
        self.load_graph_index(table, field_name, idx["path"],
                              id_field=idx["id_field"])
        return n

    def graph_index_recall(self, table: str, field_name: str,
                           k: int = 10, ef_search: int = 16,
                           max_hops: int = 3,
                           n_queries: int = 20) -> dict:
        """MEASURED recall@k AND probed fraction of the registered graph
        index on this table's own vectors (similarity.
        graph_measure_recall) — the graph twin of
        ``vector_index_recall``."""
        from tostore_spark.llmops import similarity as sim
        idx = self._graph_index(table, field_name)
        return sim.graph_measure_recall(
            idx["graph"], self.df(table), idx["hubs"], k=k,
            ef=int(ef_search), max_hops=int(max_hops),
            n_queries=n_queries, vec_field=field_name,
            id_field=idx["id_field"])
