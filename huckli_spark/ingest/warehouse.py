"""Warehouse + checkpoint + ingest pipeline (reference A14-A18, §3.1).

Storage is a parquet directory per table (the production target is
Delta/Iceberg for ACID appends and ``replaceWhere file_source = key``
idempotent re-ingest — SURVEY §7 M6; plain parquet keeps the container
dependency-free and the semantics identical for the tested flows).

Checkpoint parity (huckli-db/src/lib.rs:16-56):
- ``files_processed(file_name, prefix, file_timestamp, processed_at)``
- ``latest_file_processed_timestamp(prefix)`` = max() (A17; the
  reference's ORDER BY ... DESC LIMIT 1 is the same plan).
- Data-append then checkpoint-append, NO transaction between them —
  the reference's at-least-once gap (§3.1 step 8) is preserved and
  documented; a crash between the two re-imports the file on
  --continue.
- Both checkpoint calls run on the driver with pyarrow and start no
  Spark job — the reference's are single-row DuckDB statements, and a
  Spark job apiece was the largest fixed cost of a small round. The
  write is one small parquet file per batch (hidden temp name +
  ``os.replace``, or a txlog staging dir + publish). The read takes the
  max of the ``prefix``/``file_timestamp`` columns of each file in the
  set ``table()`` scans (``_table_files``), read with pyarrow.

Scale: ingest parallelism is the ``binaryFile`` scan's tasks, widened
to the cluster's cores when the batch holds fewer files (A9's
``.buffered(10)`` analog — except unbounded by a hardcoded 10; the
task scheduler handles thousands of files); each target table write is
a straight map-side pipeline (no shuffle) except the demux families,
where the decoded frame is persisted once and N projections read the
cached copy (single-pass demux, SURVEY §4).
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone
from typing import Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from huckli_spark.ingest.decode import decode_frames
from huckli_spark.ingest.filetypes import (
    REGISTRY,
    FileTypeSpec,
    load_enum_overrides_from_env,
    warn_placeholder_enums,
)
from huckli_spark.sources.framing import frames_df
from huckli_spark.sources.listing import FileInfo, FileSelection

def _with_file_date(df: DataFrame) -> DataFrame:
    """Derive a ``file_date`` partition column from the provenance
    filename's epoch (``{prefix}.{epoch}.gz``, A4 regex). Partitioning
    data tables by (file_date, file_source) keeps the per-file replace
    granularity AND gives time-range queries static partition pruning:
    a day's scan touches that day's directories only, which at 100 TB
    is the difference between listing thousands of per-file partitions
    and listing one date's worth (SCALE.md §layout). Unparseable
    filenames land in the Hive null partition rather than failing."""
    from huckli_spark.functions.timestamps import ts_heuristic

    epoch = F.regexp_extract(F.col("file_source"), r"\.(\d+)(\.gz)?$", 1).cast(
        "long"
    )
    return df.withColumn("file_date", F.to_date(ts_heuristic(epoch)))


# the physical schema Spark writes for this table (required columns,
# INT64 TIMESTAMP_MICROS adjusted to UTC); a tz-less timestamp would
# surface in Spark as TIMESTAMP_NTZ and clash with the older files
_UTC_US = pa.timestamp("us", tz="UTC")
FILES_PROCESSED_SCHEMA = pa.schema(
    [
        pa.field("file_name", pa.string(), nullable=False),
        pa.field("prefix", pa.string(), nullable=False),
        pa.field("file_timestamp", _UTC_US, nullable=False),
        pa.field("processed_at", _UTC_US, nullable=False),
    ]
)


def _file_max(path: str, prefix: str) -> Optional[datetime]:
    """max(file_timestamp) over one checkpoint file's rows of ``prefix``,
    as a UTC instant, or None. Checkpoint files hold a batch's few rows,
    so the two columns are read whole."""
    t = pq.ParquetFile(path).read(columns=["prefix", "file_timestamp"])
    m = pc.max(t.filter(pc.equal(t["prefix"], prefix))["file_timestamp"])
    if not m.is_valid:
        return None
    # INT96 files read back tz-less; their values are UTC instants
    return pc.cast(m, _UTC_US, safe=False).as_py().astimezone(timezone.utc)


class Warehouse:
    """A directory of parquet tables + the files_processed checkpoint.

    ``idempotent=True`` partitions every data table by
    ``(file_date, file_source)`` — the date derived from the
    provenance filename's epoch — and writes with dynamic partition
    overwrite: re-ingesting a file REPLACES its rows instead of
    duplicating them — the Delta ``replaceWhere file_source = key``
    upgrade from SURVEY §7 M6 — while time-range queries prune whole
    date directories statically,
    closing the reference's at-least-once append-then-checkpoint gap
    (§3.1 step 8). Default ``False`` preserves reference parity
    (at-least-once, duplicates possible on crash-retry).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        idempotent: bool = False,
        acid: bool = False,
        merge_schema: bool = False,
    ):
        self.spark = spark
        self.path = path
        self.idempotent = idempotent
        # merge_schema=True: reads union the schemas of all live files
        # (parquet mergeSchema), so additive evolution — a new ingest
        # version adding columns — is readable in place: old files
        # surface the new columns as NULL. Renames/retypes still need
        # a rewrite, as in Delta/Iceberg without column mapping.
        self.merge_schema = merge_schema
        # acid=True: every append/overwrite goes through the
        # write-audit-publish transaction log (ingest/txlog.py) — the
        # Delta/Iceberg-shaped commit protocol. Readers resolve the
        # live file set from the log, so partial writes and crash
        # orphans are invisible and commits are atomic per table.
        self.acid = acid
        # observable drop counter for the A8 log-and-skip policy
        self.dropped_frames = spark.sparkContext.accumulator(0)
        os.makedirs(path, exist_ok=True)

    # -- table access -------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.path, name)

    def _log(self, name: str):
        from huckli_spark.ingest.txlog import TransactionLog

        return TransactionLog(self.table_path(name))

    def _logged(self, name: str) -> bool:
        """A table with a transaction log is always read and written
        through it, however this Warehouse was constructed: a plain
        reader would scan replaced-partition orphans and uncommitted
        files, and a plain write would land files no commit references
        (invisible to readers, swept by the next vacuum)."""
        return self.acid or self._log(name).exists()

    def has_table(self, name: str) -> bool:
        """True if the table directory holds parquet data at any depth.

        Idempotent-mode tables are partitioned by ``file_source`` —
        their parquet files live in partition SUBdirectories with no
        top-level ``*.parquet``, so a flat listdir misses every data
        table (VERDICT r02 "What's wrong #3"). Walk with early exit.
        """
        if self._logged(name):
            return self._log(name).exists()
        p = self.table_path(name)
        if not os.path.isdir(p):
            return False
        for _root, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def table(self, name: str, as_of: Optional[int] = None) -> DataFrame:
        """Read a table; ``as_of`` reads a past commit version of an
        acid table (time travel — valid until vacuum sweeps the
        superseded files)."""
        base = self.table_path(name)
        if self._logged(name):
            files = self._table_files(name, as_of)
            if not files:
                raise FileNotFoundError(f"acid table has no committed data: {name}")
            # explicit snapshot file list: readers never list the data
            # dir, so staged/orphan files cannot leak into a scan.
            # basePath keeps partition-column inference for
            # file_source=... layouts.
            reader = self.spark.read.option("basePath", base)
            if self.merge_schema:
                reader = reader.option("mergeSchema", "true")
            return reader.parquet(*files)
        if as_of is not None:
            raise ValueError(f"as_of requires a transaction log: {name}")
        reader = self.spark.read
        if self.merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(base)

    def append(self, name: str, df: DataFrame) -> None:
        if self._logged(name):
            self._acid_append(name, df)
            return
        if self.idempotent and name != "files_processed" and "file_source" in df.columns:
            # dynamic overwrite touches only the partitions present in
            # df — other files' data is untouched; a retried file's
            # partition is atomically replaced, never doubled. Scoped
            # per-write (writer option), NOT via session conf — a
            # session-level set would silently flip later overwrite
            # semantics for every other writer on the shared session.
            (
                _with_file_date(df)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("file_date", "file_source")
                .parquet(self.table_path(name))
            )
            return
        df.write.mode("append").parquet(self.table_path(name))

    def _acid_append(self, name: str, df: DataFrame) -> None:
        """Write-audit-publish: stage part-files, then one atomic log
        commit. With ``idempotent`` set and a provenance column, the
        commit replaces the staged files' file_source partitions —
        the replaceWhere analog, making re-ingest exactly-once."""
        log = self._log(name)
        staging = log.staging_dir()
        # ALWAYS partition by provenance when present: mixing
        # partition-dir files and flat files in one table makes
        # Spark's scan silently ignore the flat ones. The replace
        # action (idempotent exactly-once) is the only thing gated on
        # the mode; layout is uniform regardless.
        partitioned = name != "files_processed" and "file_source" in df.columns
        if partitioned:
            df = _with_file_date(df)
        writer = df.write.mode("overwrite")
        if partitioned:
            writer = writer.partitionBy("file_date", "file_source")
        writer.parquet(staging)
        replace = None
        if partitioned and self.idempotent:
            # nested layout: replace at the file_source leaf so a
            # re-ingested file swaps exactly its own partition
            replace = [
                os.path.join(day, fs)
                for day in os.listdir(staging)
                if day.startswith("file_date=")
                and os.path.isdir(os.path.join(staging, day))
                for fs in os.listdir(os.path.join(staging, day))
                if fs.startswith("file_source=")
            ]
        log.publish(staging, replace_partitions=replace)

    def _replace_snapshot(self, name: str, df: DataFrame) -> None:
        """Atomically replace the table's live snapshot with ``df``
        (ACID: staging + replace_all commit — readers see the old
        snapshot until the log entry lands; plain: tmp-dir swap)."""
        import shutil

        if self._logged(name):
            log = self._log(name)
            staging = log.staging_dir()
            df.write.mode("overwrite").parquet(staging)
            log.publish(staging, replace_all=True)
            return
        tmp = self.table_path(f"__rewrite_{name}")
        df.write.mode("overwrite").parquet(tmp)
        final = self.table_path(name)
        shutil.rmtree(final)
        os.replace(tmp, final)

    def merge(
        self, name: str, updates: DataFrame, key: "str | list[str]"
    ) -> dict:
        """MERGE INTO (upsert): rows of ``updates`` REPLACE current
        rows sharing their key; unmatched keys insert. One atomic
        snapshot-replace commit (with ACID, readers see either the
        old or the new snapshot, never a mix) — the Delta MERGE
        semantics without the package. Returns
        ``{"updated": n, "inserted": n}``.

        Scale shape: this is copy-on-write MERGE — survivors are the
        anti-join of the current snapshot against the (usually small,
        broadcastable) update key set, so the data-side cost is one
        table scan + rewrite. Production narrows the rewrite to the
        partitions containing matched keys (the txlog's
        replace_partitions commit is exactly that hook); the fixture
        tables are not partitioned by merge key, so the full-snapshot
        form is what's exercised here."""
        from pyspark.sql import functions as F

        key_cols = [key] if isinstance(key, str) else list(key)
        current = self.table(name)
        upd_keys = updates.select(*key_cols).distinct()
        survivors = current.join(F.broadcast(upd_keys), key_cols, "left_anti")
        n_current = current.count()
        n_surv = survivors.count()
        n_upd = updates.count()
        merged = survivors.unionByName(
            updates.select(*current.columns)
        )
        self._replace_snapshot(name, merged)
        return {"updated": n_current - n_surv, "inserted": n_upd - (n_current - n_surv)}

    def apply_cdc(
        self,
        name: str,
        changes: DataFrame,
        key: "str | list[str]",
        op_col: str = "op",
        order_col: Optional[str] = None,
    ) -> dict:
        """Apply a changelog: rows with ``op_col`` in I/U upsert, D
        deletes. With ``order_col`` set, only each key's LATEST change
        applies (ties break toward delete, the conservative CDC
        convention); without it the changelog must hold one change
        per key. Idempotent: re-applying the same changelog is a
        no-op. One atomic snapshot-replace. Returns
        ``{"upserted": n, "deleted": n}``."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        key_cols = [key] if isinstance(key, str) else list(key)
        ch = changes
        if order_col is not None:
            w = Window.partitionBy(*key_cols).orderBy(
                F.desc(order_col),
                # same-version ties: delete wins deterministically
                F.when(F.col(op_col) == "D", 0).otherwise(1),
            )
            ch = (
                ch.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        current = self.table(name)
        upserts = ch.where(F.col(op_col) != "D").drop(op_col)
        if order_col is not None:
            upserts = upserts.drop(order_col)
        deletes = ch.where(F.col(op_col) == "D").select(*key_cols).distinct()
        touched = ch.select(*key_cols).distinct()
        survivors = current.join(F.broadcast(touched), key_cols, "left_anti")
        n_up = upserts.count()
        n_del = deletes.join(
            current.select(*key_cols).distinct(), key_cols
        ).count()
        merged = survivors.unionByName(upserts.select(*current.columns))
        self._replace_snapshot(name, merged)
        return {"upserted": n_up, "deleted": n_del}

    def merge_scd2(
        self,
        name: str,
        updates: DataFrame,
        key: "str | list[str]",
        version: int,
    ) -> dict:
        """History-preserving (SCD Type 2) merge: instead of replacing
        matched rows, the current version of each matched key is
        CLOSED (``valid_to`` set to ``version``) and the update row
        inserted as the new current version (``valid_from = version``,
        ``valid_to`` null). First call on a plain table initializes
        ``valid_from = 0 / valid_to = null`` for existing rows.
        Updates whose values equal the key's current row are no-ops
        (no spurious history). One atomic snapshot-replace; returns
        ``{"closed": n, "inserted": n}``.

        The table keeps FULL history queryable with plain SQL: current
        rows are ``valid_to IS NULL``; as-of row state at version v is
        ``valid_from <= v AND (valid_to IS NULL OR valid_to > v)`` —
        row-level time travel on top of the txlog's file-level one."""
        from pyspark.sql import functions as F

        key_cols = [key] if isinstance(key, str) else list(key)
        current = self.table(name)
        if "valid_from" not in current.columns:
            current = current.withColumn(
                "valid_from", F.lit(0).cast("long")
            ).withColumn("valid_to", F.lit(None).cast("long"))
        val_cols = [
            c
            for c in current.columns
            if c not in key_cols + ["valid_from", "valid_to"]
        ]
        live = current.where(F.col("valid_to").isNull())
        closed_hist = current.where(F.col("valid_to").isNotNull())
        u = updates.select(*key_cols, *val_cols)
        # changed = live rows whose key matches an update with
        # DIFFERENT values; equal rows produce no history
        lv = live.select(
            *key_cols, F.struct(*val_cols).alias("__lv")
        )
        uv = u.select(*key_cols, F.struct(*val_cols).alias("__uv"))
        changed_keys = (
            lv.join(F.broadcast(uv), key_cols)
            .where(F.col("__lv") != F.col("__uv"))
            .select(*key_cols)
        )
        new_keys = uv.join(lv, key_cols, "left_anti").select(*key_cols)
        affected = changed_keys.unionByName(new_keys)
        n_closed = changed_keys.count()
        to_insert = u.join(F.broadcast(affected), key_cols).select(
            *key_cols,
            *val_cols,
            F.lit(version).cast("long").alias("valid_from"),
            F.lit(None).cast("long").alias("valid_to"),
        )
        n_insert = to_insert.count()
        untouched_live = live.join(
            F.broadcast(changed_keys), key_cols, "left_anti"
        )
        newly_closed = live.join(F.broadcast(changed_keys), key_cols).withColumn(
            "valid_to", F.lit(version).cast("long")
        )
        merged = (
            closed_hist.unionByName(newly_closed)
            .unionByName(untouched_live)
            .unionByName(to_insert)
        )
        self._replace_snapshot(name, merged)
        return {"closed": n_closed, "inserted": n_insert}

    def table_changes(
        self,
        name: str,
        key: "str | list[str]",
        from_version: int,
        to_version: Optional[int] = None,
    ) -> DataFrame:
        """Change data feed: the I/U/D rows that turn snapshot
        ``from_version`` into ``to_version`` (default: latest) — the
        inverse of ``apply_cdc``, derived by diffing the two txlog
        snapshots on ``key``. Returns the new-side columns plus
        ``op`` ('I' inserted key, 'U' changed row, 'D' deleted key;
        D rows carry the OLD values so downstream consumers can
        tombstone). Unchanged rows are absent. Feeding the result to
        ``apply_cdc`` on a copy at ``from_version`` reproduces
        ``to_version`` exactly (round-trip pinned in tests).

        Scale: one full-outer join of the two snapshots on key —
        at production scale both sides prune to the partitions whose
        files differ between the versions (the txlog knows the file
        diff; the fixture tables are small enough to diff whole)."""
        from pyspark.sql import functions as F

        key_cols = [key] if isinstance(key, str) else list(key)
        old = self.table(name, as_of=from_version)
        new = self.table(name, as_of=to_version)
        val_cols = [c for c in new.columns if c not in key_cols]
        o = old.select(
            *key_cols,
            F.struct(*[F.col(c).alias(c) for c in val_cols]).alias("__old"),
        )
        nw = new.select(
            *key_cols,
            F.struct(*[F.col(c).alias(c) for c in val_cols]).alias("__new"),
        )
        j = o.join(nw, key_cols, "full_outer")
        op = (
            F.when(F.col("__old").isNull(), F.lit("I"))
            .when(F.col("__new").isNull(), F.lit("D"))
            .when(F.col("__old") != F.col("__new"), F.lit("U"))
        )
        side = F.coalesce(F.col("__new"), F.col("__old"))
        return (
            j.withColumn("op", op)
            .where(F.col("op").isNotNull())
            .select(
                "op",
                *key_cols,
                *[side[c].alias(c) for c in val_cols],
            )
        )

    def export_delta(self, name: str, incremental: bool = False):
        """Materialize the table's current live snapshot as an open-
        protocol Delta log (ingest/delta_export.py) so real Delta
        readers (delta-rs, Spark+delta, DuckDB delta) can read the
        table directory. Partition columns are inferred from the
        Hive layout; schemaString is the table's Spark schema.
        ``incremental=True`` appends a diff-only version N+1 (and
        returns None when nothing changed) instead of rebasing v0."""
        from huckli_spark.ingest.delta_export import (
            export_delta_increment,
            export_delta_snapshot,
        )

        df = self.table(name)
        # partition columns = Hive k= segments present in the layout,
        # in directory order (file_date above file_source)
        parts: list[str] = []
        for root, dirs, _files in os.walk(self.table_path(name)):
            for d in sorted(dirs):
                if "=" in d:
                    k = d.split("=", 1)[0]
                    if k not in parts:
                        parts.append(k)
        if incremental:
            # schema travels with every increment so schema evolution
            # re-emits metaData instead of leaving external readers on
            # the stale v0 schemaString (ADVICE r6)
            return export_delta_increment(
                self.table_path(name), parts, schema_json=df.schema.json()
            )
        return export_delta_snapshot(
            self.table_path(name), df.schema.json(), parts
        )

    def save_bucketed(
        self, name: str, df: DataFrame, key: str, buckets: int = 32
    ) -> None:
        """Persist a table bucketed (and sorted) by ``key``.

        Two tables bucketed on the same key with the same bucket count
        join WITHOUT a shuffle — the join clustering is baked into the
        file layout. At 100 TB this is how repeated fact-fact joins
        (e.g. parent/child reward tables on their synthetic id) stop
        paying the dominant exchange every query; the one-time cost is
        the clustered write. Registers ``name`` in the session catalog
        (bucket metadata lives there), with data at the warehouse path.
        """
        (
            df.write.mode("overwrite")
            .option("path", self.table_path(name))
            .bucketBy(buckets, key)
            .sortBy(key)
            .saveAsTable(name)
        )

    def compact(
        self,
        name: str,
        sort_cols: list[str],
        target_partitions: Optional[int] = None,
        zorder: bool = False,
    ) -> None:
        """Rewrite a table range-partitioned and sorted on
        ``sort_cols`` — the OPTIMIZE analog for plain parquet.

        Append-heavy ingest leaves many small files with overlapping
        value ranges, so min/max row-group skipping never prunes.
        After compaction each file owns a disjoint range of
        ``sort_cols[0]`` (and is sorted within), so a selective filter
        touches one file instead of all of them. ``zorder=True`` lays
        the files out on the Morton interleave of 2-4 numeric columns
        instead (operators/zorder.py) — every participating column
        keeps min/max locality, the OPTIMIZE ZORDER BY semantics. Run
        it out-of-band, like the reference user would run
        VACUUM/OPTIMIZE. A logged table commits the rewrite as one
        snapshot-replace log entry (readers see the old snapshot until
        it lands; the old files become vacuumable orphans), so its
        history stays readable with ``as_of``.
        """
        df = self.table(name)
        n = target_partitions or df.rdd.getNumPartitions()
        if zorder:
            from huckli_spark.operators.zorder import zorder as _zorder

            compacted = _zorder(df, sort_cols, partitions=n)
        else:
            compacted = df.repartitionByRange(
                n, *sort_cols
            ).sortWithinPartitions(*sort_cols)
        self._replace_snapshot(name, compacted)

    def bucketed_table(self, name: str) -> DataFrame:
        """Read a bucketed table WITH its bucket spec (the plain
        path-based reader sees only parquet files and loses it)."""
        return self.spark.table(name)

    def sql(self, query: str, tables: Optional[list[str]] = None) -> DataFrame:
        """Register warehouse tables as views and run Spark SQL — the
        post-ingest query surface (the reference hands the user a
        DuckDB file; we hand them the Spark catalog)."""
        names = tables or [
            d for d in os.listdir(self.path) if self.has_table(d)
        ]
        for n in names:
            self.table(n).createOrReplaceTempView(n)
        return self.spark.sql(query)

    # -- checkpoint (A16-A17) ----------------------------------------------
    def save_files_processed(self, infos: list[FileInfo]) -> None:
        """One checkpoint append for a batch of files, written on the
        driver as one small parquet file — no Spark job. The reference
        commits per file inside its sequential loop (lib.rs:202-210);
        our batch model processes all files in one job, so a single
        post-commit append preserves the same semantics (checkpoint
        strictly after data). The file becomes visible atomically: a
        txlog commit in acid mode, an ``os.replace`` from a hidden
        temp name (which readers skip) otherwise."""
        if not infos:
            return
        now = datetime.now(timezone.utc)
        table = pa.table(
            [
                [os.path.basename(i.key) for i in infos],
                [i.prefix for i in infos],
                [i.timestamp for i in infos],
                [now] * len(infos),
            ],
            schema=FILES_PROCESSED_SCHEMA,
        )
        name = f"part-{uuid.uuid4().hex}.parquet"
        if self._logged("files_processed"):
            log = self._log("files_processed")
            staging = log.staging_dir()
            os.makedirs(staging)
            pq.write_table(table, os.path.join(staging, name))
            log.publish(staging)
            return
        base = self.table_path("files_processed")
        os.makedirs(base, exist_ok=True)
        tmp = os.path.join(base, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(base, name))

    def _table_files(self, name: str, as_of: Optional[int] = None) -> list[str]:
        """The parquet files ``table(name)`` scans: the txlog snapshot
        (at version ``as_of``, if given), or for a plain table the
        directory's top-level files."""
        base = self.table_path(name)
        if self._logged(name):
            return [os.path.join(base, f) for f in self._log(name).live_files(as_of=as_of)]
        if not os.path.isdir(base):
            return []
        # mirrors the hidden-file rule of Spark's InMemoryFileIndex,
        # which table() hands a plain table's directory to; flat tables
        # only (files_processed), partition dirs are not descended
        return [
            os.path.join(base, f)
            for f in sorted(os.listdir(base))
            if not f.startswith(("_", ".")) and os.path.isfile(os.path.join(base, f))
        ]

    def latest_file_processed_timestamp(self, prefix: str) -> Optional[datetime]:
        """max(file_timestamp) of ``prefix``'s checkpoint rows as a UTC
        instant, or None. Read on the driver with pyarrow, one small
        file per checkpoint batch — no Spark job."""
        found = [
            ts
            for path in self._table_files("files_processed")
            if (ts := _file_max(path, prefix)) is not None
        ]
        return max(found, default=None)

    # -- ingest (§3.1 steps 6-8) -------------------------------------------
    def decode(self, file_type: str, frames: DataFrame) -> DataFrame:
        """Decode framed rows of ``file_type``, counting dropped frames
        in ``dropped_frames`` — the step batch ingest and the stream
        share. Enum overrides are applied here, before
        ``decode_frames`` builds its ``mapInPandas``: PySpark pickles
        the decode function (and the enum tables it holds) when the
        plan is built, so an override applied later never reaches the
        executors."""
        msg = REGISTRY[file_type].msg
        load_enum_overrides_from_env()
        warn_placeholder_enums(msg, file_type)
        return decode_frames(frames, msg, dropped_acc=self.dropped_frames)

    def commit_batch(
        self,
        file_type: str,
        decoded: DataFrame,
        files: Optional[list[FileInfo]] = None,
    ) -> dict[str, int]:
        """Project a decoded batch into every target table, append each
        one, then write ONE checkpoint append for ``files`` — strictly
        after the data (A16; at-least-once). Batch ingest and the
        stream's ``foreachBatch`` both commit through here. With
        ``files=None`` the checkpoint covers the batch's distinct
        ``file_source`` values: a stream micro-batch knows its files
        only from its rows. Returns {table: appended_rows}."""
        spec = REGISTRY[file_type]
        # cache a batch that is read more than once: single-pass demux
        # (decode once, serve N projections), and a stream batch is
        # first checked for rows
        cached = len(spec.tables) > 1 or files is None
        if cached:
            decoded = decoded.persist(StorageLevel.MEMORY_AND_DISK_DESER)
        try:
            if files is None and decoded.isEmpty():
                # its files decoded to no rows: no data and no file to
                # checkpoint, but an unpartitioned Spark write of no
                # rows still leaves one empty part-file per table
                return {name: 0 for name in spec.tables}
            batch, seen = decoded, None
            if files is None:
                # the file set rides the first append as an Observation
                # metric instead of a distinct() job of its own: every
                # append scans the whole batch, and the metric is taken
                # below each table's row filter
                seen = Observation()
                batch = decoded.observe(
                    seen, F.collect_set("file_source").alias("files")
                )
            out: dict[str, int] = {}
            for name, df in spec.project(batch).items():
                # batch row counts ride the WRITE action as an
                # Observation metric — no separate count() pass (a
                # second full scan of the batch, plus a second pandas-
                # UDF round for key-bearing tables; at warehouse scale
                # a whole redundant job per table)
                obs = Observation()
                df = df.observe(obs, F.count(F.lit(1)).alias("n"))
                self.append(name, df)
                out[name] = int(obs.get["n"])
            if seen is not None:
                files = [FileInfo.from_key(k) for k in sorted(seen.get["files"])]
            # checkpoint AFTER data commit (A16; at-least-once)
            self.save_files_processed(files)
            return out
        finally:
            if cached:
                decoded.unpersist()

    def ingest_files(
        self, file_type: str, files: list[FileInfo], paths: Optional[dict[str, str]] = None
    ) -> dict[str, int]:
        """Run the full pipeline for a list of files: frame -> decode ->
        project -> append + checkpoint. Returns {table: appended_rows}.

        All files of the batch are processed in ONE Spark job per
        target table (not per-file loops — the reference's per-file
        commit granularity is preserved only in the checkpoint rows).
        """
        if not files:
            return {}
        file_paths = [paths[f.key] if paths else f.key for f in files]
        # decode parallelism is frames_df's: the binaryFile scan's
        # tasks, widened to defaultParallelism when the batch holds
        # fewer files than that (at the 100 TB shape a batch fills the
        # cluster and no shuffle is added)
        decoded = self.decode(file_type, frames_df(self.spark, file_paths))
        return self.commit_batch(file_type, decoded, list(files))

    def ingest(
        self,
        file_type: str,
        directory: str,
        selection: Optional[FileSelection] = None,
    ) -> dict[str, int]:
        """CLI-shaped entry (§3.1-3.3): plan the file set from the
        selection args (+checkpoint for --continue), then ingest."""
        spec: FileTypeSpec = REGISTRY[file_type]
        selection = selection or FileSelection()
        checkpoint_after = None
        if selection.continue_:
            # checkpoint rows store the filename-parsed prefix (no
            # trailing '.'), so query with the normalized form — the
            # reference queries with the dotted constant and would
            # never match its own checkpoint rows for this file type
            # (latent quirk; deviation documented).
            checkpoint_after = self.latest_file_processed_timestamp(
                spec.prefix.rstrip(".")
            )
        files = selection.resolve_files(
            directory, spec.prefix, checkpoint_after=checkpoint_after
        )
        paths = {f.key: os.path.join(directory, os.path.basename(f.key)) for f in files}
        return self.ingest_files(file_type, files, paths=paths)
