"""Minimal lakehouse table: parquet partitioned by a key column with an
idempotent last-writer-wins upsert (SURVEY.md §2.1 op-sink-upsert).

Replaces the reference's Postgres ``INSERT ... ON CONFLICT (date,
region_id) DO UPDATE`` (ingest_capacity.py:178-193). In a Delta/Iceberg
environment this would be ``MERGE INTO``; the portable mechanism here:

1. Partition the table by ``date`` — the analog of the reference's
   unique B-tree on (date, region_id) (models.py:54-56): date-keyed
   queries partition-prune, and an upsert touches only incoming dates.
2. Merge = read ONLY the partitions for incoming dates (pruned scan),
   union with incoming, window-dedup on the natural key (incoming
   wins), then dynamic-partition-overwrite just those partitions.
3. ``localCheckpoint`` materializes the merged slice before the write
   so Spark's read/write-same-path check doesn't trip; the working set
   is bounded by the batch's touched partitions, not table size — this
   is what keeps a 100 TB table upsertable by a 1 GB micro-batch.

Schema recorded at commit: every write records the schema of the table's
data files (partition columns excluded: they live in directory names) as
JSON in ``_lake_schema.json`` at the table root, through the Hadoop
``FileSystem`` API. ``read()`` hands that schema to the reader, so a read
lists files but launches no Spark job; without it Spark runs a footer job
on every read to infer the schema. Commit order keeps the file never
narrower than the data files: a partition overwrite or an append widens
it *before* data lands (a reader in between sees the new column as
NULL, exactly as untouched partitions show it afterwards); a
full-directory rewrite (``replace``) deletes the old file with the
directory and writes the new one *after* the data. A column whose type
changes removes the file. A table without the file — written before
schema recording, or caught between a rewrite and its schema write —
reads with ``mergeSchema`` as before, and keeps doing so until a full
rewrite records one. Hidden names (leading ``_``) keep the file out of
Spark's scans and out of ``partition_file_counts``/``compact``/``vacuum``.

Lake tables are written only through ``LakeTable`` (``overwrite``,
``upsert``, ``compact``, ``replace``, ``append``) and
``sources.sinks.append_run_log``, so every writer keeps the file in step.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..artifacts import hadoop_fs, read_text, write_text
from ..operators.upsert import dedup_last_writer, upsert_last_writer_wins

SCHEMA_FILE = "_lake_schema.json"


def _widen(recorded: StructType, incoming: StructType) -> StructType | None:
    """``recorded`` plus the fields only ``incoming`` has, appended in
    order (where ``unionByName(allowMissingColumns=True)`` puts them);
    None when a field both carry changed type."""
    have = {f.name: f.dataType for f in recorded.fields}
    if any(have.get(f.name, f.dataType) != f.dataType for f in incoming.fields):
        return None
    return StructType(
        recorded.fields + [f for f in incoming.fields if f.name not in have]
    )


class LakeTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        partition_col: str = "date",
        version_col: str | None = "created_at",
        sort_cols: Sequence[str] | None = None,
        data_format: str = "parquet",
    ):
        """``sort_cols``: optional within-file clustering columns. Every
        write sorts rows inside each task by (partition, *sort_cols)
        before the parquet encoder sees them, so each row group's
        min/max statistics become tight, disjoint ranges — a reader
        with a range/equality predicate on a sort column then skips
        whole row groups from the footer alone (the poor man's Z-order;
        single-column clustering is exactly what the reference's B-tree
        second key gave it). Costs one in-task sort at write time, no
        extra shuffle.

        ``data_format``: ``parquet`` (default) or ``orc`` — both are
        Spark-native columnar formats with identical partition-pruning,
        predicate-pushdown, and dynamic-partition-overwrite behavior,
        so the whole merge/compact machinery is format-agnostic; ORC
        matters for lakes shared with Hive/Trino deployments that
        standardized on it."""
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.partition_col = partition_col
        self.version_col = version_col
        self.sort_cols = list(sort_cols) if sort_cols else []
        if data_format not in ("parquet", "orc"):
            raise ValueError(
                f"unsupported data_format {data_format!r}: parquet | orc"
            )
        self.data_format = data_format

    def exists(self) -> bool:
        fs, root = hadoop_fs(self.spark, self.path)
        if not fs.exists(root):
            return False
        jvm_path = self.spark._jvm.org.apache.hadoop.fs.Path
        if fs.exists(jvm_path(root, "_SUCCESS")):
            return True
        prefix = f"{self.partition_col}="
        return any(
            st.isDirectory() and st.getPath().getName().startswith(prefix)
            for st in fs.listStatus(root)
        )

    def _schema_file(self):
        fs, root = hadoop_fs(self.spark, self.path)
        return fs, self.spark._jvm.org.apache.hadoop.fs.Path(root, SCHEMA_FILE)

    def recorded_schema(self) -> StructType | None:
        """The data-file schema recorded at the last commit, or None for
        a table without one."""
        fs, path = self._schema_file()
        if not fs.exists(path):
            return None
        text = read_text(self.spark, fs, path)
        return StructType.fromJson(json.loads(text))

    def _record_schema(self, schema: StructType | None) -> None:
        """Replace the schema file (remove it for None). Written under a
        temporary name and renamed, so a reader sees the old file, the
        new one, or none (and then falls back to ``mergeSchema``) —
        never a partial one."""
        fs, path = self._schema_file()
        if schema is None:
            fs.delete(path, False)
            return
        tmp = self.spark._jvm.org.apache.hadoop.fs.Path(
            path.getParent(), f"{SCHEMA_FILE}.tmp"
        )
        write_text(fs, tmp, schema.json(), overwrite=True)
        # HDFS-style rename does not replace an existing target
        fs.delete(path, False)
        fs.rename(tmp, path)

    def _widen_recorded(self, data_schema: StructType) -> None:
        """Before data files of ``data_schema`` land: a new table records
        it; a recorded one is widened to cover it; a table without the
        file is left to the ``mergeSchema`` read."""
        if not self.exists():
            self._record_schema(data_schema)
            return
        recorded = self.recorded_schema()
        if recorded is not None:
            widened = _widen(recorded, data_schema)
            if widened != recorded:
                self._record_schema(widened)

    def read(self) -> DataFrame:
        reader = self.spark.read.format(self.data_format)
        schema = self.recorded_schema()
        if schema is not None:
            # partition columns are not in the file: Spark infers them
            # from directory names as before, after the data columns
            return reader.schema(schema).load(self.path)
        # mergeSchema: dynamic partition overwrite only rewrites touched
        # partitions, so after a column is added the untouched
        # partitions still hold the old physical schema — the merged
        # read surfaces the union schema with NULLs for the missing
        # column (the lake-format ALTER TABLE ADD COLUMN behavior)
        return reader.option("mergeSchema", "true").load(self.path)

    def overwrite(self, df: DataFrame) -> None:
        self._widen_recorded(
            StructType(
                [f for f in df.schema.fields if f.name != self.partition_col]
            )
        )
        if self.sort_cols:
            df = df.sortWithinPartitions(self.partition_col, *self.sort_cols)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(self.partition_col)
            .format(self.data_format)
            .save(self.path)
        )

    def replace(self, df: DataFrame) -> None:
        """Rewrite the whole table as unpartitioned files (a small
        dimension). The overwrite deletes the directory, old schema file
        included, so the schema is recorded after the data."""
        df.write.mode("overwrite").format(self.data_format).save(self.path)
        self._record_schema(df.schema)

    def append(self, df: DataFrame) -> None:
        """Append unpartitioned files (the run log)."""
        self._widen_recorded(df.schema)
        df.write.mode("append").format(self.data_format).save(self.path)

    def upsert(self, incoming: DataFrame) -> None:
        """Idempotent natural-key upsert; incoming wins conflicts."""
        # Within-batch dedup first (the reference's single multi-row
        # INSERT can't carry duplicate natural keys either).
        if self.version_col and self.version_col in incoming.columns:
            incoming = dedup_last_writer(incoming, self.keys, self.version_col)
        else:
            incoming = incoming.dropDuplicates(self.keys)

        if not self.exists():
            self.overwrite(incoming)
            return

        # Evaluate the batch once: the checkpoint that pins it also
        # observes its distinct partition values, which buy partition
        # pruning on the big side (a micro-batch touches few dates, so
        # the set is driver-cheap).
        touched = Observation()
        incoming = incoming.observe(
            touched, F.collect_set(self.partition_col).alias("values")
        ).localCheckpoint(eager=True)
        existing_slice = self.read().filter(
            F.col(self.partition_col).isin(touched.get["values"])
        )
        merged = upsert_last_writer_wins(
            existing_slice,
            incoming,
            self.keys,
            version_col=(
                self.version_col
                if self.version_col and self.version_col in incoming.columns
                else None
            ),
        )
        # Materialize before overwriting partitions we just read.
        merged = merged.localCheckpoint(eager=True)
        self.overwrite(merged)

    # Hive's sentinel directory for a NULL partition value — compaction
    # skips it (its rows cannot be selected back by an isin filter).
    _NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

    def partition_file_counts(self) -> dict[str, int]:
        """data-file count per partition VALUE, via the Hadoop
        ``FileSystem`` API so the walk works on any scheme (file:,
        hdfs:, s3a:, ...). Keys are the unescaped values — Hadoop
        %-escapes special chars (':' → '%3A', etc.) in directory names,
        and matching raw column values against escaped names would
        silently select nothing."""
        from urllib.parse import unquote

        out: dict[str, int] = {}
        fs, root = hadoop_fs(self.spark, self.path)
        if not fs.exists(root):
            return out
        prefix = f"{self.partition_col}="
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith(prefix):
                out[unquote(name[len(prefix):])] = sum(
                    1
                    for f in fs.listStatus(st.getPath())
                    if f.isFile()
                    and f.getPath().getName().endswith(f".{self.data_format}")
                    and not f.getPath().getName().startswith(".")
                )
        return out

    def compact(self, min_files: int = 2) -> dict[str, int]:
        """Small-file maintenance (the OPTIMIZE/rewrite_data_files analog
        of Delta/Iceberg): rewrite every partition holding >= ``min_files``
        part files down to ONE file per partition.

        Micro-batch upserts fragment partitions — each merge write emits
        one file per shuffle task that holds rows of the partition — and
        at 100 TB the resulting tiny-file sea dominates scan overhead
        (footer reads, task scheduling). The rewrite reads ONLY the
        fragmented partitions (pruned scan), hash-repartitions on the
        partition column so each partition's rows land in exactly one
        task (= one output file), and dynamic-overwrites just those
        directories. Row content is untouched — compaction is a pure
        layout operation. Returns {partition: files_before} for the
        partitions rewritten."""
        fragmented = {
            p: n
            for p, n in self.partition_file_counts().items()
            if n >= min_files and p != self._NULL_PARTITION
        }
        if not fragmented:
            return {}
        touched = list(fragmented)
        part = F.col(self.partition_col).cast("string")
        slice_df = self.read().filter(part.isin(touched))
        compacted = slice_df.repartition(
            len(touched), F.col(self.partition_col)
        ).localCheckpoint(eager=True)
        self.overwrite(compacted)
        return fragmented


    def vacuum(
        self,
        before: str | None = None,
        keep: Sequence[str] | None = None,
        dry_run: bool = False,
    ) -> dict[str, int]:
        """Partition-level retention — the third lake maintenance
        primitive beside ``upsert`` and ``compact``: drop whole
        partition directories whose value falls out of the retention
        policy. At 100 TB a date-partitioned lake grows one partition
        per day forever; retention is a metadata-cheap directory drop,
        never a row-level rewrite (the reference has no analog — its
        rejects dir grows unboundedly, ingest_capacity.py:140-153).

        Exactly one of:

        - ``before``: drop partitions with value < ``before`` (string
          compare on the unescaped directory value — for ISO dates
          lexicographic == chronological, which is why the lake
          partitions by ISO strings);
        - ``keep``: drop partitions NOT in the explicit keep-set.

        ``dry_run=True`` returns the would-be victims without touching
        anything. Returns ``{partition_value: data_file_count}`` for
        the partitions dropped (or selected, under dry-run).

        The Hive NULL-partition sentinel is never dropped (its rows
        are invisible to value predicates either way).

        Crash discipline: the victim list is marker-committed — a
        ``_VACUUM_PENDING`` file (JSON victim list) lands before the
        first directory drop and is removed after the last, so an
        interrupted vacuum is DETECTABLE (the marker names what was in
        flight) and safely resumable: deletes are idempotent, and a
        leftover marker is overwritten by the rerun. Readers are
        unaffected mid-vacuum — they simply stop seeing dropped
        partitions; untouched partitions never change (pinned by the
        pruned-query-equality test)."""
        if (before is None) == (keep is None):
            raise ValueError("vacuum needs exactly one of before= / keep=")
        if isinstance(keep, str):
            # a plain string satisfies Sequence[str] by iterating its
            # CHARACTERS — which would mark every partition a victim
            # and drop the whole table; refuse the footgun loudly
            raise ValueError(
                "keep= must be a collection of partition values, not a "
                f"string (got {keep!r}) — wrap it: keep=[{keep!r}]"
            )
        counts = self.partition_file_counts()
        if keep is not None:
            keep_set = {str(k) for k in keep}
            victims = {
                p: n
                for p, n in counts.items()
                if p != self._NULL_PARTITION and p not in keep_set
            }
        else:
            victims = {
                p: n
                for p, n in counts.items()
                if p != self._NULL_PARTITION and p < before
            }
        if dry_run:
            return victims

        import json

        fs, root = hadoop_fs(self.spark, self.path)
        jvm_path = self.spark._jvm.org.apache.hadoop.fs.Path
        marker = jvm_path(root, "_VACUUM_PENDING")
        if not victims:
            # finish an interrupted vacuum that deleted its last victim
            # but died before removing the marker — otherwise the stale
            # marker would signal "torn vacuum" forever, since the
            # no-victims rerun would never reach the marker logic
            if fs.exists(marker):
                fs.delete(marker, False)
            return victims
        out = fs.create(marker, True)
        out.write(bytearray(json.dumps(sorted(victims)).encode()))
        out.close()
        from urllib.parse import unquote

        prefix = f"{self.partition_col}="
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if (
                st.isDirectory()
                and name.startswith(prefix)
                and unquote(name[len(prefix):]) in victims
            ):
                fs.delete(st.getPath(), True)
        fs.delete(marker, False)
        return victims


def write_bucketed_table(
    df, table: str, key: str, buckets: int = 32
) -> None:
    """Materialize a fact table BUCKETED (and sorted) on its join key —
    the co-located-join layout for fact⋈fact keys (SCALE.md storage
    notes): two tables bucketed on the same key with the same bucket
    count join with ZERO exchange on either side, because bucket i of
    one table can only match bucket i of the other. At 100 TB this
    converts every repeated join/aggregation on the key (order ⋈
    lineitem style) from a full shuffle of both sides into a local
    merge per bucket — the write pays the shuffle once, every
    downstream join skips it (plan-asserted by
    ``test_bucketed_join_is_shuffle_free``). ``buckets`` should be
    sized so one bucket ≈ one task's worth of data at the target
    scale; it must MATCH across the tables that join."""
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def _zorder_double(df: DataFrame, col: str):
    """A double-valued projection of a Z-order column, or raise: Z-order
    needs a total order with meaningful min/max file stats, so numeric,
    date, and timestamp qualify; strings (and binary) do not — their
    parquet stats prune poorly under interleaving and hashing them
    would destroy range locality. Dates map to epoch days, timestamps
    to epoch seconds."""
    dt = dict(df.dtypes).get(col)
    if dt is None:
        raise ValueError(f"column {col!r} not in frame")
    if dt in ("date",):
        return F.datediff(F.col(col), F.to_date(F.lit("1970-01-01"))).cast(
            "double"
        )
    if dt.startswith("timestamp"):
        return F.col(col).cast("long").cast("double")
    if dt in ("tinyint", "smallint", "int", "bigint", "float", "double") or (
        dt.startswith("decimal")
    ):
        return F.col(col).cast("double")
    raise ValueError(
        f"Z-order column {col!r} has type {dt} — only numeric, date, "
        "and timestamp columns carry range-prunable parquet stats"
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 32,
    bits: int = 4,
) -> dict:
    """Rewrite a table Z-ORDERED on ``cols`` — multi-column data
    skipping for the 100 TB scan path. A single sort key gives perfect
    file pruning on its leading column and none on the others;
    interleaving the bits of each column's quantile-bucket rank (the
    Morton / Z-order curve — public technique, the layout behind
    Delta's OPTIMIZE ZORDER and the classic UB-tree) makes every file
    cover a small hyper-rectangle of the key space, so parquet
    min/max footer stats prune files for range predicates on ANY
    subset of the columns.

    Mechanics: per column, ``2^bits - 1`` approxQuantile boundaries
    (driver-side, model-sized) map each value to a ``bits``-bit
    equi-depth rank (quantile bucketing, not raw-value scaling, so
    skewed distributions still split evenly; NULLs rank 0); ranks
    interleave bit-by-bit into a single integer Column; one
    ``repartitionByRange`` shuffle on it + a within-file sort, and the
    curve column is dropped before the write (it is derivable, not
    data). Cost: ONE full shuffle at write time — the same price
    ``write_bucketed_table`` pays — amortized over every pruned scan
    after. Returns the layout recipe (cols, bits, per-column
    boundaries, file count) so a maintenance job can re-apply it to
    new partitions. Verify pruning with ``file_skipping_report``."""
    cols = list(cols)
    if not cols:
        raise ValueError("need at least one Z-order column")
    if bits < 1 or bits * len(cols) > 32:
        raise ValueError(
            f"bits={bits} x {len(cols)} cols exceeds the 32-bit curve "
            "budget (lower bits or fewer columns)"
        )
    proj = df.select(
        *[_zorder_double(df, c).alias(f"_zc_{i}") for i, c in enumerate(cols)]
    )
    qs = [k / (1 << bits) for k in range(1, 1 << bits)]
    # one multi-column approxQuantile pass — k separate calls would
    # each rescan the table
    all_bounds = proj.stat.approxQuantile(
        [f"_zc_{i}" for i in range(len(cols))], qs, 0.001
    )
    bounds = {c: all_bounds[i] for i, c in enumerate(cols)}
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        v = _zorder_double(df, c)
        rank = F.lit(0)
        # strictly-greater comparisons against the sorted boundaries
        # sum to the equi-depth bucket id; NULL comparisons fall to 0
        for b in bounds[c]:
            rank = rank + F.when(v > F.lit(float(b)), 1).otherwise(0)
        for j in range(bits):
            # bit j of this column's rank lands at curve position
            # j * n_cols + i — distinct positions, so + is bitwise OR
            z = z + F.shiftleft(
                F.shiftright(rank, j).bitwiseAND(F.lit(1)).cast("long"),
                j * len(cols) + i,
            )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        # the natural call rewrites a table over ITS OWN path; pin the
        # shuffled+sorted layout before the overwrite truncates the
        # input files (the LakeTable.upsert read-write-same-path
        # discipline). Partition order survives localCheckpoint.
        .localCheckpoint(eager=True)
        .write.mode("overwrite")
        .parquet(path)
    )
    return {
        "cols": cols,
        "bits": bits,
        "n_files": n_files,
        "boundaries": bounds,
    }


def file_skipping_report(path: str, predicates: dict) -> dict:
    """How much of a parquet table a range scan must READ, from footer
    stats alone — the observable a layout decision (``zorder_write``
    vs a single-column sort) is judged by, computed exactly the way an
    engine's scan planner does it: a file (or row group) can be
    SKIPPED iff for some predicate column its [min, max] stats are
    disjoint from the predicate's [lo, hi] (either bound may be None
    for half-open ranges); a file with a matching row can therefore
    never be skipped (stats bound the data). Footer-only and
    driver-side by design — this reads metadata, not data, exactly
    like the planner it models. ``predicates`` maps column name ->
    (lo, hi) inclusive; values must be comparable with the column's
    parquet stats type (int/float for numerics, ``datetime.date`` for
    date columns). Missing stats on any predicate column makes a file
    unskippable (the planner's conservative default)."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    files = sorted(
        _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    if not files:
        raise ValueError(f"no parquet files under {path}")
    files_read = rg_total = rg_read = 0
    for f in files:
        md = _pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        missing = [c for c in predicates if c not in names]
        if missing:
            raise ValueError(f"column(s) {missing} not in {f}")
        file_needed = False
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            rg_total += 1
            needed = True
            for c, (lo, hi) in predicates.items():
                st = rg.column(names[c]).statistics
                if st is None or not st.has_min_max:
                    continue  # conservative: cannot skip on this column
                if (hi is not None and st.min > hi) or (
                    lo is not None and st.max < lo
                ):
                    needed = False
                    break
            if needed:
                rg_read += 1
                file_needed = True
        if file_needed:
            files_read += 1
    return {
        "files_total": len(files),
        "files_read": files_read,
        "files_skipped": len(files) - files_read,
        "row_groups_total": rg_total,
        "row_groups_read": rg_read,
        "row_groups_skipped": rg_total - rg_read,
    }
