"""File sinks: CSV, parquet, JSON.

CSV parity targets ``/root/reference/src/Loaders/File/CsvLoader.php:52-113``:
header emission, custom sep/quote/escape, optional UTF-8 BOM and Excel
``sep=`` preamble. Spark writes a *directory* of part files (one per
partition — that's the scale path); ``single_file=True`` coalesces to one
partition and renames the part file, which is correct for exports but a
deliberate anti-scale choice the caller opts into.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame

from .base import Sink


class ParquetSink(Sink):
    fmt = "parquet"

    def __init__(self, path: str, mode: str = "overwrite",
                 partition_by: list[str] | None = None, **kw):
        super().__init__(**kw)
        self.path = path
        self.mode = mode
        self.partition_by = partition_by

    def write(self, df: DataFrame) -> None:
        writer = df.write.mode(self.mode)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.format(self.fmt).save(self.path)


class OrcSink(ParquetSink):
    fmt = "orc"


class CsvSink(Sink):
    def __init__(
        self,
        path: str,
        header: bool = True,
        sep: str = ",",
        quote: str = '"',
        escape: str = '"',
        encoding: str = "UTF-8",
        mode: str = "overwrite",
        single_file: bool = False,
        bom: bool = False,
        sep_line: bool = False,
        quote_all: bool = False,
        **kw,
    ):
        super().__init__(**kw)
        self.path = path
        self.header = header
        self.sep = sep
        self.quote = quote
        self.escape = escape
        self.encoding = encoding
        self.mode = mode
        self.single_file = single_file
        self.bom = bom
        self.sep_line = sep_line
        self.quote_all = quote_all

    def write(self, df: DataFrame) -> None:
        target = self.path
        tmp = None
        exists = os.path.exists(self.path)
        if self.single_file:
            # mode applies to the FINAL file, not the tmp part dir: honor
            # append/error/ignore here instead of silently truncating
            if self.mode in ("error", "errorifexists") and exists:
                raise FileExistsError(self.path)
            if self.mode == "ignore" and exists:
                return
            tmp = self.path + "._spark_tmp"
            target = tmp
            df = df.coalesce(1)
        (
            df.write.mode("overwrite" if self.single_file else self.mode)
            .option("header", self.header)
            .option("sep", self.sep)
            .option("quote", self.quote)
            .option("escape", self.escape)
            .option("encoding", self.encoding)
            .option("quoteAll", self.quote_all)
            .option("emptyValue", "")
            .csv(target)
        )
        if self.single_file:
            # stream-copy the part file in bounded chunks — the export
            # use-case is small by design, but a surprise-large frame
            # must not buffer whole in driver memory
            part = sorted(glob.glob(os.path.join(tmp, "part-*")))[0]
            with open(part, "rb") as src:
                if self.mode == "append" and exists:
                    if self.header:
                        src.readline()  # drop the duplicated header line
                    with open(self.path, "ab") as out:
                        shutil.copyfileobj(src, out, 1 << 20)
                else:
                    with open(self.path, "wb") as out:
                        if self.bom:
                            out.write("﻿".encode(self.encoding))
                        if self.sep_line:
                            out.write(f"sep={self.sep}\n".encode(self.encoding))
                        shutil.copyfileobj(src, out, 1 << 20)
            shutil.rmtree(tmp)


class BucketedTableSink(Sink):
    """Managed-table sink with hash bucketing on the join/agg key.

    The 100 TB co-location primitive: two tables bucketed by the same key
    into the same bucket count join WITHOUT a shuffle (Catalyst reuses the
    bucketing as the required distribution), and ``sort_by`` additionally
    removes the sort from sort-merge joins. Use for fact tables that are
    joined/aggregated on the same key repeatedly — pay one shuffle at write
    time, skip it on every read.
    """

    def __init__(
        self,
        table: str,
        bucket_by: list[str],
        num_buckets: int = 32,
        sort_by: list[str] | None = None,
        partition_by: list[str] | None = None,
        mode: str = "overwrite",
        fmt: str = "parquet",
        **kw,
    ):
        super().__init__(**kw)
        self.table = table
        self.bucket_by = bucket_by
        self.num_buckets = num_buckets
        self.sort_by = sort_by
        self.partition_by = partition_by
        self.mode = mode
        self.fmt = fmt

    def write(self, df: DataFrame) -> None:
        writer = (
            df.write.mode(self.mode)
            .format(self.fmt)
            .bucketBy(self.num_buckets, *self.bucket_by)
        )
        if self.sort_by:
            writer = writer.sortBy(*self.sort_by)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.saveAsTable(self.table)


def _interleave_bits(cols, bits: int):
    """Morton/z-value from pre-normalized long columns in ``[0, 2^bits)``:
    bit i of column j lands at position ``i * k + j``. Pure JVM shift/or
    expressions — ``bits * k`` terms, all inside whole-stage codegen."""
    from pyspark.sql import functions as F

    k = len(cols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftrightunsigned(c, i).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, i * k + j))
    return z


class ClusteredParquetSink(Sink):
    """Clustered parquet layout: ``repartitionByRange`` +
    ``sortWithinPartitions`` on the cluster keys — or on their
    interleaved z-value with ``zorder=True``.

    The data-clustering primitive for scan pruning at 100 TB: each output
    file covers a narrow key region, so parquet row-group min/max
    statistics let a key filter skip almost every file. Plain range
    clustering is ideal for one dominant access dimension (time series,
    id ranges); z-order trades a little per-dimension tightness for
    pruning on EVERY cluster key at once (multi-tenant time × entity
    scans). Cost at write time: one min/max agg job over the cluster
    keys (z-order only, to normalize domains) + one range shuffle whose
    boundaries Spark samples automatically; reads after that prune free.
    """

    def __init__(
        self,
        path: str,
        cluster_by: list[str],
        num_files: int | None = None,
        mode: str = "overwrite",
        zorder: bool = False,
        zorder_bits: int = 16,
        **kw,
    ):
        super().__init__(**kw)
        if not cluster_by:
            raise ValueError("cluster_by must name at least one column")
        if zorder and len(cluster_by) < 2:
            raise ValueError("zorder needs at least two cluster columns")
        if zorder and zorder_bits * len(cluster_by) > 63:
            raise ValueError("zorder_bits * len(cluster_by) must fit in 63 bits")
        self.path = path
        self.cluster_by = cluster_by
        self.num_files = num_files
        self.mode = mode
        self.zorder = zorder
        self.zorder_bits = zorder_bits

    def write(self, df: DataFrame) -> None:
        from pyspark.sql import functions as F
        from pyspark.sql.types import DateType, NumericType, TimestampType

        if self.zorder:
            # silent degradation would be worse than an error: a
            # non-numeric dimension would collapse to constant 0 and the
            # layout would quietly stop pruning on it
            num_exprs: dict[str, object] = {}
            for c in self.cluster_by:
                dt = df.schema[c].dataType
                if isinstance(dt, DateType):
                    # cast(date as double) is null in Spark — use day number
                    num_exprs[c] = F.datediff(
                        F.col(c), F.lit("1970-01-01")).cast("double")
                elif isinstance(dt, (NumericType, TimestampType)):
                    num_exprs[c] = F.col(c).cast("double")
                else:
                    raise ValueError(
                        f"zorder column {c!r} has non-orderable-numeric "
                        f"type {dt.simpleString()}; cast it to a numeric/"
                        "date/timestamp first"
                    )
            stats = df.agg(
                *[F.min(num_exprs[c]).alias(f"_mn_{c}")
                  for c in self.cluster_by],
                *[F.max(num_exprs[c]).alias(f"_mx_{c}")
                  for c in self.cluster_by],
            ).first()
            top = (1 << self.zorder_bits) - 1
            scaled = []
            for c in self.cluster_by:
                mn, mx = stats[f"_mn_{c}"], stats[f"_mx_{c}"]
                if mn is None or mx is None or mx == mn:
                    scaled.append(F.lit(0).cast("long"))
                    continue
                q = F.floor(
                    (num_exprs[c] - F.lit(float(mn)))
                    / F.lit(float(mx) - float(mn)) * top
                ).cast("long")
                # NULL keys sort first (cell 0), not into the top cell —
                # least/greatest skip nulls, so coalesce explicitly
                scaled.append(
                    F.coalesce(
                        F.greatest(F.lit(0), F.least(F.lit(top), q)),
                        F.lit(0),
                    )
                )
            keyed = df.withColumn(
                "_z", _interleave_bits(scaled, self.zorder_bits))
            cols = [keyed["_z"]]
        else:
            keyed = df
            cols = [df[c] for c in self.cluster_by]
        if self.num_files:
            clustered = keyed.repartitionByRange(self.num_files, *cols)
        else:
            clustered = keyed.repartitionByRange(*cols)
        out = clustered.sortWithinPartitions(*cols)
        if self.zorder:
            # projecting the key away preserves the partition sort order
            out = out.drop("_z")
        out.write.mode(self.mode).parquet(self.path)


class MergeParquetSink(Sink):
    """MERGE (upsert) into a parquet directory — no table format required.

    Semantics per incoming batch (the reference has no merge; this is the
    beyond-reference analogue of ``INSERT ... ON DUPLICATE KEY UPDATE``
    that its PDO loaders lean on, ``/root/reference/docs/loaders.md``):

    - matched key + ``delete_where`` row → existing row deleted;
    - matched key → existing row replaced by the incoming row;
    - unmatched key → incoming row inserted.

    Mechanics: existing rows anti-joined against incoming keys, unioned
    with the incoming batch, staged to a side directory (plain parquet has
    no transaction log, and Spark refuses to overwrite a path it is
    lazily reading), then committed.

    Scale path: with ``partition_by``, only partitions present in the
    incoming batch are read (partition pruning on the existing side) and
    only those are rewritten (dynamic partition overwrite) — a merge that
    touches 1 of 10 000 partitions reads and writes 1/10 000 of the table.
    Unpartitioned targets are rewritten whole via a directory swap (the
    swap is not atomic across processes — use a table format for
    concurrent writers).
    """

    def __init__(
        self,
        path: str,
        keys: list[str],
        partition_by: list[str] | None = None,
        delete_where: str | None = None,
        **kw,
    ):
        super().__init__(**kw)
        self.path = path
        self.keys = list(keys)
        self.partition_by = partition_by
        self.delete_where = delete_where

    def _target_exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            name.endswith(".parquet") or name.startswith(("part-", "_"))
            or "=" in name
            for name in os.listdir(self.path)
        )

    def write(self, df: DataFrame) -> None:
        from pyspark.sql import functions as F

        spark = df.sparkSession
        upserts = df.filter(f"NOT ({self.delete_where})") \
            if self.delete_where else df

        if not self._target_exists():
            writer = upserts.write.mode("overwrite")
            if self.partition_by:
                writer = writer.partitionBy(*self.partition_by)
            writer.parquet(self.path)
            return

        existing = spark.read.parquet(self.path)
        if self.partition_by:
            # prune the existing side to the partitions the batch touches
            touched = df.select(*self.partition_by).distinct().collect()
            pred = None
            for row in touched:
                clause = None
                for c in self.partition_by:
                    eq = F.col(c) == F.lit(row[c])
                    clause = eq if clause is None else (clause & eq)
                pred = clause if pred is None else (pred | clause)
            existing = existing.filter(pred)

        kept = existing.join(
            df.select(*self.keys).distinct(), on=self.keys, how="left_anti"
        )
        merged = kept.select(*df.columns).unionByName(upserts)

        stage = self.path.rstrip("/") + "._merge_stage"
        shutil.rmtree(stage, ignore_errors=True)
        merged.write.mode("overwrite").parquet(stage)
        try:
            if self.partition_by:
                (
                    spark.read.parquet(stage).write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy(*self.partition_by)
                    .parquet(self.path)
                )
            else:
                tmp_old = self.path.rstrip("/") + "._merge_old"
                shutil.rmtree(tmp_old, ignore_errors=True)
                os.rename(self.path, tmp_old)
                os.rename(stage, self.path)
                shutil.rmtree(tmp_old)
        finally:
            shutil.rmtree(stage, ignore_errors=True)


class JsonSink(Sink):
    def __init__(self, path: str, mode: str = "overwrite", **kw):
        super().__init__(**kw)
        self.path = path
        self.mode = mode

    def write(self, df: DataFrame) -> None:
        df.write.mode(self.mode).json(self.path)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ``ceil(total_bytes / target)``
    files — the small-file compaction maintenance job. Streaming sinks
    and frequent small merges fragment a table into thousands of tiny
    files; scan cost then goes to task scheduling and footer reads
    instead of data. Returns the new file count.

    Sizing reads the directory's byte total through the Hadoop
    FileSystem API (works for any scheme — local, HDFS, S3A).
    ``cluster_by`` range-partitions while rewriting, restoring min/max
    pruning at the same time. The commit is a staging write + directory
    swap, same non-atomicity caveat as MergeParquetSink's unpartitioned
    path: no table format, no concurrent-writer safety.
    """
    import math

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    total = fs.getContentSummary(jpath).getLength()
    n = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(path)
    staging = path.rstrip("/") + "__compacting"
    if cluster_by:
        # one clustering implementation: reuse the clustered sink so
        # future layout fixes (null ordering, z-order) reach compaction
        ClusteredParquetSink(staging, cluster_by, num_files=n).write(df)
    else:
        df.repartition(n).write.mode("overwrite").parquet(staging)
    trash = path.rstrip("/") + "__precompact"
    jstaging = jvm.org.apache.hadoop.fs.Path(staging)
    jtrash = jvm.org.apache.hadoop.fs.Path(trash)
    fs.delete(jtrash, True)
    # Hadoop rename reports failure via its return value, not an
    # exception — swallowing a false here would delete the only copy
    if not fs.rename(jpath, jtrash):
        fs.delete(jstaging, True)
        raise IOError(f"compact_parquet: could not move {path} aside")
    if not fs.rename(jstaging, jpath):
        # roll the original back before failing; rename reports failure
        # via its return value, so check it — if the rollback also fails
        # the only copy of the data is sitting at the trash path and the
        # error must say so
        rolled_back = fs.rename(jtrash, jpath)
        fs.delete(jstaging, True)
        if not rolled_back:
            raise IOError(
                f"compact_parquet: could not commit {staging} AND the "
                f"rollback rename failed — the original data is intact "
                f"at {trash}; move it back to {path} manually"
            )
        raise IOError(f"compact_parquet: could not commit {staging}")
    fs.delete(jtrash, True)
    return n
