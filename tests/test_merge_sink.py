"""MergeParquetSink (upsert into plain parquet) tests.

The scale contract: a partitioned merge must read and rewrite ONLY the
partitions the incoming batch touches (dynamic partition overwrite), so
a 1-of-N-partition merge is ~1/N of the table's IO, not a full rewrite.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from yaetl_spark.sinks import MergeParquetSink


def _rows(spark, path):
    return {
        tuple(r) for r in
        spark.read.parquet(path).select("k", "seg", "v").collect()
    }


def _mk(spark, data):
    return spark.createDataFrame(data, "k int, seg string, v double")


def test_merge_update_insert(spark, tmp_path):
    path = str(tmp_path / "tgt")
    sink = MergeParquetSink(path, keys=["k"])
    sink.write(_mk(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]))
    # k=2 updated, k=4 inserted, k=1/3 untouched
    sink.write(_mk(spark, [(2, "a", 20.0), (4, "b", 4.0)]))
    assert _rows(spark, path) == {
        (1, "a", 1.0), (2, "a", 20.0), (3, "b", 3.0), (4, "b", 4.0)}


def test_merge_delete_where(spark, tmp_path):
    path = str(tmp_path / "tgt")
    sink = MergeParquetSink(path, keys=["k"], delete_where="v < 0")
    sink.write(_mk(spark, [(1, "a", 1.0), (2, "a", 2.0)]))
    # k=1 deleted (tombstone row), k=2 updated
    sink.write(_mk(spark, [(1, "a", -1.0), (2, "a", 22.0)]))
    assert _rows(spark, path) == {(2, "a", 22.0)}


def test_partitioned_merge_rewrites_only_touched_partition(spark, tmp_path):
    path = str(tmp_path / "tgt")
    sink = MergeParquetSink(path, keys=["k"], partition_by=["seg"])
    sink.write(_mk(spark, [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]))

    untouched_before = sorted(glob.glob(os.path.join(path, "seg=b", "*")))
    sink.write(_mk(spark, [(2, "a", 20.0), (5, "a", 5.0)]))
    untouched_after = sorted(glob.glob(os.path.join(path, "seg=b", "*")))

    # dynamic overwrite must leave the seg=b partition's files untouched
    assert untouched_before == untouched_after
    assert _rows(spark, path) == {
        (1, "a", 1.0), (2, "a", 20.0), (3, "b", 3.0), (5, "a", 5.0)}


def test_partitioned_merge_keeps_rows_of_null_partition(spark, tmp_path):
    """A NULL partition value (the __HIVE_DEFAULT_PARTITION__ directory)
    is pruned null-safely: the untouched keys of that partition survive
    an upsert into it."""
    path = str(tmp_path / "tgt")
    sink = MergeParquetSink(path, keys=["k"], partition_by=["seg"])
    sink.write(_mk(spark, [(1, None, 1.0), (2, None, 2.0), (3, "b", 3.0)]))
    sink.write(_mk(spark, [(2, None, 20.0)]))
    assert _rows(spark, path) == {
        (1, None, 1.0), (2, None, 20.0), (3, "b", 3.0)}


def test_partitioned_merge_of_empty_batch_keeps_target(spark, tmp_path):
    """An empty batch touches no partition: the merge is a no-op (a flow
    whose qualify drops every row still runs its partitioned upsert)."""
    path = str(tmp_path / "tgt")
    sink = MergeParquetSink(path, keys=["k"], partition_by=["seg"])
    sink.write(_mk(spark, [(1, "a", 1.0), (3, "b", 3.0)]))
    sink.write(_mk(spark, []))
    assert _rows(spark, path) == {(1, "a", 1.0), (3, "b", 3.0)}


def test_merge_into_empty_target_is_plain_write(spark, tmp_path):
    path = str(tmp_path / "fresh")
    sink = MergeParquetSink(path, keys=["k"], partition_by=["seg"])
    sink.write(_mk(spark, [(1, "a", 1.0)]))
    assert _rows(spark, path) == {(1, "a", 1.0)}


def test_clustered_sink_layout_enables_file_pruning(spark, tmp_path):
    """Range clustering must (a) round-trip all rows, (b) produce files
    with disjoint key ranges so a key filter touches a subset of files."""
    import glob

    import pyarrow.parquet as pq

    from yaetl_spark.sinks import ClusteredParquetSink

    out = str(tmp_path / "clustered")
    df = spark.range(0, 10_000).withColumn("payload", F.hash("id"))
    ClusteredParquetSink(out, cluster_by=["id"], num_files=8).write(df)

    back = spark.read.parquet(out)
    assert back.count() == 10_000

    # every data file covers a contiguous id range; ranges must not overlap
    ranges = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        ids = [md.row_group(i).column(0) for i in range(md.num_row_groups)]
        lo = min(c.statistics.min for c in ids)
        hi = max(c.statistics.max for c in ids)
        ranges.append((lo, hi))
    ranges.sort()
    assert len(ranges) == 8
    for (alo, ahi), (blo, bhi) in zip(ranges, ranges[1:]):
        assert ahi < blo  # disjoint: min/max stats prune whole files


def test_zorder_sink_bounds_file_regions_on_both_dims(spark, tmp_path):
    """Z-order layout: every file must cover a small REGION of the 2-D key
    space (both dims bounded), unlike 1-D range clustering where the
    second dim spans the full domain in every file."""
    import glob

    import pyarrow.parquet as pq

    from yaetl_spark.sinks import ClusteredParquetSink

    out = str(tmp_path / "zordered")
    df = (
        spark.range(0, 16_384)
        .withColumn("x", (F.col("id") % 128).cast("long"))
        .withColumn("y", (F.col("id") / 128).cast("long"))
    )
    ClusteredParquetSink(
        out, cluster_by=["x", "y"], num_files=16, zorder=True
    ).write(df)

    back = spark.read.parquet(out)
    assert back.count() == 16_384
    assert "_z" not in back.columns

    areas = []
    for f in glob.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        schema_names = md.schema.to_arrow_schema().names
        spans = {}
        for col in ("x", "y"):
            ci = schema_names.index(col)
            cs = [md.row_group(i).column(ci).statistics
                  for i in range(md.num_row_groups)]
            spans[col] = (max(c.max for c in cs) - min(c.min for c in cs))
        areas.append((spans["x"] + 1) * (spans["y"] + 1))
    # 16 z-tiles of a 128x128 grid: each file's bounding box must be a
    # fraction of the domain (1-D clustering would give full-width boxes)
    assert max(areas) <= 128 * 128 / 3


def test_zorder_sink_validates_args(spark):
    from yaetl_spark.sinks import ClusteredParquetSink

    import pytest

    with pytest.raises(ValueError):
        ClusteredParquetSink("/tmp/x", ["a"], zorder=True)
    with pytest.raises(ValueError):
        ClusteredParquetSink("/tmp/x", ["a", "b", "c"], zorder=True,
                             zorder_bits=32)


def test_zorder_rejects_strings_handles_dates_and_nulls(spark, tmp_path):
    import datetime

    import pytest

    from yaetl_spark.sinks import ClusteredParquetSink

    with pytest.raises(ValueError, match="non-orderable-numeric"):
        ClusteredParquetSink(
            str(tmp_path / "bad"), ["s", "x"], num_files=2, zorder=True
        ).write(spark.createDataFrame([("a", 1)], "s string, x long"))

    # dates work (day-number axis) and a NULL key lands in cell 0, not top
    rows = [(datetime.date(2024, 1, d % 28 + 1), float(d)) for d in range(200)]
    rows.append((None, 0.0))
    df = spark.createDataFrame(rows, "d date, v double")
    out = str(tmp_path / "dated")
    ClusteredParquetSink(out, ["d", "v"], num_files=4, zorder=True).write(df)
    assert spark.read.parquet(out).count() == 201


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    import glob

    from yaetl_spark.sinks import compact_parquet

    out = str(tmp_path / "fragmented")
    spark.range(0, 20_000).withColumn("v", F.hash("id")) \
        .repartition(40).write.parquet(out)
    assert len(glob.glob(f"{out}/part-*.parquet")) == 40

    n = compact_parquet(spark, out, target_file_bytes=100 * 1024)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == n < 40
    assert spark.read.parquet(out).count() == 20_000
    # staging/trash directories cleaned up
    assert not glob.glob(f"{out}__*")
