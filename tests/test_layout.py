from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from lakeforge.ops.layout import zorder_key, zorder_write


def _file_ranges(path, col_idx):
    """(min, max) of a column across each parquet file, from footer stats."""
    out = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        mn = min(md.row_group(i).column(col_idx).statistics.min for i in range(md.num_row_groups))
        mx = max(md.row_group(i).column(col_idx).statistics.max for i in range(md.num_row_groups))
        out.append((mn, mx))
    return out


def test_zorder_key_interleaves_bits(spark):
    df = spark.createDataFrame([(0b101, 0b011)], ["x", "y"])
    # x=101, y=011 -> z bits (y2 x2 y1 x1 y0 x0) = 0 1 1 0 1 1 = 0b011011
    got = df.select(zorder_key(["x", "y"], bits=3).alias("z")).collect()[0]["z"]
    assert got == 0b011011


def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """Z-ordered files must each cover a small sub-range of BOTH columns;
    a lexicographic sort by x covers the full y-range in every file."""
    n, grid = 4096, 64
    df = spark.range(n).select(
        (F.col("id") % grid).alias("x"),
        ((F.col("id") * 2654435761) % grid).alias("y"),  # decorrelate dims
    )
    zpath = str(tmp_path / "z")
    xpath = str(tmp_path / "x")
    zorder_write(df, zpath, ["x", "y"], bits=6, n_files=16)
    (
        df.repartitionByRange(16, "x", "y").sortWithinPartitions("x", "y")
        .write.mode("overwrite").parquet(xpath)
    )

    # Average per-file y-extent: z-ordered files should cover far less of
    # the y domain than x-sorted files (which span nearly all of it).
    def avg_extent(path):
        rngs = _file_ranges(path, col_idx=1)  # y is 2nd column
        return sum(mx - mn for mn, mx in rngs) / len(rngs)

    z_y = avg_extent(zpath)
    x_y = avg_extent(xpath)
    assert z_y < x_y * 0.6, (z_y, x_y)

    # And the data itself round-trips unchanged.
    assert spark.read.parquet(zpath).count() == n


def test_dynamic_partition_pruning_fires_on_partitioned_join(spark, tmp_path):
    """A join whose dim-side filter implies a fact-partition subset must
    plan a dynamicpruning subquery on the fact scan — at 100 TB this is
    the difference between scanning one month and scanning the table."""
    fact_path = str(tmp_path / "fact_part")
    fact = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 12).cast("int").alias("month"),
        (F.col("id") * 2).alias("v"),
    )
    fact.repartition("month").write.partitionBy("month").parquet(fact_path)

    dim = spark.createDataFrame(
        [(m, "keep" if m == 3 else "drop") for m in range(12)],
        ["month", "tag"],
    )
    fact_r = spark.read.parquet(fact_path)
    q = fact_r.join(dim.filter(F.col("tag") == "keep"), "month").groupBy(
        "month"
    ).agg(F.sum("v").alias("sv"))

    plan = q._jdf.queryExecution().executedPlan().toString().lower()
    assert "dynamicpruning" in plan
    rows = q.collect()
    assert len(rows) == 1 and rows[0]["month"] == "3"


def test_compact_partitions_reduces_file_count(spark, tmp_path):
    from lakeforge.ops.layout import compact_partitions

    path = str(tmp_path / "fragmented")
    # simulate per-trigger micro-batch writes: 20 fragments
    spark.range(0, 2000).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("p")
    ).repartition(20).write.parquet(path)
    import glob as g
    assert len(g.glob(f"{path}/*.parquet")) == 20

    stats = compact_partitions(spark, path, target_mb=128)
    assert stats["files_before"] == 20
    assert stats["files_after"] == 1  # tiny table -> one right-sized file
    back = spark.read.parquet(path)
    assert back.count() == 2000
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(2000))


def test_compact_preserves_hive_partitions(spark, tmp_path):
    from lakeforge.ops.layout import compact_partitions

    path = str(tmp_path / "frag_hive")
    df = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("p")
    )
    df.repartition(10).write.partitionBy("p").parquet(path)
    import glob as g
    assert len(g.glob(f"{path}/p=*/*.parquet")) > 3

    compact_partitions(spark, path, partition_by=["p"])
    for v in ("0", "1", "2"):
        assert len(g.glob(f"{path}/p={v}/*.parquet")) == 1
    back = spark.read.parquet(path)
    assert back.count() == 300
    assert back.select("p").distinct().count() == 3


def test_versioned_commit_flip_and_time_travel(spark, tmp_path):
    from lakeforge.ops.layout import (
        commit_version,
        current_version,
        versioned_path,
    )

    root = str(tmp_path / "vtab")
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    assert commit_version(df1, root) == 0
    df2 = spark.range(0, 25).withColumnRenamed("id", "k")
    assert commit_version(df2, root) == 1

    assert current_version(root) == 1
    assert spark.read.parquet(versioned_path(root)).count() == 25
    # time travel to v0 through the resolved prefix
    assert spark.read.parquet(versioned_path(root, 0)).count() == 10

    df3 = spark.range(0, 3).withColumnRenamed("id", "k")
    commit_version(df3, root)
    assert spark.read.parquet(versioned_path(root)).count() == 3
    assert spark.read.parquet(versioned_path(root, 1)).count() == 25


def test_compact_versioned_reduces_files_and_preserves_rows(spark, tmp_path):
    from lakeforge.ops.layout import (
        commit_version,
        compact_versioned,
        versioned_path,
    )

    root = str(tmp_path / "vtab2")
    # fragment: 16 files for a tiny table
    commit_version(spark.range(0, 1000).repartition(16), root)
    stats = compact_versioned(spark, root, target_mb=128)
    assert stats["files_before"] == 16
    assert stats["files_after"] == 1
    assert stats["version"] == 1
    assert spark.read.parquet(versioned_path(root)).count() == 1000


def test_versioned_reader_unaffected_by_crashed_writer(spark, tmp_path):
    """An interrupted commit (data written, pointer never flipped) must be
    invisible to readers and must NOT block future commits (version
    allocation skips orphan prefixes)."""
    from lakeforge.ops.layout import (
        commit_version,
        current_version,
        versioned_path,
    )

    root = str(tmp_path / "vtab3")
    commit_version(spark.range(0, 7), root)
    # simulate a writer that died after writing data, before the flip
    spark.range(0, 999).write.parquet(versioned_path(root, 1))
    assert spark.read.parquet(versioned_path(root)).count() == 7

    # next commit allocates PAST the orphan instead of colliding with it
    v = commit_version(spark.range(0, 11), root)
    assert v == 2 and current_version(root) == 2
    assert spark.read.parquet(versioned_path(root)).count() == 11


def test_compact_partitions_routes_versioned_root_through_pointer(spark, tmp_path):
    """compact_partitions on a versioned table root must use the pointer
    protocol (new committed version, no rename-aside of the root)."""
    from lakeforge.ops.layout import (
        compact_partitions,
        commit_version,
        current_version,
        versioned_path,
    )

    root = str(tmp_path / "vtbl")
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    v0 = commit_version(df.repartition(8), root)
    stats = compact_partitions(spark, root, target_mb=128)
    assert stats["version"] == v0 + 1
    assert current_version(root) == v0 + 1
    assert stats["files_after"] <= stats["files_before"]
    assert spark.read.parquet(versioned_path(root)).count() == 1000


def test_compact_partitions_rejects_object_store_scheme(spark):
    from lakeforge.ops.layout import compact_partitions

    import pytest as _pytest

    with _pytest.raises(ValueError, match="POSIX-only"):
        compact_partitions(spark, "s3://bucket/table")


def test_range_sorted_write_produces_disjoint_file_ranges(spark, tmp_path):
    """Files written by range_sorted_write carry (near-)disjoint min/max
    ranges on the sort column — the property parquet row-group skipping
    prunes on — and a selective range read touches a strict subset of
    files (verified via per-file min/max, i.e. exactly the footer stats
    the scan uses)."""
    import glob

    from pyspark.sql import functions as F

    from lakeforge.ops.layout import range_sorted_write

    out = str(tmp_path / "range_sorted")
    df = spark.range(0, 100_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("payload")
    )
    range_sorted_write(df, out, ["k"], num_files=8)

    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == 8
    ranges = []
    for f in files:
        r = spark.read.parquet(f).agg(
            F.min("k").alias("lo"), F.max("k").alias("hi")
        ).collect()[0]
        ranges.append((r["lo"], r["hi"]))
    ranges.sort()
    # disjoint: each file's max < next file's min
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, f"overlapping file ranges {(lo1, hi1)} {(lo2, hi2)}"

    # a 1%-selectivity predicate overlaps exactly one file's range
    target = [r for r in ranges if r[0] <= 500 <= r[1]]
    assert len(target) == 1
    hit_files = [r for r in ranges if not (r[1] < 0 or r[0] > 999)]
    assert len(hit_files) == 1
    # and the data still round-trips completely
    assert spark.read.parquet(out).count() == 100_000


def test_manifest_skipping_prunes_files_and_preserves_results(spark, tmp_path):
    """write_stats_manifest + skipping_scan: a narrow band over a
    range-clustered table must (a) rule out most files via the manifest
    alone and (b) return exactly the full-scan filter result."""
    from pyspark.sql import functions as F

    from lakeforge.ops.layout import (
        prune_files, range_sorted_write, skipping_scan, write_stats_manifest,
    )

    df = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    path = str(tmp_path / "t")
    range_sorted_write(df, path, ["k"], num_files=10)
    write_stats_manifest(spark, path, ["k"])

    # the manifest dir must be invisible to the data reader
    assert spark.read.parquet(path).count() == 10_000

    files, total = prune_files(spark, path, "k", 2_000, 2_999)
    assert total == len(
        [p for p in (tmp_path / "t").glob("part-*.parquet")]
    ), "manifest rows == data files"
    assert 0 < len(files) < total, f"expected real pruning, got {len(files)}/{total}"

    got = sorted(
        map(tuple, skipping_scan(spark, path, "k", 2_000, 2_999).collect())
    )
    want = sorted(
        map(tuple, spark.read.parquet(path).filter(F.col("k").between(2000, 2999)).collect())
    )
    assert got == want and len(got) == 1_000


def test_manifest_skipping_empty_band_and_null_stats_kept(spark, tmp_path):
    """A band outside every file's range reads zero files but returns an
    empty frame with the right schema; a file whose stat column is
    all-NULL is never pruned (skipping must stay lossless)."""
    from pyspark.sql import functions as F

    from lakeforge.ops.layout import prune_files, skipping_scan, write_stats_manifest

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "a bigint, v bigint"
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [(3, None), (4, None)], "a bigint, v bigint"
    ).coalesce(1).write.mode("append").parquet(path)
    write_stats_manifest(spark, path, ["v"])

    # all-NULL-stats file survives any band
    files, total = prune_files(spark, path, "v", 99_999, 100_000)
    assert total == 2 and len(files) == 1

    out = skipping_scan(spark, path, "v", 99_999, 100_000)
    assert out.columns == spark.read.parquet(path).columns
    assert out.count() == 0  # row-level filter still applies within kept file


def test_update_stats_manifest_scans_only_the_append_delta(spark, tmp_path):
    """Appending files then update_stats_manifest: only new files are
    manifested (return value), stats stay exact, and mismatched stat
    columns raise instead of silently mixing."""
    import pytest
    from pyspark.sql import functions as F

    from lakeforge.ops.layout import (
        MANIFEST_DIR, prune_files, update_stats_manifest, write_stats_manifest,
    )

    path = str(tmp_path / "t")
    spark.range(0, 100).select(F.col("id").alias("k")).coalesce(1) \
        .write.parquet(path)
    write_stats_manifest(spark, path, ["k"])
    assert update_stats_manifest(spark, path, ["k"]) == 0  # nothing new

    spark.range(100, 300).select(F.col("id").alias("k")).coalesce(2) \
        .write.mode("append").parquet(path)
    assert update_stats_manifest(spark, path, ["k"]) == 2

    p = spark.read.parquet(f"{path}/{MANIFEST_DIR}").agg(
        F.count(F.lit(1)).alias("n_files"), F.sum("n_rows").alias("n_rows"),
        F.min("min_k").alias("min_k"), F.max("max_k").alias("max_k"),
    ).collect()[0]
    assert (p.n_files, p.n_rows, p.min_k, p.max_k) == (3, 300, 0, 299)
    files, total = prune_files(spark, path, "k", 0, 50)
    assert total == 3 and len(files) == 1  # appended files pruned by band

    with pytest.raises(ValueError, match="rebuild"):
        update_stats_manifest(spark, path, ["k", "other"])
