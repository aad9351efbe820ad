from __future__ import annotations

from pyspark.sql import functions as F

from lakeforge.ops.layout import zorder_key


def test_zorder_key_interleaves_bits(spark):
    df = spark.createDataFrame([(0b101, 0b011)], ["x", "y"])
    # x=101, y=011 -> z bits (y2 x2 y1 x1 y0 x0) = 0 1 1 0 1 1 = 0b011011
    got = df.select(zorder_key(["x", "y"], bits=3).alias("z")).collect()[0]["z"]
    assert got == 0b011011


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
