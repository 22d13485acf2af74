package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Warehouse-layout sinks (SURVEY.md §2.1 / §4.3 scale extensions).
  *
  * The reference's only layout lever is "one output directory per job"
  * (ref: PageRankAlgorithm.java:67, :85-86 — TextOutputFormat part files);
  * every downstream job re-reads and re-shuffles everything. At 100 TB the
  * two layout decisions that matter are made at WRITE time:
  *
  *  - '''Partitioned layout''': one directory per distinct value of the
  *    partition columns. A reader filtering on them prunes at the file
  *    listing — the scan never opens non-matching directories
  *    (`PartitionFilters` in the plan). Scanning one day instead of the
  *    archive is this, not a faster filter.
  *  - '''Bucketed layout''': both join sides hash-bucketed on the join key
  *    at write time. Equi-joins between matching bucket counts plan as a
  *    shuffle-free SortMergeJoin — the shuffle is paid once at write, not
  *    per query.
  *
  * Both properties are asserted against actual physical plans in
  * `WarehouseSpec`, so a regression that un-prunes a partition filter or
  * re-introduces the join exchange fails in CI.
  */
object Warehouse {

  /** Partition-pruned parquet sink: `path/col=value/part-*.parquet`.
    * Partition columns should be low-cardinality (file-count explosion is
    * the failure mode — a 10k-cardinality partition column at 1000
    * executors is 10M files). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    LocalFs.writer(df).mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Compacted parquet sink — the small-files killer: a 1000-executor job
    * naively writes ≥1000 files per partition directory, and a 100 TB
    * warehouse dies by metadata (file listing dominates scan planning).
    * Repartitions to ceil(rows/targetRows) writers and caps rows per file,
    * so output file count tracks DATA size, not executor count.
    *
    * The row count is one extra pass over `df` — acceptable for a sink
    * that runs once per table; pipelines that already know the count
    * should pass it via `knownRows`. */
  def writeCompacted(df: DataFrame, path: String, targetRows: Long,
                     knownRows: Long = -1L): Unit = {
    val rows = if (knownRows >= 0) knownRows else df.count()
    val files = math.max(1L, (rows + targetRows - 1) / targetRows).toInt
    LocalFs.writer(df.repartition(files)).mode("overwrite")
      .option("maxRecordsPerFile", targetRows)
      .parquet(path)
  }

  /** Z-order (Morton) interleave of two non-negative int columns over a
    * 2^bits grid — the multi-dimensional clustering key. Sorting a table
    * by z-value makes every parquet file a small BOUNDING BOX in (x, y)
    * space, so min/max row-group stats prune scans filtered on EITHER
    * dimension — a plain sort clusters one dimension and leaves the
    * other unpruned. Pure bitwise column expression: codegen'd,
    * engine-independent (the oracle replays the same bit algebra).
    */
  def zorder2(x: Column, y: Column, bits: Int = 16): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(x.cast("long").bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(y.cast("long").bitwiseAND(lit(1L << i)), i + 1))
    }

  /** Z-ordered compacted sink: range-partition + sort by the z-value so
    * each of `files` output files covers a compact (x, y) box. The
    * z-column itself is dropped at the sink — it's a layout key, not
    * data. WarehouseSpec asserts the per-file bounding boxes actually
    * shrink vs an unordered write. */
  def writeZOrdered(df: DataFrame, path: String, files: Int,
                    x: Column, y: Column, bits: Int = 16): Unit =
    LocalFs.writer(df.withColumn("__z", zorder2(x, y, bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z"))
      .mode("overwrite").parquet(path)

  /** Idempotent partition backfill: overwrite ONLY the partitions
    * present in `df`, leaving sibling partitions untouched (dynamic
    * partitionOverwriteMode — the default STATIC mode would truncate
    * the whole table root). This is how a 100 TB warehouse re-runs one
    * bad day: the job is idempotent per partition, so retries and
    * backfills never need a table lock or a full rewrite. */
  def replacePartitions(df: DataFrame, path: String, partitionCols: String*): Unit = {
    val spark = df.sparkSession
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try LocalFs.writer(df).mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Bucketed external table: hash-bucketed (and optionally sorted) on
    * `key` at `path`, registered as `table` in the session catalog.
    * Joining two tables bucketed with the SAME bucket count on their join
    * keys plans with no Exchange on either side. A plain `df.write`:
    * `saveAsTable` stores write options in the table's catalog entry,
    * so [[LocalFs.writeOptions]] would follow every later read of it. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    buckets: Int, key: String,
                    sorted: Boolean = true): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", path).bucketBy(buckets, key)
    (if (sorted) w.sortBy(key) else w).saveAsTable(table)
  }
}
