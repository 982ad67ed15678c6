package graft.io

import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Data-layout operators: how rows are ARRANGED in files, the lever
  * that decides how much of 100 TB a selective query touches. Content
  * is untouched (round-trip identity is oracle-checked); the win is
  * locality — rows close in the clustering key land in the same file
  * and the same parquet row groups, so min/max stats skip the rest.
  */
object Layout {

  /** Morton (Z-order) interleave of the per-column bucket ranks:
    * bit j of column i lands at position `j * numCols + i`, so a
    * range predicate on ANY clustered column maps to a bounded set of
    * z-ranges — the multi-column clustering one sort key cannot give
    * (sorting by (a, b) clusters a perfectly and b not at all). */
  private def interleave(buckets: Seq[Column], bits: Int): Column = {
    val c = buckets.size
    buckets.zipWithIndex.foldLeft(lit(0L)) { case (acc, (b, i)) =>
      (0 until bits).foldLeft(acc) { (a, j) =>
        a.bitwiseOR(shiftleft(shiftright(b, j).bitwiseAND(lit(1L)),
          j * c + i))
      }
    }
  }

  /** Quantile-rank bucket of `v` given sorted boundaries: a balanced
    * binary-search tree of CASE WHENs (depth log2, codegen-friendly,
    * no per-row array traversal). Quantile boundaries — not uniform
    * width_bucket — so skewed columns still spread across buckets. */
  private def bucketOf(v: Column, bounds: Array[Double]): Column = {
    def go(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2
        when(v > bounds(mid), go(mid + 1, hi)).otherwise(go(lo, mid))
      }
    // NULLs sort to bucket 0 (v > bound is NULL → otherwise-branch)
    go(0, bounds.length)
  }

  /** Z-order clustered parquet write: bucket each clustering column
    * by its approximate quantiles, interleave the bucket bits into a
    * Morton code, range-partition into `numFiles` files sorted by the
    * code. A selective filter on ANY of `cols` then touches a handful
    * of files/row-groups instead of all of them — parquet min/max
    * row-group stats (and file-stats catalogs like Delta/Iceberg over
    * the same layout) skip the rest.
    *
    * Scale shape: boundary estimation is one approxQuantile pass
    * (driver holds (2^bits − 1) doubles per column — bounded);
    * bucketing + interleaving are map-only generated expressions; the
    * only shuffle is the range partition the write needs anyway.
    * Columns must be numeric; `bits` per-column resolution (default
    * 2^6 = 64 buckets) caps the z code at `bits × cols` bits ≤ 63. */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
                  numFiles: Int, bits: Int = 6): Unit = {
    require(cols.nonEmpty, "need at least one clustering column")
    require(bits >= 1 && bits * cols.size <= 63,
      s"bits * cols must fit a long: $bits * ${cols.size}")
    require(numFiles > 0, s"numFiles must be positive, got $numFiles")
    val nonNumeric = cols.filterNot(c =>
      df.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    require(nonNumeric.isEmpty,
      s"clustering columns must be numeric — a silent cast-to-double " +
        s"would bucket every row of a non-numeric column to 0 and " +
        s"quietly destroy its clustering: ${nonNumeric.mkString(", ")}")
    val nBounds = (1 << bits) - 1
    val probs = (1 to nBounds).map(_.toDouble / (nBounds + 1)).toArray
    val doubled = cols.foldLeft(df)((d, c) =>
      d.withColumn(s"__zq_$c", col(c).cast("double")))
    val boundaries = doubled.stat.approxQuantile(
      cols.map(c => s"__zq_$c").toArray, probs, 0.001)
    val buckets = cols.zip(boundaries).map { case (c, bounds) =>
      bucketOf(col(s"__zq_$c"), bounds.sorted)
    }
    doubled
      .withColumn("__z", interleave(buckets, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z" +: cols.map(c => s"__zq_$c"): _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Files of `path` holding at least one row matching `predicate` —
    * the clustering-quality measure the layout specs assert on (a
    * zordered layout confines a selective predicate to few files;
    * a hash-scattered one spreads it over all of them). */
  def filesTouched(spark: SparkSession, path: String,
                   predicate: Column): Long =
    spark.read.parquet(path).filter(predicate)
      .select(input_file_name()).distinct().count()

  /** Output file count for `bytes` of data at `targetFileBytes` a
    * file: the ceiling of the quotient, clamped to [1, `maxFiles`].
    * The one file-sizing rule of every store writer — [[compact]] and
    * the dict store's plain-layout writes. */
  private[io] def fileCount(bytes: BigInt, targetFileBytes: Long,
                            maxFiles: Int = Int.MaxValue): Int =
    ((bytes + targetFileBytes - 1) / targetFileBytes).max(1).min(maxFiles).toInt

  /** The one writer of every quad-store file: [[QuadsIO.writeParquet]]
    * and [[QuadsIO.writeBucketedTable]] for the term-struct store, and
    * every [[DictStore]] write (dictionary, encoded quads, bucketed
    * tables, appends, compaction), with [[storeOptions]]. */
  private[io] def storeWriter(df: DataFrame, mode: SaveMode): DataFrameWriter[Row] =
    df.write.mode(mode).options(storeOptions(df.schema))

  /** zstd over Parquet v2 data pages, with dictionary pages on the
    * string leaves only:
    *  - integer leaves (the dict store's ids, sorted along (p, s) or
    *    by lex; term kinds and sidecar classes) are DELTA_BINARY_PACKED,
    *    small deltas where a dictionary stored an index per row;
    *  - string leaves keep a dictionary while it pays. Past that (the
    *    dictionary's `lex` unique by construction, or a chunk whose
    *    dictionary outgrows its page) v2 falls back to DELTA_BYTE_ARRAY
    *    (prefix-shared along the sort) where v1 fell back to PLAIN.
    *    Reading dictionary-encoded strings is what keeps term-struct
    *    scans as cheap as before: the same store with no string
    *    dictionaries was a third smaller but took 1.7x the query CPU.
    * Constants, not settings. Spark lowercases option keys, which the
    * per-leaf keys survive because every store column name is lower
    * case. A catalog table re-attached over store files must declare
    * these options too: Spark's append into an existing table takes
    * the table's options, not the writer's. Spark's parquet reader
    * decodes both page versions, so stores written with v1 pages load,
    * append and compact unchanged (a directory may mix the two). */
  private[io] def storeOptions(schema: StructType): Map[String, String] = {
    def strings(t: StructType, prefix: String): Seq[String] = t.fields.toSeq.flatMap { f =>
      f.dataType match {
        case st: StructType => strings(st, s"$prefix${f.name}.")
        case StringType => Seq(prefix + f.name)
        case _ => Nil
      }
    }
    Map("compression" -> "zstd",
      ParquetOutputFormat.WRITER_VERSION -> "v2",
      ParquetOutputFormat.ENABLE_DICTIONARY -> "false") ++
      strings(schema, "").map(c => s"${ParquetOutputFormat.ENABLE_DICTIONARY}#$c" -> "true")
  }

  /** Bin-pack a parquet directory into ~`targetFileBytes` files — the
    * small-file compaction every long-lived table needs (streaming
    * sinks and incremental appends leave thousands of KB-sized files;
    * at 100 TB the scan's task-scheduling overhead and the
    * metastore's file listing dominate before a single row is read).
    *
    * The output file count derives from the ACTUAL on-disk bytes
    * (listed through the path's Hadoop FileSystem, so hdfs:// / s3a://
    * work like local paths — same discipline as the dict store's
    * markers), so compressed size is preserved ~1:1. Content is
    * untouched — round-trip identity is what the spec and the battery
    * oracle assert.
    *
    * Without `sortCols` the rewrite is `coalesce` — NO shuffle: source
    * splits merge map-side, the cheapest possible compaction. With
    * `sortCols` the rewrite range-partitions and sorts, paying one
    * shuffle to (re-)establish clustering while compacting — the
    * combined "compact + cluster" maintenance pass.
    *
    * Writes a new directory at `outPath`, never in place, and leaves
    * the swap to the caller: nothing here replaces `inPath` or makes a
    * replacement atomic for concurrent readers. Returns the output
    * file count. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long, sortCols: Seq[String] = Nil): Int = {
    require(targetFileBytes > 0,
      s"targetFileBytes must be positive, got $targetFileBytes")
    val hPath = new org.apache.hadoop.fs.Path(inPath)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // compare QUALIFIED paths — "/t" vs "/t/" (or a relative alias)
    // must not slip past the in-place guard, and writing INSIDE the
    // input directory is the same hazard
    val qIn = fs.makeQualified(hPath).toString.stripSuffix("/")
    val qOut = fs.makeQualified(new org.apache.hadoop.fs.Path(outPath))
      .toString.stripSuffix("/")
    require(qOut != qIn && !qOut.startsWith(qIn + "/") &&
      !qIn.startsWith(qOut + "/"),
      "compact writes a NEW directory (swap after validation); an " +
        "in-place, nested, or ancestor overwrite would destroy the " +
        "input — mode(overwrite) deletes outPath recursively before " +
        "the lazy read runs")
    // RECURSIVE listing: partitioned layouts nest files under
    // key=value directories — a top-level listStatus would see only
    // directories, size the input as 0 bytes and coalesce everything
    // into one file
    var totalBytes = 0L
    val files = fs.listFiles(hPath, true)
    while (files.hasNext) {
      val f = files.next()
      val n = f.getPath.getName
      // skip bookkeeping: _SUCCESS markers and hidden .crc checksums
      if (!n.startsWith("_") && !n.startsWith(".")) totalBytes += f.getLen
    }
    val n = fileCount(totalBytes, targetFileBytes)
    val df = spark.read.parquet(inPath)
    val out =
      if (sortCols.nonEmpty)
        df.repartitionByRange(n, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.coalesce(n)
    out.write.mode("overwrite").parquet(outPath)
    n
  }
}
