package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators for repeated-join workloads at scale:
  * bucketing (co-located, exchange-free joins) and salting (manual
  * skew mitigation where AQE's runtime splitting isn't available,
  * e.g. a pre-AQE cluster or a deterministic-layout requirement).
  */
object Partitioned {

  /** Persist `df` as a bucketed+sorted table. Joining two tables
    * bucketed by the same key into the same bucket count plans a
    * sort-merge join with NO Exchange — the shuffle is paid once at
    * write time and amortized over every subsequent join
    * (the reference's analog is its 1-partition dims,
    * `readers.py:129-134`; bucketing is the scalable generalization).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // the in-memory catalog forgets tables across sessions but their
    // managed location survives — clear it or saveAsTable refuses
    val warehouse = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir"))
    val loc = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(warehouse), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Write `df` as a hive-style partitioned parquet layout
    * (`path/col=value/...`). Reads filtered on the partition column
    * scan only matching directories (PartitionFilters — the primary
    * data-skipping primitive for 100 TB fact tables; the reference's
    * per-query date_dim semi-joins play this role).
    */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partCol).parquet(path)

  /** Compact a small-file parquet directory into ~`targetBytes` output
    * files — the maintenance pass every long-lived 100 TB table needs
    * (streaming sinks and fine-grained partitions accrete kilobyte
    * files; scan cost is per-file, so compaction is what keeps read
    * amplification flat). File count = ceil(inputBytes / targetBytes),
    * resized with a round-robin repartition (no key skew).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long): Int = {
    require(targetBytes > 0)
    val path = new org.apache.hadoop.fs.Path(inPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(path)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1,
      ((totalBytes + targetBytes - 1) / targetBytes).toInt)
    graft.Tables.readParquet(spark, inPath)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** Interleave the low 31 bits of `v` with a zero bit between each
    * (the classic parallel-prefix spread), pure shift/mask Columns so
    * the whole key stays inside whole-stage codegen.
    */
  private def spread31(v: Column): Column = {
    var c = v.cast("long").bitwiseAND(lit(0x7FFFFFFFL))
    c = c.bitwiseOR(shiftleft(c, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    c = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    c = c.bitwiseOR(shiftleft(c, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    c = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(0x3333333333333333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** Morton (Z-order) key of two non-negative ints (< 2^31 after
    * masking): bit-interleaved so that sorting by the key clusters
    * rows that are close in BOTH dimensions. Values are truncated to
    * their low 31 bits — callers with wider domains should pre-scale
    * (quantile-rank) each dimension, which also evens out skew.
    */
  def morton2(x: Column, y: Column): Column =
    spread31(x).bitwiseOR(shiftleft(spread31(y), 1))

  /** Z-order layout: range-partition + sort by the Morton key of two
    * filter dimensions, then write parquet. Each output file then
    * covers a small RECTANGLE in (x, y) space, so parquet footer
    * min/max statistics prune 2-D range queries on EITHER or BOTH
    * columns — a single-column sort clusters only its own column and
    * leaves the other scattered across every file (full scan for
    * y-only predicates). This is the multi-dimensional generalization
    * of [[writePartitioned]]'s one-dimensional directory pruning, and
    * the standard layout for 100 TB fact tables filtered on 2+
    * selective dimensions (date × customer, region × product).
    */
  def zorderWrite(df: DataFrame, path: String,
      x: Column, y: Column, nFiles: Int): Unit =
    df.repartitionByRange(nFiles, morton2(x, y))
      .sortWithinPartitions(morton2(x, y))
      .write.mode("overwrite").parquet(path)

  /** Salted equi-join for skewed keys: the skewed (large) side gets a
    * deterministic salt derived from `tieBreak` (any column unique-ish
    * per row); the small side is exploded `saltFactor` times. Results
    * are identical to the unsalted join; the hot key's rows spread
    * over `saltFactor` reducers.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      tieBreak: Column, saltFactor: Int): DataFrame = {
    val salted = large.withColumn("_salt",
      pmod(xxhash64(tieBreak), lit(saltFactor)))
    val exploded = small
      .withColumn("_salt", explode(
        array((0 until saltFactor).map(i => lit(i.toLong)): _*)))
    salted.join(exploded, Seq(key, "_salt")).drop("_salt")
  }
}
