package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.ParquetFooterBridge
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** Catalog over the driver testdata (TESTDATA.md): one parquet file per
  * table under `sfDir`. Mirrors the reference's reader utility
  * (`gpu_bdb/bdb_tools/readers.py:87-135`) — but column pruning /
  * predicate pushdown are left to Catalyst rather than hand-passed
  * `relevant_cols`: callers just `.select(...)`/`.filter(...)` and the
  * parquet scan prunes automatically.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any scale factor
    * (the reference repartitions these to 1 partition for map-side
    * joins, `readers.py:129-134`; Spark's equivalent is a broadcast
    * hint / AQE auto-broadcast).
    */
  val broadcastable: Set[String] =
    Set("region", "nation", "supplier", "part", "customer")

  /** Session invariants every load depends on. The two parquet confs
    * are session-global: any entry point reading `events` outside
    * Tables must go through here too, or ts typing becomes
    * order-dependent (all current entry points route through
    * load/loadStream/rawSchema). The UTC check makes the
    * [[normalizeTs]] NTZ→Timestamp cast timezone-independent by
    * construction instead of by convention — every SparkSession
    * builder in the repo sets it, and this fails fast if a new one
    * forgets.
    */
  private def readerConfs(spark: SparkSession): Unit = {
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "Tables requires spark.sql.session.timeZone=UTC (set it in the " +
        "SparkSession builder); events.ts normalization is TZ-dependent")
    // events.parquet has shipped `ts` as both TIMESTAMP(NANOS) and
    // TIMESTAMP(MICROS) across testdata generations. Read NANOS as an
    // exact BIGINT, and naive MICROS as TimestampType (not NTZ) so
    // unix_micros() recovers the stored value bit-exactly (session TZ
    // is UTC everywhere); normalizeTs below folds both into the engine
    // contract.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }

  /** Engine contract: `events.ts` is BIGINT epoch NANOS — exact
    * integer arithmetic for sessionization (`ts div 1000` = micros =
    * DuckDB `epoch_us(ts)`). A timestamp-typed `ts` (current testdata
    * generation) is converted; a nanos-long `ts` (old generation via
    * nanosAsLong) passes through untouched.
    */
  private def normalizeTs(df: DataFrame): DataFrame =
    if (df.schema.fields.exists(f => f.name == "ts" &&
        (f.dataType == TimestampType || f.dataType == TimestampNTZType)))
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    else df

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    readerConfs(spark)
    normalizeTs(readParquet(spark, s"$sfDir/$name.parquet"))
  }

  /** The on-file schema (what `readStream.schema(...)` must be handed —
    * the post-[[normalizeTs]] schema would mis-describe the parquet),
    * read from the footer on the driver under [[readerConfs]]: no Spark
    * job, unlike `spark.read.parquet`'s inference.
    */
  def rawSchema(spark: SparkSession, sfDir: String, name: String): StructType = {
    readerConfs(spark)
    ParquetFooterBridge.schema(spark, s"$sfDir/$name.parquet")
  }

  /** A parquet file or directory read with the schema its footers
    * declare (the schema Spark's inference gives it, merged across
    * files), so the read starts no Spark job. graft's one parquet read
    * without a declared schema.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ParquetFooterBridge.schema(spark, path)).parquet(path)

  /** Streaming read of one table with the same `ts` normalization as
    * [[load]]: raw file schema on the source, nanos-long `ts` out.
    */
  def loadStream(spark: SparkSession, sfDir: String, name: String,
      options: Map[String, String] = Map.empty): DataFrame =
    normalizeTs(spark.readStream
      .schema(rawSchema(spark, sfDir, name))
      .option("pathGlobFilter", s"$name.parquet")
      .options(options)
      .parquet(sfDir))

  /** Register every table as a temp view (for spark.sql queries). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      load(spark, sfDir, n).createOrReplaceTempView(n)
    }
}
