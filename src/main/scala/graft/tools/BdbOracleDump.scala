package graft.tools

import graft.bdb.BdbDataGen
import org.apache.spark.sql.DataFrame

/** One-shot dump of the deterministic BDB fixture (the 23-table
  * generator at its floor cardinalities — exactly [[graft.BdbFixture]]'s
  * `Counts(0.0)`, the scale the goldens pin) to committed parquet under
  * `bench/bdb_oracle/`, one FILE per table.
  *
  * Purpose: the b-series queries re-express the 30 BDB shapes on the
  * driver's testdata schema for a direct DuckDB gate, while the
  * 23-table instantiations were gated only by goldens + independent
  * reimplementations. This dump closes that gap: DuckDB reads these
  * files by absolute path inside the oracle SQL (`read_parquet`), so
  * selected 23-table queries (bdb/BdbDirect) get the SAME
  * hash-exact oracle gate as everything else.
  *
  * The generator is a pure function of row ids (no RNG), so the dump
  * is reproducible; the committed files are the fixture of record.
  *
  * A second committed scale (`bench/bdb_oracle_x3`, floorMult=3 —
  * every table at exactly 3x the floor rows, density structures
  * intact) exists so the b31-b64 gates can be re-run against a
  * fixture with DIFFERENT cardinalities: that catches an oracle that
  * silently depends on a floor-scale fixture property (b59's
  * vocabulary injectivity, the sessionization (user,ts) invariant —
  * both asserted loudly, but assertion coverage is itself a claim
  * this second run tests). Point the gates at it with
  * `GRAFT_BDB_ORACLE_DIR=$PWD/bench/bdb_oracle_x3` (BdbDirect reads
  * the env at class load; both the Spark reads and the oracle SQL's
  * `read_parquet` paths follow). `tools/check_bdb_scales.sh` runs
  * the full b-series against both scales end to end.
  *
  * Usage: `sbt "runMain graft.tools.BdbOracleDump [outDir] [floorMult]"`
  */
object BdbOracleDump {

  private def writeOne(df: DataFrame, outDir: String, name: String): Unit = {
    val tmp = s"$outDir/_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val dir = new java.io.File(tmp)
    val part = dir.listFiles().find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file for $name"))
    val dest = new java.io.File(s"$outDir/$name.parquet")
    if (dest.exists()) dest.delete()
    java.nio.file.Files.move(part.toPath, dest.toPath)
    def rm(f: java.io.File): Unit = {
      val fs = f.listFiles(); if (fs != null) fs.foreach(rm); f.delete()
    }
    rm(dir)
    println(s"[bdb-oracle-dump] wrote $name")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("bench/bdb_oracle")
    val floorMult = if (args.length > 1) args(1).toLong else 1L
    val spark = graft.Engine.session(8, appName = "bdb-oracle-dump")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(out).mkdirs()
    BdbDataGen.frames(spark, BdbDataGen.Counts(0.0, floorMult)).toSeq
      .sortBy(_._1)
      .foreach { case (name, df) => writeOne(df, out, name) }
    spark.stop()
  }
}
