package graft

import graft.bdb.{BdbDirect, BdbSchemas}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.graftbridge.JobCount
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** Every table read in graft starts zero Spark jobs: the testdata
  * tables take their schema from a driver-side footer read
  * ([[Tables.readParquet]]), the BDB fixture from the schemas it was
  * written with ([[BdbSchemas]]). Schema inference by
  * `spark.read.parquet` would start one job per read.
  */
class ReadSpec extends SparkSpec {

  test("Tables.load, rawSchema, loadStream and BdbDirect registration " +
      "start no Spark job") {
    val (_, jobs) = JobCount(spark.sparkContext) {
      Tables.names.foreach { t =>
        Tables.load(spark, sf, t)
        Tables.rawSchema(spark, sf, t)
      }
      Tables.loadStream(spark, sf, "events")
      BdbDirect.reg(spark)
    }
    assert(jobs === 0)
  }

  test("the footer schema is the schema Spark infers") {
    Tables.names.foreach { t =>
      assert(Tables.rawSchema(spark, sf, t) ===
        spark.read.parquet(s"$sf/$t.parquet").schema, t)
    }
    // two batches, the second with one more column, in partition
    // directories: the merged footer schema is mergeSchema's
    val dir = Files.createTempDirectory("graft-readspec")
    try {
      val o = Tables.load(spark, sf, "orders")
      o.select("o_orderkey", "o_custkey")
        .write.parquet(s"$dir/b=1")
      o.select("o_orderkey", "o_custkey", "o_orderpriority")
        .write.parquet(s"$dir/b=2")
      val merged = spark.read.option("mergeSchema", "true")
        .parquet(dir.toString)
      val read = Tables.readParquet(spark, dir.toString)
      assert(read.schema === merged.schema)
      assert(read.filter(col("o_orderpriority").isNull).count() ===
        merged.filter(col("o_orderpriority").isNull).count())
    } finally {
      Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => Files.delete(p))
    }
  }

  test("BdbSchemas declares the fixture's on-file types") {
    val fixtures = Seq(BdbDirect.Base,
      Paths.get(BdbDirect.Base).resolveSibling("bdb_oracle_x3").toString)
      .filter(d => Files.isDirectory(Paths.get(d)))
    assert(fixtures.nonEmpty)
    for (d <- fixtures; t <- BdbSchemas.tables) {
      assert(Tables.readParquet(spark, s"$d/$t.parquet").schema ===
        BdbSchemas.schema(t), s"$d/$t")
    }
  }

  test("b61 runs at most B61Jobs jobs on the fixture") {
    val (_, jobs) = JobCount(spark.sparkContext) {
      SparkEntry.queries("b61_bdb_q20_kmeans")(spark, sf).collect()
    }
    assert(jobs <= B61Jobs, s"b61 ran $jobs jobs")
  }

  /** 5 for the q20 features, 2 to group them by id and hold them, 1
    * to seed, 1 per round (3), 1 for the final assignment, 3 for the
    * sorted result (45 when registration inferred 23 footers and a
    * round took two jobs). */
  private val B61Jobs = 15

  test("guard: main sources read parquet with a declared schema") {
    // a `.read` chain that reaches `.parquet(` (or the parquet format)
    // without `.schema(` infers the schema with a Spark job;
    // Tables.readParquet is the one read that takes it from the footer
    val root = Paths.get("src/main/scala")
    val inferred = ("""\.read((\s*\.(?!schema\()\w+\(([^()]|\([^()]*\))*\))*)""" +
      """\s*\.(parquet\(|format\("parquet"\))""").r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val offenders = files.filter { (p: Path) =>
      val code = Files.readString(p).linesIterator.filterNot { l =>
        val t = l.trim
        t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
      }.mkString("\n")
      inferred.findFirstIn(code).nonEmpty
    }.map(root.relativize(_).toString).toSet
    assert(offenders === Set.empty[String])
  }
}
