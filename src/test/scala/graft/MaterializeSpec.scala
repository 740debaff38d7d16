package graft

import graft.ops.Materialize
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.graftbridge.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** graft's one materialization policy ([[Materialize]]): a held frame
  * keeps its lineage (losing its blocks costs a recompute, not the
  * query), keeps its plan's partitioning, and takes its count from its
  * one eager job — and nothing else in the engine materializes.
  */
class MaterializeSpec extends SparkSpec {

  private def agg: DataFrame = spark.range(0, 1000)
    .select((col("id") % 37).as("k"), col("id"))
    .groupBy("k").agg(sum("id").as("s"))

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("block loss: a materialized aggregate survives unpersistAll") {
    val expected = rows(agg)
    val m = Materialize(agg)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    graft.tools.SessionHygiene.unpersistAll(spark, blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(rows(m) === expected)
  }

  test("partitioning: a join on the grouping key adds no exchange " +
    "on the materialized side") {
    // AQE off: the static plan shows exactly which sides shuffle
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val other = spark.range(0, 37)
        .select(col("id").as("k"), (col("id") * 2).as("v"))
      def exchanges(side: DataFrame): Int =
        side.join(other, "k").queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }.size
      assert(exchanges(Materialize(agg)) === 1) // only `other`
      // the same rows without the carried partitioning shuffle again
      val a = agg
      assert(exchanges(spark.createDataFrame(a.rdd, a.schema)) === 2)
    }
  }

  test("count: withCount returns the row count from its one job") {
    // a narrow plan: a shuffle would add its AQE stage jobs
    val df = spark.range(0, 1000, 1, 4).toDF().filter(col("id") % 3 === 0)
    val ((m, n), jobs) = JobCount(spark.sparkContext) {
      Materialize.withCount(df)
    }
    assert(jobs === 1)
    assert(n === 334L)
    assert(m.count() === 334L)
  }

  test("guard: only Materialize materializes in main sources") {
    val root = Paths.get("src/main/scala")
    val allowed = Set("graft/ops/Materialize.scala",
      "org/apache/spark/sql/graftbridge/MaterializeBridge.scala")
    val calls = Seq(".localCheckpoint(", ".checkpoint(", ".persist(")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val offenders = files.filter { (p: Path) =>
      Files.readString(p).linesIterator.exists { l =>
        val t = l.trim
        !t.startsWith("*") && !t.startsWith("//") &&
          calls.exists(l.contains)
      }
    }.map(root.relativize(_).toString).toSet
    assert(offenders -- allowed === Set.empty[String])
  }
}
