package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round triage: dump the formatted physical plan of
  * EVERY registered query to a directory and print one summary line
  * per query with the plan-shape counters that matter for scale
  * (guide §2/§3/§7.2): Exchange count, join strategies, generates,
  * windows, codegen spans, and red flags (CartesianProduct, BNLJ).
  *
  * Usage: `sbt "runMain graft.tools.PlanStats [sfDir] [outDir]"`.
  * Plans land in `outDir/<query>.txt`; the summary table on stdout
  * (grep for `PLANSTAT`).
  */
object PlanStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("plans/r16/all")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.session(cpus.toInt,
      appName = "graft-planstats")
    // Bench's split size (see graft.Bench)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "8388608"))
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // tokens are REGEXES by contract (several carry \b anchors);
    // plain-text tokens with metacharacters must be Regex.quote'd by
    // the caller (ADVICE r16). Patterns compile once, not per query.
    val compiled = new scala.collection.mutable.HashMap[String,
      scala.util.matching.Regex]()
    def count(plan: String, token: String): Int =
      compiled.getOrElseUpdate(token, token.r).findAllMatchIn(plan).size
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val plan = df.queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
          val ex = count(plan, "\\bExchange\\b")
          val smj = count(plan, "SortMergeJoin")
          val bhj = count(plan, "BroadcastHashJoin")
          val shj = count(plan, "ShuffledHashJoin")
          val bnl = count(plan, "BroadcastNestedLoopJoin")
          val cart = count(plan, "CartesianProduct")
          val gen = count(plan, "\\bGenerate\\b")
          val win = count(plan, "\\bWindow\\b")
          val wsc = count(plan, "WholeStageCodegen")
          val sort = count(plan, "\\bSort\\b")
          val scan = count(plan, "Scan parquet")
          val agg = count(plan, "HashAggregate")
          val objAgg = count(plan, "ObjectHashAggregate")
          val sortAgg = count(plan, "SortAggregate")
          println(f"PLANSTAT $name%-28s ex=$ex%2d smj=$smj shj=$shj bhj=$bhj bnl=$bnl cart=$cart gen=$gen win=$win sort=$sort%2d scan=$scan%2d agg=$agg/$objAgg/$sortAgg wsc=$wsc%2d")
        } catch { case e: Throwable =>
          println(s"PLANSTAT $name FAILED ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(100)}")
        } finally {
          graft.tools.SessionHygiene.unpersistAll(spark, blocking = true)
        }
      }
    spark.stop()
  }
}
