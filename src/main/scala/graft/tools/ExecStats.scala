package graft.tools

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Optimization-round empirical profile: run queries through the
  * bench's noop-sink methodology with a SparkListener attached and
  * report what actually executed — jobs, stages, tasks, shuffle
  * read/write bytes, input bytes, executor CPU time. The initial
  * explain over-counts duplicated subtrees that runtime exchange
  * reuse collapses; this tool measures the truth (guide §1/§7).
  *
  * Usage: `SPARK_GRAFT_ONLY=q1,q2 sbt "runMain graft.tools.ExecStats
  * [sfDir] [repeats]"` — repeats > 1 reports the min elapsed and the
  * LAST run's counters (warm).
  */
object ExecStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val repeats = args.lift(1).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine.session(cpus.toInt,
      appName = "graft-execstats")
    // Bench's split size (see graft.Bench)
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      sys.env.getOrElse("SPARK_GRAFT_MAX_PART_BYTES", "8388608"))
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufR = new AtomicLong
    val shufW = new AtomicLong
    val input = new AtomicLong
    val cpu = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          input.addAndGet(m.inputMetrics.bytesRead)
          cpu.addAndGet(m.executorCpuTime)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // warm-up like Bench
    try graft.SparkEntry.queries("o15_multi_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case scala.util.control.NonFatal(_) => () }
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        var best = Double.MaxValue
        var line = ""          // best SUCCESSFUL line, never overwritten
        var failures = List.empty[String]
        (1 to repeats).foreach { _ =>
          // drain the async listener bus BEFORE resetting, so stray
          // events from the previous repeat/query never leak into
          // this repeat's counters (ADVICE r16)
          Thread.sleep(300)
          jobs.set(0); stages.set(0); tasks.set(0)
          shufR.set(0); shufW.set(0); input.set(0); cpu.set(0)
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val el = (System.nanoTime() - t0) / 1e9
            Thread.sleep(300) // let the async listener bus drain
            if (el < best) best = el
            line = f"EXEC $name%-28s min=$best%7.3f s jobs=${jobs.get}%3d stages=${stages.get}%4d tasks=${tasks.get}%5d shufW=${shufW.get / 1024}%8d KiB input=${input.get / 1024}%8d KiB cpu=${cpu.get / 1000000000L}%4d s"
          } catch { case e: Throwable =>
            failures ::= s"EXEC $name FAILED ${e.getMessage}"
          } finally {
            graft.tools.SessionHygiene.unpersistAll(spark, blocking = true)
          }
        }
        // a repeat failure after a success is REPORTED but does not
        // discard the measured minimum (ADVICE r16)
        if (line.nonEmpty) println(line)
        failures.reverse.foreach(println)
      }
    spark.stop()
  }
}
