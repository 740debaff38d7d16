package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Host-throughput calibration constant for bench adjudication.
  *
  * Recurring problem (SCALE.md r8/r9/r10/r12/r13 rows): the same code
  * reads 1.2-1.5x slower in some host windows, and every round spends
  * judge+builder effort re-litigating which bench numbers are code
  * regressions vs window noise. This probe times a FIXED, data-free,
  * CPU-bound reference job — xxhash64 over spark.range, all 32 cores
  * saturated, no shuffle, no disk — whose cost is a pure function of
  * host CPU throughput. Run it next to any bench pass; the ratio of
  * its reading to a recorded quiet-window reading is the window's
  * inflation factor, and query times can be compared across rounds
  * normalized by it.
  *
  * `sbt "runMain graft.tools.Calibrate"` prints min-of-5 for two
  * shapes: 32-way saturating (matches heavy suite queries) and 4-way
  * light (matches short queries — these historically DON'T inflate,
  * so the pair distinguishes "host fully loaded" from "turbo/cache
  * regime shift that only hits saturating work").
  */
object Calibrate {

  private def pass(spark: SparkSession, rows: Long, parts: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0, rows, 1, parts)
      .select(expr("bit_xor(xxhash64(id))").as("s")) // no ANSI overflow
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  // a shuffle-path reference too: heavy suite queries (d12, m04)
  // bottleneck on exchange + hash-agg memory traffic, which the
  // pure-ALU shape above doesn't exercise — 64M rows through a
  // 4M-key hash aggregate, one full 32-way exchange
  private def shufflePass(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 1L << 26, 1, 32)
      .groupBy(expr("id % 4194304").as("k"))
      .agg(count(lit(1)).as("n"))
      .select(expr("bit_xor(xxhash64(k, n))").as("s"))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** One (saturating_32way_1G, light_4way_64M, shuffle_64M_4Mkeys)
    * reference reading on an EXISTING session: min-of-`reps` per
    * shape, small warm-up first. This is the embeddable form
    * [[graft.Bench]] runs before and after its passes so every
    * BENCH_rN.json carries its own host-window evidence (quiet-window
    * reference values live in SCALE.md's host-calibration rows). */
  def triple(spark: SparkSession, reps: Int): (Double, Double, Double) = {
    pass(spark, 1L << 24, 32) // warm-up (JIT + codegen cache)
    shufflePass(spark)
    val sat = (1 to reps).map(_ => pass(spark, 1L << 30, 32)).min
    val light = (1 to reps).map(_ => pass(spark, 1L << 26, 4)).min
    val shuf = (1 to reps).map(_ => shufflePass(spark)).min
    (sat, light, shuf)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session(32, appName = "graft-calibrate")
    spark.sparkContext.setLogLevel("ERROR")
    val (sat, light, shuf) = triple(spark, 5)
    println(f"[calibrate] saturating_32way_1G  ${sat}%.3f s  (quiet-window reference: see SCALE.md host-calibration row)")
    println(f"[calibrate] light_4way_64M       ${light}%.3f s")
    println(f"[calibrate] shuffle_64M_4Mkeys   ${shuf}%.3f s")
    spark.stop()
  }
}
