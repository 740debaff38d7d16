package graft

import org.apache.spark.sql.functions._

/** AQE runtime re-planning: skewed shuffle partitions are split at
  * execution time — the mechanism SCALE.md relies on for heavy-hitter
  * user keys in clickstream shuffles (the reference handles the same
  * skew with hand-tuned repartitioning).
  */
class AqeSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits a skewed join partition at runtime") {
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // one hot key carrying ~90% of a few-MB table, joined to a dim
      // too large to broadcast (threshold disabled) -> sort-merge join
      // whose hot partition AQE must split
      val fact = spark.range(0, 200000)
        .select(when(col("id") < 180000, 1L).otherwise(col("id")).as("k"),
          concat(lit("payload-"), col("id")).as("pad"))
      val dim = spark.range(0, 50000).select(col("id").as("k"),
        concat(lit("dim-"), col("id")).as("label"))
      val joined = fact.join(dim, "k")
      // execute THIS plan (count() would build a different query tree
      // whose AQE instance finalizes instead of joined's)
      val n = joined.collect().length
      // hot key 1 matches dim row 1: 180000 rows; cold keys in
      // [180000, 200000) have no dim match (dim stops at 50000)
      assert(n === 180000)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skew split:\n${finalPlan.take(4000)}")
    }
  }

  test("AQE splits a hot LSH band bucket in the candidate join") {
    withConf(
      // 32 reducers (the suite default is 4): skew detection compares
      // against the MEDIAN partition, and with 4 reducers the cold
      // rows alone make every partition hot-bucket-sized
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // low threshold: the band join prunes each side to (id,
      // band_hash), and the hot bucket's IDENTICAL hash strings
      // lz4-compress to almost nothing in the shuffle blocks AQE
      // measures — only the 8-byte ids resist, so absolute partition
      // bytes stay small even when the row-count skew is 20x
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // the realistic skew case for MinHash-LSH at scale: one band
      // bucket collecting a boilerplate-heavy near-dup cluster while
      // every other doc hashes to its own bucket. 4000 hot docs agree
      // on BAND 0's signature rows (sig_0..7); 6400 cold docs have
      // unique signatures (~200 rows per reducer — the median the
      // 4000-row hot bucket must dwarf), so the band-0 self-join must
      // be AQE-split. Same shape the reference hand-repartitions for
      // its hot wcs_user_sk keys (q02_dask_sql.py:46), handled here
      // at runtime instead.
      val k = 64; val rowsPerBand = 8
      // hot docs: sig_0..7 constant; cold docs: all sigs unique
      val hotSigCols = (0 until k).map(i =>
        (if (i < rowsPerBand)
          when(col("id") < 4000, lit(i.toLong))
            .otherwise(col("id") * k + i)
        else col("id") * k + i).as(s"sig_$i"))
      val sigs = spark.range(0, 10400)
        .select((col("id") +: hotSigCols): _*)
      val cands = graft.ops.Dedup
        .lshCandidatesOnce(sigs, "id", k, rowsPerBand)
      // run THIS QueryExecution (collect would haul 8M pairs to the
      // driver; count() would finalize a different AQE instance)
      val n = cands.queryExecution.toRdd.count()
      // exactly-once emission: every hot pair matches in band 0 (and
      // noEarlier is vacuous for j=0); cold docs pair with nobody
      assert(n === 4000L * 3999 / 2)
      val finalPlan = cands.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not split the hot band bucket:\n${finalPlan.take(4000)}")
    }
  }

  test("AQE coalesces small post-shuffle partitions at runtime") {
    // the other half of the AQE story SCALE.md relies on: a
    // conservative static spark.sql.shuffle.partitions over-partitions
    // small aggregates, and AQE shrinks them back at runtime — why 32
    // static partitions are safe for queries whose shuffles are tiny
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8MB",
      "spark.sql.shuffle.partitions" -> "32") {
      val agg = spark.range(0, 100000)
        .select((col("id") % 50).as("k"))
        .groupBy("k").count()
      val n = agg.queryExecution.toRdd.getNumPartitions
      assert(n < 32,
        s"AQE did not coalesce the 50-group aggregate below 32 " +
          s"partitions (got $n)")
      val finalPlan = agg.queryExecution.executedPlan.toString
      assert(finalPlan.contains("AQEShuffleRead") ||
        finalPlan.contains("coalesced"),
        s"no coalesced shuffle read:\n${finalPlan.take(3000)}")
    }
  }
}
