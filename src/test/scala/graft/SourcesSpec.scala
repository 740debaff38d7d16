package graft

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

/** DSv2 synthetic source: partition-local generation, pushed column
  * pruning, determinism across slice counts.
  */
class SourcesSpec extends SparkSpec {

  private def load(rows: Long, slices: Int) =
    spark.read.format("graft.sources.SyntheticSource")
      .option("rows", rows).option("slices", slices).load()

  test("generates exactly `rows` rows across `slices` partitions") {
    val df = load(10000, 7)
    assert(df.count() === 10000)
    assert(df.rdd.getNumPartitions === 7)
    assert(df.select(countDistinct("id")).first().getLong(0) === 10000)
  }

  test("column pruning reaches the reader (pushed required schema)") {
    val pruned = load(100, 4).select("category")
      .queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.scan.readSchema()
      }
    assert(pruned.nonEmpty)
    assert(pruned.head.fieldNames.toSeq === Seq("category"),
      s"reader still materializes ${pruned.head.fieldNames.mkString(",")}")
  }

  test("content is a pure function of id — slice count is invisible") {
    val a = load(5000, 3).collect().map(_.toSeq).sortBy(_.head.toString)
    val b = load(5000, 11).collect().map(_.toSeq).sortBy(_.head.toString)
    assert(a === b)
  }

  test("id range predicates narrow generation (source-side pruning)") {
    val df = load(1000000, 8).filter(col("id") >= 999000L && col("id") < 999500L)
    // correctness: exactly the requested window
    assert(df.count() === 500)
    assert(df.agg(min("id"), max("id")).first().toSeq === Seq(999000L, 999499L))
    // pruning: the scan generates only the narrowed range — visible as
    // the pushed range bounds replacing a million-row scan; measure by
    // partition row distribution
    val perPart = df.select("id").rdd
      .mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.sum === 500)
    // every slice holds ~1/8 of the 500-row window, not of the 1M table
    assert(perPart.max <= 100, s"a slice generated ${perPart.max} rows")
  }

  test("limit pushes into the source (truncated generation)") {
    val df = load(1000000, 4).limit(32)
    assert(df.count() === 32)
    val perPart = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.sum === 32, s"source generated ${perPart.sum} rows")
  }

  test("checksum sink aggregates committed task messages exactly once") {
    import graft.sources.ChecksumSink
    val df = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    df.repartition(13) // many tasks -> many commit messages
      .write.format("graft.sources.ChecksumSink")
      .option("name", "spec-run").mode("append").save()
    val (n, sum) = ChecksumSink.result("spec-run").get
    assert(n === df.count())
    // recompute the order-independent checksum locally (the sink's
    // length-prefixed framing: <len>:<content>, null -> N)
    val expected = df.collect().map { r =>
      val rendered = (0 until 3).map { i =>
        if (r.isNullAt(i)) "N"
        else { val s = r.get(i).toString; s"${s.length}:$s" }
      }.mkString("|")
      graft.expressions.Kernels.portableHash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(rendered))
    }.sum
    assert(sum === expected)
    // a second identical write overwrites the slot with the same state
    df.repartition(3).write.format("graft.sources.ChecksumSink")
      .option("name", "spec-run").mode("append").save()
    assert(ChecksumSink.result("spec-run").get === ((n, sum)),
      "checksum must be partitioning-independent")
  }

  test("checksum framing distinguishes delimiter/null/empty collisions") {
    import graft.sources.ChecksumSink
    import spark.implicits._
    def sumOf(df: org.apache.spark.sql.DataFrame, name: String) = {
      df.write.format("graft.sources.ChecksumSink")
        .option("name", name).mode("append").save()
      ChecksumSink.result(name).get
    }
    // a '|' inside a field must not alias the field boundary
    val s1 = sumOf(Seq(("a|", "b")).toDF("x", "y"), "cs-d1")
    val s2 = sumOf(Seq(("a", "|b")).toDF("x", "y"), "cs-d2")
    assert(s1 !== s2, "field-delimiter aliasing")
    // empty array, [null] and [""] are three different values
    val e1 = sumOf(Seq(Tuple1(Seq.empty[String])).toDF("a"), "cs-e1")
    val e2 = sumOf(Seq(Tuple1(Seq[String](null))).toDF("a"), "cs-e2")
    val e3 = sumOf(Seq(Tuple1(Seq(""))).toDF("a"), "cs-e3")
    assert(e1 != e2 && e1 != e3 && e2 != e3,
      s"array null/empty aliasing: $e1 / $e2 / $e3")
  }

  test("clustered scan elides the aggregation exchange (KeyGroupedPartitioning)") {
    // v2 bucketing is on in every Engine.session
    val clustered = spark.read.format("graft.sources.SyntheticSource")
      .option("rows", 5000).option("clusterByUser", "true").load()
      .groupBy("user_id").agg(sum("amount_cents").as("cents"))
    val plain = load(5000, 4)
      .groupBy("user_id").agg(sum("amount_cents").as("cents"))
    // identical results...
    val a = clustered.orderBy("user_id").collect().toSeq
    val b = plain.orderBy("user_id").collect().toSeq
    assert(a === b)
    // ...but the clustered read's plan has NO exchange before the
    // aggregate: the source-reported user partitioning satisfies the
    // aggregation's distribution (the DSv2 bucketed-table contract)
    val p = clustered.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"clustered aggregate still shuffles:\n${p.take(3000)}")
  }

  test("storage-partitioned join: two clustered scans join with no shuffle") {
    // force the shuffle decision to matter (no broadcast escape)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = util.Try(spark.conf.get(key)).toOption
    spark.conf.set(key, "-1")
    try {
      def clustered(rows: Long) =
        spark.read.format("graft.sources.SyntheticSource")
          .option("rows", rows).option("clusterByUser", "true").load()
      // pre-aggregate each side on the reported key, then join — both
      // aggregates AND the join ride the source partitioning
      val left = clustered(4000).groupBy("user_id")
        .agg(sum("amount_cents").as("l_cents"))
      val right = clustered(2000).groupBy("user_id")
        .agg(count(lit(1)).as("r_n"))
      val joined = left.join(right, "user_id")
      val got = joined.orderBy("user_id").collect()
      assert(got.length === 100, s"expected 100 user rows, ${got.length}")
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"storage-partitioned join still shuffles:\n${p.take(4000)}")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
