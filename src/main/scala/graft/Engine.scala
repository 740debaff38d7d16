package graft

import org.apache.spark.sql.SparkSession

/** Canonical session entry point for library adopters: ONE builder
  * that applies every configuration the engine's correctness and
  * performance contracts assume, so user sessions match the verified
  * Verify/Bench environments instead of re-discovering the invariants
  * one incident at a time.
  *
  * What it pins, and why:
  *  - UTC session timezone — Tables' timestamp normalization is
  *    TZ-dependent by construction and asserts this (Tables.scala);
  *  - shuffle partitions sized to the session's parallelism, not
  *    Spark's default 200 — on a cluster, pass the executor-core
  *    count (SCALE.md "Shuffle sizing");
  *  - AQE on — the skew-split and partition-coalescing behaviors the
  *    dedup/sessionization scale stories rely on (AqeSpec);
  *  - DSv2 storage partitioning on — clustered sources
  *    (o61/SourcesSpec) elide key-aligned exchanges; inert elsewhere;
  *  - graft native functions (portable_hash60, cosine_f,
  *    multi_needle_matches) registered, plus the TopK rewrite rule +
  *    strategy (plans/TopKRewrite) so row_number()<=k windows plan as
  *    bounded top-k.
  */
object Engine {

  /** Build (or reuse) the configured session. `parallelism` sizes both
    * the local master and the shuffle-partition count; on a real
    * cluster set `master` to the cluster manager and `parallelism` to
    * the executor-core total.
    */
  def session(parallelism: Int = Runtime.getRuntime.availableProcessors(),
      master: Option[String] = None,
      appName: String = "graft"): SparkSession = {
    val m = master.getOrElse(s"local[$parallelism]")
    // local-cluster executors get graft's classpath and JVM opens;
    // identity for local[N]
    val b = graft.tools.ClusterConf.forMaster(SparkSession.builder(), m)
      .master(m)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .withExtensions(new graft.expressions.GraftSparkExtensions)
    val s = b.getOrCreate()
    // getOrCreate on an EXISTING session ignores withExtensions —
    // register through the live-session path too (idempotent), so a
    // reused session still resolves the native functions
    graft.expressions.GraftFunctions.register(s)
    graft.plans.TopKRewrite.install(s)
    s
  }
}
