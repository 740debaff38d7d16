package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import scala.jdk.CollectionConverters._

/** Engine.session applies the full configuration contract in one
  * call — the invariants every other suite assumes individually. The
  * shared test session IS an Engine.session, so the contract is
  * asserted on it directly.
  */
class EngineSpec extends SparkSpec {

  test("session carries the engine's configuration contract") {
    val s = spark
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(s.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(s.conf.get("spark.sql.sources.v2.bucketing.enabled") === "true")
    // native functions resolvable from SQL
    assert(s.sql("SELECT portable_hash60('x') AS h").head().getLong(0)
      === graft.expressions.Kernels.portableHash60(
        org.apache.spark.unsafe.types.UTF8String.fromString("x")))
    // TopK machinery installed
    assert(s.experimental.extraOptimizations
      .contains(graft.plans.TopKRewriteRule))
    // idempotent: calling again reuses the session and must not
    // double-install
    assert(Engine.session(parallelism = 4) eq s)
    assert(s.experimental.extraOptimizations
      .count(_ == graft.plans.TopKRewriteRule) === 1)
  }

  test("Engine.session on an existing plain session installs the functions") {
    // adopters who already hold a session: getOrCreate returns it and
    // ignores withExtensions, so the live registration path must apply
    // the confs and install the functions and rule itself
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val plain = SparkSession.builder().getOrCreate()
      assert(plain ne shared)
      intercept[AnalysisException](plain.sql("SELECT portable_hash60('x')"))
      assert(!plain.experimental.extraOptimizations
        .contains(graft.plans.TopKRewriteRule))
      val s = Engine.session(parallelism = 4)
      assert(s eq plain)
      assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
      assert(s.conf.get("spark.sql.sources.v2.bucketing.enabled") === "true")
      assert(s.sql("SELECT portable_hash60('x'), " +
        "cosine_f(array(cast(1.0 as float)), array(cast(1.0 as float)))")
        .count() === 1L)
      assert(s.experimental.extraOptimizations
        .contains(graft.plans.TopKRewriteRule))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
    assert(Engine.session(parallelism = 4) eq shared)
  }

  test("only Engine builds a SparkSession in main sources") {
    // one session builder: Verify, Bench, the tools and the tests all
    // run on Engine.session
    val root = Paths.get("src/main/scala")
    val allowed = Set("graft/Engine.scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val builders = files.filter { (p: Path) =>
      Files.readString(p).linesIterator
        .exists(l => l.contains("SparkSession.builder()") &&
          !l.trim.startsWith("*") && !l.trim.startsWith("//"))
    }.map(root.relativize(_).toString).toSet
    assert(builders -- allowed === Set.empty[String])
  }
}
