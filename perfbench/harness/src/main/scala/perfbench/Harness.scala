package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.bdb.{BdbCatalog, BdbDataGen, BdbQueries, BdbQueries1, BdbQueries2}

/** JVM side of the benchmark. It sets up one workload, runs its query
  * stream, and writes every span and counter it saw to
  * `<out>/events.jsonl`; `run.py` turns that file into metrics and
  * checks the written results.
  *
  * Only graft's public entry points are called: `BdbDataGen`,
  * `BdbCatalog.loadTest`, `BdbQueries.all`, `SparkEntry.queries`,
  * `Engine.session` and `SessionHygiene.unpersistAll`. Per-layer data
  * comes from Spark's public listener APIs ([[Tracer]]), attached only
  * when `--trace 1`.
  *
  * Arguments (all `--key value`):
  *  - `workload`: `bdb-power` or `ext-pipelines`
  *  - `queries`: the query order, `,` between names
  *  - `seconds`: minimum length of the timed phase; whole passes run
  *    until it is reached
  *  - `sf`: BDB scale factor (`bdb-power`)
  *  - `data`: directory of the engine tables (`ext-pipelines`)
  *  - `work`: scratch directory; `out`: results and events
  *  - `trace`: 1 attaches the [[Tracer]] for the load step and the
  *    timed phase
  *  - `cpus`: local parallelism
  */
object Harness {

  /** One JSON line per event; written out when the run ends. */
  final class Events {
    private val q = new ConcurrentLinkedQueue[String]()
    private val nano0 = System.nanoTime()
    private val epoch0 = System.currentTimeMillis().toDouble

    /** Epoch milliseconds with sub-millisecond resolution, on the same
      * clock as Spark's listener timestamps. */
    def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    def emit(kind: String, fields: (String, Any)*): Unit =
      q.add(Json.obj(("k" -> kind) +: fields))

    def write(p: Path): Unit = Files.write(p, q.asScala.toSeq.asJava)
  }

  object Json {
    /** Already-serialized JSON, embedded as is. */
    final case class Raw(json: String)

    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    def value(v: Any): String = v match {
      case Raw(j) => j
      case null | None => "null"
      case Some(x) => value(x)
      case s: String => str(s)
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
      case x => str(x.toString)
    }

    def obj(fields: Seq[(String, Any)]): String =
      fields.map { case (k, v) => s"${str(k)}:${value(v)}" }
        .mkString("{", ",", "}")
  }

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = {
    val opt = parseArgs(args)
    val out = Paths.get(opt("out"))
    val order = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    Files.createDirectories(out)
    val ev = new Events
    val spark = graft.Engine.session(opt("cpus").toInt,
      appName = s"perfbench-${opt("workload")}")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val w: Workload = opt("workload") match {
        case "bdb-power" =>
          new BdbWorkload(spark, opt("work"), opt("sf").toDouble)
        case "ext-pipelines" => new ExtWorkload(spark, opt("data"))
        case other => sys.error(s"unknown workload $other")
      }
      w.prepare()
      w.writeOracles(order, out.resolve("results"))
      val tracer = if (opt.get("trace").contains("1")) {
        val t = new Tracer(spark, ev); t.attach(); Some(t)
      } else None
      load(spark, ev, w)
      ev.emit("setup_done", "t" -> ev.now())
      timedPhase(spark, ev, w, order, opt("seconds").toDouble, out)
      tracer.foreach(_.detach())
      ev.emit("host", "cpus" -> spark.sparkContext.defaultParallelism,
        "heap_bytes" -> Runtime.getRuntime.maxMemory,
        "vm_hwm_kb" -> vmHwmKb())
    } finally {
      spark.stop()
      ev.write(out.resolve("events.jsonl"))
    }
  }

  /** The workload's load step, last step of set-up. Its Spark jobs carry
    * the job group `load`. */
  private def load(spark: SparkSession, ev: Events, w: Workload): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("load", "load", interruptOnCancel = false)
    ev.emit("load_start", "t" -> ev.now())
    val tables = w.load()
    ev.emit("load_end", "t" -> ev.now(), "tables" -> tables)
    sc.clearJobGroup()
  }

  /** Whole passes over the query order until `seconds` have passed. */
  private def timedPhase(spark: SparkSession, ev: Events, w: Workload,
      order: Seq[String], seconds: Double, out: Path): Unit = {
    val t0 = ev.now()
    ev.emit("suite_start", "t" -> t0)
    var pass = 0
    while (pass == 0 || ev.now() - t0 < seconds * 1000) {
      order.foreach { name =>
        runQuery(spark, ev, w, name, pass, out.resolve(s"results/$name").toString)
      }
      pass += 1
    }
    ev.emit("suite_end", "t" -> ev.now(), "passes" -> pass)
  }

  /** One query: the build call that returns the DataFrame (eager ML
    * fits run here), then the parquet write of its result, then
    * `SessionHygiene.unpersistAll`. Every Spark job it starts carries
    * the job group `pass/name`. */
  private def runQuery(spark: SparkSession, ev: Events, w: Workload,
      name: String, pass: Int, dest: String): Unit = {
    val sc = spark.sparkContext
    val group = s"$pass/$name"
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = ev.now()
    var t1 = Double.NaN
    var error: Option[String] = None
    try {
      val df = w.build(name)
      t1 = ev.now()
      df.write.mode("overwrite").parquet(dest)
    } catch {
      case NonFatal(e) =>
        error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        System.err.println(s"[perfbench] $name failed: ${error.get}")
    }
    val t2 = ev.now()
    sc.clearJobGroup()
    graft.tools.SessionHygiene.unpersistAll(spark)
    ev.emit("query", "group" -> group, "name" -> name, "pass" -> pass,
      "t0" -> t0, "t_build" -> t1, "t1" -> t2, "ok" -> error.isEmpty,
      "error" -> error)
  }

  private def vmHwmKb(): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    } catch { case NonFatal(_) => 0L }

  /** What differs between workloads: its input, load step and the
    * call that builds each query. */
  trait Workload {
    def prepare(): Unit
    /** Load of the input tables; one JSON object per table. */
    def load(): Seq[Json.Raw]
    def build(name: String): DataFrame
    /** DuckDB oracle SQL of the given queries, for the result check. */
    def writeOracles(names: Seq[String], dir: Path): Unit = ()
  }

  private def tableRecord(t: String, s: Double, dim: Boolean): Json.Raw =
    Json.Raw(Json.obj(Seq("table" -> t, "s" -> s, "dim" -> dim)))

  /** TPCx-BB on `BdbDataGen` pipe-CSV. The generator is a pure
    * function of row id, so the data never depends on the seed. */
  final class BdbWorkload(spark: SparkSession, work: String, sf: Double)
      extends Workload {
    private val counts = BdbDataGen.Counts(sf)
    private val queries: Map[String, SparkSession => DataFrame] = {
      // The reference's parameter defaults probe item 10001; smaller
      // catalogs probe their midpoint instead (BdbScaleRun's rule)
      val probe = if (counts.items >= 10001L) 10001L else counts.items / 2 + 1
      BdbQueries.all ++ Map[String, SparkSession => DataFrame](
        "q02" -> (s => BdbQueries1.q02(s, itemSk = probe)),
        "q03" -> (s => BdbQueries1.q03(s, purchasedItem = probe)),
        "q24" -> (s => BdbQueries2.q24(s, itemSk = probe)),
        "q27" -> (s => BdbQueries2.q27(s, itemSk = probe)))
    }

    def prepare(): Unit = BdbDataGen.writeCsv(spark, s"$work/csv", counts)

    /** The reference's load test: pipe-CSV to parquet, per table. */
    def load(): Seq[Json.Raw] = {
      val report = BdbCatalog.loadTest(spark, s"$work/csv", s"$work/parquet")
      BdbCatalog.registerParquet(spark, s"$work/parquet")
      report.map { case (t, _, s) =>
        tableRecord(t, s, graft.bdb.BdbSchemas.broadcastDims(t))
      }
    }

    def build(name: String): DataFrame = queries(name)(spark)
  }

  /** Multi-job extension pipelines from `SparkEntry.queries`, on the
    * engine tables the benchmark ships. */
  final class ExtWorkload(spark: SparkSession, data: String)
      extends Workload {
    private val entry = graft.SparkEntry.queries

    /** Warm-up: one full scan of every input table through graft's
      * reader, so the first pipeline does not pay the reader's one-time
      * costs. */
    def prepare(): Unit = graft.Tables.names
      .filter(t => Files.exists(Paths.get(s"$data/$t.parquet")))
      .foreach { t =>
        graft.Tables.load(spark, data, t)
          .write.format("noop").mode("overwrite").save()
      }

    /** The pipelines read the shipped parquet tables as they are. */
    def load(): Seq[Json.Raw] = Seq.empty

    def build(name: String): DataFrame = entry(name)(spark, data)

    override def writeOracles(names: Seq[String], dir: Path): Unit = {
      val oracles = graft.SparkEntry.oracleSql
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("oracle_sql.json"), Json.obj(
        names.flatMap(n => oracles.get(n).map(n -> _))))
    }
  }
}
