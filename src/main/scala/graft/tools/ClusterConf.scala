package graft.tools

import org.apache.spark.sql.SparkSession

/** Multi-JVM-executor launch support (r15 verdict item 1: run the
  * gates under `local-cluster[n,c,m]`, not just `local[N]`).
  *
  * `local-cluster` spawns REAL executor JVMs through the in-process
  * standalone Worker — the mode that exercises what single-JVM
  * `local[N]` hides: closure/task serialization across process
  * boundaries, executor-side classloading of generated code, real
  * broadcast transport, and the DSv2 commit protocol talking to a
  * driver in another process. Those executors are launched from
  * $SPARK_HOME and inherit NEITHER this JVM's classpath nor its
  * JDK-17 --add-opens flags (this app starts as plain `java -cp`,
  * not spark-submit), so both are forwarded explicitly.
  *
  * Usage: `SPARK_GRAFT_MASTER=local-cluster[2,8,4096]` on the mains
  * that read [[master]] (Verify, Bench). [[forMaster]] runs inside
  * Engine.session, and is a no-op for local[*].
  */
object ClusterConf {

  /** build.sbt's JDK-17 module opens (the set
    * org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions
    * covers) — executor JVMs need them for Kryo/Unsafe exactly like
    * the driver does.
    *
    * COUPLED LIST — maintained in THREE places that different
    * launchers read (no shared source is possible across .scala/.sh/
    * .sbt): here (executors), tools/jrun.sh (plain-java driver), and
    * build.sbt javaOptions (sbt-forked driver/tests). A Spark upgrade
    * that needs an extra open must edit all three, or local-cluster
    * executors fail with InaccessibleObjectException while local[N]
    * passes — exactly the multi-JVM-only failure class CLUSTER.md
    * exists to catch. */
  private val AddOpens: String = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")

  /** The session master: SPARK_GRAFT_MASTER if set, else local[cpus]. */
  def master(cpus: String): String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  /** Apply executor classpath + JVM opts when the master is a
    * local-cluster; identity otherwise. */
  def forMaster(b: SparkSession.Builder, master: String)
      : SparkSession.Builder =
    if (!master.startsWith("local-cluster")) b
    else {
      val classes = new java.io.File("target/scala-2.13/classes")
        .getAbsolutePath
      b.config("spark.executor.extraClassPath", classes)
        .config("spark.executor.extraJavaOptions", AddOpens)
    }
}
