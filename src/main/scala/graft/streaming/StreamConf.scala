package graft.streaming

import org.apache.spark.sql.SparkSession

/** Streaming-query tuning shared by the x-series runners.
  *
  * A stateful streaming operator creates one state store per shuffle
  * partition, and every micro-batch commits a delta file per store —
  * at bench scale (single node, one batch) 32 partitions is pure
  * checkpoint-IO overhead (the stream-stream join pays it twice, once
  * per side). 4 keeps the run parallel while cutting that 8x
  * (measured: the stream-stream join 22s → 7.8s at sf0.1); on a
  * real cluster size it to the executor count like any shuffle.
  */
object StreamConf {
  /** Ephemeral checkpoint root for run-to-completion test/bench
    * queries: tmpfs when the host has one. The offset/commit metadata
    * logs and state-store delta files fsync per micro-batch — on a
    * disk-backed /tmp that IO is a fixed ~0.3 s tax per streaming
    * query that measures the filesystem, not the operator. A REAL
    * deployment points checkpointLocation at durable shared storage
    * (that is the fault-tolerance contract); this helper is only for
    * the memory-sink drain-once pattern, whose results never need
    * recovery.
    */
  private def ephemeralRoot: java.io.File = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) shm
      else new java.io.File(System.getProperty("java.io.tmpdir"))
    new java.io.File(base, "graft-stream-ckpt")
  }

  private def deleteRec(f: java.io.File): Unit = {
    val fs = f.listFiles()
    if (fs != null) fs.foreach(deleteRec)
    f.delete()
  }

  /** Fresh ephemeral checkpoint path (see [[ephemeralRoot]]); caller
    * owns deletion ([[dropCheckpoint]]). */
  def ephemeralCheckpoint(name: String): String =
    new java.io.File(ephemeralRoot,
      s"$name-${java.util.UUID.randomUUID()}").getAbsolutePath

  def dropCheckpoint(path: String): Unit =
    deleteRec(new java.io.File(path))

  /** Drain a streaming DataFrame through a memory-sink query (the
    * x-series bench/verify pattern): fresh ephemeral checkpoint,
    * processAllAvailable, stop, checkpoint deleted; returns the sink
    * table. Every memory-sink site routes through here so the
    * checkpoint/state-partition policy lives in one place.
    *
    * The state-partition count is the session-global
    * `spark.sql.shuffle.partitions`, set for the run and restored
    * after it. Serialized (JVM-wide lock): the save/set/restore races
    * under concurrent callers — one caller could capture another's
    * temporary value as `prev` and "restore" it permanently.
    */
  def runToTable(s: SparkSession, df: org.apache.spark.sql.DataFrame,
      name: String, mode: String, statePartitions: Int = 4)
      : org.apache.spark.sql.DataFrame = {
    StreamConf.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val prev = s.conf.get(key)
      s.conf.set(key, statePartitions.toString)
      try {
        val ckpt = ephemeralCheckpoint(name)
        val q = df.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt)
          .outputMode(mode).start()
        try q.processAllAvailable()
        finally { q.stop(); dropCheckpoint(ckpt) }
      } finally s.conf.set(key, prev)
    }
    s.table(name)
  }
}
