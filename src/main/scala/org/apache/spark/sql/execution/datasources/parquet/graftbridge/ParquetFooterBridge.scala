package org.apache.spark.sql.execution.datasources.parquet.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The schema Spark's parquet inference gives a path, read on the
  * driver. Inference (`mergeSchemasInParallel`) starts a Spark job to
  * read the footers; this reads them with the same
  * `readParquetFootersInParallel` on the driver's threads and converts
  * them with the same `ParquetFileFormat.readSchema`, under the
  * session's parquet confs, so it starts no job. Every data file's
  * footer is read and the schemas merged (inference's `mergeSchema`
  * form; Spark-written directories carry one schema, so the merge is
  * the first file's schema). Nullable, as a relation's data schema is.
  * It lives under Spark's parquet package because both functions are
  * `private[parquet]`.
  */
object ParquetFooterBridge {
  def schema(spark: SparkSession, path: String): StructType = {
    val session = spark.asInstanceOf[ClassicSession]
    val conf = session.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    def dataFiles(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filterNot(hidden)
        .sortBy(_.getPath.getName).flatMap(dataFiles)
    val files = dataFiles(fs.getFileStatus(root))
    val footers = ParquetFileFormat.readParquetFootersInParallel(conf, files,
      session.sessionState.conf.ignoreCorruptFiles)
    ParquetFileFormat.readSchema(footers, session)
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet data files under $path"))
      .asNullable
  }
}
