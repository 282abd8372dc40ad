package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

/** The schema Spark's parquet inference gives a path with `mergeSchema`
  * off, read from one footer on the driver.
  *
  * Inference (`ParquetUtils.inferSchema`) picks one file — a summary file
  * (`_common_metadata`, then `_metadata`) if there is one, otherwise the
  * first data file of the sorted listing — and reads its footer inside a
  * Spark job. This picks the same file and reads it with the same two
  * methods that job runs, `readParquetFootersInParallel` and `readSchema`:
  * the same converter settings and the same Spark row metadata, but on a
  * driver thread, so building a DataFrame submits no job. Both methods
  * are `private[parquet]`, hence this shim in the parquet namespace.
  */
object FooterSchema {

  /** `None` when the path lists no file; the caller then lets Spark's own
    * inference raise its usual error. */
  def apply(spark: SparkSession, path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val hadoopConf = session.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    if (!fs.exists(root)) return None
    val leaves = new InMemoryFileIndex(session, Seq(fs.makeQualified(root)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => leaves.find(_.getPath.getName == n)).headOption
      .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
      .flatMap { file =>
        val footers = ParquetFileFormat.readParquetFootersInParallel(
          hadoopConf, Seq(file), session.sessionState.conf.ignoreCorruptFiles)
        ParquetFileFormat.readSchema(footers, session)
      }
  }
}
