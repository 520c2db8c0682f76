package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.types.StructType

/** Spark's parquet format with a schema inference that runs no Spark
  * job, for `graft.sources.ParquetSource`. Unless `mergeSchema` is on,
  * Spark's own inference (`ParquetUtils.inferSchema`) reads ONE footer,
  * yet in a one-task job: tens of milliseconds of job scheduling for a
  * read of a few kilobytes. This reads the same footer on the driver
  * through the same readers (`readParquetFootersInParallel` +
  * `readSchema`, both package-private, hence the package).
  *
  * `DataSource` globs, lists and infers partition columns as it does
  * for `parquet`, and hands the inference the file index it listed, so
  * the footer choice and the frame share one listing. An empty
  * directory infers nothing and fails as `parquet` does. */
final class DriverSchemaParquet extends ParquetFileFormat {

  /** The schema `spark.read.parquet` would infer over `files`. The
    * footer is Spark's pick: leaf files sorted by path, then the first
    * `_common_metadata`, then the first `_metadata`, then the first data
    * file. With `mergeSchema` on every footer counts, so Spark's
    * distributed merge runs unchanged. */
  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] =
    if (new ParquetOptions(options, spark.sessionState.conf).mergeSchema)
      ParquetUtils.inferSchema(spark, options, files)
    else {
      val summaries = Seq("_common_metadata", "_metadata")
      val leaves = files.sortBy(_.getPath.toString)
      val footer = summaries.iterator
        .flatMap(n => leaves.find(_.getPath.getName == n)).nextOption()
        .orElse(leaves.find(f => !summaries.contains(f.getPath.getName)))
      footer.flatMap { f =>
        val conf = spark.sessionState.newHadoopConfWithOptions(options)
        val ignoreCorrupt =
          new FileSourceOptions(CaseInsensitiveMap(options)).ignoreCorruptFiles
        ParquetFileFormat.readSchema(
          ParquetFileFormat.readParquetFootersInParallel(conf, Seq(f), ignoreCorrupt),
          spark)
      }
    }
}
