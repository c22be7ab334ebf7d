package org.apache.spark.sql.execution.datasources.graftext

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapred.{FileInputFormat, JobConf}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitioningUtils}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink

/** The file listing of Spark's `InMemoryFileIndex`, whose steps are
  * private to Spark (partition discovery to this package): the files
  * `new InMemoryFileIndex(spark, roots, Map.empty, None).listFiles(Nil, Nil)`
  * returns, listed under one given configuration and without building
  * the index, which copies the configuration twice and keeps caches a
  * one-off listing does not use.
  */
object FileListing {

  /** The data files under `paths` (qualified; as in the index, a path
    * inside a streaming sink's metadata directory is skipped): the leaf files
    * `InMemoryFileIndex.listLeafFiles` lists, with the session's input
    * path filter, then selected as `PartitioningAwareFileIndex.listFiles`
    * selects them. With no partition directories discovered, those are
    * the files directly under a root (or a root that is a file);
    * otherwise the files of each partition directory. Either way names
    * starting with `.`, or with `_` unless they hold `=`, and zero-length
    * files are dropped.
    */
  def dataFiles(spark: SparkSession, paths: Seq[Path], conf: JobConf): Seq[FileStatus] = {
    val roots = paths.filterNot(FileStreamSink.ancestorIsMetadataDirectory(_, conf))
    val leaves = InMemoryFileIndex.bulkListLeafFiles(roots, conf, FileInputFormat.getInputPathFilter(conf), spark)
      .flatMap(_._2).distinct
    val leafFile = leaves.map(f => f.getPath -> f).toMap
    val children = leaves.groupBy(_.getPath.getParent)
    val sql = spark.sessionState.conf
    val spec = PartitioningUtils.parsePartitions(
      children.collect { case (dir, files) if files.exists(f => isDataPath(f.getPath)) => dir }.toSeq,
      sql.partitionColumnTypeInferenceEnabled,
      roots.map(r => if (leafFile.contains(r)) r.getParent else r).toSet,
      None, sql.caseSensitiveAnalysis, sql.validatePartitionColumns, sql.sessionLocalTimeZone,
      sql.ignoreInvalidPartitionPaths)
    val dirs = if (spec.partitionColumns.isEmpty) roots else spec.partitions.map(_.path)
    dirs.flatMap(d => children.get(d).orElse(leafFile.get(d).map(Seq(_))).getOrElse(Nil))
      .filter(f => isDataPath(f.getPath) && f.getLen > 0)
  }

  /** `PartitioningAwareFileIndex.isDataPath`. */
  private def isDataPath(path: Path): Boolean = {
    val name = path.getName
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith("."))
  }
}
