package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Plan a parquet scan over a FIXED file list with KNOWN sizes — the
  * manifest-driven scan path of [[graft.lake.AcidTable]].
  *
  * `spark.read.parquet(paths: _*)` builds an `InMemoryFileIndex`, which
  * stats every path and infers the partition layout ON EVERY CALL — ~3-4 ms
  * of driver time per file, so a snapshot over a few dozen file-group files
  * costs hundreds of milliseconds before the first task launches (measured:
  * 236 ms of a 296 ms count() at 66 files). A transactional table already
  * carries the authoritative file list AND per-file sizes in its commit
  * manifest (recorded in its segments), so scan planning here consumes that
  * metadata directly: zero filesystem listings, zero stat calls — the same
  * design Delta/Iceberg/Hudi use to plan 100 TB scans from manifest files
  * alone. Partition values ride each file entry and support ordinary
  * partition pruning via the interpreted predicate below.
  */
object ManifestScan {

  /** One scannable file: absolute path, its partition VALUE (unescaped),
    * and its size in bytes (from the manifest; callers stat as a fallback
    * only for files from pre-`#sizes` manifests).
    */
  final case class ManifestFile(absPath: String, partitionValue: String, sizeBytes: Long)

  /** A DataFrame over exactly `files`, with `fullSchema`'s column order.
    * `fullSchema` must contain `partitionCol` (surfaced from the per-file
    * partition values, not from the data files).
    */
  def dataFrame(
      spark: SparkSession,
      fullSchema: StructType,
      partitionCol: String,
      dataRoot: String,
      files: Seq[ManifestFile]): DataFrame = {
    // file-source reads force nullability exactly like
    // DataFrameReader.schema(...): data files may predate schema evolution
    // (missing columns surface as NULL) or hold nulls a stricter declared
    // schema would reject — matching Spark's asNullable contract keeps the
    // codegen writers from dereferencing a null it was promised cannot exist
    val partitionSchema = StructType(Seq(fullSchema(partitionCol))).asNullable
    val dataSchema = StructType(fullSchema.filterNot(_.name == partitionCol)).asNullable
    val index = new ManifestFileIndex(dataRoot, partitionSchema, files)
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema, None,
      new ParquetFileFormat, Map.empty)(spark)
    PlanShim.ofRows(spark, LogicalRelation(relation))
  }
}

/** [[FileIndex]] backed by a driver-held file list: `listFiles` serves the
  * pre-grouped partition directories (pruned against `partitionFilters`
  * with an interpreted predicate) and never touches the filesystem.
  */
final class ManifestFileIndex(
    root: String,
    override val partitionSchema: StructType,
    files: Seq[ManifestScan.ManifestFile]) extends FileIndex {

  private val dirs: Seq[PartitionDirectory] =
    files.groupBy(_.partitionValue).toSeq.map { case (pv, fs) =>
      PartitionDirectory(
        InternalRow(UTF8String.fromString(pv)),
        fs.map(f => new FileStatus(
          f.sizeBytes, false, 1, 128L * 1024 * 1024, 0L, new Path(f.absPath))).toArray)
    }

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) dirs
    else {
      val bound = partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = partitionSchema.fieldNames.indexOf(a.name)
          BoundReference(i, partitionSchema(i).dataType, nullable = true)
      }
      val predicate = Predicate.createInterpreted(bound)
      dirs.filter(d => predicate.eval(d.values))
    }

  override def inputFiles: Array[String] = files.map(_.absPath).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.sizeBytes).sum
}
