package graft.lake

import java.io.File
import java.nio.file.{FileAlreadyExistsException, FileSystemException, FileVisitResult, Files, NoSuchFileException, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, Murmur3Hash}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.graft.{LocalParquetIO, ManifestScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** The data files of one table: the only code that knows the `data/`
  * layout and touches it. [[AcidTable]], [[Indexes]] and the catalog
  * name, read, write, link, list and delete data files through it.
  * {{{
  * data/<partCol>=<value>/b<bbb>-c-<commit>-<i>.parquet   bucket bbb of one
  *                                  commit's output in one partition
  * data/<partCol>=<value>/c-<commit>-<i>.parquet          bucketless: rows of
  *                                  every bucket (coarse partitions,
  *                                  clustered compaction, bulk loads)
  * _tmp-<commit>/                   staging directory of one distributed
  *                                  write, removed before the write returns
  * }}}
  * `<value>` is escaped the way Spark's partitioned writer escapes it, and
  * `<i>` counts the files of one (partition, bucket) group of a commit.
  *
  * A file is named by its path under `data/` (its rel). It is immutable,
  * invisible until a root lists it, and every root records its size, so
  * callers pass (rel, recorded size) entries and nothing here stats a
  * file it reads.
  */
private[lake] final class DataFiles(t: AcidTable) {
  import DataFiles._

  /** The table's `data/` directory. */
  val root: Path = Paths.get(t.path, DataDir)

  def abs(rel: String): Path = root.resolve(rel)

  def exists(rel: String): Boolean = Files.exists(abs(rel))

  // -------------------------------------------------------------- layout --

  /** Partition directory of a partition value, escaped exactly the way
    * Spark's partitioned writer escapes it — raw interpolation would miss
    * the directory for any value with special characters. */
  def partDir(value: String): String =
    s"${t.partitionCol}=" + ExternalCatalogUtils.escapePathName(value)

  /** The partition directory a rel lives in. */
  def dirOf(rel: String): String = rel.takeWhile(_ != '/')

  /** The partition value of a rel or of a bare partition directory. */
  def partValue(rel: String): String =
    ExternalCatalogUtils.unescapePathName(dirOf(rel).stripPrefix(s"${t.partitionCol}="))

  /** Bucket assignment, Spark side: Murmur3 (the `hash()` function, seed
    * 42) of the PK, non-negative mod. [[driverBucketOf]] must agree. */
  def bucketExpr: Column = pmod(hash(col(t.pkCol)), lit(t.numBuckets))

  /** Bucket assignment, driver side, for a CATALYST-INTERNAL pk value:
    * the same `Murmur3Hash` expression `hash()` plans, so driver and
    * executors can never disagree on a key's cell. */
  private lazy val driverHashExpr =
    new Murmur3Hash(Seq(BoundReference(0, t.schema(t.pkCol).dataType, nullable = true)), 42)
  private val driverHashRow = new GenericInternalRow(1)
  def driverBucketOf(pkInternal: Any): Int = driverHashRow.synchronized {
    driverHashRow.update(0, pkInternal)
    val h = driverHashExpr.eval(driverHashRow).asInstanceOf[Int]
    ((h % t.numBuckets) + t.numBuckets) % t.numBuckets
  }

  /** The bucket a data file holds, read off its name; `None` for a
    * bucketless file, which may hold rows of EVERY bucket. */
  def bucketOf(rel: String): Option[Int] =
    rel.substring(rel.lastIndexOf('/') + 1) match {
      case BucketedFileName(b) => Some(b.toInt)
      case _ => None
    }

  /** Whether `rel` can hold rows of `cell`. Bucketless files belong to
    * every cell of their partition. */
  def inCell(rel: String, cell: FileCell): Boolean =
    rel.startsWith(partDir(cell.part) + "/") &&
      (cell.bucket < 0 || bucketOf(rel).forall(_ == cell.bucket))

  /** Per-file record cap of every writer: `targetFileBytes` over the
    * schema's estimated (uncompressed) row width, so a hot partition rolls
    * into several files instead of fusing into one. */
  def recordsPerFile: Long =
    math.max(1L, t.targetFileBytes / math.max(1, t.schema.defaultSize))

  private def newRel(part: String, bucket: Int, commit: String, i: Int): String =
    s"${partDir(part)}/${if (bucket < 0) "" else f"b$bucket%03d-"}c-$commit-$i.parquet"

  // ------------------------------------------------------- Spark-side IO --

  /** A scan of exactly `files`, planned from the entries alone: partition
    * values come off the directory names and sizes from the entries, so
    * planning costs no listing or stat. `readSchema` must contain the
    * partition column. */
  def scan(files: Seq[(String, Long)], readSchema: StructType): DataFrame =
    ManifestScan.dataFrame(t.spark, readSchema, t.partitionCol, root.toString,
      files.map { case (rel, size) =>
        ManifestScan.ManifestFile(abs(rel).toString, partValue(rel), size)
      })

  /** Write `df` as the new files of the `touched` cells: `df` holds table
    * rows plus [[BucketCol]] (-1 = bucketless). The job writes into a
    * private staging directory; each (partition, bucket) directory of a
    * touched cell then moves under `data/` by the commit's naming, and
    * rows of any other cell fail the write loudly. The staging directory
    * is removed on every exit. Returns the new files' entries. */
  def writeStaged(df: DataFrame, touched: Seq[FileCell]): Seq[(String, Long)] = {
    val commit = UUID.randomUUID().toString
    val tmp = Paths.get(t.path, s"_tmp-$commit")
    try {
      val t0 = System.nanoTime()
      df.write.option("maxRecordsPerFile", recordsPerFile)
        // the staging dir is private to this commit and the root link is
        // the publish point, so the two-phase job commit buys nothing:
        // algorithm 2 renames once at task commit, with no _SUCCESS marker
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy(t.partitionCol, BucketCol).mode("overwrite").parquet(tmp.toString)
      AcidTable.writeCallNanos.addAndGet(System.nanoTime() - t0)
      val t1 = System.nanoTime()
      val moved = mutable.ArrayBuffer.empty[(String, Long)]
      val claimed = mutable.Set.empty[String]
      touched.foreach { cell =>
        val pdir = tmp.resolve(partDir(cell.part)).toFile
        val bucketDirs = Option(pdir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { d =>
          d.getName match {
            case BucketDirName(b) if cell.bucket < 0 || cell.bucket == b.toInt => Seq(b.toInt -> d)
            case _ => Nil
          }
        }
        Files.createDirectories(root.resolve(partDir(cell.part)))
        bucketDirs.sortBy(_._1).foreach { case (b, srcDir) =>
          claimed += s"${pdir.getName}/${srcDir.getName}"
          Option(srcDir.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
            .zipWithIndex.foreach { case (f, i) =>
              val rel = newRel(cell.part, b, commit, i)
              val bytes = f.length()
              Files.move(f.toPath, abs(rel))
              moved += (rel -> bytes)
            }
        }
      }
      // any (partition, bucket) directory no touched cell claimed means
      // the rows strayed outside `touched` and would vanish (the checksum
      // filesystem leaves .crc sidecars, so claimed-dir tracking — not
      // emptiness — is the test)
      val stray = Option(tmp.toFile.listFiles()).getOrElse(Array.empty).toSeq.flatMap { pd =>
        Option(pd.listFiles()).getOrElse(Array.empty).toSeq.filter(_.isDirectory)
          .map(bd => s"${pd.getName}/${bd.getName}")
          .filterNot(claimed.contains)
      }
      require(stray.isEmpty,
        s"commit produced rows outside its touched cells: ${stray.mkString(", ")}")
      AcidTable.moveNanos.addAndGet(System.nanoTime() - t1)
      moved.toSeq
    } finally deleteTree(tmp)
  }

  // ------------------------------------------------------ driver-side IO --

  /** What data files physically store: the table schema minus the
    * partition column (which lives in the directory name). ALL-NULLABLE
    * on purpose: the distributed writer's plans (unions, windows) erase
    * non-null guarantees, so its files carry `optional` fields — and a
    * `required` parquet field fed a null writes a silently CORRUPT page.
    * Spark reads parquet as nullable regardless, so the two writers stay
    * indistinguishable. */
  private lazy val fileSchema =
    StructType(t.schema.fields.filterNot(_.name == t.partitionCol).map(_.copy(nullable = true)))
  private lazy val fileFieldIdx: Array[Int] = fileSchema.fieldNames.map(t.schema.fieldIndex)

  /** Whether the driver can read and write this table's files: every
    * column type encodes identically under any session conf. */
  def driverIoSupported: Boolean = LocalParquetIO.supportedSchema(t.schema)

  private def tableRow(fileRow: InternalRow, part: UTF8String): InternalRow = {
    val r = new GenericInternalRow(t.schema.length)
    var i = 0
    while (i < fileFieldIdx.length) {
      r.update(fileFieldIdx(i), fileRow.get(i, fileSchema(i).dataType))
      i += 1
    }
    r.update(t.partFieldIdx, part)
    r
  }

  private def fileRow(tableRow: InternalRow): InternalRow = {
    val r = new GenericInternalRow(fileSchema.length)
    var i = 0
    while (i < fileFieldIdx.length) {
      r.update(i, tableRow.get(fileFieldIdx(i), fileSchema(i).dataType))
      i += 1
    }
    r
  }

  /** One file's rows as stored (file schema, no partition column), through
    * the row cache: absent evolved columns surface as NULL. A cache miss
    * charges the recorded size. */
  private def storedRows(rel: String, size: Long): Seq[InternalRow] = {
    val key = abs(rel).toString
    rowCache.get(key, fileSchema).getOrElse {
      val rs = LocalParquetIO.read(abs(rel).toFile, fileSchema, t.spark)
      rowCache.put(key, fileSchema, rs, size)
      rs
    }
  }

  /** One file's table rows, the row-level image of [[scan]]: the partition
    * value comes off the directory name. */
  private def fileRows(rel: String, size: Long): Seq[InternalRow] = {
    val part = UTF8String.fromString(partValue(rel))
    storedRows(rel, size).map(tableRow(_, part))
  }

  /** Table rows of `files`, in file order. */
  def readRows(files: Seq[(String, Long)]): Seq[InternalRow] = perFile(files)(identity).flatten

  /** Table rows of `files` whose (partition value, Catalyst PK value) pass
    * `keep`, in file order. The test runs on the stored row, so only the
    * kept rows are copied into table rows. */
  def readRowsWhere(files: Seq[(String, Long)])(keep: (String, Any) => Boolean): Seq[InternalRow] = {
    val pkIdx = fileFieldIdx.indexOf(t.pkFieldIdx) // -1: the PK is the partition column
    eachFile(files) { case (rel, size) =>
      val partStr = partValue(rel)
      val part = UTF8String.fromString(partStr)
      val pkOf: InternalRow => Any =
        if (pkIdx < 0) _ => part else r => r.get(pkIdx, fileSchema(pkIdx).dataType)
      storedRows(rel, size).filter(r => keep(partStr, pkOf(r))).map(tableRow(_, part))
    }.flatten
  }

  /** `f` over each file's rows, in file order (see [[eachFile]]). */
  def perFile[B](files: Seq[(String, Long)])(f: Seq[InternalRow] => B): Seq[B] =
    eachFile(files) { case (rel, size) => f(fileRows(rel, size)) }

  /** `f` over each file, in file order: inline up to four files,
    * concurrently above (independent parquet opens). */
  private def eachFile[B](files: Seq[(String, Long)])(f: ((String, Long)) => B): Seq[B] =
    if (files.size <= 4) files.map(f) else Par.map(files)(f)

  /** Write each (partition, bucket) group of table rows as new files
    * (bucket -1 = bucketless), rolled at [[recordsPerFile]], straight to
    * their final names — no staging directory. The rows written are the
    * files' contents, so they enter the row cache. Returns the entries. */
  def writeRows(groups: Seq[((String, Int), Seq[InternalRow])]): Seq[(String, Long)] = {
    val t0 = System.nanoTime()
    val commit = UUID.randomUUID().toString
    val written = groups.flatMap { case ((part, bucket), rows) =>
      Files.createDirectories(root.resolve(partDir(part)))
      rows.grouped(recordsPerFile.toInt).zipWithIndex.map { case (chunk, i) =>
        val rel = newRel(part, bucket, commit, i)
        val fileRows = chunk.map(fileRow)
        val bytes = LocalParquetIO.write(abs(rel).toFile, fileSchema, fileRows, t.spark)
        rowCache.put(abs(rel).toString, fileSchema, fileRows, bytes)
        rel -> bytes
      }
    }
    AcidTable.writeCallNanos.addAndGet(System.nanoTime() - t0)
    written
  }

  // ----------------------------------------------------------- lifecycle --

  /** Hard-link `rels` from `src`'s data directory into this one at the
    * same rels (a shallow clone, a branch publish). */
  def linkFrom(src: DataFiles, rels: Seq[String]): Unit =
    rels.foreach(r => linkOrCopy(src.abs(r), abs(r)))

  /** Refresh staged files' mtimes, their only protection from a vacuum
    * until a root lists them. False when any is gone: a vacuum reaped it,
    * and the staged output cannot be published. */
  def touch(rels: Seq[String]): Boolean = {
    val now = System.currentTimeMillis()
    rels.forall { r =>
      val f = abs(r).toFile
      f.setLastModified(now) || f.exists()
    }
  }

  /** Delete staged files no root will list. */
  def discard(rels: Seq[String]): Unit = rels.foreach(r => Files.deleteIfExists(abs(r)))

  /** The `.parquet` files under `data/` that `live` does not list and
    * whose mtime is older than `cutoff`, as (rel, bytes) — vacuum's rule.
    * With `delete` each is removed and only the removed ones return. One
    * listing per partition directory, 8-way above two directories; a
    * failing directory fails the call. */
  def sweep(live: Set[String], cutoff: Long, delete: Boolean): Seq[(String, Long)] = {
    def dead(dir: File): Seq[(String, Long)] =
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq.flatMap { f =>
        val rel = s"${dir.getName}/${f.getName}"
        if (!f.getName.endsWith(".parquet") || live.contains(rel) || f.lastModified() >= cutoff) None
        else {
          val bytes = f.length()
          if (!delete || f.delete()) Some(rel -> bytes) else None
        }
      }
    val dirs = Option(root.toFile.listFiles()).getOrElse(Array.empty).toSeq
    if (dirs.size <= 2) dirs.flatMap(dead) else Par.map(dirs)(dead).flatten
  }
}

private[lake] object DataFiles {

  val DataDir = "data"

  /** The staging-directory level [[DataFiles.writeStaged]] routes rows to
    * buckets by (a directory, not a file-name part, so the writer splits
    * files per cell; -1 = bucketless). */
  val BucketCol = "__graft_bucket"
  private val BucketDirName = s"$BucketCol=(-?\\d+)".r
  private val BucketedFileName = """b(\d{3})-.*""".r

  /** Make the empty `data/` of a new table. */
  def init(tablePath: String): Unit = { Files.createDirectories(Paths.get(tablePath, DataDir)); () }

  /** Hard-link `src` at `dst` (a shared inode, no bytes copied), copying
    * where the file system cannot link. An existing `dst` counts as done:
    * every name linked here is unique and immutable. */
  def linkOrCopy(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst.getParent)
    try { Files.createLink(dst, src); () }
    catch {
      case _: FileAlreadyExistsException => ()
      case _: UnsupportedOperationException | _: FileSystemException =>
        try { Files.copy(src, dst); () } catch { case _: FileAlreadyExistsException => () }
    }
  }

  /** Delete `p` and everything under it, if it exists. Entries that vanish
    * mid-walk count as deleted; any other I/O error fails the call. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walkFileTree(p, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
          Files.deleteIfExists(f); FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult = e match {
          case _: NoSuchFileException => FileVisitResult.CONTINUE
          case _ => throw e
        }
        override def postVisitDirectory(d: Path, e: java.io.IOException): FileVisitResult = {
          if (e != null) throw e
          Files.deleteIfExists(d); FileVisitResult.CONTINUE
        }
      })
      ()
    }

  // -------------------------------------------------------- file-row cache --
  //
  // Rows of driver-read files, keyed by (absolute path, file schema).
  // SOUND because data files are immutable and uniquely named: an entry
  // goes stale only by its file being vacuumed, after which no root lists
  // it; the schema in the key isolates pre-/post-evolution reads. Writers
  // fill it with the rows they just wrote, so a transactional commit
  // re-reading its own file group skips the parquet read. Bounded by
  // CHARGED BYTES, not rows (KB-scale strings are in the supported type
  // set): each entry is charged its recorded file size × 8, the decoded-
  // versus-compressed inflation, so the 256 MiB cap bounds the heap near
  // that figure.

  private val RowCacheMaxChargedBytes = 256L * 1024 * 1024
  private val RowCacheInflation = 8L

  private object rowCache {
    private final case class Entry(rows: Seq[InternalRow], charged: Long)
    private val map = new java.util.LinkedHashMap[(String, StructType), Entry](64, 0.75f, true)
    private var totalCharged = 0L

    def get(path: String, schema: StructType): Option[Seq[InternalRow]] =
      synchronized(Option(map.get((path, schema))).map(_.rows))

    def put(path: String, schema: StructType, rows: Seq[InternalRow], fileBytes: Long): Unit =
      synchronized {
        val charged = math.max(1L, fileBytes) * RowCacheInflation
        if (charged > RowCacheMaxChargedBytes) return // never cache a monster
        val key = (path, schema)
        val prev = map.put(key, Entry(rows, charged))
        totalCharged += charged - (if (prev == null) 0L else prev.charged)
        val it = map.entrySet().iterator()
        while (totalCharged > RowCacheMaxChargedBytes && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) { totalCharged -= e.getValue.charged; it.remove() }
        }
      }
  }
}
