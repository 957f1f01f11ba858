package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** The per-file indexes of one table: the only code that knows their
  * formats and keeps them current.
  * {{{
  * _cluster.properties                  stats sidecar (`statsver=2`): per data
  *                                      file, per column, encoded (min, max)
  *                                      and a `col#n` (nulls, rows) entry
  * _blooms/seg-<uuid>.bloomseg          one bloom segment per commit: a
  *                                      directory of (file, offset, length),
  *                                      then each file's serialized filters
  * _commits/_segments/rli-<sha1>.txt    record-index runs (`enc(pk)|enc(part)`
  *                                      lines), referenced by the roots'
  *                                      `#rli=` / `#rligen=` / `#rlidone=1`
  *                                      headers; [[Timeline]] stores them
  * }}}
  *
  * Every index is ADVISORY for pruning: a file without a stats entry or a
  * filter is always kept, so a crash between a publish and the index
  * write costs pruning, never correctness. The record index answers
  * "absent" only when the root carries `#rlidone=1`.
  *
  * A commit builds all three for its new files in ONE pass
  * ([[forNewFiles]]): each file's rows feed one [[Indexes.FileAcc]],
  * either on the driver (rows read once through the file-row cache,
  * which the fast path fills as it writes) or on executors (one
  * `mapPartitions` pass, partials merged by file on the driver).
  */
private[lake] final class Indexes(t: AcidTable) {
  import Indexes._

  private def path: String = t.path
  private def schema: StructType = t.schema

  // ---------------------------------------------------------- properties --

  /** The index properties, read with one `_meta.properties` load. A
    * misconfigured column FAILS LOUDLY: a pruning property that silently
    * does nothing is worse than an error. Commits read it once per
    * attempt and hand it to the publish. */
  def conf(): Conf = {
    val props = t.tableProperties
    Conf(
      columnsOf(props, "statsColumns"),
      columnsOf(props, "bloomColumns"),
      props.get("bloomExpectedItems").map(_.toInt).getOrElse(DefaultBloomItems),
      props.get("recordIndex").contains("true") && t.keyCastSupported)
  }

  private def columnsOf(props: Map[String, String], key: String): Seq[String] = {
    val cols = props.get(key).map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    cols.foreach(validateColumn(key, _))
    cols
  }

  private def validateColumn(key: String, c: String): Unit = {
    require(schema.fieldNames.contains(c),
      s"$key: column '$c' does not exist in table schema (${schema.fieldNames.mkString(", ")})")
    require(statsSupported(schema(c).dataType),
      s"$key: column '$c' has type ${schema(c).dataType.sql}, which per-file indexes " +
        "do not support (supported: TINYINT/SMALLINT/INT/BIGINT, FLOAT, DOUBLE, DATE, " +
        "TIMESTAMP, DECIMAL(p<=18), STRING)")
  }

  /** Set-time validation of an index property, so a typo errors at `SET
    * TBLPROPERTIES` instead of failing every later commit. */
  def validateProperty(key: String, value: String): Unit = key match {
    case "statsColumns" | "bloomColumns" =>
      value.split(',').map(_.trim).filter(_.nonEmpty).foreach(validateColumn(key, _))
    case "bloomExpectedItems" =>
      require(value.toIntOption.exists(_ > 0),
        s"bloomExpectedItems must be a positive integer, got '$value'")
    case _ => ()
  }

  // ----------------------------------------------------- one commit pass --

  /** Stats, blooms and the record-index update for a commit's NEW files,
    * computed before the publish (so a misconfigured property aborts the
    * write, and the root's partition envelopes cover the new files).
    *
    * The driver route reads each new file's rows once: always after a
    * fast-path write (its files are in the row cache, zero Spark jobs),
    * otherwise when the recorded sizes fit [[AcidTable.FastPathMaxBytes]].
    * Larger commits run one executor pass for stats and blooms; their
    * record-index delta is the executor-sharded write, as is a driver-
    * route delta above [[AcidTable.RliLocalWriteMaxRows]] rows that the
    * fast path did not write (that shard layout seeds the index's
    * generations). `indexKeys = false` (removal-only commits) carries the
    * record index unchanged. A clustered compaction's `clusterBy` columns
    * join the stats columns, so its files' ranges come from the same pass. */
  def forNewFiles(
      newFiles: Seq[(String, Long)], fastPathRan: Boolean, indexKeys: Boolean,
      clusterBy: Seq[String]): Pending = {
    val c = conf()
    val statsCols = (c.statsCols ++ clusterBy).distinct
    val keys = indexKeys && c.rli && newFiles.nonEmpty
    val driver = fastPathRan || (t.fastSchemaOk && t.driverScaleFiles(newFiles))
    val accs =
      if (statsCols.isEmpty && c.bloomCols.isEmpty && !(keys && driver)) Nil
      else scan(newFiles, Layout(statsCols, c.bloomCols, c.bloomItems, keys && driver), driver)
    val rli =
      if (!indexKeys) RliInherit
      else if (!c.rli) RliAuto
      else if (newFiles.isEmpty) RliInherit
      else if (!driver || (!fastPathRan && accs.map(_._2.rows).sum > AcidTable.RliLocalWriteMaxRows))
        writeRliDeltaDistributed(keyFrame(t.snapshotFromFiles(newFiles)))
          .map(RliAppend(_)).getOrElse(RliAuto)
      else if (accs.exists(_._2.keyNull)) RliAuto
      else RliAppend(writeRliDelta(accs.flatMap(_._2.keys)).toSeq)
    Pending(c,
      if (statsCols.isEmpty) Map.empty else statsOf(accs),
      if (c.bloomCols.isEmpty) Nil else accs.map { case (f, a) => f -> a.bloomBytes },
      rli)
  }

  /** Post-publish half of a commit's index work: merge its stats into the
    * sidecar and write its bloom segment. Both are advisory. */
  def land(p: Pending): Unit = {
    mergeStats(p.stats)
    writeBloomSegment(p.blooms)
  }

  /** One accumulator per file over `files`: driver-side through the
    * file-row cache (files read concurrently, as any driver-side read),
    * or one executor pass over the files' scan with the driver merging
    * the per-task partials by file. */
  private def scan(files: Seq[(String, Long)], layout: Layout, driver: Boolean): Seq[(String, FileAcc)] =
    if (files.isEmpty) Nil
    else if (driver) {
      val ords = layout.ordinals(schema.fieldIndex, t.pkFieldIdx, t.partFieldIdx)
      files.map(_._1).zip(t.dataFiles.perFile(files) { rows =>
        val acc = new FileAcc(layout, ords, schema)
        rows.foreach(acc.add)
        acc
      })
    } else {
      // the scan injects the partition value and resolves renamed and
      // defaulted columns exactly like a read; column 0 is the file
      val cols = layout.columns
      val proj = StructType(StructField("__file", StringType) +: cols.map(schema(_)))
      val ords = layout.ordinals(c => 1 + cols.indexOf(c), -1, -1)
      // a file's rel is `<partition dir>/<name>`: one commit's files share
      // names across partitions, so the match needs the directory too
      val rels = files.map(_._1).toSet
      def relOf(uri: String): String =
        new java.net.URI(uri).getPath.split('/').takeRight(2).mkString("/")
      val partials = t.snapshotFromFiles(files)
        .select(input_file_name() +: cols.map(col): _*)
        .queryExecution.toRdd
        .mapPartitions { it =>
          val accs = mutable.LinkedHashMap.empty[String, FileAcc]
          var last: org.apache.spark.unsafe.types.UTF8String = null
          var acc: FileAcc = null
          it.foreach { r =>
            val u = r.getUTF8String(0)
            if (acc == null || u != last) {
              last = u.clone()
              acc = accs.getOrElseUpdate(last.toString, new FileAcc(layout, ords, proj))
            }
            acc.add(r)
          }
          accs.iterator
        }.collect()
      val merged = mutable.LinkedHashMap.empty[String, FileAcc]
      partials.foreach { case (uri, a) =>
        Some(relOf(uri)).filter(rels).foreach { rel =>
          merged.get(rel) match {
            case Some(prev) => prev.merge(a)
            case None => merged(rel) = a
          }
        }
      }
      merged.toSeq
    }

  /** The distinct (pk, partition) string frame of `rows` — the input of
    * the executor-sharded record-index write. */
  private def keyFrame(rows: org.apache.spark.sql.DataFrame) =
    rows.select(col(t.pkCol).cast(StringType).as("__rk"), col(t.partitionCol).cast(StringType).as("__rp"))
      .distinct()

  // ------------------------------------------------------- stats sidecar --
  //
  // Per-file min/max of the stats (or clustering) columns, keyed by
  // manifest-relative file name. Sound because data files are IMMUTABLE
  // and uniquely named: an entry can never go stale, only orphan (its
  // file vacuumed — harmless). Readers prune conservatively: a file with
  // no recorded range is always kept.

  private def statsPath: Path = Paths.get(path, StatsFile)

  /** rel file → column → (min, max), plus `col#n` → (nulls, rows).
    * (mtime, length)-cached: entries for immutable files never mutate, so
    * a stale hit only misses pruning opportunities, never prunes wrongly. */
  def readStats(): Stats = {
    AcidTable.clusterStatsLoads.incrementAndGet()
    if (!Files.exists(statsPath)) return Map.empty
    val f = statsPath.toFile
    val (mtime, len) = (f.lastModified(), f.length())
    statsCache.get(path, ()) match {
      case Some((m, l, cached)) if m == mtime && l == len => return cached
      case _ => ()
    }
    val props = AcidTable.loadProperties(statsPath)
    import scala.jdk.CollectionConverters._
    // the one readable sidecar format is `statsver=2` (TIMESTAMP ranges
    // encoded with floorDiv, exact for pre-1970 fractional seconds);
    // anything else would prune on ranges this build cannot trust
    val ver = props.getProperty(StatsVerKey)
    if (ver != "2")
      throw new IllegalStateException(
        s"unsupported stats sidecar format in $statsPath: " +
          s"$StatsVerKey=${Option(ver).getOrElse("<absent>")}, expected 2")
    val parsed = props.stringPropertyNames().asScala.filter(_ != StatsVerKey).map { k =>
      val rel = java.net.URLDecoder.decode(k, "UTF-8")
      rel -> props.getProperty(k).split(';').iterator.filter(_.nonEmpty).flatMap { ent =>
        ent.split(':') match {
          case Array(c, lo, hi) => scala.util.Try(
            java.net.URLDecoder.decode(c, "UTF-8") -> (lo.toLong, hi.toLong)).toOption
          case _ => None
        }
      }.toMap
    }.toMap
    statsCache.put(path, (), (mtime, len, parsed))
    parsed
  }

  /** Read-modify-write of the sidecar under a per-path JVM lock so
    * same-process writers can't drop each other's entries. Every sidecar
    * write goes through here. Cross-process lost updates remain possible
    * and remain SAFE: a file whose entry is lost stays unprunable. */
  private def mergeStats(entries: Stats): Unit =
    if (entries.nonEmpty) statsLock(path).synchronized {
      val props = new java.util.Properties()
      // file rel paths always contain '/', so the bare marker key cannot collide
      props.setProperty(StatsVerKey, "2")
      (readStats() ++ entries).foreach { case (rel, cols) =>
        props.setProperty(java.net.URLEncoder.encode(rel, "UTF-8"),
          cols.map { case (c, (lo, hi)) => s"${java.net.URLEncoder.encode(c, "UTF-8")}:$lo:$hi" }
            .mkString(";"))
      }
      AcidTable.storeProperties(props, statsPath, "graft cluster statistics")
    }

  /** Per-file stats of `cols` over `files` on the chosen route — what
    * [[forNewFiles]] records, without blooms or keys. */
  private[lake] def fileStats(files: Seq[(String, Long)], cols: Seq[String], driver: Boolean): Stats =
    statsOf(scan(files, Layout(cols, Nil, DefaultBloomItems, keys = false), driver))

  private def statsOf(accs: Seq[(String, FileAcc)]): Stats =
    accs.collect { case (f, a) if a.rows > 0 => f -> a.stats }.toMap

  /** Encode a query-side bound value for `column` into the sidecar's
    * order-preserving long domain (days / micros / unscaled-at-declared-
    * scale / utf8-prefix), so callers can range-read typed stats columns
    * without knowing the encoding. */
  def statsBound(column: String, value: Any): Long = {
    validateColumn("statsColumns", column)
    statsEncode(schema(column).dataType, value).getOrElse(
      throw new IllegalArgumentException(
        s"statsBound: cannot encode $value (${value.getClass.getName}) " +
          s"for column $column of type ${schema(column).dataType.sql}"))
  }

  /** Partition-level [min, max] of each of `cols` over `fs` — Some only
    * when EVERY file contributed: a range, or a `c#n` entry proving the
    * file ALL-null (its rows cannot match a range predicate). An all-null
    * partition yields (MaxValue, MinValue), which prunes against any real
    * probe range. */
  def envelopes(fs: Seq[String], cols: Seq[String], stats: Stats): Seq[(String, (Long, Long))] =
    cols.flatMap { c =>
      var lo = Long.MaxValue
      var hi = Long.MinValue
      val all = fs.forall { f =>
        stats.get(f).exists { m =>
          m.get(c) match {
            case Some((a, b)) =>
              if (a < lo) lo = a
              if (b > hi) hi = b
              true
            case None => m.get(s"$c#n").exists { case (nulls, rows) => nulls == rows }
          }
        }
      }
      if (all) Some(c -> (lo, hi)) else None
    }

  /** The file subset of `version` that can hold rows matching the closed
    * ranges in `bounds`: files whose recorded range misses a bound are
    * skipped; files without stats are kept. */
  def rangePrunedFiles(bounds: Map[String, (Long, Long)], version: Long = -1L): Seq[String] =
    rangePrunedIn(t.timeline.rootView(if (version >= 0) version else t.latestVersion()), bounds)
      .map(_._1)

  /** [[rangePrunedFiles]] on one view, as (file, recorded size) entries. */
  def rangePrunedIn(view: RootView, bounds: Map[String, (Long, Long)]): Seq[(String, Long)] = {
    if (bounds.isEmpty) return view.entries
    // partition envelopes first: a partition whose [min, max] misses a
    // bound drops WHOLE — its segment never resolves, and when the root
    // refutes every partition the sidecar is never loaded
    // (ManifestSegmentSpec pins it via clusterStatsLoads)
    val keep = view.segRefs.filter(r => bounds.forall { case (c, (lo, hi)) =>
      r.pstats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
    })
    if (keep.isEmpty) return Nil
    val candidates = keep.flatMap(r => t.timeline.readSegment(r.name).entries)
    val stats = readStats()
    candidates.filter { case (f, _) =>
      stats.get(f).forall(cols => bounds.forall { case (c, (lo, hi)) =>
        cols.get(c).forall { case (fmin, fmax) => fmax >= lo && fmin <= hi }
      })
    }
  }

  /** Drop candidates whose `column#n` (nulls, rows) proves they cannot
    * match IS NULL (`wantNull`: zero-null files skip) or IS NOT NULL
    * (all-null files skip) — the Delta nullCount analog. */
  def nullPrunedFiles(
      candidates: Seq[(String, Long)], column: String, wantNull: Boolean): Seq[(String, Long)] = {
    if (candidates.isEmpty) return candidates
    val stats = readStats()
    candidates.filter { case (f, _) =>
      stats.get(f).flatMap(_.get(s"$column#n")) match {
        case Some((nulls, rows)) => if (wantNull) nulls > 0 else nulls < rows
        case None => true
      }
    }
  }

  /** The file subset of `version` that can satisfy the closed ranges
    * (stats), the equality probe sets (blooms), the null checks AND an
    * optional partition list — the composed metadata pruning the DSv2
    * scan routes pushed predicates through. */
  def prunedFiles(
      bounds: Map[String, (Long, Long)],
      equals: Seq[(String, Seq[Any])],
      version: Long = -1L,
      partitions: Option[Seq[String]] = None,
      nullChecks: Seq[(String, Boolean)] = Nil): Seq[String] =
    prunedFilesIn(t.timeline.rootView(if (version >= 0) version else t.latestVersion()),
      bounds, equals, partitions, nullChecks).map(_._1)

  /** [[prunedFiles]] on one view, as (file, recorded size) entries. */
  def prunedFilesIn(
      view: RootView,
      bounds: Map[String, (Long, Long)],
      equals: Seq[(String, Seq[Any])],
      partitions: Option[Seq[String]],
      nullChecks: Seq[(String, Boolean)]): Seq[(String, Long)] = {
    val base = rangePrunedIn(view, bounds)
    val byPart = partitions match {
      case Some(ps) =>
        val dirs = ps.map(p => t.dataFiles.partDir(p) + "/")
        base.filter(f => dirs.exists(f._1.startsWith))
      case None => base
    }
    val byNull = nullChecks.foldLeft(byPart) { case (fs, (c, want)) => nullPrunedFiles(fs, c, want) }
    val bloomCols = if (equals.isEmpty) Nil else bloomColumnsRead
    equals.foldLeft(byNull) { case (fs, (c, vs)) => bloomPrunedFilesFor(fs, c, vs, bloomCols) }
  }

  // -------------------------------------------------------------- blooms --
  //
  // The Hudi bloom-index analog: the `bloomColumns` property makes every
  // commit stamp each new file with a Bloom filter per listed column,
  // consolidated as ONE immutable offset-indexed segment per commit.
  // Point lookups then drop candidate files the filter EXCLUDES — the
  // pruning min/max ranges cannot do on an unclustered table, where every
  // file's PK range spans the keyspace. A lookup reads one ranged slice
  // per surviving file (cached by slice).
  //
  // Soundness: membership can false-positive (file kept, the row filter
  // discards) but never false-negative — strings hash their full UTF-8
  // bytes on both the write and probe side; every other type hashes its
  // order-preserving stats encoding (exact, not truncated).

  private def bloomRoot: Path = Paths.get(path, BloomDir)

  /** READ-side view of `bloomColumns`: a property invalidated after the
    * fact (its column later dropped) degrades scans to "no pruning"
    * rather than breaking every read — commits stay loud. */
  def bloomColumnsRead: Seq[String] =
    scala.util.Try(columnsOf(t.tableProperties, "bloomColumns")).getOrElse(Nil)

  /** Atomic write of ONE bloom segment holding every listed file's
    * serialized filters: magic, a directory of (rel, absolute offset,
    * length), then the payloads (column count, then (name, length, filter
    * bytes) per column). Files whose payload is the same REFERENCE share
    * one payload slot. */
  def writeBloomSegment(pairs: Seq[(String, Seq[(String, Array[Byte])])]): Unit = {
    val entries = pairs.filter(_._2.nonEmpty)
    if (entries.isEmpty) return
    def payloadOf(cols: Seq[(String, Array[Byte])]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(cols.size)
      cols.foreach { case (c, bytes) =>
        out.writeUTF(c); out.writeInt(bytes.length); out.write(bytes)
      }
      out.flush()
      bos.toByteArray
    }
    val slotOf = new java.util.IdentityHashMap[AnyRef, Int]()
    val payloads = mutable.ArrayBuffer.empty[Array[Byte]]
    val relSlots: Seq[(String, Int)] = entries.map { case (rel, cols) =>
      val slot = Option(slotOf.get(cols)).getOrElse {
        payloads += payloadOf(cols)
        slotOf.put(cols, payloads.length - 1)
        payloads.length - 1
      }
      rel -> slot
    }
    // DataOutputStream.writeUTF emits 2 length bytes + modified UTF-8
    def modUtfLen(s: String): Int =
      s.iterator.map(c => if (c >= 1 && c <= 0x7f) 1 else if (c <= 0x7ff) 2 else 3).sum
    val dirLen = 8L + relSlots.iterator.map { case (r, _) => 2L + modUtfLen(r) + 12L }.sum
    val slotOffsets = payloads.scanLeft(dirLen)((acc, p) => acc + p.length)
    Files.createDirectories(bloomRoot)
    val target = bloomRoot.resolve(s"seg-${UUID.randomUUID()}.bloomseg")
    val tmp = target.resolveSibling(s".tmp-${target.getFileName}")
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(Files.newOutputStream(tmp)))
    try {
      out.writeInt(BloomSegMagic)
      out.writeInt(relSlots.size)
      relSlots.foreach { case (rel, slot) =>
        out.writeUTF(rel)
        out.writeLong(slotOffsets(slot))
        out.writeInt(payloads(slot).length)
      }
      payloads.foreach(out.write)
      out.flush()
      require(out.size().toLong == slotOffsets.last,
        s"bloom segment directory sizing bug: wrote ${out.size()}, computed ${slotOffsets.last}")
    } finally out.close()
    Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Directory parse of one bloom segment: (rel, offset, length) triples.
    * Throws on malformed input — callers decide the conservative posture. */
  private def readBloomSegDirectory(seg: Path): Seq[(String, Long, Int)] = {
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(Files.newInputStream(seg)))
    try {
      require(in.readInt() == BloomSegMagic, s"bad bloom segment magic in $seg")
      (0 until in.readInt()).map(_ => (in.readUTF(), in.readLong(), in.readInt()))
    } finally in.close()
  }

  /** Parsed filters of one data file (empty when it has no segment
    * entry or its slice is unreadable — unprunable, never an error). A
    * miss refreshes the per-table directory index from unseen segments;
    * the slice is then one ranged read, cached by slice identity (a bulk
    * stamp can share one slice across thousands of files). */
  def readBlooms(rel: String): Map[String, BloomFilter] = {
    val idx = bloomSegIndexes.getOrElseUpdate(path, ())(new BloomSegIndex)
    // lock-free fast read; the lock guards only the miss-triggered re-scan
    val hit = Option(idx.rels.get(rel)).orElse {
      idx.synchronized {
        if (idx.rels.get(rel) == null && Files.isDirectory(bloomRoot)) {
          Option(bloomRoot.toFile.listFiles()).getOrElse(Array.empty)
            .filter(f => f.getName.endsWith(".bloomseg") &&
              !f.getName.startsWith(".") && // in-flight .tmp- writes excluded
              !idx.seen.contains(f.getName))
            .foreach { f =>
              idx.seen.add(f.getName)
              scala.util.Try(readBloomSegDirectory(f.toPath)).foreach(_.foreach {
                case (r, off, len) => idx.rels.put(r, (f.toPath, off, len))
              })
            }
        }
        Option(idx.rels.get(rel))
      }
    }
    hit.map { case (segPath, off, len) =>
      val key = s"$segPath#$off#$len"
      val memo = idx.lastSlice
      if (memo != null && memo._1 == key) memo._2
      else {
        val parsed = bloomCache.get(path, key).getOrElse {
          val p = scala.util.Try {
            val raf = new java.io.RandomAccessFile(segPath.toFile, "r")
            try {
              raf.seek(off)
              val buf = new Array[Byte](len)
              raf.readFully(buf)
              val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(buf))
              (0 until in.readInt()).map { _ =>
                val c = in.readUTF()
                val bytes = new Array[Byte](in.readInt())
                in.readFully(bytes)
                c -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
              }.toMap
            } finally raf.close()
          }.getOrElse(Map.empty[String, BloomFilter])
          bloomCache.put(path, key, p)
          p
        }
        idx.lastSlice = (key, parsed)
        parsed
      }
    }.getOrElse(Map.empty)
  }

  /** Drop candidates whose filter for `column` EXCLUDES every probe value
    * — sound skipping for an equality/IN predicate. Conservative exits:
    * column not in `bloomCols`, a probe value that does not encode,
    * files without a filter. NULL probes drop out first: SQL equality
    * never matches NULL. */
  def bloomPrunedFilesFor(
      candidates: Seq[(String, Long)], column: String, values: Seq[Any],
      bloomCols: Seq[String]): Seq[(String, Long)] = {
    if (candidates.isEmpty || !bloomCols.contains(column)) return candidates
    val dt = schema(column).dataType
    val nonNull = values.filter(_ != null)
    val probes: Seq[Either[Array[Byte], Long]] = dt match {
      case StringType => nonNull.collect {
        case s: String => Left(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      case _ => nonNull.flatMap(v => statsEncode(dt, v)).map(Right(_))
    }
    if (probes.size != nonNull.size) return candidates // some value unencodable
    candidates.filter { case (f, _) =>
      readBlooms(f).get(column) match {
        case None => true
        case Some(bf) => probes.exists {
          case Left(b) => bf.mightContainBinary(b)
          case Right(l) => bf.mightContainLong(l)
        }
      }
    }
  }

  /** A pruner of candidate files for string-rendered PK lookup `keys` —
    * the bloom tail of a lookup's pruning chain. Reads the property once,
    * however many segment refs the lookup then prunes. */
  def keyPruner(keys: Seq[String]): Seq[(String, Long)] => Seq[(String, Long)] =
    if (!t.keyCastSupported || !bloomColumnsRead.contains(t.pkCol)) identity
    else {
      val typed: Seq[Any] = if (schema(t.pkCol).dataType == StringType) keys else t.typedKeys(keys)
      fs => bloomPrunedFilesFor(fs, t.pkCol, typed, Seq(t.pkCol))
    }

  /** Bloom segments are reaped only when EVERY directory entry's data
    * file is gone (one segment serves a whole commit, so its files retire
    * at different times; a last survivor keeps it). Unparseable segments
    * are kept; orphaned temp files older than `cutoff` go. */
  def sweepBlooms(cutoff: Long): Unit =
    Option(bloomRoot.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      val n = f.getName
      if (n.startsWith(".tmp-") && f.lastModified() < cutoff) {
        f.delete(); ()
      } else if (n.endsWith(".bloomseg") && f.lastModified() < cutoff) {
        val anyLive = scala.util.Try(readBloomSegDirectory(f.toPath)
          .exists { case (rel, _, _) => t.dataFiles.exists(rel) })
          .getOrElse(true)
        if (!anyLive) { f.delete(); () }
      }
    }

  /** Carry the blooms and stats to a shallow clone at `destPath`: bloom
    * segments are hard-linked verbatim (the clone shares every data-file
    * rel), the sidecar copied. Entries for files outside the cloned
    * snapshot ride along as dead weight the clone's vacuum sweeps. */
  def copyTo(destPath: String): Unit = {
    Option(bloomRoot.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith(".tmp-"))
      .foreach(f => DataFiles.linkOrCopy(f.toPath, Paths.get(destPath, BloomDir, f.getName)))
    if (Files.exists(statsPath)) { Files.copy(statsPath, Paths.get(destPath, StatsFile)); () }
  }

  /** A branch publish's index carry: `files`' filters from `branch` as
    * one segment, and — when this table keeps stats — the branch's
    * sidecar merged through the locked merge. Returns the merged-in
    * stats for the publish's envelopes. */
  def adopt(branch: Indexes, files: Seq[String], c: Conf): Stats = {
    writeBloomSegment(files.flatMap { f =>
      val m = branch.readBlooms(f)
      if (m.isEmpty) None else Some(f -> m.toSeq.sortBy(_._1).map { case (col, bf) => col -> bytesOf(bf) })
    })
    if (c.statsCols.isEmpty) Map.empty
    else {
      val bStats = branch.readStats()
      mergeStats(bStats)
      bStats
    }
  }

  // -------------------------------------------------------- record index --
  //
  // pk → partition record-level index (the Hudi RLI analog): an unhinted
  // point probe on a transform-less table otherwise sweeps every
  // partition's segment. The index maps each key's URL-encoded rendering
  // to the partition VALUES it was ever written into; an unhinted lookup
  // consults it and routes like a partition hint. LSM shape: each commit
  // appends a sorted content-addressed delta run; above [[MaxRliRefs]]
  // runs the committing writer folds them into hash shards sized by
  // [[RliShardTarget]], so a probe pays O(1 shard + bounded deltas).
  // Entries are CONSERVATIVE (never removed by deletes/moves — stale
  // entries only add probe candidates); EMPTY results are trusted only
  // under the `#rlidone=1` completeness flag, which any data-adding
  // commit that cannot index its keys drops ([[RliAuto]]). Refs ride root
  // headers, so the index follows the manifest through time travel,
  // restore and clone, and dies with vacuum's timeline archival.

  /** ALL index refs of a root: the generation side file's members (when
    * present) followed by the inline delta tail. May read (and therefore
    * throw on) the side file — see [[Timeline.readRliGen]]. */
  def rliRefsOf(rli: RootView.Rli): Seq[RliRef] =
    rli.gen.toSeq.flatMap(g => t.timeline.readRliGen(g._1)) ++ rli.inline

  /** The header lines for `refs`. Above [[RliGenInlineMax]] refs the
    * GENERATION list lives in a content-addressed `rlg-` side file
    * referenced by ONE `#rligen=` line (a wide generation inline would
    * put O(shards) text into every root); the delta tail stays inline. */
  private def rliHeaderLinesFor(refs: Seq[RliRef], done: Boolean): Seq[String] = {
    val doneLines = if (done) Seq(RootView.RliDoneLine) else Nil
    if (refs.isEmpty) doneLines
    else {
      val gl = rliGenPrefixLen(refs)
      if (refs.size <= RliGenInlineMax || gl <= RliGenInlineMax)
        Seq(RootView.rliInlineLine(refs)) ++ doneLines
      else {
        val (gen, tail) = refs.splitAt(gl)
        Seq(RootView.rliGenLine(t.timeline.writeRliGen(gen), gen.size)) ++
          (if (tail.isEmpty) Nil else Seq(RootView.rliInlineLine(tail))) ++ doneLines
      }
    }
  }

  /** The record-index headers of version `v` over root `base`: refs and
    * completeness from the base and this commit's update (see
    * [[RliUpdate]]). Property off = no headers (prior refs drop; their
    * runs die with vacuum). */
  def rliHeader(base: RootView, v: Long, rli: RliUpdate, enabled: Boolean): Seq[String] =
    if (!enabled) Nil
    else {
      val inheritedDone = base.rli.done || v == 0
      // the base's ref lines — `#rligen=` included — carry VERBATIM on
      // the non-folding paths: an unchanged generation costs a commit no
      // expansion, rendering or hashing
      val doneLines = if (inheritedDone) Seq(RootView.RliDoneLine) else Nil
      rli match {
        case RliAuto => base.rli.lines // refs carry, flag drops
        case RliInherit => base.rli.lines ++ doneLines
        case RliAppend(newRefs) =>
          // fold when the DELTA TAIL (refs beyond the current generation)
          // outgrows the bound — a wide generation must not re-trigger a
          // fold on every commit
          base.rli.gen match {
            case Some((genFile, members)) =>
              val tail = base.rli.inline ++ newRefs
              if (tail.size > MaxRliRefs)
                rliHeaderLinesFor(mergeRliRefs(rliRefsOf(base.rli) ++ newRefs), inheritedDone)
              else
                Seq(RootView.rliGenLine(genFile, members)) ++
                  (if (tail.isEmpty) Nil else Seq(RootView.rliInlineLine(tail))) ++ doneLines
            case None =>
              val all = base.rli.inline ++ newRefs
              rliHeaderLinesFor(
                if (all.size - rliGenPrefixLen(all) > MaxRliRefs) mergeRliRefs(all) else all,
                inheritedDone)
          }
        case RliSet(refs, done) => rliHeaderLinesFor(refs, done)
      }
    }

  /** Write one sorted delta run from driver-side (key rendering,
    * partition value) pairs; None when empty. */
  def writeRliDelta(entries: Seq[(String, String)]): Option[RliRef] = {
    if (entries.isEmpty) return None
    // sort by (key, part) TUPLE, never by rendered line: '|' (0x7C)
    // compares above alphanumerics, so a full-line sort would order
    // "K1|…" after "K10|…" and break the probe's by-key binary search
    val lines = entries.iterator.map { case (k, p) =>
      (java.net.URLEncoder.encode(k, "UTF-8"), java.net.URLEncoder.encode(p, "UTF-8"))
    }.toArray.distinct.sorted.map { case (k, p) => s"$k|$p" }.toSeq
    Some(RliRef(t.timeline.writeRli(lines, remember = true), 0, 1, lines.size.toLong))
  }

  /** Write a SHARDED delta from a distributed (pk string, partition
    * string) frame — the bulk path: shard files are written FROM
    * EXECUTORS (content-addressed write-if-absent, so retries and
    * speculation are idempotent). None when any pk or partition value is
    * NULL — such rows cannot be rendered into the line domain, so the
    * commit degrades to [[RliAuto]]. NULL detection rides the same job
    * through an accumulator (retries can only over-count, so the > 0 gate
    * is sound). */
  def writeRliDeltaDistributed(kp: org.apache.spark.sql.DataFrame): Option[Seq[RliRef]] = {
    val n = 16 // delta shard count; the MaxRliRefs fold re-sizes by volume
    val nullRows = kp.sparkSession.sparkContext.longAccumulator("graft.rliNullRows")
    val refs = writeRliShards(kp.rdd.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) { nullRows.add(1L); Iterator.empty }
      else {
        val ek = java.net.URLEncoder.encode(r.getString(0), "UTF-8")
        Iterator.single((rliShardOf(ek, n), (ek, java.net.URLEncoder.encode(r.getString(1), "UTF-8"))))
      }
    }, n)
    if (nullRows.value > 0) None else Some(refs)
  }

  /** The one executor shard writer: entries keyed by target shard `s < n`
    * shuffle to partition `s`, which writes its distinct, tuple-sorted
    * lines as one content-addressed run. */
  private def writeRliShards(
      entries: org.apache.spark.rdd.RDD[(Int, (String, String))], n: Int): Seq[RliRef] = {
    val storeDir = t.timeline.storeDir
    entries.partitionBy(new org.apache.spark.HashPartitioner(n)).mapPartitionsWithIndex { (i, it) =>
      val es = it.map(_._2).toArray.distinct.sorted // tuple sort — see writeRliDelta
      if (es.isEmpty) Iterator.empty
      else {
        val body = es.iterator.map { case (k, p) => s"$k|$p" }.mkString("\n")
        val name = Timeline.contentName("rli", body)
        Timeline.writeContent(storeDir, name, body, touch = false)
        Iterator.single(RliRef(name, i, n, es.length.toLong))
      }
    }.collect().toSeq
  }

  /** The candidate partition VALUES the index knows for `keys` at root
    * `view` — Some ONLY when the index is complete and every consulted
    * run resolves, i.e. when "key absent from the index" soundly means
    * "key absent from the table"; Some(Nil) is a proven-empty probe.
    * None = no routing (the full per-partition sweep). */
  def rliLookup(view: RootView, keys: Seq[String]): Option[Seq[String]] = {
    if (!t.keyCastSupported || !view.rli.done) return None
    rliProbes.incrementAndGet()
    // an unreadable generation side file voids ROUTING, never correctness
    val refs = scala.util.Try(rliRefsOf(view.rli)).getOrElse(return None)
    val encKeys = keys.flatMap(k => scala.util.Try(t.castKeyTo(k)).toOption)
      .map(x => java.net.URLEncoder.encode(String.valueOf(x), "UTF-8")).distinct
    val cells = mutable.Set.empty[String]
    try refs.foreach { ref =>
      val probe =
        if (ref.nShards <= 1) encKeys
        else encKeys.filter(e => rliShardOf(e, ref.nShards) == ref.shard)
      if (probe.nonEmpty) {
        val d = t.timeline.readRli(ref.name)
        probe.foreach { e =>
          var i = java.util.Arrays.binarySearch(d.keys.asInstanceOf[Array[AnyRef]], e)
          if (i >= 0) {
            while (i > 0 && d.keys(i - 1) == e) i -= 1
            while (i < d.keys.length && d.keys(i) == e) {
              cells += java.net.URLDecoder.decode(d.parts(i), "UTF-8")
              i += 1
            }
          }
        }
      }
    } catch {
      case _: java.nio.file.NoSuchFileException => return None // dangling run: no routing
    }
    rliRouted.incrementAndGet()
    Some(cells.toSeq)
  }

  /** Fold `refs` into size-appropriate hash shards (the LSM merge),
    * INCREMENTAL over the previous fold's output and distributed above a
    * driver budget:
    *
    *  - The LEADING run of refs sharing one `nShards > 1` with distinct
    *    shard ids is the current GENERATION ([[rliGenPrefixLen]]);
    *    everything after it is the delta tail.
    *  - While the generation's shard count fits the estimated entry
    *    count (≤ nShards × [[RliShardTarget]] × [[RliShardSlack]]), only
    *    the shards the delta entries hash into are rewritten; untouched
    *    shard refs carry verbatim.
    *  - Above [[RliDriverFoldMax]] entries the merge runs distributed
    *    ([[distributedRliFold]]); the driver holds ref names only.
    *  - Generation growth re-shards everything at the next power of two. */
  private def mergeRliRefs(refs: Seq[RliRef]): Seq[RliRef] = {
    if (refs.isEmpty) return Nil
    val n0 = refs.head.nShards
    val gen: Seq[RliRef] = refs.take(rliGenPrefixLen(refs))
    val deltas = refs.drop(gen.size)
    if (deltas.isEmpty) return gen // nothing to fold (defensive)
    val totalEst = refs.map(_.count).sum // counts duplicates across runs: an upper bound
    val deltaEst = deltas.map(_.count).sum
    def entriesOf(rs: Seq[RliRef]): Seq[(String, String)] =
      rs.flatMap { r =>
        val d = t.timeline.readRli(r.name)
        d.keys.indices.map(i => (d.keys(i), d.parts(i)))
      }
    def shardRef(es: Seq[(String, String)], shard: Int, n: Int): RliRef =
      RliRef(t.timeline.writeRli(es.map { case (k, p) => s"$k|$p" }, remember = false),
        shard, n, es.size.toLong)
    val keepGen = gen.nonEmpty && totalEst <= n0.toLong * RliShardTarget * RliShardSlack
    if (keepGen) {
      if (deltaEst <= RliDriverFoldMax) {
        // driver incremental: delta entries + dirty shards only
        val byShard = entriesOf(deltas).groupBy(e => rliShardOf(e._1, n0))
        val genByShard = gen.map(r => r.shard -> r).toMap
        val untouched = gen.filterNot(r => byShard.contains(r.shard))
        val rewritten = byShard.toSeq.sortBy(_._1).map { case (s, es0) =>
          shardRef((genByShard.get(s).map(r => entriesOf(Seq(r))).getOrElse(Nil) ++ es0)
            .distinct.sorted, s, n0) // tuple sort — see writeRliDelta
        }
        (untouched ++ rewritten).sortBy(_.shard)
      } else distributedRliFold(gen, deltas, n0)
    } else {
      // generation growth or first fold: full re-shard at the next size
      val n = math.max(1, Integer.highestOneBit(math.max(1,
        ((totalEst + RliShardTarget - 1) / RliShardTarget).toInt) * 2 - 1))
      if (totalEst <= RliDriverFoldMax)
        entriesOf(refs).distinct.sorted.groupBy(e => rliShardOf(e._1, n))
          .toSeq.sortBy(_._1).map { case (shard, es) => shardRef(es, shard, n) }
      else distributedRliFold(Nil, refs, n)
    }
  }

  /** The fold's distributed leg: executor-read of the participating runs
    * → the shard writer. `gen` shards the delta does not touch carry
    * verbatim; with `gen` empty this is the full re-shard. Inputs are
    * mtime-touched up front so a racing vacuum's age guard keeps them
    * readable for the duration of the job. */
  private def distributedRliFold(gen: Seq[RliRef], deltas: Seq[RliRef], n: Int): Seq[RliRef] = {
    val storeDir = t.timeline.storeDir
    (gen ++ deltas).foreach(r => t.timeline.touch(r.name))
    val sc = t.spark.sparkContext
    def entriesRdd(rs: Seq[RliRef]) =
      sc.parallelize(rs.map(_.name), math.max(1, math.min(rs.size, 64)))
        .flatMap(name => Timeline.readRliEntries(storeDir, name))
        .map(e => (rliShardOf(e._1, n), e))
    // the delta RDD feeds BOTH the dirty-shard probe and the merge job —
    // cached so the delta runs are executor-read once
    val deltaRdd = entriesRdd(deltas)
    val cacheDelta = gen.nonEmpty // the probe only runs with a generation
    if (cacheDelta) { deltaRdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK); () }
    try {
      val dirty: Set[Int] =
        if (gen.isEmpty) (0 until n).toSet else deltaRdd.keys.distinct().collect().toSet
      val carried = gen.filterNot(r => dirty.contains(r.shard))
      val rewritten = writeRliShards(
        deltaRdd.union(entriesRdd(gen.filter(r => dirty.contains(r.shard)))), n)
      (carried ++ rewritten).sortBy(_.shard)
    } finally if (cacheDelta) { deltaRdd.unpersist(blocking = false); () }
  }

  /** Build (or repair) the record index from the CURRENT snapshot in one
    * metadata commit: distributed distinct (pk, partition) scan →
    * executor-written shard runs → a root carrying the refs and
    * `#rlidone=1` with every data line reused verbatim. Enables the
    * `recordIndex` property if unset. OCC: each retry rescans, so
    * concurrently-added rows cannot escape the rebuilt index. */
  def rebuildRecordIndex(): Long = {
    require(t.keyCastSupported,
      s"record index requires a string/integral PK, got ${schema(t.pkCol).dataType}")
    if (!t.tableProperty("recordIndex").contains("true"))
      t.setTableProperty("recordIndex", Some("true"))
    t.timeline.occ { base =>
      val baseView = t.timeline.rootView(base)
      val refs =
        if (base < 0) Nil
        else writeRliDeltaDistributed(keyFrame(
          t.applyDvs(t.snapshotFromFiles(baseView.entries), baseView.dvs)))
          .getOrElse(throw new IllegalStateException(
            "record index unsupported: table holds NULL pk or partition values"))
      // an empty base (-1) publishes version 0 with no refs
      t.publish(base + 1, Nil, Nil, Map.empty, "RLI_REBUILD", baseView.dvs,
        reuseRootLines = baseView.refLines, rli = RliSet(refs, done = true))
      base + 1
    }
  }
}

private[graft] object Indexes {

  /** rel file → column (or `col#n`) → encoded (min, max) or (nulls, rows). */
  type Stats = Map[String, Map[String, (Long, Long)]]

  private[lake] val StatsFile = "_cluster.properties"
  /** Stats-sidecar format-version marker key (see [[Indexes.readStats]]). */
  private[lake] val StatsVerKey = "statsver"
  private[lake] val BloomDir = "_blooms"
  private[lake] val BloomSegMagic = 0x424c4d53 // "BLMS" — commit bloom segment
  private[lake] val BloomFpp = 0.01
  /** Filter sizing when `bloomExpectedItems` is unset: ~12 KB per file
    * and column at the 1 % target. An overfull filter degrades its
    * false-positive rate, never its no-false-negative guarantee. */
  private val DefaultBloomItems = 10000

  /** The index properties of one commit attempt ([[Indexes.conf]]). */
  final case class Conf(statsCols: Seq[String], bloomCols: Seq[String], bloomItems: Int, rli: Boolean)

  /** A commit's computed index work: stats and bloom payloads per new
    * file (landed after the publish) and the record-index update (a root
    * header of the publish itself). */
  final case class Pending(
      conf: Conf,
      stats: Stats,
      blooms: Seq[(String, Seq[(String, Array[Byte])])],
      rli: RliUpdate)

  /** What one pass accumulates: the stats columns, the bloom columns
    * (filters sized by `bloomItems`) and whether to collect record-index
    * keys. */
  final case class Layout(stats: Seq[String], blooms: Seq[String], bloomItems: Int, keys: Boolean) {
    /** The value columns a scan must project. */
    def columns: Seq[String] = (stats ++ blooms).distinct

    def ordinals(of: String => Int, pk: Int, part: Int): Ordinals =
      Ordinals(stats.map(of).toArray, blooms.map(of).toArray, pk, part)
  }

  /** Row ordinals of a [[Layout]]'s columns in the rows a pass feeds. */
  final case class Ordinals(stats: Array[Int], blooms: Array[Int], pk: Int, part: Int)

  /** The one per-file accumulator, on the driver and on executors: per
    * stats column (min, max, nulls) in the encoded-long domain, per bloom
    * column one filter, and the record index's (key, partition) pairs. A
    * value that fails to encode voids that column's range or filter for
    * the file (unprunable, never wrong). Partials of one file merge. */
  final class FileAcc(layout: Layout, ords: Ordinals, rowSchema: StructType) extends Serializable {
    private val statTypes = ords.stats.map(rowSchema(_).dataType)
    private val bloomTypes = ords.blooms.map(rowSchema(_).dataType)
    var rows = 0L
    private val lo = Array.fill(ords.stats.length)(Long.MaxValue)
    private val hi = Array.fill(ords.stats.length)(Long.MinValue)
    private val nulls = new Array[Long](ords.stats.length)
    private val statBad = new Array[Boolean](ords.stats.length)
    private val filters =
      Array.fill(ords.blooms.length)(BloomFilter.create(layout.bloomItems.toLong, BloomFpp))
    private val bloomBad = new Array[Boolean](ords.blooms.length)
    val keys = mutable.ArrayBuffer.empty[(String, String)]
    var keyNull = false

    def add(r: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < ords.stats.length) {
        val o = ords.stats(i)
        if (r.isNullAt(o)) nulls(i) += 1
        else statsEncodeInternal(statTypes(i), r, o) match {
          case Some(v) =>
            if (v < lo(i)) lo(i) = v
            if (v > hi(i)) hi(i) = v
          case None => statBad(i) = true
        }
        i += 1
      }
      i = 0
      while (i < ords.blooms.length) {
        val o = ords.blooms(i)
        if (!r.isNullAt(o)) bloomTypes(i) match {
          case StringType => filters(i).putBinary(r.getUTF8String(o).getBytes); ()
          case dt => statsEncodeInternal(dt, r, o) match {
            case Some(v) => filters(i).putLong(v); ()
            case None => bloomBad(i) = true
          }
        }
        i += 1
      }
      if (layout.keys) {
        if (r.isNullAt(ords.pk) || r.isNullAt(ords.part)) keyNull = true
        else keys += ((String.valueOf(r.get(ords.pk, rowSchema(ords.pk).dataType)),
          r.getUTF8String(ords.part).toString))
      }
    }

    def merge(o: FileAcc): Unit = {
      rows += o.rows
      lo.indices.foreach { i =>
        lo(i) = math.min(lo(i), o.lo(i)); hi(i) = math.max(hi(i), o.hi(i))
        nulls(i) += o.nulls(i); statBad(i) ||= o.statBad(i)
      }
      filters.indices.foreach { i => filters(i).mergeInPlace(o.filters(i)); bloomBad(i) ||= o.bloomBad(i) }
      keys ++= o.keys
      keyNull ||= o.keyNull
    }

    /** Ranges of the columns with a non-null, encodable value, plus every
      * column's `col#n` (nulls, rows) entry. */
    def stats: Map[String, (Long, Long)] =
      layout.stats.indices.flatMap { i =>
        val c = layout.stats(i)
        (if (!statBad(i) && nulls(i) < rows) Seq(c -> (lo(i), hi(i))) else Nil) :+
          (s"$c#n" -> (nulls(i), rows))
      }.toMap

    /** Serialized filters of the columns whose every value encoded. */
    def bloomBytes: Seq[(String, Array[Byte])] =
      layout.blooms.indices.collect { case i if !bloomBad(i) => layout.blooms(i) -> bytesOf(filters(i)) }
  }

  /** The one bloom serializer (segment payloads carry these bytes). */
  def bytesOf(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  // ------------------------------------------------------- record index --

  /** One record-index reference as carried in a root's `#rli=` header
    * (`<name>|<shard>|<nShards>|<count>`, comma-joined): a content-
    * addressed sorted run of `enc(pk)|enc(partition value)` lines.
    * `nShards == 1` = an unsharded delta every probe consults;
    * `nShards > 1` = one shard of a merged index — a probe key consults
    * only the shard its hash selects. */
  final case class RliRef(name: String, shard: Int, nShards: Int, count: Long)

  /** Loaded index run: keys and partition values as PARALLEL sorted
    * arrays (equal keys adjacent, so a probe is one binary search + a
    * bounded walk), plus the raw body for content-addressed repair. */
  final case class RliData(keys: Array[String], parts: Array[String], body: String)

  /** How a commit updates the record index (the `rli` parameter of
    * [[AcidTable.publish]]):
    *  - [[RliAuto]] — rows may have been added but their keys were not
    *    indexed: inherited refs carry, the completeness flag DROPS. The
    *    safe default every unwired publish path gets.
    *  - [[RliInherit]] — the commit added no keys (DV-only deletes,
    *    compaction, metadata ops): refs AND completeness carry verbatim.
    *  - [[RliAppend]] — the new keys were written as delta ref(s):
    *    append (folding above [[MaxRliRefs]]), completeness carries.
    *  - [[RliSet]] — replace the index outright (overwrite, rebuild,
    *    restore, clone). */
  sealed trait RliUpdate
  case object RliAuto extends RliUpdate
  case object RliInherit extends RliUpdate
  final case class RliAppend(refs: Seq[RliRef]) extends RliUpdate
  final case class RliSet(refs: Seq[RliRef], done: Boolean) extends RliUpdate

  /** Delta-run count BEYOND THE CURRENT GENERATION above which a commit
    * folds the index: bounds probe fan-out at O(1 shard + MaxRliRefs). */
  val MaxRliRefs = 16

  /** Length of the leading GENERATION prefix of a ref list: the longest
    * leading run of refs sharing one `nShards > 1` with pairwise-distinct
    * shard ids — exactly the previous fold's output, because appends only
    * ever add refs AFTER it. Driver deltas (`nShards = 1`) never form one. */
  def rliGenPrefixLen(refs: Seq[RliRef]): Int = {
    if (refs.isEmpty) return 0
    val n0 = refs.head.nShards
    if (n0 <= 1) return 0
    val seen = mutable.Set.empty[Int]
    refs.takeWhile(r => r.nShards == n0 && seen.add(r.shard)).size
  }

  /** Target entries per merged shard: the shard count is the next power
    * of two covering `total / RliShardTarget`. */
  val RliShardTarget = 65536
  /** How far past `nShards × RliShardTarget` the estimated entry count
    * may grow before a fold re-shards the generation (growth is a full
    * re-shard, so it must be rare). */
  val RliShardSlack = 4L
  /** Entry-count budget above which a fold leaves the driver (~100 MB of
    * string pairs worst case). A `var` solely so RecordIndexSpec can
    * force the distributed leg on a CI-sized table. */
  @volatile var RliDriverFoldMax: Long = 1L << 20

  /** The shard a key probes/lands in: over the URL-ENCODED key rendering,
    * identical on the write path (driver and executor), the fold and the
    * probe. */
  def rliShardOf(encKey: String, nShards: Int): Int =
    if (nShards <= 1) 0 else (encKey.hashCode & Int.MaxValue) % nShards

  /** Ref count above which a root stores its generation list in an `rlg-`
    * side file instead of inline `#rli=` text (64 refs ≈ 3.5 KB inline). A
    * `var` solely so RecordIndexSpec can engage the side file on a
    * CI-sized generation. */
  @volatile var RliGenInlineMax: Int = 64

  /** Index-probe telemetry (spec-checked): unhinted lookups that consulted
    * the record index, and how many of those it routed. */
  val rliProbes = new java.util.concurrent.atomic.AtomicLong(0)
  val rliRouted = new java.util.concurrent.atomic.AtomicLong(0)

  // ---------------------------------------------------------- caches --

  /** The parsed stats sidecar per table, checked against the file's
    * (mtime, length) on every read. */
  private val statsCache = new Lru[Unit, (Long, Long, Stats)](64)

  /** Per-path lock serializing sidecar read-modify-writes in this JVM.
    * Its own map, not an [[Lru]]: a lock must never be forgotten while it
    * is held. */
  private val statsLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def statsLock(path: String): Object = statsLocks.computeIfAbsent(path, _ => new Object)

  /** Directory index of a table's bloom segments: which segment holds
    * which data file's filters, at what offset. Refreshed incrementally
    * by listing `_blooms` for unseen segments (immutable once written).
    * `rels` is read without the lock on the hot path; `lastSlice`
    * memoizes the most recently parsed slice. */
  private final class BloomSegIndex {
    val seen = new java.util.HashSet[String]()
    val rels = new java.util.concurrent.ConcurrentHashMap[String, (Path, Long, Int)]()
    @volatile var lastSlice: (String, Map[String, BloomFilter]) = _
  }
  private val bloomSegIndexes = new Lru[Unit, BloomSegIndex](64)

  /** Parsed bloom-segment slices, keyed (table path,
    * `<segment>#<offset>#<length>`); segments are immutable. */
  private val bloomCache = new Lru[String, Map[String, BloomFilter]](4096)

  // ---------------------------------------------- stats type encoding --
  //
  // The stats sidecar stores per-file (Long, Long) ranges. Every supported
  // type maps into that domain through an ORDER-PRESERVING encoding
  // (s <= t implies enc(s) <= enc(t)), so range pruning on the encoded
  // longs is sound for the native values:
  //   integrals  -> the value
  //   DATE       -> days since epoch
  //   TIMESTAMP  -> micros since epoch
  //   DECIMAL    -> unscaled long at the column's declared scale (p <= 18)
  //   STRING     -> first 8 UTF-8 bytes, big-endian, sign-bit-flipped so
  //                 signed long order equals unsigned byte order (Delta's
  //                 truncated-string min/max analog — lossy, never unsound)
  //   FLOAT/DOUBLE -> IEEE-754 total order ([[statsDoubleEncode]])
  // Writes encode internal rows ([[statsEncodeInternal]]); query-side
  // bounds and probes encode external values ([[statsEncode]]).

  private[graft] def statsSupported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case DateType | TimestampType | StringType => true
    case DoubleType | FloatType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  /** IEEE-754 total-order encoding into SIGNED long order: non-negative
    * doubles keep their raw bits; negatives flip every bit but the sign —
    * signed long order then equals `java.lang.Double.compare` order
    * (-Inf < … < 0.0 < … < +Inf < NaN). -0.0 is normalized to 0.0 FIRST
    * on both sides: SQL comparison treats them equal, so they must share
    * one encoding. Floats promote to double (exact, order-preserving). */
  private[graft] def statsDoubleEncode(d: Double): Long = {
    val v = if (d == 0.0d) 0.0d else d // collapses -0.0
    val raw = java.lang.Double.doubleToLongBits(v) // canonical NaN
    if (raw >= 0) raw else raw ^ Long.MaxValue
  }

  /** UTF-8 prefix (first 8 bytes, big-endian, zero-padded) with the sign
    * bit flipped: unsigned byte-wise order — Spark's default UTF8_BINARY
    * string order — becomes signed long order. */
  private[graft] def statsUtf8Prefix(bytes: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (if (i < bytes.length) bytes(i) & 0xffL else 0L)
      i += 1
    }
    v ^ Long.MinValue
  }

  /** Encode an EXTERNAL (driver JVM) value — a query-side bound or probe.
    * None for unencodable values (the caller declines to prune). */
  private[graft] def statsEncode(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (_, null) => None
    case (LongType | IntegerType | ShortType | ByteType, n: java.lang.Number) =>
      Some(n.longValue())
    case (DateType, d: java.sql.Date) => Some(d.toLocalDate.toEpochDay)
    case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay)
    case (TimestampType, ts: java.sql.Timestamp) =>
      // floorDiv, not truncating division: getTime of a pre-1970
      // timestamp with fractional seconds rounds TOWARD zero, which would
      // diverge from statsEncodeInternal's exact epoch-micros domain
      Some(Math.addExact(Math.multiplyExact(Math.floorDiv(ts.getTime, 1000L), 1000000L),
        ts.getNanos.toLong / 1000L))
    case (TimestampType, i: java.time.Instant) =>
      Some(Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano.toLong / 1000L))
    case (d: DecimalType, b: java.math.BigDecimal) if d.precision <= 18 =>
      scala.util.Try(
        b.setScale(d.scale, java.math.RoundingMode.UNNECESSARY).unscaledValue().longValueExact())
        .toOption
    case (d: DecimalType, b: BigDecimal) => statsEncode(d, b.bigDecimal)
    case (DoubleType, n: java.lang.Number) => Some(statsDoubleEncode(n.doubleValue()))
    case (FloatType, n: java.lang.Number) => Some(statsDoubleEncode(n.floatValue().toDouble))
    case (StringType, s: String) =>
      Some(statsUtf8Prefix(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    case _ => None
  }

  /** The write-side encoder: straight off an InternalRow (no external
    * conversion). Caller has null-checked. */
  private[graft] def statsEncodeInternal(dt: DataType, r: InternalRow, idx: Int): Option[Long] =
    dt match {
      case LongType => Some(r.getLong(idx))
      case IntegerType => Some(r.getInt(idx).toLong)
      case ShortType => Some(r.getShort(idx).toLong)
      case ByteType => Some(r.getByte(idx).toLong)
      case DateType => Some(r.getInt(idx).toLong) // internal DATE = epoch days
      case TimestampType => Some(r.getLong(idx)) // internal TS = epoch micros
      case d: DecimalType if d.precision <= 18 =>
        scala.util.Try(r.getDecimal(idx, d.precision, d.scale).toUnscaledLong).toOption
      case StringType => Some(statsUtf8Prefix(r.getUTF8String(idx).getBytes))
      case DoubleType => Some(statsDoubleEncode(r.getDouble(idx)))
      case FloatType => Some(statsDoubleEncode(r.getFloat(idx).toDouble))
      case _ => None
    }
}
