package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Transactional (ACID) keyed, partitioned table over plain parquet — the
  * Spark-native replacement for the reference's Hudi COW + OCC layer
  * (`writer/TransactionManager.java:76-88`, `hudi-defaults.conf:1-4`),
  * re-derived from the capability, not ported: parquet data files + an
  * atomic, versioned commit manifest (the same shape as Hudi COW / Delta,
  * reduced to what the verification harness exercises).
  *
  * Layout:
  * {{{
  * <path>/_meta.properties            # schema DDL, pk / partition / precombine cols, numBuckets
  * <path>/_commits/                   # the commit log: roots, segments, tags ([[Timeline]])
  * <path>/data/                      # the data files ([[DataFiles]])
  * }}}
  *
  * One root format is readable. Every root starts with `#ts=<publish
  * millis>`, `#touched=<cells>`, `#segments=1` (the format stamp) and
  * `#op=<operation>`, may carry `#pages=`/`#dvs=`/`#rli=` headers, and
  * then lists one `@<partdir>|<segment>|<files>|<bytes>|<envelopes>`
  * line per partition — or, above [[AcidTable.RootPageThreshold]]
  * partitions, `@@<page>|<lines>|<bucket>|<files>|<bytes>` page
  * references. [[RootView]] owns the format: [[Timeline.rootView]] is the one
  * reader of a root file, and a root in any other shape is refused with
  * an `IllegalStateException` naming the manifest; [[fsck]] reports it
  * as `unsupported_root_format`.
  *
  * Data files are hash-bucketed WITHIN each partition (`b<bbb>-` name
  * prefix, bucket = Murmur3(pk) % numBuckets) — the file-group layout that
  * lets optimistic concurrency detect conflicts at key scope: see the
  * "file-group (cell) scope" section below.
  *
  * - **Snapshot isolation**: a read resolves the highest committed manifest
  *   once and scans exactly its file list; concurrent commits are invisible.
  * - **Atomicity / OCC**: a commit writes new data files (invisible until
  *   referenced), fsyncs a manifest to a temp name, then publishes with
  *   `Files.createLink(v(N+1), tmp)` — hard-link creation is the atomic
  *   create-exclusive linearization point. A loser gets
  *   `FileAlreadyExistsException`, re-reads the new snapshot, re-applies its
  *   batch, retries (reference A9/A10 intent, with the retry-defeating
  *   wrapper bug §8-B4 fixed by construction).
  * - **100 TB posture**: manifests list files, not rows; a commit rewrites
  *   only the partitions its batch touches and carries every other file
  *   forward by reference; the scan is ordinary distributed parquet with
  *   partition values recovered from directory names (`basePath`), so
  *   partition pruning works. The driver-side piece is metadata-only
  *   (file lists + one hard link); data never moves through the driver.
  */
/** A unit of optimistic-concurrency scope: one hash bucket of one partition
  * (`bucket == -1` = the whole partition). The granularity commits declare
  * in their `#touched=` manifest header and conflict resolution compares.
  */
private[lake] final case class FileCell(part: String, bucket: Int)

/** One inline deletion-vector entry (merge-on-read delete): the row whose
  * primary key renders as `key` is deleted from file-group cell (`part`,
  * `bucket`) WITHOUT rewriting the cell's data files. Entries ride the
  * manifest's `#dvs=` header; readers apply them as a scan filter; the
  * first later commit that rewrites the cell materializes them (drops the
  * entries, writes the cell from the DV-applied snapshot). Safety of the
  * key-based form rests on one invariant: any commit that can place key
  * `key` back into this cell necessarily TOUCHES the cell (bucket is a
  * pure function of the key), so a live entry never coexists with a
  * post-entry row for its key in its cell.
  */
private[lake] final case class DvEntry(part: String, bucket: Int, key: String)

final class AcidTable private (
    val spark: SparkSession,
    val path: String,
    val schema: StructType,
    val pkCol: String,
    val partitionCol: String,
    val precombineCol: Option[String],
    val stablePartitions: Boolean,
    val numBuckets: Int,
    /** Names dropped by [[dropColumns]] whose BYTES may still live in data
      * files (the metadata-only drop). [[addColumns]] refuses to re-add
      * them until [[purgeDroppedColumns]] completes — otherwise the
      * name-based parquet scan would resurrect the old on-disk values
      * instead of surfacing NULL (round-9 ADVICE: the GDPR-purge story
      * must not silently un-delete data).
      */
    val droppedCols: Seq[String] = Nil,
    /** CHECK constraints as (name, predicate SQL), in declaration order.
      * SQL CHECK semantics: a row violates only when the predicate
      * evaluates FALSE (NULL passes). Enforced on EVERY write path — the
      * distributed writer evaluates them inline (no extra job), the
      * driver fast path through compiled interpreted predicates (no
      * Spark job) — and validated against the existing snapshot when
      * added. See [[addConstraint]].
      */
    val checkConstraints: Seq[(String, String)] = Nil,
    /** Column-rename mapping: current name → every PRIOR name whose bytes
      * may still live in data files written before the rename(s).
      * Metadata-only renames (Delta column-mapping semantics on a
      * name-based format): the snapshot scan reads current+prior names
      * and coalesces, so no data rewrites; [[purgeDroppedColumns]]
      * physically rewrites and clears the map. See [[renameColumn]].
      */
    val renamedCols: Map[String, Seq[String]] = Map.empty,
    /** Column DEFAULT values as (column → folded literal SQL), the Delta
      * `existsDefault` semantics on ADD COLUMN: rows in files written
      * BEFORE the column existed read the default (the parquet reader's
      * EXISTS_DEFAULT machinery fills physically-absent columns), while a
      * genuine NULL written after the evolution stays NULL. Metadata-only
      * — no backfill rewrite; rewrites materialize the value as they
      * touch files. See [[addColumns]].
      */
    val columnDefaults: Map[String, String] = Map.empty) {

  import AcidTable._

  /** The table's commit log: every `_commits/` read and write. */
  private[lake] val timeline = new Timeline(path)
  /** The table's per-file indexes: stats, blooms, the record index. */
  private[lake] val indexes = new Indexes(this)
  /** The table's data files: every `data/` read and write. */
  private[lake] val dataFiles = new DataFiles(this)

  /** Target output-file size for commit/compaction writes. A hot partition
    * splits into ~this many bytes per file instead of fusing into one
    * writer's output — at 100 TB a compacted partition can be far larger
    * than any sane single parquet file. Mutable so deployments (and the
    * maintenance spec) can tune it; sizing is enforced via a per-file
    * record cap derived from the schema's estimated row width.
    */
  @volatile var targetFileBytes: Long = 128L * 1024 * 1024

  // ---------------------------------------------------------------- reads --

  /** Highest committed version, or -1 for an empty (just-created) table. */
  def latestVersion(): Long = timeline.latestVersion()

  /** Highest version committed at or before `epochMillis`, or -1 if the
    * table had no commits yet. Powers `TIMESTAMP AS OF` time travel
    * ([[Timeline.versionAt]]). */
  def versionAt(epochMillis: Long): Long = timeline.versionAt(epochMillis)

  /** Snapshot of the given (default latest) committed version. The file
    * list is pinned before the scan → snapshot isolation for the whole read.
    */
  /** Map the read layer's retriable archived-version conflict to a
    * TERMINAL error for reads that name their version EXPLICITLY: the
    * caller asked for v, v is gone forever — no retry can succeed (the
    * same mapping [[restore]] applies inline). Latest-resolved reads
    * (`explicit < 0`) keep the conflict type: their retry legitimately
    * re-resolves a newer version. */
  private def explicitVersionRead[A](explicit: Long)(body: => A): A =
    try body
    catch {
      case e: CommitConflictException if explicit >= 0 =>
        throw new IllegalArgumentException(
          s"version $explicit is below the retention horizon (archived by vacuum; " +
            s"oldest retained: ${timeline.oldestRetainedVersion(latestVersion())}) ($path)", e)
    }

  def snapshot(version: Long = -1L): DataFrame = explicitVersionRead(version) {
    // one view: the file list, the sizes and the deletion vectors all
    // come from the same root read
    val view = timeline.rootView(if (version >= 0) version else latestVersion())
    applyDvs(snapshotFromFiles(view.entries), view.dvs)
  }

  /** Point-lookup read: the pinned (default latest) snapshot restricted to
    * `keys`, reading ONLY the data files that can hold them. Because the
    * bucket is a pure function of the PK (`Murmur3(pk) % numBuckets`, the
    * file-group layout every commit writes), a key's rows can live only in
    * files whose name carries its bucket — so the scan list prunes to
    * |buckets(keys)| / numBuckets of the snapshot BEFORE any Spark plan
    * exists, from manifest strings alone (no listing, no stats, no
    * file-footer reads). With `partitionsHint` (when the caller knows the
    * keys' partitions) the list prunes to the named partitions' matching
    * bucket files: O(#cells) file groups regardless of table size — the
    * property that makes a point read on a 100 TB table touch a handful of
    * files. Bucketless legacy files prune by partition only (they can hold
    * any bucket — same conservatism as [[DataFiles.inCell]]); a non-string or
    * non-hash-safe PK type skips bucket pruning and scans the (partition-
    * pruned) snapshot.
    *
    * Two routes read the pruned files. When they fit the fast-path budget
    * and the schema passes the fast path's gate (no outstanding rename, no
    * column DEFAULT, keys renderable in the PK's type), the rows are read
    * on the driver through the file-row cache before this returns, and
    * the result is a `LocalRelation`: collecting it runs no Spark job,
    * and the read is pinned, since a vacuum that runs before the collect
    * cannot remove files already read. Otherwise the result is a lazy
    * scan of the files with the key set as an `isInCollection` filter
    * pushed into it. Point lookups are read-only: no commit, no OCC
    * interaction, snapshot isolation from the pinned manifest.
    */
  def lookup(
      keys: Seq[String],
      partitionsHint: Option[Seq[String]] = None,
      version: Long = -1L): DataFrame = explicitVersionRead(version) {
    AcidTable.lookupScans.incrementAndGet()
    // ONE view of the version: the file entries and the DV entries come
    // from the same root even if a commit lands mid-call. A hinted point
    // lookup resolves only the hinted partitions' segments.
    val view = timeline.rootView(if (version >= 0) version else latestVersion())
    val files = lookupFilesIn(view, keys, partitionsHint)
    val local = if (driverLookupOk) localRowsOf(view, keys, files) else None
    local match {
      case Some(rows) =>
        // nullable like the scan's file-source schema
        val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
          .toAttributes(StructType(schema.fields.map(_.copy(nullable = true))))
        org.apache.spark.sql.graft.PlanShim.localRelationDf(spark, attrs, rows)
      case None if !keyCastSupported =>
        // PK type outside castKeyTo's set (DATE/TIMESTAMP/DECIMAL/…): the
        // string keys can't be rendered as typed literals, so skip bucket
        // pruning and filter the (partition-pruned) snapshot by the PK's
        // string rendering — never return empty for a type we can't parse
        applyDvs(snapshotFromFiles(files), view.dvs)
          .filter(col(pkCol).cast(StringType).isInCollection(keys))
      case None =>
        val typed = typedKeys(keys)
        // keys cast to the PK's type (not the column to string) so the In
        // set test stays on the bare scan column and pushes into the read
        if (typed.isEmpty) snapshotFromFiles(Nil)
        else applyDvs(snapshotFromFiles(files), view.dvs).filter(col(pkCol).isInCollection(typed))
    }
  }

  /** Whether [[castKeyTo]] can render string keys in the PK's type — the
    * gate for key-typed bucket pruning (and for [[AcidScanBuilder]]'s
    * point-lookup routing). */
  private[lake] def keyCastSupported: Boolean = schema(pkCol).dataType match {
    case StringType | org.apache.spark.sql.types.LongType |
        org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.ByteType => true
    case _ => false
  }

  /** `keys` rendered in the PK's external type; a key unparseable for a
    * numeric PK matches no row and drops out (mirroring the join semantics
    * `delete(keys.toDF)` would give it).
    */
  private[lake] def typedKeys(keys: Seq[String]): Seq[Any] =
    keys.flatMap(k => scala.util.Try(castKeyTo(k)).toOption)

  /** The pruned manifest-relative file list a [[lookup]] of `keys` scans —
    * factored out so the file-skipping contract is directly assertable
    * (LookupSpec) without instrumenting the scan.
    */
  private[graft] def lookupFiles(
      keys: Seq[String],
      partitionsHint: Option[Seq[String]] = None,
      version: Long = -1L): Seq[String] =
    lookupFilesIn(timeline.rootView(if (version >= 0) version else latestVersion()), keys, partitionsHint)
      .map(_._1)

  /** [[lookupFiles]] on one view, as the (file, recorded size) entries
    * the pruned segments resolved. */
  private[lake] def lookupFilesIn(
      view: RootView, keys: Seq[String], partitionsHint: Option[Seq[String]]): Seq[(String, Long)] = {
    if (keys.isEmpty) return Nil
    // hidden partitioning on the PK itself (e.g. bucket(n, pk)): the
    // keys DETERMINE their partitions, so an explicit hint is redundant —
    // derive it through the same transform evaluation the writer used
    val hint = partitionsHint.orElse {
      if (!keyCastSupported) None
      else scala.util.Try(partitionTransform).toOption.flatten
        .filter(_.sourceCol == pkCol)
        .flatMap { _ =>
          val typed: Seq[Any] =
            if (schema(pkCol).dataType == StringType) keys else typedKeys(keys)
          transformPartitionsForEquals(pkCol, typed)
        }
    }
    // bucket pruning uses the same internal-row hash the writers bucket
    // by — driver and data can never disagree on a key's cell
    val bucketsOpt: Option[Set[Int]] =
      if (!hashSafeInternal(schema(pkCol).dataType) || !keyCastSupported) None
      else {
        val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(schema(pkCol).dataType)
        Some(typedKeys(keys).map(k => dataFiles.driverBucketOf(toInternal(k))).toSet)
      }
    def cellPrune(files: Seq[(String, Long)]): Seq[(String, Long)] = bucketsOpt match {
      case Some(bs) => files.filter(f => dataFiles.bucketOf(f._1).forall(bs.contains))
      case None => files
    }
    // a hinted lookup on a segmented manifest resolves ONLY the hinted
    // partitions' segments — O(#cells) metadata regardless of table size.
    // An UNHINTED probe on a segmented root prunes PER SEGMENT REF
    // (expand → bucket-filter → bloom-probe, each ref independently) on
    // an 8-way pool — the object-store parallel-ranged-GET shape, same
    // as bulk publish's concurrent PUTs — with content-addressed
    // segments hitting the process-wide cache across versions (a trickle
    // commit changes one) — never the whole table's entries at once
    // (round-14 verdict #3). The tail of every route:
    // per-file blooms (when bloomColumns covers the PK) drop candidates
    // that cannot hold any probe key.
    val bloomPrune = indexes.keyPruner(keys)
    hint match {
      case Some(ps) => bloomPrune(cellPrune(filesForPartitions(view, ps)))
      case None => indexes.rliLookup(view, keys) match {
        // record index (round 16): a COMPLETE pk→partition index turns
        // the unhinted probe into a hint-shaped one — O(#known cells)
        // segment reads instead of the O(live partitions) per-ref sweep
        // below. Some(Nil) is a proven-empty probe (key nowhere).
        case Some(cells) =>
          bloomPrune(cellPrune(filesForPartitions(view, cells)))
        case None =>
          val refs = view.segRefs
          def pruneRef(r: AcidTable.SegRef): Seq[(String, Long)] =
            bloomPrune(cellPrune(timeline.readSegment(r.name).entries))
          // CHUNKED submission: one task per ref at 20 k partitions is
          // ~20 k pool round-trips of microsecond work — the overhead
          // dominated the probe. 64-ref chunks keep 8 threads busy with
          // ~tens of tasks instead.
          if (refs.size <= 64) refs.flatMap(pruneRef)
          else Par.map(refs.grouped(64).toSeq)(_.flatMap(pruneRef)).flatten
      }
    }
  }

  /** A string key rendered in the PK column's external type (the
    * `delete(Seq[String])` convention extended to typed PKs).
    */
  private[lake] def castKeyTo(k: String): Any = schema(pkCol).dataType match {
    case StringType => k
    case org.apache.spark.sql.types.LongType => k.toLong
    case org.apache.spark.sql.types.IntegerType => k.toInt
    case org.apache.spark.sql.types.ShortType => k.toShort
    case org.apache.spark.sql.types.ByteType => k.toByte
    case other => throw new IllegalArgumentException(
      s"lookup keys as strings unsupported for PK type $other")
  }

  /** The table schema with existence-default metadata attached for
    * [[columnDefaults]] columns — Spark's parquet readers consult the
    * `EXISTS_DEFAULT` key and fill the default ONLY where the column is
    * physically absent from a file, which is exactly the pre-evolution
    * file set; genuine NULLs written after the evolution read as NULL.
    */
  private lazy val scanSchema: StructType =
    if (columnDefaults.isEmpty) schema
    else StructType(schema.fields.map { f =>
      columnDefaults.get(f.name) match {
        case Some(d) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
            .putString("EXISTS_DEFAULT", d).putString("CURRENT_DEFAULT", d).build())
        case None => f
      }
    })

  /** Scan of explicit (file, recorded size) entries (a pinned snapshot or
    * any partition-subset of one), planned from the entries alone
    * ([[DataFiles.scan]]): no listing or stat call, so a snapshot's
    * planning cost is O(files) string work — the property that lets scan
    * planning run from manifests alone, as Delta/Iceberg/Hudi do.
    * Partition pruning works against the directory-parsed values.
    */
  private[lake] def snapshotFromFiles(files: Seq[(String, Long)]): DataFrame =
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      if (renamedCols.isEmpty) {
        dataFiles.scan(files, scanSchema)
          .select(schema.fieldNames.map(col): _*) // canonical column order
      } else {
        // outstanding metadata-only renames: request current AND prior
        // names from the scan (a file carries exactly one of them — the
        // dropped-name ledger guarantees no file holds both) and coalesce
        // back to the current name. Files predating the rename resolve
        // through the prior name; files written after it through the
        // current one. Pushdown on a renamed column stays above the scan
        // until purgeDroppedColumns() rewrites — the documented cost of a
        // zero-rewrite rename on a name-based format.
        val extended = StructType(scanSchema.fields.flatMap(f =>
          f +: renamedCols.getOrElse(f.name, Nil).map(p =>
            StructField(p, f.dataType, nullable = true))))
        dataFiles.scan(files, extended)
          .select(schema.fields.map { f =>
            val priors = renamedCols.getOrElse(f.name, Nil)
            if (priors.isEmpty) col(f.name)
            else coalesce((f.name +: priors).map(col): _*).as(f.name)
          }: _*)
      }
    }

  /** Hide rows deleted by live deletion-vector entries. Cell-scoped: an
    * entry hides only rows of ITS (partition, key) pair — a later
    * re-insert of the key into a DIFFERENT partition is untouched, and a
    * re-insert into the same cell cannot coexist with a live entry (the
    * commit that inserted it rewrote the cell and dropped the entry). The
    * filter is a narrow per-row predicate — no join, no exchange — so the
    * read-side cost of an outstanding MOR delete is a codegen'd set test.
    */
  private[lake] def applyDvs(df: DataFrame, dvs: Seq[DvEntry]): DataFrame =
    if (dvs.isEmpty) df
    else {
      val hidden = dvs.groupBy(_.part).map { case (p, es) =>
        val keys = es.flatMap(e => scala.util.Try(castKeyTo(e.key)).toOption)
        col(partitionCol) === lit(p) && col(pkCol).isInCollection(keys)
      }.reduce(_ || _)
      df.filter(!coalesce(hidden, lit(false)))
    }

  /** Driver image of [[applyDvs]] for the local fast-path row reads. */
  private def dvRowFilter(dvs: Seq[DvEntry])
      : org.apache.spark.sql.catalyst.InternalRow => Boolean = {
    val visible = dvVisible(dvs)
    r => visible(rowPart(r), r.get(pkFieldIdx, schema(pkFieldIdx).dataType))
  }

  /** [[dvRowFilter]] on a row's (partition value, Catalyst PK value). */
  private def dvVisible(dvs: Seq[DvEntry]): (String, Any) => Boolean =
    if (dvs.isEmpty) (_, _) => true
    else {
      val byPart = dvs.groupBy(_.part).map { case (p, es) => p -> es.map(_.key).toSet }
      (part, pk) => !byPart.get(part).exists(_.contains(String.valueOf(pk)))
    }

  // --------------------------------------------------------------- writes --

  /** Insert-or-replace whole rows by PK (reference A5, the path-based Hudi
    * upsert with precombine semantics §1.1).
    *
    * `partitionsHint`: the distinct partition values present in the batch,
    * when the caller already knows them (a transactional producer always
    * does). Skips the touched-partition discovery job — one fewer Spark
    * round-trip on the commit critical path, which is what bounds
    * small-transaction throughput. Only honored with [[stablePartitions]];
    * otherwise matched PKs may live in partitions outside the batch and
    * discovery must consult the snapshot.
    */
  def upsert(batch: DataFrame, partitionsHint: Option[Seq[String]] = None): Long =
    upsertOp(batch, partitionsHint, "UPSERT")

  /** Compare-and-swap upsert: commits ONLY at `expectedBase + 1`. Any
    * intervening commit — same process or another — makes this throw
    * [[CommitConflictException]] instead of re-merging, so read-fold-write
    * maintainers (e.g. a matview refresh, whose fold is computed FROM the
    * state at `expectedBase`) can never double-apply a delta: the loser
    * recomputes from the new state and tries again.
    */
  private[lake] def casUpsertOp(batch: DataFrame, opName: String, expectedBase: Long): Long =
    upsertOp(batch, None, opName, pinBase = Some(expectedBase))

  private[lake] def upsertOp(
      batch: DataFrame, partitionsHint: Option[Seq[String]], opName: String,
      pinBase: Option[Long] = None): Long = {
    val n = normalize(batch)
    val b = precombine(n)
    val hint = checkedHint(partitionsHint)
    // The anti-join key set is deliberately NOT deduplicated or precombined:
    // semi/anti joins hash their build side into a set anyway, and a local
    // (driver-side) batch then remains a LocalRelation — Catalyst builds the
    // broadcast from it without launching a Spark job. Small-transaction
    // commit latency is bounded by job round-trips (measured: the distinct()
    // here cost a 2-stage broadcast-build job per commit), not by data.
    val keys = n.select(pkCol)
    // ONE optimizer walk for the whole driver-side commit: the batch's
    // local rows feed the kernel, the key set, the touched cells, and the
    // metadata-scale decision. Before this, each was its own DataFrame
    // plan (4-5 analyzer+optimizer runs ≈ 15-30 ms per commit).
    val bLocal = localRowsInSchemaOrder(b)
    val localKernel =
      if (!hashSafeInternal(schema(pkCol).dataType)) None
      else bLocal.map { rows =>
        // key-set parity with `keys` (= n's pks): precombine only dedups,
        // so b's pk SET equals n's; carryMinusKeys drops nulls like InSet
        val ks: Set[Any] =
          rows.map(_.get(pkFieldIdx, schema(pkFieldIdx).dataType)).toSet
        (snapRows: Seq[org.apache.spark.sql.catalyst.InternalRow]) =>
          carryMinusKeys(snapRows, ks) ++ rows
      }
    commitLoop(
      touchedOf = (snap, _) => localCellsOf(bLocal).getOrElse(cellsBy(snap(), b, keys, hint)),
      resultOf = snapT => antiByKeys(snapT, keys).unionByName(b),
      // a DISTRIBUTED batch can dwarf the files it rewrites — the
      // input-byte write-sizing heuristic only holds when the added rows
      // are metadata-scale
      outputBounded = bLocal.isDefined || isMetadataScale(b),
      localResultOf = localKernel,
      opName = opName,
      pinBase = pinBase)
  }

  /** Transactionally idempotent streaming upsert — the Delta
    * `txnAppId`/`txnVersion` design: the (stream, batch) identity rides
    * the commit manifest's `#op=` header, so the dedup record and the
    * data commit are ONE atomic publish. A restarted query that replays
    * batches at or below the recorded high-water mark is skipped entirely
    * (no re-commit, no duplicate work), which upgrades Structured
    * Streaming's at-least-once replay into exactly-once table state even
    * when the writer crashed between commit and checkpoint. Recovery
    * reads only retained manifests newest-first (metadata-scale, bounded
    * by vacuum's archival — a stream that has been down longer than the
    * retention window re-commits idempotently by key, the same fallback
    * Delta documents).
    */
  def streamUpsert(batch: DataFrame, streamId: String, batchId: Long): Long = {
    val last = lastStreamBatch(streamId)
    if (batchId <= last) return latestVersion()
    upsertOp(batch, None,
      s"STREAM:${java.net.URLEncoder.encode(streamId, "UTF-8")}:$batchId")
  }

  /** Highest committed batch id for `streamId` among retained manifests,
    * -1 when none. */
  def lastStreamBatch(streamId: String): Long = {
    val latest = latestVersion()
    if (latest < 0) return -1L
    val prefix = s"STREAM:${java.net.URLEncoder.encode(streamId, "UTF-8")}:"
    // header-only: no page expands, no segment resolves. Archival removes
    // a PREFIX of the timeline, so a version archived mid-walk ends it —
    // every older one is gone too
    (latest to timeline.oldestRetainedVersion(latest) by -1).iterator
      .map(v => try Some(timeline.rootView(v).op) catch { case _: CommitConflictException => None })
      .takeWhile(_.isDefined).flatten
      .filter(_.startsWith(prefix))
      .flatMap(op => op.stripPrefix(prefix).toLongOption)
      .nextOption().getOrElse(-1L)
  }

  /** Whether `df` reduces to a small driver-side LocalRelation — the
    * precondition for treating a commit's output volume as bounded by the
    * files it rewrites.
    */
  private def isMetadataScale(df: DataFrame): Boolean =
    org.apache.spark.sql.graft.PlanShim.smallLocalRelation(df, maxRows = 10000).isDefined

  /** `snapT` minus rows whose PK appears in `keys` — the carry side of an
    * upsert/delete. A small driver-local key batch takes the `InSet`
    * filter path: no broadcast-exchange build job (one fewer Spark
    * round-trip per transactional commit), and the set rides the
    * generated code as a reference object so whole-stage codegen compiled
    * for one transaction is reused by the next. Distributed or large key
    * sets keep the anti-join plan (broadcast or shuffle as Catalyst
    * chooses — the scale path is unchanged).
    */
  private def antiByKeys(snapT: DataFrame, keys: DataFrame): DataFrame = {
    // the InSet shortcut replaces JOIN equality with raw internal-value
    // set containment, which is only sound when (a) no implicit type
    // coercion could apply (key type must BE the pk type — an Int key
    // batch against a Long pk would silently match nothing) and (b) the
    // internal representation's equals/hashCode IS SQL value equality
    // (false for Array[Byte] identity and for float/double ±0.0 / NaN)
    val sameType = org.apache.spark.sql.graft.PlanShim.sameType(
      keys.schema.head.dataType, schema(pkCol).dataType)
    val fast =
      if (sameType && hashSafeInternal(schema(pkCol).dataType))
        org.apache.spark.sql.graft.PlanShim.smallLocalColumn(keys, maxRows = 10000)
      else None
    fast match {
      case Some(set) =>
        // anti-join parity: a null never equals any key, so null-PK rows
        // are carried, and null KEYS can never match anything
        val nonNull = set.filter(_ != null)
        snapT.filter(col(pkCol).isNull ||
          !org.apache.spark.sql.graft.PlanShim.inSet(col(pkCol), nonNull))
      case None => snapT.join(keys, Seq(pkCol), "left_anti")
    }
  }

  /** Types whose Catalyst-internal boxed values implement SQL value
    * equality through `equals`/`hashCode` — the precondition for driver-
    * side key sets ([[antiByKeys]]) and dedup maps ([[localPrecombine]]).
    * Excluded: binary (array identity), float/double (±0.0, NaN), and
    * nested types.
    */
  private def hashSafeInternal(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case StringType | org.apache.spark.sql.types.BooleanType |
         org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  /** Replace the ENTIRE table content with `batch` in one atomic commit
    * (SQL `INSERT OVERWRITE` semantics): touched = every partition the
    * table currently holds plus every partition the batch lands in, so no
    * file is carried forward and the new manifest references only the
    * batch's output. Partition lists are metadata-scale; rows never cross
    * the driver.
    */
  def overwrite(batch: DataFrame): Long = {
    val b = precombine(normalize(batch))
    // driver kernel: full replace ignores the old snapshot rows entirely
    val bLocal = localRowsInSchemaOrder(b)
    commitLoop(
      localResultOf = bLocal.map(rows =>
        (_: Seq[org.apache.spark.sql.catalyst.InternalRow]) => rows),
      // overwrite's touched set is a function of the GLOBAL file list
      // (every existing partition must be replaced or emptied), so the
      // partition-local conflict fast paths are unsound for it: an
      // intervening commit that creates a brand-new partition would be
      // carried into the "full replace" result. Force a full recompute
      // on any lost race.
      globalScope = true,
      touchedOf = (_, files) => {
        val existing = files().map(e => dataFiles.dirOf(e._1)).distinct.map(dataFiles.partValue)
        val incoming = org.apache.spark.sql.graft.PlanShim
          .smallLocalColumn(b.select(partitionCol), maxRows = 10000) match {
          case Some(set) => set.map(String.valueOf).toSeq
          case None => b.select(partitionCol).distinct().collect()
            .map(r => String.valueOf(r.get(0))).toSeq
        }
        (existing ++ incoming).distinct.map(FileCell(_, -1))
      },
      resultOf = _ => b,
      outputBounded = isMetadataScale(b),
      opName = "OVERWRITE",
      rliReplace = true)
  }

  /** MERGE INTO (reference A7): on PK match update `updateCols` from the
    * source, otherwise insert the full source row. `partitionsHint` as in
    * [[upsert]].
    */
  def merge(
      source: DataFrame,
      updateCols: Seq[String],
      partitionsHint: Option[Seq[String]] = None): Long = {
    val n = normalize(source)
    val hint = checkedHint(partitionsHint)
    val keys = n.select(pkCol)
    // the window formulation aggregates max(struct(<all columns>)), which
    // requires every column ORDERABLE (maps are not) — such schemas keep
    // the join formulation the window path replaced
    val allOrderable = schema.fields.forall(f =>
      org.apache.spark.sql.graft.PlanShim.orderable(f.dataType))
    // A precombine-less source with duplicate PKs used to DIVERGE between
    // the two formulations (windowMerge collapsed matched duplicates to
    // the max-struct winner but inserted unmatched duplicates twice;
    // joinMerge multiplied matched target rows) — so the source is
    // deduplicated up front to one deterministic winner per PK, the same
    // row windowMerge's max(struct) already picked for updates. Schemas
    // the winner rule cannot order (maps) have NO deterministic winner:
    // duplicate PKs there fail loudly instead of silently depending on
    // the physical formulation.
    val src = dedupedSource(n)
    // one optimizer walk shared by kernel, touched cells, and the
    // metadata-scale decision (see upsert)
    val srcLocal = localRowsInSchemaOrder(src)
    commitLoop(
      touchedOf = (snap, _) => localCellsOf(srcLocal).getOrElse(cellsBy(snap(), src, keys, hint)),
      // sound on the touched subset: touched covers every matched PK's
      // current partition (via hint contract or discovery), so any src key
      // absent from snapT is absent from the whole table.
      resultOf = snapT =>
        if (allOrderable) windowMerge(snapT, src, updateCols)
        else joinMerge(snapT, src, keys, updateCols),
      outputBounded = srcLocal.isDefined || isMetadataScale(src),
      localResultOf = localMergeKernel(srcLocal, updateCols),
      opName = "MERGE")
  }

  /** Conditional / multi-clause MERGE (the standard Delta/Hudi/Iceberg SQL
    * surface beyond the reference's one shape): `WHEN MATCHED [AND cond]
    * THEN UPDATE SET <same-named source cols> | DELETE`, multiple clauses
    * evaluated FIRST-MATCH-WINS per target row, plus `WHEN NOT MATCHED
    * [AND cond] THEN INSERT <full row>` clauses. A matched row that
    * satisfies no clause carries unchanged; an unmatched source row
    * inserts iff some insert clause's condition holds (full-row inserts
    * make first-match-wins collapse to OR over the insert conditions).
    * Clause conditions are `Column`s over the joined pair: target columns
    * as `t.<name>`, source columns as `s.<name>` (insert conditions may
    * reference `s.*` only — there is no target row). A NULL condition
    * means the clause is not taken (SQL three-valued clause guard).
    *
    * Same OCC scope, source dedup, and touched-cell discovery as
    * [[merge]]; the formulation is the join one (a first-match-wins
    * clause chain has no single max-struct image for the window plan),
    * with the pair join shuffling only the touched subset. No driver
    * kernel: conditional merges always take the distributed plan.
    */
  def mergeConditional(
      source: DataFrame,
      matched: Seq[MergeMatchedClause],
      notMatched: Seq[Option[Column]],
      partitionsHint: Option[Seq[String]] = None,
      notMatchedBySource: Seq[MergeMatchedClause] = Nil): Long =
    mergeClauses(source, matched, notMatched.map(MergeInsertClause(_, None)),
      partitionsHint, notMatchedBySource)

  /** [[mergeConditional]] with the full insert-clause grammar (round
    * 10b): `WHEN NOT MATCHED [AND cond] THEN INSERT` clauses may carry
    * per-column expression assignments over the source — reordered or
    * transformed VALUES, and PARTIAL column lists (unassigned non-key
    * columns insert NULL; the key and partition columns must be
    * assigned). First-match-wins across insert clauses.
    */
  def mergeClauses(
      source: DataFrame,
      matched: Seq[MergeMatchedClause],
      notMatched: Seq[MergeInsertClause],
      partitionsHint: Option[Seq[String]] = None,
      notMatchedBySource: Seq[MergeMatchedClause] = Nil): Long = {
    matched.foreach {
      case MergeMatchedClause.Update(_, cols) =>
        cols.foreach { c =>
          require(schema.fieldNames.contains(c), s"MERGE SET references unknown column: $c")
          require(c != pkCol && c != partitionCol,
            s"cannot MERGE-update key/partition column '$c'")
        }
      case MergeMatchedClause.UpdateExprs(_, assigns) =>
        val names = assigns.map(_._1)
        require(names.map(_.toLowerCase).distinct.size == names.size,
          s"duplicate MERGE SET column in one clause: ${names.mkString(", ")}")
        names.foreach { c =>
          require(schema.fieldNames.contains(c), s"MERGE SET references unknown column: $c")
          require(c != pkCol && c != partitionCol,
            s"cannot MERGE-update key/partition column '$c'")
        }
      case MergeMatchedClause.Delete(_) => ()
    }
    // expression assignments: resolve once against an empty t/s pair —
    // unknown references and type errors surface HERE, and the resolved
    // expressions must be deterministic and subquery-free (resultOf can
    // re-evaluate on conflict redo, the update/deleteWhere argument)
    locally {
      val exprClauses = matched.collect { case u: MergeMatchedClause.UpdateExprs => u }
      if (exprClauses.nonEmpty) {
        import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
        val e1 = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
        val e2 = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
        val pair = e1.as("t").join(e2.as("s"), lit(false), "left_outer")
        exprClauses.foreach(_.assignments.foreach { case (c, v) =>
          val analyzed = org.apache.spark.sql.graft.PlanShim.analyzed(
            pair.select(v.cast(schema(c).dataType)))
          analyzed.expressions.foreach { e =>
            require(e.deterministic,
              s"MERGE SET $c must be deterministic, got: ${e.sql}")
            require(!SubqueryExpression.hasSubquery(e),
              s"MERGE SET $c may not contain a subquery: ${e.sql}")
          }
        })
      }
    }
    // NOT MATCHED BY SOURCE supports DELETE and EXPRESSION-UPDATE clauses
    // (round 10b). The identity-update shape stays rejected: it copies
    // same-named SOURCE columns, which are NULL for an unmatched target
    // row — executing it would silently null the row. Expression
    // assignments must reference the TARGET only (the source side does
    // not exist for these rows) — validated by resolving against a bare
    // `t`-aliased empty frame, so an `s.` reference fails loudly here.
    notMatchedBySource.foreach {
      case MergeMatchedClause.Delete(_) => ()
      case MergeMatchedClause.UpdateExprs(_, assigns) =>
        val names = assigns.map(_._1)
        require(names.map(_.toLowerCase).distinct.size == names.size,
          s"duplicate MERGE SET column in one clause: ${names.mkString(", ")}")
        names.foreach { c =>
          require(schema.fieldNames.contains(c), s"MERGE SET references unknown column: $c")
          require(c != pkCol && c != partitionCol,
            s"cannot MERGE-update key/partition column '$c'")
        }
        val emptyT = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
        import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
        assigns.foreach { case (c, v) =>
          val analyzed =
            try org.apache.spark.sql.graft.PlanShim.analyzed(
              emptyT.as("t").select(v.cast(schema(c).dataType)))
            catch { case e: Throwable => throw new IllegalArgumentException(
              s"NOT MATCHED BY SOURCE SET $c must reference target columns only: ${e.getMessage}")
            }
          analyzed.expressions.foreach { e =>
            require(e.deterministic,
              s"NOT MATCHED BY SOURCE SET $c must be deterministic, got: ${e.sql}")
            require(!SubqueryExpression.hasSubquery(e),
              s"NOT MATCHED BY SOURCE SET $c may not contain a subquery")
          }
        }
      case other => throw new IllegalArgumentException(
        s"WHEN NOT MATCHED BY SOURCE supports DELETE and expression UPDATE" +
          s" clauses, got: $other")
    }
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE needs at least one clause")
    // NMBS clause conditions reference target columns (t.*); they must be
    // deterministic for the same two-evaluation reason as deleteWhere
    val nmbsCond: Option[Column] = notMatchedBySource match {
      case Nil => None
      case cs => Some(cs.map(c => coalesce(c.condition.getOrElse(lit(true)), lit(false)))
        .reduce(_ || _))
    }
    nmbsCond.foreach(c => requireDeterministicCondition(
      org.apache.spark.sql.graft.PlanShim.columnOf(
        org.apache.spark.sql.graft.PlanShim.exprOf(c).transform {
          // validated against the bare schema: strip the t qualifier
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if a.nameParts.size > 1 =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.nameParts.last))
        }), "MERGE NOT MATCHED BY SOURCE"))
    // insert-clause expression assignments (round 10b): distinct names,
    // key+partition covered, source-only references, deterministic —
    // resolved once against a bare `s`-aliased empty frame
    notMatched.foreach {
      case MergeInsertClause(_, Some(assigns)) =>
        val names = assigns.map(_._1)
        require(names.map(_.toLowerCase).distinct.size == names.size,
          s"duplicate MERGE INSERT column: ${names.mkString(", ")}")
        names.foreach(c => require(schema.fieldNames.contains(c),
          s"MERGE INSERT references unknown column: $c"))
        Seq(pkCol, partitionCol).foreach(k =>
          require(names.exists(_.equalsIgnoreCase(k)),
            s"MERGE INSERT must assign the '$k' column"))
        val emptyS = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
        import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
        assigns.foreach { case (c, v) =>
          val analyzed =
            try org.apache.spark.sql.graft.PlanShim.analyzed(
              emptyS.as("s").select(v.cast(schema(c).dataType)))
            catch { case e: Throwable => throw new IllegalArgumentException(
              s"MERGE INSERT value for $c must reference source columns only: ${e.getMessage}")
            }
          analyzed.expressions.foreach { e =>
            require(e.deterministic,
              s"MERGE INSERT value for $c must be deterministic, got: ${e.sql}")
            require(!SubqueryExpression.hasSubquery(e),
              s"MERGE INSERT value for $c may not contain a subquery")
          }
        }
      case _ => ()
    }
    val n = normalize(source)
    val hint = checkedHint(partitionsHint)
    val keys = n.select(pkCol)
    val src = dedupedSource(n)
    val srcLocal = localRowsInSchemaOrder(src)
    val hasExprInserts = notMatched.exists(_.assignments.isDefined)
    // with expression inserts the clause CONDITIONS participate in
    // touched-cell discovery (first-match routing decides where images
    // land) and are re-evaluated in resultOf — a nondeterministic
    // condition could route rows outside the discovered cells, so reject
    // it up front (identity-only inserts stay in the source rows' cells
    // regardless of conditions and need no such gate)
    if (hasExprInserts) {
      import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
      val emptyS = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      notMatched.flatMap(_.condition).foreach { c =>
        val analyzed =
          try org.apache.spark.sql.graft.PlanShim.analyzed(
            emptyS.as("s").filter(coalesce(c, lit(false))))
          catch { case e: Throwable => throw new IllegalArgumentException(
            s"MERGE INSERT condition must reference source columns only: ${e.getMessage}")
          }
        analyzed.expressions.foreach { e =>
          require(e.deterministic,
            s"MERGE INSERT condition must be deterministic with expression" +
              s" inserts, got: ${e.sql}")
          require(!SubqueryExpression.hasSubquery(e),
            "MERGE INSERT condition may not contain a subquery")
        }
      }
    }
    commitLoop(
      touchedOf = (snapT, _) => {
        lazy val snap = snapT()
        val srcCells = localCellsOf(srcLocal).getOrElse(cellsBy(snap, src, keys, hint))
        // NMBS-deletable rows live in cells the source never names: one
        // predicate-discovery scan (the deleteWhere shape) finds every
        // cell holding a row any NMBS condition could match — commit cost
        // stays proportional to the predicate's reach, not table size
        val nmbsCells = nmbsCond.map { c =>
          snap.as("t").filter(c)
            .select(col(partitionCol).as("__p"), dataFiles.bucketExpr.as("__b"))
            .distinct().collect().map(r => FileCell(r.getString(0), r.getInt(1))).toSeq
        }.getOrElse(Nil)
        // expression inserts can send a row to any cell their assignments
        // compute — discover the INSERT IMAGES' cells (one batch-scale
        // projection over the unmatched source rows, never a table scan)
        val imageCells =
          if (!hasExprInserts) Nil
          else insertImages(snap, src, notMatched).map { img =>
            img.select(col(partitionCol).cast("string").as("__p"), dataFiles.bucketExpr.as("__b"))
              .distinct().collect().map(r => FileCell(r.getString(0), r.getInt(1))).toSeq
          }.getOrElse(Nil)
        (srcCells ++ nmbsCells ++ imageCells).distinct
      },
      resultOf = snapT => clauseMerge(snapT, src, matched, notMatched, notMatchedBySource),
      outputBounded = srcLocal.isDefined || isMetadataScale(src),
      opName = "MERGE")
  }

  /** The first-match-wins clause formulation over a `t`/`s` aliased pair
    * join. `__gidx` is the 0-based index of the first matched clause whose
    * condition holds (−1 = carry); rows landing on a DELETE clause drop,
    * rows landing on an UPDATE clause project that clause's columns from
    * the source, everything else carries. Unmatched source rows insert
    * through the OR of the insert-clause conditions.
    */
  /** The transformed/reordered/partial INSERT images: unmatched source
    * rows routed through the first-match-wins insert-clause chain, each
    * projected to the table schema (identity clauses take the source row,
    * expression clauses their assignments — unassigned columns NULL).
    * None when there are no insert clauses. Shared by [[clauseMerge]]
    * (the rows to append) and touched-cell discovery (where they land).
    */
  private def insertImages(
      snapT: DataFrame,
      src: DataFrame,
      notMatched: Seq[MergeInsertClause]): Option[DataFrame] = {
    if (notMatched.isEmpty) return None
    val insIdxName = "__graft_ins"
    // anti-join on the bare pk, THEN alias as `s` so both bare and
    // s-qualified references resolve in clause conditions and assignments
    val unmatched = src.join(snapT.select(col(pkCol)), Seq(pkCol), "left_anti")
      .select(schema.fieldNames.map(col): _*).as("s")
    val insIdx = notMatched.zipWithIndex.foldLeft(when(lit(false), lit(-1))) {
      case (acc, (cl, i)) =>
        acc.when(coalesce(cl.condition.getOrElse(lit(true)), lit(false)), lit(i))
    }.otherwise(lit(-1))
    val tagged = unmatched.withColumn(insIdxName, insIdx).filter(col(insIdxName) >= 0)
    Some(tagged.select(schema.fieldNames.map { f =>
      notMatched.zipWithIndex.foldLeft(
        when(lit(false), lit(null).cast(schema(f).dataType))) {
        case (acc, (MergeInsertClause(_, Some(assigns)), i)) =>
          val v = assigns.find(_._1.equalsIgnoreCase(f))
            .map(_._2.cast(schema(f).dataType))
            .getOrElse(lit(null).cast(schema(f).dataType))
          acc.when(col(insIdxName) === i, v)
        case (acc, (MergeInsertClause(_, None), i)) =>
          acc.when(col(insIdxName) === i, col(s"s.$f"))
      }.otherwise(lit(null).cast(schema(f).dataType)).as(f)
    }: _*))
  }

  private def clauseMerge(
      snapT: DataFrame,
      src: DataFrame,
      matched: Seq[MergeMatchedClause],
      notMatched: Seq[MergeInsertClause],
      notMatchedBySource: Seq[MergeMatchedClause] = Nil): DataFrame = {
    val idxName = "__graft_clause"
    val pairs = snapT.as("t").join(src.as("s"),
      col(s"t.$pkCol") === col(s"s.$pkCol"), "left_outer")
    val isMatched = col(s"s.$pkCol").isNotNull
    val idxCol = matched.zipWithIndex.foldLeft(when(lit(false), lit(-1))) {
      case (acc, (cl, i)) =>
        acc.when(isMatched && coalesce(cl.condition.getOrElse(lit(true)), lit(false)), lit(i))
    }.otherwise(lit(-1))
    val deleteIdxs = matched.zipWithIndex.collect {
      case (MergeMatchedClause.Delete(_), i) => i
    }
    // NOT MATCHED BY SOURCE: its own first-match-wins index over the
    // unmatched TARGET rows (conditions see the target under `t` and a
    // NULL source side, the SQL clause-guard semantics). DELETE-indexed
    // rows drop; expression-UPDATE-indexed rows project their t-only
    // assignments below; everything else carries.
    val nmbsIdxName = "__graft_nmbs"
    val nmbsIdxCol = notMatchedBySource.zipWithIndex.foldLeft(when(lit(false), lit(-1))) {
      case (acc, (cl, i)) =>
        acc.when(!isMatched && coalesce(cl.condition.getOrElse(lit(true)), lit(false)), lit(i))
    }.otherwise(lit(-1))
    val nmbsDeleteIdxs = notMatchedBySource.zipWithIndex.collect {
      case (MergeMatchedClause.Delete(_), i) => i
    }
    val tagged = pairs.withColumn(idxName, idxCol).withColumn(nmbsIdxName, nmbsIdxCol)
    val kept = {
      val afterMatched =
        if (deleteIdxs.isEmpty) tagged
        else tagged.filter(!col(idxName).isInCollection(deleteIdxs))
      if (nmbsDeleteIdxs.isEmpty) afterMatched
      else afterMatched.filter(!col(nmbsIdxName).isInCollection(nmbsDeleteIdxs))
    }
    val updated = kept.select(schema.fieldNames.map { f =>
      val withMatched = matched.zipWithIndex.foldLeft(when(lit(false), col(s"t.$f"))) {
        case (acc, (MergeMatchedClause.Update(_, cols), i)) if cols.contains(f) =>
          acc.when(col(idxName) === i, col(s"s.$f"))
        case (acc, (MergeMatchedClause.UpdateExprs(_, assigns), i))
            if assigns.exists(_._1.equalsIgnoreCase(f)) =>
          // arbitrary RHS over the pair's pre-image, cast to the column's
          // declared type (ANSI store assignment) so the rewrite cannot
          // drift the table schema
          val v = assigns.find(_._1.equalsIgnoreCase(f)).get._2
          acc.when(col(idxName) === i, v.cast(schema(f).dataType))
        case (acc, _) => acc
      }
      notMatchedBySource.zipWithIndex.foldLeft(withMatched) {
        case (acc, (MergeMatchedClause.UpdateExprs(_, assigns), i))
            if assigns.exists(_._1.equalsIgnoreCase(f)) =>
          val v = assigns.find(_._1.equalsIgnoreCase(f)).get._2
          acc.when(col(nmbsIdxName) === i, v.cast(schema(f).dataType))
        case (acc, _) => acc
      }.otherwise(col(s"t.$f")).as(f)
    }: _*)
    insertImages(snapT, src, notMatched).fold(updated)(updated.unionByName(_))
  }

  /** Source preparation shared by [[merge]] and [[mergeConditional]]: one
    * deterministic winner per PK (precombine rule, or greatest remaining-
    * columns tuple for precombine-less orderable schemas; unorderable
    * schemas require unique PKs loudly).
    */
  private def dedupedSource(n: DataFrame): DataFrame = {
    val allOrderable = schema.fields.forall(f =>
      org.apache.spark.sql.graft.PlanShim.orderable(f.dataType))
    precombineCol match {
      case Some(_) => precombine(n)
      case None if allOrderable => dedupByPk(n)
      case None => requireUniquePks(n); n
    }
  }

  /** Single-pass MERGE: tag target rows 0 and source rows 1, then align
    * the (at most two) rows of each PK with window aggregates over ONE
    * hash(pk) shuffle. The join formulation ([[joinMerge]]) costs a
    * broadcast build job per side at transaction scale, and at table
    * scale its insert-side anti join needs the TARGET's key set as the
    * build side — O(partition keys) broadcast, degrading to three
    * separate shuffles of the touched subset. This plan moves the touched
    * rows exactly once before the write repartition, the same
    * shuffle-by-key shape Hudi's merge handle uses.
    *
    * NULL-PK rows bypass the window: join equality never matches NULL, so
    * a NULL-key target row is carried unchanged and a NULL-key source row
    * inserts — whereas `Window.partitionBy` GROUPS nulls. For tables with
    * a non-nullable PK Catalyst folds the bypass branches away.
    */
  private def windowMerge(snapT: DataFrame, src: DataFrame, updateCols: Seq[String]): DataFrame = {
    val srcTag = "__graft_src"
    val srcRow = "__graft_srow"
    val hasT = "__graft_hast"
    val tagged = snapT.filter(col(pkCol).isNotNull).withColumn(srcTag, lit(0))
      .unionByName(src.filter(col(pkCol).isNotNull).withColumn(srcTag, lit(1)))
    val w = Window.partitionBy(col(pkCol))
    val merged = tagged
      // the source row's full payload, visible from the target row
      .withColumn(srcRow,
        max(when(col(srcTag) === 1, struct(schema.fieldNames.map(col): _*))).over(w))
      .withColumn(hasT, max(when(col(srcTag) === 0, 1).otherwise(0)).over(w))
      // keep target rows (merged in the projection) and unmatched
      // source rows (inserts); matched source rows collapse into the
      // target row they updated
      .filter(col(srcTag) === 0 || col(hasT) === 0)
      .select(schema.fieldNames.map { f =>
        val m =
          if (updateCols.contains(f))
            when(col(srcTag) === 0 && col(srcRow).isNotNull, col(srcRow).getField(f))
              .otherwise(col(f))
          else col(f)
        m.as(f)
      }: _*)
    merged
      .unionByName(snapT.filter(col(pkCol).isNull))
      .unionByName(src.filter(col(pkCol).isNull))
  }

  /** The three-join MERGE formulation — kept for schemas the window path
    * cannot order (map-typed columns).
    */
  private def joinMerge(
      snapT: DataFrame, src: DataFrame, keys: DataFrame, updateCols: Seq[String]): DataFrame = {
    val matched = snapT.as("t")
      .join(src.as("s"), col(s"t.$pkCol") === col(s"s.$pkCol"), "inner")
      .select(schema.fieldNames.map { f =>
        (if (updateCols.contains(f)) col(s"s.$f") else col(s"t.$f")).as(f)
      }: _*)
    val inserted = src.join(snapT.select(pkCol), Seq(pkCol), "left_anti")
      .select(schema.fieldNames.map(col): _*)
    snapT.join(keys, Seq(pkCol), "left_anti")
      .unionByName(matched).unionByName(inserted)
  }

  /** A partitions hint is sound only when partition placement is a pure
    * function of the PK — under churn a matched key's CURRENT partition
    * could differ from the batch's and would be silently left stale.
    */
  private def checkedHint(hint: Option[Seq[String]]): Option[Seq[String]] = {
    require(hint.isEmpty || stablePartitions,
      "partitionsHint requires stablePartitions=true")
    hint.map(_.distinct)
  }

  /** Conditional UPDATE (SQL `UPDATE t SET … WHERE …`) as a group-based
    * row-level rewrite: rows matching `condition` are rewritten with
    * `assignments` applied; everything else in the touched file groups is
    * carried unchanged. The matched rows are REDISCOVERED from the
    * current snapshot inside the commit loop — on an OCC retry whose
    * intervening commit overlaps our file groups, the partial-redo branch
    * re-runs `resultOf` against the fresh snapshot, so concurrent changes
    * to the rows we update are never overwritten with values computed
    * from a stale read (no lost updates — the failure mode of the naive
    * read-then-merge translation, whose source rows are frozen at the
    * first read).
    *
    * Conflict scope is the file group (Hudi-style OCC): an intervening
    * DISJOINT-cell commit resolves as a manifest re-merge with the
    * predicate's matched set pinned at our read snapshot — i.e. snapshot-
    * isolation semantics for predicate writes, the same level Hudi/Delta
    * give UPDATE, not full predicate serializability.
    *
    * The primary-key and partition columns cannot be assigned (the
    * standard lakehouse restriction; an identity-changing update is a
    * delete + insert).
    *
    * Scale shape: discovery scans the snapshot once for matched
    * (partition, bucket) cells; only those file groups are read and
    * rewritten — commit cost is proportional to what the predicate
    * touches, not to table size.
    */
  def update(assignments: Seq[(String, Column)], condition: Column): Long = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    requireDeterministicCondition(condition, "UPDATE")
    // resolve SET columns the way Spark resolves attributes (the session
    // resolver — case-insensitive by default, so `SET V = 1` targets `v`),
    // and reject duplicates instead of letting the last one win silently
    // (SQL engines error on `SET v = 1, v = 2`)
    val resolver = spark.sessionState.conf.resolver
    val resolved = assignments.map { case (c, v) =>
      schema.fieldNames.find(resolver(_, c)).getOrElse(throw new IllegalArgumentException(
        s"UPDATE SET references unknown column: $c")) -> v
    }
    val dupes = resolved.map(_._1).groupBy(identity)
      .collect { case (c, vs) if vs.size > 1 => c }
    require(dupes.isEmpty, s"duplicate assignment in UPDATE SET: ${dupes.mkString(",")}")
    resolved.foreach { case (n, _) =>
      require(n != pkCol && n != partitionCol,
        s"cannot UPDATE key/partition column '$n' (use delete + insert)")
    }
    val byName = resolved.toMap
    val projCols = schema.fieldNames.map { f =>
      byName.get(f) match {
        // WHERE NULL keeps the row unchanged (SQL three-valued filter)
        case Some(v) => when(condition, v).otherwise(col(f)).as(f)
        case None => col(f)
      }
    }.toSeq
    // Driver kernel: the interpreted image of `projCols`, built ONCE per
    // statement (verdict r8 #2 — UPDATE was the only commit op paying a
    // full write job per statement at metadata scale). Eligible only when
    // the statement's expressions are deterministic, subquery-free, and
    // type-preserving; ineligible statements keep the distributed plan.
    val kernel = driverUpdateKernel(projCols, condition)
    commitLoop(
      touchedOf = (snap, filesT) => {
        // metadata-scale discovery: when the WHOLE snapshot fits the fast-
        // path budget, the matched cells come from evaluating the predicate
        // on the driver over the (row-cached) snapshot rows — no Spark job.
        // A big table fails the probe in O(#files) driver time and takes
        // the distributed filter+distinct discovery below, whose cost is
        // the scan the predicate genuinely needs.
        lazy val files = filesT()
        val local = kernel.flatMap { case (pred, _) =>
          if (!driverScaleFiles(files)) None
          else scala.util.Try {
            dataFiles.readRows(files).filter(pred)
              .map(r => FileCell(rowPart(r), rowBucket(r))).distinct
          }.toOption // an interpreted-eval surprise falls back, never fails
        }
        local.getOrElse {
          snap().filter(condition)
            .select(col(partitionCol).as("__p"), dataFiles.bucketExpr.as("__b"))
            .distinct().collect().map(r => FileCell(r.getString(0), r.getInt(1))).toSeq
        }
      },
      resultOf = snapT => snapT.select(projCols: _*),
      // an UPDATE preserves row count — output volume tracks the touched
      // files' input volume, so the write-sizing heuristic is sound
      // whenever the kernel's type-preservation check passed; statements
      // the kernel rejects (type-widening assignments etc.) keep the
      // conservative unbounded sizing
      outputBounded = kernel.isDefined,
      localResultOf = kernel.map { case (_, proj) =>
        (snapRows: Seq[org.apache.spark.sql.catalyst.InternalRow]) =>
          snapRows.map(r => proj(r))
      },
      opName = "UPDATE")
  }

  /** Predicate DELETE (SQL `DELETE FROM t WHERE …` beyond the pk-list
    * shape): rows matching `condition` are removed, everything else in the
    * touched file groups is carried. Same discovery shape, OCC semantics,
    * and driver-kernel gating as [[update]]; a NULL condition keeps the
    * row (SQL three-valued filter), and a DELETE's output volume is
    * always bounded by the files it rewrites. Under [[morDeletes]] a
    * bounded matched set commits deletion vectors instead of rewriting
    * (see the routing block below); matched NULL-pk rows or an oversized
    * set keep the copy-on-write rewrite.
    *
    * SI caveat (as for [[update]]): under `stablePartitions` a conflicted
    * predicate DELETE resolves a DISJOINT-cell race as a manifest
    * re-merge with the matched set pinned at the read snapshot — rows a
    * concurrent commit inserted into untouched cells that happen to match
    * the predicate survive (phantoms). That is snapshot-isolation
    * semantics for predicate writes, the level Hudi/Delta give DELETE,
    * not predicate serializability; spec-pinned by
    * `AcidTablePropertySpec`'s stable-partitions deleteWhere race case.
    */
  def deleteWhere(condition: Column): Long = {
    requireDeterministicCondition(condition, "DELETE")
    // merge-on-read mode: resolve the predicate to its matched row set and
    // commit DELETION VECTORS instead of rewriting the touched file groups
    // — a predicate DELETE becomes an O(matched keys) metadata commit;
    // rewrites happen lazily at the next touch / compaction. Bounded like
    // deleteVectored: a matched set over MorMaxKeys (or a matched NULL pk,
    // which has no DV representation, or a non-renderable PK type) falls
    // through to copy-on-write. SAME SI semantics as the COW path
    // (round-10 ADVICE): the predicate is re-evaluated against the CURRENT
    // snapshot inside [[deleteVectoredWhere]]'s OCC retry loop — a
    // concurrently-updated row that no longer matches is NOT deleted,
    // exactly like the COW conflict redo re-running the predicate.
    if (morDeletes && keyCastSupported && hashSafeInternal(schema(pkCol).dataType)) {
      deleteVectoredWhere(condition) match {
        case Some(v) => return v
        case None => () // oversized / NULL-pk matched set: COW below
      }
    }
    val pred = driverPredicate(condition)
    commitLoop(
      touchedOf = (snap, filesT) => {
        lazy val files = filesT()
        val local = pred.flatMap { p =>
          if (!driverScaleFiles(files)) None
          else scala.util.Try {
            dataFiles.readRows(files).filter(p)
              .map(r => FileCell(rowPart(r), rowBucket(r))).distinct
          }.toOption
        }
        local.getOrElse {
          snap().filter(condition)
            .select(col(partitionCol).as("__p"), dataFiles.bucketExpr.as("__b"))
            .distinct().collect().map(r => FileCell(r.getString(0), r.getInt(1))).toSeq
        }
      },
      resultOf = snapT => snapT.filter(!coalesce(condition, lit(false))),
      outputBounded = true,
      localResultOf = pred.map(p =>
        (snapRows: Seq[org.apache.spark.sql.catalyst.InternalRow]) => snapRows.filterNot(p)),
      opName = "DELETE",
      rliCarry = true)
  }

  /** Loud up-front rejection of nondeterministic or subquery-bearing
    * predicates for the group-based row-level ops (round-9 ADVICE):
    * `update`/`deleteWhere` evaluate `condition` twice on the distributed
    * path (touched-cell discovery, then resultOf), so a nondeterministic
    * WHERE (`rand() < 0.5`) could match different rows in the two
    * evaluations — leaving matching rows in un-rewritten cells or
    * tripping the stray-cell guard nondeterministically. Spark's own
    * DELETE rejects such conditions up front; so do we, instead of only
    * disqualifying the driver kernel. Analysis failures pass through —
    * the op's own execution will surface them with a better error.
    */
  private def requireDeterministicCondition(condition: Column, op: String): Unit = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    scala.util.Try {
      val empty = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      org.apache.spark.sql.graft.PlanShim.analyzed(empty.filter(condition)) match {
        case LFilter(cond, _) =>
          require(cond.deterministic,
            s"$op condition must be deterministic, got: ${cond.sql}")
          require(!SubqueryExpression.hasSubquery(cond),
            s"$op condition may not contain a subquery: ${cond.sql}")
        case _ => ()
      }
    } match {
      case scala.util.Failure(e: IllegalArgumentException) => throw e
      case _ => ()
    }
  }

  /** The interpreted driver image of a WHERE predicate over the table
    * schema, or None when the row kernel can't honor it (nondeterminism,
    * subqueries, unsupported physical schema). NULL evaluates to false —
    * the SQL filter rule both [[update]]'s carry and [[deleteWhere]] need.
    */
  private def driverPredicate(condition: Column)
      : Option[org.apache.spark.sql.catalyst.InternalRow => Boolean] = {
    import org.apache.spark.sql.catalyst.expressions.{Predicate, SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation}
    if (!fastSchemaOk) return None
    scala.util.Try {
      val empty = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      org.apache.spark.sql.graft.PlanShim.analyzed(empty.filter(condition)) match {
        case LFilter(cond, rel: LocalRelation)
            if cond.deterministic && !SubqueryExpression.hasSubquery(cond) =>
          // the ANALYZED tree still carries RuntimeReplaceable nodes
          // (BETWEEN): interpreted eval asserts on those
          val pred = Predicate.create(
            org.apache.spark.sql.graft.PlanShim.evaluable(cond), rel.output)
          pred.initialize(0)
          Some((r: org.apache.spark.sql.catalyst.InternalRow) => pred.eval(r))
        case _ => None
      }
    }.toOption.flatten
  }

  /** The driver image of the UPDATE projection and its WHERE predicate:
    * `projCols` / `condition` resolved against an empty relation with the
    * table's exact schema (so name resolution matches the snapshot path),
    * then compiled to an interpreted row predicate + safe projection.
    * None — and the distributed plan stays authoritative — when the
    * analyzed shapes carry anything the row kernel can't honor:
    * nondeterminism, subqueries, or a projection that changes a column's
    * type (analysis may widen `when(cond, v)`).
    */
  private def driverUpdateKernel(projCols: Seq[Column], condition: Column)
      : Option[(org.apache.spark.sql.catalyst.InternalRow => Boolean,
                org.apache.spark.sql.catalyst.InternalRow =>
                  org.apache.spark.sql.catalyst.InternalRow)] = {
    import org.apache.spark.sql.catalyst.expressions.{Predicate, SafeProjection, SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation, Project}
    if (!fastSchemaOk) return None
    scala.util.Try {
      val empty = spark.createDataFrame(
        new java.util.ArrayList[Row](), schema)
      val shim = org.apache.spark.sql.graft.PlanShim
      (shim.analyzed(empty.select(projCols: _*)),
        shim.analyzed(empty.filter(condition))) match {
        case (Project(exprs, rel: LocalRelation), LFilter(cond, _: LocalRelation))
            if exprs.forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e)) &&
              cond.deterministic && !SubqueryExpression.hasSubquery(cond) &&
              exprs.map(_.name) == schema.fieldNames.toSeq &&
              exprs.zip(schema.fields).forall { case (e, f) =>
                org.apache.spark.sql.graft.PlanShim.sameType(e.dataType, f.dataType)
              } =>
          val pred = Predicate.create(shim.evaluable(cond), rel.output)
          pred.initialize(0)
          val proj = SafeProjection.create(exprs.map(shim.evaluable), rel.output)
          Some((
            (r: org.apache.spark.sql.catalyst.InternalRow) => pred.eval(r),
            // safe projections reuse their output buffer — copy so cached
            // file rows stay immutable
            (r: org.apache.spark.sql.catalyst.InternalRow) => proj(r).copy()))
        case _ => None
      }
    }.toOption.flatten
  }

  /** Cheap driver probe: `files` (with their recorded sizes) fit the
    * fast-path budget — count-capped first, then summed from the sizes
    * the manifest records, so the probe costs no filesystem call.
    */
  private[lake] def driverScaleFiles(
      files: Seq[(String, Long)],
      maxBytes: Long = AcidTable.FastPathMaxBytes): Boolean =
    files.size <= 4096 && {
      var sum = 0L
      files.forall { case (_, len) => sum += len; sum <= maxBytes }
    }

  /** Delete by key set (reference A8, as a left-anti join — the reference's
    * string-built `IN` list had the no-delimiter bug §8-B3).
    */
  def delete(keys: Seq[String]): Long = {
    import spark.implicits._
    delete(keys.toDF(pkCol))
  }

  /** Free-form table properties (`SHOW TBLPROPERTIES` surface beyond the
    * structural ones). Table-level: read from `_meta.properties` per call,
    * so a concurrent [[setTableProperty]] is visible to every handle. */
  def tableProperty(key: String): Option[String] =
    AcidTable.readTableProperty(path, key)

  def tableProperties: Map[String, String] =
    AcidTable.readTableProperties(path)

  /** Set (`Some`) or remove (`None`) one table property — the `ALTER TABLE
    * … SET/UNSET TBLPROPERTIES` surface. Atomic meta rewrite; schema-
    * evolution meta rewrites carry properties over. */
  def setTableProperty(key: String, value: Option[String]): Unit = {
    // index properties are validated AT SET TIME (round-10 verdict #5): a
    // typo'd or unsupported-type column must error here, not fail every
    // later commit
    value.foreach(indexes.validateProperty(key, _))
    // hidden partitioning: the transform IS the data placement — validate
    // loudly, refuse changes once set (and sets after data exists), and
    // auto-add the CHECK constraint that makes read-side transposition
    // sound against explicitly-provided partition values
    if (key == "partitionTransform") {
      val cur = tableProperty("partitionTransform")
      value match {
        case Some(v) =>
          val t = PartitionTransform.parse(v)
          t.validate(schema, partitionCol)
          require(cur.isEmpty || cur.contains(v),
            s"partitionTransform is immutable once set (was '${cur.get}'): existing " +
              "data was placed by it")
          require(cur.contains(v) || latestVersion() < 0,
            "partitionTransform must be set before the table's first commit")
        case None => require(cur.isEmpty,
          "partitionTransform cannot be unset: existing data was placed by it")
      }
    }
    AcidTable.writeTableProperty(path, key, value)
    if (key == "partitionTransform") value.foreach { v =>
      val t = PartitionTransform.parse(v)
      if (!liveConstraints().exists(_._1 == "partition_transform"))
        addConstraint("partition_transform", s"$partitionCol <=> (${t.sql})")
    }
  }

  /** Whether this table runs in MERGE-ON-READ delete mode (the
    * `morDeletes` table property — Delta's `enableDeletionVectors`
    * analog): key deletes from EVERY front-end route through
    * [[deleteVectored]], so a point delete is an O(keys) metadata commit
    * and file rewrites happen lazily at the next touch / compaction.
    * Oversized or non-renderable key sets still fall back to
    * copy-on-write inside [[deleteVectored]].
    */
  def morDeletes: Boolean = tableProperty("morDeletes").contains("true")

  /** Delete by key set. If the caller's DataFrame also carries the
    * partition column AND the table has stable partitions, the touched-
    * partition lookup needs no snapshot scan (the harness's
    * DataManipulations carry both, reference `DataManipulation.java`).
    * Under [[morDeletes]] the delete routes through [[deleteVectored]]
    * (which ignores the hint — DV resolution is bucket-pruned by key).
    */
  def delete(keysWithPartitions: DataFrame, partitionsHint: Option[Seq[String]] = None): Long = {
    if (morDeletes) return deleteVectored(keysWithPartitions)
    deleteCow(keysWithPartitions, partitionsHint)
  }

  private[lake] def deleteCow(
      keysWithPartitions: DataFrame, partitionsHint: Option[Seq[String]] = None): Long = {
    val hasPart = keysWithPartitions.columns.contains(partitionCol)
    // no distinct(): see upsert — keeps a local key batch a LocalRelation so
    // the anti-join broadcast needs no Spark job; the join dedups internally
    val keysDf = keysWithPartitions.select(pkCol)
    val hint = checkedHint(partitionsHint)
    // one optimizer walk over the key batch's (pk[, partition]) columns,
    // shared by the kernel's key set and the touched-cell computation
    val kSel =
      if (hasPart) keysWithPartitions.select(col(pkCol), col(partitionCol))
      else keysWithPartitions.select(col(pkCol))
    val kLocal = org.apache.spark.sql.graft.PlanShim
      .smallLocalRelation(kSel, maxRows = 10000)
      .filter { case (attrs, _) =>
        org.apache.spark.sql.graft.PlanShim.sameType(
          attrs.head.dataType, schema(pkCol).dataType) &&
          hashSafeInternal(schema(pkCol).dataType)
      }
    val localKeys: Option[Set[Any]] = kLocal.map { case (attrs, rows) =>
      rows.map(_.get(0, attrs.head.dataType)).toSet
    }
    val localCells: Option[Seq[FileCell]] =
      if (stablePartitions && hasPart)
        kLocal.map { case (attrs, rows) =>
          rows.map(r => FileCell(
            String.valueOf(r.get(1, attrs(1).dataType)),
            dataFiles.driverBucketOf(r.get(0, attrs.head.dataType)))).distinct
        }
      else None
    commitLoop(
      touchedOf = (snap, _) =>
        localCells.getOrElse {
          if (stablePartitions && hasPart)
            // the caller's (pk, partition) rows are the batch: same job-free
            // plan-read (or single distinct job) as an upsert's own rows
            cellsBy(snap(), keysWithPartitions.select(col(partitionCol), col(pkCol)),
              keysDf, hint)
          else hint.map(_.map(FileCell(_, -1))).getOrElse {
            // matched rows can live in any partition, but always in their
            // pk's bucket (a pure function of the key)
            snap().join(keysDf, Seq(pkCol), "left_semi")
              .select(col(partitionCol).as("__p"), dataFiles.bucketExpr.as("__b")).distinct()
              .collect().map(r => FileCell(r.getString(0), r.getInt(1))).toSeq
          }
        },
      resultOf = snapT => antiByKeys(snapT, keysDf),
      localResultOf = localKeys.map(ks =>
        (snapRows: Seq[org.apache.spark.sql.catalyst.InternalRow]) =>
          carryMinusKeys(snapRows, ks)),
      opName = "DELETE",
      rliCarry = true)
  }

  /** Merge-on-read delete: commit the matched keys as inline deletion-
    * vector entries (the manifest's `#dvs=` header) instead of rewriting
    * their file-group cells — O(keys) metadata and ZERO data I/O, which
    * is what turns a point delete on a 100 TB table from a multi-GB
    * file-group rewrite into a KB-scale commit (Delta deletion vectors /
    * Hudi MOR delete blocks, in the inline small-DV form). Readers apply
    * live entries as a narrow scan filter; the first later commit that
    * touches an entry's cell (upsert, merge, update, compact, …)
    * rewrites the cell from the DV-applied snapshot and drops the entry,
    * so deletes materialize lazily and [[compact]] sweeps any stragglers.
    *
    * OCC: the commit declares the entries' cells as touched — concurrent
    * writers on those cells conflict and resolve exactly as against a
    * COW delete; this op itself resolves its own lost races by full
    * recompute (re-resolving the keys against the new snapshot), which
    * is cheap because the whole statement is metadata-scale.
    *
    * Falls back to the COW [[delete]] when the key set exceeds
    * [[AcidTable.MorMaxKeys]] or the PK type cannot round-trip a string
    * key. Keys with no live row commit nothing (a no-op returns the
    * current version) — absent-key entries would pin dead weight into
    * every later manifest.
    */
  def deleteVectored(keys: Seq[String]): Long = {
    import spark.implicits._
    deleteVectored(keys.toDF(pkCol))
  }

  def deleteVectored(keysWithPartitions: DataFrame): Long = {
    if (!keyCastSupported || !hashSafeInternal(schema(pkCol).dataType))
      return deleteCow(keysWithPartitions)
    // a caller-supplied partition column narrows the probe to its
    // partitions' segments (round 14): the hinted MOR point delete is
    // then flat in table size. Same contract as every partitionsHint —
    // sound only under stablePartitions, where a key's partition is a
    // pure function the caller's (pk, partition) pairs restate
    // The hint must cover EVERY key that stays in the probe: a (non-null
    // pk, NULL partition) row keeps its key but has no partition to
    // restate, so any null partition value voids the hint outright —
    // hinting around it would silently no-op that key's delete.
    val hint: Option[Seq[String]] =
      if (!stablePartitions || !keysWithPartitions.columns.contains(partitionCol)) None
      else scala.util.Try {
        val parts = keysWithPartitions.filter(col(pkCol).isNotNull)
          .select(col(partitionCol).cast(StringType)).distinct()
          .limit(4097).collect()
        if (parts.isEmpty || parts.length > 4096 || parts.exists(_.isNullAt(0))) None
        else Some(parts.map(_.getString(0)).toSeq)
      }.toOption.flatten
    val sel = keysWithPartitions.select(col(pkCol).cast(StringType).as("__k"))
      .na.drop().distinct().limit(AcidTable.MorMaxKeys + 1).collect()
    if (sel.length > AcidTable.MorMaxKeys) return deleteCow(keysWithPartitions)
    val keyStrings = sel.map(_.getString(0)).toSeq
    if (keyStrings.isEmpty) return latestVersion()
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema(pkCol).dataType)
    timeline.occ { base =>
      val baseView = timeline.rootView(base)
      // resolve the keys' LIVE cells against the DV-applied base snapshot:
      // a bucket-pruned scan (lookupFiles) whose result is ≤ |keys| rows.
      // Only keys that currently match a live row become entries. Driver
      // fast path first (round 14): the bloom/bucket-pruned probe files of
      // a point delete are metadata-scale, so the probe runs on the same
      // driver row kernels DML uses — a MOR delete is then zero Spark
      // jobs end-to-end; outside the gate the distributed probe runs.
      lazy val pairs = localLookupRowsIn(baseView, keyStrings, hint).map { rows =>
        rows.map(r => (rowPart(r),
          String.valueOf(r.get(pkFieldIdx, schema(pkFieldIdx).dataType)))).distinct
      }.getOrElse {
        applyDvs(snapshotFromFiles(lookupFilesIn(baseView, keyStrings, hint)), baseView.dvs)
          .filter(col(pkCol).cast(StringType).isInCollection(keyStrings))
          .select(col(partitionCol).cast(StringType), col(pkCol).cast(StringType))
          .collect().map(r => (r.getString(0), r.getString(1))).toSeq.distinct
      }
      // empty table, or no live row matches: no-op, no commit
      if (base < 0 || pairs.isEmpty) base
      else {
        val entries = pairs.map { case (p, k) =>
          DvEntry(p, dataFiles.driverBucketOf(toInternal(castKeyTo(k))), k)
        }
        // data files and sizes carry verbatim — this commit rewrites
        // nothing, so prior entries (even of our own cells) stay live.
        // Segmented base: EVERY root line reuses verbatim (round 14) —
        // a DV commit is O(matched keys) metadata however large the table
        publishDvOnly(base, baseView, entries)
        base + 1
      }
    }
  }

  /** Publish a DV-only commit on top of `base`: no data file changes, so
    * EVERY root line carries verbatim — the commit is O(matched keys)
    * metadata however large the table (round 14). */
  private def publishDvOnly(base: Long, baseView: RootView, entries: Seq[DvEntry]): Unit =
    publish(base + 1, Nil, entries.map(e => FileCell(e.part, e.bucket)).distinct, Map.empty,
      "DELETE_DV", (baseView.dvs ++ entries).distinct,
      reuseRootLines = baseView.refLines,
      rli = Indexes.RliInherit) // removal-only: refs AND completeness carry

  /** Predicate-driven deletion-vector commit: the merge-on-read route of
    * [[deleteWhere]]. Unlike the key-pinned [[deleteVectored]] (whose
    * semantics — delete THESE keys — are key-pinned by definition), the
    * predicate is re-evaluated against the CURRENT DV-applied snapshot on
    * EVERY OCC attempt, so a conflict retry sees concurrent updates the
    * same way the COW path's redo does. One snapshot-filter scan per
    * attempt — the same cost the COW redo pays.
    *
    * Returns None when this route cannot represent the delete (matched
    * set over [[AcidTable.MorMaxKeys]], or a matched NULL pk — DV entries
    * key by pk) — the caller falls back to copy-on-write.
    */
  private def deleteVectoredWhere(condition: Column): Option[Long] = {
    val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema(pkCol).dataType)
    timeline.occ { base =>
      val baseView = timeline.rootView(base)
      // matched rows ARE live rows of the current snapshot (DV-applied),
      // so one filtered scan yields the (partition, pk) pairs directly
      lazy val matched = applyDvs(snapshotFromFiles(baseView.entries), baseView.dvs)
        .filter(condition)
        .select(col(partitionCol).cast(StringType), col(pkCol).cast(StringType))
        .distinct().limit(AcidTable.MorMaxKeys + 1).collect()
      if (base < 0) Some(base) // empty table: nothing to delete
      else if (matched.length > AcidTable.MorMaxKeys) None
      else if (matched.exists(_.isNullAt(1))) None // NULL pk: only a rewrite removes it
      else if (matched.isEmpty) Some(base) // no live row matches: no-op, no commit
      else {
        val entries = matched.map { r =>
          val k = r.getString(1)
          DvEntry(r.getString(0), dataFiles.driverBucketOf(toInternal(castKeyTo(k))), k)
        }.toSeq.distinct
        publishDvOnly(base, baseView, entries)
        Some(base + 1)
      }
    }
  }

  /** Register the CURRENT snapshot as a temp view (reference A13 surface). */
  def registerView(name: String): Unit = snapshot().createOrReplaceTempView(name)

  /** Schema evolution: append new nullable columns. No data rewrite —
    * parquet files written before the evolution simply lack the columns,
    * and the snapshot scan (explicit schema) surfaces them as NULL, the
    * same add-column contract Delta/Hudi give. Returns the evolved table
    * handle (this handle keeps the old schema).
    */
  def addColumns(newFields: Seq[StructField]): AcidTable = {
    newFields.foreach { f =>
      require(!schema.fieldNames.contains(f.name), s"column ${f.name} already exists")
      // a re-added name would resolve BY NAME against pre-drop parquet
      // files and resurrect the old values instead of reading NULL —
      // breaking both the add-column contract (new column = NULL for old
      // rows) and the purge story (data believed removed reappears)
      require(!droppedCols.contains(f.name),
        s"column ${f.name} was dropped but its bytes may still live in data files; " +
          "run purgeDroppedColumns() (full rewrite) before re-adding the name")
    }
    val evolved = StructType(schema.fields ++ newFields.map(_.copy(nullable = true)))
    AcidTable.writeMeta(path, evolved, pkCol, partitionCol, precombineCol, stablePartitions,
      numBuckets, droppedCols, checkConstraints, renamedCols, columnDefaults)
    AcidTable.open(spark, path)
  }

  /** [[addColumns]] with column DEFAULT values (`ALTER TABLE … ADD COLUMN
    * c T DEFAULT lit`): rows that existed BEFORE the evolution read the
    * default — still metadata-only, no backfill rewrite. Spark's own
    * default-column analyzer validates each expression (must fold to a
    * literal of the column type; `ResolveDefaultColumns.analyze` is the
    * code path every DSv2 source uses), and the FOLDED literal's SQL is
    * what persists, so the read side re-parses a plain literal, never an
    * arbitrary expression. Post-evolution writes are unaffected: a
    * genuine NULL stays NULL (existence defaults fill only physically
    * absent columns). The driver fast path yields to the distributed
    * scan while defaults are live — its local reader is default-blind —
    * and [[purgeDroppedColumns]] (full rewrite) materializes values into
    * every file and clears the map, restoring it.
    */
  def addColumns(newFields: Seq[StructField], defaults: Map[String, String]): AcidTable = {
    defaults.keys.foreach(c => require(newFields.exists(_.name == c),
      s"DEFAULT given for a column not being added: $c"))
    val folded = defaults.map { case (c, d) =>
      val dt = newFields.find(_.name == c).get.dataType
      val e = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .analyze(c, dt, d, "ALTER TABLE ADD COLUMNS")
      c -> org.apache.spark.sql.catalyst.expressions.Literal.create(e.eval(), dt).sql
    }
    val evolved = addColumns(newFields)
    if (folded.isEmpty) evolved
    else {
      AcidTable.writeMeta(path, evolved.schema, pkCol, partitionCol, precombineCol,
        stablePartitions, numBuckets, droppedCols, checkConstraints, renamedCols,
        columnDefaults ++ folded)
      AcidTable.open(spark, path)
    }
  }

  /** Drop non-key columns — metadata-only, like [[addColumns]]: readers
    * stop projecting the columns immediately (the scan's explicit schema
    * simply no longer requests them; parquet clipping ignores the extra
    * on-disk fields), and new commits write files without them. The BYTES
    * remain in existing data files until their file groups are rewritten —
    * run [[compact]] after the drop for a physical purge (the GDPR-shaped
    * "column removal means the data is gone" requirement; spec-pinned by
    * `DropColumnSpec` reading the rewritten files' parquet schemas).
    * Schema is table-global (handle-scoped), as for addColumns: time
    * travel reads history through the CURRENT schema.
    */
  def dropColumns(names: Seq[String]): AcidTable = {
    names.foreach { n =>
      require(schema.fieldNames.contains(n), s"column $n does not exist")
      require(n != pkCol && n != partitionCol && !precombineCol.contains(n),
        s"cannot drop key/partition/precombine column '$n'")
    }
    val next = StructType(schema.fields.filterNot(f => names.contains(f.name)))
    // record the names in the meta ledger: re-adding one is blocked until
    // a physical purge rewrites every live file (see addColumns)
    // a constraint referencing a dropped column would fail every later
    // write's analysis — reject the drop while one depends on the name
    names.foreach { n =>
      checkConstraints.foreach { case (cn, ce) =>
        require(!referencedCols(ce).contains(n.toLowerCase),
          s"cannot drop column '$n': CHECK constraint '$cn' references it " +
            s"(DROP CONSTRAINT $cn first)")
      }
      // same guard for the always-validated stats/bloom properties: a
      // dangling reference would make every LATER commit throw
      requireNotStatsOrBloomColumn(n, "drop")
    }
    AcidTable.writeMeta(path, next, pkCol, partitionCol, precombineCol, stablePartitions,
      numBuckets, (droppedCols ++ names).distinct, checkConstraints, renamedCols,
      columnDefaults -- names)
    AcidTable.open(spark, path)
  }

  /** Reject DROP/RENAME of a column the `statsColumns`/`bloomColumns`
    * properties reference — mirroring the CHECK-constraint guard. The
    * properties are validated on every commit (post-publish for stats),
    * so a dangling name would turn each subsequent write into a throw
    * AFTER its commit became durable. Raw property read: the guard must
    * fire even if the property is already inconsistent for other reasons.
    */
  private def requireNotStatsOrBloomColumn(n: String, op: String): Unit =
    Seq("statsColumns", "bloomColumns").foreach { prop =>
      val listed = scala.util.Try(tableProperty(prop)).toOption.flatten
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
      require(!listed.contains(n),
        s"cannot $op column '$n': table property $prop references it " +
          s"(unset or edit $prop first)")
    }

  /** Physically purge dropped columns' bytes and clear the re-add ledger:
    * a full-table rewrite (`compact(0)` — every partition with a file
    * folds into fresh per-bucket files written WITHOUT the dropped
    * columns), then the meta ledger empties so the names become available
    * to [[addColumns]] again. The ledger clear happens strictly AFTER the
    * rewrite commit publishes — a crash in between leaves the ledger
    * conservative (re-add still blocked), never unsound. Multi-writer
    * caveat: a writer holding a pre-drop handle that commits after the
    * purge re-introduces the column's bytes — schema changes require the
    * same writer-coordination discipline as Delta/Hudi (handles should be
    * re-opened after evolution); the snapshot scan still never projects
    * such bytes unless the name is re-added.
    */
  def purgeDroppedColumns(): AcidTable = {
    if (droppedCols.nonEmpty || renamedCols.nonEmpty || columnDefaults.nonEmpty) compact(0)
    // the rewrite just materialized every default into every live file, so
    // the map clears with the ledgers — restoring the driver fast path
    AcidTable.writeMeta(path, schema, pkCol, partitionCol, precombineCol, stablePartitions,
      numBuckets, Nil, checkConstraints, Map.empty)
    AcidTable.open(spark, path)
  }

  /** Metadata-only column RENAME (Delta column-mapping semantics on a
    * name-based format): no data rewrite — the snapshot scan reads
    * current AND prior names and coalesces (a data file carries exactly
    * one of them), so a 100 TB table renames in one meta write. The costs
    * until a physical rewrite, both documented and bounded:
    * filter pushdown on the renamed column stays above the scan, and the
    * driver fast path yields to the distributed writer (its name-based
    * local reader can't coalesce). [[purgeDroppedColumns]] rewrites every
    * live file under the current names and clears the map, restoring
    * both. The old name joins the dropped-name ledger — re-adding it
    * before the purge would resurrect the renamed column's bytes.
    * Key/partition/precombine columns keep their structural names;
    * constraints referencing the old name must be dropped first (their
    * predicate text would silently stop matching).
    */
  def renameColumn(oldName: String, newName: String): AcidTable = {
    require(schema.fieldNames.contains(oldName), s"column $oldName does not exist")
    require(!schema.fieldNames.contains(newName), s"column $newName already exists")
    require(oldName != pkCol && oldName != partitionCol && !precombineCol.contains(oldName),
      s"cannot rename key/partition/precombine column '$oldName'")
    require(!droppedCols.contains(newName),
      s"column $newName was dropped/renamed-away but its bytes may still live in " +
        "data files; run purgeDroppedColumns() before reusing the name")
    checkConstraints.foreach { case (cn, ce) =>
      require(!referencedCols(ce).contains(oldName.toLowerCase),
        s"cannot rename column '$oldName': CHECK constraint '$cn' references it " +
          s"(DROP CONSTRAINT $cn first)")
    }
    requireNotStatsOrBloomColumn(oldName, "rename")
    // a renamed-and-defaulted column would let the coalescing scan's
    // current-name leg fill the DEFAULT for files that carry the value
    // under the prior name — the default would shadow real data. Loud
    // rejection until a purge materializes the default.
    require(!columnDefaults.contains(oldName),
      s"cannot rename column '$oldName' while its DEFAULT is metadata-only; " +
        "run purgeDroppedColumns() first")
    val next = StructType(schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    // the new name inherits the old name's whole alias chain (a→b→c reads
    // files carrying a OR b), and the old name's bytes block its reuse
    val priors = (oldName +: renamedCols.getOrElse(oldName, Nil)).distinct
    val nextRenames = (renamedCols - oldName) + (newName -> priors)
    AcidTable.writeMeta(path, next, pkCol, partitionCol, precombineCol, stablePartitions,
      numBuckets, (droppedCols :+ oldName).distinct, checkConstraints, nextRenames,
      columnDefaults)
    AcidTable.open(spark, path)
  }

  /** Metadata-only TYPE WIDENING (round 18c — the Delta 3.2 "type
    * widening" / Iceberg numeric-promotion surface): change a column's
    * type along a lossless-upcast edge with ZERO data rewrite. Files
    * written before the widen keep their narrow physical type; every
    * read path requests the widened logical schema and Spark's parquet
    * readers (vectorized and row-based, Spark 4's widening support)
    * upcast per file. Supported edges — exactly the set where every old
    * value maps to the same logical value under the new type:
    * byte→short/int/long, short→int/long, int→long, float→double, and
    * DECIMAL precision growth at the SAME scale (unscaled values carry
    * verbatim). Guard rails, each loud:
    *  - never the PK or partition column (bucket routing and partition
    *    directories derive from their rendered bytes — a type change
    *    would re-route existing keys), and not while the column is
    *    referenced by `statsColumns`/`bloomColumns` (their
    *    order-preserving long encodings are TYPE-specific: a float file
    *    envelope is meaningless in the double domain — drop the property
    *    first, widen, re-add to re-stamp),
    *  - not a column with outstanding renames/defaults in flight for the
    *    same name (one metadata surgery at a time; purge first).
    * CHECK constraints re-analyze against the widened schema on the next
    * write, and precombine comparisons upcast consistently.
    */
  def widenColumn(name: String, to: DataType): AcidTable = {
    require(schema.fieldNames.contains(name), s"column $name does not exist")
    val from = schema(name).dataType
    require(name != pkCol && name != partitionCol,
      s"cannot widen key/partition column '$name': bucket routing and partition " +
        "directories derive from its rendered bytes")
    requireNotStatsOrBloomColumn(name, "widen")
    require(!renamedCols.contains(name) && !columnDefaults.contains(name),
      s"cannot widen column '$name' while a rename alias chain or metadata-only " +
        "DEFAULT is outstanding for it; run purgeDroppedColumns() first")
    val ok = (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d1.scale == d2.scale && d2.precision > d1.precision &&
          d2.precision <= DecimalType.MAX_PRECISION
      case _ => false
    }
    require(ok, s"unsupported widening $from -> $to: only lossless upcasts " +
      "(byte/short/int up to long, float->double, decimal precision growth at " +
      "the same scale) are metadata-only")
    val next = StructType(schema.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f))
    AcidTable.writeMeta(path, next, pkCol, partitionCol, precombineCol, stablePartitions,
      numBuckets, droppedCols, checkConstraints, renamedCols, columnDefaults)
    AcidTable.open(spark, path)
  }

  /** Add a CHECK constraint (Delta's `ALTER TABLE … ADD CONSTRAINT name
    * CHECK (expr)` semantics): the predicate must be deterministic and
    * subquery-free, every EXISTING row must satisfy it (one validation
    * scan — rows where it evaluates FALSE; NULL passes, per SQL CHECK),
    * and every subsequent write on any path fails loudly if a written row
    * violates it. Enforcement is inline: the distributed writer evaluates
    * the predicate inside the write projection (zero extra jobs per
    * commit), the driver fast path through compiled interpreted row
    * predicates (zero Spark jobs) — a constraint costs nothing but the
    * predicate's evaluation over rows that were being written anyway.
    *
    * Enforcement is TABLE-level, not handle-scoped (round 10b): every
    * commit re-reads the constraint list from the meta, so a writer
    * holding a handle opened BEFORE the constraint was added still
    * enforces it on its next commit — one small properties read per
    * commit, the local analog of Delta reading table metadata per
    * transaction. Residual race (same as Delta): a commit IN FLIGHT while
    * the constraint's validation scan runs can land a violating row the
    * validation never saw. Spec-pinned in ConstraintSpec.
    */
  def addConstraint(name: String, predicateSql: String): AcidTable = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be alphanumeric: '$name'")
    val cur = liveConstraints()
    require(!cur.exists(_._1.equalsIgnoreCase(name)),
      s"constraint '$name' already exists")
    val c = expr(predicateSql)
    requireDeterministicCondition(c, s"ADD CONSTRAINT $name CHECK")
    val violations = snapshot().filter(!coalesce(c, lit(true))).limit(1).count()
    require(violations == 0,
      s"cannot add CHECK constraint '$name': existing rows violate ($predicateSql)")
    AcidTable.writeMeta(path, schema, pkCol, partitionCol, precombineCol, stablePartitions,
      numBuckets, droppedCols, cur :+ (name -> predicateSql), renamedCols, columnDefaults)
    AcidTable.open(spark, path)
  }

  def dropConstraint(name: String): AcidTable = {
    val cur = liveConstraints()
    require(cur.exists(_._1.equalsIgnoreCase(name)),
      s"no CHECK constraint named '$name'")
    AcidTable.writeMeta(path, schema, pkCol, partitionCol, precombineCol, stablePartitions,
      numBuckets, droppedCols, cur.filterNot(_._1.equalsIgnoreCase(name)),
      renamedCols, columnDefaults)
    AcidTable.open(spark, path)
  }

  /** Lower-cased column names a constraint predicate references (parsed,
    * unresolved — used to keep DROP COLUMN from orphaning a constraint). */
  private def referencedCols(predicateSql: String): Set[String] =
    // parse straight to the catalyst AST (functions.expr wraps the text in
    // a lazily-parsed column node that a tree collect would see as opaque)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parseExpression(predicateSql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last.toLowerCase
      }.toSet

  /** The TABLE's current CHECK constraints, re-read from the meta on
    * every commit — enforcement is table-level, not handle-scoped: a
    * writer holding a handle opened before `ALTER TABLE ADD CONSTRAINT`
    * still enforces the constraint on its next commit (Delta reads table
    * metadata per transaction the same way; here it is one small
    * properties read). Falls back to this handle's list only if the meta
    * vanishes mid-call (table being dropped — the commit will fail on the
    * manifest anyway).
    */
  private def liveConstraints(): Seq[(String, String)] =
    try AcidTable.readConstraints(path)
    catch { case _: java.io.IOException => checkConstraints }

  /** Interpreted CHECK predicates for the driver fast path (NULL passes —
    * coalesced to true), compiled per DISTINCT constraint list and cached.
    * None when any constraint can't compile to a row kernel; the fast
    * path is then ineligible and the distributed writer's inline guard
    * stays authoritative — enforcement is never skipped.
    */
  private val guardCacheRef = new java.util.concurrent.atomic.AtomicReference[
    (Seq[(String, String)],
      Option[Seq[(String, org.apache.spark.sql.catalyst.InternalRow => Boolean)]])](null)

  private def constraintGuardsFor(cs: Seq[(String, String)])
      : Option[Seq[(String, org.apache.spark.sql.catalyst.InternalRow => Boolean)]] = {
    val cached = guardCacheRef.get()
    if (cached != null && cached._1 == cs) cached._2
    else {
      val gs =
        if (cs.isEmpty) Some(Nil)
        else {
          val opts = cs.map { case (n, sqlE) =>
            driverPredicate(coalesce(expr(sqlE), lit(true))).map(n -> _)
          }
          if (opts.forall(_.isDefined)) Some(opts.flatten)
          else None
        }
      guardCacheRef.set((cs, gs))
      gs
    }
  }

  /** Live partition values of a snapshot, from manifest strings alone —
    * sorted, distinct, O(live files) string work, zero filesystem calls. */
  private[graft] def partitionValues(version: Long = -1L): Seq[String] = {
    val v = if (version >= 0) version else latestVersion()
    if (v < 0) return Nil
    // the partition inventory IS the root's reference list —
    // O(partitions) read, no segment resolution at all
    timeline.rootView(v).segRefs.map(r => dataFiles.partValue(r.partDir)).distinct.sorted
  }

  /** The `SHOW PARTITIONS` surface: one row per live partition value with
    * its live file count and manifest-recorded bytes — all from the
    * root's partition lines, so the inventory of a 100 TB
    * table costs one manifest read, never a listing or footer pass. */
  def partitionsInventory(version: Long = -1L): DataFrame = {
    val invSchema = StructType(Seq(
      StructField(partitionCol, StringType),
      StructField("num_files", org.apache.spark.sql.types.LongType),
      StructField("bytes", org.apache.spark.sql.types.LongType)))
    val v = if (version >= 0) version else latestVersion()
    if (v < 0) return spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], invSchema)
    // count and bytes ride the reference line — the whole inventory
    // costs ONE root read, zero segment resolutions
    val rows = timeline.rootView(v).segRefs
      .map(r => (dataFiles.partValue(r.partDir), r.count, r.bytes))
      .sortBy(_._1)
      .map { case (p, n, b) => Row(p, n, b) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), invSchema)
  }

  /** One-row table summary (the Delta `DESCRIBE DETAIL` analog): layout,
    * size, and structural metadata — all from the latest manifest and
    * `_meta.properties`, zero filesystem listing or data reads. */
  def detail(): DataFrame = {
    val detailSchema = AcidTable.DetailSchema
    val v = latestVersion()
    // the one-row summary costs ONE root read (no page expansion)
    val (nFiles, bytes, nParts) = timeline.rootView(v).totals
    // '; ' separator: property VALUES may contain commas (bloomColumns)
    val props = tableProperties.toSeq.sortBy(_._1)
      .map { case (k, pv) => s"$k=$pv" }.mkString("; ")
    spark.createDataFrame(java.util.Arrays.asList(
      Row("graft-acid", path, v, nFiles, bytes, nParts,
        pkCol, partitionCol, numBuckets.toLong, props)), detailSchema)
  }

  /** The timeline's content store (segments, pages, index runs), for
    * fault-injection checks of [[fsck]] and [[fsckRepair]]. */
  private[graft] def contentStoreDir: Path = Paths.get(timeline.storeDir)

  /** Metadata integrity check (the `FSCK TABLE` surface, round-14 verdict
    * #6): READ-ONLY walk of every retained root, reporting
    *
    *  - `dangling_segment_ref` — a root line references a segment file
    *    that no longer exists. This is the residual vacuum window's
    *    detectable signature (a publisher crashed between its root link
    *    and its post-link re-assert while a GC quarantine raced — see the
    *    quarantine-then-recheck notes in [[vacuum]]). Heal path:
    *    [[fsckRepair]] (content-addressed recovery from cache or
    *    quarantine), a re-commit of the affected partitions, or
    *    [[restore]] to an intact version.
    *  - `dangling_page_ref` — a PAGED root's `@@` reference names a page
    *    file that no longer exists (same race signature at the page
    *    layer). Same heal paths as a dangling segment.
    *  - `dangling_rli_ref` — a `#rli=` header names a record-index
    *    segment that no longer exists. Loses point-lookup pruning, never
    *    correctness (the index is consulted only when its completeness
    *    flag is set AND every ref resolves); heal: [[fsckRepair]] or
    *    [[rebuildRecordIndex]].
    *  - `unsupported_root_format` — a retained root fails the one format
    *    check every read applies (see [[Timeline.rootView]]): no
    *    readable version of this build can use it. Not repairable; heal:
    *    [[restore]] to an intact version.
    *  - `missing_root` — a root inside the retained window (newer than
    *    the oldest root on disk) is gone, so the version cannot be read.
    *    Not repairable; heal: [[restore]] to an intact version.
    *  - `stale_quarantine` — a `.gc-*` quarantine file older than
    *    `graceMs` (a GC crashed between quarantine and its delete/restore
    *    decision). Safe to delete once no root references its content;
    *    the next [[vacuum]] sweeps it, and [[fsckRepair]] first tries to
    *    match its CONTENT to a dangling ref (the quarantined bytes are
    *    content-addressed, so a hash match IS the missing file).
    *
    * Each dangling name is reported ONCE, attributed to the FIRST
    * retained version that references it (the `seen` set is keyed per
    * kind+name; later versions referencing the same content-addressed
    * name add no information).
    *
    * Cost: O(retained versions) root reads + O(distinct pages) page reads
    * + one segment-dir listing — the walk short-circuits by page ref
    * (content-addressed: a page seen under any version has identical seg
    * refs everywhere), so a long retained timeline over a mostly-static
    * paged table does NOT pay O(versions × live files). No data I/O, no
    * mutation. An empty result is the invariant every crash-free timeline
    * maintains.
    */
  def fsck(graceMs: Long = 20L * 60 * 1000): DataFrame = {
    import spark.implicits._
    findings(graceMs).map { case (k, v, n, d) => (k, v, n, d) }
      .toDF("kind", "version", "name", "detail")
  }

  private def findings(
      graceMs: Long): Seq[(String, Long, String, String)] = {
    val latest = latestVersion()
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, String, String)]
    if (latest >= 0) {
      val seenPages = scala.collection.mutable.Set.empty[String]
      val seenSegs = scala.collection.mutable.Set.empty[String]
      val seenRli = scala.collection.mutable.Set.empty[String]
      def checkSegLines(v: Long, lines: Seq[String]): Unit =
        lines.foreach { l =>
          val p = l.substring(1).split("\\|", -1)
          p.lift(1).filter(n => n.nonEmpty && seenSegs.add(n)).foreach { n =>
            if (!timeline.contentExists(n))
              out += (("dangling_segment_ref", v, n,
                java.net.URLDecoder.decode(p(0), "UTF-8")))
          }
        }
      // a version archived by a concurrent vacuum mid-walk has left the
      // retained window: nothing to check
      (timeline.oldestRetainedVersion(latest) to latest).foreach { v =>
        val view =
          try timeline.rootView(v)
          catch {
            case e: IllegalStateException =>
              out += (("unsupported_root_format", v, Timeline.manifestFileName(v), e.getMessage))
              RootView.Empty
            case _: java.nio.file.NoSuchFileException =>
              out += (("missing_root", v, Timeline.manifestFileName(v),
                "root missing inside the retained window; heal: restore to an intact version"))
              RootView.Empty
            case _: CommitConflictException => RootView.Empty
          }
        val raw = view.rawRefLines
        // page refs checked on the RAW root (a missing page must be
        // REPORTED, not abort the walk via a failed expansion); only
        // pages NOT seen under an earlier version are expanded — the
        // short-circuit that keeps fsck O(distinct pages), not
        // O(versions × files), on a paged timeline
        raw.filter(_.startsWith("@@")).foreach { l =>
          val n = RootView.pageName(l)
          if (n.nonEmpty && seenPages.add(n)) {
            if (!timeline.contentExists(n))
              out += (("dangling_page_ref", v, n,
                "paged root; heal: fsckRepair or restore to an intact version"))
            else checkSegLines(v, scala.util.Try(timeline.readPage(n)).toOption.toSeq.flatten
              .filter(l2 => l2.startsWith("@") && !l2.startsWith("@@")))
          }
        }
        checkSegLines(v, raw.filter(l => l.startsWith("@") && !l.startsWith("@@")))
        // the generation side file is checked FIRST and on the raw header
        // (a missing side file must be REPORTED, not abort the walk); run
        // checks then use the full expansion when it resolves, and the
        // INLINE tail when it does not — the expansion is skipped
        // entirely for a side file this walk just proved absent, so a
        // damaged table never pays the GC-race retry ladder per version
        var genMissingHere = false
        view.rli.gen.foreach { case (n, _) =>
          if (!timeline.contentExists(n)) {
            genMissingHere = true
            if (seenRli.add(n))
              out += (("dangling_rli_ref", v, n,
                "record index generation list; heal: fsckRepair or rebuildRecordIndex"))
          }
        }
        val refsToCheck =
          if (genMissingHere) view.rli.inline
          else scala.util.Try(indexes.rliRefsOf(view.rli)).getOrElse(view.rli.inline)
        refsToCheck.foreach { ref =>
          if (seenRli.add(ref.name) && !timeline.contentExists(ref.name))
            out += (("dangling_rli_ref", v, ref.name,
              "record index; heal: fsckRepair or rebuildRecordIndex"))
        }
      }
    }
    timeline.staleQuarantine(System.currentTimeMillis() - graceMs).foreach { n =>
      out += (("stale_quarantine", -1L, n,
        "quarantined by vacuum, never resolved; swept by the next vacuum"))
    }
    out.toSeq
  }

  /** `FSCK TABLE … REPAIR`: detect with the same walk [[fsck]] runs, then
    * HEAL what is recoverable — the read-only default stays untouched.
    * Per finding:
    *
    *  - dangling segment/page/rli ref whose BYTES are recoverable: the
    *    name is content-addressed (`…-<sha1 of body>`), so recovery
    *    re-materializes identical bytes — from the in-process content
    *    cache when the ref was read recently, else from a `.gc-*`
    *    quarantine file whose body hashes to the missing name (a GC that
    *    crashed between quarantine and restore left the bytes under a
    *    temp name). Action `repaired_from_cache` / `repaired_from_quarantine`.
    *  - stale quarantine past `graceMs` whose content no dangling ref
    *    claims: deleted (`swept`).
    *  - anything else: `unrecoverable` — reported loudly, never guessed
    *    at; the operator escalates to a partition re-commit,
    *    [[rebuildRecordIndex]], or [[restore]].
    *
    * Mutations are create-exclusive/atomic-rename only (the same
    * primitives the publish protocol uses), so a repair racing a live
    * publisher resolves exactly like a GC restore racing one.
    */
  def fsckRepair(graceMs: Long = 20L * 60 * 1000): DataFrame = {
    import spark.implicits._
    val found = findings(graceMs)
    // content of every stale quarantine, hashed once — the recovery pool
    val quarantine = timeline.quarantineByHash()
    def sha1OfName(n: String): String =
      n.stripSuffix(".txt").dropWhile(_ != '-').drop(1)
    val claimed = scala.collection.mutable.Set.empty[String]
    val repaired = found.map { case (kind, v, name, detail) =>
      val action = kind match {
        case "dangling_segment_ref" | "dangling_page_ref" | "dangling_rli_ref" =>
          timeline.cachedBody(name) match {
            case Some(body) if AcidTable.sha1Hex(body) == sha1OfName(name) =>
              timeline.writeContent(name, body)
              "repaired_from_cache"
            case _ => quarantine.get(sha1OfName(name)) match {
              case Some(q) =>
                claimed += q
                // false: neither we nor a racing publisher/GC restored it
                if (timeline.unquarantine(q, name)) "repaired_from_quarantine"
                else "unrecoverable"
              case None => "unrecoverable"
            }
          }
        case "stale_quarantine" =>
          // content claimed by a dangling ref above is MOVED, not swept;
          // everything else is a crashed GC's leftover past grace
          if (claimed.contains(name)) "repaired_from_quarantine"
          else { timeline.deleteContent(name); "swept" }
        case _ => "unrecoverable"
      }
      (kind, v, name, detail, action)
    }
    repaired.toDF("kind", "version", "name", "detail", "action")
  }

  /** Commit timeline (the `DESCRIBE HISTORY` / Hudi-timeline surface):
    * one row per RETAINED version — version, operation label (the `#op=`
    * audit header every publish writes), publish timestamp, live file
    * count, touched-cell count, and total data bytes. Metadata-only:
    * O(retained versions) manifest reads on the driver, bounded by
    * vacuum's timeline archival — never a data scan.
    */
  def history(): DataFrame = {
    import spark.implicits._
    val latest = latestVersion()
    val rows =
      if (latest < 0) Seq.empty
      else (timeline.oldestRetainedVersion(latest) to latest).map { v =>
        // header + per-partition tallies all live in the root: the whole
        // timeline costs O(retained versions) ROOT reads, no segments —
        // and on PAGED roots no page expansion either (the `@@` refs
        // carry (files, bytes) aggregates, round 15)
        val view = timeline.rootView(v)
        val (nFiles, bytes, _) = view.totals
        (v, view.op, view.ts, nFiles, view.touched.size.toLong, bytes)
      }
    rows.toDF("version", "operation", "timestamp_ms", "n_files", "n_touched_cells",
      "total_bytes")
  }

  /** Total live bytes of the pinned (default latest) snapshot, from
    * manifest metadata alone. */
  def liveBytes(version: Long = -1L): Long =
    timeline.rootView(if (version >= 0) version else latestVersion()).entries.iterator.map(_._2).sum

  /** CDC-style diff between two committed versions: every row added and
    * every row removed (an update appears as remove+insert of the two row
    * images). Consumers use this for incremental downstream processing
    * without re-reading the whole table — the lakehouse
    * incremental-query surface.
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame =
      explicitVersionRead(math.min(fromVersion, toVersion)) {
    val (fromFiles, toFiles, fromDvs, toDvs) = diffScope(fromVersion, toVersion)
    val from = applyDvs(snapshotFromFiles(fromFiles), fromDvs)
    val to = applyDvs(snapshotFromFiles(toFiles), toDvs)
    // ONE signed net aggregation instead of the former
    //   to.exceptAll(from) ∪ from.exceptAll(to):
    // Spark rewrites EACH exceptAll into its own union + count-aggregate +
    // replicate (RewriteExceptAll), so the old plan scanned both sides
    // TWICE and paid two aggregation exchanges. Netting signs in a single
    // aggregate is the identical multiset algebra — max(cnt_to−cnt_from,0)
    // inserts and max(cnt_from−cnt_to,0) deletes are |net| rows of
    // sign(net) — with each side scanned once and one exchange. Grouping
    // equality matches set-op equality (nulls equal, NaN equal, −0.0
    // normalized; map columns are invalid in both). At 100 TB this halves
    // the CDC read volume of every incremental consumer (matview folds,
    // the CDC stream source, signature maintenance).
    val cols = to.columns.map(col)
    to.withColumn("__cdc_sgn", lit(1L))
      .unionByName(from.withColumn("__cdc_sgn", lit(-1L)))
      .groupBy(cols: _*).agg(sum(col("__cdc_sgn")).as("__cdc_net"))
      .filter(col("__cdc_net") =!= 0L)
      .withColumn("_change_type",
        explode(array_repeat(
          when(col("__cdc_net") > 0, lit("insert")).otherwise(lit("delete")),
          abs(col("__cdc_net")).cast("int"))))
      .drop("__cdc_net")
  }

  /** The diff-relevant (file, recorded size) entries of each of two
    * versions, plus each version's DV entries. A partition whose SEGMENT
    * REF and DV entries are identical in both versions contributes
    * identical visible-row multisets to both sides — it is dropped
    * WITHOUT resolving its segment, so a trickle diff's metadata cost is
    * O(changed partitions), not O(live files). A MOR delete changes a
    * file's visible rows without changing its name, which is why DV
    * entries take part in both stability checks.
    *
    * Within the changed partitions the pruning is FILE-granular: a file
    * in BOTH versions with IDENTICAL applicable DV entries contributes
    * the same visible rows to both sides, and multiset difference cancels
    * shared rows — (U + A) exceptAll (U + B) == A exceptAll B — so it is
    * dropped from both sides with an exactly-equal result. Files are
    * immutable and uniquely named, so name identity IS content identity:
    * a small upsert's diff reads only its keys' cells' old and new files.
    */
  private def diffScope(fromVersion: Long, toVersion: Long)
      : (Seq[(String, Long)], Seq[(String, Long)], Seq[DvEntry], Seq[DvEntry]) = {
    val fromView = timeline.rootView(fromVersion)
    val toView = timeline.rootView(toVersion)
    val (fr, tr) = (fromView.segRefs, toView.segRefs)
    val (fromDvs, toDvs) = (fromView.dvs, toView.dvs)
    def byPd(dvs: Seq[DvEntry]): Map[String, Set[DvEntry]] =
      dvs.groupBy(e => dataFiles.partDir(e.part)).view.mapValues(_.toSet).toMap
    val fDv = byPd(fromDvs); val tDv = byPd(toDvs)
    val fByPd = fr.map(r => r.partDir -> r).toMap
    val tByPd = tr.map(r => r.partDir -> r).toMap
    val changed = (fByPd.keySet ++ tByPd.keySet).filter { pd =>
      fByPd.get(pd).map(_.name) != tByPd.get(pd).map(_.name) ||
        fDv.getOrElse(pd, Set.empty) != tDv.getOrElse(pd, Set.empty)
    }
    def scoped(refs: Seq[AcidTable.SegRef]): Seq[(String, Long)] =
      refs.filter(r => changed(r.partDir)).flatMap(r => timeline.readSegment(r.name).entries)
    val fe = scoped(fr); val te = scoped(tr)
    def applicableDvs(f: String, dvs: Seq[DvEntry]): Set[DvEntry] =
      dvs.filter(e => dataFiles.inCell(f, FileCell(e.part, e.bucket))).toSet
    val stable: Set[String] = (fe.map(_._1).toSet intersect te.map(_._1).toSet)
      .filter(f => applicableDvs(f, fromDvs) == applicableDvs(f, toDvs))
    (fe.filterNot(e => stable(e._1)), te.filterNot(e => stable(e._1)), fromDvs, toDvs)
  }

  /** Driver image of [[changesBetween]] for trickle-scale diffs (round-11
    * verdict #3, the matview fast-refresh path): the NET multiset diff
    * computed on the driver from the non-stable files' (cached) row
    * images — `(row, net)` with net > 0 for inserts and < 0 for deletes,
    * row in full table-schema order. None when the schema or the diff's
    * file set is outside the fast-path budget — the distributed
    * [[changesBetween]] stays authoritative.
    *
    * Equality for cancellation is the driver values' `equals` — STRICTER
    * than SQL equality for ±0.0 doubles and binary/nested values (those
    * use reference identity). Strictness is safe by linearity: a pair
    * that should have cancelled but didn't contributes +row and −row,
    * which nets to ZERO in any signed fold the consumer runs — never a
    * wrong result, only a no-op delta row.
    */
  /** `maxBytes` widens the driver budget for callers whose downstream is a
    * STREAMING aggregation (the matview fold: output bounded by group
    * count, not input bytes) — DML keeps the tight default, because its
    * output is a rewrite of the input. */
  private[lake] def localChangeRows(fromVersion: Long, toVersion: Long,
      maxBytes: Long = AcidTable.FastPathMaxBytes)
      : Option[Seq[(org.apache.spark.sql.catalyst.InternalRow, Int)]] = {
    if (!fastSchemaOk || !AcidTable.localCommitEnabled) return None
    val (fromDiff, toDiff, fromDvs, toDvs) = diffScope(fromVersion, toVersion)
    if (!driverScaleFiles(fromDiff ++ toDiff, maxBytes)) return None
    // value-equality key of a full row; byte arrays wrapped so content
    // (not identity) compares — everything else keeps its boxed equals
    def rowKey(r: org.apache.spark.sql.catalyst.InternalRow): IndexedSeq[Any] =
      (0 until schema.length).map { i =>
        r.get(i, schema(i).dataType) match {
          case b: Array[Byte] => b.toIndexedSeq
          case x => x
        }
      }
    val net = new java.util.LinkedHashMap[IndexedSeq[Any],
      (org.apache.spark.sql.catalyst.InternalRow, Int)]
    dataFiles.readRows(toDiff).filter(dvRowFilter(toDvs)).foreach { r =>
      val k = rowKey(r)
      val cur = net.get(k)
      net.put(k, if (cur == null) (r, 1) else (cur._1, cur._2 + 1))
    }
    dataFiles.readRows(fromDiff).filter(dvRowFilter(fromDvs)).foreach { r =>
      val k = rowKey(r)
      val cur = net.get(k)
      net.put(k, if (cur == null) (r, -1) else (cur._1, cur._2 - 1))
    }
    import scala.jdk.CollectionConverters._
    Some(net.values.asScala.toSeq.filter(_._2 != 0))
  }

  /** Driver image of [[lookup]]: the pinned snapshot's rows for `keys`,
    * in full table-schema order. None where [[lookup]] scans. */
  private[lake] def localLookupRows(
      keys: Seq[String], version: Long = -1L,
      partitionsHint: Option[Seq[String]] = None)
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
    localLookupRowsIn(timeline.rootView(if (version >= 0) version else latestVersion()),
      keys, partitionsHint)

  private def localLookupRowsIn(
      view: RootView, keys: Seq[String], partitionsHint: Option[Seq[String]])
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
    if (!driverLookupOk) None
    else localRowsOf(view, keys, lookupFilesIn(view, keys, partitionsHint))

  /** The driver lookup route's schema gate: the fast path's, plus keys
    * renderable in the PK's type. */
  private def driverLookupOk: Boolean =
    fastSchemaOk && AcidTable.localCommitEnabled && keyCastSupported

  /** `view`'s rows for `keys` in `files` (that view's [[lookupFilesIn]]),
    * read on the driver; None when the files exceed the fast-path budget.
    * A row matches by the same rule as [[lookup]]'s scan: its PK equals
    * one of the [[typedKeys]], so unparseable keys match nothing. */
  private def localRowsOf(view: RootView, keys: Seq[String], files: Seq[(String, Long)])
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
    if (!driverScaleFiles(files)) None
    else {
      val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(schema(pkCol).dataType)
      val ks: Set[Any] = typedKeys(keys).map(toInternal).toSet
      // the `#dvs=` entries are a header of the same view: listing them
      // never expands every partition's segment
      val visible = dvVisible(view.dvs)
      Some(dataFiles.readRowsWhere(files)((part, pk) => ks.contains(pk) && visible(part, pk)))
    }

  /** Compaction: rewrite partitions that have accumulated more than
    * `maxFilesPerPartition` small files into one file each — same content,
    * new version. The COW write path emits one file per touched partition
    * per commit, so long-running tables need this (at 100 TB this is the
    * background optimize job every lakehouse runs).
    *
    * With `clusterBy` (round 10 — the Delta `OPTIMIZE ZORDER BY` / Hudi
    * clustering analog), EVERY partition holding a file is rewritten with
    * its rows ordered by the clustering key — one integral column sorts
    * directly, two interleave into a Morton (Z-order) key — rolled into
    * `targetFileBytes`-sized PARTITION-SCOPE files, and each output
    * file's per-column min/max ranges are recorded in the table's
    * stats sidecar by the commit's one index pass, next to any
    * `statsColumns` ([[Indexes.forNewFiles]]). Consecutive files then cover tight,
    * near-disjoint key ranges, so a range predicate on EITHER clustered
    * column prunes the file list before any Spark plan exists
    * ([[Indexes.rangePrunedFiles]] / the catalog scan's range route) — the
    * mechanism that turns a 100 TB scan-with-predicate into a handful of
    * file groups. Trade-offs, stated: clustered files are bucketless, so
    * keyed commits into a clustered partition escalate to
    * whole-partition OCC scope until a plain `compact()` re-buckets it;
    * and Morton bits interleave the dims' low 16 bits, so locality (not
    * correctness — stats are true min/max) degrades for ranges wider
    * than 2^16.
    */
  /** Optional `partitions` scope (the Delta `OPTIMIZE … WHERE` analog):
    * only the named partition values are rewritten — folded
    * unconditionally (asking is the signal; the fragmentation threshold
    * is for the unscoped sweep), or cluster-rewritten when `clusterBy`
    * is set. At 100 TB maintenance runs partition-scoped by definition:
    * the hot ingest partitions compact daily while the cold ones are
    * never touched. */
  def compact(
      maxFilesPerPartition: Int = 4,
      clusterBy: Seq[String] = Nil,
      partitions: Option[Seq[String]] = None): Long = {
    clusterBy.foreach { c =>
      require(schema.fieldNames.contains(c), s"cluster column $c does not exist")
      require(c != partitionCol, "clustering on the partition column is redundant " +
        "(directory-level pruning already covers it)")
      require(integralType(schema(c).dataType),
        s"cluster column $c must be an integral type, got ${schema(c).dataType}")
    }
    require(clusterBy.size <= 2, "clusterBy supports one column (sort) or two (Morton)")
    // partitions holding outstanding MOR-delete entries get swept even
    // below the small-file threshold: compaction is the straggler
    // materializer for deletion vectors (read once before the loop — a
    // concurrent MOR delete landing mid-compaction keeps its entries,
    // correctly, via the carried-DV rule)
    val dvParts = timeline.rootView(latestVersion()).dvs.map(e => dataFiles.partDir(e.part)).toSet
    val v = commitLoop(
      touchedOf = (_, files) => {
        val byPartition = files().groupBy(e => dataFiles.dirOf(e._1))
        val inScope: String => Boolean = partitions match {
          case Some(ps) => ps.map(dataFiles.partDir).toSet.contains _
          case None => _ => true
        }
        val selected =
          if (clusterBy.nonEmpty) byPartition.keys.filter(inScope) // layout op
          else if (partitions.isDefined) byPartition.keys.filter(inScope)
          else byPartition.filter(kv =>
            kv._2.size > maxFilesPerPartition || dvParts.contains(kv._1)).keys
        selected
          .map(dataFiles.partValue)
          // whole-partition scope: compaction's point is folding the
          // partition's accumulated per-commit files; the plain rewrite
          // emits one file per NON-EMPTY BUCKET (the file-group layout
          // keyed commits rely on), so post-compaction a partition holds
          // at most numBuckets files, each still subject to
          // targetFileBytes; the clustered rewrite instead range-rolls
          // bucketless files in cluster-key order
          .map(FileCell(_, -1)).toSeq
      },
      // identity rewrite: same rows, re-laid-out.
      // The driver kernel is identity too — when the partitions being
      // folded fit the byte gate the whole compaction is a driver-side
      // read+rewrite (small tables); above it, the distributed rewrite.
      // A clustered rewrite always takes the distributed path (the sort
      // and size-rolling live in the write plan).
      outputBounded = true,
      localResultOf =
        if (clusterBy.nonEmpty) None
        else Some((rows: Seq[org.apache.spark.sql.catalyst.InternalRow]) => rows),
      resultOf = snapT => snapT,
      clusterBy = clusterBy,
      opName = if (clusterBy.nonEmpty) "CLUSTER" else "COMPACT",
      rebucket = clusterBy.isEmpty,
      rliCarry = true)
    v
  }

  private def integralType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
    case _ => false
  }

  /** The write-order key of a clustered rewrite: a single column sorts on
    * its value; two columns interleave their low 16 bits into a Morton
    * key (the q_layout_zorder construction, widened to 16 bits/dim).
    */
  private def clusterSortExpr(clusterBy: Seq[String])(c: String): Column =
    if (clusterBy.size == 1) col(c).cast("long")
    else {
      val dims = clusterBy.map(d => pmod(col(d).cast("long"), lit(1L << 16)))
      Seq.tabulate(16) { b =>
        dims.zipWithIndex.map { case (d, i) =>
          (shiftright(d, b) % 2) * lit(1L << (2 * b + i))
        }.reduce(_ + _)
      }.reduce(_ + _)
    }

  /** Encode a query-side bound value for `column` into the stats
    * sidecar's order-preserving long domain ([[Indexes.statsBound]]). */
  def statsBound(column: String, value: Any): Long = indexes.statsBound(column, value)

  /** Resolve the DSv2 BATCH scan plan for [[AcidScanBuilder]] — the
    * runtime-filterable read route (round-11 verdict #2). Applies the SAME
    * static pruning chain as the V1 route (point-lookup bucket files, or
    * partition + range + bloom + null-count pruning), pinned to one
    * version, and packages the driver-local narrowers a runtime DPP filter
    * applies with zero further metadata I/O.
    *
    * None only when the snapshot needs row-level post-processing the
    * batch reader cannot express: outstanding metadata-only renames (the
    * scan must read prior names and coalesce), or live deletion vectors
    * over a PK type [[castKeyTo]] cannot render (no such DV can be
    * COMMITTED today — MOR falls back to a rewrite for those types — so
    * this is pure defensiveness). Ordinary live DVs stay on the batch
    * route (round-13 verdict #2): each file carries the key set of the DV
    * entries applicable to ITS cell, and the reader factory hides those
    * rows — see [[org.apache.spark.sql.graft.AcidBatchScan]].
    */
  private[graft] def batchScanPlan(
      pkKeys: Option[Seq[String]],
      partitions: Option[Seq[String]],
      bounds: Map[String, (Long, Long)],
      bloomEqs: Seq[(String, Seq[Any])],
      nullChecks: Seq[(String, Boolean)],
      version: Long): Option[org.apache.spark.sql.graft.AcidBatchScanPlan] = {
    if (renamedCols.nonEmpty) return None
    val view = timeline.rootView(if (version >= 0) version else latestVersion())
    val dvs = view.dvs
    if (dvs.nonEmpty && (!keyCastSupported || pkCol == partitionCol)) return None
    val rels: Seq[(String, Long)] = pkKeys match {
      case Some(ks) =>
        AcidTable.lookupScans.incrementAndGet() // the point-lookup route
        lookupFilesIn(view, ks, partitions)
      case None => indexes.prunedFilesIn(view, bounds, bloomEqs, partitions, nullChecks)
    }
    // per-file applicable DV keys, as CATALYST-INTERNAL pk values: an
    // entry applies to every file of its cell ([[DataFiles.inCell]] — bucketless
    // files belong to every bucket of their partition, the standing
    // conservatism). Unparseable keys drop out exactly as in [[applyDvs]].
    val dvKeysFor: String => Array[Any] =
      if (dvs.isEmpty) _ => Array.empty
      else {
        val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToCatalystConverter(schema(pkCol).dataType)
        f => dvs.filter(e => dataFiles.inCell(f, FileCell(e.part, e.bucket)))
          .flatMap(e => scala.util.Try(castKeyTo(e.key)).toOption)
          .map(toInternal(_)).toArray
      }
    val files = rels.map { case (f, size) =>
      org.apache.spark.sql.graft.AcidBatchFile(f, dataFiles.abs(f).toString,
        dataFiles.partValue(f), size, dataFiles.bucketOf(f), dvKeysFor(f))
    }
    val pkDt = schema(pkCol).dataType
    val bucketsOf: Seq[Any] => Option[Set[Int]] =
      if (!hashSafeInternal(pkDt) || !keyCastSupported) _ => None
      else { vs =>
        scala.util.Try {
          val toInternal = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToCatalystConverter(pkDt)
          vs.map(k => dataFiles.driverBucketOf(toInternal(k))).toSet
        }.toOption
      }
    val tSource = scala.util.Try(partitionTransform).toOption.flatten.map(_.sourceCol)
    val tToParts: Seq[Any] => Option[Seq[String]] =
      vs => tSource.flatMap(s => transformPartitionsForEquals(s, vs))
    Some(org.apache.spark.sql.graft.AcidBatchScanPlan(
      files, pkCol, partitionCol, scanSchema, bucketsOf, tSource, tToParts))
  }

  /** Snapshot restricted by [[Indexes.prunedFiles]] — pure file skipping: the
    * caller still applies its row predicate, exactly like
    * [[snapshotRange]] (which this generalizes). */
  def snapshotPruned(
      bounds: Map[String, (Long, Long)],
      equals: Seq[(String, Seq[Any])],
      version: Long = -1L,
      partitions: Option[Seq[String]] = None,
      nullChecks: Seq[(String, Boolean)] = Nil): DataFrame = explicitVersionRead(version) {
    val view = timeline.rootView(if (version >= 0) version else latestVersion())
    applyDvs(snapshotFromFiles(indexes.prunedFilesIn(view, bounds, equals, partitions, nullChecks)),
      view.dvs)
  }

  // -------------------------------------- hidden-partition transposition --

  /** Partition values an equality/IN predicate on the transform's SOURCE
    * column can reach: each literal runs through the SAME transform
    * Column over a driver-local one-row-per-value relation (constant
    * folding — zero Spark jobs), so write side and probe side can never
    * disagree. None = no transform on that column or a value the
    * transform cannot evaluate (pruning declined, never wrong). */
  private[graft] def transformPartitionsForEquals(
      column: String, values: Seq[Any]): Option[Seq[String]] = {
    val t = partitionTransform.filter(_.sourceCol == column).getOrElse(return None)
    val nonNull = values.filter(_ != null)
    if (nonNull.isEmpty) return Some(Nil) // `src = NULL` reaches no partition
    scala.util.Try {
      val dt = schema(column).dataType
      val rows = nonNull.map(v => Row(v))
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
          StructType(Seq(StructField(column, dt))))
        .select(t.toColumn.as("p"))
        .collect().map(_.getString(0)).filter(_ != null).distinct.toSeq
    }.toOption
  }

  /** Partition values a CLOSED range on a time transform's source column
    * can reach: the enumerated period starts between the bounds, each
    * rendered through the same driver-local transform evaluation. Capped
    * at 4096 periods (a wider range keeps the full scan — declined, never
    * wrong); non-time transforms are not range-transposable. */
  private[graft] def transformPartitionsForRange(
      column: String, lo: Any, hi: Any): Option[Seq[String]] = {
    val t = partitionTransform match {
      case Some(tt: TimeTransform) if tt.sourceCol == column => tt
      case _ => return None
    }
    def toInstant(v: Any): Option[java.time.Instant] = v match {
      case ts: java.sql.Timestamp => Some(ts.toInstant)
      case i: java.time.Instant => Some(i)
      case d: java.sql.Date => Some(java.time.Instant.ofEpochMilli(d.getTime))
      case d: java.time.LocalDate =>
        Some(d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant)
      case _ => None
    }
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    (toInstant(lo), toInstant(hi)) match {
      case (Some(l), Some(h)) if !h.isBefore(l) =>
        val unit = t.unit
        var cur = java.time.ZonedDateTime.ofInstant(l, zone)
        cur = unit match {
          case "month" => cur.withDayOfMonth(1).truncatedTo(java.time.temporal.ChronoUnit.DAYS)
          case "day" => cur.truncatedTo(java.time.temporal.ChronoUnit.DAYS)
          case "hour" => cur.truncatedTo(java.time.temporal.ChronoUnit.HOURS)
        }
        val end = java.time.ZonedDateTime.ofInstant(h, zone)
        val starts = scala.collection.mutable.ArrayBuffer.empty[java.sql.Timestamp]
        while (!cur.isAfter(end) && starts.size <= 4096) {
          starts += java.sql.Timestamp.from(cur.toInstant)
          cur = unit match {
            case "month" => cur.plusMonths(1)
            case "day" => cur.plusDays(1)
            case "hour" => cur.plusHours(1)
          }
        }
        if (starts.size > 4096) None // too wide: pruning buys nothing, decline
        else {
          // render the period starts through the transform itself; a DATE
          // source column renders dates (month/day only — validated)
          val probes: Seq[Any] = schema(column).dataType match {
            case DateType => starts.toSeq.map(ts =>
              java.sql.Date.valueOf(ts.toInstant.atZone(zone).toLocalDate))
            case _ => starts.toSeq
          }
          transformPartitionsForEquals(column, probes)
        }
      case _ => None
    }
  }

  /** [[snapshotRange]] with bounds given as column-typed values (e.g.
    * `java.sql.Timestamp`, `java.math.BigDecimal`, `String`) instead of
    * pre-encoded longs. */
  def snapshotRangeValues(bounds: Map[String, (Any, Any)], version: Long = -1L): DataFrame =
    snapshotRange(
      bounds.map { case (c, (lo, hi)) => c -> (statsBound(c, lo), statsBound(c, hi)) },
      version)

  /** Snapshot restricted to files that can match the given per-column
    * closed ranges — the read face of clustered compaction. The caller
    * still applies its row predicate; this only shrinks the scanned file
    * list (exactly how partition pruning composes with a partition
    * filter).
    */
  def snapshotRange(bounds: Map[String, (Long, Long)], version: Long = -1L): DataFrame =
      explicitVersionRead(version) {
    val view = timeline.rootView(if (version >= 0) version else latestVersion())
    applyDvs(snapshotFromFiles(indexes.rangePrunedIn(view, bounds)), view.dvs)
  }

  /** Union of live data files over every on-disk manifest in
    * `[liveFrom, latest]`, derived from DISTINCT segment refs
    * (content-addressed: same name ⇒ same entries) —
    * O(versions × root lines + distinct segments), never
    * O(versions × live files). Failures stay LOUD: an unreadable root or
    * segment must abort the caller's sweep, not read as "references
    * nothing". Shared by [[vacuum]] (the deleting sweep) and
    * [[vacuumPreview]] (the read-only DRY RUN face) so the two can never
    * disagree on liveness.
    */
  private def liveDataFiles(liveFrom: Long, latest: Long): Set[String] = {
    val files = scala.collection.mutable.Set.empty[String]
    val seenSegs = scala.collection.mutable.Set.empty[String]
    (liveFrom to latest).foreach { v =>
      timeline.rootView(v).segRefs.iterator.map(_.name)
        .filter(n => n.nonEmpty && seenSegs.add(n))
        .foreach(n => timeline.readSegment(n).entries.foreach(files += _._1))
    }
    files.toSet
  }

  /** The versions a vacuum at `latest` archives: the retained prefix
    * below the `keepVersions` window, stopped at the first version that
    * is still inside the grace window or tagged.
    *
    * The age guard is the SUPERSESSION time — `v + 1`'s commit time, the
    * instant v stopped being latest — not v's own stamp: a version
    * created long ago but superseded a moment ago may still be some
    * process's resolved snapshot and must stay readable for the grace
    * window (found by the cross-process harness: keepVersions=2 at ~10
    * commits/s archived a writer's base mid-commit). Supersession times
    * are monotone in v, so stopping at the first young one preserves the
    * prefix property the conflict paths and oldestRetainedVersion rely
    * on. Tags pin the prefix the same way: archival stops at the oldest
    * tagged version (see the tag section — retaining a mid-timeline hole
    * would break the monotone-existence contract the binary searches
    * rely on), so a tagged snapshot stays readable by name regardless of
    * keepVersions. */
  private def archivable(latest: Long, keepVersions: Int, cutoff: Long): Seq[Long] = {
    val pinned = taggedVersions()
    (timeline.oldestRetainedVersion(latest) until math.max(0L, latest - keepVersions + 1))
      .takeWhile(v => timeline.rootView(v + 1).ts < cutoff && !pinned.contains(v))
  }

  /** Read-only preview of a `vacuum(keepVersions, graceMillis)` run — the
    * Delta `VACUUM … DRY RUN` face: one row per would-be-removed item
    * (`kind` = manifest | data), with bytes for data files, and NOTHING
    * touched on disk. Mirrors the deleting path exactly: the archival
    * candidate walk (same supersession-age guard, same tag-pin stop) and
    * the data-file rule (not in the post-archival live union, older than
    * the grace cutoff) share their code with [[vacuum]]. Scope matches
    * Delta's: data files and timeline archival; segment/page/index-run GC
    * follows the same liveness refs and is not separately listed.
    */
  def vacuumPreview(keepVersions: Int = 2, graceMillis: Long = 10 * 60 * 1000L): DataFrame = {
    import spark.implicits._
    val latest = latestVersion()
    if (latest < 0) return Seq.empty[(String, String, Long)].toDF("kind", "name", "bytes")
    val cutoff = System.currentTimeMillis() - graceMillis
    val archived = archivable(latest, keepVersions, cutoff)
    // liveness anchored where the REAL run would anchor it: the oldest
    // manifest that would remain on disk after the archival above
    val live = liveDataFiles(timeline.oldestRetainedVersion(latest) + archived.size, latest)
    val deadData = dataFiles.sweep(live, cutoff, delete = false)
      .map { case (rel, bytes) => ("data", rel, bytes) }
    val manifests = archived.map(v =>
      ("manifest", Timeline.manifestFileName(v), timeline.rootBytes(v)))
    (manifests ++ deadData).toDF("kind", "name", "bytes").orderBy("kind", "name")
  }

  /** Garbage-collect data files no manifest ≤ `keepVersions` back still
    * references. Readers pin a manifest, so only retire files beyond the
    * retention window (same contract as Delta/Hudi vacuum). `graceMillis`
    * additionally protects files newer than the window: a concurrent
    * writer's staged files sit in the data directories BEFORE its manifest
    * publishes, so an age guard is what makes vacuum safe to run next to
    * live commits (the same reason Delta's vacuum has a retention check).
    */
  def vacuum(keepVersions: Int = 2, graceMillis: Long = 10 * 60 * 1000L): Int = {
    val latest = latestVersion()
    if (latest < 0) return 0
    val cutoff = System.currentTimeMillis() - graceMillis
    // timeline archival runs FIRST (the Hudi-archive / Delta-log-retention
    // analog): manifests below the version-count window are pruned to keep
    // `_commits` bounded, and everything after this point treats "still on
    // disk" as the ONE definition of retained. Time travel below the
    // horizon then fails loudly instead of resolving against a gutted
    // manifest.
    archivable(latest, keepVersions, cutoff).foreach(timeline.archive)
    // ONE liveness anchor for every GC pass (data files, segments, pages,
    // index runs): the oldest manifest still ON DISK after archival — not
    // the version-count window. The grace window keeps superseded
    // manifests readable, so a process may legitimately be reading any of
    // them; anchoring liveness at keepFrom deleted segments a
    // still-on-disk manifest referenced (two dangling refs, found by the
    // cross-process harness's final fsck). With the anchor aligned, a
    // dereferenced file also survives as long as the youngest manifest
    // referencing it — the manifest IS the deletion tombstone, so grace
    // bounds reader exposure even for files whose own mtime is ancient.
    val liveFrom = timeline.oldestRetainedVersion(latest)
    // steady-state sweep is 8-way over PARTITION DIRECTORIES (round-16
    // verdict #4: the per-file listing + mtime probe + delete loop was
    // the single-threaded majority of the 3.2 s 500 k-file sweep)
    val removed = dataFiles.sweep(liveDataFiles(liveFrom, latest), cutoff, delete = true).size
    indexes.sweepBlooms(cutoff)
    // segment GC: content-addressed segments are shared across versions,
    // so one is dead only when NO retained manifest references it. The
    // same age guard protects a concurrent publisher's freshly-written
    // segments; publishImpl additionally re-asserts its segments after
    // its root links, so even a racing reuse-then-GC resolves safely.
    // seg liveness reads EXPANDED roots (paged roots list their seg
    // refs inside pages); page liveness reads RAW roots (`@@` refs) —
    // raw reads cannot fail on a missing page, so page GC stays sound
    // even against a root whose expansion would throw. An expansion (or
    // raw-read) FAILURE for a scanned version must not read as "that
    // version references nothing": one unreadable page would silently
    // drop the whole version's segment refs from the live set and let
    // the GC delete segments the root still needs — a dangling page
    // escalating to losing the version's metadata. The failure flag
    // ABORTS ref GC for this cycle instead (fsck reports the dangling
    // page for healing); data-file/temp sweeps above are unaffected.
    // one generation-expansion memo for ALL refsOf passes this cycle
    val genMemo =
      scala.collection.mutable.Map.empty[String, Option[Seq[Indexes.RliRef]]]
    def refsOf(vs: Iterator[Long]): (Set[String], Set[String], Boolean) = {
      val segs = scala.collection.mutable.Set.empty[String]
      val pgs = scala.collection.mutable.Set.empty[String]
      var ok = true
      vs.foreach { v =>
        scala.util.Try(timeline.rootView(v)) match {
          case scala.util.Success(view) =>
            view.rawRefLines.foreach { l =>
              if (l.startsWith("@@")) pgs += RootView.pageName(l)
            }
            // record-index runs share the segment GC (rli-/rlg-
            // prefixes, tracked in the PAGE set: all are
            // raw-root-header refs with identical liveness/quarantine
            // semantics). The generation SIDE FILE is live alongside
            // its members; an unreadable side file must abort ref GC
            // (treating it as "references nothing" would delete every
            // generation shard the root still needs). Expansion
            // failures are memoized per NAME for this pass — many
            // retained versions reference one generation, and a
            // missing file must not pay the retry ladder per version
            view.rli.gen match {
              case None => view.rli.inline.foreach(r => pgs += r.name)
              case Some((n, _)) =>
                pgs += n
                genMemo.getOrElseUpdate(n,
                  scala.util.Try(timeline.readRliGen(n)).toOption) match {
                  case Some(members) =>
                    (members ++ view.rli.inline).foreach(r => pgs += r.name)
                  case None =>
                    ok = false
                    view.rli.inline.foreach(r => pgs += r.name)
                }
            }
            scala.util.Try(view.segRefs) match {
              case scala.util.Success(refs) => refs.foreach(r => segs += r.name)
              case scala.util.Failure(_) => ok = false
            }
          case scala.util.Failure(_) => ok = false
        }
      }
      (segs.toSet, pgs.toSet, ok)
    }
    val (liveSegs, livePages, scanOk) = refsOf((liveFrom to latest).iterator)
    // re-read roots published AFTER our scan window right before the
    // delete pass: a publisher that reused a pre-cutoff segment has its
    // root visible by now (and its post-link re-assert TOUCHES the
    // segment, so even a root landing after this re-read is protected
    // by the age guard)
    val latestNow = latestVersion()
    val (lateSegs, latePages, lateOk) =
      if (latestNow <= latest) (Set.empty[String], Set.empty[String], true)
      else refsOf(((latest + 1) to latestNow).iterator)
    val allLive = liveSegs ++ lateSegs
    val allLivePages = livePages ++ latePages
    val refGcSafe = scanOk && lateOk
    def deadRef(name: String): Boolean =
      refGcSafe && (
        (name.startsWith("seg-") && !allLive.contains(name)) ||
          ((name.startsWith("page-") || name.startsWith("rli-") ||
            name.startsWith("rlg-")) &&
            !allLivePages.contains(name)))
    timeline.sweepStore(cutoff, deadRef, name => {
      // the recheck: roots linked since the scan above (an unreadable
      // late root acquits: restore rather than delete)
      val latestFinal = latestVersion()
      latestNow < latestFinal && {
        val (lateS, lateP, ok) = refsOf(((latestNow + 1) to latestFinal).iterator)
        !ok || (if (name.startsWith("page-") || name.startsWith("rli-") ||
                    name.startsWith("rlg-"))
                  lateP.contains(name)
                else lateS.contains(name))
      }
    })
    removed
  }

  /** Roll the table back to an earlier version as a NEW commit (the
    * Delta `RESTORE VERSION AS OF` / Hudi savepoint-restore analog): the
    * restored manifest's files are re-linked into a fresh version —
    * metadata-only, no data is copied or rewritten, and history after
    * `toVersion` stays intact for audit (restore is itself one more
    * commit, not a history rewrite).
    *
    * Conflict scope is deliberately WHOLE-TABLE (every partition present
    * in either the restored or the replaced state): restore invalidates
    * arbitrary concurrent work, so any racing commit must redo against
    * the post-restore snapshot rather than re-merge its cells on top.
    *
    * Fails loudly when the target's manifest was archived or any of its
    * data files were vacuumed — a restore that silently resurrected a
    * gutted manifest would publish a corrupt table.
    */
  def restore(toVersion: Long): Long = {
    require(toVersion >= 0, s"cannot restore to v$toVersion: no such version")
    val target =
      try timeline.rootView(toVersion)
      catch {
        // the read layer types a below-horizon manifest as a retriable
        // conflict (the archived-BASE race) — but restore names its
        // version EXPLICITLY, so "archived" is a terminal user error
        // here, not a stale snapshot to retry
        case _: java.nio.file.NoSuchFileException | _: CommitConflictException =>
          throw new IllegalArgumentException(
            s"cannot restore to v$toVersion: manifest missing (never existed or archived by vacuum)")
      }
    val files = target.files
    val missing = files.filterNot(dataFiles.exists)
    require(missing.isEmpty,
      s"cannot restore to v$toVersion: ${missing.size} data files vacuumed" +
        s" (first: ${missing.headOption.getOrElse("")})")
    timeline.occ { base =>
      require(toVersion <= base, s"restore target v$toVersion does not exist (latest: v$base)")
      val baseFiles = timeline.rootView(base).files
      val touched = (files ++ baseFiles).map(dataFiles.dirOf).distinct
        .map(d => FileCell(dataFiles.partValue(d), -1))
      // the restored state includes the target version's outstanding MOR
      // deletes — without them the restore would resurrect DV'd rows.
      // The record index follows the manifest: the TARGET version's refs
      // and completeness describe exactly the restored content (its runs
      // are live — the target is retained, so vacuum kept them)
      publish(base + 1, files, touched, target.sizes, "RESTORE", target.dvs,
        rli = Indexes.RliSet(indexes.rliRefsOf(target.rli), target.rli.done))
      base + 1
    }
  }

  /** Zero-copy snapshot clone — the SHALLOW CLONE surface (Delta's
    * `CREATE TABLE … SHALLOW CLONE src [VERSION AS OF n]`). The clone is a
    * fully independent [[AcidTable]] whose v0 manifest references the
    * pinned snapshot's data bytes WITHOUT copying them: every live file is
    * hard-linked into the clone's data root (the local-FS form of a
    * by-reference manifest — on an object store the same design records
    * absolute URIs; either way the clone costs O(files) metadata, not
    * O(bytes) data, which is what makes dev/test forks of a 100 TB table
    * instant). Divergence is free in both directions: writes to the clone
    * produce new files under the clone's root and never touch the source;
    * vacuum on either side unlinks only its own directory entries, and the
    * shared inodes survive until BOTH sides stop referencing them (link
    * count — the storage layer's reference count). The dropped-column
    * ledger and cluster statistics travel with the clone: the purge
    * obligation follows the bytes, and file-skipping keeps working on the
    * cloned layout. The recorded file sizes carry over, so the clone's
    * scans and commit sizing stat nothing.
    */
  def cloneTo(destPath: String, version: Long = -1L): AcidTable = {
    val v = if (version >= 0) version else latestVersion()
    AcidTable.create(spark, destPath, schema, pkCol, partitionCol, precombineCol,
      stablePartitions = stablePartitions, numBuckets = numBuckets)
    if (droppedCols.nonEmpty || checkConstraints.nonEmpty || renamedCols.nonEmpty ||
        columnDefaults.nonEmpty)
      AcidTable.writeMeta(destPath, schema, pkCol, partitionCol, precombineCol,
        stablePartitions, numBuckets, droppedCols, checkConstraints, renamedCols,
        columnDefaults)
    val dest = AcidTable.open(spark, destPath)
    if (v < 0) return dest // empty source → empty clone
    val srcView = timeline.rootView(v)
    val files = srcView.files
    // hard link = zero-copy shared inode; cross-filesystem clones (no
    // link support) degrade to a copy rather than failing
    dest.dataFiles.linkFrom(dataFiles, files)
    // blooms and stats travel verbatim (hard-linked segments, copied
    // sidecar): O(index bytes), not a per-file re-stamp — the round-18c
    // MetaScale branch leg measured the re-stamp at ~11 s of a 12.7 s
    // fork at 100 k files. A clone that skipped them would lose only
    // pruning, never correctness.
    indexes.copyTo(destPath)
    // free-form table properties travel too (Delta SHALLOW CLONE parity):
    // without this a clone of a morDeletes table silently reverts to
    // copy-on-write deletes and a statsColumns table stops stamping stats
    tableProperties.foreach { case (k, value) =>
      AcidTable.writeTableProperty(destPath, k, Some(value))
    }
    val touched = files.map(dataFiles.dirOf).distinct.map(d => FileCell(dataFiles.partValue(d), -1))
    // the record index travels with the pinned snapshot: its runs are
    // content-addressed files — copy the bytes, carry the refs + the
    // completeness flag of the CLONED version (round 16)
    val srcRli = indexes.rliRefsOf(srcView.rli)
    srcRli.foreach(r => dest.timeline.adopt(timeline, r.name))
    // outstanding MOR deletes travel with the pinned snapshot (inline
    // entries: nothing extra to link)
    dest.publish(0L, files, touched, srcView.sizes, "CLONE", srcView.dvs,
      rli = Indexes.RliSet(srcRli, srcView.rli.done))
    dest
  }

  // ---------------------------------------------------------------- branches --
  //
  // Named branches + write-audit-publish (round 18c) — the Iceberg
  // branch/WAP surface re-derived on the manifest design. A branch is a
  // zero-copy fork ([[cloneTo]]: hard-linked data, carried index/bloom/DV
  // state) living UNDER the table root at `_branches/<name>/`, sibling of
  // `data/` and `_commits/` so no scan, vacuum, or fsck walk ever visits
  // it. Writers stage arbitrary commits on the branch through the full
  // transactional surface (it IS an [[AcidTable]]); auditors query the
  // branch; [[publishBranch]] then fast-forwards main.
  //
  // Publish is a SINGLE squashed commit at forkVersion+1 rather than a
  // replay of the branch's commit chain: the manifest link is an atomic
  // create, so the squash makes publish a true CAS — either main adopts
  // the branch head in one durable step or a concurrent main commit wins
  // and the publish fails TYPED with main untouched. A chain replay would
  // expose a torn prefix to exactly the race WAP exists to prevent.
  // (Iceberg's cherry-pick squashes the staged snapshot the same way; its
  // fast_forward can move a pointer atomically only because all refs
  // share one metadata tree.) Cost is delta-bounded: untouched partitions'
  // root lines carry VERBATIM from the branch head (same content-addressed
  // segments main already holds), only changed partitions resolve, and
  // only the branch's NEW data files hard-link into main's data root.

  private def branchRoot(name: String): Path =
    Paths.get(path, AcidTable.BranchesDir, name)

  private def requireBranchName(name: String): Unit =
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"invalid branch name '$name' (use letters, digits, '.', '_', '-')")

  /** Fork a named branch from `version` (default: current latest). O(live
    * files) metadata — hard links + carried side state, no data copied. */
  def createBranch(name: String, version: Long = -1L): AcidTable = {
    requireBranchName(name)
    val root = branchRoot(name)
    require(!Files.exists(root), s"branch '$name' already exists on $path")
    val fork = if (version >= 0) version else latestVersion()
    val br = cloneTo(root.toString, fork)
    Files.write(root.resolve(AcidTable.BranchPropsFile),
      s"forkVersion=$fork\n".getBytes(StandardCharsets.UTF_8))
    br
  }

  /** Open an existing branch as a full transactional table handle. */
  def branch(name: String): AcidTable = {
    requireBranchName(name)
    require(Files.exists(branchRoot(name).resolve(AcidTable.BranchPropsFile)),
      s"unknown branch '$name' on $path")
    AcidTable.open(spark, branchRoot(name).toString)
  }

  /** (name, fork version) of every live branch, name-sorted. */
  def listBranches(): Seq[(String, Long)] = {
    val d = Paths.get(path, AcidTable.BranchesDir).toFile
    Option(d.list()).getOrElse(Array.empty).sorted.toSeq
      .filter(n => Files.exists(branchRoot(n).resolve(AcidTable.BranchPropsFile)))
      .map(n => n -> branchForkVersion(n))
  }

  /** Main-table version branch `name` forked from (its publish CAS target). */
  def branchForkVersion(name: String): Long = {
    val f = branchRoot(name).resolve(AcidTable.BranchPropsFile)
    new String(Files.readAllBytes(f), StandardCharsets.UTF_8).linesIterator
      .collectFirst { case l if l.startsWith("forkVersion=") =>
        l.stripPrefix("forkVersion=").trim.toLong }
      .getOrElse(throw new IllegalStateException(
        s"branch '$name' fork record corrupt at $f"))
  }

  /** Delete a branch (abandon its staged writes). Removes only the
    * branch's own directory entries: data inodes shared with main (or
    * already published) survive via link count, exactly the clone-vacuum
    * independence contract. */
  def dropBranch(name: String): Unit = {
    requireBranchName(name)
    val root = branchRoot(name)
    require(Files.exists(root), s"unknown branch '$name' on $path")
    DataFiles.deleteTree(root)
  }

  /** Fast-forward main to branch `name`'s head as ONE squashed commit at
    * forkVersion+1 (op `PUBLISH <name>`), then drop the branch (default).
    * Fails with a typed [[CommitConflictException]] — main untouched — if
    * ANY commit landed on main since the fork: WAP's contract is that the
    * audited bytes are exactly the published bytes, so there is nothing
    * sound to rebase onto. Schema/meta divergence on either side (ALTERs
    * don't publish manifests, so the CAS alone can't see them) is refused
    * loudly the same way. Cost: O(changed partitions) metadata +
    * O(new files) hard links, zero Spark jobs, no data copied. */
  def publishBranch(name: String, dropAfter: Boolean = true): Long = {
    val br = branch(name)
    val fork = branchForkVersion(name)
    val headB = br.latestVersion()
    // meta guard: both sides re-read from disk (ALTERs write meta without
    // a manifest commit, so neither the fork record nor the CAS sees them)
    def metaSig(t: AcidTable): String = Seq(
      t.schema.json, t.pkCol, t.partitionCol, t.precombineCol.toString,
      t.numBuckets.toString, t.stablePartitions.toString,
      t.droppedCols.sorted.mkString(","),
      t.checkConstraints.map(c => s"${c._1}=${c._2}").mkString(";"),
      t.renamedCols.toSeq.sortBy(_._1).map(r => s"${r._1}<-${r._2.mkString("|")}").mkString(";"),
      t.columnDefaults.toSeq.sorted.map(d => s"${d._1}=${d._2}").mkString(";"),
      t.tableProperties.toSeq.sorted.map(p => s"${p._1}=${p._2}").mkString(";")
    ).mkString("")
    val mainNow = AcidTable.open(spark, path)
    if (metaSig(mainNow) != metaSig(br))
      throw new CommitConflictException(
        s"branch '$name' publish refused: table metadata diverged since the fork " +
          s"(schema/constraint/property ALTERs cannot fast-forward; re-branch and " +
          s"re-stage, or apply the ALTER to both sides first) ($path)")
    if (headB <= 0 && headB == (if (fork < 0) -1L else 0L)) {
      // nothing staged beyond the fork snapshot: publish is a no-op
      if (dropAfter) dropBranch(name)
      return latestVersion()
    }
    val cur = latestVersion()
    if (cur != fork)
      throw new CommitConflictException(
        s"branch '$name' fast-forward failed: main advanced v$fork -> v$cur since " +
          s"the fork; the audited branch state no longer derives from main's head " +
          s"(drop and re-branch) ($path)")
    val head = br.timeline.rootView(headB)
    val forkView = timeline.rootView(fork)
    // delta vs the fork: a partition whose `@` line is byte-identical
    // (same content-addressed segment, same counts/stats) is untouched and
    // carries verbatim; everything else resolves through the branch's
    // segments.
    val bLines = head.refLines
    val mByDir = forkView.refLines.map(l => RootView.refLineDir(l) -> l).toMap
    val bByDir = bLines.map(l => RootView.refLineDir(l) -> l).toMap
    val reuse = bLines.filter(l => mByDir.get(RootView.refLineDir(l)).contains(l))
    val touchedDirs =
      ((bByDir.keySet ++ mByDir.keySet) -- reuse.map(RootView.refLineDir)).toSeq.sorted
    val entries = head.entriesFor(touchedDirs.toSet)
    val files = entries.map(_._1)
    val sizes = entries.toMap
    // DV-only branch deletes are metadata commits: the partition's segment
    // line stays byte-identical (carried verbatim) while the root's #dvs=
    // header changes — the touched set must still cover those partitions,
    // or a commit that loses the publish race could re-merge a rewrite of
    // them from the fork pre-image and resurrect the branch's deletes
    val forkDvs = forkView.dvs.toSet
    val headDvs = head.dvs.toSet
    val dvTouched = ((headDvs diff forkDvs) ++ (forkDvs diff headDvs))
      .map(e => FileCell(e.part, -1)).toSeq
    val touched = (touchedDirs.map(d => FileCell(dataFiles.partValue(d), -1)) ++ dvTouched).distinct
    // the branch's new data bytes enter main by hard link at the SAME
    // relative paths its manifest lines name (fork-inherited files already
    // share inodes with main and count as linked)
    dataFiles.linkFrom(br.dataFiles, files)
    // carried side state, all content-addressed / idempotent: record-index
    // runs, bloom filters for the published files, cluster statistics
    val bRli = br.indexes.rliRefsOf(head.rli)
    bRli.foreach(r => timeline.adopt(br.timeline, r.name))
    val conf = indexes.conf()
    val bNewStats = indexes.adopt(br.indexes, files, conf)
    try publish(fork + 1, files, touched, sizes, s"PUBLISH $name",
      head.dvs, newStats = bNewStats, reuseRootLines = reuse,
      rli = Indexes.RliSet(bRli, head.rli.done), conf = conf)
    catch {
      case _: FileAlreadyExistsException =>
        throw new CommitConflictException(
          s"branch '$name' fast-forward lost the publish race at v${fork + 1}: a " +
            s"concurrent commit landed on main; the audited state no longer derives " +
            s"from main's head (drop and re-branch) ($path)")
    }
    if (dropAfter) dropBranch(name)
    fork + 1
  }

  // -------------------------------------------------------------------- tags --
  //
  // Named immutable snapshot refs (round 18c, the Iceberg tag surface):
  // a tag is a name → version mapping in the timeline ([[Timeline.createTag]]) whose
  // target vacuum's timeline archival must RETAIN — "the exact corpus
  // snapshot run 1234 trained on" stays readable by name forever, not
  // just for keepVersions commits. Retention semantics on a LINEAR
  // timeline: archival only ever removes a PREFIX of manifests (the
  // monotone-existence contract oldestRetainedVersion's binary search
  // and every conflict path rely on), so a tag pins the timeline FROM
  // its version forward — the archival sweep stops at the oldest tagged
  // version. That is a deliberate trade-off, stated loudly: an ancient
  // tag keeps O(commits-since) small manifest files on disk (metadata,
  // never data rewrite), and dropping the tag releases them at the next
  // vacuum. Data-file liveness needs no special case — the sweep's
  // anchor is already "oldest manifest on disk", which the pin holds at
  // or below the tagged version.

  /** Tag `version` (default: current latest) as `name`. Tags are
    * immutable — re-tagging an existing name fails (drop it first) — and
    * purely numeric names are refused so `VERSION AS OF '<name>'` can
    * never be ambiguous with a version number. */
  def createTag(name: String, version: Long = -1L): Long = {
    requireBranchName(name)
    require(!name.forall(_.isDigit),
      s"invalid tag name '$name': purely numeric names are reserved for versions")
    val latest = latestVersion()
    val v = if (version >= 0) version else latest
    require(v >= 0, s"cannot tag an empty table ($path)")
    require(v <= latest, s"tag target v$v does not exist (latest: v$latest)")
    require(timeline.rootExists(v),
      s"cannot tag v$v: manifest archived by vacuum " +
        s"(oldest retained: v${timeline.oldestRetainedVersion(latest)})")
    timeline.createTag(name, v)
    // close the create-vs-archival race: a vacuum that read the tag set
    // just before this link may archive v concurrently — re-check and
    // withdraw the tag rather than leave a name pointing at a gutted
    // version
    if (!timeline.rootExists(v)) {
      timeline.dropTag(name)
      throw new IllegalArgumentException(
        s"cannot tag v$v: manifest archived by a concurrent vacuum ($path)")
    }
    v
  }

  /** Remove a tag; its pinned versions become archivable at the next
    * vacuum. */
  def dropTag(name: String): Unit = {
    require(timeline.dropTag(name), s"unknown tag '$name' on $path")
    ()
  }

  /** (name, version) of every live tag, name-sorted. */
  def listTags(): Seq[(String, Long)] =
    timeline.tagNames().sorted
      .flatMap(n => scala.util.Try(tagVersion(n)).toOption.map(n -> _))

  /** The version tag `name` pins. */
  def tagVersion(name: String): Long =
    try timeline.readTag(name)
    catch {
      case _: java.nio.file.NoSuchFileException =>
        throw new IllegalArgumentException(s"unknown tag '$name' on $path")
    }

  /** Snapshot read pinned at a tag — `snapshot(tagVersion(name))`. */
  def snapshotTag(name: String): DataFrame = snapshot(tagVersion(name))

  private[lake] def taggedVersions(): Set[Long] =
    timeline.tagNames()
      .flatMap(n => scala.util.Try(tagVersion(n)).toOption).toSet

  // ------------------------------------------------------------ internals --

  private def normalize(df: DataFrame): DataFrame = {
    // hidden partitioning: derive the partition value when the batch
    // omits the column entirely OR leaves it NULL (SQL partial inserts) —
    // provided non-NULL values pass through and the auto-CHECK constraint
    // rejects any that disagree with the transform
    val withPart = partitionTransform match {
      case Some(t) if !df.columns.contains(partitionCol) =>
        df.withColumn(partitionCol, t.toColumn)
      case Some(t) =>
        df.withColumn(partitionCol, coalesce(col(partitionCol), t.toColumn))
      case None => df
    }
    val missing = schema.fieldNames.filterNot(withPart.columns.contains)
    require(missing.isEmpty,
      s"batch is missing table columns ${missing.mkString(", ")} " +
        s"(table schema: ${schema.toDDL})")
    val projected = withPart.select(schema.fieldNames.map(col): _*)
    // TYPE enforcement (round 18c, surfaced by WidenColumnSpec): a batch
    // column whose type differs from the declared schema used to write
    // ITS OWN type into the data file — e.g. an uncast Scala BigDecimal
    // lands as decimal(38,18) under a decimal(10,2) schema — POISONING
    // the table: every later snapshot fails with a physical-type
    // mismatch. Lossless upcasts (incl. NullType literals) coerce
    // silently; anything lossy refuses loudly BEFORE a byte is written.
    val coerced = schema.fields.map { f =>
      val dt = projected.schema(f.name).dataType
      if (dt == f.dataType) col(f.name)
      else if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(dt, f.dataType))
        col(f.name).cast(f.dataType).as(f.name)
      else throw new IllegalArgumentException(
        s"batch column '${f.name}' has type ${dt.sql} but the table declares " +
          s"${f.dataType.sql} and the cast is not lossless; cast the batch explicitly")
    }
    projected.select(coerced.toSeq: _*)
  }

  /** Parsed hidden-partitioning transform (None = partition values are
    * caller-provided data, the classic layout). See [[PartitionTransform]]. */
  def partitionTransform: Option[PartitionTransform] =
    tableProperty("partitionTransform").map(PartitionTransform.parse)

  /** Intra-batch dedup: greatest precombine value wins per PK (§1.1).
    * Precombine ties are broken by the remaining columns (descending, in
    * schema order) so the surviving row is a deterministic function of the
    * batch CONTENTS — independent of partitioning or arrival order, which
    * is what makes the result reproducible at any scale.
    */
  private def precombine(df: DataFrame): DataFrame = precombineCol match {
    case None => df
    case Some(pc) =>
      val orderCols = pc +: schema.fieldNames.filterNot(f => f == pkCol || f == pc).toSeq
      localWinners(df, orderCols, groupNullPks = true).getOrElse {
        val w = Window.partitionBy(col(pkCol)).orderBy(orderCols.map(col(_).desc): _*)
        df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      }
  }

  /** Winner-per-PK dedup for a precombine-LESS merge source: greatest
    * remaining-columns tuple (schema order, descending) wins — the same
    * row windowMerge's `max(struct(<schema>))` picks for its update image,
    * so the dedup is invisible to the window formulation and makes the
    * join formulation agree with it. NULL-PK rows pass through untouched
    * (windowMerge inserts each of them individually; grouping them here
    * would change that contract).
    */
  private def dedupByPk(df: DataFrame): DataFrame = {
    val orderCols = schema.fieldNames.filterNot(_ == pkCol).toSeq
    localWinners(df, orderCols, groupNullPks = false).getOrElse {
      val w = Window.partitionBy(col(pkCol)).orderBy(orderCols.map(col(_).desc): _*)
      df.filter(col(pkCol).isNotNull)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
        .unionByName(df.filter(col(pkCol).isNull))
    }
  }

  /** Loud duplicate-PK guard for merge sources no deterministic winner
    * rule can order (map-typed columns, no precombine). Driver-local
    * batches are checked without a Spark job; distributed sources pay one
    * aggregate — merges of such schemas are the rare path.
    */
  private def requireUniquePks(df: DataFrame): Unit = {
    import org.apache.spark.sql.graft.PlanShim
    val hasDup = PlanShim.smallLocalRelation(df.select(pkCol), maxRows = 10000) match {
      case Some((attrs, rows)) if hashSafeInternal(attrs.head.dataType) =>
        val vals = rows.map(_.get(0, attrs.head.dataType)).filter(_ != null)
        vals.size != vals.distinct.size
      case _ =>
        df.filter(col(pkCol).isNotNull).groupBy(col(pkCol))
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count() > 0
    }
    require(!hasDup,
      s"merge source has duplicate values of PK '$pkCol' and the table has no " +
        "precombine column; with unorderable (map-typed) columns no deterministic " +
        "winner exists - deduplicate the source or declare a precombine column")
  }

  /** Driver-side winner-per-PK dedup for small `LocalRelation` batches:
    * greatest `orderCols` tuple (descending, in the given priority order)
    * wins per PK, computed over the batch's internal rows with Catalyst's
    * interpreted orderings instead of a Window plan node. A transactional
    * producer's batch is metadata-scale (the reference's is 3 records);
    * folding its dedup out of the distributed plan removes a shuffle and
    * two stages from EVERY commit job and shrinks the plan Catalyst
    * re-analyzes per commit. Distributed or large batches — and types with
    * no total order (maps) — fall back to the Window formulation.
    *
    * `groupNullPks`: precombine groups NULL PKs into one winner (the
    * Window's partitionBy semantics); the merge-source dedup lets each
    * NULL-PK row through untouched (windowMerge's insert contract).
    */
  private def localWinners(
      df: DataFrame, orderCols: Seq[String], groupNullPks: Boolean): Option[DataFrame] = {
    import org.apache.spark.sql.graft.PlanShim
    PlanShim.smallLocalRelation(df, maxRows = 10000).flatMap { case (attrs, rows) =>
      val names = attrs.map(_.name)
      val pkIdx = names.indexOf(pkCol)
      val keyIdxs = orderCols.map(names.indexOf)
      val orderings = keyIdxs.map(i =>
        if (i < 0) None else PlanShim.interpretedOrdering(attrs(i).dataType))
      // the PK dedup map below keys on boxed internal values — only sound
      // for types whose equals/hashCode IS SQL value equality (not binary
      // arrays, not float/double ±0.0/NaN)
      if (pkIdx < 0 || keyIdxs.exists(_ < 0) || orderings.exists(_.isEmpty)
          || !hashSafeInternal(attrs(pkIdx).dataType)) None
      else {
        val ords = orderings.map(_.get)
        val types = attrs.map(_.dataType)
        def better(a: org.apache.spark.sql.catalyst.InternalRow,
                   b: org.apache.spark.sql.catalyst.InternalRow): Boolean = {
          var k = 0
          while (k < keyIdxs.length) {
            val i = keyIdxs(k)
            val c = ords(k).compare(a.get(i, types(i)), b.get(i, types(i)))
            if (c != 0) return c > 0
            k += 1
          }
          false
        }
        val winners = new java.util.LinkedHashMap[Any, org.apache.spark.sql.catalyst.InternalRow]
        val nullPkRows = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.catalyst.InternalRow]
        rows.foreach { r =>
          val key = r.get(pkIdx, types(pkIdx))
          if (key == null && !groupNullPks) nullPkRows += r
          else {
            val cur = winners.get(key)
            if (cur == null || better(r, cur)) winners.put(key, r)
          }
        }
        import scala.jdk.CollectionConverters._
        Some(PlanShim.localRelationDf(spark, attrs,
          winners.values.asScala.toSeq ++ nullPkRows))
      }
    }
  }

  /** Cells a batch touches: its own rows' (partition, bucket) cells plus
    * the cells currently holding any matched PK (covers cross-partition
    * moves; reference workload never moves keys, §3.2 note). The matched
    * side can take BUCKET scope even without stable partitions: the
    * bucket is a pure function of the PK, so only a key's partition can
    * ever move, never its bucket.
    *
    * With `stablePartitions` (partition value a pure function of the PK,
    * the reference's contract — `TransactionGenerator.java:76`) the
    * matched rows can only live in the batch's own cells, so the snapshot
    * lookup job is skipped entirely; a DRIVER-LOCAL batch needs no Spark
    * job at all — partitions and buckets are read off the optimized plan
    * ([[DataFiles.driverBucketOf]] evaluates the same Murmur3 the executors would).
    * That job-free path is what bounds harness txn/s, and it subsumes the
    * partitions hint: the hint only still matters for DISTRIBUTED batches,
    * where it pins partition scope without a discovery job.
    */
  private def cellsBy(
      snap: DataFrame,
      batch: DataFrame,
      keys: DataFrame,
      hint: Option[Seq[String]]): Seq[FileCell] = {
    if (stablePartitions) {
      org.apache.spark.sql.graft.PlanShim
        .smallLocalRelation(batch.select(col(partitionCol), col(pkCol)), maxRows = 10000)
        .foreach { case (attrs, rows) =>
          val pdt = attrs.head.dataType
          return rows.map(r => FileCell(
            String.valueOf(r.get(0, pdt)),
            dataFiles.driverBucketOf(r.get(1, attrs(1).dataType)))).distinct
        }
    }
    hint match {
      case Some(parts) => parts.map(FileCell(_, -1))
      case None =>
        val own = batch.select(col(partitionCol).as("__p"), dataFiles.bucketExpr.as("__b"))
        if (stablePartitions)
          own.distinct().collect().map(r => FileCell(r.getString(0), r.getInt(1))).toSeq
        else {
          // matched keys may live in any PARTITION, but always in their
          // pk's bucket
          val matched = snap.join(keys, Seq(pkCol), "left_semi")
            .select(col(partitionCol).as("__p"), dataFiles.bucketExpr.as("__b"))
          own.union(matched).distinct().collect()
            .map(r => FileCell(r.getString(0), r.getInt(1))).toSeq
        }
    }
  }

  /** One OCC commit in two phases. `touchedOf(snap, manifestFiles)` names
    * the partition values the commit rewrites (consulting the full snapshot
    * only when it must discover matched keys); `resultOf(snapTouched)` maps
    * the TOUCHED-PARTITION SUBSET of the snapshot to its replacement
    * content. Only that subset is ever scanned — a commit's read cost is
    * proportional to what it rewrites, not to table size, which is the
    * property that lets the same code path run against a 100 TB table. It
    * also keeps the physical plan literal-free across commits (the file
    * list lives in the scan relation, not in an `isin(...)` filter), so
    * whole-stage codegen caches hit instead of recompiling per transaction.
    * Retries on publish conflict with a fresh snapshot (bounded, reference
    * retried ≤100, `TransactionWriter.java:108`).
    */
  /** Test hook: invoked once per commit immediately before the first
    * publish attempt — lets a spec deterministically interleave an
    * intervening commit to exercise the conflict paths. Production noop.
    */
  private[lake] var beforePublishHook: () => Unit = () => ()

  private def commitLoop(
      // (DV-applied base snapshot, the base's (file, recorded size) entries)
      touchedOf: (() => DataFrame, () => Seq[(String, Long)]) => Seq[FileCell],
      resultOf: DataFrame => DataFrame,
      globalScope: Boolean = false,
      outputBounded: Boolean = true,
      localResultOf: Option[Seq[org.apache.spark.sql.catalyst.InternalRow] =>
        Seq[org.apache.spark.sql.catalyst.InternalRow]] = None,
      // clustered compaction: order rows inside each written partition by
      // these columns' key, write every touched partition partition-scope
      // (bucketless) so size-rolling yields range-disjoint files, and
      // record the new files' per-file ranges of these columns
      clusterBy: Seq[String] = Nil,
      // audit label the publish stamps into the manifest (#op= header)
      opName: String = "WRITE",
      // plain compaction sets this: the rewrite covers its partitions
      // COMPLETELY, so the output takes the per-bucket file-group layout
      // even where the INPUT was bucketless — the one operation that can
      // fold a coarse (bulk-loaded / dense-commit) partition back into
      // keyed cells. Without it, expandForLegacy would mark the legacy
      // partition coarse and the coarseness would be permanent.
      rebucket: Boolean = false,
      // CAS mode: commit only at pinBase+1; any version race throws
      // CommitConflictException instead of re-merging (see casUpsertOp)
      pinBase: Option[Long] = None,
      // overwrite sets this: the commit REPLACES all table content, so
      // the record index is REPLACED too (RliSet) instead of appended —
      // prior entries describe dropped rows, and a complete rewrite is
      // complete-by-construction (arms the index on a legacy table)
      rliReplace: Boolean = false,
      // removal/rewrite-only commits (delete, compact) set this: no key
      // gains a NEW partition, so the index carries verbatim — refs AND
      // completeness — with zero maintenance cost (stale entries for
      // removed keys only ever add probe candidates)
      rliCarry: Boolean = false): Long = {
    val sortCols = clusterBy.map(clusterSortExpr(clusterBy))
    // driver fast-path eligibility for a given rewrite volume (see the
    // fast-path section): kernel available, schema safe, input bounded
    def fastEligible(bytes: Long): Boolean =
      localResultOf.isDefined && fastSchemaOk && AcidTable.localCommitEnabled &&
        bytes <= AcidTable.FastPathMaxBytes &&
        // a constraint the row kernel can't compile forces the distributed
        // path, where the inline raise_error guard enforces it (LIVE list:
        // the commit-time meta read, so stale handles still enforce)
        constraintGuardsFor(liveConstraints()).isDefined
    var attempt = 0
    // full-redo retry clock: set when a lost race forces the OUTER loop to
    // recompute everything; closed (and charged to conflictRedoNanos) at
    // the next publish success or the next conflict — so the telemetry
    // covers the recompute itself, not just the backoff (the partial-redo
    // branch recomputes inline and charges its own window)
    var fullRedoSince = -1L
    while (true) {
      val base = latestVersion()
      pinBase.foreach { p =>
        if (base != p) throw new CommitConflictException(
          s"CAS commit expected base v$p but table is at v$base ($path)")
      }
      // ONE view of the base for every read below. Its full file list is
      // LAZY (round 14): a cell-scoped commit never needs the table's
      // complete file list — the O(live-files) resolution is forced only
      // by discovery closures that genuinely scan the table (predicate
      // discovery, overwrite, compaction selection)
      val baseView = timeline.rootView(base)
      // outstanding MOR deletes: every pre-image this commit reads — the
      // discovery snapshot, the distributed rewrite input, the driver
      // fast-path rows — must be DV-applied, or a rewrite of a DV'd cell
      // would resurrect its deleted rows. Publishing then DROPS the
      // touched cells' entries (the rewrite materialized them). DV entries
      // are a root header — never a reason to expand the manifest.
      val baseDvs = baseView.dvs
      val rawCells = touchedOf(
        () => applyDvs(snapshotFromFiles(baseView.entries), baseDvs),
        () => baseView.entries)
      // cell-scoped metadata (round 14): resolve ONLY the touched
      // partitions' segments for everything downstream — the
      // legacy-expansion probe, the carry filter, input sizing, and the
      // fast-path pre-image. Commit metadata cost is then O(touched), not
      // O(live files).
      val scopedFiles = filesForPartitions(baseView, rawCells.map(_.part).distinct)
      // Dense distributed batches defeat the point of fine-grained cells:
      // a commit touching most of a partition's buckets conflicts with any
      // concurrent writer in that partition regardless of scope, yet pays
      // numBuckets× the output files (and every reader pays it again). So
      // a NON-metadata-scale commit covering ≥ half a partition's buckets
      // collapses that partition to whole-partition scope and writes ONE
      // sized file stream per partition (bucketless layout). Small
      // transactional commits — the concurrency case the cells exist
      // for — are outputBounded and never coarsen; an escalated-legacy
      // rewrite of a small commit re-buckets as before (self-healing), and
      // compaction's whole-partition cells stay out of `coarseParts`, so
      // it still folds partitions back INTO per-bucket file groups.
      val denseParts: Set[String] =
        if (outputBounded) Set.empty
        else rawCells.groupBy(_.part).collect {
          case (p, cs) if cs.count(_.bucket >= 0) >= math.max(2, (numBuckets + 1) / 2) => p
        }.toSet
      val (touched0, legacyParts) = expandForLegacy(
        rawCells.map(c => if (denseParts(c.part)) FileCell(c.part, -1) else c).distinct,
        scopedFiles)
      var touched = touched0
      val touchedFiles = scopedFiles.filter(f => touched.exists(c => dataFiles.inCell(f._1, c)))
      val coarseParts =
        if (clusterBy.nonEmpty) touched.map(_.part).toSet
        else if (rebucket) {
          // compaction BIN-PACKS small partitions (round 18, the
          // acid_scan_identity 2× fix): folding a tiny partition into
          // numBuckets file groups writes numBuckets near-empty parquet
          // files, and every subsequent scan pays numBuckets× the
          // open/footer cost — measured as the whole 0.26 s identity-pair
          // gap (512 × ~5 KB files vs stock's 16). A partition keeps the
          // keyed per-bucket layout only when its live bytes give each
          // bucket file at least [[AcidTable.CompactMinBucketFileBytes]];
          // below that it compacts to partition scope — one size-rolled
          // file stream, the Delta-OPTIMIZE bin-packing behavior. Keyed
          // commits on such a partition stay correct (a bucketless file
          // belongs to every bucket — the standing conservatism), and the
          // next compaction past the threshold re-buckets it.
          // one pass over touchedFiles (a 20 k-partition compact must not
          // pay O(partitions × files) membership filters)
          val bytesByDir = touchedFiles.groupBy(f => dataFiles.dirOf(f._1))
            .map { case (d, fs) => d -> inputBytes(fs) }
          touched.iterator.map(_.part).filter { p =>
            bytesByDir.getOrElse(dataFiles.partDir(p), 0L) <
              numBuckets.toLong * AcidTable.CompactMinBucketFileBytes
          }.toSet
        }
        else denseParts ++ legacyParts
      val inB = if (outputBounded) inputBytes(touchedFiles) else Long.MaxValue
      // whether the driver fast path wrote every new file: its files sit in
      // the row cache, so the index pass reads them with zero Spark jobs
      var fastPathRan = fastEligible(inB)
      // the index work for newFiles (stats, blooms, record-index delta),
      // memoized across publish retries and invalidated whenever newFiles
      // changes (a redo wrote different content; an orphaned delta run is
      // vacuum's); null = not yet computed
      var pending: Indexes.Pending = null
      var newFiles =
        if (fastPathRan)
          fastWriteTouched(
            localResultOf.get(dataFiles.readRows(touchedFiles).filter(dvRowFilter(baseDvs))),
            touched, coarseParts)
        else writeTouched(
          resultOf(applyDvs(snapshotFromFiles(touchedFiles), baseDvs)),
          touched, inB, coarseParts, sortCols)
      beforePublishHook()
      // inner publish loop: losing the version race does NOT force a full
      // recompute under `stablePartitions` (partition placement a pure
      // function of the PK — every operation is then PARTITION-LOCAL:
      // output partition p depends only on input partition p):
      //  - intervening commits all touched DISJOINT partitions → our
      //    rewritten contents are still exactly what the new snapshot
      //    requires; only the manifest merge is redone (re-merge);
      //  - intervening commits OVERLAP some touched partitions → only the
      //    overlapping partitions' outputs are stale; they are recomputed
      //    against the new snapshot while the disjoint partitions' staged
      //    files are kept (partial redo). The 60-txn telemetry that
      //    motivated this split showed ~40 of 60 conflicts were full
      //    redos rewriting every touched partition; partition-level
      //    conflict resolution is the move that makes multi-writer
      //    throughput scale with partition count instead of collapsing
      //    on a single version chain.
      // Without `stablePartitions` an intervening commit could have moved
      // one of our PKs into a partition we did not rewrite, so the whole
      // computation restarts from the outer loop.
      var publishBase = base
      // pre-publish fast-forward (round-10 verdict #7): commits that
      // landed while this one STAGED its files are detected here with one
      // metadata probe, instead of paying a doomed atomic publish +
      // conflict handling. Disjoint-cell intervenors re-link the base
      // silently (same soundness argument as the remerge path — our
      // staged contents are exactly what the new snapshot needs); any
      // overlap falls through and the publish loop's conflict machinery
      // resolves it as before.
      if (stablePartitions && !globalScope && pinBase.isEmpty) {
        val fresh = latestVersion()
        if (fresh > base) {
          val interveningSets = ((base + 1) to fresh).map(readTouched)
          val intervening: Set[FileCell] =
            if (interveningSets.exists(_.isEmpty)) touched.toSet
            else interveningSets.flatten.flatten.toSet
          if (!touched.exists(t => intervening.exists(cellsOverlap(t, _)))) {
            AcidTable.fastForwardCounter.incrementAndGet()
            publishBase = fresh
          }
        }
      }
      var done = false
      while (!done) {
        try {
          // DV entries of cells this commit rewrote are materialized (the
          // rewrite read the DV-applied pre-image); entries of untouched
          // cells carry forward — including any a concurrent MOR delete
          // added since our base (its cells are disjoint, or we'd have
          // taken the conflict path)
          val pubView = timeline.rootView(publishBase)
          val carriedDvs = pubView.dvs.filterNot(e =>
            touched.exists(c => c.part == e.part && (c.bucket < 0 || c.bucket == e.bucket)))
          // the new files' indexes, in one pass BEFORE publish: the
          // manifest's partition envelopes cover the new files from the
          // commit that wrote them, and a misconfigured property aborts
          // the write instead of throwing after it durably landed
          if (pending == null) {
            val p = indexes.forNewFiles(newFiles, fastPathRan, indexKeys = !rliCarry, clusterBy)
            pending = if (!rliReplace) p else p.copy(rli = p.rli match {
              case Indexes.RliAppend(refs) => Indexes.RliSet(refs, done = true)
              case Indexes.RliInherit => Indexes.RliSet(Nil, done = true)
              case other => other // RliAuto: unrenderable rows stay unindexed
            })
          }
          // untouched partitions' root lines carry VERBATIM (their
          // segments are pinned byte-identical), so the publish touches
          // only its partitions' segments — commit metadata work is
          // O(touched partitions), not O(live files). Carried files keep
          // the sizes their segments recorded; new files' sizes were
          // captured at the staging move — the next reader's commit
          // sizing needs no filesystem stats at all
          val tParts = touched.map(_.part).distinct
          val tPds = tParts
            .map(p => java.net.URLEncoder.encode(dataFiles.partDir(p), "UTF-8")).toSet
          val reuse = pubView.refLines.filterNot(l => tPds.contains(RootView.encodedDir(l)))
          val carried = filesForPartitions(pubView, tParts)
            .filterNot(f => touched.exists(c => dataFiles.inCell(f._1, c)))
          publish(publishBase + 1, (carried ++ newFiles).map(_._1), touched,
            (carried ++ newFiles).toMap, opName, carriedDvs, pending.stats, reuse,
            rli = pending.rli, conf = pending.conf)
          if (fullRedoSince > 0)
            AcidTable.conflictRedoNanos.addAndGet(System.nanoTime() - fullRedoSince)
          // the sidecar merge and the bloom segment stay post-publish —
          // both advisory (a file without an entry is never pruned), so a
          // crash between publish and here costs pruning, never correctness
          indexes.land(pending)
          return publishBase + 1
        } catch {
          case _: FileAlreadyExistsException =>
            if (pinBase.isDefined) {
              // CAS mode: losing the version race IS the signal — the
              // caller's fold was computed from the pinned base and must
              // not be re-merged onto someone else's commit
              dataFiles.discard(newFiles.map(_._1))
              throw new CommitConflictException(
                s"CAS commit lost the race at v${publishBase + 1} ($path)")
            }
            attempt += 1
            timeline.checkRetryBudget(attempt)
            // a conflict streak can hold staged files unpublished past the
            // GC age guard — staged files are referenced by NO manifest
            // yet, so their mtime is their only protection from a
            // concurrent vacuum (found by the cross-process harness: a
            // stalled writer's staged file aged past grace, was GC'd, then
            // its manifest linked referencing the deleted file). Refresh
            // their mtimes on every retry — the touch-on-reuse protocol
            // segments already use — so grace bounds ABANDONED-file age,
            // not in-flight commit duration. A FALSE return on a file
            // that no longer exists means a GC already reaped it (this
            // attempt outlived the grace window): the staged output is
            // unpublishable — force the FULL-redo branch below rather
            // than link a manifest with a dangling data-file reference.
            val staleStaged = !dataFiles.touch(newFiles.map(_._1))
            // retry-latency telemetry (round-7 verdict #8): time from
            // losing the race to being ready for the next publish attempt,
            // attributed to the conflict class taken below — INCLUDING the
            // jittered backoff, which is real wall time a conflicted txn
            // spends. This is what tells whether re-merge latency (cheap
            // path, high count) or redo work bounds txn/s.
            val tRetry = System.nanoTime()
            if (fullRedoSince > 0) {
              // the previous conflict's full-redo window ends here
              AcidTable.conflictRedoNanos.addAndGet(tRetry - fullRedoSince)
              fullRedoSince = -1L
            }
            // the backoff is applied per conflict CLASS below — a
            // disjoint-cell re-merge retries immediately
            val newBase = latestVersion()
            if (stablePartitions && !globalScope && !staleStaged) {
              // an intervening manifest with no #touched header has an
              // UNKNOWN touched set — treat it as overlapping everything
              val interveningSets = ((publishBase + 1) to newBase).map(readTouched)
              val intervening: Set[FileCell] =
                if (interveningSets.exists(_.isEmpty)) touched.toSet
                else interveningSets.flatten.flatten.toSet
              val overlap0 = touched.filter(t => intervening.exists(cellsOverlap(t, _)))
              if (overlap0.isEmpty) {
                // disjoint-cell loss: nothing of ours is stale — re-link
                // the manifests and retry IMMEDIATELY (round-10 verdict
                // #7: the unconditional pre-check nap charged every
                // disjoint-key conflict 1-3 ms for a merge that needs no
                // rethinking). The backoff still arms on a losing STREAK,
                // where it prevents starvation behind a faster peer.
                if (attempt > 3) Timeline.backoff(attempt)
                AcidTable.conflictRemergeCounter.incrementAndGet()
                AcidTable.conflictRemergeNanos.addAndGet(System.nanoTime() - tRetry)
                publishBase = newBase // fast path: re-merge manifests only
              } else {
                Timeline.backoff(attempt)
                AcidTable.conflictRedoCounter.incrementAndGet()
                // partial redo: drop only the stale (overlapping) cells'
                // staged files and recompute THEM against the new
                // snapshot; staged files of non-overlapping touched cells
                // remain valid and are carried into the next publish
                // attempt
                val newBaseView = timeline.rootView(newBase)
                val newSnapAll = newBaseView.entries
                // an intervening commit may have introduced bucketless
                // files (older build) into an overlap partition — the
                // redo of that partition must then take whole-partition
                // scope, exactly like the outer loop's expansion
                val (overlap, overlapLegacy) = expandForLegacy(overlap0, newSnapAll)
                val (staleFiles, keptFiles) = newFiles.partition(f =>
                  overlap.exists(c => dataFiles.inCell(f._1, c)))
                dataFiles.discard(staleFiles.map(_._1))
                val newSnapFiles = newSnapAll
                  .filter(f => overlap.exists(c => dataFiles.inCell(f._1, c)))
                // resultOf may emit rows outside the recomputed subset
                // (e.g. a merge's not-matched inserts for other cells) —
                // restrict to the overlap cells; the non-overlap rows are
                // already covered by keptFiles
                val redoInB =
                  if (outputBounded) inputBytes(newSnapFiles)
                  else Long.MaxValue
                val redoCoarse =
                  (coarseParts ++ overlapLegacy).intersect(overlap.map(_.part).toSet)
                // the new base may carry DV entries (an intervening MOR
                // delete on our cells is exactly an overlap) — the redo's
                // pre-image applies them like the outer loop's does
                val redoDvs = newBaseView.dvs
                val redoFast = fastEligible(redoInB)
                val redoneFiles =
                  if (redoFast)
                    fastWriteTouched(
                      localResultOf.get(
                        dataFiles.readRows(newSnapFiles).filter(dvRowFilter(redoDvs)))
                        .filter(rowInCells(overlap)),
                      overlap, redoCoarse)
                  else writeTouched(
                    resultOf(applyDvs(
                      snapshotFromFiles(newSnapFiles), redoDvs))
                      .filter(cellFilter(overlap)),
                    overlap, redoInB, redoCoarse, sortCols)
                newFiles = keptFiles ++ redoneFiles
                fastPathRan &&= redoFast
                pending = null
                // a legacy expansion widened the rewrite beyond the
                // original touched set — the published #touched and the
                // carried-file exclusion must widen with it
                touched = expandForLegacy(
                  (touched.filterNot(t => overlap.exists(o =>
                    o.part == t.part && o.bucket < 0)) ++ overlap).distinct, Nil)._1
                publishBase = newBase
                AcidTable.conflictRedoNanos.addAndGet(System.nanoTime() - tRetry)
              }
            } else {
              Timeline.backoff(attempt)
              AcidTable.conflictRedoCounter.incrementAndGet()
              // full redo: drop our orphaned files, re-apply on the new
              // snapshot. The clock stays open across the outer-loop
              // recompute (see fullRedoSince) — charging only the backoff
              // here would understate exactly the most expensive class
              dataFiles.discard(newFiles.map(_._1))
              fullRedoSince = tRetry
              done = true
            }
        }
      }
    }
    -1L // unreachable
  }

  // ------------------------------------------------- file-group (cell) scope --
  //
  // Conflict granularity is the CELL — (partition value, hash(pk) % numBuckets)
  // — the same file-group idea Hudi keys its upserts by. Every keyed operation
  // is cell-local (bucket is a pure function of the PK), so two commits whose
  // key sets are disjoint usually touch disjoint cells and resolve a lost
  // publish race with a manifest re-merge instead of recomputing: with
  // partition-scope detection the reference-parity workload (4 partitions,
  // disjoint keys by construction) redid ~50% of its commits; cell scope is
  // what makes multi-writer throughput track key collisions, not partition
  // collisions. `bucket == -1` means the whole partition (global operations,
  // and legacy files written before bucketing — see [[DataFiles.inCell]]).

  private def cellsOverlap(a: FileCell, b: FileCell): Boolean =
    a.part == b.part && (a.bucket < 0 || b.bucket < 0 || a.bucket == b.bucket)

  /** Rows belonging to any of `cells` — the redo-path restriction filter.
    * Bucket cells compare [[DataFiles.bucketExpr]]; whole-partition cells need only
    * the partition value.
    */
  private def cellFilter(cells: Seq[FileCell]): Column = {
    val (whole, bucketed) = cells.partition(_.bucket < 0)
    val parts = whole.map(_.part).distinct
    val byPart = bucketed.groupBy(_.part).toSeq
    val conds =
      (if (parts.isEmpty) Nil else Seq(col(partitionCol).isin(parts: _*))) ++
        byPart.map { case (p, cs) =>
          col(partitionCol) === p && dataFiles.bucketExpr.isin(cs.map(_.bucket): _*)
        }
    conds.reduceOption(_ || _).getOrElse(lit(false))
  }

  /** A cell set is only sound against a file list with no bucketless files
    * in its partitions: removing a bucketless file from the manifest while
    * rewriting one bucket would drop the file's OTHER buckets' rows. Any
    * partition holding such a file escalates to whole-partition scope.
    *
    * The second component names the partitions escalated BECAUSE of
    * existing bucketless files (as opposed to cells the caller already
    * declared whole-partition). Their rewrites KEEP the bucketless layout:
    * a partition that went coarse under a dense commit is typically fed by
    * dense commits, and bouncing it back to numBuckets files on every
    * interleaved small write churns tiny files for OCC granularity the
    * workload isn't using. Restoring per-bucket file groups is
    * [[compact]]'s job — its cells are intrinsically whole-partition, not
    * legacy-escalated, so it still folds partitions INTO bucketed layout.
    */
  private def expandForLegacy(
      cells: Seq[FileCell], files: Seq[(String, Long)]): (Seq[FileCell], Set[String]) = {
    val grouped = cells.groupBy(_.part).map { case (p, pc) =>
      val fromFiles = files.exists { case (f, _) =>
        f.startsWith(dataFiles.partDir(p) + "/") && dataFiles.bucketOf(f).isEmpty
      }
      val legacy = fromFiles || pc.exists(_.bucket < 0)
      (p, if (legacy) Seq(FileCell(p, -1)) else pc.distinct, fromFiles)
    }
    (grouped.flatMap(_._2).toSeq, grouped.collect { case (p, _, true) => p }.toSet)
  }

  /** Sum of the recorded sizes of `files` — the scan volume a commit's
    * rewrite will read. Sizes come from the manifest's segments (recorded
    * at publish), so commit sizing costs ZERO filesystem calls, which is
    * what makes it free on an object store.
    */
  private def inputBytes(files: Seq[(String, Long)]): Long = {
    var sum = 0L
    files.foreach { case (_, len) =>
      sum += len
      if (sum < 0) return Long.MaxValue // overflow guard
    }
    sum
  }

  /** Write the touched cells' rows (`result`) as new data files through
    * one distributed job ([[DataFiles.writeStaged]]): invisible until the
    * manifest references them. Returns their entries.
    *
    * The caller guarantees `result` holds rows of touched cells only (the
    * commit-loop contract); the staging write turns a violation into a
    * loud failure instead of silent row loss.
    */
  private def writeTouched(
      result: DataFrame,
      touched: Seq[FileCell],
      inBytes: Long = Long.MaxValue,
      coarseParts: Set[String] = Set.empty,
      sortCols: Seq[Column] = Nil): Seq[(String, Long)] = {
    if (touched.isEmpty) return Nil
    // CHECK enforcement, distributed path: the constraint predicates ride
    // the write projection itself — wrapped around the PK column, whose
    // value they leave untouched when satisfied — so a violating row
    // fails its write task (and with it the commit) with the constraint's
    // name and key, at ZERO extra jobs and zero extra columns. NULL
    // passes (SQL CHECK three-valued semantics).
    val liveCs = liveConstraints()
    val checked =
      if (liveCs.isEmpty) result
      else {
        val guard = liveCs.foldRight(col(pkCol)) { case ((n, sqlE), acc) =>
          when(not(coalesce(expr(sqlE), lit(true))),
            raise_error(concat(lit(s"CHECK constraint '$n' violated by row $pkCol="),
              coalesce(col(pkCol).cast("string"), lit("NULL"))))).otherwise(acc)
        }
        result.withColumn(pkCol, guard)
      }
    // every output row is routed to its cell. `coarseParts` partitions
    // write partition-scope (bucketless) files — their rows all route to
    // the sentinel -1 — and everything else keeps the per-bucket
    // file-group layout. (Comparison is on the STRING partition value, the
    // same rendering FileCell.part carries.)
    val bucketCol =
      if (coarseParts.isEmpty) dataFiles.bucketExpr
      else when(col(partitionCol).cast("string").isin(coarseParts.toSeq: _*), lit(-1))
        .otherwise(dataFiles.bucketExpr)
    val withBucket = checked.withColumn(DataFiles.BucketCol, bucketCol)
    // Write parallelism tracks rewritten BYTES, not partition count: below
    // one target file's worth of input the whole rewrite is a single write
    // task reached by a narrow coalesce — no shuffle stage at all (the
    // dynamic-partition writer still splits output files per cell). Above
    // it, hash-repartition by cell so tasks scale with what the commit
    // rewrites. Small transactional commits take the first path;
    // compaction and bulk loads the second.
    val shaped =
      if (inBytes < targetFileBytes) withBucket.coalesce(1)
      else withBucket.repartition(math.max(touched.size, 1),
        col(partitionCol), col(DataFiles.BucketCol))
    // clustered rewrite: order each write task's rows by (partition,
    // bucket, cluster key). The prefix matches the dynamic-partition
    // writer's required ordering, so FileFormatWriter inserts no extra
    // sort and the record-cap rolling yields files covering CONSECUTIVE
    // cluster-key ranges — the property the per-file min/max stats turn
    // into pruning.
    val ordered =
      if (sortCols.isEmpty) shaped
      else shaped.sortWithinPartitions(
        (col(partitionCol) +: col(DataFiles.BucketCol) +: sortCols): _*)
    dataFiles.writeStaged(ordered, touched)
  }

  // ------------------------------------------ driver-side commit fast path --
  //
  // A transactional commit's row work is microseconds; the distributed
  // write stack around it is ~200 ms of fixed cost (measured round 8,
  // tools/ProfilePlanning: ~25 ms Catalyst + ~100 ms job scheduling +
  // ~100+ ms FileFormatWriter/committer machinery for a 3-row batch). When
  // a commit is METADATA-SCALE — driver-local batch, touched input under
  // FastPathMaxBytes, schema inside the driver parquet IO's
  // no-conf-variant type set — the same read-merge-write runs entirely on the driver: touched
  // files are read through Spark's own parquet converters, the op's row
  // kernel (the driver image of its DataFrame formulation) produces the
  // replacement rows, and one file per cell is written back. No job, no
  // Catalyst, no committer. Anything bigger takes the distributed plan
  // unchanged — the gate is the SAME inputBytes heuristic that already
  // sizes write parallelism, so at 100 TB (file groups ≫ the gate) every
  // commit is distributed and the fast path never sees a row. The OCC
  // protocol is untouched: fast-written files are invisible until the
  // manifest publishes, and conflict re-merge/redo work identically.
  //
  // Equivalence between each kernel and its DataFrame formulation is
  // pinned by CommitFastPathSpec (randomized op streams, snapshot compare
  // after every op) and end-to-end by the harness's expectation oracle.

  private[lake] lazy val partFieldIdx: Int = schema.fieldIndex(partitionCol)
  private[lake] lazy val pkFieldIdx: Int = schema.fieldIndex(pkCol)

  /** Schema eligibility for the driver commit path: every column type
    * encodes identically under any session conf, and the partition column
    * is a STRING (driver file routing renders partition values with
    * `String.valueOf`, exact only for strings — the same rendering
    * [[cellsBy]] already bakes into FileCell).
    */
  private[lake] lazy val fastSchemaOk =
    dataFiles.driverIoSupported &&
      schema(partitionCol).dataType == StringType &&
      // outstanding renames: old files carry prior column names the
      // driver's name-based parquet reader would silently surface as NULL
      // — the distributed path's coalescing scan stays authoritative
      // until purgeDroppedColumns() rewrites (which clears the map)
      renamedCols.isEmpty &&
      // live column DEFAULTs: the local reader surfaces absent columns as
      // NULL, not the default — yield to the distributed scan (whose
      // EXISTS_DEFAULT fill is what defines the semantics) until a purge
      // materializes the values and clears the map
      columnDefaults.isEmpty

  private def rowPart(r: org.apache.spark.sql.catalyst.InternalRow): String =
    String.valueOf(r.get(partFieldIdx, schema(partFieldIdx).dataType))

  private def rowBucket(r: org.apache.spark.sql.catalyst.InternalRow): Int =
    dataFiles.driverBucketOf(r.get(pkFieldIdx, schema(pkFieldIdx).dataType))

  /** Driver image of [[cellFilter]]: rows belonging to any of `cells`. */
  private def rowInCells(cells: Seq[FileCell])
      : org.apache.spark.sql.catalyst.InternalRow => Boolean = {
    val whole = cells.filter(_.bucket < 0).map(_.part).toSet
    val bucketed = cells.filter(_.bucket >= 0).groupBy(_.part)
      .map { case (p, cs) => p -> cs.map(_.bucket).toSet }
    r => {
      val p = rowPart(r)
      whole.contains(p) || bucketed.get(p).exists(_.contains(rowBucket(r)))
    }
  }

  /** Driver image of [[writeTouched]]: route rows to (partition, bucket)
    * cells exactly as the dynamic-partition writer would (coarse
    * partitions bucketless, same loud stray-cell guard) and write each
    * non-empty cell's files straight to their final invisible-until-
    * published names ([[DataFiles.writeRows]]).
    */
  private def fastWriteTouched(
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      touched: Seq[FileCell],
      coarseParts: Set[String]): Seq[(String, Long)] = {
    if (touched.isEmpty) return Nil
    // CHECK enforcement, driver fast path: the compiled interpreted
    // predicates over the rows being written — zero Spark jobs, loud
    // failure, against the LIVE (meta-read) constraint list. `.get` is
    // safe AND deliberate: fastEligible gates on the guards compiling,
    // and if that invariant ever breaks this must fail, not skip
    // enforcement.
    constraintGuardsFor(liveConstraints()).get.foreach { case (n, ok) =>
      rows.foreach { r =>
        if (!ok(r)) throw new IllegalStateException(
          s"CHECK constraint '$n' violated by row $pkCol=" +
            String.valueOf(r.get(pkFieldIdx, schema(pkFieldIdx).dataType)))
      }
    }
    val groups = rows.groupBy { r =>
      val p = rowPart(r)
      (p, if (coarseParts.contains(p)) -1 else rowBucket(r))
    }
    val stray = groups.keys.filterNot { case (p, b) =>
      touched.exists(c => c.part == p && (c.bucket < 0 || c.bucket == b))
    }
    require(stray.isEmpty,
      s"commit produced rows outside its touched cells: ${stray.mkString(", ")}")
    dataFiles.writeRows(groups.toSeq.sortBy(_._1))
  }

  /** Rows of a driver-local batch in exact table-schema order and types,
    * or None (→ distributed path). A NULL partition value also bails: the
    * fast path's `String.valueOf` rendering would silently write the row
    * under partition "null", where the distributed writer routes it to
    * `__HIVE_DEFAULT_PARTITION__` and the stray-cell guard fails the
    * commit LOUDLY — falling back preserves that loud failure.
    */
  private def localRowsInSchemaOrder(df: DataFrame)
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] =
    org.apache.spark.sql.graft.PlanShim.smallLocalRelation(df, maxRows = 10000)
      .flatMap { case (attrs, rows) =>
        val sameOrder = attrs.map(_.name) == schema.fieldNames.toSeq
        val sameTypes = sameOrder && attrs.zip(schema.fields).forall { case (a, f) =>
          org.apache.spark.sql.graft.PlanShim.sameType(a.dataType, f.dataType)
        }
        if (sameTypes && rows.forall(!_.isNullAt(partFieldIdx))) Some(rows) else None
      }

  /** Driver image of `antiByKeys(snapT, keys)`: null PKs carried, null
    * keys match nothing. */
  private def carryMinusKeys(
      snapRows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      keys: Set[Any]): Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    val nonNull = keys.filter(_ != null)
    val pkType = schema(pkFieldIdx).dataType
    snapRows.filter { r =>
      val k = r.get(pkFieldIdx, pkType)
      k == null || !nonNull.contains(k)
    }
  }

  /** The [[cellsBy]] stable-partitions result computed straight from a
    * batch's local rows — same FileCell rendering, no extra plan walk.
    * None (→ [[cellsBy]]) when the batch is not driver-local or partition
    * placement is not a pure key function.
    */
  private def localCellsOf(
      rows: Option[Seq[org.apache.spark.sql.catalyst.InternalRow]]): Option[Seq[FileCell]] =
    if (!stablePartitions) None
    else rows.map(_.map(r => FileCell(rowPart(r), rowBucket(r))).distinct)

  /** Driver image of [[windowMerge]] over an already-deduped source:
    * matched targets take `updateCols` from their source row, unmatched
    * targets carry, unmatched (and null-PK) source rows insert.
    */
  private def localMergeKernel(
      srcLocal: Option[Seq[org.apache.spark.sql.catalyst.InternalRow]],
      updateCols: Seq[String])
      : Option[Seq[org.apache.spark.sql.catalyst.InternalRow] =>
        Seq[org.apache.spark.sql.catalyst.InternalRow]] = {
    if (!hashSafeInternal(schema(pkFieldIdx).dataType)) return None
    srcLocal.map { srcRows =>
      val pkType = schema(pkFieldIdx).dataType
      val types = schema.fields.map(_.dataType)
      val updIdx = schema.fieldNames.map(updateCols.contains)
      (snapRows: Seq[org.apache.spark.sql.catalyst.InternalRow]) => {
        val srcByPk = new java.util.HashMap[
          Any, org.apache.spark.sql.catalyst.InternalRow]
        srcRows.foreach { s =>
          val k = s.get(pkFieldIdx, pkType)
          if (k != null) srcByPk.put(k, s)
        }
        val carryPks = new java.util.HashSet[Any]
        val updated = snapRows.map { r =>
          val k = r.get(pkFieldIdx, pkType)
          if (k != null) carryPks.add(k)
          val s = if (k == null) null else srcByPk.get(k)
          if (s == null) r
          else {
            val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              schema.length)
            var i = 0
            while (i < schema.length) {
              out.update(i, (if (updIdx(i)) s else r).get(i, types(i)))
              i += 1
            }
            out
          }
        }
        val inserts = srcRows.filter { s =>
          val k = s.get(pkFieldIdx, pkType)
          k == null || !carryPks.contains(k)
        }
        updated ++ inserts
      }
    }
  }

  /** Build (or repair) the record index ([[Indexes.rebuildRecordIndex]]). */
  def rebuildRecordIndex(): Long = indexes.rebuildRecordIndex()

  /** The live files of `parts` (partition VALUES) at version `v`. */
  private[graft] def filesForPartitions(v: Long, parts: Seq[String]): Seq[String] =
    filesForPartitions(timeline.rootView(v), parts).map(_._1)

  /** The live (file, recorded size) entries of `parts` in `view`: only
    * their segments resolve. */
  private def filesForPartitions(view: RootView, parts: Seq[String]): Seq[(String, Long)] =
    view.entriesFor(parts.map(dataFiles.partDir).toSet)

  /** Cells the commit that produced version `v` rewrote. `None` when the
    * manifest was archived by a concurrent vacuum between our conflict
    * and this read: the conflict fast paths must treat an unknown touched
    * set as potentially-overlapping, not as empty — reading it as
    * "touched nothing" would let the re-merge path carry a stale
    * partition.
    */
  private def readTouched(v: Long): Option[Set[FileCell]] =
    try Some(timeline.rootView(v).touched) catch { case _: CommitConflictException => None }

  /** Wall-clock source for the `#ts=` commit stamp — injectable so the
    * monotonicity spec can reproduce a racing publisher whose clock runs
    * ahead (TimeTravelSpec); production default is the system clock.
    */
  private[lake] var commitClock: () => Long = () => System.currentTimeMillis()

  /** Atomic create-exclusive publish: fsync'd temp file + hard link.
    * The `#ts=` header is stamped immediately before the link attempt; a
    * manifest that loses the createLink race is discarded, so only the
    * winner's timestamp ever becomes visible (see [[versionAt]]).
    * `private[lake]` for the concurrent-publisher specs.
    */
  private[lake] def publish(
      v: Long,
      files: Seq[String],
      touched: Seq[FileCell],
      sizes: Map[String, Long] = Map.empty,
      op: String,
      dvs: Seq[DvEntry] = Nil,
      newStats: Indexes.Stats = Map.empty,
      reuseRootLines: Seq[String] = Nil,
      rli: Indexes.RliUpdate = Indexes.RliAuto,
      conf: Indexes.Conf = indexes.conf()): Unit = {
    val t0 = System.nanoTime()
    try publishImpl(v, files, touched, sizes, op, dvs, newStats, reuseRootLines, rli, conf)
    finally AcidTable.publishNanos.addAndGet(System.nanoTime() - t0)
  }

  /** `reuseRootLines`: raw `@…` root lines carried VERBATIM from the base
    * manifest for partitions this commit did not touch — their segments
    * stay byte-identical and are neither resolved nor re-hashed, which is
    * what keeps commit metadata work O(touched partitions). `files` then
    * lists ONLY the touched partitions' final contents. Empty = regroup
    * everything (bulk loads, restore, clone). `conf` is the index
    * properties, read before the commit becomes durable (a misconfigured
    * statsColumns must not report failure for a landed write). */
  private def publishImpl(
      v: Long, files: Seq[String], touched: Seq[FileCell], sizes: Map[String, Long],
      op: String, dvs: Seq[DvEntry], newStats: Indexes.Stats, reuseRootLines: Seq[String],
      rli: Indexes.RliUpdate, conf: Indexes.Conf): Unit = {
    // every listed file carries its recorded size, so no reader stats one
    val unsized = files.filterNot(sizes.contains)
    require(unsized.isEmpty, s"publish of v$v lists ${unsized.size} files without a " +
      s"recorded size (first: ${unsized.head}) ($path)")
    // the base root (one cached view): its commit time, page layout and
    // record-index headers shape this root
    val base = timeline.rootView(v - 1)
    // clamp the stamp to the predecessor's: System.currentTimeMillis()
    // can step BACKWARD (NTP), and the observe-then-stamp protocol alone
    // does not survive that — clamping makes the visible commit clock
    // monotone BY CONSTRUCTION, which versionAt's binary search relies
    // on (ties break toward the higher version)
    val ts = if (v > 0) math.max(commitClock(), base.ts) else commitClock()
    // per-partition segments: sizes ride the segment entries (so later
    // commits still size their writes without stat round-trips), and the
    // root line carries the partition's file count, byte total, and —
    // when the stats sidecar covers every file — the per-column min/max
    // envelope range pruning skips whole partitions with
    val statsCols = conf.statsCols
    val fileStats: Indexes.Stats =
      if (statsCols.isEmpty || files.isEmpty) Map.empty // no fresh segments → no envelopes to build
      else indexes.readStats() ++ newStats
    val segs = files.groupBy(dataFiles.dirOf).toSeq.sortBy(_._1)
      .map { case (pd, fs) =>
        val entries = fs.sorted.map(f => f -> sizes(f))
        val (name, segBody) = Timeline.segmentBody(pd, entries)
        val bytes = entries.iterator.map(_._2).sum
        (RootView.segRefLine(pd, name, fs.size, bytes, indexes.envelopes(fs, statsCols, fileStats)),
          name, segBody)
      }
    // segment PUTs are independent (content-addressed, write-if-absent)
    // and finish before the root links below. The touch-on-reuse means a
    // racing GC whose scan predates this commit sees a fresh mtime at its
    // last-instant re-read and skips the segment without quarantining it.
    timeline.writeAll(segs.map { case (_, name, segBody) => (name, segBody) })
    // PAGED ROOT (round 15): above the threshold the root lists
    // content-addressed PAGES of partition lines instead of the lines
    // themselves — the O(live partitions) text every commit used to
    // rewrite (measured bending 15 → 87 ms from 2 k to 20 k partitions).
    // Pages are HASH-BUCKETED by encoded partition dir (`#pages=N`
    // header; N grows by powers of two with never-shrink hysteresis, so
    // membership is stable across trickle commits). The INCREMENTAL
    // route: a bucket is DIRTY iff a fresh line's dir or a declared
    // touched cell's dir hashes into it (every content change — rewrite,
    // emptied partition, drop — declares its cells touched; that is the
    // OCC contract this reuses); a clean bucket's `@@` line carries from
    // the base root VERBATIM with no page read, no sort, no hash, and
    // only dirty buckets rebuild from (fresh ++ reuse) — so a trickle
    // commit pays 1-2 page writes + an O(N) root however many partitions
    // are live. Layout-compatible: readers expand `@@` refs in
    // [[RootView.refLines]]; sub-threshold roots are byte-identical to the
    // pre-page format.
    def sortLines(ls: Seq[String]): Seq[String] = ls.sortBy(RootView.encodedDir)
    val totalLines = segs.size + reuseRootLines.size
    val paged = totalLines > AcidTable.RootPageThreshold
    var pageCount: Option[Int] = None
    // pages this commit WROTE (fresh bodies) — for the post-link
    // re-assert (same GC-race heal as segments). Verbatim-carried pages
    // stay referenced by the base root throughout this publish, so they
    // need no touch/re-assert.
    val pagesOut = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val rootTail: Seq[String] =
      if (!paged) sortLines(segs.map(_._1) ++ reuseRootLines)
      else {
        val baseN = base.pages.filter(_ > 0)
        val n = baseN
          .filter(bn => totalLines.toLong <= bn.toLong * AcidTable.RootPageSize * 2)
          .getOrElse(Integer.highestOneBit(math.max(1,
            (totalLines + AcidTable.RootPageSize - 1) / AcidTable.RootPageSize) * 2 - 1))
        pageCount = Some(n)
        def bucketOf(encPd: String): Int = (encPd.hashCode & Int.MaxValue) % n
        def buildPage(i: Int, lines: Seq[String]): String = {
          val body = lines.mkString("\n")
          val name = Timeline.contentName("page", body)
          timeline.writeContent(name, body, touch = true)
          pagesOut += ((name, body))
          // (file count, byte) aggregates ride the ref so DESCRIBE
          // DETAIL / history sum a paged root WITHOUT expanding pages —
          // O(pages) per version instead of O(partitions)
          val refs = lines.map(RootView.parseSegRef)
          RootView.pageRefLine(name, lines.size, i, refs.map(_.count).sum, refs.map(_.bytes).sum)
        }
        // base page ref per bucket index — the incremental route needs a
        // complete, same-N index; anything else falls to full regroup
        val basePages: Map[Int, String] =
          if (!baseN.contains(n)) Map.empty
          else base.rawRefLines.filter(_.startsWith("@@")).map(l => RootView.pageBucket(l) -> l).toMap
        if (basePages.size == n) {
          val dirty: Set[Int] =
            (segs.map(s => RootView.encodedDir(s._1)) ++
              touched.map(c => java.net.URLEncoder.encode(
                dataFiles.partDir(c.part), "UTF-8"))).map(bucketOf).toSet
          val dirtyLines = scala.collection.mutable.Map.empty[Int, Vector[String]]
            .withDefaultValue(Vector.empty)
          (segs.map(_._1) ++ reuseRootLines).foreach { l =>
            val b = bucketOf(RootView.encodedDir(l))
            if (dirty.contains(b)) dirtyLines(b) = dirtyLines(b) :+ l
          }
          (0 until n).map { i =>
            if (!dirty.contains(i)) basePages(i)
            else buildPage(i, sortLines(dirtyLines(i)))
          }
        } else {
          // full regroup: first paging, or an N-growth event
          val buckets = Array.fill(n)(Vector.newBuilder[String])
          sortLines(segs.map(_._1) ++ reuseRootLines)
            .foreach(l => buckets(bucketOf(RootView.encodedDir(l))) += l)
          (0 until n).map(i => buildPage(i, buckets(i).result()))
        }
      }
    // record-index headers: refs + completeness from the base root and
    // this commit's RliUpdate
    val rliHeader = indexes.rliHeader(base, v, rli, conf.rli)
    // CARRIED refs — pages reused verbatim from the base root, and index
    // runs whose refs carry through the `#rli=` header — are re-asserted
    // around the link like the segments this commit wrote: without it
    // their survival would rest only on the base root staying in a racing
    // GC's scanned window plus its final recheck. The touch is
    // best-effort protection (the quarantine-recheck and post-link
    // re-assert protocols are the backstop), so a gen side file that
    // cannot be expanded must not abort a commit that carries it
    // verbatim — touch the side file itself plus whatever resolves.
    val carriedPages: Seq[String] =
      if (!paged) Nil
      else rootTail.collect { case l if l.startsWith("@@") =>
        l.substring(2).takeWhile(_ != '|')
      }.filterNot(n => pagesOut.exists(_._1 == n))
    val newRli = RootView.Rli.of(rliHeader)
    val carriedRli: Seq[String] =
      newRli.gen.map(_._1).toSeq ++
        scala.util.Try(indexes.rliRefsOf(newRli)).getOrElse(newRli.inline).map(_.name)
    // the operation name rides the root as an audit header (the timeline
    // surface history() renders), and so do the live deletion-vector
    // entries (merge-on-read deletes, [[deleteVectored]]) — the inline
    // small-DV form of Delta's deletion vectors, so DV lifecycle (restore,
    // clone, vacuum, time travel) follows the manifest with no sidecar
    val body = RootView.render(ts, touched, pageCount, op, dvs, rliHeader, rootTail)
    timeline.link(v, body, segs.map { case (_, name, segBody) => (name, segBody) } ++ pagesOut,
      carriedPages ++ carriedRli)
  }
}

final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** One `WHEN MATCHED [AND condition]` clause of a conditional MERGE
  * ([[AcidTable.mergeConditional]]). `condition` is over the `t`/`s`
  * aliased pair; None = unconditional. Update clauses copy the named
  * same-named source columns (the engine's one update shape, as
  * [[AcidTable.merge]]).
  */
sealed trait MergeMatchedClause { def condition: Option[Column] }
object MergeMatchedClause {
  /** UPDATE with arbitrary assignment expressions (round 10b): every RHS
    * evaluates over the `t`/`s` pair's PRE-image (both sides' original
    * values — `SET t.v = t.v + s.v` and the keep-target `SET t.v = t.v`
    * both mean what SQL says). Values cast to the column's declared type
    * (ANSI store-assignment); must be deterministic and subquery-free.
    */
  final case class UpdateExprs(condition: Option[Column], assignments: Seq[(String, Column)])
      extends MergeMatchedClause
  final case class Update(condition: Option[Column], updateCols: Seq[String])
      extends MergeMatchedClause
  final case class Delete(condition: Option[Column]) extends MergeMatchedClause
}

/** One `WHEN NOT MATCHED [AND cond] THEN INSERT` clause. `assignments`
  * None = the identity full-row insert (the source row as-is);
  * Some = per-column expressions over the source (`s.*`) — reordered,
  * transformed, or PARTIAL column lists (unassigned non-key columns
  * insert NULL), round 10b. First-match-wins across clauses.
  */
final case class MergeInsertClause(
    condition: Option[Column],
    assignments: Option[Seq[(String, Column)]])

object AcidTable {

  /** Process-wide counts of lost publish races, split by what losing
    * cost: a RE-MERGE redid only the manifest union (the partition-
    * disjoint fast path — rewritten files stayed valid); a REDO deleted
    * the orphaned output files and recomputed against the new snapshot
    * (real wasted work). Bench telemetry: read + reset around a harness
    * run to report both rates next to txn/s.
    */
  private[graft] val conflictRemergeCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val conflictRedoCounter = new java.util.concurrent.atomic.AtomicLong(0)
  /** Pre-publish fast-forwards: disjoint-cell intervenors detected BEFORE
    * the first publish attempt and silently re-linked — a would-be
    * remerge conflict avoided entirely (round-10 verdict #7). */
  private[graft] val fastForwardCounter = new java.util.concurrent.atomic.AtomicLong(0)
  // wall time spent in conflict retries (backoff + snapshot re-read +
  // recompute), by class — see the commitLoop catch block
  private[graft] val conflictRemergeNanos = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val conflictRedoNanos = new java.util.concurrent.atomic.AtomicLong(0)
  def conflictRemergeCount: Long = conflictRemergeCounter.get()
  def fastForwardCount: Long = fastForwardCounter.get()
  def conflictRedoCount: Long = conflictRedoCounter.get()
  def conflictRemergeMs: Double = conflictRemergeNanos.get() / 1e6
  def conflictRedoMs: Double = conflictRedoNanos.get() / 1e6
  def conflictCount: Long = conflictRemergeCount + conflictRedoCount
  def resetConflictCount(): Unit = {
    conflictRemergeCounter.set(0); conflictRedoCounter.set(0)
    fastForwardCounter.set(0)
    conflictRemergeNanos.set(0); conflictRedoNanos.set(0)
  }

  /** Metadata-I/O telemetry (spec-checked): commit-log resolution must be
    * O(1) probes per [[AcidTable.latestVersion]] and O(log n) root reads
    * per [[AcidTable.versionAt]], never a full `_commits` listing — the
    * difference between a bounded and an unbounded timeline scan on a
    * 100 TB table's object store. `manifestHeaderReads` counts physical
    * root-file reads, all of which happen in [[Timeline.rootView]].
    */
  private[graft] val metaDirListings = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val latestProbes = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val manifestHeaderReads = new java.util.concurrent.atomic.AtomicLong(0)
  /** Manifest-segment telemetry (spec-checked): a commit writes segments
    * only for partitions whose file set CHANGED (content addressing makes
    * reuse literal — the same bytes get the same name, so untouched
    * partitions' segments are not rewritten, they are the same file); a
    * partition-hinted read resolves only the hinted partitions' segments.
    */
  private[graft] val segmentWrites = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val segmentDiskReads = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val segmentResolves = new java.util.concurrent.atomic.AtomicLong(0)
  /** Logical consultations of the per-file stats sidecar — the partition-
    * envelope spec asserts a range probe the root manifest alone can
    * refute never loads per-file stats at all. */
  private[graft] val clusterStatsLoads = new java.util.concurrent.atomic.AtomicLong(0)
  /** Reads routed through the bucket-pruned [[AcidTable.lookup]] path —
    * lets tests assert that a PK-filtered catalog SELECT actually took the
    * point-lookup route rather than a full snapshot scan. */
  private[graft] val lookupScans = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def resetMetaIoCounters(): Unit = {
    metaDirListings.set(0); latestProbes.set(0); manifestHeaderReads.set(0)
    segmentWrites.set(0); segmentDiskReads.set(0); segmentResolves.set(0)
    clusterStatsLoads.set(0)
  }

  // ------------------------------------------------ manifest segments --
  //
  // The root manifest lists PER-PARTITION SEGMENTS instead of data files
  // (`@<enc partdir>|<seg-name>|<n files>|<bytes>|<partition stats>`), the
  // Delta-checkpoint / Iceberg-manifest-list analog that takes a commit's
  // manifest I/O from O(live files) to O(partitions) + O(touched
  // partitions' files). Segments are CONTENT-ADDRESSED (name = SHA-1 of
  // the body): a partition whose file set did not change hashes to the
  // same name, so its segment is literally the same immutable file across
  // commits — nothing to rewrite, byte identity by construction — and
  // restore/clone/DV-only commits reuse every segment they re-reference.
  // [[Timeline]] stores and caches them.

  /** Branch roots live under `<table>/_branches/<name>/` (see the branch
    * section in the class); the sidecar records the fork version the
    * publish CAS targets. */
  private[lake] val BranchesDir = "_branches"
  private[lake] val BranchPropsFile = "_branch.properties"

  /** One resolved segment: the partition directory it lists and the
    * (manifest-relative file, recorded bytes) entries. */
  private[lake] final case class SegData(partDir: String, entries: Seq[(String, Long)])

  /** One root-manifest segment reference, including the partition-level
    * min/max envelope (encoded-long domain) range pruning skips whole
    * partitions with. An envelope is recorded only when EVERY file in the
    * partition contributed (all-null files excluded soundly); a missing
    * column means "not skippable at partition scope". */
  private[lake] final case class SegRef(
      partDir: String, name: String, count: Long, bytes: Long,
      pstats: Map[String, (Long, Long)])

  private[lake] def sha1Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }

  /** Commit-phase wall-time accumulators (nanos) — where a transactional
    * commit's latency lives: the distributed write (`.parquet` call: plan
    * analysis + job), the post-job file moves, and manifest publication
    * (fsync + link). Diagnostic-only (read by `graft.tools.ProfileCommit`);
    * the overhead per commit is a few `nanoTime` reads.
    */
  private[graft] val writeCallNanos = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val moveNanos = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val publishNanos = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def resetCommitTimers(): Unit = {
    writeCallNanos.set(0); moveNanos.set(0); publishNanos.set(0)
  }

  /** Kill switch for the driver-side commit fast path (tests compare the
    * two formulations; operators can force the distributed path).
    */
  @volatile var localCommitEnabled: Boolean =
    !sys.props.get("graft.acid.localCommit").contains("false")

  /** Rewrite-volume gate for the driver commit path: compressed input
    * bytes above this always take the distributed plan. Compressed parquet
    * inflates ~5-10× in memory, so 4 MiB bounds the driver working set to
    * a few tens of MB — transactional commits are KB-scale; compaction and
    * bulk loads never qualify anyway (outputBounded/inputBytes).
    */
  val FastPathMaxBytes: Long = 4L * 1024 * 1024

  /** Compaction bin-packing floor (round 18): a partition keeps the
    * per-bucket file-group layout through compact() only when its live
    * bytes give each bucket file at least this much; below it the
    * partition compacts to ONE size-rolled bucketless stream. A bucket
    * file under 64 KiB is pure overhead — parquet footer/dictionary
    * bytes rival the data, and a full scan pays numBuckets× the
    * open/footer cost (the acid_scan_identity 2× drift: 512 × ~5 KB
    * files). 64 KiB keeps the floor LOW on purpose: any partition whose
    * cells carry real data (≥ numBuckets × 64 KiB ≈ 2 MiB at 32
    * buckets) keeps the keyed file-group layout that makes trickle DML
    * and CDC diffs cell-scoped; at 100 TB every partition is far above
    * it. Tunable: `-Dgraft.compact.minBucketFileBytes=N`. */
  val CompactMinBucketFileBytes: Long =
    sys.props.get("graft.compact.minBucketFileBytes")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(64L * 1024)

  /** Row cap for the RLI small-commit driver run (round 18): at or under
    * it, a distributed commit's index delta is read back and written on
    * the driver (zero jobs); above it the executor-sharded write keeps
    * seeding the generation layout. Transactional commits are orders of
    * magnitude under this; bulk loads orders of magnitude over. */
  val RliLocalWriteMaxRows: Int = 1024

  /** Byte budget for the MATVIEW driver fold's cell streaming (round-14
    * verdict #7) — deliberately wider than [[FastPathMaxBytes]], and
    * soundly so: DML's 4 MiB cap bounds a REWRITE (output ≈ input, both
    * held), while the fold's output is bounded by its GROUP COUNT
    * (localFoldRows bails above 10 000 groups regardless), so input bytes
    * stream through the net-change map and cancel. 64 MiB compressed
    * (~0.5 GiB transient heap at parquet's 5-10× inflation) covers the
    * megabyte-class touched cells a trickle delta leaves on a large
    * compacted table — the shape that previously paid the distributed
    * fold's ~0.8 s fixed multi-job latency. Tunable:
    * `-Dgraft.mv.fold.maxBytes=N`. */
  val MvFoldMaxBytes: Long =
    sys.props.get("graft.mv.fold.maxBytes")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(64L * 1024 * 1024)

  /** Per-statement key cap for [[AcidTable.deleteVectored]]'s inline
    * (manifest-header) deletion vectors. Above it the COW delete is the
    * right tool anyway: a delete large enough to blow this cap is
    * rewriting a meaningful fraction of its cells' bytes, so the
    * metadata-only win disappears while every reader would keep paying
    * the filter. 4096 keys ≈ tens of KB of header — the same order as
    * Delta's inline-DV threshold.
    */
  val MorMaxKeys: Int = 4096

  private val MetaFile = "_meta.properties"

  /** [[AcidTable.detail]]'s one-row schema — shared with the catalog
    * front-end's DESCRIBE DETAIL command so the two can never drift. */
  private[lake] val DetailSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("location", StringType),
    StructField("version", LongType),
    StructField("num_files", LongType),
    StructField("size_bytes", LongType),
    StructField("num_partitions", LongType),
    StructField("primary_key", StringType),
    StructField("partition_column", StringType),
    StructField("num_buckets", LongType),
    StructField("properties", StringType)))

  /** Paged-root sizing (round 15): roots with more partition lines than
    * the threshold page them in fixed chunks. 4096 inline lines ≈ 400 KB
    * root — the point where rewriting it per commit starts to show
    * (MetaScale: publish phase 3 ms at 2 000 partitions, 35 ms at
    * 20 000); 1024-line pages ≈ 100 KB — one page rewrite per trickle
    * commit, ~20 refs on a 20 k-partition root. */
  val RootPageThreshold: Int = 4096
  val RootPageSize: Int = 1024

  /** Test hook: drop every process-wide cached artifact of `path` (root
    * views, segments, pages, index runs, bloom slices) — specs staging
    * unrecoverable-loss scenarios need the "driver restarted" state. */
  private[lake] def purgeCachesForSpec(path: String): Unit = Lru.forget(path)

  /** Hash buckets per partition of a table created without an explicit
    * count — the one default every DDL front end uses. */
  val DefaultBuckets: Int = 32

  /** Create (or overwrite) a table directory — reference A2+A3 DDL path. */
  def create(
      spark: SparkSession,
      path: String,
      schema: StructType,
      pkCol: String,
      partitionCol: String,
      precombineCol: Option[String] = None,
      overwrite: Boolean = true,
      stablePartitions: Boolean = false,
      numBuckets: Int = DefaultBuckets): AcidTable = {
    require(schema.fieldNames.contains(pkCol), s"pk column $pkCol not in schema")
    require(schema.fieldNames.contains(partitionCol), s"partition column $partitionCol not in schema")
    require(schema(partitionCol).dataType == StringType,
      "partition column must be STRING (Hive-style directory value)")
    require(numBuckets > 0 && numBuckets <= 1000,
      "numBuckets must be in [1, 1000] (bucket file-name prefix is 3 digits)")
    if (overwrite) DataFiles.deleteTree(Paths.get(path))
    // a fresh table at a reused path must not inherit a previous table's
    // root views — purge unconditionally (the old directory may have been
    // deleted externally, in which case root.exists() was already false
    // here but the cache still holds the dead table). Views are keyed
    // (path, version) and versions RESTART at a recreated path; they and
    // the stats-sidecar cache are (mtime, size)-checked, but a recreated
    // file could in principle collide on both.
    Lru.forget(path)
    new Timeline(path).init()
    DataFiles.init(path)
    writeMeta(path, schema, pkCol, partitionCol, precombineCol, stablePartitions, numBuckets)
    new AcidTable(spark, path, schema, pkCol, partitionCol, precombineCol, stablePartitions,
      numBuckets)
  }

  /** Atomically (re)write `_meta.properties` (tmp file + rename). */
  private[lake] def writeMeta(
      path: String,
      schema: StructType,
      pkCol: String,
      partitionCol: String,
      precombineCol: Option[String],
      stablePartitions: Boolean,
      numBuckets: Int,
      droppedCols: Seq[String] = Nil,
      constraints: Seq[(String, String)] = Nil,
      renamedCols: Map[String, Seq[String]] = Map.empty,
      columnDefaults: Map[String, String] = Map.empty): Unit = {
    val props = new java.util.Properties()
    props.setProperty("schemaDdl", schema.toDDL)
    // column DEFAULTs (`col:literalSql` pairs, URL-encoded, name-sorted)
    if (columnDefaults.nonEmpty)
      props.setProperty("columnDefaults",
        columnDefaults.toSeq.sortBy(_._1).map { case (c, d) =>
          java.net.URLEncoder.encode(c, "UTF-8") + ":" +
            java.net.URLEncoder.encode(d, "UTF-8")
        }.mkString(","))
    props.setProperty("pkCol", pkCol)
    props.setProperty("partitionCol", partitionCol)
    precombineCol.foreach(props.setProperty("precombineCol", _))
    props.setProperty("stablePartitions", stablePartitions.toString)
    // every writer of the table must agree on the cell layout — the bucket
    // count rides the table metadata, never a session config
    props.setProperty("numBuckets", numBuckets.toString)
    // dropped-column ledger (URL-encoded names, comma-joined): names whose
    // bytes may still live in data files; addColumns refuses them
    if (droppedCols.nonEmpty)
      props.setProperty("droppedCols",
        droppedCols.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(","))
    // CHECK constraints (URL-encoded `name:exprSql` pairs, comma-joined,
    // declaration order preserved)
    if (constraints.nonEmpty)
      props.setProperty("checkConstraints",
        constraints.map { case (n, e) =>
          java.net.URLEncoder.encode(n, "UTF-8") + ":" +
            java.net.URLEncoder.encode(e, "UTF-8")
        }.mkString(","))
    // rename mapping (`current:prior1|prior2`, all URL-encoded)
    if (renamedCols.nonEmpty)
      props.setProperty("renamedCols",
        renamedCols.toSeq.sortBy(_._1).map { case (n, ps) =>
          java.net.URLEncoder.encode(n, "UTF-8") + ":" +
            ps.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString("|")
        }.mkString(","))
    // free-form table properties (`tableProps.*`, e.g. the merge-on-read
    // delete mode) are NOT structural writeMeta arguments — carry them
    // over from the existing meta so schema-evolution rewrites (which
    // rebuild the file from their own args) can never silently drop them
    if (Files.exists(Paths.get(path, MetaFile))) {
      val prior = loadMeta(path)
      prior.stringPropertyNames().forEach { k =>
        if (k.startsWith(TablePropPrefix) && !props.containsKey(k))
          props.setProperty(k, prior.getProperty(k))
      }
    }
    storeMeta(path, props)
  }

  /** Load a properties file (`_meta.properties`, the stats sidecar). */
  private[lake] def loadProperties(file: Path): java.util.Properties = {
    val props = new java.util.Properties()
    val in = Files.newInputStream(file)
    try props.load(in) finally in.close()
    props
  }

  /** Atomically replace a properties file: a temp file beside it, then
    * an atomic rename over it. */
  private[lake] def storeProperties(props: java.util.Properties, file: Path, comment: String): Unit = {
    val tmp = file.resolveSibling(s".${file.getFileName}-tmp-${UUID.randomUUID()}")
    val out = Files.newOutputStream(tmp)
    try props.store(out, comment) finally out.close()
    Files.move(tmp, file,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def loadMeta(path: String): java.util.Properties = loadProperties(Paths.get(path, MetaFile))

  private def storeMeta(path: String, props: java.util.Properties): Unit =
    storeProperties(props, Paths.get(path, MetaFile), "graft AcidTable metadata")

  /** Open an existing table from its `_meta.properties`. Metadata
    * without a `numBuckets` key fails loudly: the bucket count fixes
    * every data file's cell, so no default can be guessed. */
  def open(spark: SparkSession, path: String): AcidTable = {
    val props = loadMeta(path)
    val numBuckets = Option(props.getProperty("numBuckets")).getOrElse(
      throw new IllegalStateException(
        s"unsupported table metadata in ${Paths.get(path, MetaFile)}: no numBuckets key"))
    new AcidTable(
      spark, path,
      StructType.fromDDL(props.getProperty("schemaDdl")),
      props.getProperty("pkCol"),
      props.getProperty("partitionCol"),
      Option(props.getProperty("precombineCol")),
      "true" == props.getProperty("stablePartitions"),
      numBuckets.toInt,
      Option(props.getProperty("droppedCols")).map(_.split(',').toSeq
        .filter(_.nonEmpty).map(java.net.URLDecoder.decode(_, "UTF-8"))).getOrElse(Nil),
      parseConstraints(props),
      Option(props.getProperty("renamedCols")).map(_.split(',').toSeq
        .filter(_.nonEmpty).map { ent =>
          val i = ent.indexOf(':')
          java.net.URLDecoder.decode(ent.substring(0, i), "UTF-8") ->
            ent.substring(i + 1).split('|').toSeq.filter(_.nonEmpty)
              .map(java.net.URLDecoder.decode(_, "UTF-8"))
        }.toMap).getOrElse(Map.empty),
      Option(props.getProperty("columnDefaults")).map(_.split(',').toSeq
        .filter(_.nonEmpty).map { ent =>
          val i = ent.indexOf(':')
          (java.net.URLDecoder.decode(ent.substring(0, i), "UTF-8"),
            java.net.URLDecoder.decode(ent.substring(i + 1), "UTF-8"))
        }.toMap).getOrElse(Map.empty))
  }

  private[lake] def parseConstraints(props: java.util.Properties): Seq[(String, String)] =
    Option(props.getProperty("checkConstraints")).map(_.split(',').toSeq
      .filter(_.nonEmpty).map { ent =>
        val i = ent.indexOf(':')
        (java.net.URLDecoder.decode(ent.substring(0, i), "UTF-8"),
          java.net.URLDecoder.decode(ent.substring(i + 1), "UTF-8"))
      }).getOrElse(Nil)

  private[lake] val TablePropPrefix = "tableProps."

  /** Read one free-form table property (stored `tableProps.<key>`), a
    * TABLE-LEVEL read like [[readConstraints]]: every handle sees a
    * concurrent SET immediately. */
  private[lake] def readTableProperty(path: String, key: String): Option[String] =
    Option(loadMeta(path).getProperty(TablePropPrefix + key))

  private[lake] def readTableProperties(path: String): Map[String, String] = {
    val props = loadMeta(path)
    val b = Map.newBuilder[String, String]
    props.stringPropertyNames().forEach { k =>
      if (k.startsWith(TablePropPrefix))
        b += k.stripPrefix(TablePropPrefix) -> props.getProperty(k)
    }
    b.result()
  }

  /** Atomically set (value nonEmpty) or remove (None) one free-form table
    * property in `_meta.properties`. */
  private[lake] def writeTableProperty(path: String, key: String, value: Option[String]): Unit = {
    val props = loadMeta(path)
    value match {
      case Some(v) => props.setProperty(TablePropPrefix + key, v)
      case None => props.remove(TablePropPrefix + key)
    }
    storeMeta(path, props)
  }

  /** The table's CURRENT constraint list from `_meta.properties` — the
    * commit-time metadata read that makes CHECK enforcement table-level
    * rather than handle-scoped. */
  private[lake] def readConstraints(path: String): Seq[(String, String)] =
    parseConstraints(loadMeta(path))
}
