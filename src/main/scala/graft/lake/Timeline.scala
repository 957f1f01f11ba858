package graft.lake

import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.UUID

/** The commit log of one table: the only code that knows the `_commits/`
  * layout and its protocol. [[AcidTable]] resolves versions, reads roots,
  * links new roots and reads and writes the content store through it.
  * {{{
  * _commits/v<000000000N>.txt   root of version N (RootView's format)
  * _commits/_latest.hint        advisory: the last published version
  * _commits/_segments/<kind>-<sha1>.txt   content store: seg- partition
  *                              file lists, page- root pages, rli- index
  *                              runs, rlg- index generation lists
  * _commits/_tags/<name>        tag refs: the version a name pins
  * }}}
  *
  * Protocol:
  *  - A root is published by a create-exclusive hard link of an fsync'd
  *    temp file: [[link]] is the commit's linearization point, and a lost
  *    race surfaces as `FileAlreadyExistsException` ([[occ]] retries it).
  *  - Content files are named by the SHA-1 of their body, written once
  *    (temp, fsync, link; losing the race is success) and never modified.
  *  - Vacuum archives a PREFIX of the roots and garbage-collects content
  *    by quarantine-rename then recheck ([[sweepStore]]), so a reader can
  *    briefly miss a live content file: [[Timeline.readContent]] outwaits
  *    that window.
  */
private[lake] final class Timeline(tablePath: String) {
  import Timeline._

  private val dir = Paths.get(tablePath, CommitsDir)
  private val store = dir.resolve(SegmentsDir)
  private val tags = dir.resolve(TagsDir)

  /** The content store's directory, for executor-side reads and writes. */
  val storeDir: String = store.toString

  /** Create the empty log of a new table. */
  def init(): Unit = { Files.createDirectories(dir); () }

  // ------------------------------------------------------ version resolution --

  /** Highest committed version, or -1 for an empty (just-created) table.
    *
    * Checkpointed: `_latest.hint` records the last published version, so
    * resolution is one small read plus O(publish-lag) existence probes —
    * NOT a listing of the whole `_commits` directory, which grows without
    * bound over a table's life (the unchkpointed-log failure mode on
    * object stores; Hudi's timeline listing is bounded the same way). The
    * hint is advisory: it is written AFTER a publish succeeds, so it can
    * only lag (a racing writer may even regress it by one), and the
    * forward probe recovers the true latest. A missing or unreadable hint
    * falls back to the full listing.
    */
  def latestVersion(): Long = {
    val hinted = readLatestHint()
    if (hinted >= 0 && Files.exists(manifestPath(hinted))) {
      var v = hinted
      while ({ AcidTable.latestProbes.incrementAndGet(); Files.exists(manifestPath(v + 1)) }) v += 1
      v
    } else {
      AcidTable.metaDirListings.incrementAndGet()
      val files = Option(dir.toFile.list()).getOrElse(Array.empty)
      files.collect { case ManifestName(v) => v.toLong }.foldLeft(-1L)(math.max)
    }
  }

  private def manifestPath(v: Long): Path = dir.resolve(manifestFileName(v))

  private def latestHintPath: Path = dir.resolve(LatestHint)

  private def readLatestHint(): Long =
    try new String(Files.readAllBytes(latestHintPath), StandardCharsets.UTF_8).trim.toLong
    catch { case _: Throwable => -1L }

  /** Advance the hint to `v` (best-effort, atomic move). Written after the
    * root link succeeds, so the hint never points past the true latest; a
    * lost race between two publishers can leave it one behind, which the
    * probe in [[latestVersion]] absorbs.
    */
  private def writeLatestHint(v: Long): Unit =
    try {
      if (readLatestHint() < v) {
        val tmp = dir.resolve(s".hint-tmp-${UUID.randomUUID()}")
        Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, latestHintPath,
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      }
    } catch { case _: Throwable => () } // advisory only; listing fallback covers it

  /** Oldest root still on disk. Archival only ever removes a prefix of
    * the timeline, so existence is monotone in the version number and a
    * binary search over it needs O(log n) probes; the common (never
    * archived) case is one probe of v0.
    */
  def oldestRetainedVersion(latest: Long): Long = {
    AcidTable.latestProbes.incrementAndGet()
    if (Files.exists(manifestPath(0L))) return 0L
    var lo = 1L // 0 known missing
    var hi = latest // known present
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      AcidTable.latestProbes.incrementAndGet()
      if (Files.exists(manifestPath(mid))) hi = mid else lo = mid + 1
    }
    lo
  }

  /** Highest version committed at or before `epochMillis`, or -1 if the
    * table had no commits yet.
    *
    * The commit clock is the `#ts=` header each root records at publish
    * time — it survives copying the table directory (which rewrites file
    * mtimes) and is immune to the inode-sharing subtlety of
    * `Files.createLink` (the link's mtime is the temp-file write time, not
    * the atomic publish point). Header timestamps are monotone across
    * versions: a publisher only chooses version N+1 after observing
    * version N's published root, which N's publisher stamped before
    * linking, and it clamps its stamp to N's — a loser's later stamp is
    * discarded with its unpublished temp root, never visible. Millisecond
    * ties break toward the higher version. That monotonicity is what lets
    * this resolve by BINARY SEARCH over version numbers — O(log n) root
    * reads (views are cached: roots are immutable once published).
    */
  def versionAt(epochMillis: Long): Long = {
    val latest = latestVersion()
    if (latest < 0) return -1L
    // archival prunes a PREFIX of the timeline — the search floor is the
    // oldest root still on disk
    val oldest = oldestRetainedVersion(latest)
    var lo = oldest
    var hi = latest
    var ans = -1L
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (rootView(mid).ts <= epochMillis) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (ans < 0 && oldest > 0)
      // the requested time falls below the archival horizon: the table HAD
      // committed state then, but its root is gone — resolving to -1
      // (empty table) would silently return wrong data, so fail loudly
      // (the Delta/Hudi contract for time travel past retention)
      throw new IllegalStateException(
        s"TIMESTAMP AS OF $epochMillis predates the retention horizon of $tablePath" +
          s" (oldest retained version $oldest)")
    ans
  }

  def rootExists(v: Long): Boolean = Files.exists(manifestPath(v))

  /** Bytes of version `v`'s root file. */
  def rootBytes(v: Long): Long = manifestPath(v).toFile.length()

  /** Timeline archival: delete version `v`'s root (vacuum removes a
    * prefix of versions, oldest first). */
  def archive(v: Long): Unit = { Files.deleteIfExists(manifestPath(v)); () }

  // ------------------------------------------------------------------ roots --

  /** Version `v`'s root, parsed once ([[RootView]]): the ONE place a root
    * file is read. Views are cached (a few recent versions, checked
    * against the file's mtime and size), so repeated reads of a version
    * cost one stat. A root that cannot be read never reads as empty:
    *  - archived by vacuum below the retained horizon → the retriable
    *    [[CommitConflictException]];
    *  - missing INSIDE the retained window → the raw
    *    `NoSuchFileException` (corruption);
    *  - malformed → `IllegalStateException` "unsupported root format".
    * `v < 0` is the empty table. */
  def rootView(v: Long): RootView = {
    if (v < 0) return RootView.Empty
    try {
      val attrs = Files.readAttributes(manifestPath(v), classOf[BasicFileAttributes])
      views.get(tablePath, v).collect {
        case (mtime, size, view) if mtime == attrs.lastModifiedTime && size == attrs.size => view
      }.getOrElse {
        AcidTable.manifestHeaderReads.incrementAndGet()
        val lines = Files.readAllLines(manifestPath(v), StandardCharsets.UTF_8)
          .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
        val view = RootView.parse(lines, unsupportedRoot(v, _), readPage, readSegment)
        views.put(tablePath, v, (attrs.lastModifiedTime, attrs.size, view))
        view
      }
    } catch {
      case e: NoSuchFileException =>
        // archived-base race (found by the cross-process harness): vacuum's
        // timeline archival removes a PREFIX of roots, and an operation in
        // another process may still hold an archived version as its OCC
        // base or read snapshot. That operation is provably stale — newer
        // commits exist — so surface the TYPED, retriable conflict signal
        // (callers' retry wrappers re-apply against the fresh snapshot)
        // instead of a raw missing-file crash. A root missing INSIDE the
        // retained window is real corruption: rethrow loudly.
        val latest = latestVersion()
        if (latest > v && v < oldestRetainedVersion(latest))
          throw new CommitConflictException(
            s"version $v was archived by vacuum while in use (retained " +
              s"horizon ${oldestRetainedVersion(latest)}..$latest); " +
              s"retry against the current snapshot ($tablePath)")
        throw e
    }
  }

  private def unsupportedRoot(v: Long, why: String): Nothing =
    throw new IllegalStateException(
      s"unsupported root format in manifest ${manifestFileName(v)} (version $v) of $tablePath: $why")

  /** Publish `body` as version `v`'s root: temp file, fsync, then the
    * create-exclusive link — a `FileAlreadyExistsException` means another
    * commit won version `v`. `written` are the content files (name, body)
    * this commit wrote before the link; `carried` are content files its
    * root references without having written them (pages and index runs
    * carried from the base root).
    *
    * Both sets are re-asserted to close the race with a concurrent vacuum,
    * which may have quarantined a file it saw as dead:
    *  - carried files are touched before the link (a GC that rechecks
    *    the mtime at its last instant skips them), and re-materialized
    *    from their content cache when already gone;
    *  - after the link our root is visible, so every written and carried
    *    file is asserted again (content-addressed, so rewriting is
    *    idempotent).
    * The hint advances last.
    */
  def link(v: Long, body: String, written: Seq[(String, String)], carried: Seq[String]): Unit = {
    carried.foreach(reassert)
    val tmp = dir.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    force(tmp)
    try Files.createLink(manifestPath(v), tmp)
    finally Files.deleteIfExists(tmp)
    written.foreach { case (name, b) => writeContent(name, b, touch = true) }
    carried.foreach(reassert)
    writeLatestHint(v)
  }

  /** Touch a carried content file; re-materialize it from its content
    * cache when it is already missing (a cache miss leaves it to the
    * quarantine-restore protocol). */
  private def reassert(name: String): Unit =
    if (!touch(name)) cachedBody(name).foreach(b => writeContent(name, b, touch = true))

  /** The OCC loop of the single-shot metadata commits (merge-on-read
    * deletes, restore, record-index rebuild): resolve the latest version,
    * run `attempt` on it as the base, and on a lost publish race count a
    * redo, back off and retry against the new latest — at most
    * [[Timeline.MaxRetries]] times. */
  def occ[A](attempt: Long => A): A = {
    @annotation.tailrec def go(lost: Int): A =
      (try Right(attempt(latestVersion()))
       catch { case _: FileAlreadyExistsException => Left(lost + 1) }) match {
        case Right(a) => a
        case Left(n) =>
          checkRetryBudget(n)
          AcidTable.conflictRedoCounter.incrementAndGet()
          backoff(n)
          go(n)
      }
    go(0)
  }

  /** Give up with a [[CommitConflictException]] once `lost` publish races
    * exceed the retry budget. */
  def checkRetryBudget(lost: Int): Unit =
    if (lost > MaxRetries)
      throw new CommitConflictException(s"gave up after $MaxRetries conflicts at $tablePath")

  // ---------------------------------------------------------- content store --

  def contentExists(name: String): Boolean = Files.exists(store.resolve(name))

  /** Refresh `name`'s mtime so vacuum's age guard protects it; false when
    * the file is gone. */
  def touch(name: String): Boolean =
    store.resolve(name).toFile.setLastModified(System.currentTimeMillis())

  def readContent(name: String): String = Timeline.readContent(storeDir, name)

  /** Write-if-absent of a content-addressed file ([[Timeline.writeContent]]),
    * counted in `segmentWrites`. */
  def writeContent(name: String, body: String, touch: Boolean = false): Unit =
    if (Timeline.writeContent(storeDir, name, body, touch)) {
      AcidTable.segmentWrites.incrementAndGet(); ()
    }

  /** Write independent content files (name, body) — concurrently above
    * two, the object-store shape (parallel PUTs) that cuts an fsync-bound
    * bulk publish ~linearly in pool width; a trickle commit's one or two
    * segments stay inline. Every write is touched if already present,
    * and all are awaited (failures rethrown) before this returns. */
  def writeAll(files: Seq[(String, String)]): Unit =
    if (files.size <= 2) files.foreach { case (n, b) => writeContent(n, b, touch = true) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(8, files.size))
      try files.map { case (n, b) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = writeContent(n, b, touch = true)
        })
      }.foreach(_.get())
      finally { pool.shutdown(); () }
    }

  /** Copy content file `name` from `other`'s store into this one when it
    * is there (clone and branch publish carry index runs this way). */
  def adopt(other: Timeline, name: String): Unit =
    if (other.contentExists(name)) {
      Timeline.writeContent(storeDir, name, other.readContent(name), touch = false); ()
    }

  /** Resolve one segment (cache-first; a disk read parses the `#segpart=`
    * header and the `<enc file>|<bytes>` entry lines). Every entry must
    * carry its recorded size: an entry without one is refused as an
    * unsupported format. */
  def readSegment(name: String): AcidTable.SegData = {
    AcidTable.segmentResolves.incrementAndGet()
    segments.get(tablePath, name).getOrElse {
      AcidTable.segmentDiskReads.incrementAndGet()
      val lines = readContent(name).linesIterator.filter(_.nonEmpty).toSeq
      val pd = lines.find(_.startsWith("#segpart="))
        .map(l => dec(l.stripPrefix("#segpart="))).getOrElse("")
      val entries = lines.filterNot(_.startsWith("#")).map { l =>
        val i = l.lastIndexOf('|')
        val size = l.substring(i + 1).toLong
        if (size < 0)
          throw new IllegalStateException(
            s"unsupported root format in segment $name of $tablePath: no recorded size in $l")
        (dec(l.substring(0, i)), size)
      }
      val d = AcidTable.SegData(pd, entries)
      segments.put(tablePath, name, d)
      d
    }
  }

  /** One root page's partition lines (cache-first). A page still missing
    * after [[Timeline.readContent]]'s retries is a corrupt root: it fails
    * loudly like a missing segment, and fsck reports it. */
  def readPage(name: String): Seq[String] =
    pages.get(tablePath, name).getOrElse {
      val lines = readContent(name).linesIterator.filter(_.nonEmpty).toSeq
      pages.put(tablePath, name, lines)
      lines
    }

  /** Resolve a record-index generation side file to its member refs
    * (cache-first). THROWS when unreadable after retries — callers on the
    * commit path must abort (a commit that silently dropped inherited
    * refs while the completeness flag carries would turn lookups into
    * wrong proven-empties); read-only callers wrap. */
  def readRliGen(name: String): Seq[AcidTable.RliRef] =
    rliGens.get(tablePath, name).map(_._1).getOrElse {
      val body = readContent(name)
      val refs = body.linesIterator.filter(_.nonEmpty).flatMap(RootView.parseRliRef).toSeq
      rliGens.put(tablePath, name, (refs, body))
      refs
    }

  /** Write a generation side file listing `gen`; returns its name. */
  def writeRliGen(gen: Seq[AcidTable.RliRef]): String = {
    val body = gen.map(RootView.renderRliRef).mkString("\n")
    val name = contentName("rlg", body)
    writeContent(name, body, touch = true)
    rliGens.put(tablePath, name, (gen, body))
    name
  }

  /** Resolve one record-index run (cache-first). */
  def readRli(name: String): AcidTable.RliData =
    rlis.get(tablePath, name).getOrElse {
      val d = parseRli(readContent(name))
      rlis.put(tablePath, name, d)
      d
    }

  /** Write one sorted run of `<enc key>|<enc partition>` lines; returns its
    * name. `remember` keeps the parsed run in the cache — for a commit's
    * small delta the next probe reads, not for a fold's shards. */
  def writeRli(lines: Seq[String], remember: Boolean): String = {
    val body = lines.mkString("\n")
    val name = contentName("rli", body)
    writeContent(name, body, touch = true)
    if (remember) rlis.put(tablePath, name, parseRli(body))
    name
  }

  /** The body of content file `name` rebuilt from its cache entry, when
    * cached — byte-identical to what was written, so it hashes to the
    * name (the repair and re-assert source). */
  def cachedBody(name: String): Option[String] =
    if (name.startsWith("page-")) pages.get(tablePath, name).map(_.mkString("\n"))
    else if (name.startsWith("seg-"))
      segments.get(tablePath, name).map(d => segmentBody(d.partDir, d.entries)._2)
    else if (name.startsWith("rlg-")) rliGens.get(tablePath, name).map(_._2)
    else rlis.get(tablePath, name).map(_.body)

  // ------------------------------------------------ content garbage collection --

  /** Vacuum's sweep of the content store. Temp and quarantine files older
    * than `cutoff` are deleted (crashed publishers and GCs). A file that is
    * `dead` and older than `cutoff` is quarantined, not deleted: its mtime
    * is re-read at the last instant (a publisher touches reused content
    * both before its root links and in its post-link re-assert, so a fresh
    * touch means a live reuse is in flight), then it is RENAMED aside
    * atomically and `revived` rechecks the roots published since the
    * caller's scan. A root that linked before the recheck restores the
    * file from quarantine; one that links after is healed by its own
    * publisher's post-link re-assert, which finds the file missing and
    * rewrites it. Residual best-effort window: a publisher that crashes
    * between its root link and its re-assert while this GC's recheck ran
    * before that link — detectable (fsck reports the dangling ref). */
  def sweepStore(cutoff: Long, dead: String => Boolean, revived: String => Boolean): Unit =
    Option(store.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      val name = f.getName
      if ((name.startsWith(".tmp-") || name.startsWith(".gc-")) && f.lastModified() < cutoff) {
        f.delete(); ()
      } else if (dead(name) && f.lastModified() < cutoff) {
        val q = store.resolve(s".gc-${UUID.randomUUID()}")
        val renamed = f.lastModified() < cutoff && (
          try { Files.move(f.toPath, q, StandardCopyOption.ATOMIC_MOVE); true }
          catch { case _: java.io.IOException => false })
        if (renamed) {
          if (revived(name)) {
            // REPLACE_EXISTING is safe — content-addressed, so a
            // concurrent publisher's rewrite holds identical bytes
            try Files.move(q, f.toPath, StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
            catch { case _: java.io.IOException => () }
            ()
          } else { Files.deleteIfExists(q); () }
        }
      }
    }

  /** Quarantine files older than `cutoff`: a GC that never resolved. */
  def staleQuarantine(cutoff: Long): Seq[String] =
    Option(store.toFile.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.getName.startsWith(".gc-") && f.lastModified() < cutoff)
      .map(_.getName)

  /** Every quarantine file, keyed by the SHA-1 of its body — the bytes a
    * dangling content ref of that hash can be recovered from. */
  def quarantineByHash(): Map[String, String] =
    Option(store.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(".gc-")).flatMap { f =>
        scala.util.Try {
          val body = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
          AcidTable.sha1Hex(body) -> f.getName
        }.toOption
      }.toMap

  /** Move quarantine file `q` back to content name `name`; true when the
    * file is in place afterwards (a racing publisher or GC may have
    * restored it first). */
  def unquarantine(q: String, name: String): Boolean =
    try { Files.move(store.resolve(q), store.resolve(name), StandardCopyOption.ATOMIC_MOVE); true }
    catch { case _: java.io.IOException => contentExists(name) }

  def deleteContent(name: String): Unit = { Files.deleteIfExists(store.resolve(name)); () }

  // ------------------------------------------------------------------- tags --

  /** Link tag `name` to version `v`, create-exclusive: tags are immutable. */
  def createTag(name: String, v: Long): Unit = {
    Files.createDirectories(tags)
    val tmp = tags.resolve(s".tmp-${UUID.randomUUID()}")
    Files.write(tmp, s"$v\n".getBytes(StandardCharsets.UTF_8))
    try Files.createLink(tags.resolve(name), tmp)
    catch {
      case _: FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"tag '$name' already exists on $tablePath (tags are immutable; DROP TAG first)")
    }
    finally { Files.deleteIfExists(tmp); () }
  }

  /** Remove tag `name`; false when there is no such tag. */
  def dropTag(name: String): Boolean = Files.deleteIfExists(tags.resolve(name))

  def tagNames(): Seq[String] =
    Option(tags.toFile.list()).getOrElse(Array.empty).toSeq.filterNot(_.startsWith("."))

  /** The version tag `name` pins; `NoSuchFileException` when there is no
    * such tag. */
  def readTag(name: String): Long =
    new String(Files.readAllBytes(tags.resolve(name)), StandardCharsets.UTF_8).trim.toLong
}

private[lake] object Timeline {

  private val CommitsDir = "_commits"
  private val LatestHint = "_latest.hint"
  private val TagsDir = "_tags"
  /** The content store under `_commits`. */
  val SegmentsDir = "_segments"

  private val ManifestName = """v(\d{12})\.txt""".r
  def manifestFileName(v: Long): String = f"v$v%012d.txt"

  // generous: under a FIFO local scheduler a writer queued behind reader
  // scans can lose many consecutive publish races; the jittered backoff
  // breaks the phase-lock, the budget bounds pathological livelock
  val MaxRetries = 300

  /** Capped exponential backoff with jitter after the `lost`-th lost
    * publish race: without it a writer that keeps losing can starve
    * behind a faster peer until the retry budget drains (observed in the
    * 1000-txn run as 100-conflict streaks). */
  def backoff(lost: Int): Unit = {
    val cap = math.min(1L << math.min(lost, 8), 256L)
    Thread.sleep(java.util.concurrent.ThreadLocalRandom.current().nextLong(cap * 2) + 1)
  }

  // process-wide caches keyed (table path, name or version); content
  // addressing makes content entries permanently valid, so the bounds
  // limit memory only. Views are checked against the root file's
  // (mtime, size): a published root is immutable, but an archived one
  // must fail again (typed) and a rewritten one must be parsed — and
  // refused — again.
  private val views = new Lru[Long, (FileTime, Long, RootView)](8)
  private val segments = new Lru[String, AcidTable.SegData](8192)
  // 64 pages × ~100 KB ≈ 6 MB
  private val pages = new Lru[String, Seq[String]](64)
  private val rliGens = new Lru[String, (Seq[AcidTable.RliRef], String)](64)
  // a few tables' merged shards plus their delta tails
  private val rlis = new Lru[String, AcidTable.RliData](256)

  private def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")

  /** `<kind>-<sha1 of body>.txt`: the content-addressed name. */
  def contentName(kind: String, body: String): String =
    s"$kind-${AcidTable.sha1Hex(body)}.txt"

  /** (name, body) of the segment listing `entries` (sorted by the caller)
    * for partition dir `pd`. */
  def segmentBody(pd: String, entries: Seq[(String, Long)]): (String, String) = {
    val body = (s"#segpart=${enc(pd)}" +: entries.map { case (f, b) => s"${enc(f)}|$b" })
      .mkString("\n")
    (contentName("seg", body), body)
  }

  /** One record-index run's `<enc key>|<enc partition>` lines, parsed. */
  private def parseRli(body: String): AcidTable.RliData = {
    val lines = body.linesIterator.filter(_.nonEmpty).toArray
    val ks = new Array[String](lines.length)
    val ps = new Array[String](lines.length)
    var i = 0
    while (i < lines.length) {
      val j = lines(i).indexOf('|')
      ks(i) = lines(i).substring(0, j)
      ps(i) = lines(i).substring(j + 1)
      i += 1
    }
    AcidTable.RliData(ks, ps, body)
  }

  /** Read content file `name` of store `dir`. Executor-safe and
    * cache-free. A missing file is retried 20 times, sleeping 5·(n+1) ms:
    * vacuum quarantines a dead-looking file by RENAME before its liveness
    * recheck, so a reader racing a reused file can observe the gap between
    * the rename and the GC's restore or the publisher's post-link rewrite,
    * both of which re-materialize the same content-addressed bytes. Still
    * missing after that, the file is gone: the `NoSuchFileException`
    * propagates. */
  def readContent(dir: String, name: String): String = {
    val p = Paths.get(dir).resolve(name)
    @annotation.tailrec def read(attempt: Int): String = {
      val body =
        try Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
        catch { case e: NoSuchFileException => if (attempt >= 20) throw e else None }
      body match {
        case Some(b) => b
        case None =>
          Thread.sleep(5L * (attempt + 1))
          read(attempt + 1)
      }
    }
    read(0)
  }

  /** A record-index run's (key, partition) entries, read on an executor. */
  def readRliEntries(dir: String, name: String): Seq[(String, String)] = {
    val d = parseRli(readContent(dir, name))
    d.keys.indices.map(i => (d.keys(i), d.parts(i)))
  }

  /** Content-addressed write-if-absent into store `dir`, executor-safe:
    * temp file, fsync, create-exclusive link; losing the creation race is
    * success, since the same name means the same bytes. A file already
    * present is touched when `touch` is set, which keeps a reused file
    * clear of vacuum's age guard. Returns whether this call wrote it. */
  def writeContent(dir: String, name: String, body: String, touch: Boolean): Boolean = {
    val d = Paths.get(dir)
    val target = d.resolve(name)
    if (Files.exists(target)) {
      if (touch) target.toFile.setLastModified(System.currentTimeMillis())
      false
    } else {
      Files.createDirectories(d)
      val tmp = d.resolve(s".tmp-${UUID.randomUUID()}")
      Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
      force(tmp)
      try Files.createLink(target, tmp)
      catch { case _: FileAlreadyExistsException => () }
      finally { Files.deleteIfExists(tmp); () }
      true
    }
  }

  private def force(p: Path): Unit = {
    val ch = FileChannel.open(p, StandardOpenOption.WRITE)
    try ch.force(true) finally ch.close()
  }
}
