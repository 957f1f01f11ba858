package graft.lake

import java.net.{URLDecoder, URLEncoder}

/** One root manifest, parsed ONCE from one read of its file — the only
  * form in which [[AcidTable]] sees a root ([[Timeline.rootView]]).
  * Every field a read of version `v` needs derives from this one value,
  * so two fields of one read can never come from two states of the
  * timeline (the Delta Lake `Snapshot` design: one log read, every field
  * derived from it).
  *
  * The one root format, written by [[RootView.render]] and refused in
  * any other shape by [[RootView.parse]]:
  * {{{
  * #ts=<publish millis>
  * #touched=<enc part>[|<bucket>],...           cells the commit rewrote
  * #segments=1                                  format stamp
  * #pages=<N>                                   paged roots only
  * #op=<enc operation label>
  * #dvs=<enc part>|<bucket>|<enc key>,...       live deletion vectors, optional
  * #rligen=<side file>|<n> #rli=<ref>,... #rlidone=1   record index, optional
  * @<enc partdir>|<segment>|<files>|<bytes>|<enc col>:<lo>:<hi>;...
  * @@<page>|<lines>|<bucket>|<files>|<bytes>    pages of `@` lines, paged roots
  * }}}
  *
  * Headers decode eagerly. Page expansion, ref parsing and segment
  * resolution are lazy, so a header-only reader (history, the conflict
  * checks, the streaming sink's dedup walk) never expands a page or
  * resolves a segment.
  */
private[lake] final class RootView private (
    /** `#ts=` commit time. */
    val ts: Long,
    /** `#touched=` cells the producing commit rewrote. */
    val touched: Set[FileCell],
    /** `#op=` operation label. */
    val op: String,
    /** `#dvs=` live deletion-vector entries. */
    val dvs: Seq[DvEntry],
    /** `#pages=` bucket count of a paged root. */
    val pages: Option[Int],
    val rli: RootView.Rli,
    /** The `@` / `@@` lines exactly as written. */
    val rawRefLines: Seq[String],
    readPage: String => Seq[String],
    readSegment: String => AcidTable.SegData) {

  /** One `@` line per live partition, `@@` pages expanded. */
  lazy val refLines: Seq[String] =
    if (!rawRefLines.exists(_.startsWith("@@"))) rawRefLines
    else rawRefLines.flatMap(l =>
      if (l.startsWith("@@")) readPage(RootView.pageName(l)) else Seq(l))

  lazy val segRefs: Seq[AcidTable.SegRef] = refLines.map(RootView.parseSegRef)

  /** Every live (file, recorded size) entry, in ref order — segment
    * resolution runs 8-way above 64 refs (cache hits after the first
    * touch; the pool pays off on the cold object-store-shaped read). */
  lazy val entries: Seq[(String, Long)] =
    if (segRefs.size <= 64) segRefs.flatMap(r => readSegment(r.name).entries)
    else Par.map(segRefs)(r => readSegment(r.name).entries).flatten

  lazy val files: Seq[String] = entries.map(_._1)

  lazy val sizes: Map[String, Long] = entries.toMap

  /** The entries of the partition dirs `dirs` only — resolves just those
    * partitions' segments, the O(#cells) metadata read that keeps a
    * hinted lookup and a cell-scoped commit flat in table size. */
  def entriesFor(dirs: Set[String]): Seq[(String, Long)] =
    if (dirs.isEmpty) Nil
    else segRefs.filter(r => dirs.contains(r.partDir)).flatMap(r => readSegment(r.name).entries)

  /** (files, bytes, partitions): summed from a paged root's `@@`
    * aggregates without expanding a page, else from the `@` lines. */
  lazy val totals: (Long, Long, Long) = {
    val pageRefs = rawRefLines.filter(_.startsWith("@@")).map(_.substring(2).split("\\|", -1))
    if (pageRefs.nonEmpty)
      (pageRefs.map(_(3).toLong).sum, pageRefs.map(_(4).toLong).sum, pageRefs.map(_(1).toLong).sum)
    else (segRefs.map(_.count).sum, segRefs.map(_.bytes).sum, segRefs.size.toLong)
  }
}

private[lake] object RootView {

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String = URLDecoder.decode(s, "UTF-8")

  /** The state before the first commit: no files, no headers. */
  val Empty: RootView = new RootView(0L, Set.empty, "", Nil, None, Rli(None, Nil, false, Nil), Nil,
    _ => Nil, n => throw new IllegalStateException(s"empty root has no segment $n"))

  /** Parse and check one root file's lines. The one readable format: a
    * `#segments=1` stamp, a parseable `#ts=`, a `#touched=` and an
    * `#op=` header, and — on a paged root — `@@` refs carrying their
    * (lines, bucket, files, bytes) aggregates. Anything else (a hand
    * edit, a foreign or older writer) goes to `unsupported` with the
    * reason, instead of being half-read downstream. */
  def parse(
      lines: Seq[String],
      unsupported: String => Nothing,
      readPage: String => Seq[String],
      readSegment: String => AcidTable.SegData): RootView = {
    val headers = lines.takeWhile(_.startsWith("#"))
    def header(key: String): Option[String] =
      headers.find(_.startsWith(key)).map(_.stripPrefix(key))
    if (!headers.contains("#segments=1")) unsupported("no #segments=1 header")
    val touched = header("#touched=").getOrElse(unsupported("no #touched= header"))
    val ts = header("#ts=") match {
      case None => unsupported("no #ts= header")
      case Some(s) => s.toLongOption.getOrElse(unsupported(s"unparseable #ts=$s"))
    }
    val op = header("#op=").getOrElse(unsupported("no #op= header"))
    val refLines = lines.filter(_.startsWith("@"))
    refLines.iterator.filter(_.startsWith("@@")).foreach { l =>
      val p = l.substring(2).split("\\|", -1)
      if (p.length != 5 || !p.iterator.drop(1).forall(_.toLongOption.isDefined))
        unsupported(s"page ref without aggregates: $l")
    }
    new RootView(ts, decodeTouched(touched), dec(op),
      header("#dvs=").map(decodeDvs).getOrElse(Nil),
      header("#pages=").flatMap(_.toIntOption), Rli.of(headers),
      refLines, readPage, readSegment)
  }

  /** `<url-encoded part>|<bucket>`: the encoding maps '|' to %7C, so a
    * literal '|' is always the separator; an entry without one is
    * partition scope (global ops, coarse partitions). */
  private def decodeTouched(csv: String): Set[FileCell] =
    if (csv.isEmpty) Set.empty
    else csv.split(',').toSet.map { (s: String) =>
      val i = s.lastIndexOf('|')
      val bucket = if (i < 0) -1 else s.substring(i + 1).toIntOption.getOrElse(-1)
      FileCell(dec(if (i < 0 || bucket < 0) s else s.substring(0, i)), bucket)
    }

  private def decodeDvs(csv: String): Seq[DvEntry] =
    if (csv.isEmpty) Nil
    else csv.split(',').toSeq.flatMap { s =>
      s.split('|') match {
        case Array(p, b, k) => b.toIntOption.map(DvEntry(dec(p), _, dec(k)))
        case _ => None
      }
    }

  def parseSegRef(l: String): AcidTable.SegRef = {
    val p = l.substring(1).split("\\|", -1)
    val pstats =
      if (p.length < 5 || p(4).isEmpty) Map.empty[String, (Long, Long)]
      else p(4).split(';').iterator.flatMap { e =>
        e.split(':') match {
          case Array(c, lo, hi) =>
            for (a <- lo.toLongOption; b <- hi.toLongOption) yield dec(c) -> (a, b)
          case _ => None
        }
      }.toMap
    AcidTable.SegRef(dec(p(0)), p(1), p(2).toLong, p(3).toLong, pstats)
  }

  /** The URL-encoded partition dir of an `@` line, as written. */
  def encodedDir(l: String): String = {
    val i = l.indexOf('|'); if (i > 1) l.substring(1, i) else l
  }

  /** The partition dir of an `@` line. */
  def refLineDir(l: String): String = dec(encodedDir(l))

  def pageName(pageRef: String): String = pageRef.substring(2).takeWhile(_ != '|')

  def pageBucket(pageRef: String): Int = pageRef.substring(2).split("\\|", -1)(2).toInt

  /** The record-index header group: the generation side file (name,
    * member count), the inline refs, the completeness flag, and the
    * `#rligen=` / `#rli=` lines as written — carried verbatim by commits
    * that leave the index unchanged. */
  final case class Rli(
      gen: Option[(String, Long)], inline: Seq[Indexes.RliRef], done: Boolean,
      lines: Seq[String])

  object Rli {
    def of(headers: Seq[String]): Rli = {
      val lines = headers.filter(l => l.startsWith("#rligen=") || l.startsWith("#rli="))
      val gen = lines.find(_.startsWith("#rligen=")).flatMap { l =>
        l.stripPrefix("#rligen=").split('|') match {
          case Array(n, c) => c.toLongOption.map((n, _))
          case _ => None
        }
      }
      val inline = lines.find(_.startsWith("#rli=")).toSeq.flatMap(
        _.stripPrefix("#rli=").split(',').iterator.filter(_.nonEmpty).flatMap(parseRliRef))
      Rli(gen, inline, headers.contains(RliDoneLine), lines)
    }
  }

  val RliDoneLine = "#rlidone=1"

  def renderRliRef(r: Indexes.RliRef): String = s"${r.name}|${r.shard}|${r.nShards}|${r.count}"

  def parseRliRef(s: String): Option[Indexes.RliRef] = s.split('|') match {
    case Array(n, sh, ns, c) =>
      for (a <- sh.toIntOption; b <- ns.toIntOption; d <- c.toLongOption)
        yield Indexes.RliRef(n, a, b, d)
    case _ => None
  }

  def rliInlineLine(refs: Seq[Indexes.RliRef]): String =
    "#rli=" + refs.map(renderRliRef).mkString(",")

  def rliGenLine(sideFile: String, members: Long): String = s"#rligen=$sideFile|$members"

  def segRefLine(
      pd: String, segment: String, files: Int, bytes: Long,
      envelopes: Seq[(String, (Long, Long))]): String =
    s"@${enc(pd)}|$segment|$files|$bytes|" +
      envelopes.map { case (c, (lo, hi)) => s"${enc(c)}:$lo:$hi" }.mkString(";")

  def pageRefLine(page: String, lines: Int, bucket: Int, files: Long, bytes: Long): String =
    s"@@$page|$lines|$bucket|$files|$bytes"

  /** The root file body a publish links. */
  def render(
      ts: Long, touched: Seq[FileCell], pages: Option[Int], op: String,
      dvs: Seq[DvEntry], rliLines: Seq[String], refLines: Seq[String]): String = {
    val touchedCsv = touched.map(c =>
      enc(c.part) + (if (c.bucket < 0) "" else s"|${c.bucket}")).mkString(",")
    val dvHeader =
      if (dvs.isEmpty) Nil
      else Seq("#dvs=" + dvs.map(e => s"${enc(e.part)}|${e.bucket}|${enc(e.key)}").mkString(","))
    (Seq(s"#ts=$ts", s"#touched=$touchedCsv", "#segments=1") ++
      pages.map(n => s"#pages=$n") ++ Seq(s"#op=${enc(op)}") ++ dvHeader ++ rliLines ++
      refLines).mkString("\n")
  }
}
