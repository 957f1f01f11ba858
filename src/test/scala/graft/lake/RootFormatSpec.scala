package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** One readable on-disk format. Every root a publish writes carries
  * `#ts=`, `#touched=`, `#op=` and the `#segments=1` format stamp; a root in any
  * other shape (each row below is a hand edit of a freshly written root)
  * is refused with an `IllegalStateException` that names the manifest
  * file and its version, and `fsck` reports it as `unsupported_root_format`
  * instead of skipping it. The stats sidecar and the table metadata are
  * refused the same way when they lack their format keys.
  */
class RootFormatSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("pk", StringType),
    StructField("part", StringType),
    StructField("x", LongType)))

  private def newTable(): AcidTable =
    AcidTable.create(spark, Files.createTempDirectory("rootfmt-").resolve("t").toString,
      schema, "pk", "part", stablePartitions = true)

  private def batch(rows: (String, String, Long)*) = rows.toSeq.toDF("pk", "part", "x")

  /** (name, reason in the error, edit of the root's lines). */
  private val malformedRoots: Seq[(String, String, (AcidTable, Long, Seq[String]) => Seq[String])] =
    Seq(
      ("corrupted #ts= header", "unparseable #ts=not-a-number",
        (_, _, ls) => ls.map(_.replaceAll("^#ts=\\d+$", "#ts=not-a-number"))),
      ("no #ts= header", "no #ts= header",
        (_, _, ls) => ls.filterNot(_.startsWith("#ts="))),
      ("no #touched= header", "no #touched= header",
        (_, _, ls) => ls.filterNot(_.startsWith("#touched="))),
      ("no #op= header", "no #op= header",
        (_, _, ls) => ls.filterNot(_.startsWith("#op="))),
      // data-file lines + `#sizes=` in place of segment references
      ("flat (pre-segment) manifest", "no #segments=1 header",
        (t, v, ls) => {
          val files = t.filesForPartitions(v, Seq("P0", "P1"))
          val sizes = "#sizes=" + files.map(f =>
            s"${java.net.URLEncoder.encode(f, "UTF-8")}:100").mkString(",")
          ls.filter(l => l.startsWith("#ts=") || l.startsWith("#touched=")) ++
            Seq(sizes) ++ files
        }),
      ("page ref without aggregates", "page ref without aggregates",
        (_, _, ls) => ls.filterNot(_.startsWith("@")) :+ "@@page-0.txt|2|0"))

  malformedRoots.foreach { case (name, reason, edit) =>
    test(s"$name: refused loudly, reported by fsck") {
      val t = newTable()
      t.upsert(batch(("a1", "P0", 1L), ("b1", "P1", 10L)))
      t.upsert(batch(("a1", "P0", 2L)))
      val v = t.latestVersion()
      val manifest = Paths.get(t.path, "_commits", f"v$v%012d.txt")
      val edited = edit(t, v, Files.readAllLines(manifest).toArray(Array.empty[String]).toSeq)
      Files.delete(manifest) // a fresh inode: the published one is immutable
      Files.write(manifest, edited.mkString("\n").getBytes("UTF-8"))

      val t2 = AcidTable.open(spark, t.path)
      val reads: Seq[(String, () => Any)] = Seq(
        "snapshot" -> (() => t2.snapshot().collect()),
        "lookup" -> (() => t2.lookup(Seq("a1")).collect()),
        "detail" -> (() => t2.detail().collect()),
        "history" -> (() => t2.history().collect()),
        "upsert" -> (() => t2.upsert(batch(("c1", "P2", 3L)))))
      reads.foreach { case (what, read) =>
        val e = intercept[IllegalStateException](read())
        assert(e.getMessage.contains(manifest.getFileName.toString) &&
          e.getMessage.contains(s"(version $v)") && e.getMessage.contains(reason),
          s"$what: ${e.getMessage}")
      }
      assert(t2.latestVersion() == v, "a commit on a refused root must not publish")

      val found = t2.fsck().filter(col("kind") === "unsupported_root_format").collect()
      assert(found.length == 1, found.toSeq)
      assert(found(0).getLong(1) == v && found(0).getString(2) == manifest.getFileName.toString)
      assert(found(0).getString(3).contains(reason), found(0).getString(3))
    }
  }

  test("segment entry without a recorded size: refused loudly") {
    val t = newTable()
    t.upsert(batch(("a1", "P0", 1L), ("b1", "P1", 10L)))
    val seg = t.timeline.rootView(t.latestVersion()).segRefs.find(_.partDir == "part=P0").get.name
    val segPath = Paths.get(t.path, "_commits", Timeline.SegmentsDir, seg)
    val edited = Files.readAllLines(segPath).toArray(Array.empty[String]).toSeq.map(l =>
      if (l.startsWith("#")) l else l.substring(0, l.lastIndexOf('|')) + "|-1")
    Files.delete(segPath) // a fresh inode: the written segment is immutable
    Files.write(segPath, edited.mkString("\n").getBytes("UTF-8"))
    AcidTable.purgeCachesForSpec(t.path)

    val v = t.latestVersion()
    val reads: Seq[(String, () => Any)] = Seq(
      "snapshot" -> (() => t.snapshot().collect()),
      "lookup" -> (() => t.lookup(Seq("a1"), Some(Seq("P0"))).collect()),
      "upsert" -> (() => t.upsert(batch(("a1", "P0", 2L)))))
    reads.foreach { case (what, read) =>
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("unsupported root format") && e.getMessage.contains(seg) &&
        e.getMessage.contains("no recorded size"), s"$what: ${e.getMessage}")
    }
    assert(t.latestVersion() == v, "a commit on a refused segment must not publish")
    // the other partition's segment still reads
    assert(t.lookup(Seq("b1"), Some(Seq("P1"))).collect().map(_.getLong(2)).toSeq == Seq(10L))
  }

  test("unversioned stats sidecar: refused loudly") {
    val t = newTable()
    t.setTableProperty("statsColumns", Some("x"))
    t.upsert(batch(("a1", "P0", 1L)))
    val sidecar = Paths.get(t.path, AcidTable.ClusterStatsFile)
    val props = new java.util.Properties()
    val in = Files.newInputStream(sidecar)
    try props.load(in) finally in.close()
    assert(props.getProperty(AcidTable.StatsVerKey) == "2", "every write stamps statsver=2")
    assert(t.readClusterStats().nonEmpty)

    // the sidecar shape written before format versioning: no statsver key
    props.remove(AcidTable.StatsVerKey)
    val out = Files.newOutputStream(sidecar)
    try props.store(out, "unversioned sidecar") finally out.close()
    val e = intercept[IllegalStateException](t.readClusterStats())
    assert(e.getMessage.contains(AcidTable.ClusterStatsFile) &&
      e.getMessage.contains("statsver=<absent>"), e.getMessage)
    // a stats-maintaining commit reads the sidecar before it publishes
    val v = t.latestVersion()
    intercept[IllegalStateException](t.upsert(batch(("b1", "P1", 2L))))
    assert(t.latestVersion() == v, "a commit on a refused sidecar must not publish")
  }

  test("table metadata without numBuckets: open refuses it") {
    val t = newTable()
    val meta = Paths.get(t.path, "_meta.properties")
    val props = new java.util.Properties()
    val in = Files.newInputStream(meta)
    try props.load(in) finally in.close()
    assert(props.getProperty("numBuckets") == t.numBuckets.toString)
    props.remove("numBuckets")
    val out = Files.newOutputStream(meta)
    try props.store(out, "metadata without numBuckets") finally out.close()
    val e = intercept[IllegalStateException](AcidTable.open(spark, t.path))
    assert(e.getMessage.contains("_meta.properties") && e.getMessage.contains("numBuckets"),
      e.getMessage)
  }
}
