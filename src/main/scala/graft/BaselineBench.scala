package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, VectorOps}

/** Measured stock-Spark baseline (BASELINE.md's "within 2×" bar): each
  * headline graft query runs next to a STOCK formulation of the same
  * computation in the same JVM — same session, same warmup, same
  * median-of-reps protocol as [[Bench]] — and the ratio is published in
  * BASELINE.md.
  *
  * Two kinds of pair:
  *  - identity pairs (relational/agg/window/top-k): the graft query IS a
  *    single stock-Spark plan; the stock side is the same query re-written
  *    inline against `spark.read.parquet`, so the ratio pins the claim
  *    that the library layer adds nothing (expect ~1.0, catches wrapper
  *    drift);
  *  - formulation pairs (similarity/text): the graft side uses custom
  *    codegen expressions or a replanned pipeline; the stock side is the
  *    stock-HOF formulation of the SAME computation (BASELINE.md's
  *    definition), so the ratio measures what the custom operators buy.
  */
object BaselineBench {

  private def stockDot(a: String, b: String) =
    aggregate(zip_with(col(a), col(b), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions",
        classOf[org.apache.spark.sql.graft.GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def pq(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")

    // shared corpus prep, same as Bench: both sides read the stored
    // signature table, so the pair times are incremental cost only
    val sigPath = graft.queries.TextQueries.materializeSignatures(spark, sfDir)
    def sigs = spark.read.parquet(sigPath)
      .select(col("doc_id"), col("lang"), col("sz"), col("hs"), col("ds"))

    // ---- stock formulations -------------------------------------------------

    def stockFilterProject: DataFrame =
      pq("orders")
        .filter(col("o_totalprice").between(1000.0, 5000.0)
          && col("o_orderstatus").isin("O", "F")
          && col("o_orderpriority").like("%URGENT%")
          && col("o_custkey").isNotNull)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("price2"),
          (col("o_orderkey") % 7).as("bucket7"))
        .orderBy(col("o_orderkey"))

    def stockJoinStar: DataFrame = {
      val o = pq("orders"); val c = pq("customer"); val n = pq("nation"); val r = pq("region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
        .orderBy(col("r_name"), col("n_name"))
    }

    def stockPricingSummary: DataFrame =
      pq("lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)")
            * (lit(1.0) - col("l_discount")).cast("decimal(18,2)")).cast("double").as("sum_disc_price"),
          (sum(col("l_quantity").cast("decimal(18,2)")).cast("double") / count(col("l_quantity")))
            .cast("double").as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))

    def stockSortTopk: DataFrame =
      pq("part").orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        .select(col("p_partkey"), col("p_name"), col("p_retailprice")).limit(25)

    def stockTopkPerGroup: DataFrame = {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      pq("orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn").cast("long").as("rn"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("rn"))
    }

    def stockSimTopkBrute: DataFrame = {
      val e = pq("embeddings").select(col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .withColumn("cos", round(
          stockDot("q_vec", "embedding")
            / (sqrt(stockDot("q_vec", "q_vec")) * sqrt(stockDot("embedding", "embedding"))), 6))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos"),
          col("rk").cast("long").as("rk"))
        .orderBy(col("q_id"), col("rk"))
    }

    def stockEmbedBlocked: DataFrame = {
      val B = 16
      val e = pq("embeddings")
        .select(col("vec_id"), col("embedding"), (col("vec_id") % B).cast("int").as("blk"))
      val lhs = e.select(col("vec_id").as("ida"), col("embedding").as("va"),
        col("blk").as("bi"),
        explode(transform(sequence(col("blk"), lit(B - 1)), j => col("blk") * B + j)).as("task"))
      val rhs = e.select(col("vec_id").as("idb"), col("embedding").as("vb"),
        col("blk").as("bj"),
        explode(transform(sequence(lit(0), col("blk")), i => i * B + col("blk"))).as("task"))
      lhs.join(rhs, Seq("task"))
        .filter(col("bi") =!= col("bj") || col("ida") < col("idb"))
        .withColumn("cos", round(
          stockDot("va", "vb")
            / (sqrt(stockDot("va", "va")) * sqrt(stockDot("vb", "vb"))), 6))
        .filter(col("cos") >= 0.42)
        .select(least(col("ida"), col("idb")).as("vec_a"),
          greatest(col("ida"), col("idb")).as("vec_b"), col("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    }

    def stockNgramJaccard: DataFrame = {
      // same prefix-filtered candidate pipeline; the verify is the stock
      // array_intersect instead of the codegen sorted-merge count
      val sh = sigs
      val tok = sh.select(col("lang"), col("doc_id"),
        explode(expr("slice(hs, 1, ds div 5 + 1)")).as("tok"))
      val cand = tok.as("a").join(tok.as("b"),
          col("a.lang") === col("b.lang") && col("a.tok") === col("b.tok")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
          col("sz").as("sz_a"), col("ds").as("ds_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
          col("sz").as("sz_b"), col("ds").as("ds_b")), "doc_b")
        .filter(col("sz_a") * 5 >= col("sz_b") * 4 && col("sz_b") * 5 >= col("sz_a") * 4)
        .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))).cast("double"))
        .withColumn("j", col("inter") / (col("ds_a") + col("ds_b") - col("inter")))
        .filter(col("j") >= 0.8)
        .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }

    def stockSimhash: DataFrame = {
      // the nested-HOF formulation: 24 interpreted folds per document vs
      // the graft explode + codegen hash aggregate
      val hv = pq("documents").select(col("doc_id"),
        transform(array_distinct(split(trim(col("text")), " ")),
          w => TextHash.polyHash(w)).as("hv"))
      val simhash = Seq.tabulate(24) { b =>
        when(aggregate(col("hv"), lit(0L),
          (acc, h) => acc + when(shiftright(h, b) % 2 === 1, 1L).otherwise(-1L)) > 0,
          lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      hv.select(col("doc_id"), simhash.as("simhash")).orderBy(col("doc_id"))
    }

    // the round-8 graft formulation of the signature base build (HOF
    // shingle construction, native per-shingle hash) — what the round-9
    // one-pass ShingleHashExpr replaced
    def stockShingleBase: DataFrame =
      pq("documents").repartition(spark.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("lang"),
          transform(TextHash.wordShingles(col("text"), 2),
            x => TextHash.polyHash(x)).as("hv"))
        .select(col("doc_id"), col("lang"), size(col("hv")).as("sz"),
          array_sort(array_distinct(col("hv"))).as("hs"))
        .withColumn("ds", size(col("hs")))

    // ---- pairs --------------------------------------------------------------

    def entry(name: String): () => DataFrame =
      () => SparkEntry.queries(name)(spark, sfDir)

    // (label, graft formulation, stock formulation)
    val pairs: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
      ("filter_project", entry("q_filter_project"), () => stockFilterProject),
      ("join_star", entry("q_join_star"), () => stockJoinStar),
      ("agg_pricing_summary", entry("q_agg_pricing_summary"), () => stockPricingSummary),
      ("sort_topk", entry("q_sort_topk"), () => stockSortTopk),
      ("topk_per_group", entry("q_topk_per_group"), () => stockTopkPerGroup),
      ("sim_topk_brute", entry("q_sim_topk_brute"), () => stockSimTopkBrute),
      ("embed_cosine_blocked", entry("q_dedup_embed_cosine_blocked"), () => stockEmbedBlocked),
      ("ngram_jaccard", entry("q_dedup_ngram_jaccard"), () => stockNgramJaccard),
      ("simhash", entry("q_dedup_simhash"), () => stockSimhash),
      // the signature-store corpus pass: round-9 one-pass codegen vs the
      // interpreted HOF shingle chain it replaced
      ("shingle_build",
        () => graft.queries.TextQueries.shingleBaseOf(spark, pq("documents")),
        () => stockShingleBase),
      // the native as-of plan vs the stock window formulation (both are
      // declared queries — the stock side here is q_join_asof itself)
      ("asof_join", entry("q_join_asof_native"), entry("q_join_asof")))

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3)
    def median(thunk: () => DataFrame): Double = {
      val ts = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        graft.queries.TextQueries.clearShingleCache()
        time { thunk().write.format("noop").mode("overwrite").save() }
      }.sorted
      ts(ts.size / 2)
    }

    // warmup (same shape as Bench)
    {
      val w = pq("nation")
      w.groupBy(col("n_regionkey")).agg(count(lit(1)).as("n"))
        .join(w.select(col("n_regionkey")).distinct(), "n_regionkey")
        .write.format("noop").mode("overwrite").save()
      Seq(("a", 1L)).toDF("k", "v").select(transform(array(col("v")), x => x + 1))
        .write.format("noop").mode("overwrite").save()
    }

    // optional label-prefix filter for measuring one new pair without
    // re-running the whole table (mirrors Bench's SPARK_GRAFT_BENCH_ONLY)
    val abOnly = sys.env.get("SPARK_GRAFT_AB_ONLY").map(_.split(',').toSeq)
    def abSelected(l: String): Boolean = abOnly.forall(_.exists(l.startsWith))

    println("| pair | graft sec | stock sec | ratio graft/stock |")
    println("|---|---|---|---|")
    val rows = pairs.filter(p => abSelected(p._1)).map { case (label, graft, stock) =>
      val g = median(graft)
      val s0 = median(stock)
      println(f"| $label | $g%.3f | $s0%.3f | ${g / s0}%.2f |")
      (label, g, s0)
    }
    // matview incremental-vs-recompute pairs (round-10 verdict #3): after a
    // SMALL localized source commit (~64 rows — NOT timed; both sides face
    // the same changed source), bring the view current. The graft side
    // folds the CDC delta into the stored state (cost ∝ the commit's
    // touched cells + #touched groups); the stock side is what a user
    // without the matview runs — the full GROUP BY over the source
    // snapshot. Measured at TWO source scales with the SAME delta: the
    // refresh cost should stay flat while the recompute grows with the
    // source — the trend that is the view's reason to exist at 100 TB.
    def mvPair(label: String, replicas: Int): (String, Double, Double) = {
      import graft.lake.{AcidTable, MatView, MvAgg}
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("pk", LongType), StructField("part", StringType),
        StructField("grp", StringType),
        StructField("price", DecimalType(18, 2)), StructField("ck", LongType)))
      val t = AcidTable.create(spark,
        Files.createTempDirectory(s"ab-mv-$label-").resolve("t").toString,
        schema, "pk", "part", stablePartitions = true)
      val base = pq("orders")
        .crossJoin(spark.range(replicas).select(col("id").as("rep")))
        .select(
          (col("o_orderkey") * replicas + col("rep")).cast("long").as("pk"),
          concat_ws("", lit("p"), (col("o_orderkey") % 16).cast("string")).as("part"),
          col("o_orderpriority").as("grp"),
          col("o_totalprice").cast("decimal(18,2)").as("price"),
          col("o_custkey").cast("long").as("ck"))
      t.upsert(base)
      // fold the bulk load's partition-scope files back into per-bucket
      // file groups: the production lifecycle after any bulk load, and
      // what keeps later small upserts (and the CDC diff reading their
      // cells) cell-scoped instead of whole-partition COW
      t.compact(0)
      val mv = MatView.create(spark, t,
        Files.createTempDirectory(s"ab-mv-v-$label-").resolve("v").toString,
        Seq("grp"), Seq(MvAgg("cnt", "count", "*"), MvAgg("rev", "sum", "price"),
          MvAgg("avgck", "avg", "ck")))
      val gts = scala.collection.mutable.ArrayBuffer.empty[Double]
      val sts = scala.collection.mutable.ArrayBuffer.empty[Double]
      (0 until reps).foreach { i =>
        // ~8 updated rows per rep, same count at every replica scale — the
        // realistic CDC-maintained-view regime (delta ≪ source)
        t.upsert(base.filter(col("pk") % (18701L * replicas) === i)
          .withColumn("price", (col("price") * lit(2)).cast("decimal(18,2)")))
        gts += time { mv.refresh() }
        sts += time {
          t.snapshot().groupBy(col("grp"))
            .agg(count(lit(1)).as("cnt"),
              sum(col("price")).as("rev"),
              (sum(col("ck")).cast("double") / count(col("ck"))).as("avgck"))
            .write.format("noop").mode("overwrite").save()
        }
      }
      val g = gts.sorted.apply(gts.size / 2)
      val s0 = sts.sorted.apply(sts.size / 2)
      println(f"| $label | $g%.3f | $s0%.3f | ${g / s0}%.2f |")
      (label, g, s0)
    }
    val mvRows = Seq("matview_refresh_1x" -> 1, "matview_refresh_64x" -> 64)
      .filter(p => abSelected(p._1)).map(p => mvPair(p._1, p._2))

    // star-join matview pair (round 18, r17 verdict #2): the SAME trickle
    // regime over `fact ⋈ dim GROUP BY dim.seg` — after a small fact
    // commit, the graft side folds delta-fact ⋈ dim into the stored
    // state (NO fact scan: the bilinear decomposition's fact-only term);
    // the stock side is the star rollup a user without the view runs —
    // full fact scan ⋈ dim + GROUP BY. Two fact scales, same delta: the
    // refresh must stay flat while the recompute grows with the fact.
    def mvJoinPair(label: String, replicas: Int): (String, Double, Double) = {
      import graft.lake.{AcidTable, MatView, MvAgg, MvJoin}
      import org.apache.spark.sql.types._
      val factSchema = StructType(Seq(
        StructField("pk", LongType), StructField("part", StringType),
        StructField("ck", StringType), StructField("price", DecimalType(18, 2))))
      val dimSchema = StructType(Seq(
        StructField("ckey", StringType), StructField("dpart", StringType),
        StructField("seg", StringType)))
      val fact = AcidTable.create(spark,
        Files.createTempDirectory(s"ab-mvj-$label-").resolve("f").toString,
        factSchema, "pk", "part", stablePartitions = true)
      val dim = AcidTable.create(spark,
        Files.createTempDirectory(s"ab-mvj-$label-").resolve("d").toString,
        dimSchema, "ckey", "dpart", stablePartitions = true)
      val base = pq("orders")
        .crossJoin(spark.range(replicas).select(col("id").as("rep")))
        .select(
          (col("o_orderkey") * replicas + col("rep")).cast("long").as("pk"),
          concat_ws("", lit("p"), (col("o_orderkey") % 16).cast("string")).as("part"),
          col("o_custkey").cast("string").as("ck"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      fact.upsert(base)
      fact.compact(0)
      dim.upsert(pq("customer").select(
        col("c_custkey").cast("string").as("ckey"),
        concat_ws("", lit("q"), (col("c_nationkey") % 4).cast("string")).as("dpart"),
        col("c_mktsegment").as("seg")))
      val mv = MatView.create(spark, fact,
        Files.createTempDirectory(s"ab-mvj-v-$label-").resolve("v").toString,
        Seq("seg"), Seq(MvAgg("cnt", "count", "*"), MvAgg("rev", "sum", "price")),
        joins = Seq(MvJoin(dim.path, "ck", "ckey", Seq("seg"))))
      val gts = scala.collection.mutable.ArrayBuffer.empty[Double]
      val sts = scala.collection.mutable.ArrayBuffer.empty[Double]
      (0 until reps).foreach { i =>
        fact.upsert(base.filter(col("pk") % (18701L * replicas) === i)
          .withColumn("price", (col("price") * lit(2)).cast("decimal(18,2)")))
        gts += time { mv.refresh() }
        sts += time {
          fact.snapshot()
            .join(dim.snapshot().select(col("ckey"), col("seg")),
              col("ck") === col("ckey"), "inner")
            .groupBy(col("seg"))
            .agg(count(lit(1)).as("cnt"), sum(col("price")).as("rev"))
            .write.format("noop").mode("overwrite").save()
        }
      }
      val g = gts.sorted.apply(gts.size / 2)
      val s0 = sts.sorted.apply(sts.size / 2)
      println(f"| $label | $g%.3f | $s0%.3f | ${g / s0}%.2f |")
      (label, g, s0)
    }
    val mvJoinRows =
      Seq("matview_join_refresh_1x" -> 1, "matview_join_refresh_64x" -> 64)
        .filter(p => abSelected(p._1)).map(p => mvJoinPair(p._1, p._2))

    // multi-dim star matview pair (round 18b): the same trickle regime
    // over `fact ⋈ dim1 ⋈ dim2 GROUP BY d1.seg, d2.pclass` — the graft
    // side folds delta-fact ⋈ both dims (driver point lookups, zero
    // jobs); the stock side recomputes the two-dim star rollup. The
    // refresh must stay flat across the fact scale-up while the
    // recompute grows with the fact.
    def mvStarPair(label: String, replicas: Int): (String, Double, Double) = {
      import graft.lake.{AcidTable, MatView, MvAgg, MvJoin}
      import org.apache.spark.sql.types._
      val factSchema = StructType(Seq(
        StructField("pk", LongType), StructField("part", StringType),
        StructField("ck", StringType), StructField("pr", StringType),
        StructField("price", DecimalType(18, 2))))
      val dim1Schema = StructType(Seq(
        StructField("ckey", StringType), StructField("dpart", StringType),
        StructField("seg", StringType)))
      val dim2Schema = StructType(Seq(
        StructField("prio", StringType), StructField("ppart", StringType),
        StructField("pclass", StringType)))
      val fact = AcidTable.create(spark,
        Files.createTempDirectory(s"ab-mvs-$label-").resolve("f").toString,
        factSchema, "pk", "part", stablePartitions = true)
      val dim1 = AcidTable.create(spark,
        Files.createTempDirectory(s"ab-mvs-$label-").resolve("d1").toString,
        dim1Schema, "ckey", "dpart", stablePartitions = true)
      val dim2 = AcidTable.create(spark,
        Files.createTempDirectory(s"ab-mvs-$label-").resolve("d2").toString,
        dim2Schema, "prio", "ppart", stablePartitions = true)
      val base = pq("orders")
        .crossJoin(spark.range(replicas).select(col("id").as("rep")))
        .select(
          (col("o_orderkey") * replicas + col("rep")).cast("long").as("pk"),
          concat_ws("", lit("p"), (col("o_orderkey") % 16).cast("string")).as("part"),
          col("o_custkey").cast("string").as("ck"),
          col("o_orderpriority").as("pr"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
      fact.upsert(base)
      fact.compact(0)
      dim1.upsert(pq("customer").select(
        col("c_custkey").cast("string").as("ckey"),
        concat_ws("", lit("q"), (col("c_nationkey") % 4).cast("string")).as("dpart"),
        col("c_mktsegment").as("seg")))
      dim2.upsert(pq("orders").select(col("o_orderpriority")).distinct()
        .select(col("o_orderpriority").as("prio"), lit("r0").as("ppart"),
          when(substring(col("o_orderpriority"), 1, 1).isin("1", "2"), lit("HOT"))
            .otherwise(lit("COLD")).as("pclass")))
      val mv = MatView.create(spark, fact,
        Files.createTempDirectory(s"ab-mvs-v-$label-").resolve("v").toString,
        Seq("seg", "pclass"),
        Seq(MvAgg("cnt", "count", "*"), MvAgg("rev", "sum", "price")),
        joins = Seq(MvJoin(dim1.path, "ck", "ckey", Seq("seg")),
          MvJoin(dim2.path, "pr", "prio", Seq("pclass"))))
      val gts = scala.collection.mutable.ArrayBuffer.empty[Double]
      val sts = scala.collection.mutable.ArrayBuffer.empty[Double]
      (0 until reps).foreach { i =>
        fact.upsert(base.filter(col("pk") % (18701L * replicas) === i)
          .withColumn("price", (col("price") * lit(2)).cast("decimal(18,2)")))
        gts += time { mv.refresh() }
        sts += time {
          fact.snapshot()
            .join(dim1.snapshot().select(col("ckey"), col("seg")),
              col("ck") === col("ckey"), "inner")
            .join(dim2.snapshot().select(col("prio"), col("pclass")),
              col("pr") === col("prio"), "inner")
            .groupBy(col("seg"), col("pclass"))
            .agg(count(lit(1)).as("cnt"), sum(col("price")).as("rev"))
            .write.format("noop").mode("overwrite").save()
        }
      }
      val g = gts.sorted.apply(gts.size / 2)
      val s0 = sts.sorted.apply(sts.size / 2)
      println(f"| $label | $g%.3f | $s0%.3f | ${g / s0}%.2f |")
      (label, g, s0)
    }
    val mvStarRows =
      Seq("matview_star_refresh_1x" -> 1, "matview_star_refresh_64x" -> 64)
        .filter(p => abSelected(p._1)).map(p => mvStarPair(p._1, p._2))

    // bloom point-lookup pair (round-11b): the metadata-pruned keyed read
    // vs the stock partitioned-parquet scan+filter a user without the
    // lake runs over the SAME rows and comparable file count. The graft
    // side's file list prunes partition → bucket → bloom to ~1 file from
    // manifest strings + ~12 KB sidecars BEFORE any Spark plan exists;
    // the stock side plans all files and relies on parquet footer stats
    // at execution. At 100 TB the stock side's planning alone is a
    // full-listing cost; here the pair pins that even at sf0.1 the
    // pruned read is not paying for its metadata.
    def bloomPair(label: String): (String, Double, Double) = {
      import graft.lake.AcidTable
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("pk", StringType), StructField("part", StringType),
        StructField("price", DoubleType)))
      val t = AcidTable.create(spark,
        Files.createTempDirectory("ab-bloom-").resolve("t").toString,
        schema, "pk", "part", stablePartitions = true, numBuckets = 4)
      t.setTableProperty("bloomColumns", Some("pk"))
      val base = pq("orders").select(
        col("o_orderkey").cast("string").as("pk"),
        concat_ws("", lit("p"), (col("o_custkey") % 24).cast("string")).as("part"),
        col("o_totalprice").cast("double").as("price"))
      t.upsert(base)
      t.compact(0) // re-bucket the bulk load; the rewrite stamps blooms too
      val stockDir = Files.createTempDirectory("ab-bloom-stock-").resolve("p").toString
      base.write.partitionBy("part").parquet(stockDir)
      val key = "32" // a TPC-H orderkey present at every SF
      val gts = scala.collection.mutable.ArrayBuffer.empty[Double]
      val sts = scala.collection.mutable.ArrayBuffer.empty[Double]
      (0 until reps).foreach { _ =>
        spark.catalog.clearCache()
        gts += time {
          t.lookup(Seq(key)).write.format("noop").mode("overwrite").save()
        }
        sts += time {
          spark.read.parquet(stockDir).filter(col("pk") === key)
            .write.format("noop").mode("overwrite").save()
        }
      }
      val filesKept = t.lookupFiles(Seq(key)).size
      val filesLive = t.liveFilePaths().length
      val filesStock = spark.read.parquet(stockDir).inputFiles.length
      println(s"  ($label files: graft scans $filesKept of $filesLive live; " +
        s"stock plans all $filesStock)")
      val g = gts.sorted.apply(gts.size / 2)
      val s0 = sts.sorted.apply(sts.size / 2)
      println(f"| $label | $g%.3f | $s0%.3f | ${g / s0}%.2f |")
      (label, g, s0)
    }
    val bloomRows =
      if (abSelected("bloom_point_lookup")) Seq(bloomPair("bloom_point_lookup")) else Nil

    // catalog-ACID identity pair (round-14): the SAME filtered aggregation
    // over the SAME rows, once through the catalog's DSv2 batch-scan route
    // (clean-snapshot AcidBatchScan — runtime-filterable, vectorized,
    // whole-stage codegen'd; round 13) and once over a stock
    // partitioned-parquet copy a user without the lake would query. Pins
    // that a catalog read pays ~nothing for the ACID layer, and represents
    // the batch-scan route in the identity table the 2× bar is judged on.
    def acidScanPair(label: String): (String, Double, Double) = {
      import graft.lake.AcidTable
      import org.apache.spark.sql.types._
      val wh = Files.createTempDirectory("ab-acid-wh-").toString
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.lake.GraftCatalog].getName)
      spark.conf.set("spark.sql.graft.warehouse", wh)
      val schema = StructType(Seq(
        StructField("pk", StringType), StructField("part", StringType),
        StructField("prio", StringType), StructField("price", DoubleType)))
      val t = AcidTable.create(spark, s"$wh/ab/ordersacid",
        schema, "pk", "part", stablePartitions = true)
      val base = pq("orders").select(
        col("o_orderkey").cast("string").as("pk"),
        concat_ws("", lit("p"), (col("o_custkey") % 16).cast("string")).as("part"),
        col("o_orderpriority").as("prio"),
        col("o_totalprice").cast("double").as("price"))
      t.upsert(base)
      t.compact(0)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ab")
      val stockDir = Files.createTempDirectory("ab-acid-stock-").resolve("p").toString
      base.write.partitionBy("part").parquet(stockDir)
      val q = "SELECT prio, count(*) AS n, sum(price) AS rev " +
        "FROM %s WHERE price > 1000.0 GROUP BY prio"
      val gts = scala.collection.mutable.ArrayBuffer.empty[Double]
      val sts = scala.collection.mutable.ArrayBuffer.empty[Double]
      (0 until reps).foreach { _ =>
        spark.catalog.clearCache()
        gts += time {
          spark.sql(q.format("graft.ab.ordersacid"))
            .write.format("noop").mode("overwrite").save()
        }
        sts += time {
          spark.read.parquet(stockDir).createOrReplaceTempView("ab_stock_orders")
          spark.sql(q.format("ab_stock_orders"))
            .write.format("noop").mode("overwrite").save()
        }
      }
      val g = gts.sorted.apply(gts.size / 2)
      val s0 = sts.sorted.apply(sts.size / 2)
      println(f"| $label | $g%.3f | $s0%.3f | ${g / s0}%.2f |")
      (label, g, s0)
    }
    val acidScanRows =
      if (abSelected("acid_scan_identity")) Seq(acidScanPair("acid_scan_identity")) else Nil

    // DV-unrelated scan pair (round-14 verdict #1 done-criterion): the
    // SAME catalog aggregation over two IDENTICAL ACID tables, one
    // carrying a single outstanding deletion-vector entry from a point
    // delete in ONE partition. Ratio ≈ 1 pins that an unrelated point
    // delete no longer taxes every read until compaction: clean
    // partitions keep zero-copy vectorized batches; only the one DV
    // file's batches pay the survivor check.
    def acidDvScanPair(label: String): (String, Double, Double) = {
      import graft.lake.AcidTable
      import org.apache.spark.sql.types._
      val wh = Files.createTempDirectory("ab-dv-wh-").toString
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.lake.GraftCatalog].getName)
      spark.conf.set("spark.sql.graft.warehouse", wh)
      val schema = StructType(Seq(
        StructField("pk", StringType), StructField("part", StringType),
        StructField("prio", StringType), StructField("price", DoubleType)))
      val base = pq("orders").select(
        col("o_orderkey").cast("string").as("pk"),
        concat_ws("", lit("p"), (col("o_custkey") % 16).cast("string")).as("part"),
        col("o_orderpriority").as("prio"),
        col("o_totalprice").cast("double").as("price"))
      def mk(name: String): AcidTable = {
        val t = AcidTable.create(spark, s"$wh/ab/$name",
          schema, "pk", "part", stablePartitions = true)
        t.upsert(base)
        t.compact(0)
        t
      }
      val tDv = mk("ordersdv")
      mk("ordersclean")
      tDv.deleteVectored(Seq("32")) // one key, one partition — MOR entry, no rewrite
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ab")
      val q = "SELECT prio, count(*) AS n, sum(price) AS rev " +
        "FROM %s WHERE price > 1000.0 GROUP BY prio"
      val gts = scala.collection.mutable.ArrayBuffer.empty[Double]
      val sts = scala.collection.mutable.ArrayBuffer.empty[Double]
      (0 until reps).foreach { _ =>
        spark.catalog.clearCache()
        gts += time {
          spark.sql(q.format("graft.ab.ordersdv"))
            .write.format("noop").mode("overwrite").save()
        }
        sts += time {
          spark.sql(q.format("graft.ab.ordersclean"))
            .write.format("noop").mode("overwrite").save()
        }
      }
      val g = gts.sorted.apply(gts.size / 2)
      val s0 = sts.sorted.apply(sts.size / 2)
      println(f"| $label | $g%.3f | $s0%.3f | ${g / s0}%.2f |")
      (label, g, s0)
    }
    val dvScanRows =
      if (abSelected("acid_scan_dv_unrelated"))
        Seq(acidDvScanPair("acid_scan_dv_unrelated")) else Nil

    // branch write-audit-publish pair (round 18c): the FULL WAP cycle for
    // a small staged delta (~9 rows) against one partition of a large
    // table. The graft side forks a branch (hard links), stages the delta
    // transactionally, audits the post-change partition state on the
    // branch, and fast-forwards main with the squashed CAS publish —
    // data I/O is the delta alone. The stock side is the hand-rolled WAP
    // a user without branches runs over partitioned parquet: stage the
    // delta to a side dir, compute the merged partition, audit it, and
    // OVERWRITE the touched partition — data I/O grows with the
    // partition, and nothing guards against a concurrent writer. Measured
    // at TWO table scales with the SAME delta (the matview-pair
    // treatment): the graft cycle is delta-bounded metadata + links and
    // must stay ~flat while the stock rewrite grows with the partition —
    // the trend that is the branch's reason to exist at 100 TB.
    def branchPair(label: String, replicas: Int): (String, Double, Double) = {
      import graft.lake.AcidTable
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("pk", StringType), StructField("part", StringType),
        StructField("price", DoubleType)))
      val t = AcidTable.create(spark,
        Files.createTempDirectory(s"ab-branch-$label-").resolve("t").toString,
        schema, "pk", "part", stablePartitions = true)
      val base = pq("orders")
        .crossJoin(spark.range(replicas).select(col("id").as("rep")))
        .select(
          (col("o_orderkey") * replicas + col("rep")).cast("string").as("pk"),
          concat_ws("", lit("p"), (col("o_custkey") % 16).cast("string")).as("part"),
          col("o_totalprice").cast("double").as("price"))
      t.upsert(base)
      t.compact(0)
      val stockDir =
        Files.createTempDirectory(s"ab-branch-stock-$label-").resolve("p").toString
      base.write.partitionBy("part").parquet(stockDir)
      val gts = scala.collection.mutable.ArrayBuffer.empty[Double]
      val sts = scala.collection.mutable.ArrayBuffer.empty[Double]
      (0 until reps).foreach { i =>
        // ~9 updated rows per rep at every replica scale — the audited
        // hotfix regime (staged delta ≪ table). The delta batch is
        // MATERIALIZED before the clock starts (mvPair's "same changed
        // source, NOT timed" protocol): WAP's cost under test is the
        // stage/audit/publish machinery, not the upstream scan that
        // produced the batch — both sides would pay that identically.
        val deltaRows = base
          .filter(col("part") === "p3" &&
            col("pk").cast("long") % (1009L * replicas) === i)
          .withColumn("price", col("price") * 2)
          .collect()
        val delta = spark.createDataFrame(
          java.util.Arrays.asList(deltaRows: _*), schema)
        gts += time {
          val br = t.createBranch(s"wap$i")
          br.upsert(delta)
          // the audit: post-change partition state, read THROUGH the branch
          require(br.snapshot().filter(col("part") === "p3" && col("price") < 0)
            .isEmpty, "audit must pass")
          t.publishBranch(s"wap$i")
        }
        sts += time {
          val stage = Files.createTempDirectory("ab-branch-stage-")
            .resolve("d").toString
          delta.write.parquet(stage)
          val staged = spark.read.parquet(stage)
            .select(col("pk").as("spk"), col("price").as("sprice"))
          def merged = spark.read.parquet(stockDir).filter(col("part") === "p3")
            .join(staged, col("pk") === col("spk"), "left")
            .select(col("pk"),
              coalesce(col("sprice"), col("price")).as("price"))
          // the same audit over the would-be-published partition state
          require(merged.filter(col("price") < 0).isEmpty, "audit must pass")
          // hand-rolled publish: write the merged partition to a side dir,
          // then swap it in (reading and overwriting the same path in one
          // job is not allowed, and the swap is the closest a raw-parquet
          // user gets to atomic publication)
          val tmpOut = Files.createTempDirectory("ab-branch-swap-")
            .resolve("part=p3").toString
          merged.write.parquet(tmpOut)
          val live = java.nio.file.Paths.get(stockDir, "part=p3")
          Files.walk(live).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => Files.delete(f))
          Files.move(java.nio.file.Paths.get(tmpOut), live)
        }
      }
      val g = gts.sorted.apply(gts.size / 2)
      val s0 = sts.sorted.apply(sts.size / 2)
      println(f"| $label | $g%.3f | $s0%.3f | ${g / s0}%.2f |")
      (label, g, s0)
    }
    val branchRows =
      Seq("branch_publish_1x" -> 1, "branch_publish_8x" -> 8)
        .filter(p => abSelected(p._1)).map(p => branchPair(p._1, p._2))

    val js = (rows ++ mvRows ++ mvJoinRows ++ mvStarRows ++ bloomRows ++ acidScanRows ++
        dvScanRows ++ branchRows).map { case (l, g, s0) =>
      "\"" + l + "\":{" + f""""graft":$g%.3f,"stock":$s0%.3f,"ratio":${g / s0}%.3f}"""
    }.mkString("{", ",", "}")
    spark.stop()
    println(s"""{"metric":"baseline_ratios","pairs":$js,"sf":"$sfDir"}""")
  }
}
