package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.{Dedup, SetSimJoin}
import graft.graph.GraphOps

/** `curate`: one batch over a generated corpus — exact set-similarity join,
  * MinHash-LSH candidates → verify → canonicalize, SimHash near-dup, then
  * label propagation, personalized PageRank and k-core over the link graph
  * collapsed onto canonical ids. The graph loops run on fixed round budgets
  * so that a batch's job count does not vary with the seed.
  *
  * Why: shuffle/join kernels and iterative driver loops dominate; no
  * enrichment and no standing index runs. Heavy-tailed document lengths put
  * large sets into the exact verify's non-spilling hash build.
  *
  * The docs frame names its id `doc_id`: `Dedup.canonicalize` joins the
  * component frame's own `id` column, so an id column named `id` is an
  * ambiguous reference there. */
object Curate {
  val Docs = 1500
  val TPpm = 500000L // exact join: 3-shingle Jaccard ≥ 0.5
  val VerifyThreshold = 0.5 // LSH path: token-set Jaccard ≥ 0.5

  private def shingles(t: String): Set[String] = {
    val w = t.split(" ")
    if (w.length < 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
  }
  private def jac[A](a: Set[A], b: Set[A]): Double = {
    val i = a.intersect(b).size
    i.toDouble / (a.size + b.size - i)
  }

  final case class Out(exact: Array[(Long, Long, Long, Long)], verified: Array[(Long, Long)],
      candidates: Long, canonical: Long, simhash: Long, communities: Long, ppr: Long,
      core: Long)

  /** One batch; every stage's output is materialised where the next stage
    * or the checks read it. With tracing on, each call gets its own span. */
  private def batch(spark: SparkSession, tr: Tracer, id: String, docs: DataFrame,
      links: DataFrame, seeds: DataFrame): Out = {
    def span[T](n: String)(b: => T): T = tr.span(n, id)(b)
    tr.span("curate.batch", id) {
      val exact = span("dedup.setsim") {
        SetSimJoin.jaccardJoin(docs, "doc_id", "text", TPpm)
          .select("id_a", "id_b", "i_n", "u_n").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      val cands = span("dedup.lsh_candidates") {
        val c = Dedup.minhashLshCandidates(docs, "doc_id", "text")
        if (tr.enabled) { c.cache(); c.count() }
        c
      }
      val (vdf, verified) = span("dedup.verify") {
        val v = Dedup.jaccardVerify(cands, docs, "doc_id", "text", VerifyThreshold).cache()
        (v, v.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))))
      }
      val nCands = if (tr.enabled) cands.count() else 0L
      val canon = span("dedup.canonicalize") {
        val c = Dedup.canonicalize(vdf, docs, "doc_id").cache(); c.count(); c
      }
      val sim = span("dedup.simhash")(Dedup.simhashNearDup(docs, "doc_id", "text").collect().length.toLong)
      // the link graph collapsed onto canonical ids
      val keep = canon.select(col("doc_id").as("id"), col("keep_id"))
      val edges = links
        .join(keep.select(col("id").as("src"), col("keep_id").as("s")), "src")
        .join(keep.select(col("id").as("dst"), col("keep_id").as("d")), "dst")
        .filter(col("s") =!= col("d"))
        .select(col("s").as("src"), col("d").as("dst")).distinct().cache()
      val nodes = keep.select(col("keep_id").as("id")).distinct().cache()
      val comm = span("graph.label_prop") {
        GraphOps.labelPropagation(edges, nodes, 2).select("community").distinct().count()
      }
      val ppr = span("graph.ppr") {
        GraphOps.personalizedPagerankPpm(edges, nodes,
          seeds.join(keep, "id").select(col("keep_id").as("id")), 2)
          .filter(col("ppr_ppm") > 0).count()
      }
      val core = span("graph.kcore") {
        GraphOps.kCore(edges.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b")).distinct(), 3, maxRounds = 4).nodes.count()
      }
      val out = Out(exact, verified, nCands, canon.filter(col("is_duplicate")).count(), sim,
        comm, ppr, core)
      Seq(cands, vdf, canon, edges, nodes).foreach(_.unpersist())
      out
    }
  }

  private def frames(spark: SparkSession, c: Gen.Corpus, cores: Int): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val docs = c.texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(cores).cache()
    val links = c.edges.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      .repartition(cores).cache()
    docs.count(); links.count()
    (docs, links, c.seeds.map(_.toLong).toDF("id"))
  }

  def run(ctx: Ctx, res: Result): SparkSession = {
    val rng = new java.util.Random(ctx.seed)
    // set-up: session start and a corpus loaded; the untimed warm-up is
    // one batch over it
    val (spark, tr, _, setupS, warmS) = Main.setup(ctx, res, 3) { (spark, _, _) =>
      frames(spark, Gen.corpus(Docs, new java.util.Random(ctx.seed + 1000003L)), ctx.cores)
    } { (spark, tr, f) =>
      val (d, l, s) = f
      batch(spark, tr, "warmup", d, l, s)
      d.unpersist(); l.unpersist()
    }
    val times = ArrayBuffer.empty[Double]
    val yields = ArrayBuffer.empty[Double]
    var docsDone = 0L
    var plantedHit = 0L
    var plantedAbove = 0L
    var inFamilies = 0L
    var longDocs = 0L
    var peakHeap = 0.0
    val t0 = System.nanoTime()
    var k = 0
    while (times.sum < ctx.seconds && (System.nanoTime() - t0) / 1e9 < 110) {
      val c = Gen.corpus(Docs, rng)
      val (docs, links, seeds) = frames(spark, c, ctx.cores)
      val ts = System.nanoTime()
      val out = try Some(batch(spark, tr, s"b$k", docs, links, seeds))
        catch { case e: Exception => res.failures += s"batch $k: $e"; None }
      times += (System.nanoTime() - ts) / 1e9
      docs.unpersist(); links.unpersist()
      // checks against brute force on the generated texts
      val bad = ArrayBuffer.empty[String]
      out.foreach { o =>
        val exactSet = o.exact.map(p => (p._1.toInt, p._2.toInt)).toSet
        val verifiedSet = o.verified.map(p => (p._1.toInt, p._2.toInt)).toSet
        val sh = scala.collection.mutable.HashMap.empty[Int, Set[String]]
        def shOf(i: Int) = sh.getOrElseUpdate(i, shingles(c.texts(i)))
        c.planted.foreach { case (a, b) =>
          if (jac(shOf(a), shOf(b)) >= TPpm / 1e6 && !exactSet((a, b)))
            bad += s"planted pair ($a,$b) missing from the exact join"
          if (jac(c.texts(a).split(" ").toSet, c.texts(b).split(" ").toSet) >= VerifyThreshold) {
            plantedAbove += 1
            if (verifiedSet((a, b))) plantedHit += 1
          }
        }
        val step = math.max(1, o.exact.length / 100)
        o.exact.indices.by(step).map(o.exact).foreach { case (a, b, i, u) =>
          val (sa, sb) = (shOf(a.toInt), shOf(b.toInt))
          val bi = sa.intersect(sb).size
          if (bi != i || sa.size + sb.size - bi != u)
            bad += s"exact pair ($a,$b): engine i/u $i/$u, brute force $bi/${sa.size + sb.size - bi}"
        }
        if (o.candidates > 0) yields += o.verified.length.toDouble / o.candidates
      }
      res.attempt(out.isDefined && bad.isEmpty, s"batch $k: ${bad.take(3).mkString("; ")}")
      docsDone += Docs
      inFamilies += c.family.count(_ >= 0)
      longDocs += c.texts.count(_.count(_ == ' ') + 1 > 500)
      peakHeap = math.max(peakHeap, Host.liveHeapMb())
      k += 1
    }
    val docsPerS = docsDone / times.sum
    val p50 = Main.median(times.toSeq)
    val recall = plantedHit.toDouble / math.max(1L, plantedAbove)
    val failRatio = res.failed.toDouble / math.max(1L, res.attempted)
    res.e2e ++= Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", docsPerS, "1/s"),
      ("p50_ms", p50 * 1000, "ms"),
      ("recall", recall, "ratio"),
      ("peak_live_heap_mb", peakHeap, "MB"),
      ("ok_ratio", 1.0 - failRatio, "ratio"))
    res.named ++= Seq(
      ("setup_s", setupS, "s"), ("warmup_s", warmS, "s"),
      ("docs_per_s", docsPerS, "docs/s"), ("batch_p50_s", p50, "s"),
      ("dup_recall", recall, "ratio"), ("peak_live_heap_mb", peakHeap, "MB"),
      ("fail_ratio", failRatio, "ratio"), ("batches", times.size.toDouble, "count"))
    res.props ++= Seq(
      ("curate.docs_in_families_share", inFamilies.toDouble / docsDone),
      ("curate.docs_over_500_tokens_share", longDocs.toDouble / docsDone),
      ("curate.planted_pairs_above_threshold", plantedAbove.toDouble / times.size))
    if (tr.enabled) {
      val stats = tr.collect().filter(_.span.trace != "warmup")
      Layers.fill(res, stats)
      res.layer("dedup.lsh_yield") = (Main.median(yields.toSeq), "ratio")
      res.layer("trace.p50_ms") = (p50 * 1000, "ms")
      res.traceJson = tr.toJson(stats)
    }
    spark
  }
}
