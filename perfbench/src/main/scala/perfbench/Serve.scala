package perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.similarity.Knn
import graft.sources.IvfIndex
import graft.text.{Bm25, LedgeredPostingsIndex}

/** `serve`: a closed loop with one client against standing artifacts built
  * during set-up — an `IvfIndex` over generated embeddings and a
  * `LedgeredPostingsIndex` over generated docs. Seven of every ten
  * operations are reads (`IvfIndex.topK`, `bm25TopK` with Zipf-popular
  * terms); the three writes between them are a `mergeOnce` of a new batch
  * followed by a replay of that batch id, `IvfIndex.upsert` and `compact`,
  * all within the first six operations, so a run of a few seconds meets
  * every write.
  *
  * Why: each operation is small, so driver scheduling and the
  * install/ledger protocols dominate rather than the kernels. Reads and
  * writes are timed separately. */
object Serve {
  val Dim = 32
  val Vectors = 2000
  val Centroids = 16
  val NProbe = 4
  val IvfIters = 1 // one k-means refinement keeps the three set-ups within the time budget
  val QueriesPerRead = 4
  val CheckQueries = 64 // the final check's queries, which also count in recall@K
  val CorpusDocs = 1000
  val BatchDocs = 150
  val UpsertRows = 100
  val K = 10
  private val QueryIdBase = 1000000000L

  final class State(val ivf: IvfIndex, val text: LedgeredPostingsIndex, val space: Gen.VecSpace,
      val vecs: scala.collection.mutable.LongMap[Array[Float]],
      val docs: ArrayBuffer[(Long, String)])

  private def build(spark: SparkSession, tr: Tracer, dir: Path, seed: Long): State = {
    import spark.implicits._
    val r = new java.util.Random(seed)
    val space = new Gen.VecSpace(Dim, 48, seed)
    val vecs = scala.collection.mutable.LongMap.empty[Array[Float]]
    (0 until Vectors).foreach(i => vecs(i.toLong) = space.draw(r))
    val texts = Gen.docs(CorpusDocs, r)
    val docs = ArrayBuffer.from(texts.indices.map(i => (i.toLong, texts(i))))
    val corpus = vecs.toSeq.map { case (i, v) => (i, v.toSeq) }.toDF("id", "vec")
    val docDf = docs.toSeq.toDF("id", "text")
    val ivf = tr.span("sources.ivf_build", "setup") {
      IvfIndex.build(corpus, dir.resolve("ivf").toString, "id", "vec", Centroids, iters = IvfIters)
    }
    val text = tr.span("text.index_build", "setup") {
      val t = LedgeredPostingsIndex.create(spark, dir.resolve("text").toString, 16,
        withPositions = false)
      t.mergeOnce(docDf, "id", "text", 0L)
      t
    }
    new State(ivf, text, space, vecs, docs)
  }

  /** One request: `QueriesPerRead` query vectors, ids above the corpus's. */
  private def ivfQuery(spark: SparkSession, st: State, r: java.util.Random, op: Long,
      n: Int = QueriesPerRead): (DataFrame, Map[Long, Array[Float]]) = {
    import spark.implicits._
    val qs = (0 until n).map(i => (QueryIdBase + op * n + i, st.space.draw(r)))
    (qs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec"), qs.toMap)
  }

  /** Served top-k ids per query, in rank order. */
  private def topIds(topK: DataFrame): Map[Long, Seq[Long]] =
    topK.select("qid", "rank", "nn").collect().groupBy(_.getLong(0))
      .map { case (qid, rows) => qid -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }

  private def ivfRead(spark: SparkSession, st: State, r: java.util.Random, op: Long)
      : (Map[Long, Seq[Long]], Map[Long, Array[Float]]) = {
    val (q, vs) = ivfQuery(spark, st, r, op)
    (topIds(st.ivf.topK(q, "id", "vec", K, NProbe)), vs)
  }

  private def bm25Query(spark: SparkSession, r: java.util.Random, op: Long): DataFrame = {
    import spark.implicits._
    (0 until QueriesPerRead).flatMap(i => Gen.queryTerms(r).map(t => (QueryIdBase + op * QueriesPerRead + i, t)))
      .toDF("qid", "tok")
  }

  private def bm25Read(spark: SparkSession, st: State, r: java.util.Random, op: Long): Int =
    st.text.bm25TopK(bm25Query(spark, r, op), K).collect().length

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      d += x * y; na += x * x; nb += y * y; i += 1
    }
    d / math.sqrt(na * nb)
  }

  /** Adds the queries' recall@K against the harness's exact ranking. */
  private def recall(got: Map[Long, Seq[Long]], vs: Map[Long, Array[Float]], st: State, l: Loop): Unit =
    vs.foreach { case (qid, v) =>
      val exact = bruteTopK(st, v).toSet
      l.recallSum += got.getOrElse(qid, Nil).count(exact).toDouble / K
      l.ivfQueries += 1
    }

  /** Exact top-k over the harness's own copy of the vectors. */
  private def bruteTopK(st: State, q: Array[Float]): Array[Long] =
    st.vecs.toArray.map { case (id, v) => (id, cosine(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(K).map(_._1)

  /** Serving checks against the engine's reference operators and the
    * harness's brute force: full-probe `topK` = `Knn.bruteForce` = the
    * harness's exact ranking, and `bm25TopK` = `Bm25.topK` over every
    * committed doc. The same queries at the served `nprobe` add to
    * recall@K. */
  private def check(spark: SparkSession, st: State, l: Loop, r: java.util.Random): Seq[String] = {
    import spark.implicits._
    val bad = ArrayBuffer.empty[String]
    def ranked(df: DataFrame, cols: String*) = df.orderBy("qid", "rank").select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).toSeq
    val (q, vs) = ivfQuery(spark, st, r, 999999, CheckQueries)
    recall(topIds(st.ivf.topK(q, "id", "vec", K, NProbe)), vs, st, l)
    val full = ranked(st.ivf.topK(q, "id", "vec", K, nprobe = Centroids), "qid", "nn")
    val corpus = st.vecs.toSeq.map { case (i, x) => (i, x.toSeq) }.toDF("id", "vec")
    val brute = ranked(Knn.bruteForce(corpus, q, "id", "vec", K), "qid", "nn")
    val mine = vs.toSeq.sortBy(_._1).flatMap { case (qid, v) => bruteTopK(st, v).map(Seq(qid, _)) }
    if (full != brute) bad += s"full-probe topK != Knn.bruteForce: ${full.diff(brute).take(3)}"
    if (full != mine) bad += s"full-probe topK != exact ranking: ${full.diff(mine).take(3)}"
    val bq = bm25Query(spark, r, 999998)
    val served = ranked(st.text.bm25TopK(bq, K), "qid", "doc_id", "score_i")
    val ref = ranked(Bm25.topK(st.docs.toSeq.toDF("id", "text"), "id", "text", bq, K),
      "qid", "doc_id", "score_i")
    if (served != ref) bad += s"bm25TopK != Bm25.topK: ${served.diff(ref).take(3)}"
    bad.toSeq
  }

  /** The operation mix, repeated. */
  private val Mix = Vector("ivf", "merge", "bm25", "upsert", "ivf", "compact", "bm25", "ivf",
    "bm25", "ivf")
  private def kind(op: Int): String = Mix(op % Mix.size)

  /** Mutable loop state: the last batch id, ids to allocate, and what
    * the operations measured. */
  private final class Loop {
    var batchId = 0L
    var nextVecId = Vectors.toLong
    val reads = ArrayBuffer.empty[Double]
    val writes = ArrayBuffer.empty[Double]
    var recallSum = 0.0
    var ivfQueries = 0
    var written = 0L
    var ingested = 0L
    def resetMeasures(): Unit = {
      reads.clear(); writes.clear(); recallSum = 0.0; ivfQueries = 0; written = 0L; ingested = 0L
    }
  }

  /** Run one operation; returns its wall seconds. Reads and writes land in
    * `l.reads`/`l.writes` (ms); failed checks are recorded in `res`. */
  private def exec(spark: SparkSession, tr: Tracer, st: State, l: Loop, r: java.util.Random,
      op: Int, res: Result, id: String): Double = {
    import spark.implicits._
    val k = kind(op)
    val w0 = Host.fsBytesWritten()
    val t0 = System.nanoTime()
    def secs = (System.nanoTime() - t0) / 1e9
    k match {
      case "ivf" =>
        val (got, vs) = tr.span("sources.ivf_topk", id)(ivfRead(spark, st, r, op))
        val s = secs
        l.reads += s * 1000
        recall(got, vs, st, l)
        res.attempt(vs.keys.forall(got.getOrElse(_, Nil).size == K),
          s"$id: ivf topK returned fewer than $K rows for a query")
        s
      case "bm25" =>
        val n = tr.span("text.bm25", id)(bm25Read(spark, st, r, op))
        val s = secs
        l.reads += s * 1000
        res.attempt(n > 0, s"$id: bm25TopK returned no rows")
        s
      case "merge" =>
        // a new batch, then a replay of the same batch id: two writes
        l.batchId += 1
        val b = Gen.docs(BatchDocs, r).toSeq.zipWithIndex
          .map { case (t, i) => (CorpusDocs + l.batchId * BatchDocs + i, t) }
        val df = b.toDF("id", "text")
        val t1 = System.nanoTime()
        val ok = tr.span("text.merge_once", id)(st.text.mergeOnce(df, "id", "text", l.batchId))
        val s1 = (System.nanoTime() - t1) / 1e9
        st.docs ++= b
        l.ingested += b.map(_._2.length.toLong).sum
        res.attempt(ok, s"$id: mergeOnce of new batch ${l.batchId} returned false")
        val t2 = System.nanoTime()
        val again = tr.span("text.merge_replay", id)(st.text.mergeOnce(df, "id", "text", l.batchId))
        val s2 = (System.nanoTime() - t2) / 1e9
        res.attempt(!again, s"$id: replay of committed batch ${l.batchId} returned true")
        l.writes ++= Seq(s1 * 1000, s2 * 1000)
        l.written += Host.fsBytesWritten() - w0
        s1 + s2
      case "upsert" =>
        val rows = (0 until UpsertRows).map { i =>
          val vid = if (i % 2 == 0) r.nextInt(Vectors).toLong else { l.nextVecId += 1; l.nextVecId }
          (vid, st.space.draw(r))
        }.toMap.toSeq
        val df = rows.map { case (vid, v) => (vid, v.toSeq) }.toDF("id", "vec")
        val t1 = System.nanoTime()
        tr.span("sources.ivf_upsert", id)(st.ivf.upsert(df, "id", "vec"))
        val s = (System.nanoTime() - t1) / 1e9
        rows.foreach { case (vid, v) => st.vecs(vid) = v }
        l.ingested += rows.size * (8L + 4L * Dim)
        l.writes += s * 1000
        l.written += Host.fsBytesWritten() - w0
        res.attempt(true, "")
        s
      case "compact" =>
        tr.span("text.compact", id)(st.text.compact())
        val s = secs
        l.writes += s * 1000
        l.written += Host.fsBytesWritten() - w0
        res.attempt(true, "")
        s
    }
  }

  def run(ctx: Ctx, res: Result): SparkSession = {
    val r = new java.util.Random(ctx.seed * 31 + 7)
    // set-up: session start and both index builds; the untimed warm-up
    // then runs one operation of every kind the builds have not run
    val l = new Loop
    val (spark, tr, st, setupS, warmS) = Main.setup(ctx, res, 3) { (spark, tr, dir) =>
      build(spark, tr, dir, ctx.seed)
    } { (spark, tr, st) =>
      // ivf, bm25, upsert, compact: the index build already ran mergeOnce
      Seq(0, 2, 3, 5).foreach(op => exec(spark, tr, st, l, r, op, res, s"warmup-op$op"))
      l.resetMeasures()
      res.attempted = 0L
      res.failed = 0L
      res.failures.clear()
    }
    var peakHeap = Host.liveHeapMb()
    var op = 0
    var loop = 0.0
    while (loop < ctx.seconds) {
      loop += (try exec(spark, tr, st, l, r, op, res, s"op$op")
        catch { case e: Exception => res.attempt(false, s"op$op: $e"); 0.0 })
      op += 1
      if (loop > 120) throw new IllegalStateException("serve loop exceeded its time budget")
    }
    val bad = try check(spark, st, l, r) catch { case e: Exception => Seq(s"check failed: $e") }
    res.attempt(bad.isEmpty, bad.take(3).mkString("; "))
    peakHeap = math.max(peakHeap, Host.liveHeapMb())
    val opsPerS = op / loop
    val recall = l.recallSum / math.max(1, l.ivfQueries)
    val readP50 = Main.median(l.reads.toSeq)
    val failRatio = res.failed.toDouble / math.max(1L, res.attempted)
    res.e2e ++= Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", opsPerS, "1/s"),
      ("p50_ms", readP50, "ms"),
      ("recall", recall, "ratio"),
      ("peak_live_heap_mb", peakHeap, "MB"),
      ("ok_ratio", 1.0 - failRatio, "ratio"))
    res.named ++= Seq(
      ("setup_s", setupS, "s"), ("warmup_s", warmS, "s"), ("ops_per_s", opsPerS, "ops/s"),
      ("read_p50_ms", readP50, "ms"), ("read_p90_ms", Main.quantile(l.reads.toSeq, 0.9), "ms"),
      ("write_p50_ms", Main.median(l.writes.toSeq), "ms"), ("recall_at_10", recall, "ratio"),
      ("write_amp", l.written.toDouble / l.ingested, "ratio"),
      ("peak_live_heap_mb", peakHeap, "MB"), ("fail_ratio", failRatio, "ratio"),
      ("reads", l.reads.size.toDouble, "count"), ("writes", l.writes.size.toDouble, "count"))
    res.props ++= Seq(("serve.read_share", l.reads.size.toDouble / op))
    if (tr.enabled) {
      val stats = tr.collect().filter(!_.span.trace.startsWith("warmup"))
      Layers.fill(res, stats)
      res.layer("trace.p50_ms") = (readP50, "ms")
      res.traceJson = tr.toJson(stats)
    }
    spark
  }
}
