package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.enrich.{StubEmbedder, StubInterestsLLM, StubSessionsLLM}
import graft.operators.{Sessionize, SessionOps}
import graft.pipeline.{IncrementalDriver, OldPath, TakeoutIngest}
import graft.sources.VectorStore
import graft.streaming.StreamOps

/** `onboard`: new users arrive in waves of `<root>/<user>/MyActivity.json`.
  * One wave, timed as a unit, is one `IncrementalDriver.tick` (discover →
  * recent path → store upsert), `OldPath.run` on the same users with their
  * clusters written, and the retire of the previous wave's heaviest user.
  *
  * Why: the reference's own per-user path. It loads the enrichment seams,
  * the per-user operators and the connected-components merge; no dedup and
  * no standing index runs. Every wave holds one user above the 5000-session
  * exact limit of `SessionOps.similarityGraph`.
  *
  * The traced run calls the stages of the same path one by one, inside the
  * same file-source stream as the tick. It also evaluates
  * `similarityGraph` once, after the first wave and outside its time:
  * `IncrementalDriver` never reads the lazy graph output, so the untraced
  * wave does not run it either, and on the over-5000-session user its LSH
  * branch costs more than a whole wave. */
object Onboard {
  val UsersPerWave = 3

  private final class Dirs(base: Path) {
    val landing: Path = base.resolve("landing")
    val store: String = base.resolve("store").toString
    val clusters: String = base.resolve("clusters").toString
    val ckpt: String = base.resolve("ckpt").toString
    Files.createDirectories(landing)
  }

  private val llmS = new Enrich.CountingLLM(new StubSessionsLLM)
  private val llmI = new Enrich.CountingLLM(new StubInterestsLLM)
  private val emb = new Enrich.CountingEmbedder(new StubEmbedder(64))

  private def oldPathActivity(df: DataFrame): DataFrame =
    df.select(xxhash64(col("user_id")).as("user_id"), col("timestamp").as("ts"), col("title"))

  private def writeClusters(clusters: DataFrame, d: Dirs): Unit =
    clusters.write.mode("overwrite").partitionBy("user_id")
      .option("partitionOverwriteMode", "dynamic").parquet(d.clusters)

  /** The wave through the public entry points (the untraced run). */
  private def wave(spark: SparkSession, d: Dirs, waveRoot: Path, retire: Option[String]): Unit = {
    IncrementalDriver.tick(spark, s"${d.landing}/*", d.store, d.ckpt, llmS, emb)
    val out = OldPath.run(oldPathActivity(TakeoutIngest.parse(spark, waveRoot.toString)), llmI, emb)
    writeClusters(out.clusters, d)
    retire.foreach(u => IncrementalDriver.retireUsers(spark, d.store, Seq(u)))
  }

  /** The same wave, stage by stage, each output materialised inside its
    * span (the traced run). The tick runs the same file-source stream as
    * `IncrementalDriver.tick` (discovery, AvailableNow trigger, checkpoint
    * commit) under `pipeline.discover`; its micro-batch body mirrors
    * `processBatch` and `RecentPath.run`, one span per stage. Returns the
    * frames the graph span needs. */
  private def tracedWave(spark: SparkSession, tr: Tracer, id: String, d: Dirs,
      waveRoot: Path, retire: Option[String]): (DataFrame, DataFrame) = {
    def span[T](n: String)(b: => T): T = tr.span(n, id)(b)
    def recentPath(batch: DataFrame): (DataFrame, DataFrame) = {
      val activity = batch.select(col("user_id").as("user_dir"),
        xxhash64(col("user_id")).as("user_id"), col("time").as("ts"), col("title")).cache()
      activity.count()
      val rows = activity.select(col("user_id"), col("ts"), col("title"))
      val sessions = span("operators.sessionize") {
        val s = Sessionize.sessions(rows, llmS, 15).cache(); s.count(); s
      }
      val embedded = span("operators.embed") {
        val e = SessionOps.withEmbeddings(SessionOps.withIds(sessions), emb).cache(); e.count(); e
      }
      val thresholds = span("operators.thresholds") {
        val t = SessionOps.thresholds(embedded).cache(); t.count(); t
      }
      val merged = span("operators.merge") {
        val m = SessionOps.merge(embedded, SessionOps.candidatePairs(embedded, thresholds)).cache()
        m.count()
        m
      }
      span("sources.store_upsert") {
        val userMap = activity.select(col("user_id"), col("user_dir")).distinct()
        new VectorStore(spark, d.store).upsertUsers(merged.join(broadcast(userMap), "user_id")
          .drop("user_id").withColumnRenamed("user_dir", "user_id"))
      }
      Seq(activity, sessions, merged).foreach(_.unpersist())
      (embedded, thresholds)
    }
    span("onboard.wave") {
      var graphIn: (DataFrame, DataFrame) = null
      span("pipeline.discover") {
        StreamOps.discoverUsers(spark, s"${d.landing}/*", TakeoutIngest.takeoutSchema)
          .writeStream.trigger(Trigger.AvailableNow()).option("checkpointLocation", d.ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            tr.rejoin()
            if (!batch.isEmpty) graphIn = recentPath(batch)
          }
          .start().awaitTermination()
      }
      val activity = span("pipeline.ingest") {
        val a = oldPathActivity(TakeoutIngest.parse(spark, waveRoot.toString)).cache()
        a.count()
        a
      }
      val out = span("operators.interests") {
        val o = OldPath.run(activity, llmI, emb)
        o.interests.count()
        o
      }
      span("pipeline.interest_embed")(out.embedded.count())
      span("cluster.per_user")(writeClusters(out.clusters, d))
      retire.foreach(u => span("sources.store_retire")(IncrementalDriver.retireUsers(spark, d.store, Seq(u))))
      activity.unpersist()
      graphIn
    }
  }

  /** One wave; the traced run returns the frames `similarityGraph` reads. */
  private def runWave(spark: SparkSession, tr: Tracer, id: String, d: Dirs, waveRoot: Path,
      retire: Option[String]): Option[(DataFrame, DataFrame)] =
    if (!tr.enabled) { wave(spark, d, waveRoot, retire); None }
    else Option(tracedWave(spark, tr, id, d, waveRoot, retire))

  /** Output checks that read the store directly: every live user has a
    * partition and retired users have none; per user, the merged sessions
    * account for every raw session (Σ n_merged = one per active day) and
    * each raw interval lies inside some merged interval. */
  private def check(spark: SparkSession, d: Dirs, live: Seq[String], retired: Seq[String],
      ups: Seq[Gen.Upload]): (Seq[String], Long) = {
    val bad = ArrayBuffer.empty[String]
    val storeDir = java.nio.file.Paths.get(d.store)
    def hasPart(u: String): Boolean = {
      val p = storeDir.resolve(s"user_id=$u")
      Files.isDirectory(p) && {
        val s = Files.list(p)
        try s.anyMatch(_.toString.endsWith(".parquet")) finally s.close()
      }
    }
    live.filterNot(hasPart).foreach(u => bad += s"live user $u has no store partition")
    retired.filter(u => Files.exists(storeDir.resolve(s"user_id=$u")))
      .foreach(u => bad += s"retired user $u still has a store partition")
    val rows = spark.read.parquet(d.store)
      .filter(col("user_id").isin(ups.map(_.user): _*))
      .select(col("user_id"), col("start_s"), col("end_s"), col("n_merged")).collect()
    val byUser = rows.groupBy(_.getString(0))
    var covered = 0L
    ups.foreach { up =>
      val ms = byUser.getOrElse(up.user, Array.empty)
      val n = ms.map(_.getLong(3)).sum
      covered += math.min(n, up.days.toLong)
      if (n != up.days) bad += s"${up.user}: merged sessions hold $n raw sessions, expected ${up.days}"
      val iv = ms.map(r => (r.getInt(1), r.getInt(2)))
      val step = math.max(1, up.raw.size / 200)
      up.raw.indices.by(step).map(up.raw).find { case (s, e) =>
        !iv.exists { case (a, b) => a <= s && b >= e }
      }.foreach(r => bad += s"${up.user}: raw session $r not covered by any merged session")
    }
    (bad.toSeq, covered)
  }

  def run(ctx: Ctx, res: Result): SparkSession = {
    val rng = new java.util.Random(ctx.seed)
    // set-up: session start and one small upload parsed; the untimed
    // warm-up is one full-size wave through the same path as the measured
    // ones, into the same landing root, store and checkpoint
    val warmUsers = Gen.waveDays(UsersPerWave).indices.map(i => s"warm$i")
    val (spark, tr, d, setupS, warmS) = Main.setup(ctx, res, 3) { (spark, _, dir) =>
      Gen.writeUpload(dir.resolve("smoke"), "smoke", 10, new java.util.Random(0L))
      TakeoutIngest.parse(spark, dir.resolve("smoke").toString).count()
      new Dirs(dir)
    } { (spark, tr, d) =>
      val w = d.landing.resolve("w0")
      val wr = new java.util.Random(ctx.seed + 1000003L)
      Gen.waveDays(UsersPerWave).zip(warmUsers).foreach { case (days, u) => Gen.writeUpload(w, u, days, wr) }
      runWave(spark, tr, "warmup", d, w, None)
    }
    val waveTimes = ArrayBuffer.empty[Double]
    val live = ArrayBuffer.from(warmUsers)
    val retired = ArrayBuffer.empty[String]
    var users = 0L
    var events = 0L
    var heavyEvents = 0L
    var jsonBytes = 0L
    var written = 0L
    var covered = 0L
    var expected = 0L
    var peakHeap = 0.0
    val e0 = Enrich.snapshot()
    val t0 = System.nanoTime()
    var k = 0
    while (waveTimes.sum < ctx.seconds && (System.nanoTime() - t0) / 1e9 < 110) {
      val waveRoot = d.landing.resolve(s"w${k + 1}")
      val ups = Gen.waveDays(UsersPerWave).zipWithIndex.map { case (days, r) =>
        Gen.writeUpload(waveRoot, s"u${ctx.seed}_${k}_$r", days, rng) }
      // every wave retires the previous wave's heaviest user
      val retire = Some(if (k == 0) warmUsers.head else s"u${ctx.seed}_${k - 1}_0")
      val w0 = Host.fsBytesWritten()
      val ts = System.nanoTime()
      val out = try Right(runWave(spark, tr, s"w$k", d, waveRoot, retire))
        catch { case e: Exception => Left(e) }
      val sec = (System.nanoTime() - ts) / 1e9
      out.left.foreach(e => res.failures += s"wave $k: $e")
      val ok = out.isRight
      written += Host.fsBytesWritten() - w0
      out.foreach(_.foreach { case (embedded, thresholds) =>
        if (k == 0) tr.span("operators.graph", s"w$k") {
          SessionOps.similarityGraph(embedded, thresholds, exactUserLimit = 5000L)
            .write.format("noop").mode("overwrite").save()
        }
        embedded.unpersist(); thresholds.unpersist()
      })
      live ++= ups.map(_.user)
      retire.foreach { u => live -= u; retired += u }
      val (bad, cov) = if (ok) check(spark, d, live.toSeq, retired.toSeq, ups) else (Seq("wave failed"), 0L)
      res.attempt(bad.isEmpty, s"wave $k: ${bad.take(3).mkString("; ")}")
      waveTimes += sec
      users += ups.size
      events += ups.map(_.events).sum
      heavyEvents += ups.filter(_.days > 5000).map(_.events).sum
      jsonBytes += ups.map(_.jsonBytes).sum
      covered += cov
      expected += ups.map(_.days.toLong).sum
      peakHeap = math.max(peakHeap, Host.liveHeapMb())
      k += 1
    }
    val e1 = Enrich.snapshot()
    val usersPerS = users / waveTimes.sum
    val p50 = Main.median(waveTimes.toSeq)
    val prompts = (e1(0) - e0(0)).toDouble / users
    val writeAmp = written.toDouble / jsonBytes
    val failRatio = res.failed.toDouble / math.max(1L, res.attempted)
    res.e2e ++= Seq(
      ("setup_s", setupS, "s"),
      ("throughput_per_s", usersPerS, "1/s"),
      ("p50_ms", p50 * 1000, "ms"),
      ("recall", covered.toDouble / expected, "ratio"),
      ("peak_live_heap_mb", peakHeap, "MB"),
      ("ok_ratio", 1.0 - failRatio, "ratio"))
    res.named ++= Seq(
      ("setup_s", setupS, "s"), ("warmup_s", warmS, "s"),
      ("users_per_s", usersPerS, "users/s"), ("tick_p50_s", p50, "s"),
      ("llm_prompts_per_user", prompts, "count"), ("write_amp", writeAmp, "ratio"),
      ("peak_live_heap_mb", peakHeap, "MB"), ("fail_ratio", failRatio, "ratio"),
      ("waves", waveTimes.size.toDouble, "count"))
    res.props ++= Seq(
      ("onboard.heavy_user_event_share", heavyEvents.toDouble / events),
      ("onboard.events_per_wave", events.toDouble / waveTimes.size))
    if (tr.enabled) {
      val stats = tr.collect().filter(_.span.trace != "warmup")
      Layers.fill(res, stats)
      val waves = k.toDouble
      res.layer("enrich.llm.prompts") = ((e1(0) - e0(0)) / waves, "count")
      res.layer("enrich.llm.ms") = ((e1(1) - e0(1)) / 1e6 / waves, "ms")
      res.layer("enrich.embed.texts") = ((e1(2) - e0(2)) / waves, "count")
      res.layer("enrich.embed.ms") = ((e1(3) - e0(3)) / 1e6 / waves, "ms")
      res.layer("trace.p50_ms") = (p50 * 1000, "ms")
      res.traceJson = tr.toJson(stats)
    }
    spark
  }
}
