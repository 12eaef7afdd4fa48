package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.enrich.{Embedder, LLMClient}

/** Counting decorators passed into the engine's enrichment seams. Counters
  * are process-global because `local[n]` tasks run deserialized copies of
  * the decorator in this JVM. */
object Enrich {
  val prompts = new AtomicLong
  val llmNs = new AtomicLong
  val texts = new AtomicLong
  val embedNs = new AtomicLong

  final class CountingLLM(inner: LLMClient) extends LLMClient {
    override def complete(p: Seq[String]): Seq[String] = {
      val t0 = System.nanoTime()
      try inner.complete(p)
      finally { prompts.addAndGet(p.size.toLong); llmNs.addAndGet(System.nanoTime() - t0) }
    }
  }

  final class CountingEmbedder(inner: Embedder) extends Embedder {
    override def dim: Int = inner.dim
    override def embed(t: Seq[String]): Seq[Array[Float]] = {
      val t0 = System.nanoTime()
      try inner.embed(t)
      finally { texts.addAndGet(t.size.toLong); embedNs.addAndGet(System.nanoTime() - t0) }
    }
  }

  def snapshot(): Array[Long] = Array(prompts.get, llmNs.get, texts.get, embedNs.get)
}

/** What a workload measured: gated metrics, per-layer values, the
  * workload-named metrics and input properties for the report. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val e2e = ArrayBuffer.empty[(String, Double, String)]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = ArrayBuffer.empty[(String, Double, String)]
  val props = ArrayBuffer.empty[(String, Double)]
  val phases = ArrayBuffer.empty[(String, Double)] // wall seconds per run phase
  var traceJson = ""

  def attempt(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
}

final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, cores: Int) {
  def dir(name: String): Path = { val p = work.resolve(name); Files.createDirectories(p); p }
}

object Main {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the inclusive method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def session(ctx: Ctx): SparkSession = {
    val spark = graft.core.EngineConf.configure(
        SparkSession.builder().master(s"local[${ctx.cores}]"), ctx.cores)
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", ctx.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set-up repeated `reps` times, each in a fresh session and fresh
    * directories: session start, standing-artifact builds and a light
    * warm-up. The last session and artifacts are kept, and `warm` then runs
    * one full unit of the workload untimed, so JIT compilation stays out
    * of the measured units. Returns the median set-up time and the
    * warm-up time, in seconds. */
  def setup[T](ctx: Ctx, res: Result, reps: Int)(build: (SparkSession, Tracer, Path) => T)
      (warm: (SparkSession, Tracer, T) => Unit): (SparkSession, Tracer, T, Double, Double) = {
    var spark: SparkSession = null
    var tracer: Tracer = null
    var art: Option[T] = None
    val times = (0 until reps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(ctx)
      tracer = new Tracer(spark, ctx.trace)
      art = Some(build(spark, tracer, ctx.dir(s"setup$i")))
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    warm(spark, tracer, art.get)
    val warmS = (System.nanoTime() - t0) / 1e9
    res.phases ++= Seq("setup" -> times.sum, "warmup" -> warmS)
    (spark, tracer, art.get, median(times), warmS)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      Paths.get(a("work")).toAbsolutePath, a("cores").toInt)
    Files.createDirectories(ctx.work)
    val res = new Result
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
    res.phases += "jvm_start" -> uptime.getUptime / 1e3
    val tRun = System.nanoTime()
    val spark = ctx.workload match {
      case "onboard" => Onboard.run(ctx, res)
      case "curate" => Curate.run(ctx, res)
      case "serve" => Serve.run(ctx, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val workS = (System.nanoTime() - tRun) / 1e9
    res.phases += "measure_and_check" -> (workS - res.phases.collect {
      case ("setup" | "warmup", v) => v }.sum)
    val canary = Seq.fill(3)(Host.canaryMs(spark, ctx.cores))
    if (ctx.trace) {
      res.layer("host.canary_ms") = (median(canary), "ms")
      Layers.restrict(res)
    }
    spark.stop()
    if (ctx.trace) {
      val p = Paths.get(a("trace_file")).toAbsolutePath
      Files.createDirectories(p.getParent)
      Files.write(p, res.traceJson.getBytes("UTF-8"))
    }
    res.phases += "total" -> uptime.getUptime / 1e3

    val rt = Runtime.getRuntime
    println(f"env nproc=${rt.availableProcessors()} cores=${ctx.cores} " +
      s"jdk=${System.getProperty("java.version")} spark=${org.apache.spark.SPARK_VERSION} " +
      f"heap_limit_mb=${rt.maxMemory / 1048576.0}%.0f canary_ms=${median(canary)}%.1f")
    println(res.phases.map { case (k, v) => f"$k=$v%.1f" }.mkString("phase_s ", " ", ""))
    res.props.foreach { case (k, v) => println(f"property $k $v%.4f") }
    res.named.foreach { case (k, v, u) => println(f"metric ${ctx.workload} $k $v%.4f $u") }
    res.failures.foreach(f => println(s"failure $f"))
    val metrics = (if (ctx.trace) res.layer.toSeq.map { case (k, (v, u)) => (k, v, u) } else res.e2e.toSeq)
      .map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${res.failed == 0},"attempted":${math.max(1L, res.attempted)},""" +
      s""""failed":${res.failed},"metrics":{$metrics}}""")
    System.out.flush()
    sys.exit(0)
  }
}
