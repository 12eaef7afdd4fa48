package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-job-group Spark counters, filled by [[Tracer]]'s listener. */
final class GroupStats {
  val jobs = ArrayBuffer.empty[(Long, Long)] // (start ms, end ms), end -1 while open
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** One recorded span: a public engine call made by the harness. */
final class Span(val id: Int, val name: String, val parent: Int, val trace: String,
    val startMs: Long) {
  var endMs: Long = -1L
  var bytesWritten: Long = 0L
  def group: String = s"pb-span-$id"
}

/** One span's counters: self time, Spark jobs, driver gap (self time minus
  * the union of the span's own jobs' intervals), task CPU, GC, shuffle,
  * spill and the bytes written to the local filesystem while it was open. */
final case class SpanStats(span: Span, selfMs: Double, jobs: Int, gapMs: Double,
    cpuMs: Double, gcMs: Double, tasks: Long, shuffleMb: Double, spillMb: Double,
    mbWritten: Double)

/** Spans around the harness's calls into the engine, kept in memory and
  * written out when the run ends. Each span runs its calls under its own
  * Spark job group; a harness-owned listener attributes jobs, task CPU,
  * GC, shuffle and spill to the group (the same group-key attribution as
  * `graft.Bench`). A disabled tracer runs the body and records nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val GroupKey = "spark.jobGroup.id"
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private val open = scala.collection.mutable.Stack.empty[Span]
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobIndex = new ConcurrentHashMap[Int, (String, Int)]()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val g = Option(js.properties).map(_.getProperty(GroupKey)).orNull
      if (g != null && g.startsWith("pb-span-")) {
        val s = stats(g)
        s.synchronized {
          jobIndex.put(js.jobId, (g, s.jobs.size))
          s.jobs += ((js.time, -1L))
        }
        js.stageIds.foreach(id => stageGroup.put(id, g))
      }
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobIndex.get(je.jobId)).foreach { case (g, i) =>
        val s = stats(g)
        s.synchronized { s.jobs(i) = (s.jobs(i)._1, je.time) }
      }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(te.stageId)).foreach { g =>
        val m = te.taskMetrics
        val s = stats(g)
        s.synchronized {
          s.tasks += 1
          if (m != null) {
            s.cpuNs += m.executorCpuTime
            s.gcMs += m.jvmGCTime
            s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
              m.shuffleReadMetrics.totalBytesRead
            s.spillBytes += m.diskBytesSpilled
          }
        }
      }
  })

  def span[T](name: String, trace: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open.headOption
      val s = new Span(spans.size, name, parent.fold(-1)(_.id), trace,
        System.currentTimeMillis())
      spans += s
      open.push(s)
      val w0 = Host.fsBytesWritten()
      sc.setJobGroup(s.group, name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        s.bytesWritten = Host.fsBytesWritten() - w0
        open.pop()
        parent match {
          case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Put the calling thread's Spark jobs under the innermost open span.
    * For engine callbacks that run on a thread of their own, such as a
    * stream's `foreachBatch`, whose jobs would otherwise carry the
    * stream's job group. */
  def rejoin(): Unit =
    if (enabled) open.headOption.foreach(p => sc.setJobGroup(p.group, p.name, interruptOnCancel = false))

  /** Union length of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-span counters, after draining the listener bus. */
  def collect(): Seq[SpanStats] = {
    if (!enabled) return Nil
    org.apache.spark.PerfbenchBus.drain(sc)
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val wall = s.endMs - s.startMs
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      val g = Option(groups.get(s.group)).getOrElse(new GroupStats)
      g.synchronized {
        val jobIv = g.jobs.map { case (a, b) => (a, if (b < 0) s.endMs else b) }.toSeq
        val self = wall - covered(kids.toSeq, s.startMs, s.endMs)
        // a span's own jobs run outside its children, so its driver gap is
        // its self time minus the union of its own jobs
        val gap = math.max(0L, self - covered(jobIv, s.startMs, s.endMs))
        SpanStats(s, self.toDouble, g.jobs.size, gap.toDouble, g.cpuNs / 1e6, g.gcMs.toDouble,
          g.tasks, g.shuffleBytes / 1048576.0, g.spillBytes / 1048576.0,
          s.bytesWritten / 1048576.0)
      }
    }
  }

  /** Every span with its counters, as a JSON array (the run's trace file). */
  def toJson(st: Seq[SpanStats]): String = st.map { x =>
    val s = x.span
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"trace":"${s.trace}",""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":${x.selfMs},"jobs":${x.jobs},""" +
      s""""gap_ms":${x.gapMs},"cpu_ms":${x.cpuMs},"gc_ms":${x.gcMs},"tasks":${x.tasks},""" +
      s""""shuffle_mb":${x.shuffleMb},"spill_mb":${x.spillMb},"mb_written":${x.mbWritten}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Host-level probes shared by both run modes. */
object Host {
  /** Bytes written through Hadoop's local filesystem by every thread of
    * this JVM (Spark tasks run in-process under `local[n]`). */
  @annotation.nowarn("cat=deprecation")
  def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Used heap right after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Fixed compute-bound Spark job (a codegen'd range sum over all cores):
    * a diagnostic of host contention only; no metric is rescaled by it. */
  def canaryMs(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 100000000L, 1, cores).selectExpr("sum(id * 3 + 1)").collect()
    (System.nanoTime() - t0) / 1e6
  }
}
