package perfbench

/** The per-layer metric catalogue: `<module>.<span>.<counter>`. */
object Layers {
  val OnboardSpans: Seq[String] = Seq(
    "pipeline.discover", "pipeline.ingest", "operators.sessionize", "operators.embed",
    "operators.thresholds", "operators.merge", "operators.graph", "operators.interests",
    "pipeline.interest_embed", "cluster.per_user", "sources.store_upsert", "sources.store_retire")
  val CurateSpans: Seq[String] = Seq(
    "dedup.setsim", "dedup.lsh_candidates", "dedup.verify", "dedup.canonicalize",
    "dedup.simhash", "graph.label_prop", "graph.ppr", "graph.kcore")
  val ServeSpans: Seq[String] = Seq(
    "sources.ivf_build", "sources.ivf_topk", "sources.ivf_upsert", "text.index_build",
    "text.bm25", "text.merge_once", "text.compact")

  val Heavy: Set[String] = Set("operators.sessionize", "operators.merge", "operators.graph",
    "operators.interests", "dedup.setsim", "dedup.verify", "graph.label_prop", "graph.ppr",
    "graph.kcore", "text.merge_once")

  private def spanMetrics(s: String): Seq[(String, String)] =
    Seq(s"$s.ms" -> "ms", s"$s.jobs" -> "count", s"$s.gap_ms" -> "ms") ++
      (if (Heavy(s)) Seq(s"$s.cpu_ms" -> "ms", s"$s.shuffle_mb" -> "MB", s"$s.spill_mb" -> "MB")
       else Nil)

  /** The catalogue of BENCHMARK.json: every traced run reports every
    * name, and a span the workload never enters reads 0. */
  val Catalogue: Seq[(String, String)] = (OnboardSpans ++ CurateSpans ++ ServeSpans)
    .flatMap(spanMetrics) ++ Seq(
    "enrich.llm.prompts" -> "count", "enrich.llm.ms" -> "ms",
    "enrich.embed.texts" -> "count", "enrich.embed.ms" -> "ms",
    "dedup.lsh_yield" -> "ratio", "sources.store_mb_written" -> "MB",
    "sources.ivf_mb_written" -> "MB", "text.mb_written" -> "MB",
    "trace.p50_ms" -> "ms", "host.canary_ms" -> "ms")

  /** Span counters as the median over the span's occurrences in the run
    * (one per wave, batch or operation). */
  def fill(res: Result, stats: Seq[SpanStats]): Unit = {
    val by = stats.groupBy(_.span.name)
    (OnboardSpans ++ CurateSpans ++ ServeSpans).foreach { s =>
      by.get(s).foreach { xs =>
        def m(f: SpanStats => Double) = Main.median(xs.map(f))
        res.layer(s"$s.ms") = (m(_.selfMs), "ms")
        res.layer(s"$s.jobs") = (m(_.jobs.toDouble), "count")
        res.layer(s"$s.gap_ms") = (m(_.gapMs), "ms")
        if (Heavy(s)) {
          res.layer(s"$s.cpu_ms") = (m(_.cpuMs), "ms")
          res.layer(s"$s.shuffle_mb") = (m(_.shuffleMb), "MB")
          res.layer(s"$s.spill_mb") = (m(_.spillMb), "MB")
        }
      }
    }
    def written(metric: String, spans: Set[String]): Unit = {
      val xs = stats.filter(x => spans(x.span.name)).map(_.mbWritten)
      if (xs.nonEmpty) res.layer(metric) = (Main.median(xs), "MB")
    }
    written("sources.store_mb_written", Set("sources.store_upsert", "sources.store_retire"))
    written("sources.ivf_mb_written", Set("sources.ivf_upsert"))
    written("text.mb_written", Set("text.merge_once", "text.compact"))
  }

  /** Keep exactly the catalogue, in order. */
  def restrict(res: Result): Unit = {
    val kept = Catalogue.map { case (k, u) => k -> res.layer.getOrElse(k, (0.0, u)) }
    res.layer.clear()
    kept.foreach { case (k, v) => res.layer(k) = v }
  }
}
