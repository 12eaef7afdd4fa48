package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** Zipf(s) sampler over ranks 0 until n (rank 0 most popular). */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val t = w.sum
    var acc = 0.0
    w.map { x => acc += x / t; acc }
  }
  def draw(r: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Seeded input generators. Every input the engine sees is a file or a
  * frame built from these; the same seed gives the same inputs. */
object Gen {
  val Vocab: Array[String] = {
    val r = new java.util.Random(7L)
    val syll = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da",
      "gu", "bri", "sel", "tor", "wen", "xa", "zo", "qui", "fan", "hol")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 20000)
      seen += (0 until 2 + r.nextInt(3)).map(_ => syll(r.nextInt(syll.length))).mkString
    seen.toArray
  }

  // ---------------------------------------------------------------- onboard

  /** One Takeout upload: `days` distinct active days, 1–6 events a day, so
    * each (user, day) is exactly one 15-row chunk and one raw session. */
  final case class Upload(user: String, days: Int, events: Int, jsonBytes: Long,
      raw: Seq[(Int, Int)]) // raw session intervals (start_s, end_s)

  private val Verbs = Array("Watched", "Searched for", "Visited", "Read", "Listened to")
  private val Topics = new Zipf(400, 1.1)
  private val DayMs = 86400000L
  private val Epoch0 = java.time.LocalDate.of(2009, 1, 1).toEpochDay

  /** Active days per user: a Zipf(2) profile over the wave's ranks, with
    * rank 1 above `SessionOps.similarityGraph`'s exact-branch limit of
    * 5000 sessions (16 years of history leave it room). */
  def waveDays(usersPerWave: Int): Seq[Int] =
    (1 to usersPerWave).map(r => math.max(40, (5200.0 / (r.toDouble * r)).toInt))

  def writeUpload(root: Path, user: String, days: Int, r: java.util.Random): Upload = {
    val span = 16 * 365
    val picked = {
      val all = Array.range(0, span)
      var i = 0
      while (i < days) { val j = i + r.nextInt(span - i); val t = all(i); all(i) = all(j); all(j) = t; i += 1 }
      all.take(days).sorted
    }
    val sb = new java.lang.StringBuilder(days * 600)
    sb.append("[\n")
    var first = true
    var events = 0
    val raw = ArrayBuffer.empty[(Int, Int)]
    picked.foreach { d =>
      val n = 1 + r.nextInt(6)
      val secs = Array.fill(n)(r.nextInt(86400)).sorted
      raw += ((secs.head / 60 * 60, secs.last / 60 * 60))
      secs.foreach { s =>
        val ts = java.time.Instant.ofEpochMilli((Epoch0 + d) * DayMs + s * 1000L)
        val verb = Verbs(r.nextInt(Verbs.length))
        val title = s"$verb ${Vocab(r.nextInt(Vocab.length))} ${Vocab(Topics.draw(r))}"
        if (!first) sb.append(",\n")
        first = false
        sb.append("{\"header\":\"Search\",\"title\":\"").append(title)
          .append("\",\"titleUrl\":null,\"time\":\"").append(ts.toString)
          .append("\",\"products\":[\"Search\"]}")
        events += 1
      }
    }
    sb.append("\n]\n")
    val dir = root.resolve(user)
    Files.createDirectories(dir)
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(dir.resolve("MyActivity.json"), bytes)
    Upload(user, days, events, bytes.length.toLong, raw.toSeq)
  }

  // ----------------------------------------------------------------- curate

  final case class Corpus(texts: Array[String], family: Array[Int],
      planted: Seq[(Int, Int)], edges: Seq[(Int, Int)], seeds: Seq[Int])

  private val Words = new Zipf(Vocab.length, 0.9)

  /** Heavy-tailed lengths (Pareto, alpha 1.3, 30 tokens minimum, capped at
    * 4000), planted near-duplicate families (a base plus 1–5 copies with
    * 2–12% of tokens replaced), and a power-law link graph. Doc id = index. */
  def corpus(n: Int, r: java.util.Random): Corpus = {
    def pareto(): Int = math.min(4000, (30.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.3)).toInt)
    def doc(len: Int): Array[String] = Array.fill(len)(Vocab(Words.draw(r)))
    val texts = new Array[String](n)
    val family = Array.fill(n)(-1)
    val planted = ArrayBuffer.empty[(Int, Int)]
    var i = 0
    var fam = 0
    while (i < n) {
      val base = doc(pareto())
      val size = if (r.nextDouble() < 0.15) math.min(n - i, 2 + r.nextInt(5)) else 1
      val members = (0 until size).map { m =>
        val t = if (m == 0) base else {
          val e = 0.02 + 0.10 * r.nextDouble()
          base.map(w => if (r.nextDouble() < e) Vocab(Words.draw(r)) else w)
        }
        texts(i + m) = t.mkString(" ")
        i + m
      }
      if (size > 1) {
        members.foreach(family(_) = fam)
        for (a <- members; b <- members if a < b) planted += ((a, b))
        fam += 1
      }
      i += size
    }
    // power-law link graph: out-degree Pareto(1.5) capped at 50, targets
    // drawn Zipf-popular over a seeded permutation of the docs
    val perm = Array.range(0, n)
    for (k <- n - 1 to 1 by -1) { val j = r.nextInt(k + 1); val t = perm(k); perm(k) = perm(j); perm(j) = t }
    val popular = new Zipf(n, 1.0)
    val edges = ArrayBuffer.empty[(Int, Int)]
    for (src <- 0 until n) {
      val deg = math.min(50, (1.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.5)).toInt)
      for (_ <- 0 until deg) {
        val dst = perm(popular.draw(r))
        if (dst != src) edges += ((src, dst))
      }
    }
    Corpus(texts, family, planted.toSeq, edges.distinct.toSeq, perm.take(8).toSeq)
  }

  // ------------------------------------------------------------------ serve

  /** Unit vectors around `clusters` seeded centres (so IVF has structure). */
  final class VecSpace(dim: Int, clusters: Int, seed: Long) {
    private val cr = new java.util.Random(seed)
    private val centres = Array.fill(clusters)(unit(Array.fill(dim)(cr.nextGaussian().toFloat)))
    private def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    def draw(r: java.util.Random): Array[Float] = {
      val c = centres(r.nextInt(clusters))
      unit(c.map(x => x + 0.35f * r.nextGaussian().toFloat / math.sqrt(dim).toFloat * 4f))
    }
  }

  /** Short docs over the shared vocabulary (lengths 20–200 tokens). */
  def docs(n: Int, r: java.util.Random): Array[String] =
    Array.fill(n)(Array.fill(20 + r.nextInt(181))(Vocab(Words.draw(r))).mkString(" "))

  /** 2–3 Zipf-popular query terms. */
  def queryTerms(r: java.util.Random): Seq[String] =
    Seq.fill(2 + r.nextInt(2))(Vocab(Words.draw(r))).distinct
}
