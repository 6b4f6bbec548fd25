package graft.spark

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthetic interleaved-docs corpus (FIXTURES.md §3).
  *
  * Seeded per-doc PRNG (splitmix64 of seed ⊕ docIndex) → byte-identical
  * tables for the same (seed, nDocs) on any partitioning, no wall clock.
  * Pages have realistic extraction work: header/nav chrome, sidebar and
  * comment noise (unlikely-candidate classes), an article body of
  * paragraphs with commas/links, inline media spans, sometimes a data
  * table; sizes are log-normal-ish with a configurable oversize tail to
  * exercise the pipeline's oversize gate.
  */
object Corpus {

  private val words: Array[String] = (
    "the quick brown fox jumps over lazy dog time year people way day man " +
    "thing woman life child world school state family student group country " +
    "problem hand part place case week company system program question work " +
    "government number night point home water room mother area money story " +
    "fact month lot right study book eye job word business issue side kind " +
    "head house service friend father power hour game line end member law car " +
    "city community name president team minute idea body information back " +
    "parent face others level office door health person art war history party " +
    "result change morning reason research girl guy moment air teacher force " +
    "education foot boy age policy process music market sense nation plan " +
    "college interest death experience effect use class control care field " +
    "development role effort rate heart drug show leader light voice wife " +
    "whole police mind finally pull return free military price report less " +
    "according decision explain son hope even develop view relationship town " +
    "road arm true federal break better difference thanks possible fully").split(" ")

  @inline private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = seed
    def nextLong(): Long = { s += 0x9e3779b97f4a7c15L; mix(s) }
    def nextInt(n: Int): Int = (((nextLong() >>> 1) % n).toInt)
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  private def sentence(r: Rng, nWords: Int): String = {
    val sb = new StringBuilder()
    var i = 0
    while (i < nWords) {
      if (i > 0) sb.append(if (i % 7 == 6) ", " else " ")
      val w = words(r.nextInt(words.length))
      sb.append(if (i == 0) w.capitalize else w)
      i += 1
    }
    sb.append(". ")
    sb.toString
  }

  private def paragraph(r: Rng, nSentences: Int): String = {
    val sb = new StringBuilder("<p>")
    var i = 0
    while (i < nSentences) {
      if (r.nextInt(6) == 0)
        sb.append("<a href=\"/ref/").append(r.nextInt(1000)).append("\">")
          .append(sentence(r, 3 + r.nextInt(4)).trim).append("</a> ")
      sb.append(sentence(r, 8 + r.nextInt(14)))
      i += 1
    }
    sb.append("</p>")
    sb.toString
  }

  /** Generate one document's HTML (before span decomposition). */
  def docHtml(seed: Long, index: Long, oversizeFraction: Double): (String, Seq[SpanIn]) = {
    val r = new Rng(mix(seed ^ index))
    val oversize = r.nextDouble() < oversizeFraction
    // log-normal-ish paragraph count: median ~12, heavy tail
    val base = math.exp(2.5 + 0.8 * (r.nextDouble() + r.nextDouble() + r.nextDouble() - 1.5)).toInt
    val nParas = if (oversize) 1500 + r.nextInt(4000) else math.max(4, base)
    val title = sentence(r, 5 + r.nextInt(5)).trim.stripSuffix(".")
    val author = words(r.nextInt(words.length)).capitalize + " " + words(r.nextInt(words.length)).capitalize

    val sb = new StringBuilder(nParas * 600)
    sb.append("<!DOCTYPE html><html lang=\"en\"><head><title>").append(title)
      .append(" | Example Site</title>")
    sb.append("<meta property=\"og:title\" content=\"").append(title).append("\"/>")
    sb.append("<meta name=\"author\" content=\"").append(author).append("\"/>")
    sb.append("<meta property=\"og:site_name\" content=\"Example Site\"/>")
    sb.append("<meta name=\"description\" content=\"").append(sentence(r, 12).trim).append("\"/>")
    sb.append("</head><body>")
    sb.append("<div class=\"header\"><div class=\"nav menu\"><ul>")
    for (_ <- 0 until 6) sb.append("<li><a href=\"/nav/").append(r.nextInt(100)).append("\">")
      .append(words(r.nextInt(words.length))).append("</a></li>")
    sb.append("</ul></div></div>")
    sb.append("<div class=\"sidebar\"><div class=\"widget related\">")
    for (_ <- 0 until 5) sb.append("<a href=\"/rel/").append(r.nextInt(100)).append("\">")
      .append(sentence(r, 4)).append("</a>")
    sb.append("</div></div>")
    sb.append("<div class=\"content article-body\"><h1>").append(title).append("</h1>")
    sb.append("<div class=\"byline author\">By ").append(author).append("</div>")
    var i = 0
    while (i < nParas) {
      sb.append(paragraph(r, 2 + r.nextInt(5)))
      if (r.nextInt(8) == 0)
        sb.append("<img src=\"https://media.example/img/")
          .append(java.lang.Long.toHexString(r.nextLong())).append(".jpg\">")
      if (r.nextInt(40) == 0)
        sb.append("<iframe src=\"https://www.youtube.com/embed/")
          .append(java.lang.Long.toHexString(r.nextLong()).take(8)).append("\"></iframe>")
      i += 1
    }
    if (r.nextInt(4) == 0) {
      sb.append("<table><thead><tr><th>k</th><th>v</th></tr></thead><tbody>")
      for (_ <- 0 until 3 + r.nextInt(8))
        sb.append("<tr><td>").append(words(r.nextInt(words.length)))
          .append("</td><td>").append(r.nextInt(10000)).append("</td></tr>")
      sb.append("</tbody></table>")
    }
    sb.append("</div>")
    sb.append("<div class=\"comments\" id=\"comments\">")
    for (_ <- 0 until r.nextInt(6)) sb.append("<div class=\"comment\"><p>")
      .append(sentence(r, 10 + r.nextInt(10))).append("</p></div>")
    sb.append("</div>")
    sb.append("<div class=\"footer\"><p>Copyright Example Site</p></div>")
    sb.append("</body></html>")
    val html = sb.toString
    (html, Spans.decomposeHtml(html))
  }

  /** The generated doc id for index `i` — single source of truth for the
    * typed generation below and for Catalyst-side id derivations (e.g. a
    * pre-generation resume filter needs the same string).
    */
  def docId(i: Long): String = f"doc_$i%012d"

  /** [[docId]] as a Catalyst column over the range index (same JVM, same
    * `java.util.Formatter` semantics as the f-interpolator).
    */
  def docIdCol(i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.format_string("doc_%012d", i)

  /** Distributed deterministic generation. `idFilter` (over the range
    * index) prunes docs BEFORE the expensive html synthesis — a caller
    * that would drop a deterministic subset anyway (e.g. a resume filter
    * over completed buckets) can skip building it; the surviving docs are
    * byte-identical to an unfiltered run's.
    */
  def generate(spark: SparkSession, nDocs: Long, seed: Long = 42L,
      oversizeFraction: Double = 0.001, nPartitions: Int = 32,
      idFilter: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        _ => org.apache.spark.sql.functions.lit(true)): Dataset[Doc] = {
    import spark.implicits._
    spark.range(0, nDocs, 1, nPartitions)
      .filter(idFilter(org.apache.spark.sql.functions.col("id")))
      .map { i =>
        val (_, spans) = docHtml(seed, i, oversizeFraction)
        Doc(docId(i), spans)
      }
  }
}
