package graftbench

import graft.spark.{Corpus, Doc, Spans, TableIO}
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}

/** Seeded corpora for the extraction workloads.
  *
  * Pages come from the program's own generator, `Corpus.docHtml`, but the
  * benchmark decides which pages are giants instead of leaving it to a
  * per-page coin flip: a corpus of a few thousand pages holds only a few
  * giants, and a giant costs as much as hundreds of ordinary pages, so a
  * coin flip would make the amount of work differ between seeds by more
  * than any bound worth setting. Each corpus therefore has exactly
  * `giants` giant pages, one from each of `giants` equal slices of the
  * generator's 1500–5500 paragraph range, at seed-chosen positions, and
  * no two in the same file: where the giants sit decides how long the
  * slowest scan task runs, which would otherwise also differ by seed.
  */
object Inputs {

  /** `docs` is a multiple of `files`; file `f` holds pages
    * `[f * docs / files, (f + 1) * docs / files)`.
    */
  final case class Shape(docs: Int, giants: Int, files: Int) {
    require(docs % files == 0 && giants <= files, s"unplaceable shape $this")
    def fileOf(i: Long): Long = i / (docs / files)
  }

  val shapes: Map[String, Shape] = Map(
    "extract_typical" -> Shape(docs = 2048, giants = 2, files = 32),
    "extract_giants" -> Shape(docs = 800, giants = 16, files = 32))

  /** `Corpus`'s splitmix64 finalizer, which seeds each page's generator. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Paragraph count `Corpus.docHtml(seed, i, 1.0)` gives page `i`: the
    * generator draws the giant flag, three size draws, then this count.
    */
  def giantParagraphs(seed: Long, i: Long): Int = {
    val r = new Corpus.Rng(mix(seed ^ i))
    var k = 0
    while (k < 4) { r.nextDouble(); k += 1 }
    1500 + r.nextInt(4000)
  }

  def giantIndices(seed: Long, shape: Shape): Set[Long] = {
    val pick = new Corpus.Rng(mix(seed * 31 + 7))
    val chosen = scala.collection.mutable.LinkedHashSet[Long]()
    for (k <- 0 until shape.giants) {
      val lo = 1500 + 4000 * k / shape.giants
      val hi = 1500 + 4000 * (k + 1) / shape.giants
      var found = false
      while (!found) {
        val i = pick.nextInt(shape.docs).toLong
        if (!chosen.exists(c => shape.fileOf(c) == shape.fileOf(i))) {
          val p = giantParagraphs(seed, i)
          if (p >= lo && p < hi) { chosen += i; found = true }
        }
      }
    }
    chosen.toSet
  }

  /** Writes the corpus for (workload, seed) as parquet under `dir` and
    * its input properties beside it; returns the properties.
    */
  def generate(spark: SparkSession, workload: String, seed: Long, dir: Path): Map[String, Any] = {
    import spark.implicits._
    val shape = shapes(workload)
    val giants = giantIndices(seed, shape)
    val docs = spark.range(0, shape.docs.toLong, 1, shape.files).map { i =>
      val (_, spans) = Corpus.docHtml(seed, i, if (giants.contains(i)) 1.0 else 0.0)
      Doc(Corpus.docId(i), spans)
    }
    docs.write.mode("overwrite").parquet(dir.toString)
    val sizes = TableIO.parquet.read(spark, dir.toString).as[Doc]
      .map(d => (d.doc_id, Spans.assembleHtml(d.spans).length.toLong)).collect()
    val lens = sizes.map(_._2).sorted
    val giantIds = giants.map(i => Corpus.docId(i))
    val giantChars = sizes.filter(s => giantIds.contains(s._1)).map(_._2).sum
    def pct(p: Double): Long = lens(math.min(lens.length - 1, (p * lens.length).toInt))
    val props = Map[String, Any](
      "workload" -> workload, "seed" -> seed,
      "docs" -> lens.length, "giants" -> giants.size,
      "input_mb" -> Harness.dataFiles(dir).map(java.nio.file.Files.size(_)).sum / 1048576.0,
      "html_chars_p50" -> pct(0.5), "html_chars_p99" -> pct(0.99),
      "html_chars_max" -> lens.last, "html_chars_total" -> lens.sum,
      "giant_char_share" -> giantChars.toDouble / lens.sum)
    Harness.writeJson(dir.resolve("_inputs.json"), props)
    props
  }
}
