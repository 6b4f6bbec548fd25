package graftbench

import graftbench.Harness._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.Path
import scala.collection.mutable

/** The 31 registered queries over one table set, in a fixed
  * order, run by the traced run of `extract_typical`. Each query's rows
  * are collected to the driver, as a user reading the result gets them;
  * shared session artifacts (extracted corpus, LSH candidates, simhash
  * pairs, clusters, signatures, IVF) are built by their first consumer,
  * as a user of the session pays for them.
  */
object QueryWork {

  /** Registration order of `Queries.all`. */
  val keys: Seq[String] = Seq(
    "q1_agg", "q2_join", "q3_topk", "q4_window", "q5_filter", "q6_setop",
    "q7_events", "q8_semijoin", "q9_antijoin",
    "d1_dedup_exact", "d2_token_stats", "d3_quality", "d4_lang_id",
    "d5_fingerprint", "d6_minhash", "d7_minhash_lsh_pairs", "d8_jaccard_pairs",
    "d9_simhash", "d10_embed_dup", "d11_simhash_pairs", "d12_repetition",
    "d13_decontaminate", "d14_source_mix", "d15_dup_clusters",
    "e1_cosine_topk", "e2_cosine_lsh", "e3_cosine_ivf", "m1_media_features",
    "x1_extract", "x2_extract_metrics", "x3_extract_resume")

  def checkRegistry(): Unit = {
    val registered = graft.Queries.all.keySet
    require(registered == keys.toSet,
      s"query registry changed: missing ${keys.toSet -- registered}, new ${registered -- keys.toSet}")
  }

  /** Same warm-up as `graft.Bench`: one count per table, so session and
    * file-listing start-up is not charged to the first query.
    */
  def warmUp(spark: SparkSession, tables: Path): Unit =
    graft.Tables.names.foreach(t => graft.Tables.load(spark, tables.toString, t).count())

  final case class Pass(seconds: Map[String, Double], failures: Map[String, String],
      rows: Map[String, (Array[Row], StructType)]) {
    def total: Double = seconds.values.sum
  }

  /** One pass over all keys. A query that throws is recorded as a
    * failure and contributes no time.
    */
  def pass(spark: SparkSession, tables: Path, tr: Trace, tag: String): Pass = {
    val secsByKey = mutable.LinkedHashMap[String, Double]()
    val failures = mutable.LinkedHashMap[String, String]()
    val rows = mutable.LinkedHashMap[String, (Array[Row], StructType)]()
    for (k <- keys) {
      val t0 = now()
      try {
        rows(k) = tr.phase(spark, s"$tag:$k") {
          val df = graft.Queries.all(k)(spark, tables.toString)
          (df.collect(), df.schema)
        }
        secsByKey(k) = secs(t0, now())
      } catch {
        case scala.util.control.NonFatal(e) =>
          failures(k) = String.valueOf(e).take(300)
          System.err.println(s"[perfbench] $k failed: $e")
      }
    }
    Pass(secsByKey.toMap, failures.toMap, rows.toMap)
  }

  /** Writes a pass's results as parquet, one directory per key, and the
    * oracle SQL beside them, the layout `graft.Verify` dumps and
    * `tools/selfcheck.py` reads: after the queries ran,
    * because d10's oracle mirrors what the query derived.
    */
  def writeForCheck(spark: SparkSession, p: Pass, work: Path): Unit = {
    val out = work.resolve("results")
    deleteTree(out)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try p.rows.toSeq.map { case (k, (rows, schema)) =>
      pool.submit(new Runnable {
        def run(): Unit = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.parquet(out.resolve(k).toString)
      })
    }.foreach(_.get())
    finally pool.shutdown()
    writeJson(out.resolve("oracle_sql.json"), graft.SparkEntry.oracleSql)
  }

  /** Traced 31-query set over the tables in `tables`: per-query time and
    * shuffle volume of a first-run pass, then a repeat pass that reuses
    * the session artifacts the first one built.
    */
  def traced(spark: SparkSession, tables: Path, work: Path, tr: Trace): Map[String, Any] = {
    checkRegistry()
    warmUp(spark, tables)
    graft.Queries.releaseCaches(spark)
    HeapPeak.reset()
    val first = pass(spark, tables, tr, "first")
    val heapMb = HeapPeak.peakMb
    val repeat = pass(spark, tables, tr, "repeat")
    writeForCheck(spark, first, work)
    graft.Queries.releaseCaches(spark)
    val m = mutable.LinkedHashMap[String, Any]()
    var gcMs = 0L
    var runMs = 0L
    var spill = 0L
    for (k <- keys) {
      val g = tr.group(spark, s"first:$k")
      m(s"queries.${k}_s") = first.seconds.getOrElse(k, 0.0)
      m(s"queries.${k}_shuffle_mb") = g.shuffleWriteBytes / 1048576.0
      gcMs += g.gcMs; runMs += g.runMs; spill += g.diskSpill
    }
    m ++= Seq(
      "queries.total_s" -> first.total,
      "queries.rep2_total_s" -> repeat.total,
      "queries.shared_artifact_s" -> (first.total - repeat.total),
      "queries.spill_mb" -> spill / 1048576.0,
      "queries.gc_share" -> gcMs.toDouble / math.max(1L, runMs),
      "queries.heap_peak_mb" -> heapMb)
    Map("metrics" -> m, "keys" -> keys, "failures" -> (first.failures ++ repeat.failures))
  }
}
