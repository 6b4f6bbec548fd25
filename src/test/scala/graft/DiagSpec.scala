package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

class DiagSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = spark = Diag.session(4)

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def scratch(): Path = Files.createTempDirectory("diag-spec")

  test("median and IQR on odd, even and one-element samples") {
    assert(Diag.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Diag.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Diag.median(Seq(7.0)) == 7.0)
    assert(Diag.iqr(Seq(1.0, 2.0, 3.0, 4.0, 5.0)) == 2.0)
    assert(Diag.iqr(Seq(7.0)) == 0.0)
    intercept[IllegalArgumentException](Diag.median(Nil))
  }

  test("the committed scaling history holds 25 sessions of 4→16 with median 0.8498") {
    val effs = Diag.historyEfficiencies(Paths.get("BENCH/scaling_history.jsonl"), 4, 16)
    assert(effs.length == 25)
    assert(Diag.median(effs) == 0.8498)
    assert(Diag.historyEfficiencies(Paths.get("BENCH/no-such-history.jsonl"), 4, 16).isEmpty)
  }

  test("child heap is 12 GiB, or half the host's memory where that is less") {
    assert(Diag.childHeapMb(16L << 30) == 8192)
    assert(Diag.childHeapMb(24L << 30) == 12288)
    assert(Diag.childHeapMb(256L << 30) == 12288)
  }

  test("a child that floods stderr cannot hang the parent; a failing child fails with its code") {
    def run(script: String) = Await.result(Future(Diag.runChild(Seq("sh", "-c", script))), 60.seconds)
    assert(run("printf '%200000s' '' >&2; echo DOCS_PER_SEC=1") == 1.0)
    val failed = intercept[RuntimeException](run("echo partial; exit 3"))
    assert(failed.getMessage.contains("code 3") && failed.getMessage.contains("partial"))
  }

  test("command line: --out, subcommands, and the usage text on anything else") {
    assert(Diag.parse(Seq("--out", "x/y", "time", "q1_agg", "q2_join")) ==
      Diag.Cmd("time", Seq("q1_agg", "q2_join"), Paths.get("x/y")))
    assert(Diag.parse(Seq("stages")) == Diag.Cmd("stages", Nil, Paths.get("BENCH")))
    assert(Diag.parse(Seq("scaling-child", "4", "c", "10", "raw")).args == Seq("4", "c", "10", "raw"))
    for (bad <- Seq(Seq("bogus"), Nil, Seq("--out", "x"), Seq("scaling", "q1_agg"),
        Seq("scaling-child", "4", "c", "10", "scan")))
      assert(intercept[IllegalArgumentException](Diag.parse(bad)).getMessage.startsWith("usage: graft.Diag"))
  }

  test("command line: kernel takes a corpus and at most two positive counts") {
    assert(Diag.parse(Seq("kernel", "c")) == Diag.Cmd("kernel", Seq("c"), Paths.get("BENCH")))
    assert(Diag.parse(Seq("kernel", "c", "3", "2")).args == Seq("c", "3", "2"))
    for (bad <- Seq(Seq("kernel"), Seq("kernel", "c", "0"), Seq("kernel", "c", "x"),
        Seq("kernel", "c", "1", "2", "3")))
      assert(intercept[IllegalArgumentException](Diag.parse(bad)).getMessage.startsWith("usage: graft.Diag"))
  }

  test("kernel prints each pass, the later-half median and the digest of the pool's outputs") {
    val corpus = scratch().resolve("corpus").toString
    graft.spark.Corpus.generate(spark, 40, seed = 3L, nPartitions = 2).write.parquet(corpus)
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Diag.run(spark, Diag.parse(Seq("kernel", corpus, "3", "2")), Map.empty))
    val lines = out.toString("UTF-8").linesIterator.toSeq
    assert(lines.count(_.startsWith("[diag] kernel pass=")) == 3)
    assert(lines.exists(_.contains("docs=40 threads=2")))
    val pages = (0L until 40L).map { i =>
      (graft.spark.Corpus.docId(i), graft.spark.Spans.assembleHtml(graft.spark.Corpus.docHtml(3L, i, 0.001)._2))
    }
    val digest = Diag.outputDigest(Diag.kernelPass(pages, 1, graft.algo.Options()).toSeq)
    assert(digest.startsWith("40-"))
    assert(lines.last.contains("tail_median=") && lines.last.contains("over passes 2..3") &&
      lines.last.endsWith(s"digest=$digest"), lines.last)
  }

  test("auditFlags: cartesian products anywhere, sort-merge joins only where a broadcast is expected") {
    val cartesian =
      """== Physical Plan ==
        |CartesianProduct (5)
        |:- * Scan parquet  (1)
        |+- * Scan parquet  (3)""".stripMargin
    val smj =
      """== Physical Plan ==
        |AdaptiveSparkPlan (14)
        |+- SortMergeJoin Inner (13)
        |   :- Sort (6)
        |   +- Sort (12)""".stripMargin
    assert(Diag.auditFlags("d8_jaccard_pairs", cartesian) == Seq("CARTESIAN-PRODUCT"))
    assert(Diag.auditFlags("q2_join", smj) == Seq("expected-broadcast-got-SMJ"))
    assert(Diag.auditFlags("d8_jaccard_pairs", smj).isEmpty)
  }

  test("plans writes one audited section per named query") {
    val out = scratch()
    Diag.run(spark, Diag.parse(Seq("--out", out.toString, "plans", "q1_agg", "q2_join")),
      Map("SPARK_GRAFT_SF_DIR" -> sf))
    val md = Files.readString(out.resolve("PLANS.md"))
    assert(md.linesIterator.filter(_.startsWith("## ")).toSeq == Seq("## q1_agg", "## q2_join"))
    assert(md.contains("== Physical Plan ==") && !md.contains("EXPLAIN FAILED"))
  }

  test("time writes rep1 and steady_median per query and leaves nothing persisted") {
    val out = scratch()
    Diag.run(spark, Diag.parse(Seq("--out", out.toString, "time", "q1_agg", "d9_simhash")),
      Map("SPARK_GRAFT_SF_DIR" -> sf, "SPARK_GRAFT_REPS" -> "2"))
    val report = new ObjectMapper().readTree(out.resolve("steady_local.json").toFile)
    assert(report.path("reps").asInt == 2)
    assert(report.path("queries").fieldNames().asScala.toSeq == Seq("q1_agg", "d9_simhash"))
    for (q <- Seq("q1_agg", "d9_simhash"); field <- Seq("rep1", "steady_median"))
      assert(report.path("queries").path(q).path(field).asDouble > 0, s"$q.$field")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
