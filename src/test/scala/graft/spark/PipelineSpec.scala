package graft.spark

import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("pipeline-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("span assemble/decompose round trip preserves media positions") {
    val html = "<div><p>hello</p><img src=\"a.jpg\"><p>world</p>" +
      "<iframe src=\"https://www.youtube.com/embed/x\"></iframe><p>end</p></div>"
    val spans = Spans.decomposeHtml(html)
    assert(spans.count(_.kind == "img") == 1)
    assert(spans.count(_.kind == "iframe") == 1)
    assert(spans.map(_.offset) == spans.indices)
    val re = Spans.assembleHtml(spans)
    assert(re.contains("<img src=\"a.jpg\">"))
    assert(re.contains("<p>hello</p>"))
    assert(re.indexOf("hello") < re.indexOf("a.jpg"))
    assert(re.indexOf("a.jpg") < re.indexOf("world"))
  }

  test("InternalRow html assembly matches the typed assembleHtml (incl. unsorted offsets, unicode, escaping)") {
    val s = spark
    import s.implicits._
    implicit val sp: SparkSession = s
    val docs = Seq(
      Doc("a", Seq(
        SpanIn("img", null, "https://x/å?q=\"1\"&r=2", 1),
        SpanIn("text", "héllo <b>wörld</b> — ", null, 0),
        SpanIn("video", null, "v.mp4", 2),
        SpanIn("weird", "ignored", "ignored", 3),
        SpanIn("text", "<p>tail 普通话</p>", null, 4))),
      Doc("b", Seq(SpanIn("text", "<article><p>" + ("x," * 300) + "</p></article>", null, 0)))
    )
    for (d <- docs) {
      val expected = Spans.assembleHtml(d.spans)
      // drive the row path through the real pipeline plan
      val viaRow = {
        val df = Seq(d).toDS().toDF().select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("spans"))
        val spanType = df.schema("spans").dataType
          .asInstanceOf[org.apache.spark.sql.types.ArrayType]
          .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
        df.queryExecution.toRdd.map { row =>
          Spans.assembleHtmlFromRow(row.getArray(1), spanType.length,
            spanType.fieldIndex("kind"), spanType.fieldIndex("text"),
            spanType.fieldIndex("media_ref"), spanType.fieldIndex("offset"))
        }.collect().head
      }
      assert(viaRow == expected, s"doc ${d.doc_id}")
    }
  }

  test("corpus generation is deterministic") {
    val (h1, s1) = Corpus.docHtml(42L, 7L, 0.0)
    val (h2, s2) = Corpus.docHtml(42L, 7L, 0.0)
    assert(h1 == h2)
    assert(s1 == s2)
    val (h3, _) = Corpus.docHtml(42L, 8L, 0.0)
    assert(h1 != h3)
  }

  test("end-to-end: generate → extract → spans + metadata populated") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val docs = Corpus.generate(spark, 24, seed = 42L, oversizeFraction = 0.0, nPartitions = 4)
    val out = Pipeline.extract(docs).collect()
    assert(out.length == 24)
    val ok = out.filter(_.status == "ok")
    assert(ok.length >= 20, s"statuses: ${out.map(_.status).groupBy(identity).view.mapValues(_.length).toMap}")
    // extraction must strip chrome: no nav/footer text in spans
    val allText = ok.flatMap(_.spans).filter(_.kind == "text").map(_.text).mkString(" ")
    assert(!allText.contains("Copyright Example Site"))
    // metadata flows through
    assert(ok.forall(_.title != null))
    assert(ok.count(_.byline != null) >= ok.length / 2)
    // media spans survive inline with absolute refs
    val media = ok.flatMap(_.spans).filter(_.kind == "img")
    assert(media.nonEmpty)
    assert(media.forall(_.media_ref.startsWith("https://media.example/")))
    // span order is 0-based sequential per doc
    ok.foreach(d => assert(d.spans.map(_.order) == d.spans.indices))
  }

  test("extraction is deterministic across runs and partitionings") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val a = Pipeline.extract(Corpus.generate(spark, 12, nPartitions = 2))
      .collect().sortBy(_.doc_id).map(d => (d.doc_id, d.spans, d.title))
    val b = Pipeline.extract(Corpus.generate(spark, 12, nPartitions = 6))
      .collect().sortBy(_.doc_id).map(d => (d.doc_id, d.spans, d.title))
    assert(a.toSeq == b.toSeq)
  }

  test("lineage rows cover all docs; resume filter drops completed part_keys") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val nParts = 8
    val docs = Corpus.generate(spark, 16, nPartitions = 4)
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    try {
      val (extracted, lineage) = Pipeline.extractToSink(docs, "run-1", out,
        Pipeline.Config(), nParts)
      // single-pass: the extraction plan must not cache the corpus
      assert(!extracted.queryExecution.executedPlan.toString.contains("InMemoryRelation"))
      val lrows = lineage.collect()
      assert(lrows.map(_.n_docs).sum == 16)
      assert(extracted.count() == 16)
      // resume: drop the buckets the first run completed
      val doneKeys = lrows.map(_.part_key).take(lrows.length / 2)
      val doneLineage = doneKeys.toSeq.toDF("part_key")
      val resumed = Lineage.resumeFilter(docs.toDF(), doneLineage, nParts)
      val expectedDropped = lrows.filter(r => doneKeys.contains(r.part_key)).map(_.n_docs).sum
      assert(resumed.count() == 16 - expectedDropped)
      // resumed docs ∩ done buckets = ∅
      val leftover = resumed.withColumn("pk", Lineage.partKey(col("doc_id"), nParts))
        .filter(col("pk").isInCollection(doneKeys.toSeq)).count()
      assert(leftover == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("resumed sink APPENDS: the committed output being resumed from survives") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val nParts = 8
    val docs = Corpus.generate(spark, 16, nPartitions = 4)
    val out = java.nio.file.Files.createTempDirectory("graft-resume").toString
    try {
      // run 1 covers whole buckets 0..3 only (whole-bucket contract)
      val firstHalf = docs.toDF()
        .filter(Lineage.partKey(col("doc_id"), nParts) < 4).as[Doc]
      val (_, lineage1) = Pipeline.extractToSink(firstHalf, "run-1", out,
        Pipeline.Config(), nParts)
      val n1 = spark.read.parquet(out).count()
      // resumed run: remaining buckets, resume = true → append
      val remaining = Lineage.resumeFilter(docs.toDF(), lineage1.toDF(), nParts).as[Doc]
      val (_, lineage2) = Pipeline.extractToSink(remaining, "run-2", out,
        Pipeline.Config(), nParts, resume = true)
      val total = spark.read.parquet(out)
      assert(total.count() == 16, s"append lost rows: ${total.count()} (run1 wrote $n1)")
      assert(total.select("doc_id").distinct().count() == 16)
      // combined lineage covers every doc exactly once
      assert(lineage2.collect().map(_.n_docs).sum == 16) // derived from full committed table
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("resume stays map-only even with a done set too large to broadcast") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // a "done" lineage the size of a big restart's bookkeeping: 200k keys —
    // broadcast-hostile if the plan were a join; fine as a collected bitmap
    val nParts = 1 << 20
    val doneLineage = spark.range(200000).select(org.apache.spark.sql.functions.col("id").as("part_key"))
    val docs = Corpus.generate(spark, 8, nPartitions = 2)
    val resumed = Lineage.resumeFilter(docs.toDF(), doneLineage, nParts)
    val plan = resumed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    resumed.count() // executes without driver-side blowup
  }

  test("resume derives its done-set from the lineage sidecar, not an output scan; stale sidecar falls back") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val nParts = 8
    val docs = Corpus.generate(spark, 16, nPartitions = 4)
    val out = java.nio.file.Files.createTempDirectory("graft-sidecar").toString + "/sink"
    val reads = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    var metaProbes = 0
    val io: TableIO = new TableIO {
      private val inner = new ParquetTableIO()
      override def read(sp: SparkSession, table: String) = { reads(table) += 1; inner.read(sp, table) }
      override def write(df: org.apache.spark.sql.DataFrame, table: String): Unit = inner.write(df, table)
      override def append(df: org.apache.spark.sql.DataFrame, table: String): Unit = inner.append(df, table)
      override def sidecar(table: String, suffix: String) = inner.sidecar(table, suffix)
      override def countRows(sp: SparkSession, table: String) = { metaProbes += 1; inner.countRows(sp, table) }
      override def drop(sp: SparkSession, table: String): Unit = inner.drop(sp, table)
    }
    try {
      val (_, lineage) = Pipeline.extractToSink(docs, "run-1", out,
        Pipeline.Config(), nParts, io)
      val expectedKeys = lineage.collect().map(_.part_key).toSet
      // sidecar landed beside the sink and is skipped by the sink's own scan
      assert(spark.read.parquet(out + "/_lineage").count() == expectedKeys.size)
      assert(spark.read.parquet(out).columns.contains("doc_id"))
      reads.clear(); metaProbes = 0
      // happy path: done-set = sidecar only — ZERO reads of the output
      // table, one metadata row-count probe
      val done = Lineage.doneSet(io, spark, out).get
      val keys = done.collect().map(_.getLong(0)).toSet
      assert(keys == expectedKeys)
      assert(reads(out) == 0, s"resume scanned the output table: $reads")
      assert(reads(out + "/_lineage") == 1, reads.toString)
      assert(metaProbes == 1)
      // stale sidecar (crash between sink append and sidecar overwrite):
      // append committed rows BEHIND the sidecar's back → count mismatch →
      // doneSet must distrust the sidecar and fall back to the output scan
      val extra = spark.read.parquet(out).limit(2)
        .withColumn("doc_id", org.apache.spark.sql.functions.concat(col("doc_id"), org.apache.spark.sql.functions.lit("-dup")))
      new ParquetTableIO().append(extra, out)
      reads.clear()
      val done2 = Lineage.doneSet(io, spark, out).get
      assert(reads(out) == 1, s"stale sidecar not detected: $reads")
      assert(done2.collect().map(_.getLong(0)).toSet ==
        spark.read.parquet(out).select("part_key").distinct().collect().map(_.getLong(0)).toSet)
      // no sidecar at all (older sink): fallback to the output scan
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out + "/_lineage"))
      val done3 = Lineage.doneSet(io, spark, out)
      assert(done3.isDefined && done3.get.collect().nonEmpty)
      // nothing committed at all: fresh run
      assert(Lineage.doneSet(io, spark, out + "-nonexistent").isEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(out).getParentFile)
    }
  }

  test("exactly-once lineage: uncommitted task output is never counted (Iceberg-contract simulation)") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val nParts = 8
    val docs = Corpus.generate(spark, 16, nPartitions = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-commit").toString
    val outPath = dir + "/out"
    try {
      // pick a resume bucket that actually holds docs
      val failedBucket = docs.toDF()
        .select(Lineage.partKey(col("doc_id"), nParts).as("pk"))
        .groupBy("pk").count().orderBy(col("pk")).collect().head.getLong(0)
      // TableIO simulating Iceberg snapshot isolation under a failed task:
      // one bucket's rows land in staged files that never enter the
      // committed snapshot (an Iceberg task retry leaves orphan data
      // files); read() sees only the committed snapshot. The lineage
      // contract (Pipeline.extractToSink: lineage derives from io.read of
      // the COMMITTED table, never from the extraction dataset) must count
      // only committed rows, leaving the failed bucket resumable.
      val io = new TableIO {
        private val inner = new ParquetTableIO()
        override def read(spark: SparkSession, table: String) = inner.read(spark, table)
        override def write(df: org.apache.spark.sql.DataFrame, table: String): Unit = {
          inner.write(df.filter(col("part_key") =!= failedBucket), table)
          inner.write(df.filter(col("part_key") === failedBucket), table + "-uncommitted")
        }
        override def append(df: org.apache.spark.sql.DataFrame, table: String): Unit =
          write(df, table)
        override def drop(sp: SparkSession, table: String): Unit = inner.drop(sp, table)
      }
      val (extracted, lineage) = Pipeline.extractToSink(docs, "run-1", outPath,
        Pipeline.Config(), nParts, io)
      val lrows = lineage.collect()
      val committed = spark.read.parquet(outPath).count()
      assert(committed < 16, "test setup: failed bucket must drop rows")
      // lineage counts EXACTLY the committed snapshot, not what extract produced
      assert(lrows.map(_.n_docs).sum == committed)
      assert(!lrows.map(_.part_key).contains(failedBucket))
      assert(extracted.count() == committed)
      // the failed bucket stays resumable: resumeFilter keeps exactly its docs
      val remaining = Lineage.resumeFilter(docs.toDF(), lineage.toDF(), nParts)
      assert(remaining.count() == 16 - committed)
      val keys = remaining.select(Lineage.partKey(col("doc_id"), nParts).as("pk"))
        .distinct().collect().map(_.getLong(0)).toSet
      assert(keys == Set(failedBucket))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("Submit entrypoint: fresh run extracts all docs; resume appends nothing") {
    implicit val s: SparkSession = spark
    val dir = java.nio.file.Files.createTempDirectory("graft-submit").toString
    val in = dir + "/corpus"
    val out = dir + "/sink"
    try {
      Corpus.generate(spark, 20, nPartitions = 2).write.parquet(in)
      // getOrCreate inside Submit.main reuses the suite's session
      graft.Submit.main(Array("--in", in, "--out", out, "--parts", "16", "--run-id", "t1"))
      val first = spark.read.parquet(out)
      assert(first.count() == 20)
      assert(first.select("doc_id").distinct().count() == 20)
      graft.Submit.main(Array("--in", in, "--out", out, "--parts", "16",
        "--run-id", "t2", "--resume"))
      val second = spark.read.parquet(out)
      assert(second.count() == 20, "resume re-extracted completed buckets")
      assert(second.select("doc_id").distinct().count() == 20)
      // --compact: post-run maintenance through the same entrypoint; a
      // further resume after compaction still appends nothing
      graft.Submit.main(Array("--in", in, "--out", out, "--parts", "16",
        "--run-id", "t3", "--resume", "--compact", "2"))
      val third = spark.read.parquet(out)
      assert(third.count() == 20)
      assert(new java.io.File(out).listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet")) == 2)
      assert(Coverage.latest("submit_compact").exists(_.status == "ok"))
      // the registry is PERSISTED beside the sink on the deployment path
      val covTbl = spark.read.parquet(out + "/_coverage")
      assert(covTbl.filter(org.apache.spark.sql.functions.col("query") === "submit_compact")
        .count() >= 1, "coverage sidecar missing the compaction row")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("oversize-gate stats: accumulators count gated giants and their wait time") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, size}
    // a quarter of the corpus is giant → the gate must engage, and the
    // accumulators must agree exactly with the corpus's own span counts
    val docs = Corpus.generate(spark, 24, seed = 7L, oversizeFraction = 0.25, nPartitions = 4)
    val threshold = 64
    val expected = docs.toDF().filter(size(col("spans")) > threshold).count()
    assert(expected > 0, "test setup: need giants in the corpus")
    val (out, stats) = Pipeline.extractWithStats(docs,
      Pipeline.Config(oversizeSpans = threshold, oversizePartitions = 1))
    assert(stats.nOversize.value == 0, "stats must be lazy until an action runs")
    assert(out.count() == 24)
    assert(stats.nOversize.value == expected,
      s"gated ${stats.nOversize.value}, corpus has $expected giants")
    assert(stats.gateWaitMs.value >= 0)
  }

  test("CatalogTableIO contract: extractToSink + sidecar resume through the session catalog") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val nParts = 8
    val docs = Corpus.generate(spark, 12, nPartitions = 2)
    val io = new CatalogTableIO
    val tbl = "graft_cat_sink"
    try {
      // fresh run: sink + lineage sidecar land as catalog tables
      val firstHalf = docs.toDF().filter(Lineage.partKey(col("doc_id"), nParts) < 4).as[Doc]
      val (_, lineage1) = Pipeline.extractToSink(firstHalf, "run-1", tbl,
        Pipeline.Config(), nParts, io)
      val n1 = spark.table(tbl).count()
      assert(n1 == firstHalf.count())
      assert(spark.catalog.tableExists(io.sidecar(tbl, "lineage")))
      assert(lineage1.collect().map(_.n_docs).sum == n1)
      // resume: done-set from the catalog sidecar, append the rest
      val done = Lineage.doneSet(io, spark, tbl)
      assert(done.isDefined)
      val remaining = Lineage.resumeFilter(docs.toDF(), done.get, nParts).as[Doc]
      val (_, lineage2) = Pipeline.extractToSink(remaining, "run-2", tbl,
        Pipeline.Config(), nParts, io, resume = true)
      assert(spark.table(tbl).count() == 12)
      assert(spark.table(tbl).select("doc_id").distinct().count() == 12)
      assert(lineage2.collect().map(_.n_docs).sum == 12)
      // second resume appends nothing (all buckets done)
      val done2 = Lineage.doneSet(io, spark, tbl).get
      val rem2 = Lineage.resumeFilter(docs.toDF(), done2, nParts)
      assert(rem2.count() == 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${io.sidecar(tbl, "lineage")}")
    }
  }

  test("catalog crash window between sink commit and sidecar write: resume stays exact") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val nParts = 8
    val docs = Corpus.generate(spark, 12, nPartitions = 2)
    val tbl = "graft_crash_sink"
    var crashSidecar = false
    final class SimCrash extends RuntimeException("simulated crash before sidecar commit")
    // CatalogTableIO via composition (it is final), with a kill switch on
    // the sidecar write — the exact non-atomic window commitWithSidecar
    // documents
    val io: TableIO = new TableIO {
      private val inner = new CatalogTableIO
      override def read(sp: SparkSession, t: String) = inner.read(sp, t)
      override def write(df: org.apache.spark.sql.DataFrame, t: String): Unit = {
        if (crashSidecar && t.endsWith("_lineage")) throw new SimCrash
        inner.write(df, t)
      }
      override def append(df: org.apache.spark.sql.DataFrame, t: String): Unit = inner.append(df, t)
      override def countRows(sp: SparkSession, t: String) = inner.countRows(sp, t)
      override def drop(sp: SparkSession, t: String): Unit = inner.drop(sp, t)
    }
    try {
      // run 1: clean commit of buckets 0..3 (sink + sidecar)
      val firstHalf = docs.toDF().filter(Lineage.partKey(col("doc_id"), nParts) < 4).as[Doc]
      val (_, lineage1) = Pipeline.extractToSink(firstHalf, "run-1", tbl,
        Pipeline.Config(), nParts, io)
      val n1 = spark.table(tbl).count()
      // run 2 (resume): sink APPEND commits, then the process dies before
      // the sidecar overwrite — sidecar left STALE (still claims run-1 only)
      val rem1 = Lineage.resumeFilter(docs.toDF(), lineage1.toDF(), nParts).as[Doc]
      crashSidecar = true
      intercept[SimCrash] {
        Pipeline.extractToSink(rem1, "run-2", tbl,
          Pipeline.Config(), nParts, io, resume = true)
      }
      crashSidecar = false
      val committed = spark.table(tbl).count()
      assert(committed == 12, s"run-2 sink append must have committed: $committed")
      // run 3 (resume after the crash): doneSet must DISTRUST the stale
      // sidecar (count probe mismatch: sidecar says run-1 rows, sink has
      // run-1 + run-2), fall back to the committed-output scan, and find
      // every bucket done — the resume appends NOTHING and no doc ever
      // duplicates. This is the crash-window exactness contract.
      val done = Lineage.doneSet(io, spark, tbl)
      assert(done.isDefined)
      val rem2 = Lineage.resumeFilter(docs.toDF(), done.get, nParts)
      assert(rem2.count() == 0, s"stale sidecar trusted: ${rem2.count()} docs re-extracted")
      val (_, lineage3) = Pipeline.extractToSink(rem2.as[Doc], "run-3", tbl,
        Pipeline.Config(), nParts, io, resume = true)
      assert(spark.table(tbl).count() == 12)
      assert(spark.table(tbl).select("doc_id").distinct().count() == 12,
        "crash-window resume duplicated docs")
      // run-3's clean commit also HEALED the sidecar: next resume is
      // O(nParts) again and covers everything
      assert(lineage3.collect().map(_.n_docs).sum == 12)
      assert(io.countRows(spark, io.sidecar(tbl, "lineage")) > 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_lineage")
    }
  }

  /** ParquetTableIO that counts reads and footer counts per table, can
    * fail the lineage sidecar write (the crash window), and records how
    * often the sink was read when its sidecar was written — the commit's
    * own sink reads.
    */
  private final class CountingIO extends TableIO {
    private val inner = new ParquetTableIO()
    val reads = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val counts = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    var sinkReadsAtSidecarWrite = -1
    var crashSidecar = false
    def reset(): Unit = { reads.clear(); counts.clear(); sinkReadsAtSidecarWrite = -1 }
    override def read(sp: SparkSession, t: String) = { reads(t) += 1; inner.read(sp, t) }
    override def read(sp: SparkSession, t: String, schema: org.apache.spark.sql.types.StructType) = {
      reads(t) += 1; inner.read(sp, t, schema)
    }
    override def write(df: org.apache.spark.sql.DataFrame, t: String): Unit = {
      if (t.endsWith("/_lineage")) {
        if (crashSidecar) throw new IllegalStateException("simulated crash before sidecar commit")
        sinkReadsAtSidecarWrite = reads(t.stripSuffix("/_lineage"))
      }
      inner.write(df, t)
    }
    override def append(df: org.apache.spark.sql.DataFrame, t: String): Unit = inner.append(df, t)
    override def appendCommitted(df: org.apache.spark.sql.DataFrame, t: String) =
      inner.appendCommitted(df, t)
    override def sidecar(t: String, suffix: String) = inner.sidecar(t, suffix)
    override def countRows(sp: SparkSession, t: String) = { counts(t) += 1; inner.countRows(sp, t) }
    override def tableRows(sp: SparkSession, t: String) = inner.tableRows(sp, t)
    override def drop(sp: SparkSession, t: String): Unit = inner.drop(sp, t)
    override def compact(sp: SparkSession, t: String, n: Int) = inner.compact(sp, t, n)
  }

  /** The sink's lineage sidecar, and a full re-derive over the whole sink
    * stamped with `runId`, both sorted by part_key.
    */
  private def sidecarAndRederive(out: String, runId: String): (Seq[LineageRow], Seq[LineageRow]) = {
    implicit val s: SparkSession = spark
    import s.implicits._
    (spark.read.parquet(out + "/_lineage").as[LineageRow].collect().toSeq.sortBy(_.part_key),
      Lineage.fromOutput(TableIO.parquet.read(spark, out), runId).collect().toSeq.sortBy(_.part_key))
  }

  /** doneSet → resumeFilter → extractToSink(resume = true), as Submit runs a restart. */
  private def restart(io: TableIO, docs: Dataset[Doc], out: String, runId: String,
      nParts: Int): Unit = {
    implicit val s: SparkSession = spark
    import s.implicits._
    val todo = Lineage.doneSet(io, spark, out) match {
      case Some(done) => Lineage.resumeFilter(docs.toDF(), done, nParts).as[Doc]
      case None => docs
    }
    Pipeline.extractToSink(todo, runId, out, Pipeline.Config(), nParts, io, resume = true)
  }

  test("a resumed commit merges the sidecar from the appended files: equal to a full re-derive, no sink read") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val nParts = 8
    val docs = Corpus.generate(spark, 16, nPartitions = 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft-merge").toString
    val out = tmp + "/sink"
    val io = new CountingIO
    try {
      val firstHalf = docs.toDF().filter(Lineage.partKey(col("doc_id"), nParts) < 4).as[Doc]
      Pipeline.extractToSink(firstHalf, "run-1", out, Pipeline.Config(), nParts, io)
      // the other half, a no-op, and a no-op after compaction: each commit
      // merges (the sink is never read before the sidecar is written; only
      // doneSet's footer count touches it, and the commit's count reuses
      // that one) and leaves exactly the rows a full re-derive would
      for ((runId, compactFirst) <- Seq(("run-2", false), ("run-3", false), ("run-4", true))) {
        if (compactFirst) io.compact(spark, out, 2)
        io.reset()
        restart(io, docs, out, runId, nParts)
        assert(io.sinkReadsAtSidecarWrite == 0, s"$runId re-aggregated the sink: ${io.reads}")
        assert(io.counts(out) == 1, s"$runId: ${io.counts}")
        val (side, full) = sidecarAndRederive(out, runId)
        assert(side == full, runId)
        assert(side.map(_.n_docs).sum == 16)
      }
      assert(spark.read.parquet(out).select("doc_id").distinct().count() == 16)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("parquet crash window between sink commit and sidecar write: the merge is refused, the re-derive heals") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val nParts = 8
    val docs = Corpus.generate(spark, 12, nPartitions = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val out = tmp + "/sink"
    val io = new CountingIO
    try {
      val firstHalf = docs.toDF().filter(Lineage.partKey(col("doc_id"), nParts) < 4).as[Doc]
      Pipeline.extractToSink(firstHalf, "run-1", out, Pipeline.Config(), nParts, io)
      // run 2: the sink append commits, the sidecar write dies — the
      // sidecar still claims run-1's rows only
      io.crashSidecar = true
      intercept[IllegalStateException](restart(io, docs, out, "run-2", nParts))
      io.crashSidecar = false
      assert(spark.read.parquet(out).count() == 12)
      // run 3: doneSet distrusts the stale sidecar (output scan), nothing
      // is left to extract, and the commit's merge (stale prior + an empty
      // append) fails the sink's count, so the sidecar is re-derived
      io.reset()
      restart(io, docs, out, "run-3", nParts)
      assert(io.sinkReadsAtSidecarWrite == 2, s"merge of a stale sidecar was trusted: ${io.reads}")
      assert(spark.read.parquet(out).count() == 12)
      assert(spark.read.parquet(out).select("doc_id").distinct().count() == 12)
      val (side, full) = sidecarAndRederive(out, "run-3")
      assert(side == full)
      // healed: the next doneSet trusts the sidecar again
      io.reset()
      val done = Lineage.doneSet(io, spark, out).get
      assert(io.reads(out) == 0, io.reads.toString)
      assert(done.collect().map(_.getLong(0)).toSet == side.map(_.part_key).toSet)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("the bitmap resume filter keeps exactly the rows the IN-list filter kept") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // 100 keys: not a multiple of 64, so the bitmap's last word is partial
    val nParts = 100
    val ids: Seq[String] = (0 until 1500).map(i => s"doc_$i") ++
      Seq(null, "", "é", "文档-7", "doc-😀", "doc-！")
    val docs = ids.toDF("doc_id")
    val keyOf = docs.select(col("doc_id"), Lineage.partKey(col("doc_id"), nParts).as("pk"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(keyOf.values.toSet == (0L until nParts).toSet, "test setup: every key, 0 and nParts - 1 included")
    def kept(df: org.apache.spark.sql.DataFrame): Seq[Option[String]] =
      df.collect().map(r => Option(r.getString(0))).toSeq.sortBy(_.toString)
    // the filter before the bitmap, as the reference
    def inList(keys: Seq[Long]): Seq[Option[String]] =
      if (keys.isEmpty) kept(docs)
      else kept(docs.filter(!Lineage.partKey(col("doc_id"), nParts).isInCollection(keys)))
    val specials = Seq(None, Some("é"), Some("文档-7"), Some("doc-😀")).map(keyOf)
    val doneSets: Seq[Seq[Long]] = Seq(
      Nil,
      0L until nParts,
      Seq(0L, nParts - 1L),
      specials,
      Seq(-1L, -64L, nParts.toLong, nParts + 63L, Long.MinValue, Long.MaxValue),
      Seq(3L, 63L, 64L, 65L, -5L, 500L, 3L),
      (0L until nParts by 3) ++ Seq(-3L, 2L * nParts))
    for (keys <- doneSets) {
      val viaFilter = kept(Lineage.resumeFilter(docs, keys.toDF("part_key"), nParts))
      assert(viaFilter == inList(keys), keys)
      assert(kept(docs.filter(Lineage.notDone(col("doc_id"), keys, nParts))) == inList(keys), keys)
    }
    assert(kept(Lineage.resumeFilter(docs, (0L until nParts).toDF("part_key"), nParts)).isEmpty)
    assert(kept(docs.filter(Lineage.notDone(col("doc_id"), Nil, nParts))).length == ids.length)
  }

  test("the resume filter's plan does not grow with the done set") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val nParts = Lineage.defaultParts
    val docs = Seq("doc_1", "doc_2").toDF("doc_id")
    def filterExprs(done: org.apache.spark.sql.DataFrame): Int =
      Lineage.resumeFilter(docs, done, nParts).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition.collect { case e => e }.size
      }.sum
    val one = filterExprs(Seq(7L).toDF("part_key"))
    val all = filterExprs(spark.range(nParts).toDF("part_key"))
    assert(one > 0 && one == all, s"1 key: $one expressions, $nParts keys: $all")
  }

  /** The sink's data files as (name, length, modification time). */
  private def sinkListing(out: String): Set[(String, Long, Long)] =
    new java.io.File(out).listFiles().toSet
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => (f.getName, f.length(), f.lastModified()))

  test("a no-op restart at the default nParts adds no file to the sink and restamps the sidecar") {
    implicit val s: SparkSession = spark
    val docs = Corpus.generate(spark, 12, nPartitions = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-noop").toString
    val out = tmp + "/sink"
    try {
      Pipeline.extractToSink(docs, "run-1", out)
      val files = sinkListing(out)
      for (runId <- Seq("run-2", "run-3")) {
        restart(TableIO.parquet, docs, out, runId, Lineage.defaultParts)
        assert(sinkListing(out) == files, runId)
        val (side, full) = sidecarAndRederive(out, runId)
        assert(side == full, runId)
        assert(side.map(_.n_docs).sum == 12 && side.forall(_.run_id == runId))
      }
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("a resumed run over an empty input with no sink creates the table and an empty sidecar") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val out = tmp + "/sink"
    try {
      val (extracted, lineage) = Pipeline.extractToSink(spark.emptyDataset[Doc], "run-0", out,
        resume = true)
      assert(spark.read.parquet(out).count() == 0)
      assert(spark.read.parquet(out).columns.contains("part_key"))
      assert(spark.read.parquet(out + "/_lineage").count() == 0)
      assert(extracted.count() == 0 && lineage.count() == 0)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("a restart reads its sidecars without Spark's all-paths-ignored warning") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val docs = Corpus.generate(spark, 12, nPartitions = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-logs").toString
    val out = tmp + "/sink"
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = org.apache.logging.log4j.LogManager.getRootLogger.asInstanceOf[Logger]
    def ignored: Int = lines.toArray.count(_.toString.contains("All paths were ignored"))
    try {
      root.addAppender(appender)
      Pipeline.extractToSink(docs, "run-1", out, Pipeline.Config(), 8)
      // an appending restart and a no-op one, each reading `_lineage`
      val firstHalf = docs.toDF().filter(Lineage.partKey(col("doc_id"), 8) < 4).as[Doc]
      Pipeline.extractToSink(firstHalf, "run-2", tmp + "/half", Pipeline.Config(), 8)
      restart(TableIO.parquet, docs, tmp + "/half", "run-3", 8)
      restart(TableIO.parquet, docs, out, "run-4", 8)
      TableIO.parquet.read(spark, out + "/_lineage", Lineage.schema).collect()
      assert(ignored == 0, lines.toArray.mkString("\n"))
      // the appender sees the warning where a read still passes the directory
      spark.read.parquet(out + "/_lineage").collect()
      assert(ignored > 0, "the capture saw no warning at all")
    } finally {
      root.removeAppender(appender)
      appender.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("merged max_doc_id follows Spark's UTF-8 binary order and ignores null ids") {
    implicit val s: SparkSession = spark
    import s.implicits._
    // U+1F600 (a surrogate pair in UTF-16) sorts below U+FF01 in Java's
    // compareTo and above it in UTF-8 byte order, which Spark's max uses
    val (bmp, astral) = ("doc-\uFF01", "doc-\uD83D\uDE00")
    assert(bmp.compareTo(astral) > 0)
    assert(Lineage.maxDocId(bmp, astral) == astral && Lineage.maxDocId(astral, bmp) == astral)
    assert(Lineage.maxDocId(null, bmp) == bmp && Lineage.maxDocId(bmp, null) == bmp)
    val page = Corpus.generate(spark, 1, nPartitions = 1).collect().head
    val tmp = java.nio.file.Files.createTempDirectory("graft-maxid").toString
    val out = tmp + "/sink"
    val io = new CountingIO
    try {
      // nParts = 1: every id, the null one included, lands in one bucket
      Pipeline.extractToSink(Seq(page.copy(doc_id = null)).toDS(), "run-0", out,
        Pipeline.Config(), 1, io)
      for ((id, i) <- Seq(bmp, astral, null).zipWithIndex) {
        io.reset()
        Pipeline.extractToSink(Seq(page.copy(doc_id = id)).toDS(), s"run-${i + 1}", out,
          Pipeline.Config(), 1, io, resume = true)
        assert(io.sinkReadsAtSidecarWrite == 0, s"run-${i + 1} did not merge")
        val (side, full) = sidecarAndRederive(out, s"run-${i + 1}")
        assert(side == full, s"run-${i + 1}")
        assert(side.map(_.max_doc_id) == Seq(if (id == null) astral else id))
      }
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("extractToSink records the oversize gate as a coverage row") {
    implicit val s: SparkSession = spark
    import org.apache.spark.sql.functions.{col, size}
    val docs = Corpus.generate(spark, 12, seed = 7L, oversizeFraction = 0.25, nPartitions = 2)
    val threshold = 64
    val giants = docs.toDF().filter(size(col("spans")) > threshold).count()
    assert(giants > 0, "test setup: need giants in the corpus")
    val tmp = java.nio.file.Files.createTempDirectory("graft-gate").toString
    try {
      Pipeline.extractToSink(docs, "gate", tmp + "/sink", Pipeline.Config(oversizeSpans = threshold))
      val row = Coverage.latest("extract")
      assert(row.exists(_.kind == "oversize_gate"), row.toString)
      assert(row.get.metrics("oversize_docs") == giants.toDouble)
      assert(row.get.metrics("gate_wait_ms") >= 0.0)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("TableIO parquet seam round-trips a table") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-tableio").toString
    try {
      val io = new ParquetTableIO(dir)
      io.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t1")
      val back = io.read(spark, "t1").collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(back.toSeq == Seq((1L, "a"), (2L, "b")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("parquet appendCommitted reads back exactly the appended rows and counts the table after it") {
    implicit val s: SparkSession = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft-count").toString
    val t = tmp + "/t"
    val io = new ParquetTableIO()
    try {
      def check(expected: Long): Unit = {
        assert(io.countRows(spark, t) == expected)
        assert(spark.read.parquet(t).count() == expected)
      }
      def append(from: Long, until: Long, expected: Long): Unit = {
        val (rows, tableRows) = io.appendCommitted(spark.range(from, until).toDF("id"), t).get
        assert(rows.collect().map(_.getLong(0)).sorted.toSeq == (from until until))
        assert(tableRows == expected)
      }
      // into a missing table, with no count before it
      append(0, 100, 100)
      check(100)
      // after a count of exactly the files before it: that count plus the
      // appended rows
      append(1000, 1007, 107)
      // after a write no count has seen: a whole count
      io.append(spark.range(2000, 2003).toDF("id"), t)
      append(3000, 3001, 111)
      check(111)
      // an append of nothing commits a 0-row file
      append(0, 0, 111)
      check(111)
      // compaction replaces every file; its own count covers the new ones
      io.compact(spark, t, 1)
      append(4000, 4002, 113)
      check(113)
      intercept[org.apache.spark.sql.AnalysisException](io.countRows(spark, tmp + "/missing"))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("Lineage.partKey buckets doc ids evenly: every bucket used, bounded skew") {
    import org.apache.spark.sql.functions._
    val nParts = 64
    val n = 20000
    val counts = spark.range(n)
      .select(concat(lit("doc_"), col("id")).as("doc_id"))
      .select(Lineage.partKey(col("doc_id"), nParts).as("part_key"))
      .groupBy("part_key").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every bucket used, and no hot bucket: max ≤ 2× the mean (binomial
    // concentration puts the true max ~1.25×; 2× catches a broken hash)
    assert(counts.size == nParts, s"only ${counts.size}/$nParts buckets used")
    val mean = n.toDouble / nParts
    val max = counts.values.max
    assert(max <= 2 * mean, s"hot bucket: max=$max mean=$mean")
  }

  test("parquet compaction: rename swap shrinks files, preserves content exactly, keeps the lineage sidecar valid") {
    implicit val s: SparkSession = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val nParts = 8
    val docs = Corpus.generate(spark, 16, nPartitions = 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val out = tmp + "/sink"
    val io = new ParquetTableIO()
    try {
      // two runs → two appended file sets (the small-files growth mode)
      val firstHalf = docs.toDF().filter(Lineage.partKey(col("doc_id"), nParts) < 4).as[Doc]
      val (_, l1) = Pipeline.extractToSink(firstHalf, "run-1", out, Pipeline.Config(), nParts, io)
      val remaining = Lineage.resumeFilter(docs.toDF(), l1.toDF(), nParts).as[Doc]
      Pipeline.extractToSink(remaining, "run-2", out, Pipeline.Config(), nParts, io, resume = true)
      val beforeRows = spark.read.parquet(out).orderBy("doc_id").collect()
      def dataFiles() = new java.io.File(out).listFiles()
        .count(f => f.isFile && f.getName.endsWith(".parquet"))
      val filesBefore = dataFiles()
      assert(filesBefore > 2, s"harness expects a fragmented sink, got $filesBefore files")

      val (rows, filesReported) = io.compact(spark, out, targetPartitions = 2)
      assert(rows == 16L)
      assert(dataFiles() == 2 && filesReported == 2L, s"${dataFiles()} / $filesReported")
      // content EXACTLY preserved (same rows, any order)
      val afterRows = spark.read.parquet(out).orderBy("doc_id").collect()
      assert(afterRows.toSeq == beforeRows.toSeq)
      // no swap debris
      assert(!new java.io.File(out + "__compacting").exists())
      assert(!new java.io.File(out + "__pre_compact").exists())
      // the lineage sidecar survived the swap AND still validates → a
      // resume after compaction is still the O(nParts) no-op path
      assert(new java.io.File(out + "/_lineage").isDirectory)
      val done = Lineage.doneSet(io, spark, out)
      val nonEmptyBuckets = spark.read.parquet(out).select("part_key").distinct().count()
      assert(done.isDefined && done.get.count() == nonEmptyBuckets)
      val resumed = Lineage.resumeFilter(docs.toDF(), done.get.withColumnRenamed("part_key", "part_key"), nParts)
      assert(resumed.count() == 0, "compaction must not reopen completed buckets")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("compaction aborts cleanly when a crashed swap left __pre_compact behind") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-compact-crash").toString
    val out = tmp + "/sink"
    val io = new ParquetTableIO()
    try {
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").write.parquet(out)
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(out + "__pre_compact"))
      val e = intercept[IllegalArgumentException](io.compact(spark, out, 1))
      assert(e.getMessage.contains("pre_compact"), e.getMessage)
      // the sink is untouched by the refused run
      assert(spark.read.parquet(out).count() == 2)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("catalog compaction: staging + replace preserves content through the session catalog") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val io = new CatalogTableIO
    val tbl = "graft_compact_cat"
    try {
      io.write(spark.range(100).selectExpr("id AS doc_id", "concat('t', id) AS text")
        .repartition(8), tbl)
      val before = io.read(spark, tbl).orderBy("doc_id").collect()
      val (rows, parts) = io.compact(spark, tbl, targetPartitions = 1)
      assert(rows == 100L && parts == 1L)
      assert(io.read(spark, tbl).orderBy("doc_id").collect().toSeq == before.toSeq)
      // staging dropped
      assert(!spark.catalog.tableExists(tbl + "__compacting"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}__compacting")
    }
  }

  test("poison rows yield error status, never throw") {
    implicit val s: SparkSession = spark
    import s.implicits._
    val bad = Seq(
      Doc("bad_1", Seq(SpanIn("text", null, null, 0))),
      Doc("bad_2", Seq(SpanIn("text", "<div><p>" + ("x" * 10), null, 0))),
      Doc("bad_3", Nil),
      Doc("bad_4", null)).toDS()
    val out = Pipeline.extract(bad).collect()
    assert(out.length == 4)
    assert(out.forall(d => d.status != null))
  }
}
