package graftbench

import graft.spark.{Doc, ExtractedDoc, Lineage, Pipeline, Spans, TableIO}
import graftbench.Harness._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The Submit-shaped job, as `graft.Submit` runs it: scan the corpus →
  * `Pipeline.extractToSink` → sink + `_lineage` sidecar; then a restart
  * over the fully committed sink (`Lineage.doneSet` →
  * `Lineage.resumeFilter` → `extractToSink(resume = true)`), which must
  * append nothing.
  */
object Extract {

  val cfg: Pipeline.Config = Pipeline.Config()
  val nParts: Int = Lineage.defaultParts
  private val io: TableIO = TableIO.parquet
  private def opts = graft.algo.Options(charThreshold = cfg.charThreshold)

  /** Warm-up: one fresh run and restart over the workload's own corpus,
    * untimed. The timed runs after it still get faster for several rounds,
    * though the JIT compilers are idle when it ends; more warm-up rounds
    * would not fit the time budget of a set of runs, so the median over
    * the timed runs absorbs the first, slowest one.
    */
  def warmUp(spark: SparkSession, corpus: Path, work: Path): Unit = {
    val sink = work.resolve("sink")
    deleteTree(sink)
    fresh(spark, corpus.toString, sink.toString, "warmup")
    resume(spark, corpus.toString, sink.toString, "warmup-resume")
  }

  /** One fresh run; returns committed docs per the lineage sidecar. The
    * run ends when the lineage is readable, as a resuming job needs it.
    */
  def fresh(spark: SparkSession, corpus: String, sink: String, runId: String): Long = {
    import spark.implicits._
    val docs = io.read(spark, corpus).as[Doc]
    val (_, lineage) = Pipeline.extractToSink(docs, runId, sink, cfg, nParts, io)(spark)
    lineage.agg(sum("n_docs")).as[Long].collect()(0)
  }

  /** A restart over the committed sink; returns the lineage's doc total. */
  def resume(spark: SparkSession, corpus: String, sink: String, runId: String,
      trace: Trace = new Trace("", false)): Long = {
    import spark.implicits._
    val all = io.read(spark, corpus)
    val done = trace.span("lineage.doneset")(Lineage.doneSet(io, spark, sink))
    val todo = done match {
      case Some(d) => trace.span("lineage.resume_filter")(Lineage.resumeFilter(all, d, nParts))
      case None => all
    }
    val (_, lineage) = trace.span("pipeline.extract_to_sink_resume")(
      Pipeline.extractToSink(todo.as[Doc], runId, sink, cfg, nParts, io, resume = true)(spark))
    lineage.agg(sum("n_docs")).as[Long].collect()(0)
  }

  // --------------------------------------------------------- correctness

  /** SHA-256 of one output row's fields, first 8 bytes. */
  def docHash(d: ExtractedDoc): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def str(s: String): Unit =
      if (s == null) md.update(Array[Byte](0))
      else {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        md.update(1.toByte)
        md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
        md.update(b)
      }
    def int(i: Int): Unit = md.update(java.nio.ByteBuffer.allocate(4).putInt(i).array())
    Seq(d.doc_id, d.status, d.error, d.title, d.byline, d.dir, d.lang, d.excerpt,
      d.site_name, d.published_time).foreach(str)
    int(d.text_length)
    val spans = if (d.spans == null) Nil else d.spans
    int(spans.length)
    spans.foreach { s => str(s.kind); str(s.text); str(s.media_ref); int(s.order) }
    java.nio.ByteBuffer.wrap(md.digest(), 0, 8).getLong
  }

  /** Order-independent digest of a set of output rows: count and the
    * wrapping sum of the row hashes.
    */
  final class Digest {
    var n = 0L
    var sum = 0L
    def add(d: ExtractedDoc): Unit = { n += 1; sum += docHash(d) }
    override def toString: String = f"$n-$sum%016x"
  }

  def sinkDigest(spark: SparkSession, sink: String): (Digest, Map[String, Long]) = {
    import spark.implicits._
    val dg = new Digest
    val statuses = mutable.Map[String, Long]().withDefaultValue(0L)
    val it = io.read(spark, sink).drop("part_key").as[ExtractedDoc].toLocalIterator()
    while (it.hasNext) { val d = it.next(); dg.add(d); statuses(d.status) += 1 }
    (dg, statuses.toMap)
  }

  /** Per-page kernel outside Spark, over `pages` with `threads` threads:
    * the reference output for the digest check and the raw-pool probe.
    */
  def pool(pages: IndexedSeq[(String, String)], threads: Int): (Double, Array[ExtractedDoc]) = {
    val out = new Array[ExtractedDoc](pages.length)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val o = opts
    val t0 = now()
    val ts = (0 until threads).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < pages.length) {
          out(i) = Spans.extractFromHtml(pages(i)._1, pages(i)._2, cfg.baseUrl, o, cfg.maxHtmlChars)
          i = next.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    (secs(t0, now()), out)
  }

  def pages(spark: SparkSession, corpus: String): IndexedSeq[(String, String)] = {
    import spark.implicits._
    io.read(spark, corpus).as[Doc].collect().sortBy(_.doc_id)
      .map(d => (d.doc_id, Spans.assembleHtml(d.spans))).toIndexedSeq
  }

  // ------------------------------------------------------------- measuring

  final case class Check(name: String, ok: Boolean, detail: String)

  /** Nominal seconds of one fresh + restart pair; `--seconds` buys
    * `seconds / PairSeconds` pairs.
    */
  val PairSeconds = 3.75

  /** Timed runs: a fixed number of fresh + restart pairs for `seconds`,
    * at least two, with the invariants checked after every pair and the
    * digest checked on the final sink. The count is fixed rather than
    * time-bounded because the JIT still speeds up the later pairs, so a
    * median over however many pairs fit would move with the host's speed.
    */
  def measure(spark: SparkSession, rc: Worker.RunCfg): Map[String, Any] = {
    val corpus = rc.input.toString
    val sink = rc.work.resolve("sink").toString
    val nDocs = readInputs(rc.input)("docs").toString.toLong
    val freshS = mutable.ArrayBuffer[Double]()
    val resumeS = mutable.ArrayBuffer[Double]()
    val checks = mutable.ArrayBuffer[Check]()
    val pairs = math.max(2, math.round(rc.seconds / PairSeconds).toInt)
    var i = 0
    while (i < pairs) {
      deleteTree(rc.work.resolve("sink"))
      val t0 = now()
      val committed = fresh(spark, corpus, sink, s"fresh-$i")
      val t1 = now()
      val rows = io.countRows(spark, sink)
      val t2 = now()
      val after = resume(spark, corpus, sink, s"resume-$i")
      val t3 = now()
      freshS += secs(t0, t1)
      resumeS += secs(t2, t3)
      checks ++= invariants(spark, sink, nDocs, committed, rows, after, i)
      i += 1
    }
    val (digest, statuses) = sinkDigest(spark, sink)
    Map("job_s" -> freshS.toSeq, "repeat_s" -> resumeS.toSeq,
      "docs" -> nDocs, "digest" -> digest.toString, "statuses" -> statuses,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)))
  }

  def invariants(spark: SparkSession, sink: String, nDocs: Long, committed: Long,
      rows: Long, afterResume: Long, i: Int): Seq[Check] = {
    val rowsAfter = io.countRows(spark, sink)
    Seq(
      Check(s"sink_rows_eq_corpus_docs#$i", rows == nDocs, s"sink=$rows corpus=$nDocs"),
      Check(s"lineage_docs_eq_sink_rows#$i", committed == rows, s"lineage=$committed sink=$rows"),
      Check(s"resume_appends_nothing#$i", rowsAfter == rows && afterResume == rows,
        s"sink_before=$rows sink_after=$rowsAfter lineage_after=$afterResume"))
  }

  def readInputs(dir: Path): Map[String, Any] = readJson(dir.resolve("_inputs.json"))

  // --------------------------------------------------------------- tracing

  /** Traced run: every per-layer number for the extraction workloads. */
  def traced(spark: SparkSession, rc: Worker.RunCfg, tr: Trace): Map[String, Any] = {
    import spark.implicits._
    val corpus = rc.input.toString
    val sinkP = rc.work.resolve("sink")
    val sink = sinkP.toString
    val nDocs = readInputs(rc.input)("docs").toString.toLong
    val checks = mutable.ArrayBuffer[Check]()
    val m = mutable.LinkedHashMap[String, Any]()

    // untraced / traced / untraced fresh runs: trace.overhead compares the
    // traced run with the mean of the two around it
    def untraced(tag: String): Double = {
      deleteTree(sinkP)
      val t0 = now(); fresh(spark, corpus, sink, tag); secs(t0, now())
    }
    val u1 = untraced("untraced-1")
    tr.attach(spark)
    deleteTree(sinkP)
    HeapPeak.reset()
    val committed = tr.phase(spark, "fresh")(fresh(spark, corpus, sink, "traced"))
    val heapMb = HeapPeak.peakMb
    val tracedS = tr.seconds("fresh")
    val freshG = tr.group(spark, "fresh")
    val rows = tr.phase(spark, "tableio.count_rows")(io.countRows(spark, sink))
    val files = dataFiles(sinkP)
    val sinkMb = files.map(Files.size(_)).sum / 1048576.0
    val after = tr.phase(spark, "resume")(resume(spark, corpus, sink, "traced-resume", tr))
    checks ++= invariants(spark, sink, nDocs, committed, rows, after, 0)
    val (digest, statuses) = sinkDigest(spark, sink)
    tr.phase(spark, "lineage.derive")(
      Lineage.fromOutput(io.read(spark, sink), "derive")(spark).write.format("noop")
        .mode("overwrite").save())
    tr.detach(spark)
    val u2 = untraced("untraced-2")
    tr.attach(spark)
    tr.phase(spark, "tableio.scan") {
      val df = io.read(spark, corpus).select(col("doc_id"), col("spans"))
      val st = df.schema("spans").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
      val (nf, ti) = (st.length, st.fieldIndex("text"))
      df.queryExecution.toRdd.map(r => Spans.spanTextBytes(r.getArray(1), nf, ti)).sum()
    }
    tr.phase(spark, "pipeline.extract_count")(
      Pipeline.extract(io.read(spark, corpus).as[Doc], cfg)(spark).count())
    // fields the count job still serializes per output row (0: pruned)
    val countEncodes = Pipeline.extract(io.read(spark, corpus).as[Doc], cfg)(spark)
      .groupBy().count().queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SerializeFromObjectExec => s.serializer.length
      }.sum
    val (noopDs, stats) = Pipeline.extractWithStats(io.read(spark, corpus).as[Doc], cfg)(spark)
    tr.phase(spark, "pipeline.extract_noop")(noopDs.write.format("noop").mode("overwrite").save())

    // Spark-free probes over every k-th page
    val all = pages(spark, corpus)
    val (refS, reference) = pool(all, 4)
    val sample = all.indices.filter(_ % math.max(1, all.length / 100) == 0).map(all)
    val spansSample = {
      val ids = sample.map(_._1).toSet
      io.read(spark, corpus).as[Doc].filter(d => ids.contains(d.doc_id)).collect()
        .sortBy(_.doc_id).toIndexedSeq
    }
    probes(sample, spansSample, m, tr)

    val noopS = tr.seconds("pipeline.extract_noop")
    val countS = tr.seconds("pipeline.extract_count")
    val untracedS = (u1 + u2) / 2
    val pipelineDps = nDocs / untracedS
    m ++= Seq(
      "tableio.scan_s" -> tr.seconds("tableio.scan"),
      "tableio.scan_mb" -> dataFiles(rc.input).map(Files.size(_)).sum / 1048576.0,
      "tableio.sink_write_s" -> (tracedS - noopS),
      "tableio.sink_mb" -> sinkMb,
      "tableio.sink_files" -> files.length,
      "tableio.count_rows_s" -> tr.seconds("tableio.count_rows"),
      "pipeline.docs_per_s" -> pipelineDps,
      "pipeline.extract_count_s" -> countS,
      "pipeline.extract_noop_s" -> noopS,
      "pipeline.row_encode_s" -> (noopS - countS),
      "pipeline.over_raw" -> pipelineDps / (all.length / refS),
      "pipeline.oversize_docs" -> stats.nOversize.value.toLong,
      "pipeline.gate_wait_ms" -> stats.gateWaitMs.value.toLong,
      "pipeline.task_skew" -> taskSkew(freshG),
      "pipeline.gc_share" -> freshG.gcMs.toDouble / math.max(1L, freshG.runMs),
      "pipeline.cpu_share" -> freshG.cpuNs / 1e6 / math.max(1L, freshG.runMs),
      "lineage.derive_s" -> tr.seconds("lineage.derive"),
      "lineage.doneset_s" -> tr.seconds("lineage.doneset"),
      "lineage.resume_filter_s" -> tr.seconds("lineage.resume_filter"),
      "pipeline.heap_peak_mb" -> heapMb,
      "trace.overhead" -> untracedS / tracedS)
    val refDigest = new Digest
    reference.foreach(refDigest.add)
    Map("metrics" -> m, "digest" -> digest.toString, "reference_digest" -> refDigest.toString,
      "statuses" -> statuses, "docs" -> nDocs,
      "count_serialized_fields" -> countEncodes,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)))
  }

  /** Single-thread layer probes and the raw thread pool. */
  def probes(sample: IndexedSeq[(String, String)], spansSample: IndexedSeq[Doc],
      m: mutable.Map[String, Any], tr: Trace): Unit = {
    val o = opts
    val n = sample.length
    def perDoc(name: String)(f: Int => Unit): Double = {
      var i = 0
      while (i < n) { f(i); i += 1 } // warm
      tr.span(name) { i = 0; while (i < n) { f(i); i += 1 } }
      tr.seconds(name) * 1e9 / n
    }
    var sink = 0L
    val assemble = perDoc("spans.assemble")(i => sink += Spans.assembleHtml(spansSample(i).spans).length)
    val parse = perDoc("html.parse")(i => sink += graft.html.Parser.parse(sample(i)._2).kind.length)
    var ok = 0L // counted over both passes of perDoc
    var spansOut = 0L
    val extract = perDoc("algo.extract") { i =>
      graft.algo.Readability.parse(sample(i)._2, cfg.baseUrl, o) match {
        case graft.algo.Readability.Ok(r) => ok += 1; spansOut += r.spans.length
        case _ =>
      }
    }
    val result = perDoc("spans.extract_from_html")(i =>
      sink += Spans.extractFromHtml(sample(i)._1, sample(i)._2, cfg.baseUrl, o, cfg.maxHtmlChars)
        .text_length)
    val reps = sample ++ sample
    val (t1, _) = tr.span("raw.pool_1t")(pool(reps, 1))
    val (t4, _) = tr.span("raw.pool_4t")(pool(reps, 4))
    m ++= Seq(
      "spans.assemble_ns_per_doc" -> assemble,
      "spans.result_ns_per_doc" -> (result - extract),
      "html.parse_ns_per_doc" -> parse,
      "algo.extract_ns_per_doc" -> extract,
      "algo.self_ns_per_doc" -> (extract - parse),
      "algo.ok_ratio" -> ok.toDouble / (2 * n),
      "algo.spans_out_per_doc" -> spansOut.toDouble / math.max(1L, ok),
      "raw.docs_per_s_1t" -> reps.length / t1,
      "raw.docs_per_s_4t" -> reps.length / t4,
      "raw.scaling_eff_1to4" -> (reps.length / t4) / (4 * reps.length / t1))
    consume(sink)
  }
}
