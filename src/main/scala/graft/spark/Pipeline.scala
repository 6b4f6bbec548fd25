package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Distributed extraction skeleton (SURVEY.md §2.0):
  *
  * {{{
  * scan → mapPartitions(per-doc kernel + oversize gate) → sink
  *                                                      ↘ lineage sidecar (from committed output)
  * }}}
  *
  * One extraction path: the map runs aligned with the scan's partitions
  * (no shuffle, no second pass; Catalyst prunes the scan to
  * (doc_id, spans)) and every document goes through one per-doc kernel
  * that batch and streaming share. The per-doc step is a mapPartitions
  * below the row abstraction (SURVEY.md §7.3: no UDF — one object
  * pipeline per task, no Row↔case-class churn, metrics for free).
  *
  * Scale design notes (100 TB / 10^12 docs):
  *   - skew is handled inside the map: doc cost is ~linear in span count,
  *     so a doc with more than `oversizeSpans` spans takes a permit of a
  *     per-executor gate; at most `oversizePartitions` giants are in flight
  *     per JVM, so one 8 MB page never floods an executor heap while the
  *     small docs of the other tasks keep flowing.
  *   - per-document failures become status/error columns, never task
  *     failures.
  *   - lineage rows keyed by [[Lineage.partKey]] make restarts resumable
  *     (see [[Lineage.resumeFilter]]: a map-only test of one nParts-bit
  *     bitmap). A restart reads the ≤ nParts-row sidecar, not the sink:
  *     its done-set costs one sidecar collect and a footer count
  *     ([[TableIO.countRows]]), and its commit aggregates only the files
  *     it appended and merges them into the sidecar
  *     ([[Lineage.mergeAppended]]). A restart with no document left
  *     reads only the corpus's doc_id column and appends nothing. The
  *     whole sink is re-aggregated only on a fresh run, on the catalog
  *     path, and to heal a stale or missing sidecar.
  */
object Pipeline {

  final case class Config(
      baseUrl: String = "https://corpus.example/doc.html",
      charThreshold: Int = 500,
      /** span-count threshold above which a doc takes the oversize gate:
        * a cheap proxy for document work (~linear in spans for interleaved
        * corpora), read before any span is touched so each doc is
        * assembled exactly once
        */
      oversizeSpans: Int = 256,
      /** hard cap: skip docs above this many HTML chars (0 = off) */
      maxHtmlChars: Int = 32 << 20,
      /** bound on concurrently-extracting giant docs PER EXECUTOR (gate
        * permits) — each holds a multi-hundred-MB working set (arena +
        * snapshot + clone), so unbounded concurrency turns into GC
        * pressure that stalls the small-doc tasks too
        */
      oversizePartitions: Int = 16)

  /** Observability for the skew path: how many docs took the oversize
    * route and how long they waited on the per-executor gate. Spark
    * accumulators (named — visible in the UI's stage metrics), populated
    * once an action runs the plan. Standard accumulator caveat applies:
    * task RETRIES can double-count, so these are operational metrics, not
    * exactly-once bookkeeping (that is [[Lineage]]'s job).
    */
  final case class ExtractStats(
      nOversize: org.apache.spark.util.LongAccumulator,
      gateWaitMs: org.apache.spark.util.LongAccumulator)

  private def newStats(spark: SparkSession): ExtractStats = ExtractStats(
    spark.sparkContext.longAccumulator("graft.extract.oversize_docs"),
    spark.sparkContext.longAccumulator("graft.extract.gate_wait_ms"))

  /** Extraction plan:
    *
    *   - ONE scan of the corpus, map-only — no shuffle, no second pass
    *   - spans→html assembly happens below the row abstraction (single
    *     UTF-8 buffer per doc; Catalyst higher-order functions are
    *     interpreted, not codegen'd, and measured 10× slower here)
    *   - oversize docs are rare but 100–1000× the work: a per-executor
    *     gate bounds how many are in flight per JVM so giant pages don't
    *     flood executor heaps (explicit skew handling without a second
    *     corpus scan or a shuffle)
    */
  def extract(docs: Dataset[Doc], cfg: Config = Config())(implicit spark: SparkSession): Dataset[ExtractedDoc] =
    extractWithStats(docs, cfg)._1

  /** [[extract]] plus the oversize-gate [[ExtractStats]] — the skew story
    * must be observable, not just present: a corpus whose giant tail
    * saturates the gate shows up as gate-wait time here long before it
    * shows up as a straggling stage.
    *
    * Decode + assemble + extract in one pass over the scan's InternalRows:
    * span text bytes are appended to ONE UTF-8 buffer and decoded to a
    * String once per document. The product-encoder path materialized a
    * SpanIn case class + String per span before concatenating — measured
    * as ~half the 32-core pipeline cost (the extraction itself being the
    * other half). This is the documented mapPartitions-as-last-resort
    * case: per-partition imperative logic below the row abstraction; the
    * plan above it (scan, pruning) stays Catalyst.
    */
  def extractWithStats(docs: Dataset[Doc], cfg: Config = Config())(
      implicit spark: SparkSession): (Dataset[ExtractedDoc], ExtractStats) = {
    import spark.implicits._
    val opts = graft.algo.Options(charThreshold = cfg.charThreshold)
    val stats = newStats(spark)
    val df = docs.toDF().select(col("doc_id"), col("spans"))
    val spanType = df.schema("spans").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
    val kindIdx = spanType.fieldIndex("kind")
    val textIdx = spanType.fieldIndex("text")
    val refIdx = spanType.fieldIndex("media_ref")
    val offIdx = spanType.fieldIndex("offset")
    val nFields = spanType.length
    type Arr = org.apache.spark.sql.catalyst.util.ArrayData
    val textBytes = (arr: Arr) => Spans.spanTextBytes(arr, nFields, textIdx)
    val assemble = (arr: Arr) =>
      Spans.assembleHtmlFromRow(arr, nFields, kindIdx, textIdx, refIdx, offIdx)
    val rdd = df.queryExecution.toRdd.mapPartitions { it =>
      it.map { row =>
        val docId = if (row.isNullAt(0)) null else row.getUTF8String(0).toString
        val arr = if (row.isNullAt(1)) NoSpans else row.getArray(1)
        extractDoc(docId, arr, arr.numElements(), textBytes, assemble, cfg, opts, stats)
      }
    }
    (spark.createDataset(rdd), stats)
  }

  /** What a null `spans` column reads as: zero spans. */
  private val NoSpans = new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])

  /** Structured Streaming twin of [[extract]]: `readStream` source →
    * `extractStreaming` → `writeStream` sink, through the same per-doc
    * kernel. A streaming Dataset has no `queryExecution.toRdd` handle (the
    * plan is incremental), so this path reads typed [[Doc]]s instead of
    * the batch path's InternalRows; the result rows equal the batch ones
    * on the same docs (asserted in OpsSpec).
    */
  def extractStreaming(docs: Dataset[Doc], cfg: Config = Config())(
      implicit spark: SparkSession): Dataset[ExtractedDoc] = {
    import spark.implicits._
    val opts = graft.algo.Options(charThreshold = cfg.charThreshold)
    val stats = newStats(spark)
    // the UTF-8 byte count a scan row holds for the same spans
    val textBytes = (spans: Seq[SpanIn]) => spans.iterator.map(s =>
      if (s.text == null) 0L
      else s.text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
    val assemble = (spans: Seq[SpanIn]) => Spans.assembleHtml(spans)
    docs.mapPartitions(_.map { d =>
      val spans = if (d.spans == null) Nil else d.spans
      extractDoc(d.doc_id, spans, spans.length, textBytes, assemble, cfg, opts, stats)
    })
  }

  /** The per-document kernel of both paths, which differ only in how
    * they read a row's spans (`S`; both read a null span list as zero
    * spans). Never throws: a null id flows through as null (poison-row
    * discipline: a bad row must never kill a task).
    *
    * A doc above `oversizeSpans` spans is a giant: it takes a permit of
    * the per-executor gate before any work, and is skipped before its
    * HTML is assembled when its span text alone proves it too long.
    */
  private def extractDoc[S](docId: String, spans: S, nSpans: Int,
      textBytes: S => Long, assemble: S => String,
      cfg: Config, opts: graft.algo.Options, stats: ExtractStats): ExtractedDoc = {
    val big = nSpans > cfg.oversizeSpans
    def go(): ExtractedDoc = {
      // sound early skip BEFORE assembling a giant buffer: UTF-16
      // length ≥ utf8Bytes/3, so bytes > 3×charLimit guarantees the
      // post-assembly char check would skip too
      if (cfg.maxHtmlChars > 0 && big) {
        val bytes = textBytes(spans)
        if (bytes > 3L * cfg.maxHtmlChars)
          return Spans.oversizeSkipped(docId, s"span_text_bytes=$bytes")
      }
      Spans.extractFromHtml(docId, assemble(spans), cfg.baseUrl, opts, cfg.maxHtmlChars)
    }
    if (!big) go()
    else {
      stats.nOversize.add(1)
      val gate = oversizeGate(cfg.oversizePartitions)
      val t0 = System.nanoTime()
      gate.acquire()
      stats.gateWaitMs.add((System.nanoTime() - t0) / 1000000L)
      try go() finally gate.release()
    }
  }

  /** Per-JVM (= per-executor) gates bounding concurrent oversize-doc
    * extractions, one per distinct permit count so jobs with different
    * configs in one JVM each get the bound they asked for.
    */
  private val oversizeGates =
    new java.util.concurrent.ConcurrentHashMap[Integer, java.util.concurrent.Semaphore]()
  private[spark] def oversizeGate(permits: Int): java.util.concurrent.Semaphore =
    oversizeGates.computeIfAbsent(permits, p => new java.util.concurrent.Semaphore(p))

  /** Single-pass extraction with durable lineage (S3/S4): extract → write
    * the sink ONCE (tagged with the deterministic resume [[Lineage.partKey]])
    * → derive lineage from COMMITTED output: on a fresh run by aggregating
    * the committed table, on a resumed run by aggregating the files the
    * append committed and merging them into the prior sidecar (falling
    * back to the full aggregate when the merge does not validate — see
    * [[TableIO.commitWithSidecar]]). The corpus-sized dataset is never
    * cached or recomputed. Deriving lineage from committed files makes it
    * exactly-once under task retries: a re-run task's uncommitted output
    * is never counted.
    *
    * RESUME CONTRACT (enforced by construction, see [[Lineage]]):
    *   - a run must cover WHOLE part_key buckets — `Lineage.fromOutput`
    *     marks a bucket done when any committed row carries it, so feeding
    *     a corpus subset that splits buckets would mark unprocessed docs
    *     done. [[Lineage.resumeFilter]] is the only supported way to
    *     narrow the input, and it drops only whole buckets.
    *   - a resumed run MUST pass `resume = true`: the sink then appends,
    *     so the committed output being resumed from survives. A fresh run
    *     (default) replaces the table.
    * All sink I/O goes through the [[TableIO]] seam — on Iceberg the
    * append is an atomic snapshot commit, which is what makes
    * lineage-from-committed-output exactly-once under task retry.
    *
    * A resumed run first asks, reading only `doc_id`, whether any
    * document is left. When none is, it commits nothing
    * ([[TableIO.commitUnchanged]]): no corpus decode, no empty append,
    * and the sidecar is the prior one merged with no rows, restamped
    * with `runId`. If the sink is missing or the prior sidecar does not
    * sum to its row count, the run commits as any resumed run does.
    *
    * The oversize-gate stats of the run land as a [[Coverage]] row
    * (`extract`, `oversize_gate`), which Submit persists in `_coverage`.
    */
  def extractToSink(docs: Dataset[Doc], runId: String, outPath: String,
      cfg: Config = Config(), nParts: Int = Lineage.defaultParts,
      io: TableIO = TableIO.parquet, resume: Boolean = false)(
      implicit spark: SparkSession): (Dataset[ExtractedDoc], Dataset[LineageRow]) = {
    import spark.implicits._
    val merge = (appended: DataFrame, sinkRows: Long) =>
      Lineage.mergeAppended(io, outPath, appended, sinkRows, runId)
    val unchanged =
      if (resume && docs.select(col("doc_id")).isEmpty)
        io.commitUnchanged(spark, outPath, sinkSchema, merge, "lineage")
      else None
    val (written, gate) = unchanged.map(_ -> (0L, 0L)).getOrElse {
      val (exDs, stats) = extractWithStats(docs, cfg)
      val out = exDs.withColumn("part_key", Lineage.partKey(col("doc_id"), nParts))
      // sink + lineage sidecar go through the TableIO commit seam as one
      // logical commit: the sidecar (≤ nParts rows — O(nParts) restart via
      // [[Lineage.doneSet]] instead of re-scanning a tens-of-TB output)
      // derives from COMMITTED output and is always a full overwrite, so a
      // resumed run's sidecar covers the union of every run so far. The
      // crash window between the two writes is part of the documented
      // contract — see [[TableIO.commitWithSidecar]].
      val w = io.commitWithSidecar(out, outPath,
        committed => Lineage.fromOutput(committed, runId).toDF(), merge, "lineage", resume)
      // the sink write is the action that ran the plan → gate stats are live
      (w, (stats.nOversize.value.longValue, stats.gateWaitMs.value.longValue))
    }
    Coverage.record(spark, "extract", "oversize_gate", Map(
      "oversize_docs" -> gate._1.toDouble, "gate_wait_ms" -> gate._2.toDouble))
    val extracted = written.drop("part_key").as[ExtractedDoc]
    (extracted, io.read(spark, io.sidecar(outPath, "lineage"), Lineage.schema).as[LineageRow])
  }

  /** The sink's schema: an [[ExtractedDoc]] and its [[Lineage.partKey]]. */
  private val sinkSchema: StructType =
    Encoders.product[ExtractedDoc].schema.add("part_key", "long")

  /** Extraction quality metrics: one row per status with counts and text
    * volume — plain groupBy/agg, AQE-coalesced.
    */
  def metrics(extracted: Dataset[ExtractedDoc]): DataFrame =
    extracted.groupBy(col("status"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("text_length")).as("sum_text_length"),
        avg(size(col("spans"))).as("avg_spans"))
      .orderBy(col("status"))
}

final case class LineageRow(
    run_id: String,
    part_key: Long,
    n_docs: Long,
    n_errors: Long,
    sum_text_length: Long,
    max_doc_id: String)

/** Resume bookkeeping at PARTITION-KEY granularity.
  *
  * The round-1 design anti-joined (broadcast) on doc_id — at 10^12 docs a
  * restart's "done" set is billions of ids and the broadcast OOMs the
  * driver. The unit of resume here is instead a deterministic hash bucket
  * of doc_id: the done set is bounded by `nParts` (~10^5–10^6 even at
  * 100 TB with 128 MB output partitions), NEVER by doc count.
  */
object Lineage {

  /** Default resume granularity — sized so the done-key set stays a few MB
    * at 100 TB while each bucket is still a small fraction of the corpus.
    */
  val defaultParts: Int = 1 << 16

  /** Deterministic resume key: a pure function of doc_id, so a restarted
    * job recomputes identical buckets regardless of scan partitioning.
    */
  def partKey(docId: Column, nParts: Int): Column =
    pmod(xxhash64(docId), lit(nParts.toLong))

  /** The sidecar's schema: it is read back under it, never inferred. */
  val schema: StructType = Encoders.product[LineageRow].schema

  /** Lineage rows aggregated from COMMITTED output rows (the whole table,
    * or the files one append committed; AQE-coalesced; exactly-once under
    * task retry).
    */
  def fromOutput(written: DataFrame, runId: String)(
      implicit spark: SparkSession): Dataset[LineageRow] = {
    import spark.implicits._
    written.groupBy(col("part_key"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("status") =!= "ok", 1L).otherwise(0L)).as("n_errors"),
        sum(col("text_length").cast("long")).as("sum_text_length"),
        max(col("doc_id")).as("max_doc_id"))
      .select(lit(runId).as("run_id"), col("part_key"), col("n_docs"),
        col("n_errors"), col("sum_text_length"), col("max_doc_id"))
      .as[LineageRow]
  }

  /** The sidecar after a resumed append, without re-aggregating the
    * sink: the prior sidecar (≤ nParts rows, one per part_key — the bound
    * on what is collected) merged with [[fromOutput]] over only the
    * `appended` rows, every row stamped with `runId`. Counts and sums add; max_doc_id
    * takes the larger in Spark's UTF-8 binary order (Java's UTF-16
    * `compareTo` disagrees on supplementary-plane chars), nulls ignored —
    * so the rows equal a full [[fromOutput]] re-derive. None (→ the full
    * re-derive) when the prior sidecar is missing or unreadable, or when
    * the merged n_docs do not sum to `tableRows`, the sink's row count
    * after the append: a sidecar left stale by a crash after an earlier
    * sink commit fails that check.
    */
  private[spark] def mergeAppended(io: TableIO, table: String, appended: DataFrame,
      tableRows: Long, runId: String)(implicit spark: SparkSession): Option[DataFrame] = {
    import spark.implicits._
    // one collect: the prior sidecar's rows and the appended rows' aggregate
    scala.util.Try(
      io.read(spark, io.sidecar(table, "lineage"), schema).as[LineageRow]
        .union(fromOutput(appended, runId)).collect()
    ).toOption.flatMap { rows =>
      val merged = rows.toSeq.groupMapReduce(_.part_key)(_.copy(run_id = runId)) { (a, b) =>
        LineageRow(runId, a.part_key, a.n_docs + b.n_docs, a.n_errors + b.n_errors,
          a.sum_text_length + b.sum_text_length, maxDocId(a.max_doc_id, b.max_doc_id))
      }.values.toSeq.sortBy(_.part_key)
      if (merged.iterator.map(_.n_docs).sum != tableRows) None
      else Some(merged.toDS().toDF().coalesce(1))
    }
  }

  /** `max` over two doc ids as Spark computes it: UTF-8 binary order,
    * null only when both are.
    */
  private[spark] def maxDocId(a: String, b: String): String =
    if (a == null) b
    else if (b == null) a
    else if (UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) >= 0) a
    else b

  /** Done-set for a restart: the part_keys committed by previous runs.
    *
    * Prefers the persisted lineage SIDECAR (≤ nParts rows — restart cost
    * O(nParts): one collect of its (part_key, n_docs) and a footer count,
    * instead of a scan of the tens-of-TB output table), but the sidecar
    * is a CACHE of the committed output, written non-atomically after the
    * sink commit: a crash in that window leaves it stale, and a resume
    * trusting a stale sidecar would re-extract already-committed buckets
    * and APPEND duplicates. So the sidecar is validated first with a
    * metadata-only probe — its sum(n_docs) must equal the sink's row
    * count ([[TableIO.countRows]]: parquet footers / Iceberg snapshot
    * summary, no data scan) — and on any mismatch (or no sidecar: older
    * sinks) the done-set falls back to the always-consistent output scan.
    * None = nothing committed yet (fresh run).
    */
  def doneSet(io: TableIO, spark: SparkSession, outPath: String): Option[DataFrame] = {
    // ONE Try around the whole sidecar read + validation: the sidecar is
    // written non-atomically after the sink commit, so the crash window can
    // leave not just a STALE sidecar (caught by the count compare) but a
    // physically CORRUPT one — readable footers, bad data pages — where the
    // validation collect itself throws at execution time. Any failure
    // anywhere in the sidecar path must degrade to the always-consistent
    // committed-output scan, never abort the resume.
    val validated = scala.util.Try {
      val sc = io.read(spark, io.sidecar(outPath, "lineage"))
      if (!(sc.columns.contains("part_key") && sc.columns.contains("n_docs"))) None
      else {
        // ≤ nParts rows: one collect serves the count check and the keys
        val rows = sc.select(col("part_key").cast("long"), col("n_docs").cast("long")).collect()
        val sidecarDocs = rows.iterator.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum
        if (io.countRows(spark, outPath) != sidecarDocs) None
        else Some(spark.createDataset(rows.toSeq.map(_.getAs[java.lang.Long](0)))(Encoders.LONG)
          .toDF("part_key"))
      }
    }.toOption.flatten
    validated
      .orElse(
        scala.util.Try(io.read(spark, outPath)).toOption
          .filter(_.columns.contains("part_key"))
          .map(_.select(col("part_key")).distinct()))
  }

  /** Resume: drop docs whose part_key completed in a previous run.
    *
    * The done-key set is collected once (bounded by nParts, see class doc)
    * into the [[notDone]] bitmap — the resumed scan stays MAP-ONLY: no
    * shuffle of the corpus, no join, no BroadcastExchange.
    */
  def resumeFilter(docs: DataFrame, doneLineage: DataFrame, nParts: Int = defaultParts): DataFrame = {
    val doneKeys = doneLineage.select(col("part_key").cast("long")).collect().map(_.getLong(0))
    if (doneKeys.isEmpty) docs
    else docs.filter(notDone(col("doc_id"), doneKeys, nParts))
  }

  /** "Not done": the doc's [[partKey]] is not among `doneKeys`. The keys
    * become ONE literal bitmap of nParts bits (nParts/64 longs), tested
    * with built-in, codegen'd functions, so the plan has the same few
    * expressions at 1 done key as at nParts — an `IN` list costs a
    * literal, and planning time, per key. Keys outside [0, nParts) are
    * ignored: no doc's part_key can equal them.
    */
  def notDone(docId: Column, doneKeys: Iterable[Long], nParts: Int): Column = {
    val bits = new Array[Long]((nParts + 63) / 64)
    for (k <- doneKeys if k >= 0 && k < nParts) bits((k >>> 6).toInt) |= 1L << k
    val key = partKey(docId, nParts)
    bit_get(get(typedLit(bits), shiftright(key, 6).cast("int")), (key % 64).cast("int")) === 0
  }
}
