package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.spark.{Ann, Corpus, Dedup, Doc, ExtractedDoc, Lineage, Pipeline, Spans}
import org.apache.spark.launcher.JavaModuleOptions
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, OpenOption, Path, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The one diagnostic entrypoint, separate from the frozen [[Bench]] and
  * [[Verify]] harness (cite its numbers in round reports, never as bench
  * results). Each subcommand is a plain function of a session; [[main]]
  * owns the session and [[run]] releases the session caches. See [[usage]].
  */
object Diag {

  val usage: String =
    """usage: graft.Diag [--out DIR] <subcommand> [name ...]
      |  time [query ...]    each query SPARK_GRAFT_REPS (default 4) times; rep 1 apart,
      |                      median of reps 2..N -> DIR/steady_local.json
      |  stages [stage ...]  noop-sink stage times (default 3 reps): median, min, IQR
      |  plans [query ...]   audited explain(formatted) plans -> DIR/PLANS.md
      |  scaling             fresh-JVM N->4N ladders, pipeline and raw probe
      |                      -> DIR/scaling_latest.json, appended to DIR/scaling_history.jsonl
      |  scaling-child <cores> <corpus> <docs> pipeline|raw   one scaling measurement
      |  kernel <corpus> [passes] [threads]   Spark-free per-document kernel over a
      |                      parquet corpus's assembled pages (default 10 passes, 4
      |                      threads): seconds per pass, median of the later half,
      |                      output digest
      |DIR defaults to BENCH. Environment: SPARK_GRAFT_SF_DIR (tables directory; time,
      |stages, plans), SPARK_GRAFT_CPUS (default: all cores), SPARK_GRAFT_REPS,
      |SPARK_GRAFT_BENCH_DOCS (default 60000), SPARK_GRAFT_BENCH_LADDERS (default
      |4:16,8:32, the first is the headline), SPARK_GRAFT_BENCH_JVMFLAGS (child JVM flags)""".stripMargin

  /** A parsed command line. */
  final case class Cmd(name: String, args: Seq[String], out: Path)

  /** Parses the command line, or fails with [[usage]]. */
  def parse(args: Seq[String], out: Path = Paths.get("BENCH")): Cmd = args match {
    case "--out" +: dir +: rest => parse(rest, Paths.get(dir))
    case (sub @ ("time" | "stages" | "plans")) +: names => Cmd(sub, names, out)
    case Seq("scaling") => Cmd("scaling", Nil, out)
    case Seq("scaling-child", cores, corpus, docs, mode @ ("pipeline" | "raw"))
        if cores.toIntOption.isDefined && docs.toLongOption.isDefined =>
      Cmd("scaling-child", Seq(cores, corpus, docs, mode), out)
    case "kernel" +: (rest @ (_ +: counts))
        if counts.length <= 2 && counts.forall(_.toIntOption.exists(_ > 0)) =>
      Cmd("kernel", rest, out)
    case _ => throw new IllegalArgumentException(usage)
  }

  def main(args: Array[String]): Unit = {
    val cmd = parse(args.toSeq)
    val spark = cmd match {
      // the scaling corpus is only a few hundred MB: split it finer than the
      // 128 MB default or the high level gets a handful of scan tasks and
      // starves most cores. 1 MB splits: CPU-bound extraction needs ~6+ task
      // waves at 32 cores or the straggler tail idles most of the machine
      // (measured: 4 MB splits → eff 0.58-0.61; 1 MB → 0.64+). At production
      // scale the 128 MB default is correct — data volume supplies the waves.
      case Cmd("scaling-child", cores +: _, _) => session(cores.toInt,
        "spark.sql.files.maxPartitionBytes" -> (1 << 20).toString,
        "spark.sql.files.openCostInBytes" -> (128 << 10).toString)
      case _ => session(sys.env.get("SPARK_GRAFT_CPUS").fold(
        Runtime.getRuntime.availableProcessors)(_.toInt))
    }
    try run(spark, cmd, sys.env) finally spark.stop()
  }

  /** Runs `cmd` with settings from `env`, then releases every session
    * artifact the queries and stages built.
    */
  def run(spark: SparkSession, cmd: Cmd, env: Map[String, String]): Unit = {
    def reps(default: Int) = env.get("SPARK_GRAFT_REPS").fold(default)(_.toInt)
    def sfDir = env.getOrElse("SPARK_GRAFT_SF_DIR", throw new IllegalArgumentException(
      s"${cmd.name} reads the tables named by SPARK_GRAFT_SF_DIR\n$usage"))
    try cmd match {
      case Cmd("time", names, out) => time(spark, sfDir, reps(4), names, out)
      case Cmd("stages", names, _) => stages(spark, sfDir, reps(3), names)
      case Cmd("plans", names, out) => plans(spark, sfDir, names, out)
      case Cmd("scaling", _, out) =>
        val ladders = env.getOrElse("SPARK_GRAFT_BENCH_LADDERS", "4:16,8:32").split(",").toSeq
          .map(_.split(":") match { case Array(lo, hi) => (lo.toInt, hi.toInt) })
        scaling(spark, out, env.get("SPARK_GRAFT_BENCH_DOCS").fold(60000L)(_.toLong), ladders,
          reps(3), env.getOrElse("SPARK_GRAFT_BENCH_JVMFLAGS", "").split("\\s+").toSeq.filter(_.nonEmpty))
      case Cmd("scaling-child", Seq(cores, corpus, docs, mode), _) =>
        scalingChild(spark, cores.toInt, corpus, docs.toLong, mode)
      case Cmd("kernel", corpus +: counts, _) =>
        kernel(spark, corpus, counts.headOption.fold(10)(_.toInt), counts.lift(1).fold(4)(_.toInt))
      case _ => throw new IllegalArgumentException(usage)
    } finally Queries.releaseCaches(spark)
  }

  // ------------------------------------------------------ shared pieces

  def session(cores: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session and scheduler start-up plus the parquet footer reads, which
    * would otherwise be charged to whichever query is timed first.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())

  /** Runs `f` `reps` times, printing one line per rep with the note `f`
    * returns; the wall seconds of each rep.
    */
  def timeReps(tag: String, reps: Int)(f: => String): IndexedSeq[Double] =
    (1 to reps).map { rep =>
      val t0 = System.nanoTime()
      val note = f
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[diag] $tag rep=$rep $note wall=$wall%.3f s")
      wall
    }

  /** Linearly interpolated `q`-quantile (0 ≤ q ≤ 1) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val i = pos.toInt
    if (i + 1 >= s.length) s(i) else s(i) + (pos - i) * (s(i + 1) - s(i))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def iqr(xs: Seq[Double]): Double = quantile(xs, 0.75) - quantile(xs, 0.25)

  private def summary(tag: String, walls: Seq[Double]): Unit =
    println(f"[diag] $tag median=${median(walls)}%.3f s min=${walls.min}%.3f s iqr=${iqr(walls)}%.3f s")

  private def round(x: Double, digits: Int = 4): Double =
    BigDecimal(x).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Jackson from the Spark classpath, with Scala collections. */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: Path, text: String, opts: OpenOption*): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.writeString(path, text, opts: _*)
    println(s"[diag] wrote $path")
  }

  /** The named entries of `table`, in the order named; all of them when none is. */
  private def pick[V](what: String, table: Seq[(String, V)], names: Seq[String]): Seq[(String, V)] =
    if (names.isEmpty) table
    else names.map(n => table.find(_._1 == n).getOrElse(
      throw new IllegalArgumentException(s"unknown $what $n; known: ${table.map(_._1).mkString(" ")}")))

  // --------------------------------------------------------------- time

  /** Each named query (every registered one by default) `reps` ≥ 2 times in
    * a warmed session. Rep 1 absorbs shared-artifact builds and JIT/codegen
    * warm-up, so it is reported apart from `steady_median`, the median of
    * reps 2..N. Writes `out/steady_local.json`.
    */
  def time(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String], out: Path): Unit = {
    require(reps >= 2, s"time needs at least 2 reps (rep 1 is reported apart), got $reps")
    warmUp(spark, sfDir)
    val rows = pick("query", Queries.all.toSeq.sortBy(_._1), names).map { case (name, q) =>
      val walls = timeReps(name, reps)(s"rows=${q(spark, sfDir).count()}")
      summary(s"$name steady", walls.tail)
      (name, walls.head, median(walls.tail))
    }
    val report = ListMap(
      "metric" -> "steady_total",
      "value" -> round(rows.map(_._3).sum),
      "unit" -> "sec",
      "reps" -> reps,
      "cpus" -> spark.sparkContext.defaultParallelism,
      "sf" -> sfDir,
      "total_rep1" -> round(rows.map(_._2).sum),
      "note" -> ("steady_median = median of reps 2..N; rep1 absorbs shared-artifact builds " +
        "({x1,x2}=extracted corpus, {d7,d8}=LSH candidates, {d10,e2}=signature table) " +
        "and JIT/codegen warm-up"),
      "queries" -> ListMap(rows.map { case (name, rep1, steady) =>
        name -> ListMap("rep1" -> round(rep1), "steady_median" -> round(steady))
      }: _*))
    val line = json.writeValueAsString(report) + "\n"
    print(line)
    write(out.resolve("steady_local.json"), line)
  }

  // ------------------------------------------------------------- stages

  /** What a stage reads. The persisted inputs are the queries' own session
    * artifacts: built on first use, inside the first rep of the first stage
    * that reads them, and released with the queries' artifacts by [[run]].
    */
  private final class StageInputs(val spark: SparkSession, val sfDir: String) {
    def docs: DataFrame = Tables.load(spark, sfDir, "documents")
    def emb: DataFrame = Tables.load(spark, sfDir, "embeddings")
    def sigs: DataFrame = Queries.simhashSigs(spark, sfDir)
    def embSignatures: DataFrame = Ann.signatureTable(emb, nTables = 16, nBits = 8)
    def embSigs: DataFrame = Queries.embSignatures(spark, sfDir)
    def corpus: Dataset[Doc] = Corpus.generate(spark, Queries.corpusSize(sfDir))
    /** x3's resume input: the corpus minus the 16 of 32 part keys a prior run finished. */
    def resumed: DataFrame = Lineage.resumeFilter(corpus.toDF(),
      spark.range(16).select(col("id").as("part_key")), nParts = 32)
  }

  private def query(name: String): StageInputs => DataFrame =
    in => Queries.all(name)(in.spark, in.sfDir)

  private val stageTable: Seq[(String, StageInputs => DataFrame)] = Seq(
    "simhash_sigs_build" -> (in => Dedup.simhashPortableDf(in.docs)),
    "simhash_pairs_from_sigs" -> (in => Dedup.simhashPairsFromSigs(in.sigs)),
    "dupclusters_fixpoint" -> { in =>
      val pairs = Dedup.simhashPairsFromSigs(in.sigs).persist()
      pairs.count()
      val out = Dedup.dupClusters(pairs) // eager: reads the edges before returning
      pairs.unpersist()
      out
    },
    "emb_signature_build" -> (in => in.embSignatures),
    "d10_join_path" -> (in => Ann.cosineDupPairsFromSignatures(in.embSigs, threshold = 0.4,
      bucketBits = Queries.d10BucketBits(in.spark, in.sfDir), maxBucketSize = 4096,
      broadcastVectors = false)),
    "d10_broadcast_path" -> (in => Ann.cosineDupPairsFromSignatures(in.embSigs, threshold = 0.4,
      bucketBits = Queries.d10BucketBits(in.spark, in.sfDir), maxBucketSize = 4096,
      broadcastVectors = true)),
    "lsh_candidates_build" -> (in => Dedup.minhashLshPairs(in.docs)),
    "d13_query" -> query("d13_decontaminate"),
    "d12_query" -> query("d12_repetition"),
    "e1_query" -> query("e1_cosine_topk"),
    "e3_query" -> query("e3_cosine_ivf"),
    "x3_query" -> query("x3_extract_resume"),
    "m1_query" -> query("m1_media_features"),
    // x3_extract_resume taken apart: corpus generation, the resume bitmap
    // filter, extraction (x3_query is the whole query); and x1 uncached
    "gen_only" -> (in => in.corpus.toDF()),
    "gen_filter" -> (in => in.resumed),
    "gen_filter_x" -> (in => Pipeline.extract(in.resumed.as(Encoders.product[Doc]))(in.spark).toDF()),
    "full_x1_uncached" -> (in => Pipeline.extract(in.corpus)(in.spark).toDF()),
  )

  /** Each named stage (all by default) `reps` times behind a noop sink —
    * every column of every row computed, nothing written — in a warmed
    * session. The session artifacts a stage builds stay for the later
    * stages, as they do for the queries; [[run]] releases them.
    */
  def stages(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Unit = {
    warmUp(spark, sfDir)
    val in = new StageInputs(spark, sfDir)
    for ((name, stage) <- pick("stage", stageTable, names)) {
      val walls = timeReps(name, reps) {
        spark.sparkContext.setJobDescription(s"stage:$name")
        stage(in).write.format("noop").mode("overwrite").save()
        "noop"
      }
      summary(name, walls)
    }
  }

  // -------------------------------------------------------------- plans

  /** Plan-audit flags: any CartesianProduct, and a sort-merge join where
    * a broadcast join is expected (q2's and e1's small dimension sides).
    */
  def auditFlags(name: String, plan: String): Seq[String] =
    Seq(
      "CARTESIAN-PRODUCT" -> plan.contains("CartesianProduct"),
      "expected-broadcast-got-SMJ" -> (plan.contains("SortMergeJoin") &&
        (name.startsWith("q2") || name.startsWith("e1")))
    ).collect { case (flag, true) => flag }

  /** `explain(formatted)` of each named query (every registered query and
    * audit extra by default) with its audit flags, to `out/PLANS.md`. A
    * before/after comparison is two runs into two directories.
    */
  def plans(spark: SparkSession, sfDir: String, names: Seq[String], out: Path): Unit = {
    val sb = new StringBuilder
    sb ++= "# Physical plans (explain formatted) — generated by graft.Diag plans\n\n"
    sb ++= s"Input: `$sfDir`. Regenerate: `SPARK_GRAFT_SF_DIR=$sfDir sbt \"runMain graft.Diag plans\"`.\n\n"
    val registry = (SparkEntry.queries ++ Queries.auditExtras).toSeq.sortBy(_._1)
    val flagged = pick("query", registry, names).flatMap { case (name, q) =>
      val (body, flags) =
        try {
          val plan = q(spark, sfDir).queryExecution.explainString(FormattedMode)
          (s"```\n${plan.take(8000)}\n```\n\n", auditFlags(name, plan))
        } catch { case NonFatal(e) => (s"EXPLAIN FAILED: $e\n\n", Seq("explain failed")) }
      sb ++= s"## $name\n\n"
      if (flags.nonEmpty) sb ++= s"**AUDIT FLAGS: ${flags.mkString(", ")}**\n\n"
      sb ++= body
      if (flags.isEmpty) None else Some(s"$name: ${flags.mkString(", ")}")
    }
    write(out.resolve("PLANS.md"), sb.toString)
    println(if (flagged.isEmpty) "no audit flags" else flagged.mkString("FLAGGED:\n  ", "\n  ", ""))
  }

  // ------------------------------------------------------------ scaling

  /** Scaling efficiency: the same extraction job over the same on-disk
    * corpus at each level of N→4N ladders, efficiency = best throughput at
    * 4N / (4 × best at N), for the Spark pipeline and, in the same host
    * window, a Spark-free raw probe. Ratio ≈ 1 between the two means the
    * pipeline caps where the host caps (its shared memory controller), not
    * in the engine or the Spark layer.
    *
    * The ladders interleave to decorrelate host noise. 4→16 stays under the
    * host's single memory controller, so it is the closer proxy for
    * multi-node scaling (each cluster node adds memory bandwidth with its
    * cores) and is the headline; 8→32 saturates that controller and reads
    * the host's bandwidth ceiling as much as the engine.
    *
    * Each measurement runs in a FRESH JVM: repeated SparkContext creation
    * in one JVM was observed to produce 10× wall-time outliers. Writes
    * `out/scaling_latest.json` and appends it to `out/scaling_history.jsonl`,
    * whose distribution puts this session in context (single windows on
    * the measured hosts swing 3×).
    */
  def scaling(spark: SparkSession, out: Path, docs: Long, ladders: Seq[(Int, Int)], reps: Int,
      jvmFlags: Seq[String]): Unit = {
    val corpus = "target/bench_corpus"
    val levels = ladders.flatMap { case (lo, hi) => Seq(lo, hi) }.distinct
    if (!Files.exists(Paths.get(corpus, "_SUCCESS")) || spark.read.parquet(corpus).count() != docs)
      Corpus.generate(spark, docs, nPartitions = levels.max * 4).write.mode("overwrite").parquet(corpus)
    val modes = Seq("pipeline", "raw")
    val runs = mutable.Map.empty[(String, Int), Vector[Double]].withDefaultValue(Vector.empty)
    for (_ <- 1 to reps; lvl <- levels; mode <- modes)
      runs((mode, lvl)) :+= runChild(childCommand(lvl, corpus, docs, mode, jvmFlags))

    def eff(mode: String, lo: Int, hi: Int): Double =
      runs((mode, hi)).max / (hi.toDouble / lo * runs((mode, lo)).max)
    // each (low, high) pair of a rep ran back to back in one host window;
    // the best pair is distorted the other way (a throttled low inflates
    // its ratio, even past 1.0), so the median pair is reported beside it
    def paired(mode: String, lo: Int, hi: Int): Seq[Double] =
      runs((mode, lo)).zip(runs((mode, hi))).map { case (l, h) => h / (hi.toDouble / lo * l) }
    def ladder(mode: String)(lh: (Int, Int)): ListMap[String, Any] = {
      val (lo, hi) = lh
      ListMap("low" -> lo, "high" -> hi, "efficiency" -> round(eff(mode, lo, hi)),
        "efficiency_paired_best" -> round(paired(mode, lo, hi).max),
        "efficiency_paired_median" -> round(median(paired(mode, lo, hi))),
        "docs_per_sec_low" -> round(runs((mode, lo)).max, 2),
        "docs_per_sec_high" -> round(runs((mode, hi)).max, 2),
        "runs_low" -> runs((mode, lo)).map(round(_, 1)),
        "runs_high" -> runs((mode, hi)).map(round(_, 1)))
    }
    val (lo, hi) = ladders.head
    val history = out.resolve("scaling_history.jsonl")
    val effs = historyEfficiencies(history, lo, hi) :+ eff("pipeline", lo, hi)
    val report = ListMap(
      "metric" -> "scaling_efficiency",
      "value" -> round(effs.last),
      "unit" -> "ratio",
      "efficiency_paired_best" -> round(paired("pipeline", lo, hi).max),
      "history_sessions" -> effs.length,
      "history_best" -> round(effs.max),
      "history_median" -> round(median(effs)),
      "docs" -> docs,
      "parallelism_low" -> lo,
      "parallelism_high" -> hi,
      "ladders" -> ladders.map(ladder("pipeline")),
      "raw_ladders" -> ladders.map(ladder("raw")),
      "pipeline_over_raw_efficiency" -> ladders.map { case (l, h) =>
        round(eff("pipeline", l, h) / eff("raw", l, h))
      })
    val line = json.writeValueAsString(report) + "\n"
    print(line)
    write(out.resolve("scaling_latest.json"), line)
    write(history, line, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** The `low`→`high` best-of efficiency of each session in a scaling
    * history file, in file order.
    */
  def historyEfficiencies(path: Path, low: Int, high: Int): Seq[Double] =
    if (!Files.exists(path)) Nil
    else Files.readAllLines(path).asScala.toSeq.filter(_.trim.nonEmpty).flatMap { line =>
      json.readTree(line).path("ladders").elements().asScala
        .find(l => l.path("low").asInt == low && l.path("high").asInt == high)
        .map(_.path("efficiency").asDouble)
    }

  /** A scaling child's heap: 12 GiB, or half the host's memory where that
    * is less, so a pre-touched child never crowds out the rest of the host.
    */
  def childHeapMb(totalMemoryBytes: Long): Long =
    math.min(12L << 10, totalMemoryBytes / 2 >> 20)

  private def childCommand(cores: Int, corpus: String, docs: Long, mode: String,
      jvmFlags: Seq[String]): Seq[String] = {
    val heap = childHeapMb(java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize)
    // lazily-committed heap pages faulted at ~100 MB/s on the virtualized
    // hosts these numbers come from — pre-touch or lose 10×
    Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString,
      s"-Xms${heap}m", s"-Xmx${heap}m", "-XX:+AlwaysPreTouch") ++ jvmFlags ++
      JavaModuleOptions.defaultModuleOptionArray() ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Diag", "scaling-child",
        cores.toString, corpus, docs.toString, mode)
  }

  /** Runs one child process and returns the `DOCS_PER_SEC=` it prints. Its
    * stderr goes straight to ours, so however much it writes there it
    * cannot block on a full pipe; a non-zero exit fails with its code.
    */
  def runChild(cmd: Seq[String]): Double = {
    val proc = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val stdout = new String(proc.getInputStream.readAllBytes())
    val code = proc.waitFor()
    if (code != 0) throw new RuntimeException(s"scaling child exited with code $code\n$stdout")
    "DOCS_PER_SEC=([0-9.]+)".r.findFirstMatchIn(stdout).map(_.group(1).toDouble)
      .getOrElse(throw new RuntimeException(s"scaling child printed no DOCS_PER_SEC\n$stdout"))
  }

  /** One scaling measurement at `cores`, after a JIT warm-up on a slice:
    * `pipeline` times read → extract → count; `raw` is the extraction
    * ceiling with no Spark in the timed section — pre-assembled pages in
    * memory, `cores` threads taking one document at a time. Prints
    * `DOCS_PER_SEC=<n>`.
    */
  def scalingChild(spark: SparkSession, cores: Int, corpus: String, docs: Long, mode: String): Unit = {
    import spark.implicits._
    val ds = spark.read.parquet(corpus).as[Doc]
    Pipeline.extract(ds.limit(2000))(spark).count()
    val (n, seconds) = mode match {
      case "pipeline" =>
        val t0 = System.nanoTime()
        val n = Pipeline.extract(ds)(spark).count()
        (n, (System.nanoTime() - t0) / 1e9)
      case "raw" =>
        val pages = ds.collect().zipWithIndex.map { case (d, i) => (s"d$i", Spans.assembleHtml(d.spans)) }
        val t0 = System.nanoTime()
        kernelPass(pages, cores, graft.algo.Options())
        (pages.length.toLong, (System.nanoTime() - t0) / 1e9)
    }
    require(n == docs, s"$mode measured $n of $docs docs")
    println(f"DOCS_PER_SEC=${n / seconds}%.2f")
  }

  // ------------------------------------------------------------- kernel

  /** One pass of the per-document kernel outside Spark: `threads` threads
    * take one (doc_id, html) page at a time. The outputs in page order.
    */
  def kernelPass(pages: IndexedSeq[(String, String)], threads: Int,
      opts: graft.algo.Options): Array[ExtractedDoc] = {
    val cfg = Pipeline.Config()
    val out = new Array[ExtractedDoc](pages.length)
    val next = new AtomicInteger(0)
    val ts = Seq.fill(threads)(new Thread(() => {
      var i = next.getAndIncrement()
      while (i < pages.length) {
        out(i) = Spans.extractFromHtml(pages(i)._1, pages(i)._2, cfg.baseUrl, opts, cfg.maxHtmlChars)
        i = next.getAndIncrement()
      }
    }))
    ts.foreach(_.start())
    ts.foreach(_.join())
    out
  }

  /** SHA-256 of one output row's fields, first 8 bytes — the row hash of
    * the perfbench sink digest, so [[outputDigest]] of a corpus variant
    * can be read against the digest `perfbench/expected.json` records.
    */
  def docHash(d: ExtractedDoc): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def int(i: Int): Unit = md.update(java.nio.ByteBuffer.allocate(4).putInt(i).array())
    def str(s: String): Unit =
      if (s == null) md.update(0.toByte)
      else {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        md.update(1.toByte)
        int(b.length)
        md.update(b)
      }
    Seq(d.doc_id, d.status, d.error, d.title, d.byline, d.dir, d.lang, d.excerpt,
      d.site_name, d.published_time).foreach(str)
    int(d.text_length)
    val spans = if (d.spans == null) Nil else d.spans
    int(spans.length)
    spans.foreach { s => str(s.kind); str(s.text); str(s.media_ref); int(s.order) }
    java.nio.ByteBuffer.wrap(md.digest(), 0, 8).getLong
  }

  /** Order-independent digest of output rows: count and the wrapping sum
    * of their [[docHash]]es, as `<count>-<sum in hex>`.
    */
  def outputDigest(docs: Seq[ExtractedDoc]): String =
    f"${docs.length}-${docs.iterator.map(docHash).sum}%016x"

  /** `passes` timed passes of [[kernelPass]] over the assembled pages of a
    * parquet corpus of [[Doc]]s (the Submit input; perfbench writes one per
    * workload variant), with the Pipeline's default options. Prints the
    * seconds of each pass, the median of the later half (the first passes
    * still run partly interpreted), and the output digest, which must be
    * the same on every pass.
    */
  def kernel(spark: SparkSession, corpus: String, passes: Int, threads: Int): Unit = {
    import spark.implicits._
    val pages = spark.read.parquet(corpus).as[Doc].collect().sortBy(_.doc_id)
      .map(d => (d.doc_id, Spans.assembleHtml(d.spans))).toIndexedSeq
    val opts = graft.algo.Options(charThreshold = Pipeline.Config().charThreshold)
    val digests = mutable.LinkedHashSet[String]()
    val secs = (1 to passes).map { pass =>
      val t0 = System.nanoTime()
      val out = kernelPass(pages, threads, opts)
      val s = (System.nanoTime() - t0) / 1e9
      digests += outputDigest(out)
      println(f"[diag] kernel pass=$pass docs=${pages.length} threads=$threads wall=$s%.3f s")
      s
    }
    val tail = secs.drop(passes / 2)
    println(f"[diag] kernel tail_median=${median(tail)}%.3f s over passes ${passes / 2 + 1}..$passes " +
      f"iqr=${iqr(tail)}%.3f s digest=${digests.mkString(",")}")
    require(digests.size == 1, s"kernel passes disagree: ${digests.mkString(", ")}")
  }
}
