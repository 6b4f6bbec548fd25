package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Session factory, clocks, tracing and JSON output shared by the
  * workloads. Everything here observes the program from outside: spans
  * wrap calls into its public functions, and task metrics come from a
  * SparkListener registered on the session.
  */
object Harness {

  /** The one Spark configuration every workload runs under; recorded in
    * each result so a number is never read without its settings.
    */
  def sparkConf(cores: Int, scratch: Path): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "graft-perfbench",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.extensions" -> "graft.spark.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> scratch.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> scratch.resolve("warehouse").toString,
    // the corpora are a few MB in 32 files, which the default split size
    // packs into one task per core, so the stage time hung on which giants
    // shared a task; one task per file gives the scheduler room to balance,
    // as the many splits of a production-sized corpus do
    "spark.sql.files.maxPartitionBytes" -> (1 << 20).toString)

  def session(cores: Int, scratch: Path): SparkSession = {
    val b = SparkSession.builder()
    sparkConf(cores, scratch).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def now(): Long = System.nanoTime()

  /** Keeps a probe's result live so the JIT cannot drop the work. */
  @volatile private var sink = 0L
  def consume(x: Long): Unit = sink += x

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally w.close()
    }

  /** Data files of a parquet table directory, sidecars and markers excluded. */
  def dataFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]).filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
    } finally s.close()
  }

  // ------------------------------------------------------------------ JSON

  /** Jackson from the Spark classpath, with Scala collections. */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def toJson(v: Any): String = mapper.writeValueAsString(v)

  def writeJson(path: Path, v: Any): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, toJson(v) + "\n")
  }

  def readJson(path: Path): Map[String, Any] =
    mapper.readValue(path.toFile, classOf[Map[String, Any]])

  // ------------------------------------------------------------ heap peak

  /** Largest heap-in-use seen right after any GC since [[reset]], summed
    * over the heap pools, from the collectors' notifications. Post-GC use
    * is the live set plus what the collector chose to keep, so it tracks
    * retained memory rather than allocation churn.
    */
  object HeapPeak {
    @volatile private var peak = 0L
    private var installed = false

    def install(): Unit = synchronized {
      if (!installed) {
        installed = true
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { gc =>
          gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
            (n: javax.management.Notification, _: Any) => {
              if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                  .GARBAGE_COLLECTION_NOTIFICATION) {
                val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                  n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
                var used = 0L
                info.getGcInfo.getMemoryUsageAfterGc.forEach { (pool, u) =>
                  if (heapPools.contains(pool)) used += u.getUsed
                }
                if (used > peak) peak = used
              }
            }, null, null)
        }
      }
    }

    private lazy val heapPools: Set[String] = {
      val b = Set.newBuilder[String]
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
        if (p.getType == java.lang.management.MemoryType.HEAP) b += p.getName
      }
      b.result()
    }

    def reset(): Unit = { heapPools; peak = 0L }

    /** The peak since [[reset]], counting a collection made now: a phase
      * that allocated less than the young generation saw no GC at all.
      */
    def peakMb: Double = {
      System.gc()
      var used = 0L
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
        if (heapPools.contains(p.getName) && p.getCollectionUsage != null)
          used += p.getCollectionUsage.getUsed
      }
      math.max(peak, used) / 1048576.0
    }
  }

  // ---------------------------------------------------------------- tracing

  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long)

  /** Task metrics summed over one job group. */
  final class GroupMetrics {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var memSpill = 0L
    var diskSpill = 0L
    val taskRunMsByStage = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  }

  /** In-memory trace of one run: spans recorded around calls into the
    * program, and per-job-group task metrics from a SparkListener. It is
    * written out only when the run ends.
    */
  final class Trace(val runId: String, val enabled: Boolean) {
    private val spans = mutable.ArrayBuffer[Span]()
    private val stack = mutable.Stack[Int]()
    private val groups = mutable.Map[String, GroupMetrics]()
    private val stageGroup = mutable.Map[Int, String]()

    def span[T](name: String)(body: => T): T =
      if (!enabled) body
      else {
        val id = spans.synchronized(spans.length)
        val parent = if (stack.isEmpty) -1 else stack.top
        spans.synchronized(spans += Span(id, name, parent, now(), -1L))
        stack.push(id)
        try body
        finally {
          stack.pop()
          spans.synchronized(spans(id) = spans(id).copy(end = now()))
        }
      }

    /** Run `body` with its Spark jobs tagged `group`, timed as a span. */
    def phase[T](spark: SparkSession, group: String)(body: => T): T = {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try span(group)(body)
      finally spark.sparkContext.clearJobGroup()
    }

    val listener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("untagged")
        stageGroup.synchronized(e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g)))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val g = stageGroup.synchronized(stageGroup.getOrElse(e.stageId, "untagged"))
          groups.synchronized {
            val gm = groups.getOrElseUpdate(g, new GroupMetrics)
            gm.tasks += 1
            gm.runMs += m.executorRunTime
            gm.cpuNs += m.executorCpuTime
            gm.gcMs += m.jvmGCTime
            gm.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            gm.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            gm.memSpill += m.memoryBytesSpilled
            gm.diskSpill += m.diskBytesSpilled
            gm.taskRunMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
              m.executorRunTime
          }
        }
      }
    }

    def attach(spark: SparkSession): Unit =
      if (enabled) spark.sparkContext.addSparkListener(listener)

    def detach(spark: SparkSession): Unit = {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }

    def group(spark: SparkSession, g: String): GroupMetrics = {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      groups.synchronized(groups.getOrElse(g, new GroupMetrics))
    }

    /** Wall time of the named span (the last one recorded under that name). */
    def seconds(name: String): Double = spans.synchronized {
      spans.reverseIterator.find(_.name == name).map(s => secs(s.start, s.end)).getOrElse(0.0)
    }

    def write(path: Path): Unit = if (enabled) {
      Files.createDirectories(path.getParent)
      val t0 = spans.headOption.map(_.start).getOrElse(0L)
      val lines = spans.map { s =>
        toJson(Map("run_id" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6))
      } ++ groups.toSeq.sortBy(_._1).map { case (g, m) =>
        toJson(Map("run_id" -> runId, "job_group" -> g, "tasks" -> m.tasks,
          "run_ms" -> m.runMs, "cpu_ns" -> m.cpuNs, "gc_ms" -> m.gcMs,
          "shuffle_write_bytes" -> m.shuffleWriteBytes,
          "shuffle_read_bytes" -> m.shuffleReadBytes, "memory_spill_bytes" -> m.memSpill,
          "disk_spill_bytes" -> m.diskSpill))
      }
      Files.writeString(path, lines.mkString("", "\n", "\n"))
    }
  }

  /** Max task time over median task time in the stage of `g` with the
    * most task time — how much the slowest task stretches the stage.
    */
  def taskSkew(g: GroupMetrics): Double =
    if (g.taskRunMsByStage.isEmpty) 0.0
    else {
      val tasks = g.taskRunMsByStage.values.maxBy(_.sum).map(_.toDouble).toSeq
      val med = median(tasks)
      if (med <= 0) 0.0 else tasks.max / med
    }
}
