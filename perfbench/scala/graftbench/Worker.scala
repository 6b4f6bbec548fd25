package graftbench

import graftbench.Harness._

import java.nio.file.{Path, Paths}

/** JVM entry point of the benchmark; `perfbench/run.py` starts one per
  * measurement.
  *
  *   gen     --workload W --seed N --input DIR
  *           writes the corpus of an extraction workload.
  *   record  --workload W --seeds N,M,.. --input ROOT --out FILE
  *           writes each seed's corpus to ROOT/seed<N> and records its
  *           input properties and output digests in FILE: the digest of
  *           the sink the measured job commits, and that of the per-page
  *           kernel run outside Spark (`perfbench/record.py`).
  *   run     --workload W --seed N --seconds S --trace 0|1 --input DIR
  *           --work DIR --out FILE [--tables DIR]
  *           sets up (session + warm-up), then measures, and writes
  *           raw samples, checks and environment to FILE. A traced run
  *           given --tables also runs the 31 registered queries over them.
  */
object Worker {

  final case class RunCfg(workload: String, seed: Long, seconds: Double, trace: Boolean,
      cores: Int, input: Path, work: Path, out: Path, tables: Option[Path])

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val kv = args.tail.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(kv.getOrElse("work", ".bench_build/work")).toAbsolutePath
    val workload = kv("workload")
    mode match {
      case "gen" =>
        val spark = session(cores, work)
        try Inputs.generate(spark, workload, kv("seed").toLong, Paths.get(kv("input")).toAbsolutePath)
        finally spark.stop()
      case "record" =>
        val spark = session(cores, work)
        try record(spark, workload, kv("seeds").split(",").map(_.toLong).toSeq,
          Paths.get(kv("input")).toAbsolutePath, work, Paths.get(kv("out")).toAbsolutePath)
        finally spark.stop()
      case "run" =>
        val rc = RunCfg(workload, kv.getOrElse("seed", "0").toLong, kv("seconds").toDouble,
          kv("trace") == "1", cores, Paths.get(kv("input")).toAbsolutePath, work,
          Paths.get(kv("out")).toAbsolutePath, kv.get("tables").map(Paths.get(_).toAbsolutePath))
        run(rc)
    }
  }

  def run(rc: RunCfg): Unit = {
    HeapPeak.install()
    val spark = session(rc.cores, rc.work)
    try {
      val sessionMs = System.currentTimeMillis()
      Extract.warmUp(spark, rc.input, rc.work)
      val setupDoneMs = System.currentTimeMillis()
      System.err.println(s"[perfbench] session ready after " +
        s"${sessionMs - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime} ms, " +
        s"warm-up ${setupDoneMs - sessionMs} ms")
      val env = Map(
        "nproc" -> rc.cores,
        "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
          .toArray.toSeq.map(_.toString).filterNot(_.startsWith("--add-opens")),
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "spark_conf" -> sparkConf(rc.cores, rc.work).toMap)
      val body: Map[String, Any] =
        if (rc.trace) {
          val tr = new Trace(s"${rc.workload}-${rc.seed}", enabled = true)
          val ex = Extract.traced(spark, rc, tr)
          val q = rc.tables.map(t => QueryWork.traced(spark, t, rc.work, tr))
          tr.write(rc.work.resolve("trace.jsonl"))
          q.fold(ex) { q =>
            ex ++ q + ("metrics" -> (ex("metrics").asInstanceOf[collection.Map[String, Any]] ++
              q("metrics").asInstanceOf[collection.Map[String, Any]]))
          }
        } else Extract.measure(spark, rc)
      writeJson(rc.out, body ++ Map("setup_done_ms" -> setupDoneMs, "env" -> env))
    } finally spark.stop()
  }

  def record(spark: org.apache.spark.sql.SparkSession, workload: String, seeds: Seq[Long],
      root: Path, work: Path, out: Path): Unit = {
    val sink = work.resolve("sink")
    val bySeed = seeds.map { seed =>
      val dir = root.resolve(s"seed$seed")
      val props = Inputs.generate(spark, workload, seed, dir)
      deleteTree(sink)
      Extract.fresh(spark, dir.toString, sink.toString, s"record-$seed")
      val (digest, statuses) = Extract.sinkDigest(spark, sink.toString)
      val kernel = new Extract.Digest
      Extract.pool(Extract.pages(spark, dir.toString), 4)._2.foreach(kernel.add)
      System.err.println(s"[perfbench] recorded $workload seed $seed: $digest")
      seed.toString -> (props ++ Map("digest" -> digest.toString,
        "kernel_digest" -> kernel.toString, "statuses" -> statuses))
    }
    writeJson(out, bySeed.toMap)
  }
}
