package graft.spark

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.jdk.CollectionConverters._

/** One recorded coverage/balance report (top-level so Spark's product
  * encoder derives cleanly — nested-object case classes trip scala
  * reflection under the typed layer).
  */
final case class CoverageEntry(
    query: String,
    kind: String,
    status: String,
    recorded_at: java.sql.Timestamp,
    metrics: Map[String, Double])

/** Persistable registry of cap-coverage / balance reports — the "no silent
  * caps" observability surface (VERDICT r5 item 2): every registered
  * execution of a capped operator (d10's bucket cap, d11's band cap, e3's
  * IVF list balance) RECORDS its report here instead of only printing it,
  * so "recall degraded" is a queryable row after the fact, not a log line
  * that scrolled away.
  *
  * Rows are normalized to one schema — (query, kind, status, metrics
  * map) — so heterogeneous reports (bucket coverage vs list balance)
  * coexist in one table. [[graft.Verify]] dumps the table beside the query
  * results; production runs would [[persist]] it through the same
  * [[TableIO]] seam as the lineage sidecar.
  *
  * Entries are kept per Spark application, as a [[SessionArtifacts]]
  * artifact: [[graft.Queries.releaseCaches]] drops them with the rest of
  * the application's session state, so read or [[persist]] the table
  * before releasing.
  */
object Coverage {

  type Entry = CoverageEntry

  /** `spark`'s application's entries, in recording order. */
  private def entries(spark: SparkSession): java.util.concurrent.ConcurrentLinkedQueue[CoverageEntry] =
    SessionArtifacts.memo("coverage", spark, "")(
      new java.util.concurrent.ConcurrentLinkedQueue[CoverageEntry]())

  /** Record the (1-row) `report` DataFrame for `query`. Numeric columns
    * land in the metrics map; a `status` column is lifted (absent →
    * "ok"). Returns the collected row so the caller can also log it —
    * recording and printing share one collect.
    */
  def record(query: String, kind: String, report: DataFrame): Row = {
    val row = report.collect()(0)
    val schema = report.schema
    val metrics = schema.fields.zipWithIndex.flatMap { case (f, i) =>
      if (row.isNullAt(i)) None
      else f.dataType match {
        case org.apache.spark.sql.types.LongType => Some(f.name -> row.getLong(i).toDouble)
        case org.apache.spark.sql.types.IntegerType => Some(f.name -> row.getInt(i).toDouble)
        case org.apache.spark.sql.types.DoubleType => Some(f.name -> row.getDouble(i))
        case _ => None
      }
    }.toMap
    val status =
      if (schema.fieldNames.contains("status") && !row.isNullAt(schema.fieldIndex("status")))
        row.getString(schema.fieldIndex("status"))
      else "ok"
    add(report.sparkSession, query, kind, status, metrics)
    row
  }

  /** Record a report the caller already holds as numbers (status "ok"),
    * without planning a query.
    */
  def record(spark: SparkSession, query: String, kind: String, metrics: Map[String, Double]): Unit =
    add(spark, query, kind, "ok", metrics)

  private def add(spark: SparkSession, query: String, kind: String, status: String,
      metrics: Map[String, Double]): Unit =
    entries(spark).add(CoverageEntry(query, kind, status,
      new java.sql.Timestamp(System.currentTimeMillis()), metrics))

  /** Everything `spark`'s application recorded since its last release, as
    * a queryable DataFrame — FLATTENED to one (query, kind, status,
    * recorded_at, metric, value) row per metric. The earlier
    * `metrics: Map[String,Double]` column made the persisted `_coverage`
    * sidecar unreadable to flat-table consumers (the round-6 correctness
    * driver's pandas sort crashed on the unhashable map values); scalar
    * columns keep the registry queryable by ANY reader. Built with an
    * explicit schema (the scala-2.13 reflection encoder trips a
    * RefinedType MatchError under Spark 4).
    */
  def table(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("query", StringType),
      StructField("kind", StringType),
      StructField("status", StringType),
      StructField("recorded_at", TimestampType),
      StructField("metric", StringType),
      StructField("value", DoubleType)))
    val rows = new java.util.ArrayList[Row]()
    val it = entries(spark).iterator()
    while (it.hasNext) {
      val e = it.next()
      // deterministic metric order within an entry (map order is not); an
      // entry with NO numeric metrics still gets one (null, null) row so a
      // status-only record never vanishes from the persisted sidecar
      if (e.metrics.isEmpty)
        rows.add(Row(e.query, e.kind, e.status, e.recorded_at, null, null))
      else e.metrics.toSeq.sortBy(_._1).foreach { case (m, v) =>
        rows.add(Row(e.query, e.kind, e.status, e.recorded_at, m, v))
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Latest entry recorded for `query` by the active (else default)
    * session's application, if any (spec/assertion surface).
    */
  def latest(query: String): Option[CoverageEntry] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(s => entries(s).asScala.filter(_.query == query).lastOption)

  /** Write the recorded table through the [[TableIO]] seam — the same
    * sidecar mechanics as the extraction lineage, so at production scale
    * coverage lands beside the artifacts it describes.
    */
  def persist(spark: SparkSession, io: TableIO, path: String): Unit =
    io.write(table(spark), path)
}
