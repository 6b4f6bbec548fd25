package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loading for the driver-provided test tables
  * (`/root/testdata/sf*`; see TESTDATA.md). In production these scans are
  * Iceberg DSv2 — the format string is the only difference (TableIO in
  * SURVEY.md §7.1), so everything downstream is format-agnostic.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Swappable storage seam (see [[graft.spark.TableIO]]): parquet in the
    * sandbox, Iceberg catalog in production. Passed as a parameter (not a
    * mutable global) so tests and multi-catalog jobs can't race on it.
    */
  val defaultIo: graft.spark.TableIO = graft.spark.TableIO.parquet

  def load(spark: SparkSession, sfDir: String, name: String,
      io: graft.spark.TableIO = defaultIo): DataFrame =
    io.read(spark, s"$sfDir/$name.parquet")
}
