package graft.spark

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Format-agnostic table I/O (SURVEY.md §7.1): every scan and sink in the
  * engine goes through this seam so the storage layer is a deployment
  * choice, not a code change.
  *
  * In this sandbox the only available format is parquet-on-path. In
  * production the same calls target Iceberg DSv2 catalogs
  * (`spark.read.table(name)` / `writeTo(name).append()`), which adds:
  *   - atomic commits → the lineage/resume contract in [[Lineage]] reads
  *     only COMMITTED snapshots for free,
  *   - hidden partitioning + partition evolution for the doc corpus,
  *   - snapshot time-travel for replaying an extraction over the exact
  *     input of a previous run.
  * Nothing downstream depends on the format: plans are built from the
  * returned DataFrame, so pushdown/pruning work identically.
  */
trait TableIO {
  def read(spark: SparkSession, table: String): DataFrame
  /** [[read]] under a schema the caller already knows — a table the
    * program itself wrote — so the format infers none (on parquet: no
    * footer-reading job). Catalog tables carry their schema, so the
    * default ignores it.
    */
  def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    read(spark, table)
  /** Replace the table's contents (fresh-run sink). */
  def write(df: DataFrame, table: String): Unit
  /** Append to the table (resumed-run sink: the committed output of the
    * prior run must survive — see [[Pipeline.extractToSink]]).
    */
  def append(df: DataFrame, table: String): Unit
  /** [[append]], then what it committed: the rows of exactly the
    * appended files, read under `df`'s schema, and the table's row count
    * after the append ([[countRows]]'s figure). A derived sidecar can
    * then be merged instead of re-derived from the whole table
    * ([[commitWithSidecar]]). None when the format cannot name the
    * files — the default, and the catalog path (Iceberg's form is the
    * snapshot diff, which needs its runtime).
    */
  def appendCommitted(df: DataFrame, table: String): Option[(DataFrame, Long)] = {
    append(df, table)
    None
  }
  /** Name of a small sidecar table stored logically beside `table` (the
    * persisted lineage, [[Pipeline.extractToSink]]). Catalog identifiers
    * get a `_suffix` sibling table; the parquet implementation nests an
    * underscore-prefixed subdirectory, which Spark's file listing skips
    * when scanning the parent, so the sidecar travels with the sink.
    */
  def sidecar(table: String, suffix: String): String = table + "_" + suffix
  /** Row count WITHOUT a data scan — the consistency probe for
    * sidecar-vs-sink validation ([[Lineage.doneSet]], the resumed
    * commit's merge check). On parquet the row-group footers answer it
    * (no column data read); on Iceberg it is O(1) from the snapshot
    * summary's total-records.
    */
  def countRows(spark: SparkSession, table: String): Long =
    read(spark, table).count()

  /** Commit `main` plus its derived sidecar as ONE LOGICAL COMMIT from
    * the resume contract's point of view. The sidecar content derives
    * from committed state only (the exactly-once-under-retry property).
    * Returns the committed table, read back under `main`'s schema.
    *
    * A fresh run (`resume = false`) replaces the table and derives the
    * sidecar with `sidecarOf` over the whole committed table. A resumed
    * run appends; when the format names the files the append committed
    * ([[appendCommitted]]), `mergeAppended` receives their rows and the
    * table's row count after the append, and returns the merged sidecar (O(appended output + sidecar), see
    * [[Lineage.mergeAppended]]), or None when it cannot vouch for the
    * merge — then, and on formats that name nothing, `sidecarOf` runs
    * over the whole committed table: the one fallback, and the path that
    * heals a stale sidecar.
    *
    * Default implementation: sink first, then sidecar overwrite. A crash
    * between the two leaves a STALE sidecar — that window is part of the
    * contract, defended downstream: [[Lineage.doneSet]] validates the
    * sidecar against the sink's metadata row count and falls back to the
    * committed-output scan on any mismatch, and the next resumed commit's
    * merge fails the same count check and re-derives (crash-window
    * contract-tested for both the parquet and catalog implementations in
    * PipelineSpec). The sink-THEN-sidecar order is load-bearing: the
    * reverse order could leave a sidecar claiming buckets the sink never
    * committed, which the count probe would also catch — but only by
    * discarding resume savings on every crash instead of only
    * sidecar-window crashes. A catalog backend with real multi-table
    * transactions (e.g. an Iceberg REST catalog) overrides this to commit
    * both tables in one transaction; the stock Spark API exposes no such
    * commit, so the default encodes ordering + validation rather than
    * pretending atomicity it cannot have.
    */
  def commitWithSidecar(main: DataFrame, table: String,
      sidecarOf: DataFrame => DataFrame, mergeAppended: (DataFrame, Long) => Option[DataFrame],
      suffix: String, resume: Boolean): DataFrame = {
    val spark = main.sparkSession
    val appended =
      if (resume) appendCommitted(main, table)
      else { write(main, table); None }
    // the merge path writes the sidecar without touching the sink's data
    lazy val written = read(spark, table, main.schema)
    write(appended.flatMap(mergeAppended.tupled).getOrElse(sidecarOf(written)), sidecar(table, suffix))
    written
  }

  /** The resumed commit of a run with no row to append: the table is
    * left as it is, and the sidecar is `mergeAppended` over no rows and
    * the table's row count ([[tableRows]]). Returns the table read back
    * under `schema`, or None — nothing written — when there is no table
    * yet or the merge cannot vouch for the prior sidecar; the caller then
    * commits through [[commitWithSidecar]], whose re-derive heals it.
    */
  def commitUnchanged(spark: SparkSession, table: String, schema: StructType,
      mergeAppended: (DataFrame, Long) => Option[DataFrame], suffix: String): Option[DataFrame] =
    tableRows(spark, table)
      .flatMap(n => mergeAppended(spark.createDataFrame(java.util.Collections.emptyList[Row](), schema), n))
      .map { merged =>
        write(merged, sidecar(table, suffix))
        read(spark, table, schema)
      }

  /** The table's row count, None when it does not exist. Parquet reuses
    * this application's last [[countRows]] when it covered exactly the
    * table's current files (as [[Lineage.doneSet]]'s count does in a
    * restart), so that answer runs no job.
    */
  def tableRows(spark: SparkSession, table: String): Option[Long] =
    scala.util.Try(countRows(spark, table)).toOption

  /** Drop a table (compaction staging cleanup). */
  def drop(spark: SparkSession, table: String): Unit

  /** Compact `table` into `targetPartitions` output partitions — the
    * small-files maintenance a long-lived appended sink needs: every
    * resumed run appends its own file set, and at 10^12-doc scale an
    * uncompacted sink's file count (and with it scan planning time and
    * per-file open cost) grows without bound. Content is preserved
    * EXACTLY, so content-derived sidecars (the `_lineage` resume
    * contract) remain valid — [[Lineage.doneSet]]'s count probe passes
    * before and after.
    *
    * Default implementation (catalog backends): stage the coalesced scan
    * as a sibling staging table, validate its row count against the
    * source's metadata count, then atomically replace `table` from
    * staging (RTAS — atomic on Iceberg, the production path) and drop
    * staging. A crash before the replace leaves `table` untouched; after
    * it, staging is garbage a later compact run overwrites.
    * The parquet implementation overrides with a rename swap (no second
    * data write, dir-nested sidecars preserved — see [[ParquetTableIO]]).
    *
    * Returns (rows, partitions-or-files after) for the caller's
    * observability surface ([[graft.spark.Coverage]]).
    */
  def compact(spark: SparkSession, table: String, targetPartitions: Int): (Long, Long) = {
    require(targetPartitions > 0, s"targetPartitions=$targetPartitions")
    val staging = table + "__compacting"
    val before = countRows(spark, table)
    write(read(spark, table).coalesce(targetPartitions), staging)
    require(countRows(spark, staging) == before,
      s"compact: staging row count != $before for $table — aborting before replace")
    write(read(spark, staging), table)
    drop(spark, staging)
    val after = countRows(spark, table)
    require(after == before, s"compact: $table has $after rows after replace, expected $before")
    (before, targetPartitions.toLong)
  }
}

/** Parquet-backed implementation: table name = directory path. */
final class ParquetTableIO(root: String = "") extends TableIO {
  private def path(table: String): String =
    if (root.isEmpty) table else s"$root/$table"

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(paths(spark, table): _*)

  override def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(paths(spark, table): _*)

  /** What a read of `table` passes to Spark: its directory, or, for a
    * nested `_`-prefixed sidecar, its data files. Spark ignores a path
    * named `_…` (and warns that all paths were ignored) though it still
    * lists it. A missing sidecar passes its directory, so its read fails
    * as a missing table's does.
    */
  private def paths(spark: SparkSession, table: String): Seq[String] = {
    val files =
      if (new org.apache.hadoop.fs.Path(path(table)).getName.startsWith("_")) dataFiles(spark, table)
      else Nil
    if (files.isEmpty) Seq(path(table)) else files.map(_._1)
  }

  override def write(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").parquet(path(table))

  override def append(df: DataFrame, table: String): Unit =
    df.write.mode("append").parquet(path(table))

  /** The data files the append added: the table's listing before and
    * after it, read under `df`'s schema (listing only, no job). The
    * table's count after the append reuses the last [[countRows]] of this
    * application when that count covered exactly the files there before
    * the append — as [[Lineage.doneSet]]'s count does right before a
    * restart's append — and adds the count of the added files' footers;
    * otherwise it is a whole [[countRows]].
    */
  override def appendCommitted(df: DataFrame, table: String): Option[(DataFrame, Long)] = {
    val spark = df.sparkSession
    val before = dataFiles(spark, table)
    append(df, table)
    val added = dataFiles(spark, table).diff(before).map(_._1)
    val rows =
      if (added.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), df.schema)
      else spark.read.schema(df.schema).parquet(added: _*)
    val rowsAfter = knownCount(spark, table, before)
      .map(_ + (if (added.isEmpty) 0L else spark.read.schema(new StructType()).parquet(added: _*).count()))
      .getOrElse(countRows(spark, table))
    Some((rows, rowsAfter))
  }

  /** None when the table has no data files (it does not exist). */
  override def tableRows(spark: SparkSession, table: String): Option[Long] = {
    val files = dataFiles(spark, table)
    if (files.isEmpty) None
    else Some(knownCount(spark, table, files).getOrElse(countRows(spark, table)))
  }

  /** The last [[countRows]]'s count, if it covered exactly `files`. */
  private def knownCount(spark: SparkSession, table: String,
      files: Seq[(String, Long, Long)]): Option[Long] =
    lastCount(spark, table).get.collect { case (covered, n) if covered == files.toSet => n }

  /** The table's data files as (path, length, modification time): its
    * directory listing without the `_`/`.`-prefixed entries (the nested
    * sidecars, `_SUCCESS`, checksums) that a scan skips. Empty when the
    * table does not exist.
    */
  private def dataFiles(spark: SparkSession, table: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
  }

  /** The footers answer the count under an empty read schema: no column
    * is read and no schema inferred. The count is kept with the listing
    * it covers, for the count after this application's next append
    * ([[appendCommitted]]); every call itself reads all the footers.
    */
  override def countRows(spark: SparkSession, table: String): Long = {
    val n = read(spark, table, new StructType()).count()
    lastCount(spark, table).set(Some((dataFiles(spark, table).toSet, n)))
    n
  }

  /** The last [[countRows]] of `table` in this application: the listing
    * it covered and the count.
    */
  private def lastCount(spark: SparkSession, table: String) =
    SessionArtifacts.memo("parquet row count", spark, path(table))(
      new java.util.concurrent.atomic.AtomicReference[Option[(Set[(String, Long, Long)], Long)]](None))

  override def sidecar(table: String, suffix: String): String =
    table + "/_" + suffix

  override def drop(spark: SparkSession, table: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Parquet compaction: ONE data write + a rename swap.
    *
    *   1. write the coalesced scan to a sibling staging dir,
    *   2. validate staging's footer count against the source's,
    *   3. swap: `table` → `table__pre_compact`, staging → `table`, move
    *      the old dir's `_*` sidecar subdirs (lineage etc.) into the new
    *      one (renames, not copies), drop `__pre_compact`.
    *
    * Crash recovery is by directory presence, every window re-runnable:
    * before step 3 the source is untouched (staging is garbage); a crash
    * inside step 3 leaves `__pre_compact` holding the original — restore
    * is a rename back. Sidecars survive by rename, and stay VALID because
    * compaction preserves content exactly (the `_lineage` count probe
    * passes unchanged). Returns (rows, data files after).
    */
  override def compact(spark: SparkSession, table: String,
      targetPartitions: Int): (Long, Long) = {
    require(targetPartitions > 0, s"targetPartitions=$targetPartitions")
    import org.apache.hadoop.fs.Path
    val main = new Path(path(table))
    val staging = new Path(path(table + "__compacting"))
    val pre = new Path(path(table + "__pre_compact"))
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(pre),
      s"compact: $pre exists — a previous compaction crashed mid-swap; " +
        "restore it (rename back over the target) before compacting again")
    val before = countRows(spark, table)
    write(read(spark, table).coalesce(targetPartitions), table + "__compacting")
    require(countRows(spark, table + "__compacting") == before,
      s"compact: staging row count != $before for $table — aborting before swap")
    val sidecars = fs.listStatus(main)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("_"))
      .map(_.getPath.getName)
    require(fs.rename(main, pre), s"compact: rename $main -> $pre failed")
    require(fs.rename(staging, main), s"compact: rename $staging -> $main failed")
    sidecars.foreach { name =>
      require(fs.rename(new Path(pre, name), new Path(main, name)),
        s"compact: sidecar $name move failed — sink is compacted and valid, " +
          "sidecar recoverable under " + pre)
    }
    val after = countRows(spark, table)
    require(after == before, s"compact: $table has $after rows after swap, expected $before")
    fs.delete(pre, true)
    (before, dataFiles(spark, table).length.toLong)
  }
}

/** Catalog-backed implementation for production (Iceberg/Hive): table
  * name = catalog identifier. Compiles against the stock Spark API only —
  * the Iceberg runtime is a cluster-side jar, not a code dependency.
  */
final class CatalogTableIO extends TableIO {
  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.table(table)

  override def write(df: DataFrame, table: String): Unit =
    try df.writeTo(table).createOrReplace()
    catch {
      // atomic REPLACE TABLE AS SELECT needs a catalog that supports it
      // (Iceberg does — that's the production path); the stock session
      // catalog does not, so fall back to non-atomic drop + create there
      case e: org.apache.spark.sql.AnalysisException
          if String.valueOf(e.getCondition).startsWith("UNSUPPORTED_FEATURE") =>
        df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
        df.writeTo(table).create()
    }

  override def append(df: DataFrame, table: String): Unit =
    try df.writeTo(table).append()
    catch {
      // V2 AppendData requires a V2 table; the stock session catalog hands
      // back v1 parquet tables (_LEGACY_ERROR_TEMP_1012 "Cannot write into
      // v1 table"), where the V1 writer's append is the supported path.
      // Iceberg tables are V2, so production appends stay on writeTo.
      case e: org.apache.spark.sql.AnalysisException
          if String.valueOf(e.getCondition).startsWith("UNSUPPORTED_FEATURE") ||
            e.getCondition == "_LEGACY_ERROR_TEMP_1012" =>
        df.write.mode("append").saveAsTable(table)
    }

  override def drop(spark: SparkSession, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $table")
}

object TableIO {
  /** Sandbox default. */
  val parquet: TableIO = new ParquetTableIO()
}
