package graft.spark

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** The one registry of session artifacts: the tables, broadcasts and
  * coverage rows the queries share within a Spark application (the
  * extracted corpus, LSH candidates, simhash signatures/pairs/clusters,
  * the sign-LSH table, the IVF index). [[memo]] builds each artifact once
  * per (application, scope, name); [[release]] frees everything an
  * application holds in one place.
  */
object SessionArtifacts {

  /** One artifact. The map only installs the slot; [[get]] builds under
    * the slot's own lock, outside the map's bin lock, so a build may memo
    * other artifacts (a nested `computeIfAbsent` on one map is unsupported)
    * and a long build blocks only callers of the same key. A build that
    * throws leaves the slot empty, and the next caller retries.
    */
  private final class Slot(build: () => Any) {
    @volatile private var built: Option[Any] = None
    def get: Any = built.getOrElse(synchronized {
      if (built.isEmpty) built = Some(build())
      built.get
    })
    def value: Option[Any] = built
  }

  private val slots = new ConcurrentHashMap[(String, String, String), Slot]()

  /** The artifact `name` of `spark`'s application under `scope` (a tables
    * directory, or "" for application-wide state); `build` runs on first
    * use only.
    */
  def memo[T](name: String, spark: SparkSession, scope: String)(build: => T): T =
    slots.computeIfAbsent((spark.sparkContext.applicationId, scope, name), _ => new Slot(() => build))
      .get.asInstanceOf[T]

  /** A broadcast that outlives the call creating it (a lazily evaluated
    * plan reads it), destroyed by [[release]].
    */
  def broadcast[T: ClassTag](spark: SparkSession, value: T): Broadcast[T] = {
    val b = spark.sparkContext.broadcast(value)
    memo(s"broadcast ${b.id}", spark, "")(b)
  }

  /** The artifacts `spark`'s application has built so far. */
  private[graft] def held(spark: SparkSession): Seq[Any] = {
    val app = spark.sparkContext.applicationId
    slots.asScala.toSeq.collect { case ((`app`, _, _), slot) => slot.value }.flatten
  }

  /** Frees every artifact of `spark`'s application: unpersists its
    * Datasets and their checkpoint data, destroys its broadcasts and drops
    * its memos and coverage rows.
    */
  def release(spark: SparkSession): Unit = {
    val app = spark.sparkContext.applicationId
    slots.keySet.asScala.filter(_._1 == app).foreach { key =>
      Option(slots.remove(key)).flatMap(_.value).foreach(free)
    }
  }

  private def free(v: Any): Unit = v match {
    case ds: Dataset[_] => unpersist(ds)
    case b: Broadcast[_] => b.destroy()
    case p: Product => p.productIterator.foreach(free)
    case _ =>
  }

  /** Unpersists `ds` and the `localCheckpoint` data it reads, which
    * `Dataset.unpersist` leaves in place.
    */
  private[graft] def unpersist(ds: Dataset[_]): Unit = {
    ds.unpersist()
    ds.queryExecution.logical.foreach {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.unpersist()
      case _ =>
    }
  }
}
