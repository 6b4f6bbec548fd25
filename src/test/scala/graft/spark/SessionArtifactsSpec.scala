package graft.spark

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

class SessionArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("session-artifacts-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("concurrent memos of one key build it once") {
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = (1 to 8).map { _ =>
        pool.submit(new Callable[AnyRef] {
          def call(): AnyRef = {
            start.await()
            SessionArtifacts.memo("once", spark, "spec") {
              builds.incrementAndGet()
              Thread.sleep(50)
              new Object
            }
          }
        })
      }
      start.countDown()
      val values = got.map(_.get(30, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(values.distinct.size == 1)
    } finally {
      pool.shutdown()
      SessionArtifacts.release(spark)
    }
  }

  test("a build that memos another key completes") {
    try {
      val outer = SessionArtifacts.memo("outer", spark, "spec") {
        SessionArtifacts.memo("inner", spark, "spec")(20) + 1
      }
      assert(outer == 21)
      assert(SessionArtifacts.memo[Int]("inner", spark, "spec")(sys.error("rebuilt")) == 20)
    } finally SessionArtifacts.release(spark)
  }

  test("release destroys a registered broadcast") {
    val b = SessionArtifacts.broadcast(spark, Array(1, 2, 3))
    assert(spark.sparkContext.parallelize(1 to 4, 2).map(i => b.value(i % 3)).sum() == 8)
    SessionArtifacts.release(spark)
    intercept[SparkException](b.value)
  }

  test("release frees a memoized Dataset's persisted and localCheckpoint data") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val cached = SessionArtifacts.memo("cached", spark, "spec")(spark.range(100).toDF().persist())
    val checkpointed = SessionArtifacts.memo("checkpointed", spark, "spec")(
      (spark.range(100).toDF().localCheckpoint(), 100L))
    assert(cached.count() == 100 && checkpointed._1.count() == 100)
    assert(spark.sparkContext.getPersistentRDDs.size == before + 2)
    SessionArtifacts.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
    // a released artifact is rebuilt on next use
    assert(SessionArtifacts.memo("cached", spark, "spec")(spark.range(3).toDF()).count() == 3)
    SessionArtifacts.release(spark)
  }
}
