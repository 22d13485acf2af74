package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy), WARN logs,
  * small shuffle partition count for speed. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Records read by the tasks of `body`'s own jobs (see [[ownJobs]]). */
  def countRecordsRead[T](body: => T): (T, Long) = {
    val (r, _, recs) = ownJobs(body)
    (r, recs)
  }

  /** The number of jobs `body` starts (see [[ownJobs]]). */
  def countOwnJobs[T](body: => T): (T, Int) = {
    val (r, jobs, _) = ownJobs(body)
    (r, jobs)
  }

  /** `body`'s result, the jobs it started and the records their tasks
    * read — the ONE copy of the listener harness (measurement-protocol
    * changes, e.g. the 300 ms bus-drain sleep, happen here, not in
    * per-suite clones). The body runs under a unique job group; only
    * jobs carrying that group and tasks of their stages count, so late
    * events of an earlier job (a streaming query stopped just before)
    * cannot leak into the counts. */
  def ownJobs[T](body: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    val groupKey = "spark.jobGroup.id"
    val group = s"graft-count-${java.util.UUID.randomUUID}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val recs = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty(groupKey) == group) {
          jobs.incrementAndGet()
          j.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null && stages.contains(t.stageId))
          recs.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    val prevGroup = sc.getLocalProperty(groupKey)
    sc.addSparkListener(l)
    sc.setLocalProperty(groupKey, group)
    try {
      val r = body
      Thread.sleep(300) // let the listener bus drain
      (r, jobs.get(), recs.get())
    } finally {
      sc.setLocalProperty(groupKey, prevGroup)
      sc.removeSparkListener(l)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      // the library-user session integration, same as Verify/Bench/
      // Prof (SQL functions + the txlog SQL DML rule) — specs run
      // against the configuration a user actually deploys
      .withExtensions(new GraftExtensions())
      // the session-catalog half of the deployment (SQL time travel +
      // CALL procedures on txlog tables), exactly Delta's two-conf shape
      .config("spark.sql.catalog.spark_catalog",
        "graft.sources.txlog.GraftCatalog")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
