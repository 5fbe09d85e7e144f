package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.core.GraftSession

/** One shared local session for all suites (mirrors the reference's
  * session-scoped fixture, `tests/conftest.py:9-25`: local, UTC): the
  * engine's own session conf plus a test-only warehouse dir.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4, "graft-test")
      // managed-table surface (bucketed tables) kept out of the repo
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A session on the test context whose range partitions number
    * exactly `n` (its own shuffle partition count, AQE coalescing
    * off): global orders built from its frames run on `n` ranges.
    */
  def onPartitions(n: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", n.toLong)
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", false)
    s
  }

  /** `f`'s result and the Spark jobs it ran, counted through a job
    * group (threads `f` starts inherit it). The status tracker is fed
    * asynchronously, so the count is polled until stable.
    */
  def withJobs[T](tag: String)(f: => T): (T, Int) = {
    spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
    val result = try f finally spark.sparkContext.clearJobGroup()
    def ids = spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
    var last = -1
    var cur = ids
    var spins = 0
    while (cur != last && spins < 100) {
      Thread.sleep(50); last = cur; cur = ids; spins += 1
    }
    (result, cur)
  }

  /** `f`'s result and the physical plans of the actions it ran (a
    * checkpoint, a collect). Plans reach the listener asynchronously,
    * in order, so a marker action closes the recording.
    */
  def withPlans[T](f: => T): (T, Seq[SparkPlan]) = {
    val marker = "_plans_marker"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == marker)) closed.countDown()
        else plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = f
      spark.range(1).toDF(marker).collect()
      assert(closed.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the plan listener never saw the marker action")
      (result, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** How many RDDs that were not persisted before `f` it leaves
    * persisted. Every RDD persisted when one of f's jobs starts is
    * held until the count is taken, so a checkpoint f drops without
    * releasing it counts even if its Dataset was collected meanwhile
    * (which lets the context cleaner free it, but only after a GC).
    * Job events reach the listener in order, so a marker job closes
    * the recording.
    */
  def pinnedBy(f: => Unit): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val marker = "_pinned_marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]()
    val closed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == marker))
          closed.countDown()
        else seen.addAll(sc.getPersistentRDDs.values.asJavaCollection)
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(closed.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the job listener never saw the marker job")
      seen.asScala.filter(r => !before(r.id) && r.getStorageLevel != StorageLevel.NONE)
        .map(_.id).toSet.size
    } finally sc.removeSparkListener(listener)
  }

  private object Stages extends AdaptiveSparkPlanHelper

  /** The partitioning of every shuffle exchange in `plan`, adaptive
    * query stages included.
    */
  def shuffles(plan: SparkPlan): Seq[Partitioning] =
    Stages.collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }

  /** Parse raw JSON strings through the real reader path. */
  def jsonDf(schema: org.apache.spark.sql.types.StructType, rows: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.schema(schema).json(rows.toDS)
  }
}
