package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared session for all specs — the same GraftSession.tuned config
  * Verify and Bench run under, so tests exercise the graded engine.
  */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.shared
  def sf(name: String): String = s"/root/testdata/$name"

  /** `body` with session conf `key` at `value`; the shared session's
    * previous setting is restored. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** What `body` ran: the Spark jobs this thread submitted and the
    * executed plan of every query execution that succeeded, in order.
    * Both listeners sit on the listener bus's shared queue, which
    * delivers events in posting order: once the closing sentinel job's
    * start has reached the job listener, every event `body` posted has
    * been delivered. The opening sentinel fences off end events an
    * earlier action left queued.
    */
  def executionsDuring[T](body: => T): SparkSpecBase.Executions = {
    val sc = spark.sparkContext
    val group = s"graft-spec-${System.nanoTime}"
    val (opening, closing) = ("graft-spec-opening", "graft-spec-sentinel")
    val jobs = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    @volatile var open = false
    val done = new CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group))
          props.map(_.getProperty("spark.job.description")).orNull match {
            case `opening` => open = true
            case `closing` => done.countDown()
            case _ => jobs.add(s"job ${j.jobId} (${j.stageInfos.map(_.name).mkString(", ")})")
          }
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (open) plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def sentinel(description: String): Unit = {
      sc.setJobDescription(description)
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    sc.setJobGroup(group, "graft spec")
    try {
      sentinel(opening)
      body
      sentinel(closing)
      assert(done.await(60, TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
    }
    SparkSpecBase.Executions(jobs.asScala.toSeq, plans.asScala.toSeq)
  }
}

object SparkSpecBase {
  /** [[SparkSpecBase.executionsDuring]]'s record of a body. */
  final case class Executions(jobs: Seq[String], plans: Seq[SparkPlan])

  // one session per JVM: specs share it, sbt forks a single test JVM.
  // Warehouse in tmp so bucketed-table tests never litter the repo.
  lazy val shared: SparkSession = {
    val s = GraftSession.tuned(
      SparkSession.builder().master("local[4]").appName("graft-test")
        .config("spark.sql.warehouse.dir",
          java.nio.file.Files.createTempDirectory("graft-warehouse").toString),
      shufflePartitions = 4
    ).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
