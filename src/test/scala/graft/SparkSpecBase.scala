package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
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

  /** Jobs this thread submits while `body` runs. Every job posted before
    * the closing sentinel job has reached the listener once the
    * sentinel's own start has.
    */
  def jobsDuring(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"graft-spec-${System.nanoTime}"
    val sentinel = "graft-spec-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) {
          val desc = props.map(_.getProperty("spark.job.description")).orNull
          if (desc == sentinel) done.countDown()
          else seen.add(s"job ${j.jobId} (${j.stageInfos.map(_.name).mkString(", ")})")
        }
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "graft spec")
    try {
      body
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    seen.asScala.toSeq
  }
}

object SparkSpecBase {
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
