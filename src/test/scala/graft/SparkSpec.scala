package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlCtx = spark.sqlContext

  /** A fresh, empty directory, deleted when the JVM exits. */
  def scratch(prefix: String): String = graft.core.Artifacts.dir(prefix)

  /** Run `body` and count its jobs, their tasks and the shuffle bytes those
    * tasks wrote. Listener events arrive in order, so once a later barrier
    * job shows, every event of `body` has. */
  def ranIn[A](body: => A): (A, SparkSpec.Ran) = {
    val sc = spark.sparkContext
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val barrier = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("counted") =>
            jobs.incrementAndGet(); e.stageIds.foreach(stages.add)
          case Some("barrier") => barrier.countDown()
          case _ =>
        }
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          Option(e.taskMetrics).foreach(m =>
            shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("counted", "counted body")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("barrier", "listener barrier")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(barrier.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the barrier")
      (out, SparkSpec.Ran(jobs.get, tasks.get, shuffled.get))
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body` with the given SQL confs set, restoring priors after —
    * the session is shared across suites, so never leave confs dirty. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val prior = pairs.map { case (k, _) =>
      k -> (try Option(conf.get(k)) catch { case _: Exception => None })
    }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

object SparkSpec {
  /** What a body ran on the cluster: see [[SparkSpec.ranIn]]. */
  final case class Ran(jobs: Int, tasks: Int, shuffleWriteBytes: Long)

  lazy val session: SparkSession = Sessions.local("4")
}
