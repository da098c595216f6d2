package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlCtx = spark.sqlContext

  /** A fresh, empty directory, deleted when the JVM exits. */
  def scratch(prefix: String): String = graft.core.Artifacts.dir(prefix)

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
  lazy val session: SparkSession = Sessions.local("4")
}
