package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (Spark re-uses the singleton
  * via getOrCreate; sbt forks a single test JVM).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Run `body` with the given session conf values set, then put every key
    * back in `finally`: its prior value if it had one, unset if it had
    * none. The session is shared by every suite, so a value left behind by
    * a failing test would change the plans of the suites that follow.
    */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    // getAll holds only the explicitly set keys; getOption would report a
    // default as a prior value and the restore would pin it
    val explicit = spark.conf.getAll
    val prior = kvs.map { case (k, _) => k -> explicit.get(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = graft.core.Sessions.local(4, "graft-test")
}
