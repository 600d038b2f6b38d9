package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (Spark re-uses the singleton
  * via getOrCreate; sbt forks a single test JVM).
  *
  * Every suite records the session conf when it starts and fails in
  * `afterAll`, naming the keys, if it leaves that conf changed: a value a
  * suite forgets to restore silently changes the plans of every suite that
  * runs after it. Suites overriding `beforeAll`/`afterAll` call `super`.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sfDir = "/root/testdata/sf0.001"

  private var confBaseline: Map[String, String] = Map.empty

  override def beforeAll(): Unit = {
    super.beforeAll()
    confBaseline = spark.conf.getAll
  }

  override def afterAll(): Unit =
    try {
      val now = spark.conf.getAll
      val changed = (confBaseline.keySet ++ now.keySet)
        .filter(k => confBaseline.get(k) != now.get(k)).toSeq.sorted
      assert(changed.isEmpty, s"$suiteName left session conf changed: " +
        changed.map(k => s"$k: ${confBaseline.get(k)} -> ${now.get(k)}").mkString("; "))
    } finally super.afterAll()

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
  lazy val session: SparkSession = {
    val s = graft.core.Sessions.local(4, "graft-test")
    quietTaskFailures()
    s
  }

  /** Negative tests make tasks fail on purpose, and Spark logs each failure
    * with its full stack trace twice: the Executor's "Exception in task" at
    * ERROR and the TaskSetManager's "Lost task" at WARN. The test already
    * asserts on the exception the action throws, so silence those two
    * classes in the test session only (the `Logs.quietBoundedWindowWarn`
    * way: per class, never the root logger). The job-abort line stays.
    * A query that fails at analysis (a missing path) is reported to every
    * session listener, and the `ExecutionListenerBus` logs one listener's
    * rethrow of it with the full stack: the test asserts on the same
    * exception, so that class is scoped too.
    */
  private def quietTaskFailures(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Configurator.setLevel("org.apache.spark.executor.Executor", Level.FATAL)
    Configurator.setLevel("org.apache.spark.scheduler.TaskSetManager", Level.ERROR)
    Configurator.setLevel("org.apache.spark.sql.util.ExecutionListenerBus", Level.FATAL)
  }
}
