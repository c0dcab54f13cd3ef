package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One local session per suite, from [[GraftSession.local]]: built in
  * `beforeAll`, stopped in `afterAll`, so each suite runs on a fresh
  * context with its own master and static settings
  * (`spark.sql.extensions`, the warehouse dir). A suite states its core
  * count and extra settings by overriding `cpus` and `sparkConf`. */
trait SharedSpark extends BeforeAndAfterAll { this: Suite =>

  /** cores of the local master; shuffle partitions follow */
  protected def cpus: Int = 4

  /** settings on top of [[GraftSession.local]]'s */
  protected def sparkConf: Seq[(String, String)] = Nil

  protected lazy val spark: SparkSession = GraftSession.local(cpus, sparkConf: _*)

  override def beforeAll(): Unit = {
    super.beforeAll()
    // getOrCreate would hand back a session an aborted suite left running,
    // without this suite's master and static settings
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    spark
  }

  override def afterAll(): Unit = try spark.stop() finally super.afterAll()

  /** `body` with runtime SQL settings changed, restored after it. */
  protected def withConf[T](settings: (String, String)*)(body: => T): T = {
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
