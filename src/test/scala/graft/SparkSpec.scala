package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide
  * session, keeps the suite fast). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** `body`'s value and the Spark jobs it ran, counted by a listener on
    * the shared session. */
  def jobsOf[A](body: => A): (A, Int) = {
    val m = JobMetrics.install(spark)
    try {
      val before = m.settle()
      val out = body
      (out, (m.settle() - before).jobs)
    } finally spark.sparkContext.removeSparkListener(m)
  }

  /** `body` with the SQL settings `pairs` on the shared session, each
    * put back afterwards. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val before = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/root/repo/target/graft-tmp/warehouse")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
