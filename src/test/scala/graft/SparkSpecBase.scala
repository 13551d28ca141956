package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** One SparkSession shared by every spec in the forked test JVM,
  * built by [[GraftSession.builder]] so the specs check the
  * configuration that users, `Verify` and perfbench get. The
  * extensions are on: VerdictR8Spec tests the SQL-only deployment
  * path, the injector class name in `spark.sql.extensions`. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 4, extensions = true)
      .appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Every suite shares [[TestSpark.spark]], so each one hands the
  * session on as it found it: the SQL conf is put back to its state
  * before the suite (keys the suite set are unset, changed values
  * restored) and the caches its own tests made are dropped. Library
  * calls leave none (LocalStrategySpec checks that). */
abstract class SparkSpecBase extends AnyFunSuite with Matchers
    with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  import org.apache.spark.sql.DataFrame

  private var confBefore = Map.empty[String, String]

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    confBefore = spark.conf.getAll
  }

  override protected def afterAll(): Unit =
    try {
      val now = spark.conf.getAll
      (now.keySet -- confBefore.keySet).foreach(spark.conf.unset)
      confBefore.foreach { case (k, v) =>
        if (!now.get(k).contains(v)) spark.conf.set(k, v)
      }
      spark.catalog.clearCache()
    } finally super.afterAll()

  def approx(a: Double, b: Double, tol: Double = 1e-9): Unit =
    math.abs(a - b) should be <= tol

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}
