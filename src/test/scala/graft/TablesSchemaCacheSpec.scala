package graft

import java.nio.file.Files

/** Tables.load reuses a table's inferred parquet schema within a
  * session only while the files are unchanged. */
class TablesSchemaCacheSpec extends SparkSpecBase {
  import spark.implicits._

  test("Tables.load sees the new schema of an overwritten table") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    Tables.load(spark, dir, "t").schema.fieldNames shouldBe Array("k", "v")
    // a second load of the unchanged table reads the same data
    Tables.load(spark, dir, "t").as[(Long, String)].collect() shouldBe
      Array((1L, "a"))

    Seq((2.5, 7, true)).toDF("x", "y", "z").write.mode("overwrite")
      .parquet(path)
    val t = Tables.load(spark, dir, "t")
    t.schema.fieldNames shouldBe Array("x", "y", "z")
    t.as[(Double, Int, Boolean)].collect() shouldBe Array((2.5, 7, true))
  }

  test("Tables.load of a missing table fails as a plain parquet read") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val e = intercept[Exception](Tables.load(spark, dir, "absent"))
    e.getMessage should include("absent.parquet")
  }
}
