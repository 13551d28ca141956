package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAllNoShrink

import graft.versioning.VersionOps

/** ScalaCheck laws for the versioning layer: the change-log algebra
  * (folding CDC merges version-by-version equals one time-travel
  * snapshot) and fingerprint invariances that must hold under any
  * partitioning. */
object PropertiesVersioningSpec extends Properties("graft-versioning") {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private val logGen: Gen[List[(Long, Int, String, Long)]] = for {
    n <- Gen.chooseNum(1, 60)
    rows <- Gen.listOfN(n, for {
      k <- Gen.chooseNum(1L, 12L)
      v <- Gen.chooseNum(1, 5)
      op <- Gen.frequency(3 -> Gen.const("u"), 1 -> Gen.const("d"))
      x <- Gen.chooseNum(-1000L, 1000L)
    } yield (k, v, op, x))
  } yield rows
    // change logs are unique per (key, version): keep one winner
    .groupBy(r => (r._1, r._2)).map(_._2.head).toList

  property("fold of per-version applyChanges == asOfSnapshot") =
    forAllNoShrink(logGen) { rows =>
      val log = rows.toDF("k", "version", "op", "x")
      val maxV = rows.map(_._2).max
      val empty = Seq.empty[(Long, Long)].toDF("k", "x")
      val folded = (1 to maxV).foldLeft(empty) { (acc, v) =>
        VersionOps.applyChanges(acc,
          log.filter(col("version") === v).select("k", "x", "op"),
          Seq("k"), "op")
      }
      val snap = VersionOps.asOfSnapshot(log, Seq("k"), "version",
        "op", lit(maxV)).select("k", "x")
      folded.as[(Long, Long)].collect().sorted.toList ==
        snap.as[(Long, Long)].collect().sorted.toList
    }

  property("fingerprint invariant to partitioning; moves on any edit") =
    forAllNoShrink(Gen.chooseNum(1, 200), Gen.chooseNum(2, 9)) { (n, parts) =>
      val df = (1L to n.toLong).map(i => (i, s"v$i")).toDF("k", "s")
      val a = VersionOps.tableFingerprint(df, Seq("k", "s"))
        .as[(Long, Long)].head()
      val b = VersionOps.tableFingerprint(df.repartition(parts),
        Seq("k", "s")).as[(Long, Long)].head()
      val edited = VersionOps.tableFingerprint(
        df.withColumn("s",
          when(col("k") === 1L, lit("v1x")).otherwise(col("s"))),
        Seq("k", "s")).as[(Long, Long)].head()
      a == b && a._1 == n.toLong && edited._2 != a._2
    }

  property("versionDiff statuses partition the key universe") =
    forAllNoShrink(Gen.chooseNum(0L, 80L), Gen.chooseNum(2, 7),
      Gen.chooseNum(2, 7)) { (n, p, q) =>
      val old = (1L to n).filter(_ % p != 0).map(k => (k, k * 10))
        .toDF("k", "v")
      val nw = (1L to n).filter(_ % q != 0)
        .map(k => (k, if (k % 3 == 0) k * 10 + 1 else k * 10))
        .toDF("k", "v")
      val d = VersionOps.versionDiff(old, nw, Seq("k"), Seq("v"))
      val statuses = d.select("k", "status").as[(Long, String)]
        .collect().toMap
      (1L to n).forall { k =>
        val expect = (k % p != 0, k % q != 0) match {
          case (false, false) => None
          case (false, true)  => Some("added")
          case (true, false)  => Some("removed")
          case (true, true)   =>
            Some(if (k % 3 == 0) "changed" else "unchanged")
        }
        statuses.get(k) == expect
      } && d.count() == statuses.size
    }
}
