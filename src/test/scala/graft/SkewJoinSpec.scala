package graft

import org.apache.spark.sql.functions._

import graft.functions.SkewJoin

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  test("salted equi-join equals plain equi-join on skewed data") {
    // synthetic skew: 80% of rows share one key
    val left = (1 to 2000).map(i => (if (i % 5 == 0) i.toLong % 50 else 7L, i.toLong))
      .toDF("k", "v")
    val right = (0L to 60L).map(k => (k, s"dim$k")).toDF("k", "name")
    val salted = SkewJoin.saltedEquiJoin(left, right, "k", saltBuckets = 8)
      .orderBy("k", "v")
    val plain = left.join(right, Seq("k"))
      .select(salted.columns.map(col): _*).orderBy("k", "v")
    assert(salted.collect().toSeq == plain.collect().toSeq)
  }

  test("salted two-phase aggregation equals direct aggregation") {
    val df = (1 to 5000).map(i => (if (i % 10 == 0) i.toLong % 20 else 3L, i.toDouble))
      .toDF("k", "v")
    val salted = SkewJoin.saltedSumCount(df, "k", "v", saltBuckets = 8)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val direct = df.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // sums of doubles may differ in ulps by grouping order; compare with tolerance
    assert(salted.length == direct.length)
    salted.zip(direct).foreach { case ((k1, s1, n1), (k2, s2, n2)) =>
      assert(k1 == k2 && n1 == n2 && math.abs(s1 - s2) < 1e-6 * math.max(1.0, math.abs(s2)))
    }
  }
}
