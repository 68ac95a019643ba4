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
}
