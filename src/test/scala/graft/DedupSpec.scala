package graft

import org.apache.spark.sql.functions._

import graft.ingest.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val ev = Tables(spark, sf001, "events").cache()

  test("anti-join dedup removes exactly the overlap (J1/J2)") {
    val lake = ev.filter($"event_id" < 600)
    val incoming = ev.filter($"event_id" >= 400)
    val fresh = Dedup.antiJoinNew(incoming, lake, Seq("user_id", "event_id"))
    assert(fresh.count() == ev.filter($"event_id" >= 600).count())
    // idempotence: dedup of already-deduped input is a no-op
    assert(Dedup.antiJoinNew(fresh, lake, Seq("user_id", "event_id")).count() == fresh.count())
  }

  test("content dedup is idempotent and survivor-per-hash (A6/A7)") {
    val doubled = ev.unionByName(ev) // every row duplicated
    val once = Dedup.dedupByContent(doubled, exclude = _ => false)
    assert(once.count() == ev.dropDuplicates().count())
    assert(Dedup.dedupByContent(once, exclude = _ => false).count() == once.count())
  }

  test("keep-first dedup picks min-order survivor deterministically") {
    val deduped = Dedup.dedupKeepFirst(
      ev.select("event_type", "event_id"), Seq($"event_type"), $"event_id")
    val expect = ev.groupBy("event_type").agg(min("event_id").as("event_id"))
    assert(deduped.join(expect, Seq("event_type", "event_id")).count() == expect.count())
  }

  test("bloom-prefiltered anti-join equals the plain anti-join for any overlap shape") {
    import spark.implicits._
    val ev = Tables(spark, sf001, "events").select($"event_id", $"event_type")
    // three overlap regimes: disjoint, partial, full containment
    val regimes = Seq(
      (ev.filter($"event_id" < 300), ev.filter($"event_id" >= 300)),  // disjoint
      (ev.filter($"event_id" < 600), ev.filter($"event_id" >= 300)),  // partial
      (ev, ev.filter($"event_id" >= 300)))                            // incoming ⊆ existing
    regimes.foreach { case (existing, incoming) =>
      val plain = Dedup.antiJoinNew(incoming, existing, Seq("event_id"))
        .select($"event_id").as[Long].collect().sorted.toSeq
      val bloom = Dedup.antiJoinNewBloom(incoming, existing, "event_id",
          expectedItems = 2000L, fpp = 0.05)
        .select($"event_id").as[Long].collect().sorted.toSeq
      assert(bloom === plain)
    }
  }

  test("bloom-prefiltered anti-join keeps null-key rows, exactly like the plain anti-join") {
    import spark.implicits._
    // null probe → BloomFilterMightContain is NULL; without the coalesce
    // both branches would drop the row while the plain anti-join keeps it
    val incoming = Seq(Some(1L), Some(2L), None, None).toDF("event_id")
    val existing = Seq(1L, 3L).toDF("event_id")
    val plain = Dedup.antiJoinNew(incoming, existing, Seq("event_id"))
      .select($"event_id").as[Option[Long]].collect().sortBy(_.getOrElse(Long.MinValue)).toSeq
    val bloom = Dedup.antiJoinNewBloom(incoming, existing, "event_id",
        expectedItems = 10L, fpp = 0.01)
      .select($"event_id").as[Option[Long]].collect().sortBy(_.getOrElse(Long.MinValue)).toSeq
    assert(plain === Seq(None, None, Some(2L)))
    assert(bloom === plain)
  }
}
