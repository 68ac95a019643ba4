package perfbench

import java.nio.file.{Files, Paths}

/** The benchmark's own test: each workload's output check must reject a
  * wrong output, and the rejection must count as a failed op (and so in
  * `failed` / `failed_frac`). Corruptions are applied between the timed op
  * and its check, through the same round code the timed runs use.
  *
  * Usage: SelfTest --input DIR --work DIR, where DIR/<workload> holds gen.py's
  * output for each workload (tests/test_checks.py makes them small).
  * Prints PASS/FAIL per expectation; exits 1 on any FAIL.
  */
object SelfTest {
  private var bad = 0

  private def expect(name: String, cond: Boolean): Unit = {
    println(s"${if (cond) "PASS" else "FAIL"} $name")
    if (!cond) bad += 1
  }

  /** Readers then list the directory instead of the streaming sink log, so
    * a file added or removed below is what every reader sees. */
  private def dropSinkLog(lake: String): Unit = Harness.deleteTree(s"$lake/_spark_metadata")

  private def firstDataFile(lake: String) = Paths.get(Harness.dataFiles(lake).keys.min)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap

    val d = new Harness.Ctx("drain_oneshot", 1L, 2, s"${a("input")}/drain_oneshot",
      s"${a("work")}/drain_oneshot", None, recordGolden = false)
    d.spark = Harness.session(d, 2, drains = true)
    Harness.DrainOneshot.setup(d)
    def drain(label: String, ok: Boolean)(corrupt: String => Unit): Unit = {
      d.corrupt = corrupt
      Harness.DrainOneshot.round(d, d.ops.size)
      expect(s"drain_oneshot, $label: op ${if (ok) "passes" else "fails"}", d.ops.last.ok == ok)
    }
    drain("lake as landed", ok = true)(_ => ())
    drain("a landed identity duplicated", ok = false) { lake =>
      dropSinkLog(lake)
      val f = firstDataFile(lake)
      Files.copy(f, f.resolveSibling("dup-" + f.getFileName))
    }
    drain("a message dropped", ok = false) { lake =>
      dropSinkLog(lake)
      Files.delete(firstDataFile(lake))
    }
    drain("schema lineage lost", ok = false)(lake => Harness.deleteTree(s"$lake/_schema"))
    expect("drain_oneshot: 3 of 4 ops counted failed", d.ops.count(!_.ok) == 3)

    // resume: base lake and warm-up round in set-up, then rounds 1 (v1) and
    // 2 (payload gains a field: lineage v2) pass, round 3 is corrupted
    val r = new Harness.Ctx("drain_resume", 1L, 2, s"${a("input")}/drain_resume",
      s"${a("work")}/drain_resume", None, recordGolden = false)
    r.spark = d.spark
    Harness.DrainResume.setup(r)
    Harness.DrainResume.round(r, 0)
    Harness.DrainResume.round(r, 1)
    expect("drain_resume, rounds as landed: both pass", r.ops.size == 2 && r.ops.forall(_.ok))
    r.corrupt = { lake =>
      val f = firstDataFile(lake)
      Files.copy(f, f.resolveSibling("dup-" + f.getFileName))
    }
    Harness.DrainResume.round(r, 2)
    expect("drain_resume, a landed identity duplicated: op fails", !r.ops.last.ok)
    d.spark.stop()

    val qm = Harness.QueryMix
    qm.queries = Seq("q1_agg", "q_table_digest")
    val rec = new Harness.Ctx("query_mix", 1L, 2, s"${a("input")}/query_mix",
      s"${a("work")}/query_mix", None, recordGolden = true)
    rec.spark = Harness.session(rec, 2, drains = false)
    qm.setup(rec)
    qm.round(rec, 0)
    val q = new Harness.Ctx("query_mix", 2L, 2, rec.input, rec.work, None, recordGolden = false)
    q.spark = rec.spark
    qm.golden = qm.recorded.toMap
    qm.setup(q)
    qm.round(q, 0)
    expect("query_mix, golden digests: both ops pass", q.ops.forall(_.ok) && q.ops.size == 2)
    qm.golden = qm.recorded.toMap.map { case (k, (rows, h)) =>
      k -> (if (k == "q_table_digest") (rows, h.add(java.math.BigDecimal.ONE)) else (rows, h))
    }
    qm.round(q, 1)
    expect("query_mix, one digest changed: that op fails",
      q.ops.drop(2).map(o => o.name -> o.ok).toMap == Map("q1_agg" -> true, "q_table_digest" -> false))
    qm.golden = qm.recorded.toMap.map { case (k, (rows, h)) => k -> (rows + 1, h) }
    qm.round(q, 2)
    expect("query_mix, row counts changed: both ops fail", q.ops.drop(4).forall(!_.ok))
    expect("query_mix: 3 of 6 ops counted failed", q.ops.count(!_.ok) == 3)
    q.spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
