package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for every registered query to a markdown
  * file — the plan-review artifact backing the scale claims in COVERAGE.md
  * (pushdown, pruning, broadcast placement, partial aggregation, codegen
  * spans). Usage: runMain graft.Explain <sfDir> <outFile>. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "EXPLAINS.md"
    val spark = Sessions.builder("local[4]", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# EXPLAINS — formatted physical plans for every query\n\n")
    sb.append(s"Generated by `graft.Explain` over `$sfDir`. What to look for per\n")
    sb.append("plan: `PushedFilters`/`ReadSchema` at scans (pushdown + pruning),\n")
    sb.append("`BroadcastHashJoin` where a side is bounded, `HashAggregate` pairs\n")
    sb.append("(partial before the Exchange), `TakeOrderedAndProject` for top-k,\n")
    sb.append("and narrow chains with no Exchange for per-row pipelines.\n")
    SparkEntry.allEntries.foreach { e =>
      try {
        val plan = SparkEntry.queries(e.name)(spark, sfDir)
          .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        // iterative queries (connected components) nest a persisted
        // InMemoryRelation per round — cap the dump at the informative top
        val lines = plan.linesIterator.toSeq
        val shown =
          if (lines.length <= 400) plan
          else lines.take(400).mkString("", "\n",
            s"\n… [truncated ${lines.length - 400} further lines — iterative lineage repeats]\n")
        sb.append(s"\n## ${e.name}\n\n```\n$shown```\n")
      } catch {
        case ex: Throwable =>
          sb.append(s"\n## ${e.name}\n\nEXPLAIN FAILED: ${ex.getMessage}\n")
      }
      // Ranking-backed builders run eager driver actions even for an
      // explain — drop the checkpoints they pinned before the next query
      spark.catalog.clearCache()
      graft.functions.Checkpoints.releaseAll()
    }
    Files.writeString(Paths.get(out), sb.toString)
    spark.stop()
    println(s"wrote $out")
  }
}
