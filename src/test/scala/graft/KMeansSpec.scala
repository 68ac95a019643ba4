package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{KMeans, VectorFunctions}

/** The [[graft.functions.KMeans]] fit contract, anchored to the
  * oracle-gated single step: iteration 1 of the loop IS q_kmeans_step,
  * the Lloyd objective never increases, and the reported fixpoint really
  * is one (re-assigning converged assignments moves nothing). */
class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private def emb = Tables(spark, sf001, "embeddings")
    .repartition(8, col("vec_id"))
    .select(col("vec_id"), col("label"), VectorFunctions.quantize("embedding").as("q"))

  test("fit(maxIter=1) reproduces the oracle-gated q_kmeans_step centroids") {
    val step = SparkEntry.queries("q_kmeans_step")(spark, sf001)
      .select($"cluster", $"dim", $"centroid", $"n_members")
      .as[(Long, Long, Double, Long)].collect().toSet
    val fit = KMeans.fit(emb, maxIter = 1)
    val got = fit.clusters
      .select(col("cl"), col("cn"), posexplode(col("s")).as(Seq("p", "sx")))
      .select(col("cl"), (col("p") + 1).cast("long"),
        (col("sx").cast("double") / col("cn") / lit(1048576.0)), col("cn"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got === step)
  }

  test("objective is non-increasing across iterations (Lloyd)") {
    val fit = KMeans.fit(emb, maxIter = 6)
    assert(fit.objective.nonEmpty)
    fit.objective.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a * (1 + 1e-12), s"objective rose: $a -> $b")
      case _ =>
    }
  }

  /** Cluster sums under an explicit assignment (vec_id, cl): the fit's
    * own per-label sums, re-derived from its reported assignments. */
  private def clusterSums(emb: DataFrame, asg: DataFrame): DataFrame =
    KMeans.labelSums(emb
      .join(asg.toDF("a_vec_id", "a_cl"), col("vec_id") === col("a_vec_id"))
      .select(col("a_cl").as("label"), col("q")))

  test("the reported fixpoint re-assigns to itself") {
    val fit = KMeans.fit(emb, maxIter = 20)
    assert(fit.converged, s"did not converge in 20 iterations (${fit.iterations} run)")
    val asg = fit.assignments.select(col("vec_id"), col("cl"))
    val cs = clusterSums(emb, asg)
    val again = KMeans.assign(emb, cs)
      .select(col("vec_id").as("r_vec"), col("cl").as("r_cl"))
    val moved = asg.join(again, col("vec_id") === col("r_vec"))
      .filter(col("cl") =!= col("r_cl")).count()
    assert(moved == 0, s"$moved vectors moved after claimed convergence")
  }

  test("empty input yields a well-formed empty Fit, not an NPE") {
    val fit = KMeans.fit(emb.filter(col("vec_id") < 0), maxIter = 3)
    assert(fit.assignments.count() == 0)
    assert(fit.clusters.count() == 0)
    assert(fit.converged) // zero moved vectors IS the fixpoint
    assert(fit.objective.forall(_ == 0.0))
  }

  test("every vector keeps exactly one assignment, every cluster count adds up") {
    val fit = KMeans.fit(emb, maxIter = 3)
    val n = emb.count()
    assert(fit.assignments.count() == n)
    assert(fit.assignments.select("vec_id").distinct().count() == n)
    val fromClusters = fit.clusters.agg(sum(col("cn"))).head().getLong(0)
    assert(fromClusters == n)
  }
}
