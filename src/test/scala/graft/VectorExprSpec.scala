package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.plans.VectorExpressions

/** Equivalence proofs for the round-3 native expressions and the
  * candidate-generation rewrites: each optimized path must produce
  * bit-identical results to the straightforward (slow) formulation it
  * replaced, on real testdata.
  */
class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables(spark, sf001, "documents")

  test("QuantizedDot equals the unrolled a[i]*b[i] chain") {
    val e = Tables(spark, sf001, "embeddings")
      .select($"vec_id", quantize("embedding").as("q"))
    val pairs = e.select($"vec_id".as("a_id"), $"q".as("aq"))
      .crossJoin(e.select($"vec_id".as("b_id"), $"q".as("bq")))
      .filter($"a_id" < $"b_id" && $"b_id" < 40)
    val unrolled = expr((0 until 64).map(i => s"aq[$i]*bq[$i]").mkString(" + "))
    assert(pairs.filter(qdot("aq", "bq") =!= unrolled).count() === 0)
  }

  test("QuantizedDist2 equals the interpreted zip_with aggregate") {
    val e = Tables(spark, sf001, "embeddings")
      .select($"vec_id", quantize("embedding").as("q"))
    val pairs = e.select($"vec_id".as("a_id"), $"q".as("aq"))
      .crossJoin(e.select($"vec_id".as("b_id"), $"q".as("bq")))
      .filter($"a_id" < $"b_id" && $"b_id" < 40)
    val interp = expr("aggregate(zip_with(aq, bq, (x, y) -> (x - y)*(x - y)), " +
      "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    assert(pairs.filter(
      graft.plans.VectorExpressions.qdist2($"aq", $"bq") =!= interp).count() === 0)
    assert(pairs.count() > 0)
  }

  test("MinHashSlots equals the per-slot SQL formula") {
    val sh = docs.limit(50)
      .withColumn("toks", tokens("text"))
      .select($"doc_id", shingles("toks", 3).as("sh"))
      .withColumn("bases", shingleBases("sh"))
    val sqlSig = expr("transform(sequence(1, 16), i -> " +
      "array_min(transform(bases, b -> ((2*i+1)*b + CAST(1000003 AS BIGINT)*i) % 2147483647)))")
    assert(sh.filter(minhashSignature("sh", 16) =!= sqlSig).count() === 0)
  }

  test("SimHash64 equals the per-bit SQL formula") {
    val f = docs.limit(50)
      .withColumn("toks", tokens("text"))
      .withColumn("hs", expr("transform(array_distinct(toks), x -> md5(x))"))
      .withColumn("n", expr("size(array_distinct(toks))"))
    val sqlFp = expr("array_join(transform(sequence(0, 63), b -> " +
      "CASE WHEN 2 * size(filter(hs, m -> " +
      "((instr('0123456789abcdef', substring(m, CAST(b DIV 4 AS INT) + 1, 1)) - 1) " +
      "DIV CAST(pow(2, b % 4) AS INT)) % 2 = 1)) >= n THEN '1' ELSE '0' END), '')")
    assert(f.filter(simhashBits("hs", "n") =!= sqlFp).count() === 0)
  }

  test("prefix-filter Jaccard join finds exactly the brute-force pairs") {
    val sh = docs
      .withColumn("toks", tokens("text"))
      .select($"doc_id", shingles("toks", 3).as("sh"))
    // brute: all pairs, exact jaccard ≥ 0.5
    val a = sh.select($"doc_id".as("a_id"), $"sh".as("sha"))
    val b = sh.select($"doc_id".as("b_id"), $"sh".as("shb"))
    val jac = expr("CAST(size(array_intersect(sha, shb)) AS DOUBLE) / " +
      "(size(sha) + size(shb) - size(array_intersect(sha, shb)))")
    val brute = a.join(b, $"a_id" < $"b_id").filter(jac >= 0.5)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    // prefix-filtered candidates ⊇ brute survivors; verification trims to equal
    val pref = sh.select($"doc_id", explode(expr(
      "slice(array_sort(sh), 1, size(sh) - CAST(ceil(0.5 * size(sh)) AS INT) + 1)")).as("tok"))
    val cand = pref.as("x").join(pref.as("y"),
        col("x.tok") === col("y.tok") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id")).distinct()
    val verifiedPairs = cand.join(a, "a_id").join(b, "b_id").filter(jac >= 0.5)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(verifiedPairs === brute)
    assert(brute.nonEmpty) // the check must actually exercise pairs
  }

  test("simhash half-match blocking finds exactly the brute hamming<=1 pairs") {
    val f = docs
      .withColumn("toks", tokens("text"))
      .withColumn("hs", expr("transform(array_distinct(toks), x -> md5(x))"))
      .withColumn("n", expr("size(array_distinct(toks))"))
      .select($"doc_id", simhashBits("hs", "n").as("fp"))
      .withColumn("hi", expr("CAST(conv(substring(fp, 1, 32), 2, 10) AS BIGINT)"))
      .withColumn("lo", expr("CAST(conv(substring(fp, 33, 32), 2, 10) AS BIGINT)"))
    val a = f.select($"doc_id".as("a_id"), $"fp".as("fpa"), $"hi".as("ha"), $"lo".as("la"))
    val b = f.select($"doc_id".as("b_id"), $"fp".as("fpb"), $"hi".as("hb"), $"lo".as("lb"))
    val bruteHam = expr("size(filter(sequence(1, 64), i -> substring(fpa, i, 1) != substring(fpb, i, 1)))")
    val brute = a.join(b, $"a_id" < $"b_id").filter(bruteHam <= 1)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val blocked = a.join(b, $"ha" === $"hb" && $"a_id" < $"b_id")
      .unionByName(a.join(b, $"la" === $"lb" && $"a_id" < $"b_id"))
      .filter(expr("bit_count(ha ^ hb) + bit_count(la ^ lb)") <= 1)
      .select($"a_id", $"b_id").distinct().as[(Long, Long)].collect().toSet
    assert(blocked === brute)
    assert(brute.nonEmpty)
  }

  test("graft_qdot is registered for SQL via GraftExtensions") {
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT graft_qdot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d").as[Long].head()
    assert(r === 32L)
  }

  test("BroadcastBloomMightContain: codegen and interpreted agree with the filter itself") {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // ground truth: the driver-side filter object
    val bf = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    val inSet = (0L until 500L).map(_ * 7)
    inSet.foreach(bf.putLong)
    val bc = spark.sparkContext.broadcast(bf)
    val probeCol = org.apache.spark.sql.classic.GraftExpressionBridge.column(
      graft.plans.BroadcastBloomMightContain(
        org.apache.spark.sql.classic.GraftExpressionBridge.expression(col("id")), bc))
    val df = spark.range(0, 5000).select(col("id"))
    // codegen path (filter inside whole-stage codegen)
    val got = df.select(col("id"), coalesce(probeCol, lit(false)).as("mc"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (0L until 5000L).foreach { i =>
      assert(got(i) == bf.mightContainLong(i), s"codegen diverged at $i")
    }
    // no false negatives on the inserted set
    inSet.foreach(i => assert(got(i), s"false negative at $i"))
    // interpreted eval agrees (codegen-fallback coverage), null -> null
    val e = graft.plans.BroadcastBloomMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(21L), bc)
    assert(e.eval(null) == bf.mightContainLong(21L))
    val eNull = graft.plans.BroadcastBloomMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(null,
        org.apache.spark.sql.types.LongType), bc)
    assert(eNull.eval(null) == null)
    // the serialized plan must carry the HANDLE, not the filter: a
    // 1000-item filter is ~1.3 KB, so a hex-rendered literal would blow
    // the plan string past this bound the way the old Literal did
    val planStr = df.filter(coalesce(probeCol, lit(false)))
      .queryExecution.executedPlan.toString
    assert(planStr.length < 20000, s"plan string unexpectedly large: ${planStr.length}")
    assert(planStr.contains("graft_bloom_might_contain"), planStr.take(500))
  }

  test("SQL-surface edge cases: length mismatch errors, empty minhash is NULL") {
    graft.plans.GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_qdot(array(1L, 2L, 3L), array(1L))").collect()
    }
    assert(e.getMessage.contains("lengths differ") ||
      Option(e.getCause).exists(_.getMessage.contains("lengths differ")))
    val nullOut = spark.sql("SELECT graft_minhash(array(), 4) IS NULL").as[Boolean].head()
    assert(nullOut)
    // bigint literal k is accepted
    assert(spark.sql("SELECT size(graft_minhash(array(7L), CAST(4 AS BIGINT)))")
      .as[Int].head() === 4)
    // a bigint k outside the int range is rejected, not narrowed (2^32 + 4 → 4 slots)
    val eK = intercept[Exception] {
      spark.sql("SELECT graft_minhash(array(7L), 4294967300)").collect()
    }
    val kMsgs = Iterator.iterate[Throwable](eK)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(kMsgs.exists(m => m != null && m.contains("outside the int range")), eK.getMessage)
  }

  test("SQL-surface hardening: arity, type, and null-element errors are loud and clear") {
    graft.plans.GraftExtensions.register(spark)
    def rootMsg(e: Throwable): String = {
      var c = e; while (c.getCause != null && c.getCause != c) c = c.getCause
      e.getMessage + " | " + c.getMessage
    }
    // wrong arity → named error, not IndexOutOfBounds
    val e1 = intercept[Exception](spark.sql("SELECT graft_qdot(array(1L))").collect())
    assert(rootMsg(e1).contains("2 arguments"), rootMsg(e1))
    val e2 = intercept[Exception](spark.sql("SELECT graft_simhash64(array('a'))").collect())
    assert(rootMsg(e2).contains("2 arguments"), rootMsg(e2))
    // wrong types rejected at analysis
    val e3 = intercept[Exception](
      spark.sql("SELECT graft_qdot(array('x'), array('y'))").collect())
    assert(rootMsg(e3).toLowerCase.contains("array<bigint>"), rootMsg(e3))
    // null elements error instead of reading garbage through getLong
    val e4 = intercept[Exception](
      spark.sql("SELECT graft_qdot(array(1L, NULL), array(1L, 2L))").collect())
    assert(rootMsg(e4).contains("null element"), rootMsg(e4))
  }

  // ---- r18: the native exact nearest-cluster argmin must be
  // bit-identical to the interpreted array_sort fragment it replaced
  // (same struct, same decimal(38,0) d2, same rational order + ties).
  test("NearestClusters equals the interpreted exact-comparator fragment") {
    val e = Tables(spark, sf001, "embeddings")
      .select($"vec_id", $"label", quantize("embedding").as("q"))
    val cs = graft.functions.KMeans.labelSums(e) // cl carries the int32 label type
    val withCands = e.crossJoin(broadcast(graft.functions.KMeans.candidatesRow(cs)))
    val interp2 = expr(s"slice(${graft.functions.KMeans.nearestSorted()}, 1, 2)")
    assert(withCands.filter(
      !(graft.functions.KMeans.nearestTop(2) <=> interp2)).count() === 0)
    val interp1 = expr(s"slice(${graft.functions.KMeans.nearestSorted()}, 1, 1)")
    assert(withCands.filter(
      !(graft.functions.KMeans.nearestTop(1) <=> interp1)).count() === 0)
    assert(withCands.count() > 0)
    // bigint cl (the Lloyd loop's literal-descriptor shape) as well
    val csL = cs.select($"cl".cast("long").as("cl"), $"s", $"cn")
    val withCandsL = e.crossJoin(broadcast(graft.functions.KMeans.candidatesRow(csL)))
    assert(withCandsL.filter(
      !(graft.functions.KMeans.nearestTop(2) <=> interp2)).count() === 0)
  }

  // ---- r18: native quantization must be bit-identical to the
  // interpreted transform fragment it replaced, on real embeddings and
  // on null/edge shapes.
  test("QuantizeVector equals the interpreted transform fragment") {
    val e = Tables(spark, sf001, "embeddings")
    val interp = expr(
      "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))")
    assert(e.filter(!(quantize("embedding") <=> interp)).count() === 0)
    assert(e.count() > 0)
    // null array → null; null elements stay null; doubles accepted
    val edge = spark.sql(
      "SELECT CAST(NULL AS ARRAY<FLOAT>) a UNION ALL SELECT array(CAST(0.5 AS FLOAT), NULL) " +
        "UNION ALL SELECT array(CAST(-0.25 AS FLOAT), CAST(0.0 AS FLOAT))")
    val gotEdge = edge.select(graft.plans.VectorExpressions.quantize(col("a"), 1048576.0).as("q"),
      expr("transform(a, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))").as("i"))
    assert(gotEdge.filter(!(col("q") <=> col("i"))).count() === 0)
  }

  // ---- r19: the native minhash agreement count must be bit-identical to
  // the zip_with/filter/size fragment it replaced, including short/null
  // array shapes the sites can never produce but the expression allows.
  test("AgreeCount equals the interpreted zip_with/filter/size fragment") {
    val sh = docs.limit(80)
      .withColumn("toks", tokens("text"))
      .select($"doc_id", shingles("toks", 3).as("sh"))
      .withColumn("mh", minhashSignature("sh", 16))
    val pairs = sh.select($"doc_id".as("a_id"), $"mh".as("ma"))
      .crossJoin(sh.select($"doc_id".as("b_id"), $"mh".as("mb")))
      .filter($"a_id" < $"b_id")
    val interp = expr("size(filter(zip_with(ma, mb, (x, y) -> x = y), v -> v))")
    assert(pairs.filter(
      !(VectorExpressions.agree($"ma", $"mb") <=> interp)).count() === 0)
    assert(pairs.count() > 0)
    // edge shapes: unequal lengths (zip_with pads with null = dropped),
    // null elements (never equal), null arrays (NULL out)
    val edge = spark.sql(
      "SELECT array(1L, 2L, 3L) a, array(1L, 9L) b " +
        "UNION ALL SELECT array(1L, NULL, 3L), array(1L, NULL, 3L) " +
        "UNION ALL SELECT CAST(NULL AS ARRAY<BIGINT>), array(1L)")
    val gotEdge = edge.select(VectorExpressions.agree($"a", $"b").as("n"),
      expr("size(filter(zip_with(a, b, (x, y) -> x = y), v -> v))").as("i"))
    assert(gotEdge.filter(!($"n" <=> $"i")).count() === 0)
  }

  // ---- r19: the native SQ8 audit pipeline (maxabs, code, residual
  // square-sum, saturation count) and the elementwise difference must be
  // bit-identical to the interpreted lambdas they replaced, on the real
  // quantized embeddings.
  test("MaxAbs, Sq8Code, Sse127, CountAbsEq and QSubVector equal their fragments") {
    val e = Tables(spark, sf001, "embeddings")
      .select($"vec_id", quantize("embedding").as("q"))
      .withColumn("s", expr("array_max(transform(q, x -> abs(x)))"))
      .filter($"s" > 0)
      .withColumn("code", expr("transform(q, x -> (2*127*(x + s) + s) DIV (2*s) - 127)"))
    assert(e.filter(
      !(VectorExpressions.maxAbs($"q") <=> $"s")).count() === 0)
    assert(e.filter(
      !(VectorExpressions.sq8code($"q", $"s") <=> $"code")).count() === 0)
    val interpSse = expr(
      "aggregate(zip_with(q, code, (x, c) -> (127*x - c*s)*(127*x - c*s)), " +
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    assert(e.filter(
      !(VectorExpressions.sse127($"q", $"code", $"s") <=> interpSse)).count() === 0)
    val interpSat = expr("size(filter(code, c -> abs(c) = 127))")
    assert(e.filter(
      !(VectorExpressions.countAbsEq($"code", 127L) <=> interpSat)).count() === 0)
    val interpSub = expr("zip_with(q, code, (a, b) -> a - b)")
    assert(e.filter(
      !(VectorExpressions.qsub($"q", $"code") <=> interpSub)).count() === 0)
    assert(e.count() > 0)
    // null-element / empty edges mirror the fragments
    val edge = spark.sql(
      "SELECT array(1L, NULL, -9L) a UNION ALL SELECT CAST(array() AS ARRAY<BIGINT>) " +
        "UNION ALL SELECT CAST(NULL AS ARRAY<BIGINT>)")
    val gotEdge = edge.select(
      VectorExpressions.maxAbs($"a").as("m"),
      expr("array_max(transform(a, x -> abs(x)))").as("mi"),
      VectorExpressions.countAbsEq($"a", 9L).as("c"),
      expr("size(filter(a, x -> abs(x) = 9))").as("ci"))
    assert(gotEdge.filter(!($"m" <=> $"mi") || !($"c" <=> $"ci")).count() === 0)
  }

  // ---- r19: the native gram hasher must produce exactly the SET of
  // 60-bit md5-prefix values the shingle+transform chain produced (its
  // output is sorted unique; the old chain was first-occurrence-ordered
  // string-distinct — identical value sets whenever md5-60 is injective
  // on the grams, which the sort makes directly checkable).
  test("GramHash64 equals the shingle + md5-prefix transform chain") {
    val f = docs
      .withColumn("toks", tokens("text"))
      .withColumn("sh", shingles("toks", 5))
      .withColumn("old", expr(
        s"array_sort(transform(sh, x -> ${md5Prefix64Sql("x")}))"))
      .withColumn("nw", VectorExpressions.gramHash64($"toks", 5))
    assert(f.filter(!($"old" <=> $"nw")).count() === 0)
    assert(f.count() > 0)
    // short-array clamp: a doc with fewer than n tokens yields its single
    // whole-array gram, exactly like sequence(1, greatest(size-n+1, 1))
    val edge = spark.sql("SELECT array('a', 'b') toks UNION ALL SELECT array('a')")
      .withColumn("sh", shingles("toks", 5))
      .withColumn("old", expr(s"array_sort(transform(sh, x -> ${md5Prefix64Sql("x")}))"))
      .withColumn("nw", VectorExpressions.gramHash64($"toks", 5))
    assert(edge.filter(!($"old" <=> $"nw")).count() === 0)
  }

  // ---- r19: the native basket pair expansion must emit exactly the
  // pair sequence of the nested transform+slice chain it replaced.
  test("SortedPairs equals the nested transform/slice pair expansion") {
    val baskets = Tables(spark, sf001, "lineitem")
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("parts"))
    val interp = expr(
      "flatten(transform(parts, (x, i) -> " +
        "transform(slice(parts, i + 2, size(parts)), y -> struct(x AS pa, y AS pb))))")
    assert(baskets.filter(
      !(VectorExpressions.sortedPairs($"parts") <=> interp)).count() === 0)
    assert(baskets.count() > 0)
    // singleton and empty baskets yield no pairs
    val edge = Seq(Seq(7L), Seq.empty[Long], Seq(1L, 2L, 3L)).toDF("parts")
    val gotEdge = edge.select(VectorExpressions.sortedPairs($"parts").as("n"),
      expr("flatten(transform(parts, (x, i) -> " +
        "transform(slice(parts, i + 2, size(parts)), y -> struct(x AS pa, y AS pb))))").as("i"))
    assert(gotEdge.filter(!($"n" <=> $"i")).count() === 0)
  }

  // ---- r19: the native shingle/base-hash/marker-count passes must be
  // bit-identical to the interpreted fragments they replaced (same
  // strings, same order, same clamps) — these sit on every minhash/
  // dedup/language corpus pass.
  test("ShinglesExpr, Md5Base32 and MarkerCount equal their fragments") {
    val f = docs
      .withColumn("toks", tokens("text"))
      .withColumn("shI", expr(
        "array_distinct(transform(sequence(1, greatest(size(toks)-2, 1)), " +
          "i -> array_join(slice(toks, i, 3), ' ')))"))
      .withColumn("shN", VectorExpressions.shingles($"toks", 3))
    assert(f.filter(!($"shI" <=> $"shN")).count() === 0)
    assert(f.count() > 0)
    val basesI = expr(
      "transform(shI, x -> CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT))")
    assert(f.filter(!(VectorExpressions.md5Base32($"shI") <=> basesI)).count() === 0)
    val words = Seq("the", "a", "of", "don't")
    val mcI = expr("size(filter(toks, x -> x IN ('the', 'a', 'of', 'don\\'t')))")
    assert(f.filter(
      !(VectorExpressions.markerCount($"toks", words) <=> mcI)).count() === 0)
    // short-array clamp: < n tokens yields the one whole-array gram
    val edge = spark.sql("SELECT array('a', 'b') toks UNION ALL SELECT array('x')")
      .withColumn("shI", expr(
        "array_distinct(transform(sequence(1, greatest(size(toks)-2, 1)), " +
          "i -> array_join(slice(toks, i, 3), ' ')))"))
    assert(edge.filter(
      !(VectorExpressions.shingles($"toks", 3) <=> $"shI")).count() === 0)
  }

  test("LatticeD2 equals the interpreted decimal zip_with aggregate") {
    val e = Tables(spark, sf001, "embeddings")
      .select($"vec_id", $"label", quantize("embedding").as("q"))
    val cs = graft.functions.KMeans.labelSums(e)
    val d = e.join(broadcast(cs), $"label" === $"cl")
    val interp = expr(
      "aggregate(zip_with(q, s, (x, y) -> " +
        "CAST(cn*x - y AS DECIMAL(38,0)) * (cn*x - y)), " +
        "CAST(0 AS DECIMAL(38,0)), (acc, v) -> CAST(acc + v AS DECIMAL(38,0)))")
    assert(d.filter(
      !(graft.plans.KMeansExpressions.latticeD2($"q", $"s", $"cn") <=> interp)).count() === 0)
    assert(d.count() > 0)
  }

  // The kernels behind StaticInvoke columns run through generated code by
  // default and through reflective `eval` under NO_CODEGEN; both must
  // match the fragments on the edge shapes (null arrays, null elements,
  // empty and short arrays) and agree with each other. The checkpoint
  // keeps the optimizer from pushing the kernels into the literal rows and
  // constant-folding them (interpreted, while optimizing) in both modes.
  test("StaticInvoke kernels match their fragments under codegen and NO_CODEGEN") {
    // tolerant kernels: null elements and unequal lengths are legal input
    val loose = spark.sql(
      "SELECT array(1L, NULL, -9L) a, array(1L, 2L, -9L) b, array('the', NULL, 'x') t, 9L s " +
        "UNION ALL SELECT CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<BIGINT>), " +
        "CAST(array() AS ARRAY<STRING>), 3L " +
        "UNION ALL SELECT CAST(NULL AS ARRAY<BIGINT>), array(1L), CAST(NULL AS ARRAY<STRING>), 2L " +
        "UNION ALL SELECT array(3L), array(3L, 4L), array('a', 'b'), 2L").localCheckpoint()
    val looseCases = Seq(
      "agree" -> (VectorExpressions.agree($"a", $"b"),
        expr("size(filter(zip_with(a, b, (x, y) -> x = y), v -> v))")),
      "maxAbs" -> (VectorExpressions.maxAbs($"a"), expr("array_max(transform(a, x -> abs(x)))")),
      "countAbsEq" -> (VectorExpressions.countAbsEq($"a", 9L),
        expr("size(filter(a, x -> abs(x) = 9))")),
      "sq8code" -> (VectorExpressions.sq8code($"a", $"s"),
        expr("transform(a, x -> (2*127*(x + s) + s) DIV (2*s) - 127)")),
      "markerCount" -> (VectorExpressions.markerCount($"t", Seq("the", "a")),
        expr("size(filter(t, x -> x IN ('the', 'a')))")),
      // greatest() skips a NULL size, so the shingle fragments need the
      // explicit NULL guard the kernels get from null propagation
      "shingles" -> (VectorExpressions.shingles($"t", 3), expr(
        "if(t IS NULL, NULL, array_distinct(transform(sequence(1, greatest(size(t)-2, 1)), " +
          "i -> array_join(slice(t, i, 3), ' '))))")),
      "gramHash64" -> (VectorExpressions.gramHash64($"t", 5), expr(
        "if(t IS NULL, NULL, array_sort(transform(array_distinct(transform(" +
          "sequence(1, greatest(size(t)-4, 1)), i -> array_join(slice(t, i, 5), ' '))), " +
          s"x -> ${md5Prefix64Sql("x")})))")))
    // strict kernels: equal lengths and no null elements, else they throw
    val strict = spark.sql(
      "SELECT array(1L, -2L, 9L) a, array(4L, 5L, -6L) b, array('x', 'y z') t, 3L s " +
        "UNION ALL SELECT CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<BIGINT>), " +
        "CAST(array() AS ARRAY<STRING>), 1L " +
        "UNION ALL SELECT CAST(NULL AS ARRAY<BIGINT>), array(1L), " +
        "CAST(NULL AS ARRAY<STRING>), CAST(NULL AS BIGINT) " +
        "UNION ALL SELECT array(7L), array(2L), array('a'), 2L").localCheckpoint()
    val strictCases = Seq(
      "qdist2" -> (VectorExpressions.qdist2($"a", $"b"), expr(
        "aggregate(zip_with(a, b, (x, y) -> (x - y)*(x - y)), CAST(0 AS BIGINT), (acc, v) -> acc + v)")),
      "qsub" -> (VectorExpressions.qsub($"a", $"b"), expr("zip_with(a, b, (x, y) -> x - y)")),
      "sse127" -> (VectorExpressions.sse127($"a", $"b", $"s"), expr(
        "aggregate(zip_with(a, b, (x, c) -> (127*x - c*s)*(127*x - c*s)), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)")),
      "md5Base32" -> (VectorExpressions.md5Base32($"t"),
        expr("transform(t, x -> CAST(conv(substring(md5(x), 1, 8), 16, 10) AS BIGINT))")),
      "sortedPairs" -> (VectorExpressions.sortedPairs($"a"), expr(
        "flatten(transform(a, (x, i) -> " +
          "transform(slice(a, i + 2, size(a)), y -> struct(x AS pa, y AS pb))))")),
      "latticeD2" -> (graft.plans.KMeansExpressions.latticeD2($"a", $"b", $"s"), expr(
        "aggregate(zip_with(a, b, (x, y) -> CAST(s*x - y AS DECIMAL(38,0)) * (s*x - y)), " +
          "CAST(0 AS DECIMAL(38,0)), (acc, v) -> CAST(acc + v AS DECIMAL(38,0)))")))
    // pair summaries: a null group, a singleton and one hit pair (no fragment;
    // the two modes must agree and the hit must show)
    val groups = spark.sql(
      "SELECT CAST(NULL AS ARRAY<STRUCT<vec_id: BIGINT, q: ARRAY<BIGINT>, nrm: DOUBLE>>) m " +
        "UNION ALL SELECT array(named_struct('vec_id', 5L, 'q', array(1L, 0L), 'nrm', 1.0D)) " +
        "UNION ALL SELECT array(named_struct('vec_id', 9L, 'q', array(1L, 0L), 'nrm', 1.0D), " +
        "named_struct('vec_id', 4L, 'q', array(1L, 0L), 'nrm', 1.0D))").localCheckpoint()
    val pairs = graft.plans.SemDedupExpressions.pairSummaries($"m", 0.35)

    def run(): Seq[Seq[String]] = {
      def check(df: org.apache.spark.sql.DataFrame,
                cases: Seq[(String, (org.apache.spark.sql.Column, org.apache.spark.sql.Column))]) =
        cases.map { case (name, (nat, frag)) =>
          val got = df.select(nat.as("n"), frag.as("i"))
          assert(got.filter(!($"n" <=> $"i")).count() === 0, name)
          got.select($"n".cast("string")).as[String].collect().map(String.valueOf).toSeq.sorted
        }
      val summaries =
        groups.select(pairs.cast("string")).as[String].collect().map(String.valueOf).toSeq.sorted
      check(loose, looseCases) ++ check(strict, strictCases) :+ summaries
    }

    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val codegen = run()
    val interpreted =
      try {
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        run()
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    assert(interpreted === codegen)
    assert(codegen.last.exists(_.contains("{9, 4, 1}")), codegen.last)
  }
}
