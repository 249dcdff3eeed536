package graft

import org.apache.spark.sql.functions._
import graft.functions.{VectorFunctions, WeightedMean}
import graft.multimodal.{Codecs, Multimodal}
import graft.pipeline.Retry

/** Unit specs for the custom extension points and engine utilities. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("CosineSimilarity: known values, both eval paths") {
    VectorFunctions.register(spark)
    val df = Seq(
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(1f, 2f, 3f), Array(-1f, -2f, -3f)))
      .toDF("a", "b")
    val got = df.selectExpr("cosine_sim(a, b)").as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
    assert(math.abs(got(2) + 1.0) < 1e-12)
    // interpreted path (wholestage off) must agree bit-for-bit
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.selectExpr("cosine_sim(a, b)").as[Double].collect()
      assert(interp.toSeq == got.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("CosineSimilarity: zero vector yields null, nulls propagate") {
    VectorFunctions.register(spark)
    val df = Seq(
      (Some(Array(0f, 0f)), Some(Array(1f, 1f))),
      (None: Option[Array[Float]], Some(Array(1f, 1f))))
      .toDF("a", "b")
    val got = df.selectExpr("cosine_sim(a, b)").collect()
    assert(got.forall(_.isNullAt(0)))
  }

  test("WeightedMean UDAF is partition-order invariant") {
    val wmean = udaf(WeightedMean)
    val data = (1 to 1000).map(i => (i % 3, i.toLong * 100, (i % 7 + 1).toLong * 100))
    def run(parts: Int): Map[Int, Double] =
      data.toDF("g", "pq", "q").repartition(parts)
        .groupBy(col("g")).agg(wmean(col("pq"), col("q")).as("wm"))
        .as[(Int, Double)].collect().toMap
    assert(run(1) == run(7) && run(7) == run(32))
  }

  test("approx_percentile stays close to the exact percentile") {
    val df = spark.read.parquet(sf() + "/lineitem.parquet")
    val row = df.agg(
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx"),
      expr("percentile(l_extendedprice, 0.5)").as("exact")).head()
    val (approx, exact) = (row.getDouble(0), row.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("approx_count_distinct stays within the configured error bound") {
    val li = Tables.lineitem(spark, sf())
    val row = li.agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
      countDistinct(col("l_partkey")).as("exact")).head()
    val (approx, exact) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    assert(math.abs(approx - exact) / exact < 0.1)
  }

  test("dropDuplicates keeps exactly one row per key, values from input") {
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
    val got = df.dropDuplicates("k").as[(Int, String)].collect().toMap
    assert(got.keySet == Set(1, 2))
    assert(Set("a", "b").contains(got(1)) && got(2) == "c")
  }

  test("multimodal featurizer: frame sampling and checksums") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sf()))
      .collect()
    assert(feats.nonEmpty)
    feats.foreach { f =>
      assert(f.frame_checksums.length == f.n_frames)
      // every container with frames carries at least its header bytes
      assert(f.n_frames == 0 || f.n_bytes > f.n_frames)
      assert(f.checksum.length == 32)
    }
  }

  test("md5hex matches the reference digest") {
    assert(Codecs.md5hex("abc".getBytes) == "900150983cd24fb0d6963f7d28e17f72")
  }

  test("retry: recovers from transient failures, rethrows after budget") {
    var n = 0
    val got = Retry.withBackoff(attempts = 5, baseMillis = 1) {
      n += 1; if (n < 3) throw new RuntimeException("transient"); n
    }
    assert(got == 3)
    var m = 0
    intercept[RuntimeException] {
      Retry.withBackoff(attempts = 3, baseMillis = 1) {
        m += 1; throw new RuntimeException("permanent")
      }
    }
    assert(m == 3)
  }

  test("temp-registered vector functions reject wrong arity cleanly") {
    VectorFunctions.register(spark)
    val df = Seq(Array(1f, 2f)).toDF("a")
    for (call <- Seq("cosine_sim(a)", "l2_dist_sq(a)", "ngrams_3(a, a)")) {
      val e = intercept[Exception] { df.selectExpr(call).collect() }
      assert(e.getMessage.contains("argument"), s"$call: ${e.getMessage}")
    }
  }

  test("L2DistanceSq: known values, float query vs double centroid") {
    VectorFunctions.register(spark)
    val df = Seq((Array(1f, 2f, 3f), Array(1.0, 0.0, 3.0))).toDF("a", "b")
    val got = df.selectExpr("l2_dist_sq(a, b)").as[Double].head()
    assert(got == 4.0)
  }

  test("NGramGenerator: positions, normalization, short/null input") {
    VectorFunctions.register(spark)
    val df = Seq(Some("The  quick Brown fox"), Some("a b"), None)
      .toDF("text")
    val got = df.selectExpr("ngrams_3(text)")
      .as[(Int, String)].collect().toSeq
    assert(got == Seq((0, "the quick brown"), (1, "quick brown fox")))
  }

  test("entry smoke: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.size == SparkEntry.allDefs.size, "duplicate query names")
  }

  // --- r15 (ADVICE r14): pin the native expressions against the exact
  // HOF SQL forms they replaced, on randomized + edge inputs -----------

  private def randWordSets(seed: Int, n: Int): Seq[Seq[String]] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val k = rnd.nextInt(12) // includes empty sets
      (1 to k).map(_ => s"w${rnd.nextInt(40)}").distinct
    }
  }

  test("minhash8 equals the old HOF form, incl. the empty set") {
    VectorFunctions.register(spark)
    val df = randWordSets(seed = 7, n = 60).toDF("ws")
    val hof =
      """transform(sequence(0, 7),
        |  s -> array_min(transform(ws,
        |         x -> md5(concat(CAST(s AS STRING), '|', x)))))""".stripMargin
    val rows = df.selectExpr(s"minhash8(ws) AS a", s"$hof AS b")
      .as[(Seq[String], Seq[String])].collect()
    rows.foreach { case (a, b) => assert(a == b) }
    // empty input: 8 nulls, exactly array_min over an empty transform
    val empty = rows.map(_._1).find(_.forall(_ == null))
    assert(empty.exists(_.length == 8))
  }

  test("simhash16 equals the old per-bit HOF fold, incl. the empty set") {
    VectorFunctions.register(spark)
    val df = randWordSets(seed = 11, n = 60).toDF("ws")
      .selectExpr("transform(ws, x -> md5(x)) AS mds")
    val hof =
      """array_join(transform(sequence(0, 15),
        |  j -> CASE WHEN aggregate(mds,
        |         0, (a, m) -> a + (CASE WHEN substring(m, j+1, 1) IN ('8','9','a','b','c','d','e','f')
        |                           THEN 1 ELSE -1 END)) > 0
        |       THEN '1' ELSE '0' END), '')""".stripMargin
    val rows = df.selectExpr("simhash16(mds) AS a", s"$hof AS b")
      .as[(String, String)].collect()
    rows.foreach { case (a, b) => assert(a == b) }
    assert(rows.exists(_._1 == "0" * 16)) // the empty set
  }

  test("simhash16 rejects non-md5-shaped input loudly") {
    VectorFunctions.register(spark)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val e = intercept[Exception] {
      spark.sql("SELECT simhash16(array('short'))").collect()
    }
    assert(messages(e).exists(_.contains("md5 hex")),
      s"expected md5-hex guard, got: ${messages(e).mkString(" | ")}")
  }

  test("l2_dist_sq_at equals the old aggregate fold on float and double sides") {
    VectorFunctions.register(spark)
    val rnd = new scala.util.Random(13)
    val dfF = (1 to 40).map { _ =>
      (Array.fill(16)(rnd.nextFloat() * 4 - 2),
        Array.fill(16)(rnd.nextDouble() * 4 - 2))
    }.toDF("a", "b")
    for (off <- Seq(0, 8); len = 8) {
      val hof =
        s"""aggregate(sequence(1, $len), 0D,
           |  (acc, i) -> acc + (CAST(element_at(a, $off+i) AS DOUBLE) - CAST(element_at(b, $off+i) AS DOUBLE))
           |                  * (CAST(element_at(a, $off+i) AS DOUBLE) - CAST(element_at(b, $off+i) AS DOUBLE)))""".stripMargin
      val rows = dfF.selectExpr(s"l2_dist_sq_at(a, b, $off, $len) AS x", s"$hof AS y")
        .as[(Double, Double)].collect()
      // bit-identical: same sequential element-order accumulation
      rows.foreach { case (x, y) => assert(x == y, s"off=$off") }
    }
  }

  test("inter_size equals size(array_intersect) on distinct arrays") {
    VectorFunctions.register(spark)
    val rnd = new scala.util.Random(17)
    val df = (1 to 80).map { _ =>
      def arr() = (1 to rnd.nextInt(15)).map(_ => s"w${rnd.nextInt(25)}").distinct
      (arr(), arr()) // includes empty sides
    }.toDF("w1", "w2")
    val rows = df.selectExpr(
      "inter_size(w1, w2) AS a", "size(array_intersect(w1, w2)) AS b")
      .as[(Int, Int)].collect()
    rows.foreach { case (a, b) => assert(a == b) }
    assert(rows.exists(_._1 == 0) && rows.exists(_._1 > 0))
  }

  // Runs `exprs` over a one-row non-literal input (no constant folding,
  // no local-relation shortcut), with whole-stage codegen on and off.
  private def bothPaths[A](exprs: String*)(read: org.apache.spark.sql.DataFrame => A): Seq[A] =
    Seq("true", "false").map { ws =>
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      try read(spark.range(1).selectExpr(exprs: _*))
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }

  test("inter_size counts a value repeated in the larger array once") {
    VectorFunctions.register(spark)
    val a = "array(concat('a', CAST(id AS STRING)), 'b')"
    val b = "array(concat('a', CAST(id AS STRING)), 'a0', 'b', 'b', 'c')"
    val got = bothPaths(s"inter_size($a, $b) AS x", s"size(array_intersect($a, $b)) AS y")(
      _.as[(Int, Int)].head())
    got.foreach { case (x, y) => assert(x == y && y == 2, s"inter_size $x vs $y") }
    // interpreted path: the local-relation rows are evaluated without codegen
    val rows = Seq((Seq("a", "b"), Seq("a", "a", "b", "b", "c")), (Seq("a", "a"), Seq("a", "b")))
      .toDF("w1", "w2")
      .selectExpr("inter_size(w1, w2) AS x", "size(array_intersect(w1, w2)) AS y")
      .as[(Int, Int)].collect()
    rows.foreach { case (x, y) => assert(x == y, s"inter_size $x vs $y") }
  }

  test("simhash16 rejects a null element loudly on both eval paths") {
    VectorFunctions.register(spark)
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val withNull = "simhash16(array(md5(CAST(id AS STRING)), IF(id >= 0, NULL, md5('x'))))"
    bothPaths(withNull) { df =>
      val e = intercept[Exception](df.collect())
      assert(messages(e).exists(_.contains("md5 hex")),
        s"expected md5-hex guard, got: ${messages(e).mkString(" | ")}")
    }
    val interp = intercept[IllegalArgumentException] {
      graft.functions.SimHash16(org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(null), org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    }
    assert(interp.getMessage.contains("md5 hex"))
  }

  test("register fills in every missing name, not only when the last is absent") {
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    def has(n: String) = reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n))
    // a session that already holds only some of the names, the last included
    VectorFunctions.specs.zipWithIndex.filter(_._2 % 2 == 1).foreach { case ((n, _, b), _) =>
      reg.createOrReplaceTempFunction(n, b, "built-in")
    }
    assert(has(VectorFunctions.specs.last._1))
    assert(!VectorFunctions.specs.forall(sp => has(sp._1)))
    VectorFunctions.register(fresh)
    VectorFunctions.specs.foreach { case (n, _, _) => assert(has(n), s"$n not registered") }
    assert(fresh.sql("SELECT cosine_sim(array(1F, 0F), array(1F, 0F))").head().getDouble(0) == 1.0)
  }

  test("l2_dist_sq/_at reject non-float element types at analysis") {
    VectorFunctions.register(spark)
    val df = Seq((Array(1, 2, 3), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    for (call <- Seq("l2_dist_sq(a, b)", "l2_dist_sq_at(a, b, 0, 3)")) {
      val e = intercept[Exception] { df.selectExpr(call).collect() }
      assert(messages(e).exists(_.contains("array<float>")),
        s"$call: ${messages(e).mkString(" | ")}")
    }
  }
}
