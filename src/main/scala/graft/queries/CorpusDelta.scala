package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Dev tool (VERDICT r12 Next #1): ONE corpus-delta probe for the
  * floor-drift cohort — the driver regenerates /root/testdata every
  * round and the lanes whose cost tracks duplicate/pair/candidate
  * counts (q_graph_jaccard, q_dedup_hamming_multiprobe, q_sample_dsir,
  * q_sim_ivfpq, q_dedup_incremental) read as "regressed" whenever the
  * generated duplicate structure moves. This prints the structural
  * counts those costs track, so a floor re-pin can record the data
  * delta instead of chasing plans lane by lane.
  * `runMain graft.queries.CorpusDelta <sfDir>`.
  *
  * Sections: exact-dup text structure, MinHash band-bucket occupancy
  * (the LSH ladder's candidate volume), Hamming signature collapse,
  * co-supply graph size + wedge count (q_graph_jaccard's join volume,
  * stage-timed), IVF seed-cell occupancy (q_sim_ivfpq's list sizes).
  */
object CorpusDelta {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.SparkEntry.session(32, logLevel = "ERROR")
    graft.functions.VectorFunctions.register(spark)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[delta] $label%-34s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // --- documents: exact-duplicate structure ---
    val docs = Tables.documents(spark, sfDir).persist(lvl)
    val nDocs = docs.count()
    val dupStats = docs.groupBy(col("text")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("distinct_texts"),
        sum(expr("c * (c - 1) / 2")).as("exact_dup_pairs"),
        max(col("c")).as("max_group")).collect()(0)
    println(s"[delta] docs=$nDocs distinctTexts=${dupStats.get(0)} " +
      s"exactDupPairs=${dupStats.get(1)} maxGroup=${dupStats.get(2)}")

    // --- MinHash band buckets (LSH ladder candidate volume) ---
    val w = docs.select(col("doc_id"),
      expr(s"array_distinct(${Tokenize.spark})").as("ws"))
    val bk = Dedup.minhashBands(w)
      .groupBy(col("bk")).agg(count(lit(1)).as("c"))
    val bstats = t("minhash band histogram")(bk.agg(
      count(lit(1)).as("buckets"),
      sum(when(col("c").between(2, 20), expr("c * (c - 1) / 2"))).as("capped_pairs"),
      count(when(col("c") > 20, 1)).as("hot_buckets"),
      max(col("c")).as("max_bucket")).collect()(0))
    println(s"[delta] bandBuckets=${bstats.get(0)} cappedPairs=${bstats.get(1)} " +
      s"hotBuckets=${bstats.get(2)} maxBucket=${bstats.get(3)}")

    // --- Hamming signature collapse (multiprobe lane cost driver) ---
    val h = docs.withColumn("mds", expr(Dedup.md5WordsSparkSql))
      .select(col("doc_id"), col("lang"), col("source"),
        expr(Dedup.simhashSparkSql).as("sh"))
    val hstats = t("hamming sig collapse")(
      h.groupBy(col("lang"), col("source"), col("sh")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("distinct_sigs"),
          sum(expr("c * (c - 1) / 2")).as("clique_pairs"),
          max(col("c")).as("max_clique")).collect()(0))
    println(s"[delta] distinctSigs=${hstats.get(0)} cliquePairs=${hstats.get(1)} " +
      s"maxClique=${hstats.get(2)}")

    // --- q_dataset_clean_incr delta-pair structure (VERDICT r13 #4):
    // the incr lane's cost tracks the banded candidate volume its
    // quality survivors generate — old×old (day-0 components) and the
    // nightly delta (pairs touching a new doc), plus the verified-pair
    // counts feeding the contracted merge loop.
    val qk = TextAnalysis.qualityScoredFrozen(spark, sfDir)
      .filter(col("score") >= 0.5).select(col("doc_id"))
    val aqW = docs.join(qk, Seq("doc_id"))
      .select(col("doc_id"), expr(s"array_distinct(${Tokenize.spark})").as("ws"))
      .persist(lvl)
    val nQ = t("quality survivors (frozen scorer)")(aqW.count())
    val ibands = Dedup.minhashBands(aqW).persist(lvl)
    t("survivor band build")(ibands.count())
    val jacc = Dedup.jaccardKeepSql
    def vcount(cand: org.apache.spark.sql.DataFrame): Long = cand
      .join(aqW.select(col("doc_id").as("d1"), col("ws").as("w1")), Seq("d1"))
      .join(aqW.select(col("doc_id").as("d2"), col("ws").as("w2")), Seq("d2"))
      .filter(expr(jacc)).count()
    val ob = ibands.filter(col("doc_id") % 10 =!= 0)
    val osized = ob.groupBy(col("bk")).count()
      .filter(col("count").between(2, 20)).select(col("bk"))
    val ocand = ob.select(col("doc_id").as("d1"), col("bk"))
      .join(ob.select(col("doc_id").as("d2"), col("bk").as("bk2")),
        col("bk") === col("bk2") && col("d1") < col("d2"))
      .join(osized, Seq("bk"), "left_semi")
      .select(col("d1"), col("d2")).distinct().persist(lvl)
    val nOc = t("old candidate pairs")(ocand.count())
    val nOv = t("old verified pairs")(vcount(ocand))
    val fsized = ibands.groupBy(col("bk")).count()
      .filter(col("count").between(2, 20)).select(col("bk"))
    val icand = ibands.select(col("doc_id").as("d1"), col("bk"))
      .join(ibands.select(col("doc_id").as("d2"), col("bk").as("bk2")),
        col("bk") === col("bk2") && col("d1") < col("d2")
          && (col("d1") % 10 === 0 || col("d2") % 10 === 0))
      .join(fsized, Seq("bk"), "left_semi")
      .select(col("d1"), col("d2")).distinct().persist(lvl)
    val nIc = t("delta candidate pairs")(icand.count())
    val nIv = t("delta verified pairs")(vcount(icand))
    println(s"[delta] incrSurvivors=$nQ oldCand=$nOc oldVerified=$nOv " +
      s"deltaCand=$nIc deltaVerified=$nIv")
    ocand.unpersist(); icand.unpersist(); ibands.unpersist(); aqW.unpersist()
    docs.unpersist()

    // --- co-supply graph (q_graph_jaccard), stage-timed ---
    val sn = Tables.lineitem(spark, sfDir)
      .join(Tables.supplier(spark, sfDir), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey").as("ok"), col("s_nationkey").as("n")).distinct()
      .persist(lvl)
    val nSn = t("sn distinct (lineitem pass)")(sn.count())
    val fan = sn.groupBy(col("ok")).agg(count(lit(1)).as("k"))
      .agg(max(col("k")).as("mx"), avg(col("k")).as("av"),
        sum(expr("k * (k - 1) / 2")).as("order_pairs")).collect()(0)
    println(s"[delta] snRows=$nSn maxNationsPerOrder=${fan.get(0)} " +
      s"avg=${fan.get(1)} orderPairFanout=${fan.get(2)}")
    val e = sn.as("a").join(sn.withColumnRenamed("n", "n2").as("b"),
        col("a.ok") === col("b.ok") && col("a.n") < col("b.n2"))
      .select(col("a.n").as("u"), col("n2").as("v")).distinct()
      .persist(lvl)
    val nE = t("edge self-join + distinct")(e.count())
    val adj = e.union(e.select(col("v"), col("u")))
    val wedges = t("wedge join")(adj.select(col("u").as("a"), col("v").as("nb"))
      .join(adj.select(col("u").as("b"), col("v").as("nb2")),
        col("nb") === col("nb2") && col("a") < col("b")).count())
    println(s"[delta] edges=$nE wedges=$wedges")
    sn.unpersist(); e.unpersist()

    // --- IVF seed-cell occupancy (q_sim_ivfpq list sizes) ---
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.embeddings(spark, sfDir).persist(lvl)
    val nV = emb.count()
    val c = emb.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos_sim").desc, col("cid"))
    val occ = t("ivf seed assignment")(emb.join(broadcast(c))
      .withColumn("cos_sim", expr("cosine_sim(ce, embedding)"))
      .withColumn("rk", row_number().over(wA)).filter(col("rk") === 1)
      .groupBy(col("cid")).count().orderBy(col("count").desc)
      .collect().map(_.getLong(1)))
    println(s"[delta] vectors=$nV ivfSeedOccupancy=${occ.mkString(",")}")
    emb.unpersist()
    spark.stop()
  }
}
