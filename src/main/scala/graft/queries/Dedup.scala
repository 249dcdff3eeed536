package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions

/** Deduplication operators for a large-scale training-data pipeline:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine.
  *
  * Scale design: every signature is computed per-row with higher-order
  * expressions (no explode of shingles, no shuffle until the final
  * bucket/pair join). LSH candidate generation joins on the band key —
  * a hash-partitioned equi-join — with a bucket-size cap as the skew
  * guard (a degenerate bucket would otherwise go quadratic; real
  * pipelines cap or salt exactly the same way).
  */
object Dedup {

  /** Normalized word list — the shared [[Tokenize]] pair. */
  private val wordsSql = Tokenize.spark
  private val duckWordsSql = Tokenize.duck
  private val duckTrimWordsSql = Tokenize.duckTrim

  /** THE unigram-set MinHash signature (8 seed-salted md5 permutations
    * over a `ws` word-set column) — the single Spark-side definition
    * of the ladder's signature map stage, shared (like [[Tokenize]])
    * by every banded-LSH lane here, the curation DAG, the streaming
    * ingest gate and CorpusDelta, so the band rule cannot silently
    * drift between the batch and streaming twins. */
  // r14: minhash8 is the native expression computing the identical 8
  // salted-md5 minima in ONE pass over ws (no per-seed intermediate
  // arrays, winners-only hex encoding); values are byte-identical.
  private[graft] val minhashSigSql: String = "minhash8(ws)"

  /** THE 4-band × 2-row band-key expansion over a `sg` signature
    * column — the other half of the shared banding rule. */
  private[graft] val minhashBandSql: String =
    """transform(sequence(0, 3),
      |  b -> md5(concat(CAST(b AS STRING), '|', element_at(sg, 2*b+1), '|', element_at(sg, 2*b+2))))""".stripMargin

  /** (doc_id, bk) band-key table of a (doc_id, ws) word-set table —
    * [[minhashSigSql]] + [[minhashBandSql]] composed; one Generate
    * pass, no shuffle. */
  private[graft] def minhashBands(w: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    VectorFunctions.register(w.sparkSession)
    w.select(col("doc_id"), expr(minhashSigSql).as("sg"))
      .select(col("doc_id"), explode(expr(minhashBandSql)).as("bk"))
  }

  /** THE exact word-set Jaccard >= 0.5 verification predicate over
    * ALREADY-DISTINCT word arrays `w1`, `w2` — the r14 optimization of
    * the candidate-verify hot path shared by every banded-LSH lane,
    * the curation DAGs and the streaming dedup gates.
    *
    * Both sides are sets (`array_distinct` upstream), so
    * |union| = size(w1) + size(w2) − |intersect| and the old
    * `size(array_distinct(concat(w1, w2)))` union materialization (an
    * O(|A|+|B|) allocate-and-rehash per candidate, previously
    * evaluated in BOTH the join condition and the output projection)
    * is replaced by integer arithmetic on the one `array_intersect`.
    * The 0.5 threshold becomes the EXACT integer inequality
    * 3·|inter| >= s1 + s2 (j >= 1/2 ⟺ 2·|inter| >= s1+s2−|inter|;
    * the old double division cannot disagree — a rounding flip at the
    * boundary would need |union| ≈ 1e15). The leading size precheck
    * (implied by |inter| <= least(s1, s2)) short-circuits the
    * intersect entirely on size-incompatible candidates.
    *
    * Boundary case both sides EMPTY (ADVICE r14): the old double form
    * gave 0.0/0.0 = NaN >= 0.5 → rejected, while 3·0 >= 0 is true →
    * kept (with jaccardValSql then NaN). Unreachable here: every ws
    * comes from split(), which yields >= 1 element, so s1+s2 >= 2 at
    * every call site — pinned rather than guarded to keep the
    * predicate two comparisons. */
  private[graft] val jaccardKeepSql: String =
    """3 * least(size(w1), size(w2)) >= size(w1) + size(w2)
      |  AND 3 * inter_size(w1, w2) >= size(w1) + size(w2)""".stripMargin

  /** The matching Jaccard VALUE over distinct word arrays — identical
    * double to the old `intersect / distinct(concat)` form (same two
    * integers divided), without materializing the union array.
    * `inter_size` (r15) == `size(array_intersect(w1, w2))` on
    * element-distinct inputs, without allocating the intersect ARRAY
    * per evaluation (the predicate runs in the join filter AND the
    * value projection — two array materializations per surviving
    * candidate before; FunctionsSpec pins the equivalence). */
  private[graft] val jaccardValSql: String =
    """CAST(inter_size(w1, w2) AS DOUBLE)
      |  / CAST(size(w1) + size(w2) - inter_size(w1, w2) AS DOUBLE)""".stripMargin

  /** Exact dedup on a normalized content key: md5 of the normalized
    * text; survivor = lowest doc_id per key. */
  val dedupExact: QueryDef = QueryDef(
    "q_dedup_exact",
    s"""WITH keyed AS (
       |  SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS content_key
       |  FROM documents)
       |SELECT content_key, min(doc_id) AS keep_doc, COUNT(*) AS n_copies
       |FROM keyed GROUP BY content_key""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("content_key"))
      .groupBy(col("content_key"))
      .agg(min(col("doc_id")).as("keep_doc"), count(lit(1)).as("n_copies"))
  }

  /** MinHash signatures: 8 permutations, each the min md5 of
    * seed-salted 3-word shingles. Entirely per-row (one pass, no
    * shuffle) — at 100 TB this is a map-only stage. */
  val dedupMinhashSig: QueryDef = QueryDef(
    "q_dedup_minhash_sig",
    s"""WITH w AS (SELECT doc_id, $duckWordsSql AS ws FROM documents),
       |sh AS (SELECT doc_id,
       |  list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
       |                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles
       |  FROM w)
       |SELECT doc_id,
       |  array_to_string(list_transform(range(0, 8),
       |    s -> coalesce(list_aggregate(list_transform(shingles,
       |           x -> md5(CAST(s AS VARCHAR) || '|' || x)), 'min'), '')), ',') AS sig
       |FROM sh""".stripMargin) { (s, dir) =>
    VectorFunctions.register(s)
    Tables.documents(s, dir)
      .withColumn("ws", expr(wordsSql))
      .withColumn("shingles", expr(
        """CASE WHEN size(ws) >= 3 THEN
          |  transform(sequence(1, size(ws) - 2),
          |    i -> concat(element_at(ws, i), ' ', element_at(ws, i+1), ' ', element_at(ws, i+2)))
          |ELSE array() END""".stripMargin))
      .select(col("doc_id"), expr(
        // minhash8 over the shingle array + the lane's '' fill for the
        // empty-shingle (null) case — same values as the HOF chain
        "array_join(transform(minhash8(shingles), m -> coalesce(m, '')), ',')").as("sig"))
  }

  /** Banded LSH candidate pairs: unigram-set MinHash (8 hashes), 4
    * bands × 2 rows; docs sharing a band key become candidates. Bucket
    * size capped at 20 (skew guard — salting/capping is the production
    * answer to degenerate buckets). */
  val dedupLshPairs: QueryDef = QueryDef(
    "q_dedup_lsh_pairs",
    s"""WITH w AS (SELECT doc_id, list_distinct($duckWordsSql) AS ws FROM documents),
       |sig AS (SELECT doc_id,
       |  list_transform(range(0, 8),
       |    s -> list_aggregate(list_transform(ws,
       |           x -> md5(CAST(s AS VARCHAR) || '|' || x)), 'min')) AS sg
       |  FROM w),
       |bands AS (SELECT doc_id,
       |  md5(CAST(b AS VARCHAR) || '|' || sg[2*b+1] || '|' || sg[2*b+2]) AS bk
       |  FROM sig, unnest(range(0, 4)) AS t(b)),
       |sized AS (SELECT bk FROM bands GROUP BY bk HAVING COUNT(*) BETWEEN 2 AND 20)
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
       |JOIN sized sz ON a.bk = sz.bk""".stripMargin) { (s, dir) =>
    // pin the (doc_id, band_key) set: three consumers (both self-join
    // sides + the bucket-size guard) would otherwise each recompute
    // the full MinHash signatures — at scale this is the materialized
    // signature table between the map stage and the candidate join
    val bands = minhashBands(Tables.documents(s, dir)
        .select(col("doc_id"), expr(s"array_distinct($wordsSql)").as("ws")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sized = bands.groupBy(col("bk")).count()
      .filter(col("count").between(2, 20)).select(col("bk"))
    val a = bands.select(col("doc_id").as("d1"), col("bk"))
    val b = bands.select(col("doc_id").as("d2"), col("bk").as("bk2"))
    a.join(b, col("bk") === col("bk2") && col("d1") < col("d2"))
      .join(sized, Seq("bk"), "left_semi")
      .select(col("d1"), col("d2")).distinct()
  }

  /** LSH-verified near-dup — the true 100 TB candidate→verify shape:
    * the banded-LSH candidate pairs (sub-quadratic, skew-capped) are
    * verified with the EXACT word-set Jaccard, so the expensive
    * O(|A|+|B|) set comparison runs only on pairs the signatures
    * already flagged — never on every pair of a coarse (lang, source)
    * block (q_dedup_jaccard's demo blocking goes quadratic inside a
    * block at scale; this does not). The tokenized doc table is
    * persisted once and reused by the signature map stage and both
    * verify-join sides. */
  /** Shared DuckDB CTE chain producing the LSH-verified near-dup pairs
    * (everything up to and including `pairs`), reused by the verified
    * pair query and the connected-components clustering oracle. */
  private[queries] def duckVerifiedPairsCtesOn(base: String, mat: String = ""): String =
    s"""w AS $mat(SELECT doc_id, list_distinct($duckWordsSql) AS ws FROM $base),
       |sig AS $mat(SELECT doc_id,
       |  list_transform(range(0, 8),
       |    s -> list_aggregate(list_transform(ws,
       |           x -> md5(CAST(s AS VARCHAR) || '|' || x)), 'min')) AS sg
       |  FROM w),
       |bands AS (SELECT doc_id,
       |  md5(CAST(b AS VARCHAR) || '|' || sg[2*b+1] || '|' || sg[2*b+2]) AS bk
       |  FROM sig, unnest(range(0, 4)) AS t(b)),
       |sized AS (SELECT bk FROM bands GROUP BY bk HAVING COUNT(*) BETWEEN 2 AND 20),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
       |  JOIN sized sz ON a.bk = sz.bk),
       |pairs AS (SELECT c.d1, c.d2,
       |  CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
       |    / CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE) AS jaccard
       |  FROM cand c
       |  JOIN w wa ON wa.doc_id = c.d1
       |  JOIN w wb ON wb.doc_id = c.d2
       |  WHERE CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
       |    / CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE) >= 0.5)""".stripMargin

  private val duckVerifiedPairsCtes = duckVerifiedPairsCtesOn("documents")

  /** Spark side of the same construction: returns the persisted
    * tokenized doc table `(doc_id, ws)` and the verified pair table
    * `(d1, d2, jaccard)`. The tokenized table and the band table are
    * each persisted once — the signature map stage and both verify-join
    * sides reuse them (at scale these are the materialized intermediate
    * tables between pipeline stages). */
  private def lshVerifiedPairs(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val w = Tables.documents(s, dir)
      .select(col("doc_id"), expr(s"array_distinct($wordsSql)").as("ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    VectorFunctions.register(w.sparkSession)
    val sig = w.select(col("doc_id"), expr(minhashSigSql).as("sg"))
    val bands = sig
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 3),
          |  b -> md5(concat(CAST(b AS STRING), '|', element_at(sg, 2*b+1), '|', element_at(sg, 2*b+2))))""".stripMargin)).as("bk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sized = bands.groupBy(col("bk")).count()
      .filter(col("count").between(2, 20)).select(col("bk"))
    val cand = bands.select(col("doc_id").as("d1"), col("bk"))
      .join(bands.select(col("doc_id").as("d2"), col("bk").as("bk2")),
        col("bk") === col("bk2") && col("d1") < col("d2"))
      .join(sized, Seq("bk"), "left_semi")
      .select(col("d1"), col("d2")).distinct()
    val pairs = cand
      .join(w.select(col("doc_id").as("d1"), col("ws").as("w1")), Seq("d1"))
      .join(w.select(col("doc_id").as("d2"), col("ws").as("w2")), Seq("d2"))
      .filter(expr(jaccardKeepSql))
      .withColumn("jaccard", expr(jaccardValSql))
      .select(col("d1"), col("d2"), col("jaccard"))
    (w, pairs)
  }

  val dedupLshVerified: QueryDef = QueryDef(
    "q_dedup_lsh_verified",
    s"""WITH $duckVerifiedPairsCtes
       |SELECT d1, d2, jaccard FROM pairs""".stripMargin) { (s, dir) =>
    lshVerifiedPairs(s, dir)._2
  }

  /** DuckDB extension of [[duckVerifiedPairsCtes]] (reuses its `w` and
    * `sig`): banded LSH with HOT-BUCKET SPLITTING instead of dropping —
    * see [[dedupLshSplit]]. */
  private[queries] val duckSplitPairsCtes =
    s"""bands2 AS (SELECT doc_id, sg, b,
       |    md5(CAST(b AS VARCHAR) || '|' || sg[2*b+1] || '|' || sg[2*b+2]) AS bk
       |  FROM sig, unnest(range(0, 4)) AS t(b)),
       |bsz AS (SELECT bk, COUNT(*) AS c FROM bands2 GROUP BY bk),
       |lvl0 AS (SELECT doc_id, '0|' || bk AS k FROM bands2 JOIN bsz USING (bk)
       |  WHERE c BETWEEN 2 AND 20),
       |ref AS (SELECT doc_id, md5(bk || '|' || sg[CAST((2*b+2) % 8 + 1 AS INT)]) AS rk
       |  FROM bands2 JOIN bsz USING (bk) WHERE c > 20),
       |rsz AS (SELECT rk, COUNT(*) AS c FROM ref GROUP BY rk),
       |lvl1 AS (SELECT doc_id, '1|' || rk AS k FROM ref JOIN rsz USING (rk)
       |  WHERE c BETWEEN 2 AND 64),
       |hot2 AS (SELECT DISTINCT doc_id FROM ref JOIN rsz USING (rk) WHERE c > 64),
       |loo AS (SELECT h.doc_id, md5(CAST(ob AS VARCHAR) || '|' ||
       |    array_to_string(list_transform(
       |      list_filter(range(1, 9), i -> i <> 2*ob+1 AND i <> 2*ob+2),
       |      i -> sg[i]), '|')) AS lk
       |  FROM hot2 h JOIN sig USING (doc_id), unnest(range(0, 4)) AS t(ob)),
       |lsz AS (SELECT lk, COUNT(*) AS c FROM loo GROUP BY lk),
       |lvl2 AS (SELECT doc_id, '2|' || lk AS k FROM loo JOIN lsz USING (lk)
       |  WHERE c BETWEEN 2 AND 64),
       |keysx AS (SELECT doc_id, k FROM lvl0 UNION ALL SELECT doc_id, k FROM lvl1
       |  UNION ALL SELECT doc_id, k FROM lvl2),
       |cand2 AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM keysx a JOIN keysx b ON a.k = b.k AND a.doc_id < b.doc_id),
       |pairs2 AS (SELECT c.d1, c.d2,
       |  CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
       |    / CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE) AS jaccard
       |  FROM cand2 c
       |  JOIN w wa ON wa.doc_id = c.d1
       |  JOIN w wb ON wb.doc_id = c.d2
       |  WHERE CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
       |    / CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE) >= 0.5)""".stripMargin

  /** Spark side of the split pipeline: returns the persisted word
    * table, the persisted signature table, and the verified near-dup
    * pairs whose candidates come from banded LSH with hot-bucket
    * SPLITTING ([[dedupLshSplit]]); [[dedupClusters]] reuses the
    * first two for its signature-identical cliques + survivorship. */
  private def splitPipeline(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) =
    splitPipelineOn(Tables.documents(s, dir))

  /** [[splitPipeline]] over an arbitrary document subset — the
    * composition hook [[DatasetPipeline.datasetCleanFull]] uses to run
    * pair finding on quality survivors only (each pipeline stage
    * shrinks the next stage's input, the 100 TB ordering). */
  private[queries] def splitPipelineOn(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cap = 20
    // post-refinement cap is looser: 3-row agreement is already strong
    // evidence, so a surviving mid-size bucket is dup-dense and its
    // verification cost is output-proportional, not coincidence-driven
    val refinedCap = 64
    val w = docs
      .select(col("doc_id"), expr(s"array_distinct($wordsSql)").as("ws"))
      .persist(lvl)
    VectorFunctions.register(w.sparkSession)
    val sig = w.select(col("doc_id"), expr(minhashSigSql).as("sg"))
      .persist(lvl) // two consumers: the band explode and the leave-one-out probe
    val bands2 = sig
      .select(col("doc_id"), col("sg"), explode(expr(
        """transform(sequence(0, 3),
          |  b -> struct(b AS b, md5(concat(CAST(b AS STRING), '|',
          |    element_at(sg, 2*b+1), '|', element_at(sg, 2*b+2))) AS bk))""".stripMargin)).as("pr"))
      .select(col("doc_id"), col("sg"), col("pr.b").as("b"), col("pr.bk").as("bk"))
      .persist(lvl)
    val bsz = bands2.groupBy(col("bk")).count()
    val lvl0 = bands2
      .join(bsz.filter(col("count").between(2, cap)).select(col("bk")), Seq("bk"), "left_semi")
      .select(col("doc_id"), concat(lit("0|"), col("bk")).as("k"))
    // persisted (r15): ref is referenced by rsz, lvl1 AND hot2 — only
    // its rsz Exchange is reused by the planner, so the semi-join +
    // md5 projection re-ran 3× per action before
    val ref = bands2
      .join(bsz.filter(col("count") > cap).select(col("bk")), Seq("bk"), "left_semi")
      .select(col("doc_id"),
        md5(concat(col("bk"), lit("|"),
          expr("element_at(sg, CAST((2*b+2) % 8 + 1 AS INT))"))).as("rk"))
      .persist(lvl)
    val rsz = ref.groupBy(col("rk")).count()
    val lvl1 = ref
      .join(rsz.filter(col("count").between(2, refinedCap)).select(col("rk")), Seq("rk"), "left_semi")
      .select(col("doc_id"), concat(lit("1|"), col("rk")).as("k"))
    // final escalation: members of buckets one refinement cannot shrink
    // probe on the four leave-one-band-out keys (6-row agreement —
    // exactly covers every pair agreeing on >= 3 of the 4 bands)
    val hot2 = ref
      .join(rsz.filter(col("count") > refinedCap).select(col("rk")), Seq("rk"), "left_semi")
      .select(col("doc_id")).distinct()
    // persisted (r15): loo feeds lsz AND lvl2 — the hot2 semi-join and
    // the 4-key md5 explode re-ran twice per action before
    val loo = hot2.join(sig, Seq("doc_id"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 3), ob -> md5(concat(CAST(ob AS STRING), '|',
          |  array_join(transform(filter(sequence(1, 8), i -> i != 2*ob+1 AND i != 2*ob+2),
          |    i -> element_at(sg, CAST(i AS INT))), '|'))))""".stripMargin)).as("lk"))
      .persist(lvl)
    val lsz = loo.groupBy(col("lk")).count()
    val lvl2 = loo
      .join(lsz.filter(col("count").between(2, refinedCap)).select(col("lk")), Seq("lk"), "left_semi")
      .select(col("doc_id"), concat(lit("2|"), col("lk")).as("k"))
    val keys = lvl0.union(lvl1).union(lvl2).persist(lvl)
    val cand = keys.select(col("doc_id").as("d1"), col("k"))
      .join(keys.select(col("doc_id").as("d2"), col("k").as("k2")),
        col("k") === col("k2") && col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    val verified = cand
      .join(w.select(col("doc_id").as("d1"), col("ws").as("w1")), Seq("d1"))
      .join(w.select(col("doc_id").as("d2"), col("ws").as("w2")), Seq("d2"))
      .filter(expr(jaccardKeepSql))
      .withColumn("jaccard", expr(jaccardValSql))
      .select(col("d1"), col("d2"), col("jaccard"))
    (w, sig, verified)
  }

  /** BANDED LSH WITH HOT-BUCKET SPLITTING — the recall-preserving
    * answer to skewed band buckets that [[dedupRecall]] exposed: on
    * this template-heavy corpus the plain pipeline's size cap (drop
    * buckets > 20) throws away buckets holding 300+ of ~500 docs —
    * low-entropy MinHash rows collide on shared template words — and
    * measured recall collapses to 0. Production LSH does not drop a
    * hot bucket; it SPLITS it, escalating key strength only where the
    * current key is degenerate:
    *  - level 0: the 2-row band key, buckets 2..20;
    *  - level 1: band key + one extra signature row (3-row
    *    agreement, coincidence rate j³), cap 64 — looser because a
    *    surviving 3-row bucket is dup-dense, so its verification cost
    *    is output-proportional, not coincidence-driven;
    *  - level 2: members of buckets one refinement cannot shrink
    *    probe the four leave-one-band-out keys (6-row agreement —
    *    EXACTLY the pairs agreeing on ≥ 3 of the 4 bands), cap 64.
    * Exact-Jaccard verification unchanged at every level, so
    * precision stays 1.0 by construction.
    *
    * Measured residual (sf0.01): after all three levels the only
    * dropped buckets are backed by a cluster of 144 documents sharing
    * ONE IDENTICAL full 8-row signature — no key scheme splits docs
    * that agree on every hash. Those are exactly the docs the MinHash
    * point estimate already calls Ĵ = 8/8 = 1.0, i.e. the estimator's
    * own verdict is "duplicate cluster"; the production treatment at
    * that density is cluster-level survivorship (the
    * [[dedupComponents]] stage), not pairwise verification inside the
    * clique — which is where this lane's pair-recall honestly stops
    * ([[dedupRecall]] quantifies it).
    *
    * Scale shape: same map-only signatures; three bounded hash-agg
    * passes for bucket sizes; candidates remain pure equi-joins on
    * the (level-prefixed) key — never all-pairs, and every bucket
    * entering the pair join is ≤ its level's cap. */
  val dedupLshSplit: QueryDef = QueryDef(
    "q_dedup_lsh_split",
    s"""WITH $duckVerifiedPairsCtes,
       |$duckSplitPairsCtes
       |SELECT d1, d2, jaccard FROM pairs2""".stripMargin) { (s, dir) =>
    splitPipeline(s, dir)._3
  }

  /** THE components engine — min-label propagation with pointer
    * doubling over an undirected pair table `(d1, d2)`, shared by
    * [[dedupComponents]] (text near-dups) and
    * [[MultimodalQ.mmNearDup]] (image phash near-dups). Returns
    * `(node, lbl)` with lbl = the component's minimum node id.
    *
    * Each round is ONE job: the convergence scalar (SUM(lbl) — labels
    * only ever decrease) rides the eager localCheckpoint through
    * `observe()`, and the superseded label generation's RDD is
    * unpersisted as soon as its successor materializes (at most two
    * generations pinned; ComponentsLeakSpec pins the bound). The edge
    * table is persisted pre-partitioned on the join key so only the
    * (much smaller) label table moves each round. */
  private[queries] def componentLabels(pairs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // LINEAGE CUT, not a persist: every round's plan references the
    // edge table, and a cached DF still carries its full analyzed
    // plan — each round re-canonicalizes it for the cache lookup,
    // which on a deep upstream pipeline (the curation DAG's
    // quality-join + ladder lineage) measured 5-24 s of driver time
    // PER ROUND vs 0.3 s against a checkpointed LogicalRDD leaf. The
    // checkpoint is released after convergence (the loop generations
    // are the only RDDs left pinned — ComponentsLeakSpec).
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .repartition(col("src"))
      .localCheckpoint(true)
    def checkpointWithSum(df: org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Long) =
      Fixpoint.checkpointWith(df, coalesce(sum(col("lbl")), lit(0L)))
    def release(df: org.apache.spark.sql.DataFrame): Unit = Fixpoint.release(df)
    val verbose = java.lang.Boolean.getBoolean("graft.fixpoint.verbose")
    // seed = least(node, min neighbor): the old identity seed's
    // distinct() is the same groupBy(src) shuffle, so folding round
    // 1's neighbor-min into the seed aggregate is free — one fewer
    // loop round (one fewer full barrier at scale) for every
    // component lane. The pointer-doubling invariant holds: edges are
    // bidirectional, so a min neighbor is itself a node in the table.
    var (labels, prevSum) = checkpointWithSum(
      edges.groupBy(col("src")).agg(min(col("dst")).as("md"))
        .select(col("src").as("node"), least(col("src"), col("md")).as("lbl")))
    var iter = 0
    var done = false
    while (!done && iter < 30) {
      val t0 = System.nanoTime()
      val viaNeighbor = edges.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("lbl"))
      // pointer doubling: every label is itself a node id in the label
      // table, so node -> lbl -> lbl(lbl) is a total inner self-join
      val viaPointer = labels
        .join(labels.select(col("node").as("pn"), col("lbl").as("plbl")),
          col("lbl") === col("pn"))
        .select(col("node"), col("plbl").as("lbl"))
      val (next, nextSum) = checkpointWithSum(
        labels.union(viaNeighbor).union(viaPointer)
          .groupBy(col("node")).agg(min(col("lbl")).as("lbl")))
      release(labels)
      labels = next
      done = nextSum == prevSum
      prevSum = nextSum
      iter += 1
      if (verbose) System.err.println(
        f"[fixpoint] round $iter ${(System.nanoTime() - t0) / 1e9}%.2f s sum=$nextSum")
    }
    require(done, s"label propagation did not converge within $iter rounds")
    Fixpoint.release(edges)
    labels
  }

  /** Near-dup CLUSTERING — connected components over the LSH-verified
    * pair graph, the step a production dedup pipeline runs after pair
    * finding: pairs only say "these two match"; keep/drop decisions
    * need whole clusters (A~B, B~C ⇒ {A,B,C} is one duplicate group).
    *
    * Algorithm: iterative min-label propagation with pointer doubling.
    * Every node starts labeled with its own id; each round every node
    * takes the min of (its label, its neighbors' labels, its label's
    * label). The neighbor step alone needs diameter-many rounds — a
    * chain-shaped dup cluster of k docs would take k rounds — while the
    * pointer-doubling step (label's label, the path-halving trick from
    * the MapReduce connected-components literature) halves remaining
    * path lengths, so convergence is O(log diameter). At fixpoint every
    * node carries its component's minimum doc_id. At 100 TB each round
    * is two hash-partitioned joins + a partial min agg — the edge table
    * is persisted pre-partitioned on the join key so only the (much
    * smaller) label table moves each round.
    *
    * Convergence uses a one-row `SUM(lbl)` scalar (labels only ever
    * decrease, so an unchanged sum proves convergence); it is folded
    * into the checkpoint materialization via `observe()`, so each
    * round runs exactly ONE job and moves a single scalar to the
    * driver, never row data. `localCheckpoint` truncates the logical
    * plan each round — without it the self-referential lineage grows
    * with the iteration count and analysis cost compounds. Each
    * superseded label generation is unpersisted as soon as its
    * successor materializes, so at most two generations are ever
    * pinned — at 100 TB a 20-round convergence would otherwise hold
    * 20 label tables in storage memory and evict the edge table.
    *
    * Output: every clustered doc with its cluster id (= min doc_id in
    * the component), the cluster size, and an `is_keeper` survivorship
    * flag (longest doc wins, doc_id breaks ties). */
  val dedupComponents: QueryDef = QueryDef(
    "q_dedup_components",
    s"""WITH RECURSIVE $duckVerifiedPairsCtes,
       |bi AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |walk(node, lbl) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM bi) t
       |  UNION
       |  SELECT b.dst, wk.lbl FROM walk wk JOIN bi b ON b.src = wk.node WHERE wk.lbl < b.dst),
       |comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node),
       |sized_docs AS (SELECT comp.doc_id, cluster_id, len(w.ws) AS n_words
       |  FROM comp JOIN w ON w.doc_id = comp.doc_id),
       |ranked AS (SELECT *, COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  row_number() OVER (PARTITION BY cluster_id ORDER BY n_words DESC, doc_id) AS rn
       |  FROM sized_docs)
       |SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size, rn = 1 AS is_keeper
       |FROM ranked""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val (w, pairs) = lshVerifiedPairs(s, dir)
    val labels = componentLabels(pairs)
    labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
      .join(w.select(col("doc_id"), expr("size(ws)").as("n_words")), Seq("doc_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id")).orderBy(col("n_words").desc, col("doc_id"))))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("rn") === 1).as("is_keeper"))
  }

  /** Shared 16-bit SimHash expression (bit j = sign of ±1 votes of
    * each word's j-th md5 hex digit high bit), over an `mds` column of
    * per-word md5s — hashing is hoisted out of the 16-bit loop, which
    * would otherwise recompute every word's md5 once per bit. */
  // r14: simhash16 is the native one-pass expression (16 counters over
  // one traversal of mds) replacing the 16-fold interpreted HOF chain;
  // values are identical (same votes, same sign rule, lowercase hex).
  private[queries] val simhashSparkSql = "simhash16(mds)"
  private[queries] val md5WordsSparkSql = s"transform($wordsSql, x -> md5(x))"
  private val simhashDuckSql =
    """array_to_string(list_transform(range(0, 16),
      |    j -> CASE WHEN list_reduce(list_transform(ws,
      |           x -> CASE WHEN substr(md5(x), j+1, 1) IN ('8','9','a','b','c','d','e','f')
      |                     THEN 1 ELSE -1 END), (a,b) -> a+b) > 0
      |         THEN '1' ELSE '0' END), '')""".stripMargin

  /** 16-bit SimHash from word md5s. Per-row, map-only. */
  val dedupSimhash: QueryDef = QueryDef(
    "q_dedup_simhash",
    s"""WITH w AS (SELECT doc_id, $duckWordsSql AS ws FROM documents)
       |SELECT doc_id, $simhashDuckSql AS simhash
       |FROM w""".stripMargin) { (s, dir) =>
    VectorFunctions.register(s)
    Tables.documents(s, dir)
      .withColumn("mds", expr(md5WordsSparkSql))
      .select(col("doc_id"), expr(simhashSparkSql).as("simhash"))
  }

  /** Shared engine for both Hamming lanes, with the DISTINCT-SIGNATURE
    * COLLAPSE (round 8): exact duplicates (identical simhashes) are by
    * far the common case, and they all land in the same probe buckets —
    * an uncapped probe join over doc rows goes quadratic in the hottest
    * bucket. Collapse first (`group by (lang, source, sh)` → one
    * representative per distinct signature), run the probe equi-join on
    * DISTINCT signatures only, then expand members back:
    * identical-signature pairs are Hamming-0 BY CONSTRUCTION (emitted
    * directly from the signature equi-self-join — their count is true
    * output size, not blocking waste), and each qualifying
    * distinct-signature pair fans out to its member doc pairs through
    * two equi-joins. Recall is unchanged: the block/pigeonhole
    * predicate is a function of the signatures alone.
    *
    * `chunks` = how many disjoint 4-bit chunks to probe on: 1 = the
    * minimal prefix block ([[dedupHamming]]), 4 = the full pigeonhole
    * guarantee ([[dedupHammingMultiprobe]]). */
  private[graft] def hammingPairsCollapsed(
      s: org.apache.spark.sql.SparkSession, dir: String, chunks: Int)
      : org.apache.spark.sql.DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    VectorFunctions.register(s)
    // pin the signature table: every consumer below would otherwise
    // recompute the 16-bit vote aggregation over every word — at scale
    // this is the materialized signature table between the map stage
    // and the candidate join (same shape as the LSH band table)
    val h = Tables.documents(s, dir)
      .withColumn("mds", expr(md5WordsSparkSql))
      .select(col("doc_id"), col("lang"), col("source"),
        expr(simhashSparkSql).as("sh"))
      .persist(lvl)
    val g = h.groupBy(col("lang"), col("source"), col("sh"))
      .agg(min(col("doc_id")).as("rep"))
      .persist(lvl)
    val probes = g.select(col("rep"), col("lang"), col("source"), col("sh"),
      explode(expr(s"transform(sequence(0, ${chunks - 1}), " +
        "i -> struct(i AS i, substring(sh, i * 4 + 1, 4) AS pv))")).as("pr"))
      .select(col("rep"), col("lang"), col("source"), col("sh"),
        col("pr.i").as("i"), col("pr.pv").as("pv"))
    // distinct-signature candidate pairs → verify the 16-bit distance
    // ONCE per signature pair (not once per doc pair)
    val gpairs = probes
      .select(col("rep").as("r1"), col("lang"), col("source"),
        col("sh").as("sh1"), col("i"), col("pv"))
      .join(probes.select(col("rep").as("r2"), col("lang").as("lang2"),
          col("source").as("source2"), col("sh").as("sh2"),
          col("i").as("i2"), col("pv").as("pv2")),
        col("lang") === col("lang2") && col("source") === col("source2")
          && col("i") === col("i2") && col("pv") === col("pv2")
          && col("r1") < col("r2"))
      .select(col("lang"), col("source"), col("sh1"), col("sh2")).distinct()
      .withColumn("hamming", expr(
        "size(filter(sequence(1, 16), j -> substring(sh1, j, 1) != substring(sh2, j, 1)))").cast("int"))
      .filter(col("hamming") <= 3)
    // expand each qualifying signature pair to its member doc pairs
    val cross = gpairs
      .join(h.select(col("doc_id").as("da"), col("lang"), col("source"),
          col("sh").as("sh1")),
        Seq("lang", "source", "sh1"))
      .join(h.select(col("doc_id").as("db"), col("lang"), col("source"),
          col("sh").as("sh2")),
        Seq("lang", "source", "sh2"))
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("hamming"))
    // identical signatures: Hamming 0, every member pair (true output)
    val intra = h.select(col("doc_id").as("da"), col("lang"), col("source"), col("sh"))
      .join(h.select(col("doc_id").as("db"), col("lang").as("lang2"),
          col("source").as("source2"), col("sh").as("sh2")),
        col("lang") === col("lang2") && col("source") === col("source2")
          && col("sh") === col("sh2") && col("da") < col("db"))
      .select(col("da").as("d1"), col("db").as("d2"),
        lit(0).cast("int").as("hamming"))
    intra.union(cross)
  }

  /** SimHash near-dup pairs by Hamming distance ≤ 3, candidates
    * blocked on (lang, source, 4-bit hash prefix) — the prefix block
    * is what keeps the pair space sub-quadratic at scale (single
    * probe kept as the minimal plan shape; [[dedupHammingMultiprobe]]
    * closes the recall gap with all four pigeonhole chunks). Probe
    * join runs on DISTINCT signatures only
    * ([[hammingPairsCollapsed]]). */
  val dedupHamming: QueryDef = QueryDef(
    "q_dedup_hamming",
    s"""WITH w AS (SELECT doc_id, lang, source, $duckWordsSql AS ws FROM documents),
       |h AS (SELECT doc_id, lang, source, $simhashDuckSql AS sh FROM w)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(len(list_filter(range(1, 17),
       |    j -> substr(a.sh, CAST(j AS INT), 1) != substr(b.sh, CAST(j AS INT), 1))) AS INT) AS hamming
       |FROM h a JOIN h b
       |  ON a.lang = b.lang AND a.source = b.source
       | AND substr(a.sh, 1, 4) = substr(b.sh, 1, 4)
       | AND a.doc_id < b.doc_id
       |WHERE len(list_filter(range(1, 17),
       |    j -> substr(a.sh, CAST(j AS INT), 1) != substr(b.sh, CAST(j AS INT), 1))) <= 3""".stripMargin) { (s, dir) =>
    hammingPairsCollapsed(s, dir, chunks = 1)
  }

  /** MULTI-PROBE SimHash near-dup pairs — closes the recall gap
    * [[dedupHamming]] documents: the single 4-bit-prefix block misses
    * any pair whose differing bits fall inside the prefix. Probe on
    * ALL FOUR disjoint 4-bit chunks instead: by pigeonhole, ≤3
    * differing bits can touch at most 3 of the 4 chunks, so every
    * Hamming≤3 pair agrees exactly on at least one chunk — 100%
    * recall, strict superset of the single-probe pairs, still
    * sub-quadratic (4 bucketed equi-joins via one exploded probe
    * table, deduped before the 16-bit distance is computed once per
    * candidate).
    *
    * Scale shape: probe table = 4 rows per DISTINCT signature
    * (map-only explode over the collapsed signature table —
    * [[hammingPairsCollapsed]]), candidates = equi-join on
    * (lang, source, chunk_idx, chunk_val) — hash-partitioned, never
    * all-pairs; DISTINCT collapses the ≤4 duplicate hits per pair
    * before the verify filter runs ONCE per signature pair. This is
    * the standard pigeonhole blocking from Manku et al.'s web-dedup
    * SimHash design. */
  val dedupHammingMultiprobe: QueryDef = QueryDef(
    "q_dedup_hamming_multiprobe",
    s"""WITH w AS (SELECT doc_id, lang, source, $duckWordsSql AS ws FROM documents),
       |h AS (SELECT doc_id, lang, source, $simhashDuckSql AS sh FROM w),
       |p AS (SELECT doc_id, lang, source, sh, i,
       |        substr(sh, CAST(i * 4 + 1 AS INT), 4) AS pv
       |      FROM h, range(0, 4) t(i)),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |        a.sh AS sh1, b.sh AS sh2
       |      FROM p a JOIN p b
       |        ON a.lang = b.lang AND a.source = b.source
       |       AND a.i = b.i AND a.pv = b.pv
       |       AND a.doc_id < b.doc_id)
       |SELECT d1, d2,
       |  CAST(len(list_filter(range(1, 17),
       |    j -> substr(sh1, CAST(j AS INT), 1) != substr(sh2, CAST(j AS INT), 1))) AS INT) AS hamming
       |FROM cand
       |WHERE len(list_filter(range(1, 17),
       |    j -> substr(sh1, CAST(j AS INT), 1) != substr(sh2, CAST(j AS INT), 1))) <= 3""".stripMargin) { (s, dir) =>
    hammingPairsCollapsed(s, dir, chunks = 4)
  }

  /** EXACT-SUBSTRING (n-gram span) DEDUP — the token-level half of the
    * dedup story (doc-level = exact/MinHash/SimHash families): find
    * every 8-token shingle that occurs ≥2 times ANYWHERE in the corpus
    * and report, per document, how many token positions are covered by
    * a duplicated shingle (`dup_tokens`) and the covered fraction
    * (`dup_frac`). This is the scalable approximation of suffix-array
    * exact-substring dedup for LM training data: the pass that
    * catches boilerplate, licenses, and templated spans that doc-level
    * near-dup misses.
    *
    * Scale shape: shingling is map-only (explode, ~n rows per doc);
    * duplicate detection is one hash-agg on the shingle hash; the
    * cover join is equi on the hash; position expansion is a bounded
    * ×8 explode collapsed by a distinct — every stage hash-partitions,
    * nothing is quadratic in docs or corpus size. */
  val dedupNgramSpans: QueryDef = QueryDef(
    "q_dedup_ngram_spans",
    s"""WITH toks AS (SELECT doc_id, $duckTrimWordsSql AS ws FROM documents),
       |sh0 AS (SELECT doc_id, ws,
       |    unnest(generate_series(1, len(ws) - 7)) AS i
       |  FROM toks WHERE len(ws) >= 8),
       |sh AS (SELECT doc_id, i,
       |    md5(array_to_string(ws[i:i+7], ' ')) AS h FROM sh0),
       |dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) >= 2),
       |cov AS (SELECT DISTINCT s.doc_id, s.i + j AS p
       |  FROM sh s JOIN dup USING (h), range(0, 8) r(j)),
       |cnt AS (SELECT doc_id, COUNT(*) AS dup_tokens FROM cov GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.ws) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |  round(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) / len(t.ws), 6) AS dup_frac
       |FROM toks t LEFT JOIN cnt c ON t.doc_id = c.doc_id""".stripMargin) { (s, dir) =>
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), expr(Tokenize.sparkTrim).as("ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = toks.filter(size(col("ws")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 7), i -> struct(i AS i, md5(array_join(slice(ws, i, 8), ' ')) AS h))")).as("sp"))
      .select(col("doc_id"), col("sp.i").as("i"), col("sp.h").as("h"))
    val dup = sh.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
    val cnt = sh.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"), explode(expr("sequence(i, i + 7)")).as("p"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_tokens"))
    toks.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(cnt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("n_tokens"), 6).as("dup_frac"))
  }

  /** INCREMENTAL DEDUP — the nightly-ingest shape: a NEW batch
    * (doc_id ≡ 0 mod 10) deduped against the EXISTING corpus (the
    * rest) via banded MinHash LSH, candidates restricted to new×old
    * so no old×old work is ever re-done (at 100 TB the corpus side is
    * petabytes of already-deduped history; re-pairing it nightly is
    * the scale bug this operator's join direction avoids). Candidates
    * verified with exact word-set Jaccard ≥ 0.5 as in
    * [[dedupLshVerified]].
    *
    * Scale note: in production the old side's signatures/bands are a
    * MATERIALIZED table updated append-only; here they are recomputed
    * from the same corpus because the testdata has no history store —
    * the plan shape (band equi-join, new-side-only probe) is the
    * same. */
  val dedupIncremental: QueryDef = QueryDef(
    "q_dedup_incremental",
    s"""WITH w AS (SELECT doc_id, list_distinct($duckWordsSql) AS ws FROM documents),
       |sig AS (SELECT doc_id,
       |  list_transform(range(0, 8),
       |    s -> list_aggregate(list_transform(ws,
       |           x -> md5(CAST(s AS VARCHAR) || '|' || x)), 'min')) AS sg
       |  FROM w),
       |bands AS (SELECT doc_id,
       |  md5(CAST(b AS VARCHAR) || '|' || sg[2*b+1] || '|' || sg[2*b+2]) AS bk
       |  FROM sig, unnest(range(0, 4)) AS t(b)),
       |sized AS (SELECT bk FROM bands GROUP BY bk HAVING COUNT(*) BETWEEN 2 AND 20),
       |cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
       |  FROM bands n JOIN bands o ON n.bk = o.bk
       |  JOIN sized sz ON n.bk = sz.bk
       |  WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0)
       |SELECT c.new_id, c.old_id,
       |  CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
       |    / CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE) AS jaccard
       |FROM cand c
       |JOIN w wa ON wa.doc_id = c.new_id
       |JOIN w wb ON wb.doc_id = c.old_id
       |WHERE CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
       |  / CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE) >= 0.5""".stripMargin) { (s, dir) =>
    val w = Tables.documents(s, dir)
      .select(col("doc_id"), expr(s"array_distinct($wordsSql)").as("ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    VectorFunctions.register(w.sparkSession)
    val sig = w.select(col("doc_id"), expr(minhashSigSql).as("sg"))
    val bands = sig
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 3),
          |  b -> md5(concat(CAST(b AS STRING), '|', element_at(sg, 2*b+1), '|', element_at(sg, 2*b+2))))""".stripMargin)).as("bk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sized = bands.groupBy(col("bk")).count()
      .filter(col("count").between(2, 20)).select(col("bk"))
    val cand = bands.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("new_id"), col("bk"))
      .join(bands.filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("old_id"), col("bk").as("bk2")),
        col("bk") === col("bk2"))
      .join(sized, Seq("bk"), "left_semi")
      .select(col("new_id"), col("old_id")).distinct()
    cand
      .join(w.select(col("doc_id").as("new_id"), col("ws").as("w1")), Seq("new_id"))
      .join(w.select(col("doc_id").as("old_id"), col("ws").as("w2")), Seq("old_id"))
      .filter(expr(jaccardKeepSql))
      .withColumn("jaccard", expr(jaccardValSql))
      .select(col("new_id"), col("old_id"), col("jaccard"))
  }

  /** INCREMENTAL DEDUP AGAINST A MATERIALIZED SIGNATURE STORE — the
    * production nightly shape [[dedupIncremental]]'s scale note
    * promises: the existing corpus's band table is PERSISTED as an
    * external catalog table ([[graft.sources.CatalogSurface.saveTable]],
    * parquet at a per-process scratch location), and the nightly query
    * reads the stored bands for the old side — only the NEW batch's
    * signatures are computed from text. At 100 TB the store is
    * append-only (each night's accepted batch appends its bands), so
    * nightly signature cost is O(new batch), not O(corpus); the band
    * equi-join, bucket cap and exact-Jaccard verify are identical to
    * [[dedupIncremental]], whose oracle this query shares — equality
    * proves the store round-trip preserves the dedup result exactly.
    * IncrementalStoreSpec asserts the old side is a catalog-table scan
    * (the store path appears in the plan; no old-side recomputation
    * exists in it). */
  val dedupIncrementalStore: QueryDef = QueryDef(
    "q_dedup_incremental_store",
    dedupIncremental.oracle.get) { (s, dir) =>
    val w = Tables.documents(s, dir)
      .select(col("doc_id"), expr(s"array_distinct($wordsSql)").as("ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def bandsOf(docs: org.apache.spark.sql.DataFrame) = minhashBands(docs)
    // ---- store build (in production: last night's append, not a rebuild)
    graft.sources.CatalogSurface.saveTable(
      bandsOf(w.filter(col("doc_id") % 10 =!= 0)),
      "graft_band_store", Scratch.path("band_store"))
    // ---- nightly query: stored old bands + fresh new-batch bands
    val stored = s.table("graft_band_store")
    val newBands = bandsOf(w.filter(col("doc_id") % 10 === 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sized = stored.union(newBands).groupBy(col("bk")).count()
      .filter(col("count").between(2, 20)).select(col("bk"))
    val cand = newBands.select(col("doc_id").as("new_id"), col("bk"))
      .join(stored.select(col("doc_id").as("old_id"), col("bk").as("bk2")),
        col("bk") === col("bk2"))
      .join(sized, Seq("bk"), "left_semi")
      .select(col("new_id"), col("old_id")).distinct()
    cand
      .join(w.select(col("doc_id").as("new_id"), col("ws").as("w1")), Seq("new_id"))
      .join(w.select(col("doc_id").as("old_id"), col("ws").as("w2")), Seq("old_id"))
      .filter(expr(jaccardKeepSql))
      .withColumn("jaccard", expr(jaccardValSql))
      .select(col("new_id"), col("old_id"), col("jaccard"))
  }

  /** DIDACTIC BASELINE — not the scale path. n-gram (word-set) Jaccard
    * near-dup pairs with coarse (lang, source) blocking: the candidate
    * join is quadratic WITHIN a block, so at 100 TB a popular
    * (lang, source) block is billions of docs and this plan does not
    * survive. It stays in the suite as the exact ground truth the
    * sub-quadratic path is judged against — q_dedup_lsh_verified is
    * the production shape (LSH candidates, exact Jaccard verify only
    * on flagged pairs). The one scale idea worth keeping from here is
    * the length filter: jaccard ≥ t implies min(|A|,|B|) ≥
    * t·max(|A|,|B|), so the cheap size predicate prunes pairs before
    * the O(|A|+|B|) set ops. */
  val dedupJaccard: QueryDef = QueryDef(
    "q_dedup_jaccard",
    s"""WITH w AS (SELECT doc_id, lang, source,
       |  list_distinct($duckWordsSql) AS ws FROM documents)
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       |    / CAST(len(list_distinct(a.ws || b.ws)) AS DOUBLE) AS jaccard
       |FROM w a JOIN w b
       |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
       | AND 2 * least(len(a.ws), len(b.ws)) >= greatest(len(a.ws), len(b.ws))
       |WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       |    / CAST(len(list_distinct(a.ws || b.ws)) AS DOUBLE) >= 0.5""".stripMargin) { (s, dir) =>
    val w = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        expr(s"array_distinct($wordsSql)").as("ws"))
    val a = w.select(col("doc_id").as("d1"), col("lang"), col("source"), col("ws").as("w1"))
    val b = w.select(col("doc_id").as("d2"), col("lang").as("lang2"),
      col("source").as("source2"), col("ws").as("w2"))
    a.join(b, col("lang") === col("lang2") && col("source") === col("source2")
        && col("d1") < col("d2")
        && expr("2 * least(size(w1), size(w2)) >= greatest(size(w1), size(w2))"))
      .filter(expr(jaccardKeepSql))
      .withColumn("jaccard", expr(jaccardValSql))
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Embedding cosine near-dup pairs via sign-projection LSH — the
    * scale shape (same bucket construction as q_sim_lsh): bucket = the
    * sign bits of the first 8 dimensions, candidate pairs come from a
    * bucket equi-join (hash-partitioned shuffle, sub-quadratic), and
    * the codegen'd CosineSimilarity runs only within buckets — never
    * the ~N²/|labels| all-pairs of a coarse label block. Approximate
    * by construction (a near-dup pair straddling a sign boundary is
    * missed); the oracle runs the identical algorithm so results
    * hash-match. At larger corpora the bit count grows as
    * log2(N / target_bucket_size) — more bits, smaller buckets, same
    * plan. */
  val dedupEmbed: QueryDef = QueryDef(
    "q_dedup_embed",
    """WITH e AS (SELECT vec_id, embedding,
      |  array_to_string(list_transform(range(1, 9),
      |    i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
      | FROM embeddings),
      |sims AS (
      | SELECT a.vec_id AS v1, b.vec_id AS v2, a.bucket AS bucket,
      |  list_reduce(list_transform(range(1, 65),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y)
      |   / (sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)), (x,y) -> x+y))
      |    * sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)), (x,y) -> x+y))) AS cos_sim
      | FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |SELECT v1, v2, bucket, cos_sim FROM sims WHERE cos_sim >= 0.3""".stripMargin) { (s, dir) =>
    VectorFunctions.register(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), expr(
        """array_join(transform(sequence(1, 8),
          |  i -> CASE WHEN element_at(embedding, i) >= 0 THEN '1' ELSE '0' END), '')""".stripMargin)
        .as("bucket"))
    val a = e.select(col("vec_id").as("v1"), col("bucket"), col("embedding").as("e1"))
    val b = e.select(col("vec_id").as("v2"), col("bucket").as("bucket2"), col("embedding").as("e2"))
    a.join(b, col("bucket") === col("bucket2") && col("v1") < col("v2"))
      .withColumn("cos_sim", expr("cosine_sim(e1, e2)"))
      .filter(col("cos_sim") >= 0.3)
      .select(col("v1"), col("v2"), col("bucket"), col("cos_sim"))
  }

  /** SEMANTIC dedup, SemDeDup-style (Abbas et al. 2023): partition
    * the embedding space into K centroid cells, then call a vector a
    * semantic duplicate when a LOWER-id cell-mate sits within cosine
    * >= 0.3 — the "same meaning, different words" layer that MinHash
    * (surface n-grams) cannot see. Centroids are the K=8 lowest-id
    * vectors (the deterministic stand-in for a trained codebook, the
    * [[Similarity.kmeansStep]] convention); assignment is nearest
    * centroid by cosine with centroid-id tie-break. Output per
    * vector: its cell, the max similarity to any cell-mate, and the
    * keep verdict (min-id survivor, the policy every dedup lane here
    * uses).
    *
    * Scale shape — the paper's own design: K centroid rows BROADCAST
    * and assignment is a bounded ×K map-side fan-out + one
    * per-vector argmax; the quadratic similarity pass is CONFINED
    * within a cell (a cell equi-join, never a corpus cross join),
    * and production scales K ∝ N so the expected cell size — and
    * with it the per-cell pair count — stays constant. Determinism:
    * assignment ranks raw cosines (bit-identical sequential folds in
    * both engines) with cid tie-break; max_intra_sim is rounded to
    * 6 dp with the +0.0 normalization. */
  val dedupSemantic: QueryDef = QueryDef(
    "q_dedup_semantic",
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |c AS (SELECT vec_id AS cid, embedding AS ce FROM e ORDER BY vec_id LIMIT 8),
      |sims AS (
      | SELECT e.vec_id, cid,
      |  list_reduce(list_transform(range(1, 65),
      |      i -> CAST(ce[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x,y) -> x+y)
      |   / (sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)), (x,y) -> x+y))
      |    * sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x,y) -> x+y))) AS cos_sim
      | FROM e, c),
      |asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, cid) AS rk
      |  FROM sims) WHERE rk = 1),
      |mates AS (
      | SELECT a.vec_id, b.vec_id AS mate,
      |  list_reduce(list_transform(range(1, 65),
      |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)), (x,y) -> x+y)
      |   / (sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)), (x,y) -> x+y))
      |    * sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)), (x,y) -> x+y))) AS cos_sim
      | FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id <> b.vec_id
      | JOIN e ea ON ea.vec_id = a.vec_id
      | JOIN e eb ON eb.vec_id = b.vec_id),
      |agg AS (SELECT vec_id, max(cos_sim) AS mx,
      |  bool_or(cos_sim >= 0.3 AND mate < vec_id) AS dup
      | FROM mates GROUP BY vec_id)
      |SELECT a.vec_id, a.cid AS centroid_id,
      |  round(g.mx, 6) + 0.0 AS max_intra_sim,
      |  NOT g.dup AS is_kept
      |FROM asg a JOIN agg g ON g.vec_id = a.vec_id""".stripMargin) { (s, dir) =>
    VectorFunctions.register(s)
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val c = e.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val wAsg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos_sim").desc, col("cid"))
    val asg = e.join(broadcast(c))
      .withColumn("cos_sim", expr("cosine_sim(ce, embedding)"))
      .withColumn("rk", row_number().over(wAsg))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cid"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mates = asg.select(col("vec_id"), col("cid"), col("embedding").as("ea"))
      .join(asg.select(col("vec_id").as("mate"), col("cid").as("cid2"),
        col("embedding").as("eb")),
        col("cid") === col("cid2") && col("vec_id") =!= col("mate"))
      .withColumn("cos_sim", expr("cosine_sim(ea, eb)"))
    mates.groupBy(col("vec_id"))
      .agg(max(col("cos_sim")).as("mx"),
        max(col("cos_sim") >= 0.3 && col("mate") < col("vec_id")).as("dup"))
      .join(asg.select(col("vec_id"), col("cid")), Seq("vec_id"))
      .select(col("vec_id"), col("cid").as("centroid_id"),
        (round(col("mx"), 6) + lit(0.0)).as("max_intra_sim"),
        (!col("dup")).as("is_kept"))
  }

  /** Cross-document CHUNK dedup (the CCNet/RefinedWeb paragraph-dedup
    * shape): documents are split into non-overlapping 10-word chunks;
    * a chunk survives only in the lowest-doc_id document that contains
    * it, and every document is re-assembled from its surviving chunks
    * in order. Scale shape: explode to (chunk_hash, doc, pos) → one
    * hash-partitioned min-agg per chunk hash → hash equi-join back →
    * per-doc ordered re-assembly (partial aggregation applies; nothing
    * is ever all-pairs). The output carries the reassembled
    * `cleaned_text` itself (bounded by the doc length, still a scalar
    * cell) so the operator is usable as a pipeline stage, plus its md5
    * fingerprint for cheap downstream equality. */
  val dedupChunks: QueryDef = QueryDef(
    "q_dedup_chunks",
    s"""WITH w AS (SELECT doc_id, ${Tokenize.duckTrim} AS ws FROM documents),
      |ch AS (SELECT doc_id, i AS pos,
      |         array_to_string(ws[(i-1)*10+1 : least(i*10, len(ws))], ' ') AS chunk
      |       FROM w, unnest(range(1, CAST(ceil(len(ws)/10.0) AS BIGINT) + 1)) AS t(i)),
      |keyed AS (SELECT doc_id, pos, chunk, md5(chunk) AS ck FROM ch),
      |firsts AS (SELECT ck, MIN(doc_id) AS keep_doc FROM keyed GROUP BY ck),
      |flagged AS (SELECT k.doc_id, k.pos, k.chunk, k.doc_id = f.keep_doc AS keep
      |            FROM keyed k JOIN firsts f ON k.ck = f.ck)
      |SELECT doc_id, COUNT(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  coalesce(array_to_string(list(chunk ORDER BY pos) FILTER (WHERE keep), ' '), '') AS cleaned_text,
      |  md5(coalesce(array_to_string(list(chunk ORDER BY pos) FILTER (WHERE keep), ' '), '')) AS cleaned_md5
      |FROM flagged GROUP BY doc_id""".stripMargin) { (s, dir) =>
    val chunks = Tables.documents(s, dir)
      .withColumn("ws", expr(Tokenize.sparkTrim))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, CAST(ceil(size(ws) / 10.0) AS INT)),
          |  i -> array_join(slice(ws, (i-1)*10+1, 10), ' '))""".stripMargin)).as(Seq("pos0", "chunk")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("chunk"),
        md5(col("chunk")).as("ck"))
    val firsts = chunks.groupBy(col("ck")).agg(min(col("doc_id")).as("keep_doc"))
    chunks.join(firsts, Seq("ck"))
      .withColumn("keep", col("doc_id") === col("keep_doc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        expr(
          """array_join(transform(filter(array_sort(collect_list(struct(pos, chunk, keep))),
            |  x -> x.keep), x -> x.chunk), ' ')""".stripMargin).as("cleaned_text"))
      .withColumn("cleaned_md5", md5(col("cleaned_text")))
  }

  /** The composite training-data cleaning pipeline — the operators
    * above chained the way a 100 TB curation job runs them, cheapest
    * filter first so each stage shrinks the next stage's input:
    * quality gates (length / digit-ratio / word-count, map-only) →
    * exact dedup (hash groupBy on the content key) → near-dup collapse
    * (identical 16-bit SimHash within a (lang, source) block).
    * Survivors carry their word count. */
  val datasetClean: QueryDef = QueryDef(
    "q_dataset_clean",
    s"""WITH base AS (
       |  SELECT doc_id, lang, source, text, $duckWordsSql AS ws FROM documents),
       |quality AS (
       |  SELECT * FROM base
       |  WHERE length(text) >= 100
       |    AND CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
       |        / CAST(length(text) AS DOUBLE) < 0.3
       |    AND len(ws) >= 10),
       |keyed AS (
       |  SELECT *, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS ckey
       |  FROM quality),
       |exact AS (
       |  SELECT *, row_number() OVER (PARTITION BY ckey ORDER BY doc_id) AS rn
       |  FROM keyed),
       |sh AS (
       |  SELECT doc_id, lang, source, len(ws) AS n_words, $simhashDuckSql AS sh16
       |  FROM exact WHERE rn = 1),
       |near AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang, source, sh16
       |                               ORDER BY doc_id) AS rn2
       |  FROM sh)
       |SELECT doc_id, lang, CAST(n_words AS BIGINT) AS n_words
       |FROM near WHERE rn2 = 1""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    VectorFunctions.register(s)
    val wExact = Window.partitionBy(col("ckey")).orderBy(col("doc_id"))
    val wNear = Window.partitionBy(col("lang"), col("source"), col("sh16"))
      .orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("ws", expr(wordsSql))
      .filter(length(col("text")) >= 100
        && expr("CAST(size(regexp_extract_all(text, '[0-9]', 0)) AS DOUBLE) / CAST(length(text) AS DOUBLE)") < 0.3
        && expr("size(ws)") >= 10)
      .withColumn("ckey", md5(regexp_replace(lower(col("text")), "\\s+", " ")))
      .withColumn("rn", row_number().over(wExact))
      .filter(col("rn") === 1)
      .withColumn("mds", expr("transform(ws, x -> md5(x))"))
      .select(col("doc_id"), col("lang"), col("source"),
        expr("size(ws)").as("n_words"), expr(simhashSparkSql).as("sh16"))
      .withColumn("rn2", row_number().over(wNear))
      .filter(col("rn2") === 1)
      .select(col("doc_id"), col("lang"), col("n_words").cast("long").as("n_words"))
  }

  /** MINHASH-LSH RECALL vs EXACT JACCARD — the dedup twin of the ANN
    * q_sim_recall lane: how many of the TRUE near-dup pairs (exact
    * word-set Jaccard ≥ 0.5) does each candidate→verify pipeline
    * actually find? Ground truth is computed exactly on ONE sampled
    * (lang, source) block — the standard offline evaluation job
    * (production never runs the quadratic truth corpus-wide; it
    * samples a block, which is exactly what this lane models, and the
    * same lossless 2·min≥max length prefilter as q_dedup_jaccard
    * bounds even the sample). Reported per jaccard bucket as exact
    * integers for BOTH pipelines side by side: the size-capped
    * pipeline ([[dedupLshVerified]]) and the hot-bucket-splitting one
    * ([[dedupLshSplit]]). Measured at sf0.01: the capped pipeline
    * finds 0 of the block's 21 true pairs — its drop-buckets-over-20
    * skew guard deletes the mega-buckets this template-heavy corpus
    * piles 300+ docs into — while the split ladder recovers the
    * splittable ones (4/21 here, +6.5k verified pairs corpus-wide);
    * the remaining misses all sit inside a 144-doc cluster sharing
    * ONE identical full signature, which no key scheme can split and
    * whose production treatment is cluster-level survivorship (see
    * [[dedupLshSplit]]'s residual note). The metric is where these
    * trades stop being theory — compare r7's IVF-PQ 2/5 exposure,
    * which led to the re-rank lane.
    *
    * Scale shape: both LSH sides are the shipped sub-quadratic
    * pipelines unchanged; the truth side is quadratic ONLY within the
    * sampled block (one equi-join key); the recall joins are keyed
    * left joins of bounded pair tables + one ≤3-row aggregate. */
  val dedupRecall: QueryDef = QueryDef(
    "q_dedup_recall",
    s"""WITH $duckVerifiedPairsCtes,
       |$duckSplitPairsCtes,
       |blk AS (SELECT min(lang) AS blang, min(source) AS bsource FROM documents),
       |tw AS (SELECT doc_id, lang, source, list_distinct($duckWordsSql) AS ws
       |  FROM documents, blk WHERE lang = blang AND source = bsource),
       |truth AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       |      / CAST(len(list_distinct(a.ws || b.ws)) AS DOUBLE) AS j
       |  FROM tw a JOIN tw b
       |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
       |   AND 2 * least(len(a.ws), len(b.ws)) >= greatest(len(a.ws), len(b.ws))
       |  WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       |      / CAST(len(list_distinct(a.ws || b.ws)) AS DOUBLE) >= 0.5),
       |jn AS (SELECT t.j, p.d1 IS NOT NULL AS found_capped, q.d1 IS NOT NULL AS found_split
       |  FROM truth t
       |  LEFT JOIN pairs p ON p.d1 = t.d1 AND p.d2 = t.d2
       |  LEFT JOIN pairs2 q ON q.d1 = t.d1 AND q.d2 = t.d2)
       |SELECT CASE WHEN j >= 0.9 THEN '0.9-1.0'
       |            WHEN j >= 0.7 THEN '0.7-0.9' ELSE '0.5-0.7' END AS j_bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_true,
       |  CAST(SUM(CASE WHEN found_capped THEN 1 ELSE 0 END) AS BIGINT) AS n_found_capped,
       |  CAST(SUM(CASE WHEN found_split THEN 1 ELSE 0 END) AS BIGINT) AS n_found_split
       |FROM jn GROUP BY 1""".stripMargin) { (s, dir) =>
    val capped = lshVerifiedPairs(s, dir)._2
      .select(col("d1"), col("d2"), lit(true).as("found_capped"))
    val split = splitPipeline(s, dir)._3
      .select(col("d1"), col("d2"), lit(true).as("found_split"))
    val docs = Tables.documents(s, dir)
    val blk = docs.agg(min(col("lang")).as("blang"), min(col("source")).as("bsource"))
    val tw = docs.join(broadcast(blk),
        col("lang") === col("blang") && col("source") === col("bsource"))
      .select(col("doc_id"), col("lang"), col("source"),
        expr(s"array_distinct($wordsSql)").as("ws"))
    val a = tw.select(col("doc_id").as("d1"), col("lang"), col("source"), col("ws").as("w1"))
    val b = tw.select(col("doc_id").as("d2"), col("lang").as("lang2"),
      col("source").as("source2"), col("ws").as("w2"))
    val truth = a.join(b, col("lang") === col("lang2") && col("source") === col("source2")
        && col("d1") < col("d2")
        && expr("2 * least(size(w1), size(w2)) >= greatest(size(w1), size(w2))"))
      .filter(expr(jaccardKeepSql))
      .withColumn("j", expr(jaccardValSql))
      .select(col("d1"), col("d2"), col("j"))
    truth.join(capped, Seq("d1", "d2"), "left")
      .join(split, Seq("d1", "d2"), "left")
      .select(col("j"),
        coalesce(col("found_capped"), lit(false)).as("found_capped"),
        coalesce(col("found_split"), lit(false)).as("found_split"))
      .groupBy(when(col("j") >= 0.9, "0.9-1.0")
        .when(col("j") >= 0.7, "0.7-0.9").otherwise("0.5-0.7").as("j_bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("found_capped"), 1).otherwise(0)).cast("long").as("n_found_capped"),
        sum(when(col("found_split"), 1).otherwise(0)).cast("long").as("n_found_split"))
  }


  /** Contraction core of [[dedupClusters]], factored out so the
    * label-preservation invariant is spec-testable on synthetic
    * graphs: given the doc→signature-representative map `m`
    * (reps MUST be clique minima) and verified cross-doc pairs,
    * returns (doc_id, cluster_id) for every doc in a duplicate
    * cluster of size >= 2 — identical, by the clique-minimum
    * argument, to running [[componentLabels]] on the UNCONTRACTED
    * pairs ∪ star-edges graph. */
  private[queries] def contractedClusters(
      m: org.apache.spark.sql.DataFrame,
      verified: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // contract: rewrite verified-pair endpoints through the map; edges
    // inside one clique vanish, cliques enter the loop as one node
    val cedges = verified
      .join(m.select(col("doc_id").as("d1"), col("rep").as("r1")), Seq("d1"))
      .join(m.select(col("doc_id").as("d2"), col("rep").as("r2")), Seq("d2"))
      .filter(col("r1") =!= col("r2"))
      .select(least(col("r1"), col("r2")).as("d1"),
        greatest(col("r1"), col("r2")).as("d2"))
      .distinct()
    val repLabels = componentLabels(cedges)
      .select(col("node").as("rep"), col("lbl"))
    // expand: a doc clusters if its rep is in a labeled component OR
    // its clique has >= 2 members (the star-only clusters); cluster id
    // = component min rep = component min doc id (reps are clique minima)
    val csize = m.groupBy(col("rep")).agg(count(lit(1)).as("n_members"))
    m.join(repLabels, Seq("rep"), "left")
      .join(csize, Seq("rep"))
      .filter(col("lbl").isNotNull || col("n_members") >= 2)
      .select(col("doc_id"), coalesce(col("lbl"), col("rep")).as("cluster_id"))
  }

  /** FULL-CORPUS DUPLICATE CLUSTERS — the cluster-level survivorship
    * the [[dedupLshSplit]] residual note prescribes, made operational:
    * the duplicate graph is the union of (a) the split ladder's
    * exact-verified pairs and (b) SIGNATURE-IDENTICAL CLIQUES as
    * linear member→representative star edges — docs sharing the
    * entire 8-row MinHash signature carry the estimator's own
    * Ĵ = 8/8 = 1.0 verdict, so production clusters them WITHOUT
    * pairwise verification (the 144-doc template clique that no key
    * scheme can split and that pairwise lanes honestly cannot
    * afford). Components resolve via the shared one-job-per-round
    * [[componentLabels]] engine; survivorship = longest doc wins,
    * doc_id breaks ties (the [[dedupComponents]] policy). The oracle
    * re-derives the star edges and walks the same union graph
    * recursively.
    *
    * Scale shape: the graph is CONTRACTED before the iterative loop —
    * every doc maps to its signature-representative (one hash-agg +
    * one equi-join, linear in clique size), verified pair endpoints
    * are rewritten through that mapping, and [[componentLabels]] runs
    * on the rep-level graph only (the 144-doc clique enters the loop
    * as ONE node, not 144 rows carried through every round); members
    * expand back through the mapping afterwards. Contraction
    * preserves labels exactly: reps are clique minima, so the
    * component's min rep IS its min doc id. Survivorship is one
    * window over the clustered docs. */

  val dedupClusters: QueryDef = QueryDef(
    "q_dedup_clusters",
    s"""WITH RECURSIVE $duckVerifiedPairsCtes,
       |$duckSplitPairsCtes,
       |sgrp AS (SELECT sg, min(doc_id) AS rep FROM sig GROUP BY sg),
       |stars AS (SELECT g.rep AS d1, s.doc_id AS d2
       |  FROM sig s JOIN sgrp g ON s.sg = g.sg WHERE s.doc_id <> g.rep),
       |alle AS (SELECT d1, d2 FROM pairs2 UNION SELECT d1, d2 FROM stars),
       |bi AS (SELECT d1 AS src, d2 AS dst FROM alle UNION ALL SELECT d2, d1 FROM alle),
       |walk(node, lbl) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM bi) t
       |  UNION
       |  SELECT b.dst, wk.lbl FROM walk wk JOIN bi b ON b.src = wk.node WHERE wk.lbl < b.dst),
       |comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node),
       |sized2 AS (SELECT comp.doc_id, cluster_id, len(w.ws) AS n_words
       |  FROM comp JOIN w ON w.doc_id = comp.doc_id),
       |ranked AS (SELECT *, COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  row_number() OVER (PARTITION BY cluster_id ORDER BY n_words DESC, doc_id) AS rn
       |  FROM sized2)
       |SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size, rn = 1 AS is_keeper
       |FROM ranked""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val (w, sig, verified) = splitPipeline(s, dir)
    val grp = sig.groupBy(col("sg")).agg(min(col("doc_id")).as("rep"))
    // doc -> signature-representative mapping (the contraction map)
    val m = sig.join(grp, Seq("sg"))
      .select(col("doc_id"), col("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    contractedClusters(m, verified)
      .join(w.select(col("doc_id"), expr("size(ws)").as("n_words")), Seq("doc_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster_id")).orderBy(col("n_words").desc, col("doc_id"))))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("rn") === 1).as("is_keeper"))
  }

  /** INCREMENTAL CLUSTER MAINTENANCE — the nightly companion of
    * [[dedupClusters]]: yesterday's corpus (doc_id % 10 <> 0) already
    * carries cluster labels; tonight's batch (doc_id % 10 = 0, the
    * [[dedupIncremental]] split) must JOIN, BRIDGE, or FOUND clusters
    * without re-running old×old pair finding. The merge is
    * [[contractedClusters]] with the contraction map = existing
    * cluster labels: every old cluster enters the loop as ONE
    * supernode (labels are cluster minima, so the preservation
    * theorem [[ClusterContractionSpec]] pins applies verbatim), and
    * only delta pairs — new×corpus candidates from TODAY'S band
    * table, exact-Jaccard verified — are edges. Output per clustered
    * doc: cluster id, prior cluster id (-1 if previously unclustered)
    * and a status verdict (stable / merged / added), the audit trail
    * a nightly pipeline publishes.
    *
    * Scale shape: the delta candidate join is new-batch-sized on one
    * side (band equi-join, 2..20 bucket cap); the merge loop runs on
    * the CONTRACTED graph (supernodes + new docs touched by pairs),
    * so its cost tracks the delta, not the corpus. The old-side pair
    * + label recomputation here stands in for reading yesterday's
    * persisted label table (the [[dedupIncrementalStore]] pattern);
    * in production that side is a catalog-table scan and the nightly
    * cost is O(new batch + affected clusters). The oracle walks the
    * flat opairs ∪ ipairs graph recursively — equality IS the
    * incremental-equals-full-recompute proof. */
  val dedupClustersIncr: QueryDef = QueryDef(
    "q_dedup_clusters_incr",
    s"""WITH RECURSIVE $duckVerifiedPairsCtes,
       |obands AS (SELECT doc_id, bk FROM bands WHERE doc_id % 10 <> 0),
       |osized AS (SELECT bk FROM obands GROUP BY bk HAVING COUNT(*) BETWEEN 2 AND 20),
       |ocand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM obands a JOIN obands b ON a.bk = b.bk AND a.doc_id < b.doc_id
       |  JOIN osized sz ON a.bk = sz.bk),
       |opairs AS (SELECT c.d1, c.d2 FROM ocand c
       |  JOIN w wa ON wa.doc_id = c.d1
       |  JOIN w wb ON wb.doc_id = c.d2
       |  WHERE CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
       |    / CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE) >= 0.5),
       |icand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
       |  JOIN sized sz ON a.bk = sz.bk
       |  WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0),
       |ipairs AS (SELECT c.d1, c.d2 FROM icand c
       |  JOIN w wa ON wa.doc_id = c.d1
       |  JOIN w wb ON wb.doc_id = c.d2
       |  WHERE CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
       |    / CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE) >= 0.5),
       |obi AS (SELECT d1 AS src, d2 AS dst FROM opairs UNION ALL SELECT d2, d1 FROM opairs),
       |owalk(node, lbl) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM obi) t
       |  UNION
       |  SELECT b.dst, wk.lbl FROM owalk wk JOIN obi b ON b.src = wk.node WHERE wk.lbl < b.dst),
       |ocomp AS (SELECT node AS doc_id, MIN(lbl) AS prior FROM owalk GROUP BY node),
       |alle AS (SELECT d1, d2 FROM opairs UNION SELECT d1, d2 FROM ipairs),
       |bi AS (SELECT d1 AS src, d2 AS dst FROM alle UNION ALL SELECT d2, d1 FROM alle),
       |walk(node, lbl) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM bi) t
       |  UNION
       |  SELECT b.dst, wk.lbl FROM walk wk JOIN bi b ON b.src = wk.node WHERE wk.lbl < b.dst),
       |comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node)
       |SELECT c.doc_id, CAST(c.cluster_id AS BIGINT) AS cluster_id,
       |  CAST(coalesce(o.prior, -1) AS BIGINT) AS prior_cluster_id,
       |  CASE WHEN o.prior IS NULL THEN 'added'
       |       WHEN o.prior = c.cluster_id THEN 'stable'
       |       ELSE 'merged' END AS status
       |FROM comp c LEFT JOIN ocomp o ON o.doc_id = c.doc_id""".stripMargin) { (s, dir) =>
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val w = Tables.documents(s, dir)
      .select(col("doc_id"), expr(s"array_distinct($wordsSql)").as("ws"))
      .persist(lvl)
    val bands = minhashBands(w).persist(lvl)
    def verify(cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      cand
        .join(w.select(col("doc_id").as("d1"), col("ws").as("w1")), Seq("d1"))
        .join(w.select(col("doc_id").as("d2"), col("ws").as("w2")), Seq("d2"))
        .filter(expr(jaccardKeepSql))
        .select(col("d1"), col("d2"))
    // yesterday's state: components over the OLD corpus's capped pairs
    // (stands in for reading the persisted label table)
    val ob = bands.filter(col("doc_id") % 10 =!= 0)
    val osized = ob.groupBy(col("bk")).count()
      .filter(col("count").between(2, 20)).select(col("bk"))
    val ocand = ob.select(col("doc_id").as("d1"), col("bk"))
      .join(ob.select(col("doc_id").as("d2"), col("bk").as("bk2")),
        col("bk") === col("bk2") && col("d1") < col("d2"))
      .join(osized, Seq("bk"), "left_semi")
      .select(col("d1"), col("d2")).distinct()
    val olabels = componentLabels(verify(ocand))
    // contraction map: old clustered docs collapse to their cluster
    // label (a cluster minimum); everything else is its own rep
    val m = w.select(col("doc_id"))
      .join(olabels.select(col("node").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("rep"))
      .persist(lvl)
    // tonight's delta: every capped-bucket candidate touching a new doc,
    // bucket sizes from TODAY'S full band table
    val fsized = bands.groupBy(col("bk")).count()
      .filter(col("count").between(2, 20)).select(col("bk"))
    val icand = bands.select(col("doc_id").as("d1"), col("bk"))
      .join(bands.select(col("doc_id").as("d2"), col("bk").as("bk2")),
        col("bk") === col("bk2") && col("d1") < col("d2")
          && (col("d1") % 10 === 0 || col("d2") % 10 === 0))
      .join(fsized, Seq("bk"), "left_semi")
      .select(col("d1"), col("d2")).distinct()
    contractedClusters(m, verify(icand))
      .join(olabels.select(col("node").as("doc_id"), col("lbl").as("prior")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("prior"), lit(-1L)).as("prior_cluster_id"),
        when(col("prior").isNull, "added")
          .when(col("prior") === col("cluster_id"), "stable")
          .otherwise("merged").as("status"))
  }

  /** LEAKAGE-PROOF train/val/test split — the dedup-aware upgrade of
    * [[graft.queries.Curation]]'s q_split_grouped: the split unit is
    * the NEAR-DUP CLUSTER (connected component over the LSH-verified
    * pair graph, singletons = their own unit), so two near-duplicate
    * documents can never straddle the train/eval boundary. Provenance
    * grouping (source∥lang) cannot give that guarantee — near-dups
    * routinely cross sources (mirrors, scrapes, quotes), and a val doc
    * whose near-copy sits in train is exactly the contamination that
    * inflates eval scores. This is the split construction the Dolma /
    * RefinedWeb-style corpus pipelines run after dedup.
    *
    * Assignment hashes the CLUSTER id with the repo's integer-hash
    * idiom on a bounded key (`(cluster_id % 262144) * 2654435761 %
    * 65536`; thresholds 52429/58982 ≈ 80/10/10) — deterministic, no
    * rand(), identical in both engines. The audit column
    * `straddle_pairs` re-joins the verified pairs against the
    * assignment and counts cross-split pairs: Spark gets 0 by
    * construction, but the ORACLE recomputes the clusters through its
    * own recursive component walk and its own hash assignment, so the
    * pinned 0 is an independently-derived proof, not an echo.
    *
    * Scale shape: pair finding + component labeling are the
    * [[dedupComponents]] machinery (capped buckets, one-job-per-round
    * fixpoint on checkpointed leaves); the label table is
    * cluster-members-only (≪ corpus), so the unit mapping is a LEFT
    * join of docs against a small table, assignment is map-side
    * arithmetic, and the audit join is pair-table-sized. At 100 TB the
    * labels come from the persisted cluster store
    * ([[dedupClustersIncr]]) rather than being recomputed. */
  val splitLeakproof: QueryDef = QueryDef(
    "q_split_leakproof",
    s"""WITH RECURSIVE $duckVerifiedPairsCtes,
       |bi AS (SELECT d1 AS src, d2 AS dst FROM pairs UNION ALL SELECT d2, d1 FROM pairs),
       |walk(node, lbl) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM bi) t
       |  UNION
       |  SELECT b.dst, wk.lbl FROM walk wk JOIN bi b ON b.src = wk.node WHERE wk.lbl < b.dst),
       |comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node),
       |units AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
       |assigned AS (SELECT doc_id, cluster_id,
       |  CASE WHEN (cluster_id % 262144) * 2654435761 % 65536 < 52429 THEN 'train'
       |       WHEN (cluster_id % 262144) * 2654435761 % 65536 < 58982 THEN 'val'
       |       ELSE 'test' END AS split FROM units),
       |straddle AS (SELECT CAST(COUNT(*) AS BIGINT) AS straddle_pairs
       |  FROM pairs p
       |  JOIN assigned a1 ON a1.doc_id = p.d1
       |  JOIN assigned a2 ON a2.doc_id = p.d2
       |  WHERE a1.split <> a2.split)
       |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       |  (SELECT straddle_pairs FROM straddle) AS straddle_pairs
       |FROM assigned GROUP BY 1""".stripMargin) { (s, dir) =>
    val (_, pairs) = lshVerifiedPairs(s, dir)
    val labels = componentLabels(pairs)
    val assigned = Tables.documents(s, dir).select(col("doc_id"))
      .join(labels.select(col("node").as("doc_id"), col("lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .withColumn("split", expr(
        """CASE WHEN (cluster_id % 262144) * 2654435761 % 65536 < 52429 THEN 'train'
          |     WHEN (cluster_id % 262144) * 2654435761 % 65536 < 58982 THEN 'val'
          |     ELSE 'test' END""".stripMargin))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val straddle = pairs
      .join(assigned.select(col("doc_id").as("d1"), col("split").as("s1")), Seq("d1"))
      .join(assigned.select(col("doc_id").as("d2"), col("split").as("s2")), Seq("d2"))
      .filter(col("s1") =!= col("s2"))
      .agg(count(lit(1)).as("straddle_pairs"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("cluster_id")).as("n_clusters"))
      .crossJoin(broadcast(straddle))
  }

  /** SOURCE-CONTAMINATION MATRIX — the provenance audit a corpus
    * pipeline publishes next to its dedup stats: which SOURCE PAIRS
    * share verified near-duplicates, and at what strength. Cross-source
    * cells are mirrors/scrapes (the reason [[splitLeakproof]] groups by
    * cluster, not provenance — in this corpus every exact-dup pair is
    * cross-source); the diagonal is within-crawl duplication. The
    * matrix drives source-level decisions (drop a mirrored crawl
    * wholesale, or weight it down in the mixture) that per-doc dedup
    * can't express.
    *
    * Scale shape: the expensive part is the shared LSH ladder
    * ([[lshVerifiedPairs]] — capped buckets, map-only signatures); the
    * matrix itself is two doc-keyed equi-joins to pull sources onto the
    * pair table (pair-table-sized, ≪ corpus) and a hash-agg over at
    * most |sources|² cells. At 100 TB the pairs come from the persisted
    * cluster store ([[dedupIncrementalStore]]) instead of being
    * recomputed, and the source lookup is the doc-metadata table. The
    * pair key is undirected (least/greatest) so each cell counts once.
    * jaccard is an exact integer ratio (proven hash-identical raw in
    * [[dedupLshVerified]]); min is rounded per the repo policy. */
  val sourceMatrix: QueryDef = QueryDef(
    "q_dedup_source_matrix",
    s"""WITH $duckVerifiedPairsCtes,
       |src AS (SELECT doc_id, source FROM documents),
       |ps AS (SELECT least(a.source, b.source) AS src_a,
       |    greatest(a.source, b.source) AS src_b, p.jaccard
       |  FROM pairs p
       |  JOIN src a ON a.doc_id = p.d1
       |  JOIN src b ON b.doc_id = p.d2)
       |SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CASE WHEN src_a = src_b THEN 'intra' ELSE 'cross' END AS kind,
       |  round(MIN(jaccard), 6) + 0.0 AS min_jaccard
       |FROM ps GROUP BY 1, 2""".stripMargin) { (s, dir) =>
    val (_, pairs) = lshVerifiedPairs(s, dir)
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("d1"), col("source").as("sa")), Seq("d1"))
      .join(src.select(col("doc_id").as("d2"), col("source").as("sb")), Seq("d2"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("jaccard"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("round(MIN(jaccard), 6) + 0.0").as("min_jaccard"))
      .select(col("src_a"), col("src_b"), col("n_pairs"),
        when(col("src_a") === col("src_b"), lit("intra"))
          .otherwise(lit("cross")).as("kind"),
        col("min_jaccard"))
  }

  /** NORMALIZATION-LADDER EXACT DEDUP (r11): exact dedup at three
    * canonicalization tiers — the C4/CCNet preprocessing insight that
    * "exact" duplicate counts depend entirely on how much you
    * normalize first, and the cheap win before any MinHash machinery:
    *
    *  - tier 0: raw text, byte-identical.
    *  - tier 1: lowercase + whitespace collapsed to single spaces +
    *    trimmed (case/formatting variants).
    *  - tier 2: tier 1 with every non-[a-z0-9 ] char stripped and
    *    spaces re-collapsed (punctuation/markup variants).
    *
    * Tiers are strictly coarser (equal text ⇒ equal normal forms), so
    * per-tier duplicate sets are nested and `n_new_dup_docs` is the
    * INCREMENTAL catch of each rung — the number that tells a data
    * team whether cheap canonicalization is worth running before the
    * expensive near-dup pass.
    *
    * Scale shape: one map-side pass computes all three keys as
    * md5 digests (32-byte shuffle keys — the full text never
    * shuffles), three hash-aggs count key multiplicity, per-doc flags
    * come back via three key-equi-joins, and the final aggregate is 3
    * rows. No windows, nothing quadratic; the ladder is exactly as
    * scalable as exact dedup. */
  val dedupNormLadder: QueryDef = {
    // tier normal forms; DuckDB regexp_replace needs the 'g' flag
    // (first-match-only default) where Spark replaces all
    val sparkT1 = "trim(regexp_replace(lower(text), '[ \\\\t\\\\r\\\\n]+', ' '))"
    val duckT1 = "trim(regexp_replace(lower(text), '[ \\t\\r\\n]+', ' ', 'g'))"
    def sparkT2(t1: String) =
      s"trim(regexp_replace(regexp_replace($t1, '[^a-z0-9 ]', ''), ' +', ' '))"
    def duckT2(t1: String) =
      s"trim(regexp_replace(regexp_replace($t1, '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
    QueryDef(
      "q_dedup_norm_ladder",
      s"""WITH keyed AS (SELECT doc_id, md5(text) AS k0,
         |    md5($duckT1) AS k1, md5(${duckT2(duckT1)}) AS k2
         |  FROM documents),
         |c0 AS (SELECT k0, COUNT(*) AS n0 FROM keyed GROUP BY 1),
         |c1 AS (SELECT k1, COUNT(*) AS n1 FROM keyed GROUP BY 1),
         |c2 AS (SELECT k2, COUNT(*) AS n2 FROM keyed GROUP BY 1),
         |f AS (SELECT doc_id, n0 > 1 AS d0, n1 > 1 AS d1, n2 > 1 AS d2
         |  FROM keyed JOIN c0 USING (k0) JOIN c1 USING (k1) JOIN c2 USING (k2)),
         |g AS (SELECT 0 AS tier, COUNT(*) AS n_dup_groups FROM c0 WHERE n0 > 1
         |  UNION ALL SELECT 1, COUNT(*) FROM c1 WHERE n1 > 1
         |  UNION ALL SELECT 2, COUNT(*) FROM c2 WHERE n2 > 1),
         |d AS (SELECT 0 AS tier,
         |    CAST(COUNT(CASE WHEN d0 THEN 1 END) AS BIGINT) AS n_dup_docs,
         |    CAST(COUNT(CASE WHEN d0 THEN 1 END) AS BIGINT) AS n_new_dup_docs
         |  FROM f
         |  UNION ALL SELECT 1, COUNT(CASE WHEN d1 THEN 1 END),
         |    COUNT(CASE WHEN d1 AND NOT d0 THEN 1 END) FROM f
         |  UNION ALL SELECT 2, COUNT(CASE WHEN d2 THEN 1 END),
         |    COUNT(CASE WHEN d2 AND NOT d1 THEN 1 END) FROM f)
         |SELECT CAST(g.tier AS BIGINT) AS tier,
         |  CAST(g.n_dup_groups AS BIGINT) AS n_dup_groups,
         |  d.n_dup_docs, d.n_new_dup_docs
         |FROM g JOIN d ON d.tier = g.tier""".stripMargin) { (s, dir) =>
      val keyed = graft.Tables.documents(s, dir)
        .select(col("doc_id"), md5(col("text")).as("k0"),
          md5(expr(sparkT1)).as("k1"), md5(expr(sparkT2(sparkT1))).as("k2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def cnt(k: String, n: String) =
        keyed.groupBy(col(k)).agg(count(lit(1)).as(n))
      val c0 = cnt("k0", "n0"); val c1 = cnt("k1", "n1"); val c2 = cnt("k2", "n2")
      val f = keyed.join(c0, Seq("k0")).join(c1, Seq("k1")).join(c2, Seq("k2"))
        .select(col("doc_id"), (col("n0") > 1).as("d0"),
          (col("n1") > 1).as("d1"), (col("n2") > 1).as("d2"))
      def gRow(tier: Int, c: org.apache.spark.sql.DataFrame, n: String) =
        c.filter(col(n) > 1).agg(count(lit(1)).as("n_dup_groups"))
          .select(lit(tier.toLong).as("tier"), col("n_dup_groups"))
      val g = gRow(0, c0, "n0").unionByName(gRow(1, c1, "n1")).unionByName(gRow(2, c2, "n2"))
      val d = f.agg(
          count(when(col("d0"), lit(1))).as("dd0"),
          count(when(col("d1"), lit(1))).as("dd1"),
          count(when(col("d2"), lit(1))).as("dd2"),
          count(when(col("d1") && !col("d0"), lit(1))).as("nn1"),
          count(when(col("d2") && !col("d1"), lit(1))).as("nn2"))
        .select(explode(array(
          struct(lit(0L).as("tier"), col("dd0").as("n_dup_docs"), col("dd0").as("n_new_dup_docs")),
          struct(lit(1L).as("tier"), col("dd1").as("n_dup_docs"), col("nn1").as("n_new_dup_docs")),
          struct(lit(2L).as("tier"), col("dd2").as("n_dup_docs"), col("nn2").as("n_new_dup_docs")))).as("r"))
        .select(col("r.tier"), col("r.n_dup_docs"), col("r.n_new_dup_docs"))
      g.join(broadcast(d), Seq("tier"))
        .select(col("tier"), col("n_dup_groups"), col("n_dup_docs"), col("n_new_dup_docs"))
    }
  }

  /** MINHASH ESTIMATOR CALIBRATION (r11): how well does the 8-hash
    * signature agreement fraction estimate true Jaccard on THIS
    * corpus? Over the banded-LSH candidate pairs (uncapped by the
    * 0.5 verify threshold — calibration needs the full range), bucket
    * pairs by their integer slot-agreement count (0..8) and report
    * the bucket's mean exact Jaccard and the mean absolute error of
    * the n/8 estimate — the curve that justifies (or indicts) the
    * band/row choice before anyone trusts the ladder's thresholds
    * (E[agreement fraction] = J is the MinHash identity; the MAE
    * column measures the 8-hash variance around it).
    *
    * Determinism: agreement counts are integers; eighths (n/8) are
    * exact doubles; exact Jaccard is rounded 6 dp per pair before
    * the DECIMAL-summed bucket means.
    *
    * Scale shape: rides the [[dedupLshPairs]] construction (map-side
    * signatures, capped band buckets — candidates never go
    * quadratic); the per-pair verify joins are doc-keyed; output is
    * ≤9 rows. */
  val dedupMinhashCalib: QueryDef = QueryDef(
    "q_dedup_minhash_calib",
    s"""WITH w AS (SELECT doc_id, list_distinct($duckWordsSql) AS ws FROM documents),
       |sig AS (SELECT doc_id,
       |  list_transform(range(0, 8),
       |    s -> list_aggregate(list_transform(ws,
       |           x -> md5(CAST(s AS VARCHAR) || '|' || x)), 'min')) AS sg
       |  FROM w),
       |bands AS (SELECT doc_id,
       |  md5(CAST(b AS VARCHAR) || '|' || sg[2*b+1] || '|' || sg[2*b+2]) AS bk
       |  FROM sig, unnest(range(0, 4)) AS t(b)),
       |sized AS (SELECT bk FROM bands GROUP BY bk HAVING COUNT(*) BETWEEN 2 AND 20),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id
       |  JOIN sized sz ON a.bk = sz.bk),
       |pe AS (SELECT c.d1, c.d2,
       |    CAST(len(list_filter(range(1, 9), i -> sa.sg[i] = sb.sg[i])) AS BIGINT) AS n_agree,
       |    round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
       |      / CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE), 6) AS jacc
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.d1 JOIN sig sb ON sb.doc_id = c.d2
       |  JOIN w wa ON wa.doc_id = c.d1 JOIN w wb ON wb.doc_id = c.d2)
       |SELECT n_agree, round(n_agree / 8.0, 6) + 0.0 AS est_jaccard,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  round(CAST(SUM(CAST(jacc AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 6) + 0.0 AS avg_exact,
       |  round(CAST(SUM(CAST(round(abs(n_agree / 8.0 - jacc), 6) AS DECIMAL(20,6))) AS DOUBLE)
       |    / COUNT(*), 6) + 0.0 AS mae
       |FROM pe GROUP BY 1""".stripMargin) { (s, dir) =>
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val w = Tables.documents(s, dir)
      .select(col("doc_id"), expr(s"array_distinct($wordsSql)").as("ws"))
      .persist(mem)
    VectorFunctions.register(w.sparkSession)
    val sig = w.select(col("doc_id"), expr(minhashSigSql).as("sg"))
      .persist(mem)
    val bands = sig
      .select(col("doc_id"), explode(expr(minhashBandSql)).as("bk"))
      .persist(mem)
    val sized = bands.groupBy(col("bk")).count()
      .filter(col("count").between(2, 20)).select(col("bk"))
    val cand = bands.select(col("doc_id").as("d1"), col("bk"))
      .join(bands.select(col("doc_id").as("d2"), col("bk").as("bk2")),
        col("bk") === col("bk2") && col("d1") < col("d2"))
      .join(sized, Seq("bk"), "left_semi")
      .select(col("d1"), col("d2")).distinct()
    val pe = cand
      .join(sig.select(col("doc_id").as("d1"), col("sg").as("sga")), Seq("d1"))
      .join(sig.select(col("doc_id").as("d2"), col("sg").as("sgb")), Seq("d2"))
      .join(w.select(col("doc_id").as("d1"), col("ws").as("w1")), Seq("d1"))
      .join(w.select(col("doc_id").as("d2"), col("ws").as("w2")), Seq("d2"))
      .select(
        expr("CAST(size(filter(sequence(1, 8), i -> element_at(sga, i) = element_at(sgb, i))) AS BIGINT)")
          .as("n_agree"),
        expr(s"round($jaccardValSql, 6)").as("jacc"))
    pe.groupBy(col("n_agree"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("round(CAST(SUM(CAST(jacc AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 6) + 0.0D").as("avg_exact"),
        expr("round(CAST(SUM(CAST(round(abs(n_agree / 8.0D - jacc), 6) AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*), 6) + 0.0D").as("mae"))
      .select(col("n_agree"), expr("round(n_agree / 8.0D, 6) + 0.0D").as("est_jaccard"),
        col("n_pairs"), col("avg_exact"), col("mae"))
  }

  /** One geometry block of the band-sweep oracle: bands → bucket
    * histogram → capped candidates → one stats row. */
  private def sweepGeomCtes(bN: Int, r: Int): String =
    s"""bands_$bN$r AS (SELECT doc_id,
       |  md5(CAST(b AS VARCHAR) || '|' || array_to_string(sg[$r*b+1 : $r*b+$r], '|')) AS bk
       |  FROM sig, unnest(range(0, $bN)) AS t(b)),
       |st_$bN$r AS MATERIALIZED (SELECT bk, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM bands_$bN$r GROUP BY 1),
       |cand_$bN$r AS MATERIALIZED (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands_$bN$r a JOIN bands_$bN$r b ON a.bk = b.bk AND a.doc_id < b.doc_id
       |  JOIN (SELECT bk FROM st_$bN$r WHERE c BETWEEN 2 AND 20) sz ON a.bk = sz.bk),
       |row_$bN$r AS (SELECT 'b${bN}r$r' AS geometry,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM st_$bN$r) AS n_buckets,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM st_$bN$r WHERE c > 20) AS n_hot,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_$bN$r) AS n_cand,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_$bN$r c
       |     JOIN w wa ON wa.doc_id = c.d1 JOIN w wb ON wb.doc_id = c.d2
       |     WHERE CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
       |       / CAST(len(list_distinct(wa.ws || wb.ws)) AS DOUBLE) >= 0.5) AS n_ver,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_$bN$r c
       |     JOIN truth t ON c.d1 = t.d1 AND c.d2 = t.d2) AS n_found_capped,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (
       |     SELECT DISTINCT t.d1, t.d2 FROM truth t
       |     JOIN bands_$bN$r a ON a.doc_id = t.d1
       |     JOIN bands_$bN$r b ON b.doc_id = t.d2 AND b.bk = a.bk)) AS n_collide)""".stripMargin

  /** LSH BAND-GEOMETRY ABLATION (r14, VERDICT r13 Next #5 — the
    * justification [[dedupMinhashCalib]] stops short of): the ladder
    * ships 4 bands × 2 rows as a constant; this lane computes, from
    * the SAME 8-permutation signature table, the numbers that justify
    * (or indict) the geometry — for (b=4,r=2), (b=2,r=4) and
    * (b=8,r=1): bucket count, capped-out hot buckets, candidate-pair
    * volume under the production 2..20 bucket cap, exact-Jaccard
    * verified pairs (precision), and recall against the
    * [[dedupRecall]] brute-force ground-truth block. This is the LSH
    * S-curve tradeoff every deployment documents: r=4 collides only
    * near-identical docs (high precision, low recall), r=1 buckets on
    * a single min-hash (high recall, hot buckets, low precision);
    * b=4,r=2 is the shipped middle.
    *
    * Scale shape: ONE signature map pass feeds all three geometries
    * (the bands are re-expansions of the persisted 8-sig table, not
    * re-hashes of the corpus); every candidate join is band-keyed and
    * bucket-capped; the quadratic truth block is confined to the one
    * (lang, source) ground-truth block exactly as [[dedupRecall]]
    * runs it. Output is 3 rows. */
  val dedupBandSweep: QueryDef = QueryDef(
    "q_dedup_band_sweep",
    s"""WITH w AS MATERIALIZED (SELECT doc_id, list_distinct($duckWordsSql) AS ws FROM documents),
       |sig AS MATERIALIZED (SELECT doc_id,
       |  list_transform(range(0, 8),
       |    s -> list_aggregate(list_transform(ws,
       |           x -> md5(CAST(s AS VARCHAR) || '|' || x)), 'min')) AS sg
       |  FROM w),
       |blk AS (SELECT min(lang) AS blang, min(source) AS bsource FROM documents),
       |twb AS (SELECT doc_id, lang, source, list_distinct($duckWordsSql) AS ws
       |  FROM documents, blk WHERE lang = blang AND source = bsource),
       |truth AS MATERIALIZED (SELECT a.doc_id AS d1, b.doc_id AS d2
       |  FROM twb a JOIN twb b
       |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
       |   AND 2 * least(len(a.ws), len(b.ws)) >= greatest(len(a.ws), len(b.ws))
       |  WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE)
       |      / CAST(len(list_distinct(a.ws || b.ws)) AS DOUBLE) >= 0.5),
       |${sweepGeomCtes(4, 2)},
       |${sweepGeomCtes(2, 4)},
       |${sweepGeomCtes(8, 1)},
       |allr AS (SELECT * FROM row_42 UNION ALL SELECT * FROM row_24
       |  UNION ALL SELECT * FROM row_81)
       |SELECT geometry, n_buckets, n_hot, n_cand, n_ver,
       |  round(COALESCE(n_ver / CAST(NULLIF(n_cand, 0) AS DOUBLE), 0), 6) + 0.0 AS prec,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
       |  n_found_capped, n_collide,
       |  round(COALESCE(n_found_capped / CAST(NULLIF((SELECT COUNT(*) FROM truth), 0) AS DOUBLE), 0), 6) + 0.0 AS recall_capped,
       |  round(COALESCE(n_collide / CAST(NULLIF((SELECT COUNT(*) FROM truth), 0) AS DOUBLE), 0), 6) + 0.0 AS recall_band
       |FROM allr""".stripMargin) { (s, dir) =>
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val jaccGe = jaccardKeepSql
    val w = Tables.documents(s, dir)
      .select(col("doc_id"), expr(s"array_distinct($wordsSql)").as("ws"))
      .persist(mem)
    // ONE signature table feeds all three geometries
    VectorFunctions.register(w.sparkSession)
    val sig = w.select(col("doc_id"), expr(minhashSigSql).as("sg")).persist(mem)
    val docs = Tables.documents(s, dir)
    val blk = docs.agg(min(col("lang")).as("blang"), min(col("source")).as("bsource"))
    // the block key stays in the join (the dedupRecall shape): the
    // quadratic pass is an equi-join on (lang, source), never a loop
    val twb = docs.join(broadcast(blk),
        col("lang") === col("blang") && col("source") === col("bsource"))
      .select(col("doc_id"), col("lang"), col("source"),
        expr(s"array_distinct($wordsSql)").as("ws"))
    val truth = twb.select(col("doc_id").as("d1"), col("lang"), col("source"), col("ws").as("w1"))
      .join(twb.select(col("doc_id").as("d2"), col("lang").as("lang2"),
          col("source").as("source2"), col("ws").as("w2")),
        col("lang") === col("lang2") && col("source") === col("source2")
          && col("d1") < col("d2")
          && expr("2 * least(size(w1), size(w2)) >= greatest(size(w1), size(w2))"))
      .filter(expr(jaccGe))
      .select(col("d1"), col("d2")).persist(mem)
    val truthCnt = truth.agg(count(lit(1)).as("n_true"))
    def geomRow(bN: Int, r: Int): org.apache.spark.sql.DataFrame = {
      val bands = sig.select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, ${bN - 1}),
           |  b -> md5(concat(CAST(b AS STRING), '|', array_join(slice(sg, $r*b+1, $r), '|'))))""".stripMargin)).as("bk"))
        .persist(mem)
      val st = bands.groupBy(col("bk")).agg(count(lit(1)).as("c")).persist(mem)
      val bstats = st.agg(count(lit(1)).as("n_buckets"),
        sum(when(col("c") > 20, 1L).otherwise(0L)).as("n_hot"))
      val sized = st.filter(col("c").between(2, 20)).select(col("bk"))
      val cand = bands.select(col("doc_id").as("d1"), col("bk"))
        .join(bands.select(col("doc_id").as("d2"), col("bk").as("bk2")),
          col("bk") === col("bk2") && col("d1") < col("d2"))
        .join(sized, Seq("bk"), "left_semi")
        .select(col("d1"), col("d2")).distinct().persist(mem)
      val cstat = cand.agg(count(lit(1)).as("n_cand"))
      val vstat = cand
        .join(w.select(col("doc_id").as("d1"), col("ws").as("w1")), Seq("d1"))
        .join(w.select(col("doc_id").as("d2"), col("ws").as("w2")), Seq("d2"))
        .filter(expr(jaccGe)).agg(count(lit(1)).as("n_ver"))
      val fstat = truth.join(cand, Seq("d1", "d2"), "left_semi")
        .agg(count(lit(1)).as("n_found_capped"))
      // uncapped band-collision recall: does the truth pair share ANY
      // band key — a truth-sized probe (never the uncapped pair set)
      val collide = truth
        .join(bands.select(col("doc_id").as("d1"), col("bk")), Seq("d1"))
        .join(bands.select(col("doc_id").as("d2"), col("bk").as("bk2")), Seq("d2"))
        .filter(col("bk") === col("bk2"))
        .select(col("d1"), col("d2")).distinct()
        .agg(count(lit(1)).as("n_collide"))
      bstats.crossJoin(cstat).crossJoin(vstat).crossJoin(fstat).crossJoin(collide)
        .withColumn("geometry", lit(s"b${bN}r$r"))
    }
    val rows = Seq((4, 2), (2, 4), (8, 1))
      .map { case (bN, r) => geomRow(bN, r) }.reduce(_ unionByName _)
    rows.crossJoin(broadcast(truthCnt))
      .select(col("geometry"), col("n_buckets"), col("n_hot"),
        col("n_cand"), col("n_ver"),
        expr("round(coalesce(n_ver / CAST(nullif(n_cand, 0) AS DOUBLE), 0), 6) + 0.0D").as("prec"),
        col("n_true"), col("n_found_capped"), col("n_collide"),
        expr("round(coalesce(n_found_capped / CAST(nullif(n_true, 0) AS DOUBLE), 0), 6) + 0.0D").as("recall_capped"),
        expr("round(coalesce(n_collide / CAST(nullif(n_true, 0) AS DOUBLE), 0), 6) + 0.0D").as("recall_band"))
  }

  /** SEMDEDUP THRESHOLD CURVE (r12 — the calibration behind the 0.3
    * cosine cutoff [[dedupSemantic]] and the curation DAG's stage 4
    * apply, the way [[dedupMinhashCalib]] calibrates the LSH band
    * thresholds): over the same cosine-argmax centroid cells, the
    * within-cell pair table is scored ONCE and read at three cutoffs
    * (0.2 / 0.3 / 0.4) — per threshold the qualifying pair count, the
    * docs the SemDeDup rule would drop (distinct higher-id members of
    * qualifying pairs), and the corpus drop rate. The curve's slope
    * around the shipped 0.3 IS the sensitivity statement a pipeline
    * owner signs off on: a cliff means the cutoff is load-bearing, a
    * plateau means it is safe.
    *
    * Determinism: cell assignment and cosines are [[dedupSemantic]]'s
    * exact expressions (IEEE-deterministic fold/sqrt/division, proven
    * by that lane); threshold comparisons are on the unrounded values
    * in both engines; all counts integer until the one rounded rate.
    *
    * Scale shape: the quadratic pass stays confined within cells
    * (the audited dedupSemantic shape); the three cutoffs are
    * conditional aggregates over ONE pair table — no rescan per
    * threshold; output is 3 rows. */
  val semCurve: QueryDef = QueryDef(
    "q_dedup_sem_curve",
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |c AS (SELECT vec_id AS cid, embedding AS ce FROM e ORDER BY vec_id LIMIT 8),
      |sims AS (
      | SELECT e.vec_id, cid,
      |  list_reduce(list_transform(range(1, 65),
      |      i -> CAST(ce[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x,y) -> x+y)
      |   / (sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)), (x,y) -> x+y))
      |    * sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x,y) -> x+y))) AS cos_sim
      | FROM e, c),
      |asg AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
      |  row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, cid) AS rk
      |  FROM sims) WHERE rk = 1),
      |mates AS (
      | SELECT a.vec_id,
      |  list_reduce(list_transform(range(1, 65),
      |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)), (x,y) -> x+y)
      |   / (sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)), (x,y) -> x+y))
      |    * sqrt(list_reduce(list_transform(range(1, 65),
      |      i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)), (x,y) -> x+y))) AS cs
      | FROM asg a JOIN asg b ON a.cid = b.cid AND b.vec_id < a.vec_id
      | JOIN e ea ON ea.vec_id = a.vec_id
      | JOIN e eb ON eb.vec_id = b.vec_id),
      |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM e),
      |ag AS (SELECT
      |  CAST(COUNT(*) FILTER (cs >= 0.2) AS BIGINT) AS p2,
      |  CAST(COUNT(DISTINCT CASE WHEN cs >= 0.2 THEN vec_id END) AS BIGINT) AS d2,
      |  CAST(COUNT(*) FILTER (cs >= 0.3) AS BIGINT) AS p3,
      |  CAST(COUNT(DISTINCT CASE WHEN cs >= 0.3 THEN vec_id END) AS BIGINT) AS d3,
      |  CAST(COUNT(*) FILTER (cs >= 0.4) AS BIGINT) AS p4,
      |  CAST(COUNT(DISTINCT CASE WHEN cs >= 0.4 THEN vec_id END) AS BIGINT) AS d4
      | FROM mates)
      |SELECT CAST(0.2 AS DOUBLE) AS threshold, p2 AS n_pairs, d2 AS n_dropped,
      |  round(CAST(d2 AS DOUBLE) / n_vectors, 6) + 0.0 AS drop_rate FROM ag, nv
      |UNION ALL
      |SELECT CAST(0.3 AS DOUBLE), p3, d3,
      |  round(CAST(d3 AS DOUBLE) / n_vectors, 6) + 0.0 FROM ag, nv
      |UNION ALL
      |SELECT CAST(0.4 AS DOUBLE), p4, d4,
      |  round(CAST(d4 AS DOUBLE) / n_vectors, 6) + 0.0 FROM ag, nv""".stripMargin) { (s, dir) =>
    graft.functions.VectorFunctions.register(s)
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val c = e.orderBy(col("vec_id")).limit(8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val wAsg = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos_sim").desc, col("cid"))
    val asg = e.join(broadcast(c))
      .withColumn("cos_sim", expr("cosine_sim(ce, embedding)"))
      .withColumn("rk", row_number().over(wAsg))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cid"), col("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mates = asg.select(col("vec_id"), col("cid"), col("embedding").as("ea"))
      .join(asg.select(col("vec_id").as("mate"), col("cid").as("cid2"),
        col("embedding").as("eb")),
        col("cid") === col("cid2") && col("mate") < col("vec_id"))
      .select(col("vec_id"), expr("cosine_sim(ea, eb)").as("cs"))
    val nv = e.agg(count(lit(1)).as("n_vectors"))
    val ag = mates.agg(
      count(when(col("cs") >= 0.2, 1)).as("p2"),
      countDistinct(when(col("cs") >= 0.2, col("vec_id"))).as("d2"),
      count(when(col("cs") >= 0.3, 1)).as("p3"),
      countDistinct(when(col("cs") >= 0.3, col("vec_id"))).as("d3"),
      count(when(col("cs") >= 0.4, 1)).as("p4"),
      countDistinct(when(col("cs") >= 0.4, col("vec_id"))).as("d4"))
      .crossJoin(broadcast(nv))
      // 1-row result; eager cut so the three threshold branches below read it
      // instead of re-running the within-cell pair join per branch.
      .localCheckpoint(true)
    Seq(("0.2", "p2", "d2"), ("0.3", "p3", "d3"), ("0.4", "p4", "d4")).map {
      case (t, p, d) =>
        ag.select(lit(t.toDouble).as("threshold"), col(p).as("n_pairs"),
          col(d).as("n_dropped"),
          expr(s"round(CAST($d AS DOUBLE) / n_vectors, 6) + 0.0D").as("drop_rate"))
    }.reduce(_ unionByName _)
  }

  val defs: Seq[QueryDef] = Seq(
    dedupExact, dedupMinhashSig, dedupLshPairs, dedupLshVerified,
    dedupComponents, dedupSimhash, dedupJaccard, dedupEmbed, dedupHamming,
    dedupHammingMultiprobe, dedupNgramSpans, dedupIncremental,
    dedupIncrementalStore, dedupChunks, datasetClean, dedupLshSplit, dedupRecall,
    dedupClusters, dedupSemantic, dedupClustersIncr, splitLeakproof, sourceMatrix,
    dedupNormLadder, dedupMinhashCalib, semCurve, dedupBandSweep)
}
