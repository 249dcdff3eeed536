package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables

/** Graph analytics over relationally-derived edge lists. The near-dup
  * connected-components fixpoint lives in [[Dedup]]; this module holds
  * the oracle-expressible fixed-iteration algorithms.
  */
object Graph {

  /** Weighted PAGERANK, 3 unrolled iterations, over the international
    * trade graph: nodes = nations, edge u→v weighted by the number of
    * lineitems a supplier in u shipped to a customer in v. The damping
    * update r_v ← 0.006 + 0.85·Σ_u r_u·p_uv runs three times (d=0.85,
    * uniform 0.15/25 teleport).
    *
    * Scale shape: ALL the data-volume work is the one edge-derivation
    * pass (3-way key join + hash-agg, every stage partial+final,
    * hash-partitioned — no hints, AQE sizes the dims); the collapsed
    * graph is ≤625 rows, so the three iteration joins are broadcast
    * noise. A general (billion-node) graph would switch the iteration
    * to the [[Dedup.dedupComponents]] checkpoint loop; the unrolled
    * form is chosen here because it is oracle-expressible as chained
    * CTEs.
    *
    * Determinism: per-edge contributions are rounded to 6 dp and
    * summed as DECIMAL(20,6) (exact, order-insensitive); each
    * iteration's rank is re-rounded to 6 dp, so both engines carry
    * bit-identical state into the next iteration. */
  val pageRank: QueryDef = {
    // one iteration: previous ranks `rPrev(node, r)` -> new ranks
    def duckIter(prev: String): String =
      s"""SELECT n.node,
         |  CAST(round(CAST(0.006 AS DOUBLE) + CAST(0.85 AS DOUBLE) * CAST(COALESCE(SUM(
         |    CAST(round(CAST(r.r AS DOUBLE) * p.p, 6) AS DECIMAL(20,6))), 0) AS DOUBLE), 6)
         |    AS DECIMAL(20,6)) AS r
         |FROM nodes n
         |LEFT JOIN p ON p.v = n.node
         |LEFT JOIN $prev r ON r.node = p.u
         |GROUP BY n.node""".stripMargin
    QueryDef(
      "q_graph_pagerank",
      s"""WITH e AS (SELECT s_nationkey AS u, c_nationkey AS v, CAST(COUNT(*) AS DOUBLE) AS w
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  GROUP BY 1, 2),
         |ow AS (SELECT u, SUM(w) AS ow FROM e GROUP BY 1),
         |p AS (SELECT e.u, e.v, e.w / ow.ow AS p FROM e JOIN ow ON e.u = ow.u),
         |nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
         |r0 AS (SELECT node, CAST(0.04 AS DECIMAL(20,6)) AS r FROM nodes),
         |it1 AS (${duckIter("r0")}),
         |it2 AS (${duckIter("it1")}),
         |it3 AS (${duckIter("it2")})
         |SELECT CAST(node AS BIGINT) AS node, CAST(r AS DOUBLE) AS rank
         |FROM it3""".stripMargin) { (s, dir) =>
      val e = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("s_nationkey").as("u"), col("c_nationkey").as("v"))
        .agg(count(lit(1)).cast("double").as("w"))
      val ow = e.groupBy(col("u")).agg(sum(col("w")).as("ow"))
        .withColumnRenamed("u", "ou")
      // collapsed transition table: <= |nations|^2 rows however large the
      // fact tables are — persist so the 3 iterations don't re-derive it
      val p = e.join(ow, col("u") === col("ou"))
        .select(col("u"), col("v"), (col("w") / col("ow")).as("p"))
        .persist()
      val nodes = e.select(col("u").as("node"))
        .union(e.select(col("v"))).distinct().persist()
      var r = nodes.withColumn("r", expr("CAST(0.04 AS DECIMAL(20,6))"))
      for (_ <- 1 to 3) {
        val contrib = p.join(r.withColumnRenamed("node", "rn"), col("u") === col("rn"))
          .select(col("v"), expr("CAST(round(CAST(r AS DOUBLE) * p, 6) AS DECIMAL(20,6))").as("c"))
          .groupBy(col("v")).agg(sum(col("c")).as("sc"))
        r = nodes.join(contrib, col("node") === col("v"), "left")
          .select(col("node"),
            expr("CAST(round(CAST(0.006 AS DOUBLE) + 0.85D * CAST(COALESCE(sc, 0) AS DOUBLE), 6) AS DECIMAL(20,6))").as("r"))
      }
      r.select(col("node").cast("long").as("node"), col("r").cast("double").as("rank"))
    }
  }

  /** GEO TRADE LANES — haversine great-circle distance over the
    * international trade graph: each nation gets deterministic
    * synthetic coordinates (integer-derived, exactly representable
    * halves — no pole/antimeridian edge cases), each cross-nation
    * (supplier→customer) lane aggregates item count and exact-DECIMAL
    * revenue, and the lane length comes from the haversine formula
    * written with IDENTICAL operation order in both engines (explicit
    * `x * pi() / 180` instead of each engine's radians(), products
    * instead of pow) so the only divergence surface is libm sin/cos/
    * asin — absorbed by the 6-dp rounding policy.
    *
    * Scale shape: the volume work is the same 3-way key join +
    * hash-agg as [[pageRank]]'s edge derivation; the collapsed lane
    * table is ≤|nations|² rows, and the coordinate join is against
    * constant-size nation (broadcast by policy). Trig runs on ≤625
    * rows, post-aggregation — map-only noise. */
  val geoLanes: QueryDef = {
    val haversineSql =
      """round(2.0 * 6371.0088 * asin(sqrt(
        |      sin((lat2 - lat1) * pi() / 360.0) * sin((lat2 - lat1) * pi() / 360.0)
        |    + cos(lat1 * pi() / 180.0) * cos(lat2 * pi() / 180.0)
        |      * sin((lon2 - lon1) * pi() / 360.0) * sin((lon2 - lon1) * pi() / 360.0))), 6)""".stripMargin
    QueryDef(
      "q_geo_lanes",
      s"""WITH geo AS (SELECT n_nationkey, n_name,
         |    CAST((n_nationkey * 37) % 120 - 60 AS DOUBLE) + 0.5 AS lat,
         |    CAST((n_nationkey * 91) % 360 - 180 AS DOUBLE) + 0.5 AS lon
         |  FROM nation),
         |lanes AS (SELECT s_nationkey AS src, c_nationkey AS dst,
         |    COUNT(*) AS n_items,
         |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev
         |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE s_nationkey <> c_nationkey
         |  GROUP BY 1, 2),
         |x AS (SELECT g1.n_name AS src_nation, g2.n_name AS dst_nation,
         |    l.n_items, l.rev, g1.lat AS lat1, g1.lon AS lon1, g2.lat AS lat2, g2.lon AS lon2
         |  FROM lanes l JOIN geo g1 ON l.src = g1.n_nationkey
         |  JOIN geo g2 ON l.dst = g2.n_nationkey)
         |SELECT src_nation, dst_nation, CAST(n_items AS BIGINT) AS n_items,
         |  CAST(rev AS DOUBLE) AS revenue,
         |  $haversineSql AS dist_km
         |FROM x""".stripMargin) { (s, dir) =>
      val geo = Tables.nation(s, dir).select(
        col("n_nationkey"), col("n_name"),
        expr("CAST((n_nationkey * 37) % 120 - 60 AS DOUBLE) + 0.5").as("lat"),
        expr("CAST((n_nationkey * 91) % 360 - 180 AS DOUBLE) + 0.5").as("lon"))
      val lanes = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .filter(col("s_nationkey") =!= col("c_nationkey"))
        .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
        .agg(count(lit(1)).as("n_items"),
          expr("SUM(CAST(l_extendedprice AS DECIMAL(12,2)))").as("rev"))
      val g1 = geo.select(col("n_nationkey").as("k1"), col("n_name").as("src_nation"),
        col("lat").as("lat1"), col("lon").as("lon1"))
      val g2 = geo.select(col("n_nationkey").as("k2"), col("n_name").as("dst_nation"),
        col("lat").as("lat2"), col("lon").as("lon2"))
      lanes.join(broadcast(g1), col("src") === col("k1"))
        .join(broadcast(g2), col("dst") === col("k2"))
        .select(col("src_nation"), col("dst_nation"),
          col("n_items").cast("long").as("n_items"),
          col("rev").cast("double").as("revenue"),
          expr(haversineSql).as("dist_km"))
    }
  }

  /** TRIANGLE COUNT over the co-supply graph: nodes = nations,
    * undirected edge {u,v} iff suppliers from u and v ever ship on the
    * same order. Triangle counting is the clustering-coefficient /
    * community-density primitive of distributed graph analytics.
    *
    * Scale shape: all the data-volume work is the edge derivation —
    * a key join to supplier (AQE-sized) and a DISTINCT-collapsed self
    * equi-join on the order key whose per-order fan-out is bounded by
    * the basket size. Triangles are then counted on the COLLAPSED
    * edge list with the standard ordered-orientation scheme (store
    * each edge once as u<v, join e(a,b)⋈e(b,c)⋈e(a,c) with a<b<c) so
    * every triangle is counted exactly once and the wedge join never
    * explodes along the high-degree direction; at billion-edge scale
    * the same query orients by degree instead of id, which is a
    * one-line change in the edge projection. */
  val triangles: QueryDef = QueryDef(
    "q_graph_triangles",
    """WITH sn AS (SELECT DISTINCT l_orderkey AS ok, s_nationkey AS n
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
      |e AS (SELECT DISTINCT a.n AS u, b.n AS v
      |  FROM sn a JOIN sn b ON a.ok = b.ok AND a.n < b.n),
      |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e e1 JOIN e e2 ON e1.v = e2.u
      |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT CAST((SELECT COUNT(*) FROM (SELECT u AS x FROM e UNION SELECT v FROM e)) AS BIGINT) AS n_nodes,
      |  CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
      |  CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles""".stripMargin) { (s, dir) =>
    val sn = Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      // dedup rides the self-join's ok exchange (r15, guide §2.4):
      // HashPartitioning(ok) satisfies the (ok, n) dedup's clustering,
      // so this is ONE exchange where distinct() + join took two
      .select(col("l_orderkey").as("ok"), col("s_nationkey").as("n"))
      .repartition(col("ok"))
      .dropDuplicates("ok", "n")
    val e = sn.as("a").join(sn.withColumnRenamed("n", "n2").as("b"),
        col("a.ok") === col("b.ok") && col("a.n") < col("b.n2"))
      .select(col("a.n").as("u"), col("n2").as("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tri = e.as("e1")
      .join(e.select(col("u").as("u2"), col("v").as("v2")).as("e2"), col("e1.v") === col("u2"))
      .join(e.select(col("u").as("u3"), col("v").as("v3")).as("e3"),
        col("u3") === col("e1.u") && col("v3") === col("v2"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("v2").as("c"))
    val nodes = e.select(col("u").as("x")).union(e.select(col("v").as("x"))).distinct()
    nodes.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** COMMON-NEIGHBOR JACCARD node similarity (the classic
    * link-prediction / entity-resolution score) over the co-supply
    * graph of [[triangles]]: for every nation pair sharing ≥1
    * neighbor, J(a,b) = |N(a)∩N(b)| / (deg(a)+deg(b)−|N∩|).
    *
    * Scale shape: after the one data-volume edge-derivation pass, the
    * intersection is the standard wedge equi-join on the shared
    * neighbor over the symmetrized adjacency (co-partitioned by the
    * neighbor key); degrees are a |V|-row aggregate joined back —
    * broadcast-sized at any graph where degrees fit a table. At
    * billion-edge scale the wedge join is degree-capped first; the
    * shape is unchanged. */
  val jaccardNodes: QueryDef = QueryDef(
    "q_graph_jaccard",
    """WITH sn AS (SELECT DISTINCT l_orderkey AS ok, s_nationkey AS n
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
      |e AS (SELECT DISTINCT a.n AS u, b.n AS v
      |  FROM sn a JOIN sn b ON a.ok = b.ok AND a.n < b.n),
      |adj AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
      |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
      |com AS (SELECT x.u AS a, y.u AS b, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM adj x JOIN adj y ON x.v = y.v AND x.u < y.u
      |  GROUP BY 1, 2)
      |SELECT a, b, c AS n_common,
      |  round(CAST(c AS DOUBLE) / (da.d + db.d - c), 6) AS jaccard
      |FROM com JOIN deg da ON da.u = a JOIN deg db ON db.u = b""".stripMargin) { (s, dir) =>
    val sn = Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      // dedup rides the self-join's ok exchange (r15, guide §2.4):
      // HashPartitioning(ok) satisfies the (ok, n) dedup's clustering,
      // so this is ONE exchange where distinct() + join took two
      .select(col("l_orderkey").as("ok"), col("s_nationkey").as("n"))
      .repartition(col("ok"))
      .dropDuplicates("ok", "n")
    // persist the COLLAPSED edge list: the union below and the wedge
    // join each reference it twice, and without the pin every branch
    // re-runs the order-key self-join (the data-volume pass)
    val e = sn.as("a").join(sn.withColumnRenamed("n", "n2").as("b"),
        col("a.ok") === col("b.ok") && col("a.n") < col("b.n2"))
      .select(col("a.n").as("u"), col("n2").as("v")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val adj = e.union(e.select(col("v"), col("u")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val com = adj.select(col("u").as("a"), col("v").as("nb"))
      .join(adj.select(col("u").as("b"), col("v").as("nb2")),
        col("nb") === col("nb2") && col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
    com.join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("c").as("n_common"),
        round(col("c").cast("double") / (col("da") + col("db") - col("c")), 6).as("jaccard"))
  }

  /** Shared co-purchase adjacency of the two BFS lanes: (src, dst) in
    * BOTH directions, deduped, persisted pre-partitioned on src.
    *
    * Exchange accounting (r15, guide §2.4 — the build dominated both
    * lanes): the old chain was li DISTINCT (exchange on (ok, pk)) →
    * self-join (second exchange on ok) → pair DISTINCT (third
    * exchange, ~1M (p1,p2) rows that do NOT collapse map-side at 20k
    * parts) → union both directions → repartition(src) (fourth
    * exchange, ~2M rows). This chain rides every dedup on an exchange
    * it needs anyway: HashPartitioning(ok) satisfies the (ok, pk)
    * dedup's ClusteredDistribution (subset rule), so dropDuplicates
    * after repartition(ok) adds NO exchange and the self-join reuses
    * the same exchange for both sides; emitting both directions in
    * the join (pk != pk2) makes the final repartition(src) +
    * dropDuplicates(src, dst) the ONLY other exchange. 4 exchanges →
    * 2, and the (p1,p2) distinct's ~1M-row shuffle is gone. */
  private def coPurchaseAdj(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(col("ok"))
      .dropDuplicates("ok", "pk")
    li.as("a").join(li.withColumnRenamed("pk", "pk2").as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("pk2"))
      .select(col("a.pk").as("src"), col("pk2").as("dst"))
      .repartition(col("src"))
      .dropDuplicates("src", "dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** One [[bfsHops]] round: the nodes first reached at hop `d` from
    * the `visited(node, dist)` generation — frontier equi-join, then
    * an anti-join against everything visited. */
  private def bfsRound(bi: org.apache.spark.sql.DataFrame,
      visited: org.apache.spark.sql.DataFrame, d: Int): org.apache.spark.sql.DataFrame =
    bi.join(visited.filter(col("dist") === (d - 1)).select(col("node")),
        col("src") === col("node"))
      .select(col("dst").as("node")).distinct()
      .join(visited.select(col("node").as("vn")),
        col("node") === col("vn"), "left_anti")
      .withColumn("dist", lit(d.toLong))

  // 1-row source — broadcast by AQE size rules, no hint needed
  private def bfsSource(bi: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bi.agg(min(col("src")).as("node")).withColumn("dist", lit(0L)).localCheckpoint(true)

  /** The first [[bfsHops]] round, which the per-round lineage cuts hide
    * from the lane's final plan — exposed so PlanAudit can assert the
    * round's join shapes. */
  private[graft] def bfsFirstRound(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val bi = coPurchaseAdj(s, dir)
    bfsRound(bi, bfsSource(bi), 1)
  }

  /** K-HOP BFS — single-source shortest hop distances (dist <= 3)
    * over the part CO-PURCHASE graph: parts are adjacent when some
    * order contains both. Source = the minimum part id in the graph;
    * output is every part reachable within 3 hops with its hop
    * distance — the k-hop-neighborhood primitive behind "related
    * items" expansion and graph feature extraction.
    *
    * Scale shape: ALL the data-volume work is the bounded per-order
    * pair fan-out (an order holds <= 13 parts, so the order-keyed
    * self-join emits <= 78 pairs per order) followed by one hash-agg
    * distinct; the three BFS rounds are each ONE keyed equi-join
    * (frontier -> neighbors) plus ONE anti-join against the visited
    * set — frontier-sized, never corpus-sized — materialized per
    * round as an eager lineage cut (the [[Fixpoint]] generation
    * discipline, shared with the convergence twin; r15 — the
    * previously-lazy unrolled plan re-canonicalized a depth-growing
    * tree at the final action and pinned every generation).
    * An unbounded-diameter BFS switches to the
    * [[Dedup.componentLabels]] checkpoint-per-round engine
    * ([[bfsConverge]]); the fixed-depth form is kept because k-hop is
    * itself the standard primitive and it is oracle-expressible as
    * chained CTEs.
    *
    * Determinism: distances are exact integers; the source is the
    * unique global minimum node id. */
  val bfsHops: QueryDef = {
    // one round: visited `prev(node, dist)` -> newly reached at dist d
    def duckRound(prev: String, d: Int): String =
      s"""SELECT DISTINCT b.dst AS node, $d AS dist FROM bi b
         |  JOIN $prev v ON b.src = v.node
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev x WHERE x.node = b.dst)""".stripMargin
    QueryDef(
      "q_graph_bfs",
      s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |ed AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
         |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |bi AS (SELECT p1 AS src, p2 AS dst FROM ed
         |  UNION ALL SELECT p2, p1 FROM ed),
         |v0 AS (SELECT MIN(p1) AS node, 0 AS dist FROM ed),
         |n1 AS (${duckRound("v0", 1)}),
         |v1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM n1),
         |n2 AS (${duckRound("v1", 2)}),
         |v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM n2),
         |n3 AS (${duckRound("v2", 3)}),
         |v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM n3)
         |SELECT CAST(node AS BIGINT) AS part_id, CAST(dist AS BIGINT) AS dist
         |FROM v3""".stripMargin) { (s, dir) =>
      val bi = coPurchaseAdj(s, dir)
      // Each round's visited generation is an EAGER lineage cut, not a
      // lazy persist (r15, the r10 plan-canonicalization lesson the
      // convergence twin already applied): the old single lazy plan
      // referenced round d's visited three times inside round d+1, so
      // the final action re-canonicalized a plan whose depth grew with
      // the hop count, and all three generations stayed pinned.
      // Checkpointing bounds the plan each round reads to a LogicalRDD
      // leaf and releases the superseded generation (≤ |V| rows each).
      var visited = bfsSource(bi)
      for (d <- 1 to 3) {
        val next = visited.union(bfsRound(bi, visited, d)).localCheckpoint(true)
        Fixpoint.release(visited)
        visited = next
      }
      visited.select(col("node").cast("long").as("part_id"),
        col("dist").cast("long").as("dist"))
    }
  }

  /** UNBOUNDED-DIAMETER BFS (VERDICT r8 #5) — the convergence variant
    * of [[bfsHops]]: same part co-purchase graph and source, but the
    * frontier expansion LOOPS UNTIL NO NEW NODE APPEARS instead of
    * unrolling a fixed depth, on the [[Fixpoint]] checkpoint-per-round
    * engine ([[Dedup.componentLabels]]'s plumbing): each round is ONE
    * job — frontier equi-join + anti-join vs visited, materialized by
    * an eager localCheckpoint whose `observe()` carries the visited
    * COUNT (the set only grows, so an unchanged count proves
    * convergence) — and the superseded visited generation's RDD is
    * released as soon as its successor exists (at most two pinned;
    * BfsLeakSpec). The adjacency persists pre-partitioned on the join
    * key once, so only the frontier-sized side moves per round.
    *
    * The 12-round guard is a loud-failure bound, not a semantic cap:
    * the measured source eccentricity is 2–3 at every SF (co-purchase
    * graphs are short); a regenerated dataset with diameter ≥ 12
    * fails the require rather than silently truncating. The oracle is
    * the recursive-CTE walk with the same guard — min(dist) per node
    * equals the BFS hop distance for any guard ≥ eccentricity. */
  val bfsConverge: QueryDef = QueryDef(
    "q_graph_bfs_conv",
    """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |ed AS (SELECT DISTINCT a.pk AS p1, b.pk AS p2
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |bi AS (SELECT p1 AS src, p2 AS dst FROM ed UNION ALL SELECT p2, p1 FROM ed),
      |walk(node, dist) AS (
      |  SELECT MIN(p1), 0 FROM ed
      |  UNION
      |  SELECT b.dst, w.dist + 1 FROM walk w JOIN bi b ON b.src = w.node
      |  WHERE w.dist < 12)
      |SELECT CAST(node AS BIGINT) AS part_id, CAST(MIN(dist) AS BIGINT) AS dist
      |FROM walk GROUP BY node""".stripMargin) { (s, dir) =>
    val bi = coPurchaseAdj(s, dir)
    var (visited, prevN) = Fixpoint.checkpointWith(
      bi.agg(min(col("src")).as("node")).withColumn("dist", lit(0L)),
      count(lit(1)))
    var d = 0
    var done = false
    while (!done && d < 12) {
      d += 1
      val fresh = bi
        .join(visited.filter(col("dist") === (d - 1)).select(col("node")),
          col("src") === col("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node").as("vn")),
          col("node") === col("vn"), "left_anti")
        .withColumn("dist", lit(d.toLong))
      val (next, n) = Fixpoint.checkpointWith(visited.union(fresh), count(lit(1)))
      Fixpoint.release(visited)
      visited = next
      done = n == prevN
      prevN = n
    }
    require(done, s"BFS did not converge within $d rounds (diameter >= 12?)")
    visited.select(col("node").cast("long").as("part_id"),
      col("dist").cast("long").as("dist"))
  }

  val defs: Seq[QueryDef] = Seq(pageRank, geoLanes, triangles, jaccardNodes, bfsHops,
    bfsConverge)
}
