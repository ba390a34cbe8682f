package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The co-purchase and trade graphs as corpus-scoped frames
  * ([[SharedCorpus]], keyed on lineitem + orders). Every graph key
  * derives from one of two base graphs — the co-purchase graph (parts
  * sharing an order) or the customer–supplier trade graph (orders ⋈
  * lineitem) — and until round 11 each key rebuilt its base edges from
  * the fact table per invocation: 8 of the full bench's 15 slowest keys
  * were graph keys paying the same baskets-self-join + distinct before
  * doing any actual graph work. Frames here are edge lists of id pairs, a
  * few MB per corpus at bench scales — never documents.
  */
private[graft] object SharedGraph {

  private def memo(spark: SparkSession, kind: String, dir: String)(
      plan: => DataFrame): DataFrame =
    SharedCorpus.memo(spark, kind, dir, "lineitem", "orders")(plan)

  /** Distinct (order, part) basket relation — the co-purchase fact core
    * (one shuffle over lineitem). */
  def baskets(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "baskets", dir)(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct())

  /** Co-purchase undirected edge set (u < v, distinct): parts appearing
    * in a common order. The baskets self-join + distinct this caches was
    * the per-key tax every co-purchase graph key paid. */
  def coPurchaseEdges(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "copurchase_und", dir) {
      val op = baskets(spark, dir)
      op.select(col("o"), col("p").as("u"))
        .join(op.select(col("o"), col("p").as("v")), "o")
        .filter(col("u") < col("v"))
        .select(col("u"), col("v")).distinct()
    }

  /** [[coPurchaseEdges]] exploded to BOTH directions and pre-partitioned
    * on the source endpoint `u` — the adjacency layout the BFS-style
    * traversals (graph_bfs, graph_path_counts, graph_closeness) iterate
    * over: HashPartitioning(u) satisfies every round's frontier join and
    * per-u aggregation, so after this one-time shuffle the rounds are
    * exchange-free. Memoized like the edge set — the layout is corpus
    * state, built once and traversed by many analytics. */
  def coPurchaseAdjByU(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "copurchase_adj_u", dir) {
      coPurchaseEdges(spark, dir)
        .select(explode(array(struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .repartition(col("u"))
    }

  /** Distinct (cust, supp) trading pairs — the bipartite trade relation
    * (orders ⋈ order-deduped lineitem + distinct). */
  def tradePairs(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "trade_pairs", dir) {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
    }

  /** The trade graph in unified node-id space (2·cust, 2·supp+1):
    * a narrow injective projection over [[tradePairs]] — distinctness is
    * preserved, no extra shuffle, no extra checkpoint. */
  def tradeEdges(spark: SparkSession, dir: String): DataFrame =
    tradePairs(spark, dir)
      .select((col("cust") * 2).as("src"), (col("supp") * 2 + 1).as("dst"))

  /** [[tradeEdges]] exploded undirected and pre-partitioned on `dst` —
    * the per-round aggregation key of the power-iteration keys
    * (graph_pagerank, graph_eigencentrality). HashPartitioning(dst)
    * survives the checkpoint (LogicalRDD carries outputPartitioning), so
    * every round's broadcast-rank join + groupBy(dst) stays
    * exchange-free; until round 12 each key rebuilt + re-checkpointed
    * this frame per invocation. */
  def tradeUndByDst(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "trade_und_dst", dir) {
      tradeEdges(spark, dir)
        .select(explode(array(struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("ed"))
        .select(col("ed.src").as("src"), col("ed.dst").as("dst"))
        .repartition(col("dst"))
    }

  /** Node degrees of the undirected trade graph (node-sized) — the
    * contribution divisor and rank-vector seed of graph_pagerank. */
  def tradeDeg(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "trade_deg", dir)(
      tradeUndByDst(spark, dir)
        .groupBy(col("src")).agg(count(lit(1)).as("d")))

  /** Top-5 co-purchase nodes by (degree desc, id asc) with their rank —
    * the shared BFS seed table (round 13). graph_closeness traverses from
    * all 5; graph_bfs and graph_path_counts traverse from rank 1 (their
    * `orderBy(desc(d), u).limit(1)` is by construction the first row of
    * this frame). 5 rows — model-sized. */
  def bfsSeeds(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "copurchase_bfs_seeds", dir) {
      val deg = coPurchaseAdjByU(spark, dir)
        .groupBy(col("u")).agg(count(lit(1)).as("d"))
      deg.orderBy(desc("d"), col("u")).limit(5)
        .withColumn("rk", row_number().over(org.apache.spark.sql.expressions
          .Window.partitionBy(lit(1)).orderBy(desc("d"), col("u"))))
        .select(col("u").as("seed"), col("d"), col("rk"))
    }

  /** 3-hop BFS frontier from the [[bfsSeeds]] — (seed, node, hop) with
    * hop = min #edges from that seed (0 ≤ hop ≤ 3), the exact per-round
    * min-hop fixpoint graph_closeness and graph_bfs both compute (bfs
    * reads the rank-1 seed's slice). Hops are exact integers, so sharing
    * the traversal is value-identical to each key running its own.
    * Built once per corpus; the per-round checkpoints bound the
    * self-union lineage during the ONE build. */
  def bfs3Dist(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "copurchase_bfs3", dir) {
      val edges = coPurchaseAdjByU(spark, dir)
      var dist = bfsSeeds(spark, dir)
        .select(col("seed"), col("seed").as("node"), lit(0L).as("hop"))
      (1 to 3).foreach { _ =>
        val next = edges.join(dist.withColumnRenamed("node", "u"), "u")
          .select(col("seed"), col("v").as("node"),
            (col("hop") + 1).as("hop"))
        dist = Eager(dist.unionByName(next)
          .groupBy(col("seed"), col("node"))
          .agg(min(col("hop")).as("hop")))
      }
      dist
    }

  /** Exact per-node degree table of the co-purchase graph (node, d) —
    * until round 13 every degree-consuming key (graph_triangles,
    * graph_clustering_coeff, graph_common_neighbors, graph_kcore round 0,
    * graph_degree_dist, graph_rich_club, graph_assortativity) re-ran the
    * same explode + keyed count per invocation (several also paying a
    * per-key Eager checkpoint job for it). Degrees are exact integer
    * counts over the same memoized edge set, so the shared table is
    * value-identical to each key's own derivation. |nodes|-sized. */
  def coPurchaseDeg(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "copurchase_deg", dir)(
      coPurchaseEdges(spark, dir)
        .select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("d")))

  /** Degree-ordered oriented co-purchase edges: each undirected edge
    * points from its lower-(degree, id) endpoint to the higher — the
    * O(√E)-bounded orientation graph_triangles and graph_clustering_coeff
    * both build (each previously paid the two degree joins plus its own
    * Eager checkpoint per invocation). The orientation is a deterministic
    * function of the integer degrees, so sharing it is value-identical. */
  /** Each [[coPurchaseOriented]] edge (src, dst) with both endpoints'
    * [[coPurchaseOutAdj]] lists as nu and nv: a triangle closes on each
    * node the two lists share. A sink dst has no list and drops out. */
  def closingNbrs(spark: SparkSession, dir: String): DataFrame = {
    val oriented = coPurchaseOriented(spark, dir)
    val adj = coPurchaseOutAdj(spark, dir)
    oriented
      .join(adj.select(col("src").as("u"), col("nbrs").as("nu")),
        col("src") === col("u"))
      .join(adj.select(col("src").as("v"), col("nbrs").as("nv")),
        col("dst") === col("v"))
  }

  /** `edges` (u, v) with each endpoint's degree from `deg` (node, d) as
    * du and dv, the small degree table broadcast to both sides. */
  def withDegrees(edges: DataFrame, deg: DataFrame): DataFrame =
    edges
      .join(broadcast(deg.select(col("node").as("u"), col("d").as("du"))),
        "u")
      .join(broadcast(deg.select(col("node").as("v"), col("d").as("dv"))),
        "v")

  def coPurchaseOriented(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "copurchase_oriented", dir) {
      val deg = coPurchaseDeg(spark, dir)
      val lowFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      withDegrees(coPurchaseEdges(spark, dir), deg)
        .select(when(lowFirst, col("u")).otherwise(col("v")).as("src"),
          when(lowFirst, col("v")).otherwise(col("u")).as("dst"))
    }

  /** Out-adjacency arrays of [[coPurchaseOriented]] (src, nbrs) — probed
    * as the wedge-closing lookup twice per key by graph_triangles and
    * graph_clustering_coeff. collect_list order is not deterministic, but
    * both consumers reduce the arrays order-insensitively
    * (array_intersect → size / keyed sum), so the shared frame cannot
    * change any declared value. Arrays are O(√E)-bounded by the
    * orientation; the frame is |nodes|-sized. */
  def coPurchaseOutAdj(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "copurchase_outadj", dir)(
      coPurchaseOriented(spark, dir).groupBy(col("src"))
        .agg(collect_list(col("dst")).as("nbrs")))

  /** Directed co-purchase pair counts (u ≠ v, c = #co-occurrence
    * orders) — the support/cosine core shared by assoc_rules and the
    * item-kNN recommender keys (the u<v half IS the association-rule
    * support by symmetry of the order self-join). */
  def coPurchasePairCounts(spark: SparkSession, dir: String): DataFrame =
    memo(spark, "copurchase_paircnt", dir) {
      val op = baskets(spark, dir)
      op.select(col("o"), col("p").as("u"))
        .join(op.select(col("o"), col("p").as("v")), "o")
        .filter(col("u") =!= col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
    }
}
