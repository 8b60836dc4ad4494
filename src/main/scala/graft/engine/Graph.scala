package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the grouping step
  * of near-duplicate clustering (each component = one duplicate cluster,
  * labeled by its min vertex id).
  *
  * Two strategies, chosen by edge count:
  *
  *  - `driverUnionFind`: the near-dup graph is tiny relative to the
  *    corpus (its size tracks the duplicate rate, not the data volume),
  *    so below `driverMaxEdges` the edges are collected and solved with
  *    path-compressed union-find — one job, exact, no iteration.
  *  - `largeStarSmallStar`: the distributed path (Kiveris et al.,
  *    "Connected Components in MapReduce and Beyond", SoCC'14) — each
  *    round rewrites the EDGE set toward stars centered on component
  *    minima, so unlike label propagation the per-round state is edges
  *    (which only shrinks toward one-per-vertex), and convergence is
  *    O(log^2 n) rounds with every round a groupBy-on-vertex shuffle.
  *    This is the variant that survives edge-heavy graphs at 100 TB.
  */
object Graph {

  def connectedComponents(spark: SparkSession, edges0: DataFrame,
      driverMaxEdges: Long = 5000000L): DataFrame = {
    // edges may be an expensive derived plan (e.g. a shingle self-join);
    // cache it so the strategy-picking count() and the actual solve don't
    // each recompute the full upstream DAG
    val edges = edges0.cache()
    try {
      val n = edges.count()
      if (n <= driverMaxEdges) driverUnionFind(spark, edges)
      else largeStarSmallStar(edges)
    } finally edges.unpersist()
  }

  /** Exact union-find on collected edges (src, dst as first two columns). */
  private[engine] def driverUnionFind(spark: SparkSession,
      edges: DataFrame): DataFrame = {
    import spark.implicits._
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent(c); parent(c) = r; c = nxt
      }
      r
    }
    edges.select(col(edges.columns(0)).cast("long"),
      col(edges.columns(1)).cast("long"))
      .collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // min id becomes the root -> stable labels
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        } else if (!parent.contains(a)) parent(a) = ra
      }
    val members = parent.keySet ++ parent.values
    members.toSeq.map(v => (v, find(v))).toDF("vertex", "component")
  }

  /** Large-star/small-star alternation (Kiveris et al., SoCC'14).
    *
    * Per round, with N(u) = neighbors of u and m(u) = min(N(u) ∪ {u}):
    *  - '''large-star''': for every neighbor v > u, replace (u,v) with
    *    (v, m(u)) — strictly-larger neighbors re-attach to the minimum;
    *  - '''small-star''': direct edges large→small; for every (smaller)
    *    neighbor v of u, replace with (v, m(u)), and attach (u, m(u)).
    *
    * Both steps preserve connectivity and only ever LOWER the endpoint a
    * vertex attaches to, so the edge set converges to disjoint stars
    * centered on component minima. Labels then read straight off the
    * final edges. Every step is a groupBy/join keyed on vertex — the same
    * shuffle topology at any scale; per-round localCheckpoint truncates
    * the otherwise-doubling plan.
    *
    * Non-convergence within `maxIter` FAILS loudly — partial stars would
    * silently split duplicate clusters. */
  private[graft] def largeStarSmallStar(edges0: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val c0 = edges0.columns(0)
    val c1 = edges0.columns(1)
    // canonical undirected edge set: (a < b), self-loops dropped, deduped
    var edges = edges0.select(
        least(col(c0).cast("long"), col(c1).cast("long")).as("a"),
        greatest(col(c0).cast("long"), col(c1).cast("long")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    var iter = 0
    var converged = edges.isEmpty
    while (!converged && iter < maxIter) {
      // ---- large-star ----
      val und = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val mins = und.groupBy("u")
        .agg(min(least(col("v"), col("u"))).as("m"))
      val ls = und.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(least(col("v"), col("m")).as("a"),
          greatest(col("v"), col("m")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(true)
      // ---- small-star (edges directed large u -> small v) ----
      val dir = ls.select(col("b").as("u"), col("a").as("v"))
      val smins = dir.groupBy("u").agg(min("v").as("m"))
      val ss = dir.join(smins, "u")
        .select(col("v"), col("m")).filter(col("v") =!= col("m"))
        .select(least(col("v"), col("m")).as("a"),
          greatest(col("v"), col("m")).as("b"))
        .union(dir.join(smins, "u")
          .select(least(col("u"), col("m")).as("a"),
            greatest(col("u"), col("m")).as("b")))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(true)
      // fixpoint when the canonical edge set is unchanged (both distinct)
      converged = ss.count() == edges.count() &&
        ss.except(edges).isEmpty
      edges.unpersist()
      ls.unpersist()
      edges = ss
      iter += 1
    }
    if (!converged && iter >= maxIter) throw new IllegalStateException(
      s"large-star/small-star did not converge in $maxIter rounds — " +
        "pathological input; raise maxIter")
    // stars: every b is a leaf attached to its component min a
    edges.select(col("b").as("vertex"), col("a").as("component"))
      .union(edges.select(col("a").as("vertex"), col("a").as("component"))
        .distinct())
  }
}
