package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, least, min}
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Graph

class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val edges = Seq(
    (2L, 1L), (2L, 3L),           // chain 1-2-3
    (10L, 11L),                   // pair
    (20L, 21L), (21L, 22L), (22L, 20L) // triangle
  ).toDF("d1", "d2")

  private val expected = Map(
    1L -> 1L, 2L -> 1L, 3L -> 1L,
    10L -> 10L, 11L -> 10L,
    20L -> 20L, 21L -> 20L, 22L -> 20L)

  /** Distributed min-label propagation with pointer jumping until
    * fixpoint. Each round (a) pulls the min label across edges (one hop)
    * and (b) shortcuts label -> label-of-label, doubling the effective
    * propagation distance — O(log n) rounds even for chain-shaped
    * components, where plain propagation needs O(diameter). A graph that
    * hasn't converged within maxIter still FAILS loudly — returning
    * partial labels would silently split duplicate clusters. */
  private def iterativeMinLabel(edges0: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val src = edges0.columns(0)
    val dst = edges0.columns(1)
    val edges = edges0.select(col(src).as("s"), col(dst).as("t"))
      .union(edges0.select(col(dst).as("s"), col(src).as("t")))
      .cache()
    var labels = edges.select(col("s").as("vertex")).distinct()
      .withColumn("component", col("vertex")).cache()
    var changed = 1L
    var iter = 0
    try {
      while (changed > 0 && iter < maxIter) {
        // (a) one-hop neighbor min
        val prop = edges.join(labels, edges("s") === labels("vertex"))
          .groupBy(col("t").as("vertex")).agg(min("component").as("nc"))
        val hop = labels.join(prop, Seq("vertex"), "left")
          .select(col("vertex"),
            least(col("component"), coalesce(col("nc"), col("component")))
              .as("component"))
        // (b) pointer jump: component := component(component). The jump
        // references `hop` twice, so the logical plan would DOUBLE every
        // round; localCheckpoint (not cache — caching keeps the plan)
        // truncates lineage so round cost stays constant.
        val hopCk = hop.localCheckpoint(true)
        val parents = hopCk.select(col("vertex").as("p_vertex"),
          col("component").as("p_component"))
        val next = hopCk.join(parents, hopCk("component") === col("p_vertex"), "left")
          .select(hopCk("vertex"),
            least(hopCk("component"), coalesce(col("p_component"), hopCk("component")))
              .as("component"))
          .localCheckpoint(true)
        changed = next.join(
          labels.withColumnRenamed("component", "old"), "vertex")
          .filter(col("component") =!= col("old")).count()
        labels.unpersist() // previous round's blocks are dead now
        labels = next
        iter += 1
      }
      if (changed > 0) throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds — " +
          "pathological input; raise maxIter")
      // pin the result before dropping the edge cache it derives from
      val result = labels.localCheckpoint(true)
      result
    } finally {
      edges.unpersist()
      labels.unpersist()
    }
  }

  test("driver union-find labels components by min id") {
    val got = Graph.connectedComponents(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("iterative min-label propagation agrees with union-find") {
    // direct call: connectedComponents' distributed path routes to
    // large-star/small-star, which has its own tests below
    val got = iterativeMinLabel(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("distributed path of connectedComponents agrees with union-find") {
    val got = Graph.connectedComponents(spark, edges, driverMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("large-star/small-star agrees with union-find on the fixture") {
    val got = Graph.largeStarSmallStar(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("large-star/small-star converges on a 200-node chain") {
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = Graph.largeStarSmallStar(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200)
    assert(got.values.toSet == Set(0L))
  }

  test("property: all three strategies agree on seeded random graphs") {
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val es = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val df = es.toDF("d1", "d2")
      val uf = Graph.connectedComponents(spark, df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val lsss = Graph.largeStarSmallStar(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val iml = iterativeMinLabel(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lsss == uf, s"large/small-star vs union-find, seed=$seed")
      assert(iml == uf, s"min-label vs union-find, seed=$seed")
    }
  }

  test("large-star/small-star matches union-find on a 10k-edge random graph") {
    // non-toy scale for the distributed path: 4k vertices, 10k random
    // edges -> a few hundred multi-node components plus isolated chains
    val rnd = new scala.util.Random(2024)
    val n = 4000
    val es = Seq.fill(10000)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val df = es.toDF("d1", "d2")
    val uf = Graph.connectedComponents(spark, df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsss = Graph.largeStarSmallStar(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lsss == uf)
  }

  test("pointer jumping converges on a 200-node chain within the round cap") {
    // diameter 199: plain one-hop propagation would need 199 rounds and
    // trip the maxIter guard; pointer jumping needs ~log2(200)
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("d1", "d2")
    val got = iterativeMinLabel(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 200)
    assert(got.values.toSet == Set(0L))
  }
}
