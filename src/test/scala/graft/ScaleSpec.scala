package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{ParquetTableSink, Skew, VersionedParquetSink, ZOrder}
import graft.PruningStats._

/** Scale-mechanics checks: salted-join equivalence and partition-pruned
  * reads of the partitioned sink layout. */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedJoin == plain join on a skewed fixture (inner and left)") {
    // 1000 rows of one hot key + a tail; small dimension side
    val probe = ((1 to 1000).map(i => ("hot", i)) ++
      (1 to 50).map(i => (s"k$i", i))).toDF("key", "v")
    val build = (Seq("hot") ++ (1 to 25).map(i => s"k$i"))
      .zipWithIndex.toDF("key", "dim")

    for (jt <- Seq("inner", "left")) {
      val plain = probe.join(build, Seq("key"), jt)
      val salted = Skew.saltedJoin(probe, build, "key", salt = 8, joinType = jt)
      assert(salted.count() == plain.count(), s"count mismatch for $jt")
      assert(salted.exceptAll(plain).count() == 0, s"rows differ for $jt")
      assert(plain.exceptAll(salted).count() == 0, s"rows differ for $jt")
    }
  }

  test("salted probe side actually spreads the hot key over sub-keys") {
    val probe = (1 to 1000).map(i => ("hot", i)).toDF("key", "v")
    val spreadCount = probe
      .withColumn("__salt",
        pmod(spark_partition_id() * 31 + monotonically_increasing_id(), lit(8)))
      .select("__salt").distinct().count()
    assert(spreadCount > 1, "hot key must fan out over multiple sub-keys")
  }

  test("saltedJoin fans the hot key's JOIN WORK over multiple shuffle partitions") {
    // AQE's partition coalescing would legitimately re-merge the tiny
    // test partitions and mask exactly the fan-out being asserted —
    // disable it for this check only (at scale the partitions are not
    // tiny and coalescing keeps them separate).
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val probe = ((1 to 2000).map(i => ("hot", i)) ++
        (1 to 50).map(i => (s"k$i", i))).toDF("key", "v").repartition(4)
      val build = (Seq("hot") ++ (1 to 25).map(i => s"k$i"))
        .zipWithIndex.toDF("key", "dim")
      def partsPerKey(joined: org.apache.spark.sql.DataFrame): Map[String, Long] =
        joined.withColumn("pid", spark_partition_id())
          .groupBy("key").agg(countDistinct("pid").as("nparts"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // plain shuffle join: every row of the hot key lands in ONE task
      val plain = probe.join(build.hint("shuffle_hash"), Seq("key"))
      assert(partsPerKey(plain)("hot") == 1L)
      // salted (same forced shuffle join): the hot key's join executes
      // across several partitions because the shuffle keys on (key, salt)
      val salted = Skew.saltedJoin(probe, build.hint("shuffle_hash"), "key",
        salt = 8)
      val got = partsPerKey(salted)("hot")
      assert(got > 1L, s"hot key still confined to $got partition(s)")
      // row identity on the same fixture (the point of the whole trick)
      assert(salted.exceptAll(probe.join(build, Seq("key"))).count() == 0)
      assert(probe.join(build, Seq("key")).exceptAll(salted).count() == 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("adaptiveJoin: salts only past the skew threshold, rows identical either way") {
    // skewed fixture: one hot key owns ~95% of the probe rows
    val hot = ((1 to 5000).map(i => ("hot", i)) ++
      (1 to 250).map(i => (s"k${i % 50}", i))).toDF("key", "v")
    val uniform = (1 to 5000).map(i => (s"k${i % 500}", i)).toDF("key", "v")
    val dim = (Seq("hot") ++ (1 to 500).map(i => s"k$i")).zipWithIndex
      .toDF("key", "dim")

    assert(Skew.topKeyShare(hot, "key") > 0.5)
    assert(Skew.topKeyShare(uniform, "key") < 0.1)

    // skewed probe: the adaptive plan IS the salted plan...
    val salted = Skew.adaptiveJoin(hot, dim, "key", salt = 8)
    assert(salted.queryExecution.analyzed.toString.contains("__salt"),
      "skewed probe should take the salted path")
    // ...and stays row-identical to the plain join
    val plain = hot.join(dim, Seq("key"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)

    // uniform probe: the plan is the untouched equi-join (no salt cost)
    val untouched = Skew.adaptiveJoin(uniform, dim, "key", salt = 8)
    assert(!untouched.queryExecution.analyzed.toString.contains("__salt"),
      "uniform probe must not pay the salted fan-out")

    // the hot key's join work spreads over multiple shuffle partitions
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val parts = Skew.adaptiveJoin(hot.repartition(4), dim.hint("shuffle_hash"),
          "key", salt = 8)
        .withColumn("pid", spark_partition_id())
        .filter(col("key") === "hot")
        .select("pid").distinct().count()
      assert(parts >= 4, s"hot key confined to $parts partitions (salt=8)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("bucketed tables: co-located join plans with NO shuffle exchange") {
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val facts = (1 to 1000).map(i => (i.toLong % 100, s"f$i")).toDF("key", "a")
      val dims = (1 to 500).map(i => (i.toLong % 100, i)).toDF("key", "b")
      graft.engine.Bucketing.writeBucketed(facts, "bk_facts", "key", 4)
      graft.engine.Bucketing.writeBucketed(dims, "bk_dims", "key", 4)

      val joined = spark.table("bk_facts").join(spark.table("bk_dims"), "key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      // positive control: the same join on unbucketed data DOES shuffle
      val unbucketed = facts.join(dims, "key")
      assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange"))
      // and the result is right
      assert(joined.count() == 1000L * 5)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS bk_facts")
      spark.sql("DROP TABLE IF EXISTS bk_dims")
    }
  }

  test("IVF layout: cell-partitioned vectors give a partition-pruned probe") {
    // materialized IVF: vectors written under cell=N directories; a
    // probe-1 search scans ONLY its cell's directory — the storage-level
    // realization of q_ivf_search's N/k cost shape
    val store = TestSpark.tmpDir("ivfstore")
    val sink = new ParquetTableSink(store)
    val vecs = (1 to 100).map(i => (i.toLong, i % 8, s"v$i"))
      .toDF("vec_id", "cell", "payload")
    sink.appendPartitioned(vecs, "ivf", Seq("cell"))
    val probe = sink.read(spark, "ivf").filter(col("cell") === 3)
    assert(probe.count() == 13)
    // (inputFiles reflects the pre-pruning listing, so the plan's
    // PartitionFilters is the authoritative pruning evidence)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(cell"),
      s"expected cell partition filter in:\n$plan")
  }

  test("partitioned sink: hive layout + partition-pruned scan") {
    val store = TestSpark.tmpDir("pstore")
    val sink = new ParquetTableSink(store)
    val df = Seq(
      ("a", "2024-02-01", 1), ("b", "2024-02-01", 2),
      ("c", "2024-02-02", 3)).toDF("id", "day", "v")
    sink.appendPartitioned(df, "events_p", Seq("day"))

    assert(new java.io.File(s"$store/events_p/day=2024-02-01").isDirectory)

    val read = sink.read(spark, "events_p").filter(col("day") === "2024-02-01")
    assert(read.count() == 2)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"expected partition filters in:\n$plan")
  }

  test("z-ordered layout: BOTH columns' predicates cluster into few files") {
    // two independent uniform dimensions; a single-column sort gives
    // locality to one of them, z-order to both
    val rng = new scala.util.Random(7)
    val data = (1 to 20000)
      .map(_ => (rng.nextInt(1000), rng.nextInt(1000), rng.nextInt()))
      .toDF("a", "b", "payload")
    val files = 16

    val linear = TestSpark.tmpDir("zo_linear")
    data.repartitionByRange(files, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(linear)
    val zordered = TestSpark.tmpDir("zo_z")
    ZOrder.writeZOrdered(data, "a", "b", zordered, numFiles = files)

    def filesTouched(path: String, pred: org.apache.spark.sql.Column): Long =
      spark.read.parquet(path).filter(pred)
        .select(col("_metadata.file_path")).distinct().count()

    val predA = col("a").between(100, 149) // 5% slice of a
    val predB = col("b").between(700, 749) // 5% slice of b

    // correctness first: both layouts return identical row sets
    for (p <- Seq(predA, predB)) {
      val l = spark.read.parquet(linear).filter(p)
      val z = spark.read.parquet(zordered).filter(p)
      assert(l.exceptAll(z).isEmpty && z.exceptAll(l).isEmpty)
    }

    // the a-sorted layout serves a-predicates from few files but spreads
    // b-predicates over all of them; the z-ordered layout bounds both
    assert(filesTouched(linear, predA) <= 2)
    assert(filesTouched(linear, predB) == files.toLong)
    assert(filesTouched(zordered, predA) <= files / 2,
      s"z-layout lost a-locality: ${filesTouched(zordered, predA)}")
    assert(filesTouched(zordered, predB) <= files / 2,
      s"z-layout lost b-locality: ${filesTouched(zordered, predB)}")
  }

  test("data skipping: selective predicates through the versioned sink open few files") {
    val store = TestSpark.tmpDir("dskip")
    val sink = new VersionedParquetSink(store)
    // 8 one-file appends of disjoint id ranges and distinct name prefixes;
    // batch 7's tag is all-null (null-count pruning fixture)
    for (b <- 0 until 8) {
      val df = ((b * 1000) until ((b + 1) * 1000))
        .map(i => (i.toLong, s"${('a' + b).toChar}$i",
          if (b == 7) null else s"t$b"))
        .toDF("id", "name", "tag").coalesce(1)
      sink.append(df, "docs")
    }
    def check(pred: org.apache.spark.sql.Column, maxKept: Int): Unit = {
      val (kept, total) = sink.pruningStats(spark, "docs", pred)
      assert(total == 8, s"expected 8 files, saw $total")
      assert(kept <= maxKept, s"pred $pred kept $kept of $total files")
      val skip = sink.readWhere(spark, "docs", pred)
      val full = sink.read(spark, "docs").filter(pred)
      assert(skip.exceptAll(full).isEmpty && full.exceptAll(skip).isEmpty,
        s"pruned read diverges for $pred")
    }
    check(col("id") === 4500L, 1) // point lookup: 1 of 8
    check(col("id") > 5999L, 2) // range: top quarter
    check(col("id").between(2100, 2900) && col("tag").isNotNull, 1)
    check(col("name") === "e4321", 1) // string stats, utf8 order
    check(col("id").isin(100L, 7100L), 2)
    check(col("tag").isNull, 1) // null-count stats: only the all-null file
    check(col("id") === -5L, 0) // impossible: zero files, empty result
    // conservative fallback: a shape the pruner doesn't model scans all
    val (keptAll, _) = sink.pruningStats(spark, "docs", expr("id % 7 = 0"))
    assert(keptAll == 8)
    check(expr("id % 7 = 0"), 8) // ...and still returns the right rows
  }

  test("z-order + data skipping compose: either column's predicate opens few sink files") {
    // the two halves of the read-path win: z-order clusters each output
    // file into a tight range of BOTH columns; the sink's per-file stats
    // then let readWhere open only the intersecting files
    val rng = new scala.util.Random(13)
    val data = (1 to 20000)
      .map(_ => (rng.nextInt(1000), rng.nextInt(1000), rng.nextInt()))
      .toDF("a", "b", "payload")
    val store = TestSpark.tmpDir("zskip")
    val sink = new VersionedParquetSink(store)
    sink.append(ZOrder.zOrdered(data, "a", "b", numFiles = 16), "t")

    val predA = col("a").between(100, 149) // 5% slice of a
    val predB = col("b").between(700, 749) // 5% slice of b
    for (p <- Seq(predA, predB)) {
      val (kept, total) = sink.pruningStats(spark, "t", p)
      assert(total == 16, s"expected 16 files, saw $total")
      assert(kept <= 8, s"z+stats should halve the scan for $p: $kept/$total")
      val skip = sink.readWhere(spark, "t", p)
      val full = sink.read(spark, "t").filter(p)
      assert(skip.exceptAll(full).isEmpty && full.exceptAll(skip).isEmpty)
    }
  }

  test("data skipping survives delete + compaction (stats re-derived on rewrite)") {
    val store = TestSpark.tmpDir("dskip_rw")
    val sink = new VersionedParquetSink(store)
    for (b <- 0 until 4) {
      val df = ((b * 100) until ((b + 1) * 100)).map(i => (i.toLong, i * 2))
        .toDF("id", "v").coalesce(1)
      sink.append(df, "t")
    }
    sink.delete(spark, "t", col("id") < 50L)
    sink.compact(spark, "t", targetFiles = Some(4))
    val pred = col("id") === 350L
    val skip = sink.readWhere(spark, "t", pred)
    val full = sink.read(spark, "t").filter(pred)
    assert(skip.exceptAll(full).isEmpty && full.exceptAll(skip).isEmpty)
    // stats must be re-derived on every rewrite: an impossible predicate
    // prunes to ZERO files iff the compaction commit carries stats (a
    // stats-less dir is always kept by the conservative fallback)
    val (keptNone, total) = sink.pruningStats(spark, "t", col("id") === -1L)
    assert(total >= 1)
    assert(keptNone == 0, s"rewrite lost its stats: kept $keptNone of $total")
    // time-traveled skipping reads pre-delete rows
    assert(sink.readAtWhere(spark, "t", 3, col("id") === 10L).count() == 1)
    assert(sink.readWhere(spark, "t", col("id") === 10L).count() == 0)
  }

  test("zValueN interleaves round-robin: bit i of column k at position i*N+k") {
    val row = spark.range(1).select(
      graft.engine.ZOrder.zValueN(Seq(lit(1L), lit(1L), lit(1L)), bits = 1).as("a"),
      graft.engine.ZOrder.zValueN(Seq(lit(2L), lit(0L), lit(1L)), bits = 2).as("b"),
      // 2-column form must equal the documented pairwise layout
      graft.engine.ZOrder.zValue(lit(3L), lit(1L), bits = 2).as("c")).head()
    assert(row.getLong(0) == 7L)  // 0b111
    assert(row.getLong(1) == 12L) // c0 bit1 -> pos 3 (8), c2 bit0 -> pos 2 (4)
    assert(row.getLong(2) == 7L)  // a bits at 0,2 (5) | b bit at 1 (2)
  }

  test("quantile z-order keeps locality on a SKEWED column where min-max collapses") {
    // RANGE skew: a is uniform in [0,1000) except one 10^9 outlier. The
    // outlier stretches min-max's scale so the entire real mass lands in
    // bucket 0 — column a's locality is gone and any a-predicate
    // scatters by b across all files. Equi-depth boundaries ignore the
    // outlier (it is one row of mass) and keep a's locality.
    val rng = new scala.util.Random(11)
    val data = ((1 to 20000).map { _ =>
      (rng.nextInt(1000), rng.nextInt(1000), rng.nextInt())
    } :+ ((1000000000, 0, 0))).toDF("a", "b", "payload")
    val files = 16

    val minmax = TestSpark.tmpDir("zq_minmax")
    graft.engine.ZOrder.writeZOrdered(data, "a", "b", minmax, numFiles = files)
    val quant = TestSpark.tmpDir("zq_quant")
    graft.engine.ZOrder.writeZOrderedQuantile(data, "a", "b", quant,
      numFiles = files)

    def filesTouched(path: String, pred: org.apache.spark.sql.Column): Long =
      spark.read.parquet(path).filter(pred)
        .select(col("_metadata.file_path")).distinct().count()

    val dense = col("a").between(100, 149) // 5% slice inside the real mass
    val m = spark.read.parquet(minmax).filter(dense)
    val q = spark.read.parquet(quant).filter(dense)
    assert(m.exceptAll(q).isEmpty && q.exceptAll(m).isEmpty)

    val mTouched = filesTouched(minmax, dense)
    val qTouched = filesTouched(quant, dense)
    // min-max: all 20k real rows share bucket 0, z scatters them by b
    assert(mTouched >= files - 2, s"expected min-max to scatter: $mTouched")
    assert(qTouched <= files / 2,
      s"quantile layout should bound the dense predicate: $qTouched vs $mTouched")
  }
}
