package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.VersionedParquetSink
import graft.PruningStats._

/** `format("graft")`: the sink as a first-class Spark data source —
  * commit-log stats pruning inside the PLANNER's own file listing,
  * vectorized parquet below, logical schema under column mapping. */
class GraftDataSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect() // execute so AQE finalizes and metrics fill
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan):
        org.apache.spark.sql.execution.SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    unwrap(df.queryExecution.executedPlan).collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
  }

  test("read/write round trip, time travel options, write modes") {
    val base = TestSpark.tmpDir("ds1")
    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .write.format("graft").mode("append").save(s"$base/t") // v0
    Seq((3, "c")).toDF("id", "v")
      .write.format("graft").mode("append").save(s"$base/t") // v1
    val df = spark.read.format("graft").load(s"$base/t")
    assert(df.orderBy("id").collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    // versionAsOf
    assert(spark.read.format("graft").option("versionAsOf", 0)
      .load(s"$base/t").count() == 2)
    // timestampAsOf (all commits are in the past by now)
    assert(spark.read.format("graft")
      .option("timestampAsOf", java.time.Instant.now.toString)
      .load(s"$base/t").count() == 3)
    // ignore no-ops on an existing table; errorifexists throws
    Seq((9, "z")).toDF("id", "v")
      .write.format("graft").mode("ignore").save(s"$base/t")
    assert(spark.read.format("graft").load(s"$base/t").count() == 3)
    intercept[IllegalStateException] {
      Seq((9, "z")).toDF("id", "v")
        .write.format("graft").mode("errorifexists").save(s"$base/t")
    }
  }

  test("readChangeFeed options serve the CDF rows (Delta's reader shape)") {
    val base = TestSpark.tmpDir("gds-cdf")
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), "t") // v0
    sink.append(Seq((3, "c")).toDF("id", "v"), "t")           // v1
    sink.delete(spark, "t", col("id") === 1)                  // v2 rewrite
    // startingVersion is INCLUSIVE; endingVersion defaults to latest
    val all = spark.read.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", 1)
      .load(s"$base/t")
      .select("id", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq
    assert(all == Seq((1, "delete"), (3, "insert")),
      s"changes v1..latest wrong: $all")
    // bounded range: only v1's append
    val v1 = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", 1).option("endingVersion", 1)
      .load(s"$base/t")
      .select("id", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(v1 == Seq((3, "insert")), s"changes v1..v1 wrong: $v1")
    // missing startingVersion fails loudly
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .load(s"$base/t")
    }
    // combining the feed with a time-travel pin is a conflict (Delta
    // rejects it too) — not a silent preference for one of them
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", 1).option("versionAsOf", 1)
        .load(s"$base/t")
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", 1)
        .option("timestampAsOf", "2026-01-01T00:00:00Z")
        .load(s"$base/t")
    }
  }

  test("planner-integrated stats pruning: selective filter opens fewer files") {
    val base = TestSpark.tmpDir("ds2")
    val sink = new VersionedParquetSink(base)
    // three single-file commits with disjoint id ranges
    Seq.tabulate(3) { k =>
      sink.append(Seq.tabulate(10)(i => (k * 100 + i, s"r$i"))
        .toDF("id", "v").coalesce(1), "t")
    }
    val all = spark.read.format("graft").load(s"$base/t")
    val full = scanOf(all)
    val total = full.metrics("numFiles").value
    assert(total == 3, s"expected 3 files, scanned $total")
    val hit = spark.read.format("graft").load(s"$base/t")
      .filter(col("id") === 105)
    val scan = scanOf(hit)
    assert(scan.metrics("numFiles").value == 1,
      s"stats pruning dead: ${scan.metrics("numFiles").value} of $total files")
    assert(hit.collect().map(_.getInt(0)).toSeq == Seq(105))
    // row-group pushdown still reaches parquet (PushedFilters non-empty)
    assert(scan.metadata("PushedFilters").contains("EqualTo"),
      scan.metadata("PushedFilters"))
    // and the scan stays vectorized (batched)
    assert(scan.supportsColumnar, "scan fell off the vectorized path")
  }

  test("column mapping: logical schema, filter + prune on renamed column") {
    val base = TestSpark.tmpDir("ds3")
    val sink = new VersionedParquetSink(base)
    Seq.tabulate(3) { k =>
      sink.append(Seq.tabulate(10)(i => (k * 100 + i, s"r$i"))
        .toDF("id", "v").coalesce(1), "t")
    }
    sink.renameColumn(spark, "t", "id", "doc_id")
    val df = spark.read.format("graft").load(s"$base/t")
    assert(df.columns.toSeq == Seq("doc_id", "v"))
    val hit = df.filter(col("doc_id") === 205)
    val scan = scanOf(hit)
    assert(scan.metrics("numFiles").value == 1,
      "stats pruning dead under column mapping")
    assert(hit.collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq(205 -> "r5"))
    // writes through the format speak the logical schema too
    Seq((300, "w")).toDF("doc_id", "v")
      .write.format("graft").mode("append").save(s"$base/t")
    assert(spark.read.format("graft").load(s"$base/t")
      .filter(col("doc_id") === 300).count() == 1)
  }

  test("governance rides the format write path") {
    val base = TestSpark.tmpDir("ds4")
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((1, 10, 20)).toDF("id", "n", "n2"), "t")
    sink.addConstraint(spark, "t", "n_pos", "n > 0")
    sink.setGeneratedColumn(spark, "t", "n2", "n * 2")
    // generated column computed on a format write omitting it
    Seq((2, 4)).toDF("id", "n")
      .write.format("graft").mode("append").save(s"$base/t")
    assert(spark.read.format("graft").load(s"$base/t")
      .filter(col("id") === 2).head().getInt(2) == 8)
    // CHECK constraint enforced on a format write
    intercept[Exception] {
      Seq((3, -1)).toDF("id", "n")
        .write.format("graft").mode("append").save(s"$base/t")
    }
    assert(spark.read.format("graft").load(s"$base/t").count() == 2)
  }

  test("live deletion vectors compose with format(\"graft\") reads") {
    val base = TestSpark.tmpDir("ds5")
    val sink = new VersionedParquetSink(base)
    sink.append((1 to 10).map(i => (i, s"r$i")).toDF("id", "v")
      .coalesce(1), "t")
    sink.deleteVectored(spark, "t", col("id") === 3 || col("id") === 7)
    // the masked read holds exactly the unmasked ids
    val viaFormat = spark.read.format("graft").load(s"$base/t")
    assert(viaFormat.collect().map(_.getInt(0)).sorted.toSeq ==
      (1 to 10).filterNot(Set(3, 7)))
    assert(viaFormat.count() == 8)
    // predicates still answer correctly over masked files (the full
    // filter re-applies above the scan; pushdown is withheld per file)
    assert(viaFormat.filter(col("id") === 3).count() == 0)
    assert(viaFormat.filter(col("id") >= 5).count() == 5)
    // a merge-on-read UPDATE commit (data dir + _dv mask) composes too
    sink.updateVectored(spark, "t", col("id") === 5,
      Map("v" -> org.apache.spark.sql.functions.lit("updated")))
    val afterUpdate = spark.read.format("graft").load(s"$base/t")
    assert(afterUpdate.count() == 8)
    assert(afterUpdate.filter(col("id") === 5).head().getString(1)
      == "updated")
    sink.compact(spark, "t") // materialized: back to the batched path
    assert(spark.read.format("graft").load(s"$base/t").count() == 8)
  }

  test("executor-resolved masks: a large multi-file DV has no driver bound") {
    // The old design collected every masked position to the driver and
    // hard-failed past 64 MiB of mask; now planning collects only the
    // masked-file SET and each task loads its own file's positions from
    // the (path,pos)-sorted mask parquet. This pins the behavior: a mask
    // touching many files and hundreds of thousands of rows plans and
    // reads correctly, and ONLY the masked files lose their pushed
    // filters/splittability.
    val base = TestSpark.tmpDir("ds5c")
    val sink = new VersionedParquetSink(base)
    sink.append((1 to 300000).map(i => (i, i % 97))
      .toDF("id", "bucket").repartition(8), "t")
    // mask ~37% of the rows across every data file, in two DV commits
    sink.deleteVectored(spark, "t", col("bucket") < 30)
    sink.deleteVectored(spark, "t", col("bucket") === 96)
    val expected = (1 to 300000).count(i => i % 97 >= 30 && i % 97 != 96)
    val viaFormat = spark.read.format("graft").load(s"$base/t")
    assert(viaFormat.count() == expected.toLong)
    assert(viaFormat.agg(org.apache.spark.sql.functions.sum("id"))
      .head().getLong(0) ==
      (1 to 300000).filter(i => i % 97 >= 30 && i % 97 != 96)
        .map(_.toLong).sum)
    // a sample slice holds exactly the unmasked ids
    assert(viaFormat.filter(col("id") <= 1000).collect()
      .map(_.getInt(0)).sorted.toSeq ==
      (1 to 1000).filter(i => i % 97 >= 30 && i % 97 != 96))
  }

  test("stats skipping stays engaged while a deletion vector is live") {
    val base = TestSpark.tmpDir("ds5b")
    val sink = new VersionedParquetSink(base)
    // three single-file commits with disjoint id ranges
    Seq.tabulate(3) { k =>
      sink.append(Seq.tabulate(10)(i => (k * 100 + i, s"r$i"))
        .toDF("id", "v").coalesce(1), "t")
    }
    sink.deleteVectored(spark, "t", col("id") === 105)
    val df = spark.read.format("graft").load(s"$base/t")
      .filter(col("id") === 104)
    df.collect()
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan):
        org.apache.spark.sql.execution.SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val scan = unwrap(df.queryExecution.executedPlan).collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.metrics("numFiles").value == 1,
      s"stats pruning lost under live DV: ${scan.metrics("numFiles").value}")
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(104))
    // and the masked row stays masked even in the pruned file's commit
    assert(spark.read.format("graft").load(s"$base/t")
      .filter(col("id").between(100, 109)).count() == 9)
  }

  test("SQL DDL face: CREATE TABLE ... USING graft") {
    val base = TestSpark.tmpDir("ds7")
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), "t")
    spark.sql("DROP TABLE IF EXISTS gds_sql")
    spark.sql(s"CREATE TABLE gds_sql USING graft OPTIONS (path '$base/t')")
    try {
      assert(spark.sql("SELECT count(*) AS n FROM gds_sql")
        .head().getLong(0) == 2L)
      // plain SQL sees new commits (the catalog re-resolves the relation)
      sink.append(Seq((3, "c")).toDF("id", "v"), "t")
      spark.sql("REFRESH TABLE gds_sql")
      assert(spark.sql("SELECT max(id) AS m FROM gds_sql")
        .head().getInt(0) == 3)
      // INSERT INTO would bypass the commit log — it must fail LOUDLY
      // (not drop invisible files), pointing at the governed write path
      val e = intercept[Exception] {
        spark.sql("INSERT INTO gds_sql VALUES (4, 'd')")
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("commit log")), e)
      assert(sink.read(spark, "t").count() == 3) // nothing half-written
    } finally spark.sql("DROP TABLE IF EXISTS gds_sql")
  }

  test("ALTER TABLE ADD COLUMN is metadata-only; old rows read NULL") {
    val base = TestSpark.tmpDir("ds8")
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((1, "a")).toDF("id", "v"), "t")
    val files = new java.io.File(s"$base/t").listFiles
      .filter(_.getName.startsWith("d-")).flatMap(_.listFiles).length
    sink.addColumn(spark, "t", "score",
      org.apache.spark.sql.types.DoubleType)
    assert(new java.io.File(s"$base/t").listFiles
      .filter(_.getName.startsWith("d-")).flatMap(_.listFiles).length ==
      files, "ADD COLUMN touched data files")
    val df = spark.read.format("graft").load(s"$base/t")
    assert(df.columns.toSeq == Seq("id", "v", "score"))
    assert(df.head().isNullAt(2))
    // appends now carry the column; duplicate add is rejected
    sink.append(Seq((2, "b", 0.5)).toDF("id", "v", "score"), "t")
    assert(sink.read(spark, "t").count() == 2)
    intercept[IllegalArgumentException] {
      sink.addColumn(spark, "t", "score",
        org.apache.spark.sql.types.DoubleType)
    }
    // on a MAPPED table the new column gets a fresh col-* physical name
    sink.renameColumn(spark, "t", "v", "label")
    sink.addColumn(spark, "t", "extra",
      org.apache.spark.sql.types.LongType)
    assert(sink.columnMappingOf(spark, "t")("extra").startsWith("col-"))
    sink.append(Seq((3, "c", 1.0, 7L)).toDF("id", "label", "score", "extra"),
      "t")
    assert(sink.read(spark, "t").filter(col("id") === 3)
      .head().getLong(3) == 7L)
  }

  test("write-side z-order option composes with read-side skipping") {
    val base = TestSpark.tmpDir("ds9")
    // interleaved values on both columns: without clustering, every
    // file would span the whole range of each
    val n = 4096
    val df = spark.range(n).selectExpr("cast(id % 64 as double) AS x",
      "cast(cast(id / 64 as int) as double) AS y", "id AS payload")
    df.write.format("graft").option("zorderBy", "x,y")
      .mode("append").save(s"$base/t")
    val sink = new VersionedParquetSink(base)
    val (kx, total) = sink.pruningStats(spark, "t",
      col("x") === 3.0)
    val (ky, _) = sink.pruningStats(spark, "t", col("y") === 3.0)
    assert(total >= 4, s"expected multiple files, got $total")
    assert(kx <= total / 2 && ky <= total / 2,
      s"z-order write did not tighten stats: x $kx/$total, y $ky/$total")
    // and the values survive the clustering byte-for-byte
    assert(spark.read.format("graft").load(s"$base/t").count() == n)
    // three-column interleave: every column's point predicate prunes
    val df3 = spark.range(n).selectExpr(
      "cast(id % 16 as double) AS x",
      "cast(cast(id / 16 as int) % 16 as double) AS y",
      "cast(cast(id / 256 as int) as double) AS z", "id AS payload")
    // 16 files = 4 z-prefix bits over 3 columns: each column holds at
    // least one high interleave bit, so every point predicate prunes;
    // the per-column guarantee is necessarily weaker than 2-col
    df3.write.format("graft").option("zorderBy", "x, y, z")
      .option("zorderFiles", "16").mode("append").save(s"$base/t3")
    val s3 = new VersionedParquetSink(base)
    Seq("x", "y", "z").foreach { c =>
      val (k, t) = s3.pruningStats(spark, "t3", col(c) === 3.0)
      assert(t >= 8 && k <= t * 2 / 3, s"3-col z-order: $c kept $k/$t")
    }
  }

  test("OPTIMIZE ZORDER: maintenance re-layout tightens stats in place") {
    val base = TestSpark.tmpDir("ds10")
    val sink = new VersionedParquetSink(base)
    // many interleaved appends: every file spans both full ranges
    val n = 4096
    (0 until 4).foreach { k =>
      sink.append(spark.range(k, n, 4).selectExpr(
        "cast(id % 64 as double) AS x",
        "cast(cast(id / 64 as int) as double) AS y", "id AS payload"), "t")
    }
    val (kBefore, tBefore) = sink.pruningStats(spark, "t", col("x") === 3.0)
    assert(kBefore == tBefore, "interleaved appends should not prune")
    val v = sink.optimizeZOrder(spark, "t", Seq("x", "y"), numFiles = 16)
    // content identical, layout clustered: both columns now prune
    assert(sink.read(spark, "t").count() == n)
    Seq("x", "y").foreach { c =>
      val (k, t) = sink.pruningStats(spark, "t", col(c) === 3.0)
      assert(t >= 4 && k <= t / 2, s"OPTIMIZE ZORDER dead on $c: $k/$t")
    }
    // content-preserving: a streaming tail across it re-delivers nothing
    val (cursor, batch) = sink.streamSince(spark, "t", v - 1)
    assert(cursor == v && batch.isEmpty,
      "OPTIMIZE ZORDER must be invisible to CDC consumers")
    // time travel below the optimize still resolves
    assert(sink.readAt(spark, "t", 0).count() == n / 4)
  }

  test("snapshot isolation: a planned frame ignores later commits") {
    val base = TestSpark.tmpDir("ds6")
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((1, "a")).toDF("id", "v"), "t")
    val df = spark.read.format("graft").load(s"$base/t")
    assert(df.count() == 1)
    sink.append(Seq((2, "b")).toDF("id", "v"), "t")
    assert(df.count() == 1, "planned frame must pin its snapshot")
    assert(spark.read.format("graft").load(s"$base/t").count() == 2)
  }
}
