package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.VersionedParquetSink

/** Deletion vectors ([[VersionedParquetSink.deleteVectored]]): DELETE as
  * a positional mask commit instead of a copy-on-write rewrite — the
  * merge-on-read shape that makes a 3-row delete on a 100 TB table a
  * kilobyte write. Covers: zero data-file rewrites, mask stacking, time
  * travel, SQL null semantics, interaction with append / compact /
  * readAtWhere pruning / CDF / vacuum, exactly-once replay, the
  * compaction conflict, and the _delta_log mirror's lag-and-backfill. */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dataFiles(base: String, table: String): Map[String, Long] = {
    def walk(d: java.io.File): Seq[java.io.File] =
      if (!d.isDirectory) Seq.empty
      else d.listFiles.toSeq.flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(new java.io.File(s"$base/$table")).toSeq
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("deleteVectored masks rows without touching any data file") {
    val base = TestSpark.tmpDir("dv1")
    val sink = new VersionedParquetSink(base)
    sink.append((1 to 100).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    val before = dataFiles(base, "t")

    val v = sink.deleteVectored(spark, "t", col("id") <= 10)
    assert(v == 1L)
    assert(sink.read(spark, "t").collect().map(_.getInt(0)).toSet ==
      (11 to 100).toSet)
    // the original data files are byte-for-byte untouched (same set, same
    // mtimes) — the whole point of merge-on-read
    val after = dataFiles(base, "t")
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"data file rewritten or gone: $p")
    }
    // time travel to before the DV still sees everything
    assert(sink.readAt(spark, "t", 0).count() == 100)
  }

  test("masks stack across DV commits and compose with appends") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("dv2"))
    sink.append((1 to 50).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    sink.deleteVectored(spark, "t", col("id") <= 10)
    sink.deleteVectored(spark, "t", col("id") > 45) // stacked second mask
    assert(sink.read(spark, "t").collect().map(_.getInt(0)).toSet ==
      (11 to 45).toSet)
    // appended rows are NOT masked by earlier DVs (new files, new paths)
    sink.append(Seq((5, "again"), (60, "new")).toDF("id", "v"), "t")
    assert(sink.read(spark, "t").collect().map(_.getInt(0)).toSet ==
      (11 to 45).toSet + 5 + 60)
    // a fresh DV computed AFTER the append masks the re-added row too
    sink.deleteVectored(spark, "t", col("id") === 5)
    assert(sink.read(spark, "t").collect().map(_.getInt(0)).toSet ==
      (11 to 45).toSet + 60)
    // every intermediate version stays time-travelable
    assert(sink.readAt(spark, "t", 1).count() == 40) // first mask only
    assert(sink.readAt(spark, "t", 2).count() == 35) // both masks
  }

  test("SQL DELETE null semantics: null predicate rows are kept") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("dv3"))
    sink.append(Seq((1, Some("a")), (2, None), (3, Some("c")))
      .toDF("id", "v"), "t")
    sink.deleteVectored(spark, "t", col("v") === "a") // null === 'a' -> null -> keep
    assert(sink.read(spark, "t").collect().map(_.getInt(0)).toSet == Set(2, 3))
  }

  test("compact materializes the masks and retires the DV commits") {
    val base = TestSpark.tmpDir("dv4")
    val sink = new VersionedParquetSink(base)
    sink.append((1 to 30).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    sink.deleteVectored(spark, "t", col("id") <= 5)
    val cv = sink.compact(spark, "t", targetFiles = Some(1))
    assert(sink.read(spark, "t").collect().map(_.getInt(0)).toSet ==
      (6 to 30).toSet)
    // post-compaction read must not depend on the DV dir any more:
    // vacuum(includeSuperseded) may reclaim it and reads stay correct
    val reclaimed = sink.vacuum(spark, "t", graceMs = 0L,
      includeSuperseded = true)
    assert(reclaimed >= 1, "superseded dirs (incl. the DV) not reclaimed")
    assert(sink.read(spark, "t").collect().map(_.getInt(0)).toSet ==
      (6 to 30).toSet)
    assert(cv == 2L)
  }

  test("delete/merge after a DV see the masked snapshot (no resurrection)") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("dv5"))
    sink.append((1 to 20).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    sink.deleteVectored(spark, "t", col("id") <= 5)
    // copy-on-write delete derives from the MASKED snapshot
    sink.delete(spark, "t", col("id") > 15)
    assert(sink.read(spark, "t").collect().map(_.getInt(0)).toSet ==
      (6 to 15).toSet)
    sink.merge(spark, "t",
      Seq((1, "resurrected?"), (10, "updated")).toDF("id", "v"), Seq("id"))
    val rows = sink.read(spark, "t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows.keySet == (6 to 15).toSet + 1) // 1 re-INSERTED by merge
    assert(rows(10) == "updated")
  }

  test("readAtWhere: stats pruning and the DV mask compose") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("dv6"))
    // two appends -> two file sets with disjoint id ranges for pruning
    sink.append((1 to 50).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    sink.append((51 to 100).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    sink.deleteVectored(spark, "t", col("id") % 2 === 0)
    val out = sink.readWhere(spark, "t", col("id") <= 50)
      .collect().map(_.getInt(0)).toSet
    assert(out == (1 to 50 by 2).toSet)
    // and the unpruned full read agrees
    assert(sink.read(spark, "t").count() == 50)
  }

  test("changesBetween across a DV commit reports the masked rows as deletes") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("dv7"))
    sink.append((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    sink.deleteVectored(spark, "t", col("id") <= 3)
    val ch = sink.changesBetween(spark, "t", 0L, 1L).collect()
    val deletes = ch.filter(_.getString(2) == "delete").map(_.getInt(0)).toSet
    val inserts = ch.filter(_.getString(2) == "insert")
    assert(deletes == Set(1, 2, 3), s"CDF deletes: $deletes")
    assert(inserts.isEmpty, s"phantom inserts from the DV dir: ${inserts.toSeq}")
  }

  test("deleteVectored replays idempotently per commit key") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("dv8"))
    sink.append((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    val v1 = sink.deleteVectored(spark, "t", col("id") <= 3,
      commitKey = Some("maint-1"))
    val v2 = sink.deleteVectored(spark, "t", col("id") <= 3,
      commitKey = Some("maint-1")) // replay
    assert(v1 == v2)
    assert(sink.versions(spark, "t") == Seq(0L, 1L))
    assert(sink.read(spark, "t").count() == 7)
  }

  test("concurrent compact cannot orphan a racing DV's masks") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("dv9"))
    sink.append((1 to 50).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    sink.append((51 to 60).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      Seq(
        () => { sink.compact(spark, "t"); () },
        () => { sink.deleteVectored(spark, "t", col("id") <= 10); () },
        () => { sink.compact(spark, "t"); () }
      ).map { task =>
        pool.submit(new Runnable {
          def run(): Unit =
            try task() catch { case e: Throwable => errors.add(e) }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    assert(errors.isEmpty, s"race errors: ${errors.toArray.mkString("; ")}")
    val ids = sink.read(spark, "t").collect().map(_.getInt(0)).toSet
    assert(ids == (11 to 60).toSet, s"masked rows resurrected or lost: $ids")
  }

  test("_delta_log mirror lags at a live DV, backfills after compact") {
    val store = TestSpark.tmpDir("dv10")
    val sink = new VersionedParquetSink(store)
    sink.append((1 to 20).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    sink.deleteVectored(spark, "t", col("id") <= 5) // v1, inexpressible
    sink.append(Seq((21, "x")).toDF("id", "v"), "t") // v2, behind the DV

    val logDir = new java.io.File(s"$store/t/_delta_log")
    def logNames: Seq[String] =
      logDir.listFiles.map(_.getName).filter(_.endsWith(".json")).sorted.toSeq
    // mirror stops before the DV: only v0 exists; external readers see a
    // stale-but-CONSISTENT snapshot (never the un-deleted latest)
    assert(logNames == Seq(f"${0L}%020d.json"), s"mirror ran ahead: $logNames")

    sink.compact(spark, "t", targetFiles = Some(1)) // v3 materializes
    assert(logNames == (0L to 3L).map(v => f"$v%020d.json"),
      s"mirror did not backfill: $logNames")

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def actions(v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
      val src = scala.io.Source.fromFile(
        new java.io.File(logDir, f"$v%020d.json"), "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(mapper.readTree).toSeq
      finally src.close()
    }
    // the DV placeholder carries NO add/remove (its dir is a mask)
    val v1 = actions(1)
    assert(v1.exists(a => a.has("commitInfo")))
    assert(!v1.exists(a => a.has("add") || a.has("remove")),
      s"DV version leaked data actions: $v1")
    // replaying the full log lands on exactly the sink's current rows
    val live = scala.collection.mutable.Set[String]()
    (0L to 3L).foreach(v => actions(v).foreach { a =>
      Option(a.get("add")).foreach(n => live += n.get("path").asText)
      Option(a.get("remove")).foreach(n => live -= n.get("path").asText)
    })
    val viaLog = spark.read.parquet(live.toSeq.map(p => s"$store/t/$p"): _*)
      .collect().map(_.getInt(0)).toSet
    val viaSink = sink.read(spark, "t").collect().map(_.getInt(0)).toSet
    assert(viaLog == viaSink, s"log replay diverged: $viaLog vs $viaSink")
  }

  test("deleteMatchingVectored masks by key list without rewriting files") {
    val base = TestSpark.tmpDir("dv12")
    val sink = new VersionedParquetSink(base)
    sink.append((1 to 30).map(i => (i, s"u$i")).toDF("id", "user"), "t")
    val before = dataFiles(base, "t")
    sink.deleteMatchingVectored(spark, "t",
      Seq(3, 7, 7, 99).toDF("id"), Seq("id")) // dup + missing keys ok
    assert(sink.read(spark, "t").collect().map(_.getInt(0)).toSet ==
      ((1 to 30).toSet -- Set(3, 7)))
    val after = dataFiles(base, "t")
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"data file rewritten: $p")
    }
  }

  test("updateVectored: in-place SET without touching original files") {
    val base = TestSpark.tmpDir("dv13")
    val sink = new VersionedParquetSink(base)
    sink.append((1 to 20).map(i => (i, i * 10, s"v$i")).toDF("id", "n", "v"), "t")
    val before = dataFiles(base, "t")

    import org.apache.spark.sql.functions.{concat, lit => flit}
    val uv = sink.updateVectored(spark, "t", col("id") <= 3,
      Map("n" -> (col("n") + 1), "v" -> concat(col("v"), flit("!"))))
    assert(uv == 1L)
    val rows = sink.read(spark, "t").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    val expected = (1 to 20).map { i =>
      if (i <= 3) (i, i * 10 + 1, s"v$i!") else (i, i * 10, s"v$i")
    }.toSet
    assert(rows == expected)
    // original files untouched; the update wrote only 3 new rows + mask
    val after = dataFiles(base, "t")
    before.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"data file rewritten: $p")
    }
    // time travel to the pre-update version
    assert(sink.readAt(spark, "t", 0).filter(col("id") === 1)
      .head().getInt(1) == 10)
    // SET of a nonexistent column fails loudly before any commit
    val e = intercept[IllegalArgumentException] {
      sink.updateVectored(spark, "t", col("id") === 1,
        Map("nope" -> flit(1)))
    }
    assert(e.getMessage.contains("nope"))
    assert(sink.versions(spark, "t") == Seq(0L, 1L))
  }

  test("updateVectored stacks with DVs, compacts away, and diffs in CDF") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("dv14"))
    sink.append((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    sink.deleteVectored(spark, "t", col("id") === 1) // v1
    sink.updateVectored(spark, "t", col("id") === 2, // v2
      Map("v" -> org.apache.spark.sql.functions.lit("updated")))
    // the update snapshot was masked: row 1 is not resurrected
    val now = sink.read(spark, "t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(now.keySet == (2 to 10).toSet)
    assert(now(2) == "updated")
    // CDF across the update = delete of the old image + insert of the new
    val ch = sink.changesBetween(spark, "t", 1L, 2L).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(ch == Set((2, "v2", "delete"), (2, "updated", "insert")), s"$ch")
    // compaction materializes both masks; reads identical after vacuum
    sink.compact(spark, "t", targetFiles = Some(1))
    sink.vacuum(spark, "t", graceMs = 0L, includeSuperseded = true)
    val afterCompact = sink.read(spark, "t").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(afterCompact == now)
  }

  test("updateVectored replays idempotently and updates matching zero rows") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("dv15"))
    sink.append((1 to 5).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    val v1 = sink.updateVectored(spark, "t", col("id") === 3,
      Map("v" -> org.apache.spark.sql.functions.lit("x")),
      commitKey = Some("u-1"))
    val v2 = sink.updateVectored(spark, "t", col("id") === 3,
      Map("v" -> org.apache.spark.sql.functions.lit("y")), // ignored: replay
      commitKey = Some("u-1"))
    assert(v1 == v2)
    assert(sink.read(spark, "t").filter(col("id") === 3)
      .head().getString(1) == "x")
    // zero matches still commits a version (SQL UPDATE touching 0 rows)
    sink.updateVectored(spark, "t", col("id") === 999,
      Map("v" -> org.apache.spark.sql.functions.lit("z")))
    assert(sink.read(spark, "t").count() == 5)
  }

  test("mirror treats a live update like a live DV: lag then backfill") {
    val store = TestSpark.tmpDir("dv16")
    val sink = new VersionedParquetSink(store)
    sink.append((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    sink.updateVectored(spark, "t", col("id") === 1,
      Map("v" -> org.apache.spark.sql.functions.lit("new")))
    val logDir = new java.io.File(s"$store/t/_delta_log")
    def logNames: Seq[String] =
      logDir.listFiles.map(_.getName).filter(_.endsWith(".json")).sorted.toSeq
    assert(logNames == Seq(f"${0L}%020d.json"), s"mirror ran ahead: $logNames")
    sink.compact(spark, "t", targetFiles = Some(1))
    assert(logNames == (0L to 2L).map(v => f"$v%020d.json"), s"$logNames")
    // replaying the log equals the sink's snapshot (update materialized)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val live = scala.collection.mutable.Set[String]()
    (0L to 2L).foreach { v =>
      val src = scala.io.Source.fromFile(
        new java.io.File(logDir, f"$v%020d.json"), "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(mapper.readTree).foreach { a =>
        Option(a.get("add")).foreach(n => live += n.get("path").asText)
        Option(a.get("remove")).foreach(n => live -= n.get("path").asText)
      } finally src.close()
    }
    val viaLog = spark.read.parquet(live.toSeq.map(p => s"$store/t/$p"): _*)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(viaLog(1) == "new" && viaLog.size == 10, s"$viaLog")
  }

  test("live mask applies in the scan: one GraftParquet scan, no join, " +
      "no exchange") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("dv17"))
    sink.append((1 to 1000).map(i => (i, s"v$i")).toDF("id", "v"), "t")
    sink.deleteVectored(spark, "t", col("id") <= 5)
    val df = sink.read(spark, "t")
    assert(df.count() == 995L)
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1 && scans.head.relation.fileFormat
      .isInstanceOf[graft.engine.GraftParquetFileFormat], s"$plan")
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
    }.isEmpty, s"mask read joins or shuffles:\n$plan")
  }

  test("write amplification: DV delete writes KBs where copy-on-write rewrites") {
    def treeBytes(d: java.io.File): Long =
      if (!d.exists) 0L
      else if (d.isFile) d.length
      else d.listFiles.map(treeBytes).sum
    def newBytes(base: String)(op: => Unit): Long = {
      val before = treeBytes(new java.io.File(base))
      op
      treeBytes(new java.io.File(base)) - before
    }
    val n = 200000
    val rows = (1 to n).map(i => (i, s"payload-$i-${"x" * 40}"))

    val dvBase = TestSpark.tmpDir("dv18a")
    val dvSink = new VersionedParquetSink(dvBase)
    dvSink.append(rows.toDF("id", "v"), "t")
    val dvCost = newBytes(dvBase)(
      dvSink.deleteVectored(spark, "t", col("id") <= 10))

    val cowBase = TestSpark.tmpDir("dv18b")
    val cowSink = new VersionedParquetSink(cowBase)
    cowSink.append(rows.toDF("id", "v"), "t")
    val cowCost = newBytes(cowBase)(
      cowSink.delete(spark, "t", col("id") <= 10))

    // same result either way...
    assert(dvSink.read(spark, "t").count() == n - 10)
    assert(cowSink.read(spark, "t").count() == n - 10)
    // ...but the DV wrote a position mask, the CoW rewrote the table.
    // The asymmetry is the feature: it GROWS with table size (at 100 TB
    // the CoW side is the table; the DV side is still the mask).
    assert(cowCost > dvCost * 50,
      s"expected >=50x write asymmetry, got CoW=$cowCost vs DV=$dvCost")
  }

  test("DV on an evolved schema masks by position, not by column shape") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("dv11"))
    sink.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), "t")
    sink.append(Seq((3L, "c", 9L)).toDF("id", "s", "extra"), "t",
      allowEvolution = true)
    sink.deleteVectored(spark, "t", col("id") === 1L)
    val rows = sink.read(spark, "t").collect()
      .map(r => (r.getLong(0), r.isNullAt(2))).toSet
    assert(rows == Set((2L, true), (3L, false)))
  }
}
