package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.VersionedParquetSink
import graft.PruningStats._

/** Bloom-filter file skipping (Delta bloom-index parity): per-file
  * filters on `graft.bloom.columns` prune point lookups that min/max
  * stats cannot — interleaved key ranges make every file's [min, max]
  * span the domain, so only the bloom pass can rule files out. */
class BloomIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect()
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan):
        org.apache.spark.sql.execution.SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    unwrap(df.queryExecution.executedPlan).collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
  }

  private def graftRead(base: String) =
    spark.read.format("graft").load(s"$base/t")

  /** Three single-file commits with INTERLEAVED ids (i%3 == k), so every
    * file's min/max spans [k, ~900+k] and stats pruning keeps all three. */
  private def interleaved(tag: String): (VersionedParquetSink, String) = {
    val base = TestSpark.tmpDir(tag)
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((0L, "seed")).toDF("id", "v"), "t")
    sink.setProperties(spark, "t", Map("graft.bloom.columns" -> "id,v"))
    (0 until 3).foreach { k =>
      sink.append(Seq.tabulate(300)(i => ((i * 3 + k).toLong, s"s$k-$i"))
        .toDF("id", "v").coalesce(1), "t")
    }
    (sink, base)
  }

  test("point lookup prunes files min/max stats cannot") {
    val (sink, base) = interleaved("bl1")
    // id=601: in the k=1 commit (601 % 3 == 1); min/max keeps all three
    // interleaved files + the seed is pruned by stats (max 0)
    val df = graftRead(base).filter(col("id") === 601L)
    assert(df.collect().map(_.getString(1)).toSeq == Seq("s1-200"))
    val scanned = scanOf(
      graftRead(base).filter(col("id") === 601L)).metrics("numFiles")
    assert(scanned.value == 1,
      s"bloom should leave 1 of 4 files, scanned ${scanned.value}")
    val _ = sink
  }

  test("sink readWhere prunes through the bloom index") {
    val (sink, _) = interleaved("bl1b")
    val lookup = () => sink.readWhere(spark, "t", col("id") === 601L)
    assert(lookup().collect().map(_.getString(1)).toSeq == Seq("s1-200"))
    val scanned = scanOf(lookup()).metrics("numFiles")
    assert(scanned.value == 1,
      s"bloom should leave 1 of 4 files, scanned ${scanned.value}")
    assert(sink.pruningStats(spark, "t", col("id") === 601L) == ((1, 4)))
  }

  test("string-column lookup prunes through its own filters") {
    val (_, base) = interleaved("bl2")
    val scanned = scanOf(
      graftRead(base).filter(col("v") === "s2-7")).metrics("numFiles")
    assert(scanned.value == 1, s"scanned ${scanned.value}")
  }

  test("IN-list keeps every file that might contain a value") {
    val (_, base) = interleaved("bl3")
    val df = graftRead(base)
      .filter(col("id").isin(300L, 301L)) // k=0 and k=1 files
    assert(df.count() == 2L)
    val scanned = scanOf(graftRead(base)
      .filter(col("id").isin(300L, 301L))).metrics("numFiles")
    assert(scanned.value == 2, s"scanned ${scanned.value}")
  }

  test("enabling the property on an existing table backfills immediately") {
    val base = TestSpark.tmpDir("bl4")
    val sink = new VersionedParquetSink(base)
    (0 until 3).foreach { k =>
      sink.append(Seq.tabulate(100)(i => ((i * 3 + k).toLong, s"x$i"))
        .toDF("id", "v").coalesce(1), "t")
    }
    // SET TBLPROPERTIES rides the rewrite funnel, which runs the bloom
    // maintenance pass — pre-existing dirs are indexed with no extra call
    sink.setProperties(spark, "t", Map("graft.bloom.columns" -> "id"))
    val after = scanOf(graftRead(base).filter(col("id") === 7L))
    assert(after.metrics("numFiles").value == 1,
      s"enable-time backfill missing: ${after.metrics("numFiles").value}")
    assert(graftRead(base).filter(col("id") === 7L).count() == 1L)
  }

  test("missing sidecars are conservative keep-all; ensure rebuilds them") {
    val base = TestSpark.tmpDir("bl4b")
    val sink = new VersionedParquetSink(base)
    (0 until 3).foreach { k =>
      sink.append(Seq.tabulate(100)(i => ((i * 3 + k).toLong, s"x$i"))
        .toDF("id", "v").coalesce(1), "t")
    }
    sink.setProperties(spark, "t", Map("graft.bloom.columns" -> "id"))
    // simulate lost sidecars (e.g. a partial restore of the table dir)
    Option(new java.io.File(s"$base/t").listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("d-"))
      .map(d => new java.io.File(d, "_bloom"))
      .filter(_.exists()).foreach { bd =>
        bd.listFiles.foreach(_.delete()); bd.delete()
      }
    val kept = scanOf(graftRead(base).filter(col("id") === 7L))
    assert(kept.metrics("numFiles").value == 3,
      "missing sidecars must keep files, never drop them")
    assert(graftRead(base).filter(col("id") === 7L).count() == 1L)
    sink.ensureBloomIndex(spark, "t")
    val after = scanOf(graftRead(base).filter(col("id") === 7L))
    assert(after.metrics("numFiles").value == 1)
  }

  test("OPTIMIZE output is re-indexed by the rewrite funnel") {
    val (sink, base) = interleaved("bl8")
    sink.compact(spark, "t", targetFiles = Some(2))
    // the folded dirs are fresh; the funnel's maintenance pass indexed
    // them, so point lookups keep pruning (2 clustered-by-nothing files:
    // the fold interleaves ids, only bloom can separate them)
    val scanned = scanOf(
      graftRead(base).filter(col("id") === 601L)).metrics("numFiles")
    assert(scanned.value <= 1, s"post-OPTIMIZE scanned ${scanned.value}")
    assert(graftRead(base).filter(col("id") === 601L).count() == 1L)
  }

  test("non-equality predicates bypass bloom; results unaffected") {
    val (sink, _) = interleaved("bl5")
    val rows = sink.read(spark, "t")
      .filter(col("id") >= 890L).count()
    assert(rows == 10L) // ids 890..899 all present across the 3 files
  }

  test("bloom survives column rename (sidecars key on physical names)") {
    val (sink, base) = interleaved("bl6")
    sink.renameColumn(spark, "t", "id", "key")
    val df = graftRead(base).filter(col("key") === 601L)
    assert(df.collect().map(_.getString(1)).toSeq == Seq("s1-200"))
    val scanned = scanOf(
      graftRead(base).filter(col("key") === 601L)).metrics("numFiles")
    assert(scanned.value == 1, s"post-rename scanned ${scanned.value}")
  }

  test("clone-side maintenance never writes sidecars into the source") {
    // a SHALLOW CLONE inherits graft.bloom.columns; its inherited dirs
    // resolve `../source/<dir>` — a clone-side ensure must index only
    // table-local dirs, never reach into the source (clone contract +
    // a race with any concurrent source-side build)
    val base = TestSpark.tmpDir("bl8")
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "t")
    sink.setProperties(spark, "t", Map("graft.bloom.columns" -> "id"))
    sink.cloneShallow(spark, "t", "c")
    // strip the source's own sidecars so a clone-side rebuild would be
    // observable
    def bloomDirs(tbl: String) =
      Option(new java.io.File(s"$base/$tbl").listFiles).toSeq.flatten
        .filter(_.isDirectory).map(d => new java.io.File(d, "_bloom"))
        .filter(_.exists())
    bloomDirs("t").foreach { d =>
      d.listFiles.foreach(_.delete()); d.delete()
    }
    sink.ensureBloomIndex(spark, "c")
    assert(bloomDirs("t").isEmpty,
      "clone-side bloom build wrote sidecars into the source's dirs")
    // correctness unaffected: missing sidecars are conservative keep-all
    assert(sink.read(spark, "c").where(col("id") === 2L).count() == 1L)
  }

  test("clone-local sidecars serve inherited dirs the source never indexed") {
    // source WITHOUT bloom; the clone opts in — the inherited dirs must
    // get clone-local `_bloom_ext` sidecars (never source-side writes)
    // and the clone's point lookups must prune through them
    val base = TestSpark.tmpDir("bl9")
    val sink = new VersionedParquetSink(base)
    (0 until 3).foreach { k =>
      sink.append(Seq.tabulate(300)(i => ((i * 3 + k).toLong, s"s$k-$i"))
        .toDF("id", "v").coalesce(1), "t")
    }
    sink.cloneShallow(spark, "t", "c")
    sink.setProperties(spark, "c", Map("graft.bloom.columns" -> "id"))
    sink.ensureBloomIndex(spark, "c")
    // nothing in the source's dirs
    val srcDirs = Option(new java.io.File(s"$base/t").listFiles).toSeq
      .flatten.filter(_.isDirectory)
    assert(!srcDirs.exists(d => new java.io.File(d, "_bloom").exists()),
      "clone build touched the source")
    // clone-local roots exist, one per inherited dir
    val extRoots = Option(
      new java.io.File(s"$base/c/_bloom_ext").listFiles).toSeq.flatten
    assert(extRoots.count(_.isDirectory) == 3, s"ext roots: $extRoots")
    // point lookup on the clone prunes to 1 of 3 interleaved files
    val scanned = scanOf(spark.read.format("graft").load(s"$base/c")
      .filter(col("id") === 601L)).metrics("numFiles")
    assert(scanned.value == 1, s"scanned ${scanned.value}")
    // correctness: the surviving file holds the row
    assert(spark.read.format("graft").load(s"$base/c")
      .filter(col("id") === 601L).collect().map(_.getString(1)).toSeq
      == Seq("s1-200"))
  }

  test("vacuum GCs clone-local sidecar roots with their entries") {
    val base = TestSpark.tmpDir("bl10")
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((1L, "a")).toDF("id", "v"), "t")
    sink.cloneShallow(spark, "t", "c")
    sink.setProperties(spark, "c", Map("graft.bloom.columns" -> "id"))
    sink.ensureBloomIndex(spark, "c")
    val extD = new java.io.File(s"$base/c/_bloom_ext")
    assert(Option(extD.listFiles).toSeq.flatten.count(_.isDirectory) == 1)
    // materialize the clone: OPTIMIZE folds inherited dirs into a local
    // one, superseding the inherited entry
    sink.compact(spark, "c")
    sink.vacuum(spark, "c", graceMs = 0L, includeSuperseded = true)
    assert(Option(extD.listFiles).toSeq.flatten.isEmpty,
      "superseded inherited dir kept its _bloom_ext root past vacuum")
    // reads still fine (local dir got its own _bloom via the rewrite)
    assert(sink.read(spark, "c").where(col("id") === 1L).count() == 1L)
  }

  test("off by default: no property, no sidecars written") {
    val base = TestSpark.tmpDir("bl7")
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((1L, "a")).toDF("id", "v"), "t")
    val dirs = Option(new java.io.File(s"$base/t").listFiles).toSeq.flatten
      .filter(_.isDirectory)
    assert(dirs.nonEmpty)
    assert(!dirs.exists(d => new java.io.File(d, "_bloom").exists()),
      "bloom sidecars written without opt-in")
  }
}
