package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{SampleIndex, Sampling, VersionedParquetSink}

/** MULTI-PROCESS concurrency validation of the versioned sink's
  * commit-claim protocol and the reservoir built on it. Every other
  * race/soak suite (SoakSpec, GovernanceRaceSpec, SampleIndexSpec's
  * 4-writer race) runs its contenders as THREADS inside one JVM, where
  * shared memory can mask an unsound claim; here each contender is a
  * separate OS process launched with the test JVM's own classpath and
  * module flags, so the only coordination channel is the filesystem —
  * the deployment shape of a real multi-executor/multi-driver cluster.
  *
  * Verdicts asserted: zero lost appends, zero double-applied commit
  * keys, and the reservoir's multi-writer sample exactly equals the
  * one-shot batch sample over the union (compaction racing absorbs
  * loses nothing).
  */
class MultiJvmRaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Launches RaceWorker in a fresh JVM ([[TestSpark.forkJvm]]). */
  private def launch(dir: String, role: String, id: Int, n: Int,
      env: Map[String, String] = Map.empty): Process =
    TestSpark.forkJvm("graft.RaceWorker",
      Seq(dir, role, id.toString, n.toString),
      new java.io.File(s"$dir/worker-$role-$id.out"), env)

  private def await(ps: Seq[Process], dir: String): Unit =
    ps.zipWithIndex.foreach { case (p, i) =>
      assert(p.waitFor(10, java.util.concurrent.TimeUnit.MINUTES),
        s"worker $i timed out")
      if (p.exitValue() != 0) {
        val logs = new java.io.File(dir).listFiles()
          .filter(_.getName.startsWith("worker-"))
          .map(f => f.getName + ":\n" + new String(
            java.nio.file.Files.readAllBytes(f.toPath)).takeRight(2000))
        fail(s"worker $i exited ${p.exitValue()}\n${logs.mkString("\n")}")
      }
    }

  test("appendOnce across 3 PROCESSES: zero lost appends, every batch " +
      "exactly once") {
    val dir = TestSpark.tmpDir("mjvm_append")
    val writers = 3
    val batches = 5
    val ps = (1 to writers).map(i => launch(dir, "append-writer", i, batches))
    await(ps, dir)
    val sink = new VersionedParquetSink(dir)
    val t = sink.read(spark, "t")
    assert(t.count() == writers.toLong * batches * 20,
      "lost or duplicated appends under cross-process contention")
    val perBatch = t.groupBy("w", "b").agg(count(lit(1)).as("n")).collect()
    assert(perBatch.length == writers * batches)
    perBatch.foreach(r => assert(r.getAs[Long]("n") == 20L,
      s"batch (${r.get(0)}, ${r.get(1)}) applied ${r.getAs[Long]("n") / 20}x"))
  }

  test("SAME commit keys raced from 3 PROCESSES: each key applies " +
      "exactly once") {
    val dir = TestSpark.tmpDir("mjvm_keys")
    val racers = 3
    val batches = 4
    val ps = (1 to racers).map(i => launch(dir, "key-racer", i, batches))
    await(ps, dir)
    val sink = new VersionedParquetSink(dir)
    val t = sink.read(spark, "t")
    // every shared key applied by exactly ONE of the three racers
    assert(t.count() == batches.toLong * 20,
      "a shared commit key was double-applied (or lost) across processes")
    val perB = t.groupBy("b").agg(count(lit(1)).as("n")).collect()
    assert(perB.length == batches)
    perB.foreach(r => assert(r.getAs[Long]("n") == 20L))
  }

  test("identity allocation across 3 PROCESSES: every id unique, " +
      "every row present") {
    val dir = TestSpark.tmpDir("mjvm_ident")
    val sink = new VersionedParquetSink(dir)
    sink.append(Seq("seed").toDF("v"), "t")
    sink.setIdentityColumn(spark, "t", "id")
    val writers = 3
    val batches = 4
    val ps = (1 to writers).map(i => launch(dir, "identity-writer", i, batches))
    await(ps, dir)
    val rows = sink.read(spark, "t").collect()
    val ids = rows.flatMap(r => Option(r.get(1)).map(_.asInstanceOf[Long]))
    assert(rows.length == 1 + writers * batches * 5,
      s"lost appends: ${rows.length}")
    assert(ids.length == writers * batches * 5, s"unassigned ids")
    assert(ids.distinct.length == ids.length,
      s"identity collision across processes: ${ids.sorted.toSeq}")
  }

  test("log retention churn across PROCESSES: markers retire, no row " +
      "lost, versions coherent") {
    // the r9 phantom-commit bug (a stale writer claiming a version
    // whose marker retention already retired -> silently lost append)
    // was caught by the in-JVM soak; this is the same churn with the
    // writers and the maintainer in SEPARATE processes, where marker
    // listings, checkpoints and claims race purely through the fs
    val dir = TestSpark.tmpDir("mjvm_churn")
    val sink = new VersionedParquetSink(dir, checkpointInterval = 5)
    sink.append(Seq((0L, "seed")).toDF("n", "v"), "t")
    sink.setProperties(spark, "t", Map(
      "graft.logRetentionDuration" -> "0s",
      "graft.deletedFileRetentionDuration" -> "1h"))
    val writers = 3
    val batches = 12
    val nClones = 6
    val ps = (1 to writers).map(i => launch(dir, "churn-writer", i, batches)) ++
      Seq(launch(dir, "churn-maintainer", 0, 30),
        launch(dir, "churn-cloner", 9, nClones))
    await(ps, dir)
    val vs = sink.versions(spark, "t")
    assert(vs == vs.sorted && vs.last + 1 >= (writers * batches).toLong,
      s"version chain incoherent or short: $vs")
    // one deterministic final retirement pass (the maintainer process
    // races the churn for contention, but whether IT retires most
    // markers depends on scheduling; the invariant is that retirement
    // plus churn never loses a row, asserted below)
    sink.vacuum(spark, "t", graceMs = 3600000L)
    val markers = Option(new java.io.File(s"$dir/t/_commits").listFiles)
      .toSeq.flatten.count(_.getName.endsWith(".commit"))
    assert(markers < writers * batches,
      s"retention retired nothing: $markers markers for ${vs.last + 1}")
    // zero lost appends: every (writer, batch, row) present exactly once
    val ns = sink.read(spark, "t").collect().map(_.getLong(0)).sorted.toSeq
    val expected = (0L +: (for {
      id <- 1 to writers; b <- 1 to batches; i <- 0 until 5
    } yield (id.toLong * 1000 + b) * 10 + i)).sorted
    assert(ns == expected,
      s"lost/duplicated rows under cross-process retention: " +
        s"${ns.length} of ${expected.length}")
    // every clone pinned mid-churn by the cloner PROCESS still reads
    // its snapshot after all the retirement that followed
    (1 to nClones).foreach { b =>
      assert(sink.read(spark, s"clone_w9_$b").count() >= 1L,
        s"clone_w9_$b broken after cross-process retention churn")
    }
  }

  test("ChunkIndex across PROCESSES: writers sharing content x live " +
      "replayer x compactor — lossless reassembly, zero dangling " +
      "manifests") {
    import MultiJvmRaceSpec._
    val dir = TestSpark.tmpDir("mjvm_chunk")
    val ps = (1 to ChunkWriters).map(i =>
      launch(dir, "chunk-writer", i, ChunkBatches)) ++ Seq(
      launch(dir, "chunk-replayer", 9, ChunkBatches),
      launch(dir, "chunk-compactor", 0, 6))
    await(ps, dir)
    val sink = new VersionedParquetSink(dir)
    // the user contract: every ingested doc reassembles byte-identical,
    // replays added nothing
    val back = graft.engine.ChunkIndex.reassemble(spark, sink)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (w <- 1 to ChunkWriters; b <- 1 to ChunkBatches)
      assert(back.get(chunkDocId(w, b)).contains(chunkDocText(w, b)),
        s"doc ($w,$b) lost or corrupted under the cross-process race")
    assert(back.size == ChunkWriters * ChunkBatches, s"extra docs: $back")
    // each manifest (doc, chunk) landed exactly once despite the replay
    assert(sink.read(spark, "cdc_manifest").groupBy("doc_id", "chunk")
      .count().filter("count > 1").count() == 0L,
      "duplicated manifest rows")
    // ZERO dangling manifests: every address a manifest references must
    // resolve in the store (the store-first keyed-commit invariant)
    assert(sink.read(spark, "cdc_manifest").select("hash")
      .join(sink.read(spark, "cdc_store").select("hash"),
        Seq("hash"), "left_anti").count() == 0L,
      "manifest rows referencing unstored chunks")
    // the shared run content-address-deduplicated ACROSS processes
    val addrs = sink.read(spark, "cdc_store").select("hash")
      .distinct().count()
    val mrows = sink.read(spark, "cdc_manifest").count()
    assert(addrs < mrows, s"no cross-process sharing: $addrs of $mrows")
  }

  test("SpanIndex across PROCESSES: 2 writers x compactor, then a " +
      "replayer PROCESS — equals the sequential per-writer reference") {
    import MultiJvmRaceSpec._
    val dir = TestSpark.tmpDir("mjvm_span")
    val ps = (1 to SpanWriters).map(i =>
      launch(dir, "span-writer", i, SpanBatches)) :+
      launch(dir, "span-compactor", 0, 6)
    await(ps, dir)
    val sink = new VersionedParquetSink(dir)
    def corpusMap = sink.read(spark, "clean_corpus")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def spanRows = sink.read(spark, "span_index")
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val (docsBefore, spansBefore) = (corpusMap, spanRows)
    // post-hoc replay from a separate process: identical keys AND
    // content — both tables must be bit-unchanged
    await(Seq(launch(dir, "span-replayer", 9, SpanBatches)), dir)
    assert(corpusMap == docsBefore, "replay changed the cleaned corpus")
    assert(spanRows == spansBefore, "replay changed the span index")
    // writers used DISJOINT vocab, so the raced result must equal each
    // writer's isolated sequential run (index-driven masking included)
    val refDocs = scala.collection.mutable.Map.empty[Long, String]
    val refSpans = Seq.newBuilder[(String, Long)]
    (1 to SpanWriters).foreach { w =>
      val ref = new VersionedParquetSink(TestSpark.tmpDir(s"mjvm_spanref$w"))
      (1 to SpanBatches).foreach { b =>
        graft.engine.SpanIndex.appendCleaned(spark, ref,
          spanDocs(w, b).toDF("doc_id", "text"),
          batchKey = Some(s"span-w$w-b$b"))
      }
      refDocs ++= ref.read(spark, "clean_corpus").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      refSpans ++= ref.read(spark, "span_index").collect()
        .map(r => (r.getString(0), r.getLong(1)))
    }
    assert(docsBefore == refDocs.toMap,
      "cross-process cleaning diverged from the sequential reference")
    assert(spansBefore == refSpans.result().sorted,
      "cross-process span index diverged from the sequential reference")
  }

  test("DedupIndex across PROCESSES: 2 writers x compactor, then a " +
      "replayer PROCESS — equals the sequential per-writer reference") {
    import MultiJvmRaceSpec._
    val dir = TestSpark.tmpDir("mjvm_dedup")
    val ps = (1 to DedupWriters).map(i =>
      launch(dir, "dedup-writer", i, DedupBatches)) :+
      launch(dir, "dedup-compactor", 0, 6)
    await(ps, dir)
    val sink = new VersionedParquetSink(dir)
    def corpusMap = sink.read(spark, "corpus")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def fpRows = sink.read(spark, "dedup_fp")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    def sigCount = sink.read(spark, "dedup_sig").count()
    val (docsBefore, fpBefore, sigBefore) = (corpusMap, fpRows, sigCount)
    await(Seq(launch(dir, "dedup-replayer", 9, DedupBatches)), dir)
    assert(corpusMap == docsBefore, "replay changed the corpus")
    assert(fpRows == fpBefore, "replay changed the fingerprint index")
    assert(sigCount == sigBefore, "replay changed the signature index")
    // disjoint content across writers: the raced result must equal the
    // union of isolated sequential runs — same survivors, same index
    val refDocs = scala.collection.mutable.Map.empty[Long, String]
    val refFps = Seq.newBuilder[(Long, String)]
    var refSigs = 0L
    (1 to DedupWriters).foreach { w =>
      val ref = new VersionedParquetSink(TestSpark.tmpDir(s"mjvm_dedupref$w"))
      (1 to DedupBatches).foreach { b =>
        graft.engine.DedupIndex.appendDeduped(spark, ref,
          dedupDocs(w, b).toDF("doc_id", "text"),
          batchKey = Some(s"dedup-w$w-b$b"))
      }
      refDocs ++= ref.read(spark, "corpus").collect()
        .map(r => r.getLong(0) -> r.getString(1))
      refFps ++= ref.read(spark, "dedup_fp").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      refSigs += ref.read(spark, "dedup_sig").count()
    }
    assert(docsBefore == refDocs.toMap,
      "cross-process dedup diverged from the sequential reference")
    assert(fpBefore == refFps.result().sorted,
      "cross-process fingerprint index diverged from the reference")
    assert(sigBefore == refSigs,
      "cross-process signature index diverged from the reference")
    // and exactly-once structurally: one fp row per exact-distinct doc,
    // every corpus doc covered by the index
    assert(fpBefore.map(_._1).distinct.size == fpBefore.size,
      "duplicate fingerprint rows")
    assert(docsBefore.keySet.subsetOf(fpBefore.map(_._1).toSet),
      "corpus rows missing their index entries")
  }

  test("AnnIndex across PROCESSES: 2 writers x live replayer on the " +
      "vectors+meta two-table keyed append — every id exactly once, " +
      "meta sums to the union fingerprint") {
    import MultiJvmRaceSpec._
    val dir = TestSpark.tmpDir("mjvm_ann")
    val sink = new VersionedParquetSink(dir)
    val seed = annBatch(spark, 0, 0) // ids 0..19 under (w=0,b=0)
    graft.engine.AnnIndex.build(spark, sink, "ann", seed,
      dim = 8, kCoarse = 3, m = 2, subK = 8)
    val writers = 2
    val batches = 4
    val ps = (1 to writers).map(i => launch(dir, "ann-writer", i, batches)) :+
      launch(dir, "ann-replayer", 9, batches)
    await(ps, dir)
    // every (writer, batch) id exactly once, replay added nothing
    val ids = sink.read(spark, "ann_vectors").collect()
      .map(_.getLong(0)).sorted.toSeq
    val expected = ((0 until 20).map(i => i.toLong) ++ (for {
      w <- 1 to writers; b <- 1 to batches; i <- 0 until 20
    } yield (w * 100L + b) * 100L + i)).sorted
    assert(ids == expected,
      s"lost/duplicated vectors: ${ids.length} of ${expected.length}")
    // the additive meta rows sum to the fingerprint of EVERYTHING
    // ingested — the cross-process form of the content-drift guard
    val union = seed.unionByName(
      (for (w <- 1 to writers; b <- 1 to batches)
        yield annBatch(spark, w, b)).reduce(_.unionByName(_)))
    val want = union.agg(count(lit(1)).cast("long"),
      coalesce(sum(crc32(concat_ws(",", col("id"),
        col("vec").cast("array<double>").cast("string")))), lit(0L))
        .cast("long")).head()
    val got = sink.read(spark, "ann_meta")
      .agg(sum("n").cast("long"), sum("fpsum").cast("long")).head()
    assert((got.getLong(0), got.getLong(1)) ==
      (want.getLong(0), want.getLong(1)),
      "meta fingerprint diverged from the ingested union")
    // the raced index still searches: k hits per query
    val hits = graft.engine.AnnIndex.search(spark, sink, "ann",
      annBatch(spark, 1, 1), probes = 3, k = 5, superProbes = Some(2))
    assert(hits.groupBy("q_id").count().collect()
      .forall(_.getLong(1) == 5L))
  }

  test("reservoir: 3 writer PROCESSES racing a compactor PROCESS equals " +
      "the one-shot sample") {
    val dir = TestSpark.tmpDir("mjvm_sample")
    val writers = 3
    val batches = 4
    // seed the table so the compactor never sees a missing table
    val seed = (0L until 50L).map(i => (i, 1L + i % 500))
    SampleIndex.absorb(spark, new VersionedParquetSink(dir),
      seed.toDF("doc_id", "wt"), MultiJvmRaceSpec.K,
      batchKey = Some("seed"))
    val ps = (1 to writers).map(i => launch(dir, "sample-writer", i, batches)) :+
      launch(dir, "sample-compactor", 0, 3)
    await(ps, dir)
    val sink = new VersionedParquetSink(dir)
    // final compact must still preserve the sample
    SampleIndex.compact(spark, sink, MultiJvmRaceSpec.K)
    val all = seed ++ (for {
      id <- 1 to writers
      b <- 1 to batches
      i <- 0L until 50L
    } yield {
      val base = id.toLong * 1000000L + b.toLong * 1000L
      (base + i, 1L + (base + i) % 500)
    })
    val want = Sampling
      .weightedTopK(all.toDF("doc_id", "wt"), col("doc_id"), col("wt"),
        MultiJvmRaceSpec.K)
      .collect().map(_.getLong(0)).sorted.toSeq
    val got = SampleIndex.sample(spark, sink, MultiJvmRaceSpec.K)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(got == want,
      s"multi-process reservoir diverged from the one-shot sample")
    assert(sink.read(spark, "reservoir").count() == MultiJvmRaceSpec.K.toLong,
      "final compact did not fold the log to k rows")
  }

  // ---- conditional-PUT coordinator (object-store emulation) races ----
  // Same contenders as above, but every claim in every CHILD PROCESS
  // flows through TestCoordinators.condPut (GRAFT_TEST_COORD=condput):
  // the cross-process proof that the protocol's exactly-once needs
  // nothing beyond the put-if-absent primitive the S3/GCS/Azure mapping
  // supplies — no rename atomicity, no exists-then-act, anywhere in the
  // claim path. The `.tmp-` absence assertion pins that no process fell
  // back to the rename coordinator's artifacts.
  private val condEnv = Map("GRAFT_TEST_COORD" -> "condput")

  private def assertCondPutArtifacts(commitsDir: java.io.File): Unit = {
    val names = Option(commitsDir.listFiles).toSeq.flatten.map(_.getName)
    assert(names.contains(".osstage"),
      s"claims did not flow through the emulated store: $names")
    assert(!names.exists(_.startsWith(".tmp-")),
      s"rename-coordinator temp artifacts under conditional PUT: $names")
  }

  test("appendOnce + shared keys across PROCESSES through the " +
      "conditional-PUT coordinator: every batch exactly once") {
    val dir = TestSpark.tmpDir("mjvm_condput")
    val writers = 3
    val batches = 4
    val sharedBatches = 3
    val ps = (1 to writers).map(i =>
      launch(dir, "append-writer", i, batches, condEnv)) ++
      (1 to 2).map(i => launch(dir, "key-racer", 10 + i, sharedBatches, condEnv))
    await(ps, dir)
    val sink = new VersionedParquetSink(dir,
      coordinator = TestCoordinators.condPut)
    val t = sink.read(spark, "t")
    assert(t.count() ==
      (writers * batches + sharedBatches).toLong * 20,
      "lost or duplicated appends through the conditional-PUT claims")
    val perBatch = t.groupBy("w", "b").agg(count(lit(1)).as("n")).collect()
    assert(perBatch.length == writers * batches + sharedBatches)
    perBatch.foreach(r => assert(r.getAs[Long]("n") == 20L,
      s"batch (${r.get(0)}, ${r.get(1)}) applied ${r.getAs[Long]("n") / 20}x"))
    assertCondPutArtifacts(new java.io.File(s"$dir/t/_commits"))
  }

  test("log retention churn across PROCESSES through the " +
      "conditional-PUT coordinator: markers retire, no row lost") {
    val dir = TestSpark.tmpDir("mjvm_condchurn")
    val sink = new VersionedParquetSink(dir, checkpointInterval = 5,
      coordinator = TestCoordinators.condPut)
    sink.append(Seq((0L, "seed")).toDF("n", "v"), "t")
    sink.setProperties(spark, "t", Map(
      "graft.logRetentionDuration" -> "0s",
      "graft.deletedFileRetentionDuration" -> "1h"))
    val writers = 3
    val batches = 8
    val nClones = 4
    val ps = (1 to writers).map(i =>
      launch(dir, "churn-writer", i, batches, condEnv)) ++
      Seq(launch(dir, "churn-maintainer", 0, 20, condEnv),
        launch(dir, "churn-cloner", 9, nClones, condEnv))
    await(ps, dir)
    val vs = sink.versions(spark, "t")
    assert(vs == vs.sorted && vs.last + 1 >= (writers * batches).toLong,
      s"version chain incoherent or short: $vs")
    sink.vacuum(spark, "t", graceMs = 3600000L)
    val markers = Option(new java.io.File(s"$dir/t/_commits").listFiles)
      .toSeq.flatten.count(_.getName.endsWith(".commit"))
    assert(markers < writers * batches,
      s"retention retired nothing: $markers markers for ${vs.last + 1}")
    val ns = sink.read(spark, "t").collect().map(_.getLong(0)).sorted.toSeq
    val expected = (0L +: (for {
      id <- 1 to writers; b <- 1 to batches; i <- 0 until 5
    } yield (id.toLong * 1000 + b) * 10 + i)).sorted
    assert(ns == expected,
      s"lost/duplicated rows under conditional-PUT retention churn: " +
        s"${ns.length} of ${expected.length}")
    (1 to nClones).foreach { b =>
      assert(sink.read(spark, s"clone_w9_$b").count() >= 1L,
        s"clone_w9_$b broken after conditional-PUT retention churn")
    }
    assertCondPutArtifacts(new java.io.File(s"$dir/t/_commits"))
  }
}

object MultiJvmRaceSpec {
  val K = 10

  /** Deterministic content for the content-index races — shared between
    * the spec and the RaceWorker processes so both sides generate
    * byte-identical documents from (writer, batch) coordinates alone
    * (scala.util.Random is seed-stable across JVMs). */
  private def salad(vocab: IndexedSeq[String], seed: Int, n: Int): String = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
  }
  private val baseVocab = Vector("red", "blue", "green", "gold", "iron",
    "wolf", "moon", "star", "rain", "leaf", "sand", "snow", "fire", "dust")

  // --- chunk race: every writer's docs embed ONE shared run (the
  // cross-process content-address-sharing case) around writer-unique
  // prose, so the store must dedup across OS processes
  val ChunkWriters = 2
  val ChunkBatches = 4
  private lazy val chunkShared = salad(baseVocab, 7777, 120)
  def chunkDocId(w: Int, b: Int): Long = w.toLong * 1000 + b
  def chunkDocText(w: Int, b: Int): String =
    s"${salad(baseVocab, w * 100 + b, 80)} $chunkShared " +
      salad(baseVocab, w * 100 + b + 50, 40)

  // --- span race: writer-DISJOINT vocab, so cross-writer cleaning can
  // never depend on process interleaving; each writer's batches repeat
  // the writer's own boilerplate run, making index-driven masking a
  // per-writer sequential (= deterministic) computation
  val SpanWriters = 2
  val SpanBatches = 4
  private def spanVocab(w: Int) = (1 to 14).map(i => s"w${w}t$i").toVector
  def spanBoiler(w: Int): String =
    (1 to 10).map(i => s"w${w}boil$i").mkString(" ")
  def spanDocId(w: Int, b: Int, i: Int): Long = (w * 100L + b) * 10L + i
  def spanDocs(w: Int, b: Int): Seq[(Long, String)] = Seq(
    (spanDocId(w, b, 0),
      s"${salad(spanVocab(w), b * 31 + w, 20)} ${spanBoiler(w)} " +
        salad(spanVocab(w), b * 31 + w + 7, 12)),
    (spanDocId(w, b, 1), salad(spanVocab(w), b * 31 + w + 13, 24)))

  // --- ann race: deterministic md5-derived vectors, (writer, batch)
  // -disjoint id spaces; dim 8 to keep child-process batches cheap
  def annBatch(spark: org.apache.spark.sql.SparkSession, w: Int,
      b: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0 until 20).map { i =>
      val id = (w * 100L + b) * 100L + i
      (id, (0 until 8).map { j =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"${id}_$j".getBytes("UTF-8"))
        ((h(0) & 0xff) * 256 + (h(1) & 0xff)) / 65535.0 - 0.5
      })
    }.toDF("id", "vec")
  }

  // --- dedup race: writer-disjoint vocab + doc space; each batch has a
  // fresh doc, an exact repeat of the writer's batch-1 doc (index-driven
  // exact drop once batch 1 landed), and an in-batch duplicate pair
  val DedupWriters = 2
  val DedupBatches = 4
  private def dedupVocab(w: Int) = (1 to 14).map(i => s"d${w}v$i").toVector
  def dedupDocId(w: Int, b: Int, i: Int): Long = (w * 100L + b) * 10L + i
  def dedupDocs(w: Int, b: Int): Seq[(Long, String)] = {
    val fresh = salad(dedupVocab(w), b * 97 + w, 60)
    val dupOfFirst = salad(dedupVocab(w), 97 + w, 60)
    val pair = salad(dedupVocab(w), b * 97 + w + 31, 50)
    Seq((dedupDocId(w, b, 0), fresh), (dedupDocId(w, b, 1), dupOfFirst),
      (dedupDocId(w, b, 2), pair), (dedupDocId(w, b, 3), pair))
  }
}
