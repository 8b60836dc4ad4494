package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Pipeline, VersionedParquetSink}

/** Cross-table transactional commit ([[VersionedParquetSink
  * .multiAppendOnce]]): one logical batch lands in EVERY table or in
  * NONE — including across a writer death between table writes (the
  * chaos window the per-table keyed appends alone cannot close). */
class MultiTableTxnSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def batch(n: Int) =
    Seq.tabulate(n)(i => (i.toLong, s"v$i")).toDF("id", "v")

  test("happy path: all tables land under one key; replay is a no-op") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("txn1"))
    val writes = Seq(batch(3) -> "a", batch(5) -> "b", batch(2) -> "c")
    assert(sink.multiAppendOnce(writes, "k1"))
    assert(sink.read(spark, "a").count() == 3)
    assert(sink.read(spark, "b").count() == 5)
    assert(sink.read(spark, "c").count() == 2)
    // full keyed replay: nothing doubles, returns false
    assert(!sink.multiAppendOnce(writes, "k1"))
    assert(sink.read(spark, "a").count() == 3)
    assert(sink.read(spark, "b").count() == 5)
  }

  test("chaos: writer dies between table writes -> recovery lands ALL") {
    val base = TestSpark.tmpDir("txn2")
    val sink = new VersionedParquetSink(base)
    sink.multiAppendOnce(
      Seq(batch(1) -> "a", batch(1) -> "b", batch(1) -> "c"), "seed")
    // die after table a's claim, before b's — past the commit point
    sink.txnClaimHook = t =>
      if (t == "b") throw new RuntimeException("simulated writer death")
    val e = intercept[RuntimeException] {
      sink.multiAppendOnce(
        Seq(batch(4) -> "a", batch(4) -> "b", batch(4) -> "c"), "k2")
    }
    assert(e.getMessage.contains("simulated"))
    // partial durable state: a has the batch, b/c do not, txn pending
    assert(sink.read(spark, "a").count() == 5)
    assert(sink.read(spark, "b").count() == 1)
    assert(new java.io.File(s"$base/_txn").listFiles()
      .exists(_.getName.endsWith(".json")), "txn manifest must persist")
    // a FRESH process (new sink instance, clean hook) recovers: all land
    val healed = new VersionedParquetSink(base).recoverTransactions(spark)
    assert(healed == 2, s"expected 2 healed claims, got $healed")
    assert(sink.read(spark, "a").count() == 5)
    assert(sink.read(spark, "b").count() == 5)
    assert(sink.read(spark, "c").count() == 5)
    // replay of the healed key is a no-op
    sink.txnClaimHook = _ => ()
    assert(!sink.multiAppendOnce(
      Seq(batch(4) -> "a", batch(4) -> "b", batch(4) -> "c"), "k2"))
    assert(sink.read(spark, "a").count() == 5)
  }

  test("chaos: death BEFORE the commit point -> NO table shows the batch") {
    val base = TestSpark.tmpDir("txn3")
    val sink = new VersionedParquetSink(base)
    sink.multiAppendOnce(Seq(batch(2) -> "a", batch(2) -> "b"), "seed")
    // a frame whose evaluation throws mid-staging = death in step 1
    val poison = batch(3).filter(
      org.apache.spark.sql.functions.udf((i: Long) => {
        if (i >= 0) throw new RuntimeException("poison"); true
      }).apply($"id"))
    intercept[Exception] {
      sink.multiAppendOnce(Seq(batch(3) -> "a", poison -> "b"), "k3")
    }
    // nothing landed anywhere, no pending txn to heal
    assert(sink.read(spark, "a").count() == 2)
    assert(sink.read(spark, "b").count() == 2)
    assert(sink.recoverTransactions(spark) == 0)
    // the key is still usable — the batch never reached its commit point
    assert(sink.multiAppendOnce(Seq(batch(3) -> "a", batch(3) -> "b"), "k3"))
    assert(sink.read(spark, "a").count() == 5)
  }

  test("the next multiAppendOnce heals a crashed predecessor first") {
    val base = TestSpark.tmpDir("txn4")
    val sink = new VersionedParquetSink(base)
    sink.txnClaimHook = t =>
      if (t == "b") throw new RuntimeException("die")
    intercept[RuntimeException] {
      sink.multiAppendOnce(Seq(batch(2) -> "a", batch(2) -> "b"), "k4")
    }
    sink.txnClaimHook = _ => ()
    // an unrelated later batch completes the crashed txn on entry
    assert(sink.multiAppendOnce(Seq(batch(1) -> "a", batch(1) -> "b"), "k5"))
    assert(sink.read(spark, "a").count() == 3)
    assert(sink.read(spark, "b").count() == 3)
    assert(!new java.io.File(s"$base/_txn").listFiles()
      .exists(_.getName.endsWith(".json")))
  }

  test("vacuum(graceMs=0) mid-transaction keeps staged dirs; recovery heals") {
    val base = TestSpark.tmpDir("txnvac")
    val sink = new VersionedParquetSink(base)
    sink.multiAppendOnce(Seq(batch(2) -> "a", batch(2) -> "b"), "seed")
    sink.txnClaimHook = t =>
      if (t == "b") throw new RuntimeException("die")
    intercept[RuntimeException] {
      sink.multiAppendOnce(Seq(batch(3) -> "a", batch(3) -> "b"), "kv")
    }
    sink.txnClaimHook = _ => ()
    // the hostile vacuum: zero grace, while b's staged dir is unclaimed
    // but named by the pending _txn manifest — it must NOT be collected
    assert(sink.vacuum(spark, "b", graceMs = 0L) == 0,
      "vacuum must keep staged dirs of a committed-but-unclaimed txn")
    assert(sink.vacuum(spark, "a", graceMs = 0L) == 0)
    val healed = new VersionedParquetSink(base).recoverTransactions(spark)
    assert(healed == 1, s"expected 1 healed claim, got $healed")
    assert(sink.read(spark, "a").count() == 5)
    assert(sink.read(spark, "b").count() == 5)
    // once claimed, the dirs are manifest-committed; vacuum still no-ops
    assert(sink.vacuum(spark, "b", graceMs = 0L) == 0)
  }

  test("ADD CONSTRAINT racing past the commit point: recovery rolls forward") {
    val base = TestSpark.tmpDir("txngov")
    val sink = new VersionedParquetSink(base)
    sink.multiAppendOnce(Seq(batch(2) -> "a", batch(2) -> "b"), "seed")
    sink.txnClaimHook = t =>
      if (t == "b") throw new RuntimeException("die")
    intercept[RuntimeException] {
      sink.multiAppendOnce(Seq(batch(3) -> "a", batch(3) -> "b"), "kg")
    }
    sink.txnClaimHook = _ => ()
    // governance changes AFTER the txn's commit point: the staged rows
    // (id 0..2) SATISFY the new constraint, so recovery must re-validate
    // and roll forward, not poison-pill
    sink.addConstraint(spark, "b", "id_nonneg", "id >= 0")
    val healed = new VersionedParquetSink(base).recoverTransactions(spark)
    assert(healed == 1, s"expected 1 rolled-forward claim, got $healed")
    assert(sink.read(spark, "b").count() == 5)
    // the rolled-forward commit is pinned to the NEW constraint set:
    // a later violating append still trips it
    val e = intercept[Exception] {
      sink.append(Seq((-1L, "bad")).toDF("id", "v"), "b") }
    assert(e.getMessage != null)
    assert(sink.multiAppendOnce( // store is healthy, not poisoned
      Seq(batch(1) -> "a", batch(1) -> "b"), "kg2"))
  }

  test("unsatisfiable governance race quarantines loudly, never poisons") {
    val base = TestSpark.tmpDir("txnquar")
    val sink = new VersionedParquetSink(base)
    // seed rows satisfy the constraint added later; only the in-flight
    // staged rows violate it
    val seed = batch(2).withColumn("id", $"id" + 100L)
    sink.multiAppendOnce(Seq(seed -> "a", seed -> "b"), "seed")
    sink.txnClaimHook = t =>
      if (t == "b") throw new RuntimeException("die")
    intercept[RuntimeException] {
      sink.multiAppendOnce(Seq(batch(3) -> "a", batch(3) -> "b"), "kq")
    }
    sink.txnClaimHook = _ => ()
    // the staged rows (id 0..2) VIOLATE the new constraint: roll-forward
    // is impossible — all-or-none has degraded to partial, permanently
    sink.addConstraint(spark, "b", "id_big", "id >= 100")
    val e = intercept[IllegalStateException] {
      new VersionedParquetSink(base).recoverTransactions(spark) }
    assert(e.getMessage.contains("quarantined"), e.getMessage)
    assert(e.getMessage.contains("PARTIALLY applied"), e.getMessage)
    val txnFiles = new java.io.File(s"$base/_txn").listFiles()
    assert(txnFiles.exists(_.getName.endsWith(".json.failed")),
      "manifest must be quarantined as .failed")
    assert(!txnFiles.exists(_.getName.endsWith(".json")))
    // the store is NOT poisoned: recovery is clean, new txns proceed
    assert(sink.recoverTransactions(spark) == 0)
    assert(sink.multiAppendOnce(
      Seq(batch(1) -> "a",
        batch(4).withColumn("id", $"id" + 100L) -> "b"), "kq2"))
    // quarantined staged dir survives vacuum (manual repair evidence)
    // until the .failed manifest itself is removed
    assert(sink.vacuum(spark, "b", graceMs = 0L) == 0)
    txnFiles.filter(_.getName.endsWith(".failed")).foreach(_.delete())
    assert(sink.vacuum(spark, "b", graceMs = 0L) == 1)
  }

  test("a corrupt manifest is quarantined after the others heal") {
    val base = TestSpark.tmpDir("txncorrupt")
    val sink = new VersionedParquetSink(base)
    sink.multiAppendOnce(Seq(batch(2) -> "a", batch(2) -> "b"), "seed")
    sink.txnClaimHook = t =>
      if (t == "b") throw new RuntimeException("die")
    intercept[RuntimeException] {
      sink.multiAppendOnce(Seq(batch(3) -> "a", batch(3) -> "b"), "kc")
    }
    sink.txnClaimHook = _ => ()
    // a truncated manifest and one without its table list
    val txn = java.nio.file.Paths.get(s"$base/_txn")
    java.nio.file.Files.writeString(txn.resolve("cut.json"),
      """{"key":"x","tables":[{"table":"a","di""")
    java.nio.file.Files.writeString(txn.resolve("bare.json"), """{"key":"y"}""")
    val e = intercept[IllegalStateException] {
      new VersionedParquetSink(base).recoverTransactions(spark) }
    Seq("cut.json", "bare.json").foreach(n =>
      assert(e.getMessage.contains(s"$n.failed"), e.getMessage))
    // the valid crashed transaction healed; the garbage is quarantined
    assert(sink.read(spark, "b").count() == 5)
    assert(txn.toFile.list().sorted.toSeq ==
      Seq("bare.json.failed", "cut.json.failed"))
    assert(sink.multiAppendOnce(Seq(batch(1) -> "a", batch(1) -> "b"), "k6"))
    assert(sink.read(spark, "a").count() == 6)
    // vacuum cannot know which dirs a garbage manifest pins: it refuses,
    // naming the file
    val v = intercept[IllegalStateException](
      sink.vacuum(spark, "a", graceMs = 0L))
    assert(v.getMessage.contains(".json.failed"), v.getMessage)
  }

  test("pipeline batch rides the transaction on the versioned sink") {
    val feeds = TestSpark.tmpDir("txnfeeds")
    java.nio.file.Files.write(java.nio.file.Paths.get(feeds, "b.json"),
      """{"title":"Mayor Ann Bell resigns","published":"Mon, 05 Feb 2024 10:30:00 GMT","description":"d","link":"l","guid":"g1","media_thumbnail":null,"feed":"Politics"}"""
        .getBytes("UTF-8"))
    val base = TestSpark.tmpDir("txnstore")
    val sink = new VersionedParquetSink(base)
    // die between the pipeline's curated and actors writes
    sink.txnClaimHook = t =>
      if (t == "actors") throw new RuntimeException("die")
    intercept[RuntimeException] { Pipeline.run(spark, feeds, sink) }
    sink.txnClaimHook = _ => ()
    // the RE-RUN heals: every table (incl. state) converges to the batch
    val r = Pipeline.run(spark, feeds, sink)
    assert(sink.read(spark, "raw").count() == 1)
    assert(sink.read(spark, "curated").count() == 1)
    assert(sink.read(spark, "actors").count() >= 1)
    assert(sink.read(spark, "state").count() == 1)
    // and a further run appends nothing (state anti-join + keyed txn)
    assert(Pipeline.run(spark, feeds, sink).newArticles == 0)
  }

  test("a 4-table commit reads none of the dirs it just staged") {
    // per-file stats come from the writes themselves: a read-back pass
    // over a staged d-* dir (two jobs per table) must not come back
    val base = TestSpark.tmpDir("txnjobs")
    val sink = new VersionedParquetSink(base)
    val tables = Seq("raw", "curated", "actors", "state")
    assert(sink.multiAppendOnce(tables.map(batch(3) -> _), "seed"))
    def dataDirs = tables.flatMap(t =>
      Option(new java.io.File(base, t).list()).toSeq.flatten)
      .filter(_.startsWith("d-")).toSet
    val before = dataDirs
    val sc = spark.sparkContext
    val jobExecs = new ConcurrentLinkedQueue[String]()
    val plans = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobExecs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("none"))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          plans.add(s.executionId.toString -> s.physicalPlanDescription)
        case a: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.add(a.executionId.toString -> a.physicalPlanDescription)
        case _ =>
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try assert(sink.multiAppendOnce(tables.map(batch(5) -> _), "k"))
    finally {
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    val staged = dataDirs -- before
    assert(staged.size == 4)
    val jobs = jobExecs.asScala.toSeq
    for (exec <- jobs; (id, plan) <- plans.asScala if id == exec;
        d <- staged)
      assert(!plan.contains(d), s"a job of the commit scans staged $d:\n$plan")
    // one write job per table, and nothing else
    assert(jobs.size == 4, s"jobs of one 4-table commit: $jobs")
  }

  test("a transaction reads each table's log once before its claim") {
    LagListFileSystem.register(spark.sparkContext.hadoopConfiguration)
    val local = TestSpark.tmpDir("txnlist")
    val sink = new VersionedParquetSink("lag:" + local)
    val tables = Seq("a", "b", "c")
    assert(sink.multiAppendOnce(tables.map(batch(2) -> _), "seed"))
    LagListFileSystem.listings.clear()
    // v1 is off the checkpoint grid: no checkpoint read or write
    assert(sink.multiAppendOnce(tables.map(batch(3) -> _), "k"))
    tables.foreach { t =>
      val n = Option(LagListFileSystem.listings.get(s"$local/$t/_commits"))
        .map(_.get).getOrElse(0)
      // one read serves the key check, the staging and the claim; the
      // second is the post-claim visibility check
      assert(n == 2, s"table $t: _commits listed $n times by one commit")
      assert(sink.read(spark, t).count() == 5L)
    }
  }
}
