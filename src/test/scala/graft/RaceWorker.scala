package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{SampleIndex, VersionedParquetSink}

/** Child-process entry point for [[MultiJvmRaceSpec]]: one writer /
  * compactor role per OS PROCESS, so the commit-claim protocol is
  * exercised where threads cannot share memory, locks, or JVM-level
  * atomics — rename-based claims are process-atomic in theory; this is
  * where that theory meets the filesystem. Test-scope only (not part of
  * the library jar).
  *
  * args: basePath role workerId nBatches
  *  - sample-writer:    absorb nBatches of 50 weighted docs each into
  *    the shared reservoir (distinct content + distinct batch keys)
  *  - sample-compactor: fold the reservoir nBatches times while the
  *    writers are running (serializable rewrite under contention)
  *  - append-writer:    appendOnce nBatches of 20 rows with per-writer
  *    keys — every batch must land exactly once
  *  - key-racer:        appendOnce the SAME nBatches (identical keys
  *    AND content) as every other racer — each key must apply exactly
  *    once across all processes
  */
object RaceWorker {
  /** Coordinator under test: GRAFT_TEST_COORD=condput swaps every
    * sink in this process onto the emulated object-store conditional
    * PUT ([[TestCoordinators.condPut]]) — the race is then a
    * cross-process exercise of the put-if-absent-only mapping. */
  private def coord: graft.engine.CommitCoordinator =
    if (sys.env.get("GRAFT_TEST_COORD").contains("condput"))
      TestCoordinators.condPut
    else graft.engine.RenameCommitCoordinator

  def main(args: Array[String]): Unit = {
    val Array(dir, role, idStr, nStr) = args
    val id = idStr.toInt
    val n = nStr.toInt
    val spark = graft.engine.EngineSession.configure(SparkSession.builder())
      .master("local[2]")
      .appName(s"race-$role-$id")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val sink = new VersionedParquetSink(dir, coordinator = coord)
    role match {
      case "sample-writer" =>
        (1 to n).foreach { b =>
          val base = id.toLong * 1000000L + b.toLong * 1000L
          val rows = (0L until 50L).map(i => (base + i, 1L + (base + i) % 500))
          SampleIndex.absorb(spark, sink, rows.toDF("doc_id", "wt"),
            MultiJvmRaceSpec.K, batchKey = Some(s"w$id-b$b"))
        }
      case "sample-compactor" =>
        (1 to n).foreach { _ =>
          SampleIndex.compact(spark, sink, MultiJvmRaceSpec.K)
          Thread.sleep(100)
        }
      case "append-writer" =>
        (1 to n).foreach { b =>
          val rows = (0 until 20).map(i => (id, b, i))
          sink.appendOnce(rows.toDF("w", "b", "i"), "t", s"w$id-b$b")
        }
      case "churn-writer" =>
        // plain appends against a log-retention-enabled table while a
        // maintainer process checkpoints/retires markers underneath —
        // the cross-process form of SoakSpec's retention soak (whose
        // in-JVM run caught the r9 phantom-commit data loss)
        val churnSink = new VersionedParquetSink(dir, checkpointInterval = 5,
          coordinator = coord)
        (1 to n).foreach { b =>
          churnSink.append(
            (0 until 5).map(i => ((id.toLong * 1000 + b) * 10 + i,
              s"w$id-b$b-r$i")).toDF("n", "v"), "t")
        }
      case "churn-maintainer" =>
        val churnSink = new VersionedParquetSink(dir, checkpointInterval = 5,
          coordinator = coord)
        (1 to n).foreach { _ =>
          // the retention prop makes vacuum run vacuumLog; data dirs
          // are protected by the 1h deleted-file retention
          churnSink.vacuum(spark, "t", graceMs = 3600000L)
          Thread.sleep(150)
        }
      case "churn-cloner" =>
        // pin snapshots mid-churn from a separate process and read each
        // clone back immediately: a clone taken while another process
        // retires markers must still resolve its pinned snapshot
        val churnSink = new VersionedParquetSink(dir, checkpointInterval = 5,
          coordinator = coord)
        (1 to n).foreach { b =>
          val cname = s"clone_w${id}_$b"
          churnSink.cloneShallow(spark, "t", cname)
          val cnt = churnSink.read(spark, cname).count()
          require(cnt >= 1L, s"$cname read $cnt rows at pin time")
          Thread.sleep(200)
        }
      case "identity-writer" =>
        // plain appends to a GENERATED ALWAYS AS IDENTITY table: the
        // allocation pins its base version and must retry on conflict —
        // across processes a stale pin that survived would mint
        // duplicate ids (the r9 phantom-commit shape, identity edition)
        (1 to n).foreach { b =>
          sink.append((0 until 5).map(i => s"w$id-b$b-r$i").toDF("v"), "t")
        }
      case "chunk-writer" =>
        (1 to n).foreach { b =>
          graft.engine.ChunkIndex.append(spark, sink,
            Seq((MultiJvmRaceSpec.chunkDocId(id, b),
              MultiJvmRaceSpec.chunkDocText(id, b))).toDF("doc_id", "text"),
            batchKey = Some(s"chunk-w$id-b$b"))
          ()
        }
      case "chunk-replayer" =>
        // re-submits writer 1's keys WITH IDENTICAL CONTENT while the
        // writers are still running: whichever process wins a table's
        // keyed claim, each (key, table) applies exactly once, and a
        // replay-computed store append can only OMIT hashes that are
        // already committed (the anti-join reads visible state only)
        (1 to n).foreach { b =>
          graft.engine.ChunkIndex.append(spark, sink,
            Seq((MultiJvmRaceSpec.chunkDocId(1, b),
              MultiJvmRaceSpec.chunkDocText(1, b))).toDF("doc_id", "text"),
            batchKey = Some(s"chunk-w1-b$b"))
          Thread.sleep(100)
        }
      case "span-writer" =>
        (1 to n).foreach { b =>
          graft.engine.SpanIndex.appendCleaned(spark, sink,
            MultiJvmRaceSpec.spanDocs(id, b).toDF("doc_id", "text"),
            batchKey = Some(s"span-w$id-b$b"))
          ()
        }
      case "span-replayer" =>
        // post-hoc replay (launched after the writers finish): the
        // cleaned text of a replayed batch depends on the index state
        // it reads, so only a replay of COMMITTED keys is semantically
        // a no-op — exactly the crash-replay contract
        (1 to n).foreach { b =>
          graft.engine.SpanIndex.appendCleaned(spark, sink,
            MultiJvmRaceSpec.spanDocs(1, b).toDF("doc_id", "text"),
            batchKey = Some(s"span-w1-b$b"))
          ()
        }
      case "dedup-writer" =>
        (1 to n).foreach { b =>
          graft.engine.DedupIndex.appendDeduped(spark, sink,
            MultiJvmRaceSpec.dedupDocs(id, b).toDF("doc_id", "text"),
            batchKey = Some(s"dedup-w$id-b$b"))
          ()
        }
      case "dedup-replayer" =>
        (1 to n).foreach { b =>
          graft.engine.DedupIndex.appendDeduped(spark, sink,
            MultiJvmRaceSpec.dedupDocs(1, b).toDF("doc_id", "text"),
            batchKey = Some(s"dedup-w1-b$b"))
          ()
        }
      case "ann-writer" =>
        // keyed two-table append (vectors + meta fingerprint row)
        // against FROZEN quantizers from a separate process
        graft.GraftExtensions.ensureRegistered(spark) // graft_dot
        (1 to n).foreach { b =>
          graft.engine.AnnIndex.append(spark, sink, "ann",
            MultiJvmRaceSpec.annBatch(spark, id, b),
            batchKey = s"ann-w$id-b$b", superProbes = Some(2))
          ()
        }
      case "ann-replayer" =>
        // live same-key replay of writer 1's batches: each (key, table)
        // must apply exactly once whichever process wins the claim
        graft.GraftExtensions.ensureRegistered(spark) // graft_dot
        (1 to n).foreach { b =>
          graft.engine.AnnIndex.append(spark, sink, "ann",
            MultiJvmRaceSpec.annBatch(spark, 1, b),
            batchKey = s"ann-w1-b$b", superProbes = Some(2))
          Thread.sleep(100)
        }
      case "chunk-compactor" | "span-compactor" | "dedup-compactor" =>
        // OPTIMIZE + retention churn under live cross-process keyed
        // appends: content-neutral rewrites must never perturb the
        // index protocols
        val tables = role match {
          case "chunk-compactor" => Seq("cdc_store", "cdc_manifest")
          case "span-compactor" => Seq("clean_corpus", "span_index")
          case _ => Seq("corpus", "dedup_fp", "dedup_sig")
        }
        (1 to n).foreach { _ =>
          tables.foreach { t =>
            try { sink.compact(spark, t); () }
            catch { case _: Exception => () } // table may not exist yet
            try { sink.vacuum(spark, t, graceMs = 3600000L); () }
            catch { case _: Exception => () }
          }
          Thread.sleep(150)
        }
      case "key-racer" =>
        // identical keys AND identical content across every racer: the
        // claim protocol decides who applies each; losers must no-op
        (1 to n).foreach { b =>
          val rows = (0 until 20).map(i => (0, b, i))
          sink.appendOnce(rows.toDF("w", "b", "i"), "t", s"shared-b$b")
        }
      case other => sys.error(s"unknown role $other")
    }
    spark.stop()
  }
}
