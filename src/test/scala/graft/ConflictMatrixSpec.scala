package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Commit, CommitCoordinator, RenameCommitCoordinator,
  VersionedParquetSink}

/** The commit claim's conflict rules, cell by cell: each committing
  * operation (a row) against each kind of commit that lands between the
  * operation's log read and its claim (a column). The intervening commit
  * is injected deterministically: the sink's coordinator runs it
  * through a second sink on the same base just before publishing the
  * operation's first marker, so that first publish always loses its
  * version. Every cell asserts one outcome — the claim lands past the
  * newer commit, the operation re-derives from a fresh snapshot, or it
  * aborts with a named exception — and whether the dir the first claim
  * named survives. */
class ConflictMatrixSpec extends AnyFunSuite {
  import ConflictMatrixSpec._
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The default coordinator, except that the first marker publish
    * while armed first runs `intervene` and records the dir it names.
    * Same thread, so the intervening commit's claim re-enters the
    * sink's JVM claim lock. */
  private final class Interposer extends CommitCoordinator {
    var intervene: Option[() => Unit] = None
    var firstDir: Option[String] = None
    def publishIfAbsent(f: FileSystem, target: Path,
        body: Array[Byte]): Boolean = {
      if (target.getName.endsWith(".commit")) intervene.foreach { run =>
        intervene = None
        firstDir = Some(Commit.parse(new String(body, UTF_8), Some(0L)).dir)
        run()
      }
      RenameCommitCoordinator.publishIfAbsent(f, target, body)
    }
  }

  private def batch(ids: Long*) =
    ids.map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)

  private val interventions: Seq[(String, VersionedParquetSink => Unit)] = Seq(
    "a plain append" -> (s => s.append(batch(7L), "t")),
    "a compact" -> (s => { s.compact(spark, "t"); () }),
    "a DV delete" -> (s => { s.deleteVectored(spark, "t", col("id") === 1L); () }),
    "SET TBLPROPERTIES" -> (s => { s.setProperties(spark, "t", Map("x" -> "1")); () }),
    "ADD CONSTRAINT" -> (s => { s.addConstraint(spark, "t", "pos", "id > 0"); () }))

  private val none: VersionedParquetSink => Unit = _ => ()

  //                   a plain append   a compact  a DV delete SET TBLPROPERTIES  ADD CONSTRAINT
  private val rows = Seq(
    Row("plain append", none, _.append(batch(8L), "t"), rewrite = false,
      Seq(Lands, Lands, Lands, Lands, stateAbort)),
    Row("identity append",
      s => { s.setIdentityColumn(spark, "t", "rid"); () },
      _.append(batch(8L), "t"), rewrite = false,
      Seq(Rederives, Lands, Lands, Rederives, stateAbort)),
    Row("multiAppendOnce claim", none,
      s => { s.multiAppendOnce(Seq(batch(8L) -> "t"), "tx"); () },
      rewrite = false,
      Seq(Lands, Lands, Lands, Lands,
        Aborts(classOf[IllegalStateException], keepsDir = true))),
    Row("copy-on-write delete", none,
      s => { s.delete(spark, "t", col("id") === 2L); () }, rewrite = true,
      Seq(Rederives, Rederives, Rederives, Rederives, Rederives)),
    Row("compact", none, s => { s.compact(spark, "t", Some(1)); () },
      rewrite = true, Seq(Lands, Rederives, Rederives, Lands, Lands)),
    Row("compactWhere", none,
      s => { s.compactWhere(spark, "t", col("id") > 0L, Some(1)); () },
      rewrite = false, Seq(Lands, Rederives, Rederives, Lands, Lands)))

  for (row <- rows; ((what, intervene), outcome) <-
      interventions.zip(row.outcomes)) {
    test(s"${row.name} vs intervening $what: $outcome") {
      val base = TestSpark.tmpDir("cm")
      val coord = new Interposer
      val sink = new VersionedParquetSink(base, coordinator = coord)
      val other = new VersionedParquetSink(base)
      sink.append(batch(1L, 2L, 3L), "t")
      sink.append(batch(4L, 5L, 6L), "t")
      row.setup(sink)
      val before = sink.latestVersion(spark, "t").get
      coord.intervene = Some(() => intervene(other))
      val thrown = try { row.op(sink); None }
        catch { case e: Throwable => Some(e) }
      assert(coord.intervene.isEmpty, "the intervening commit never ran")
      val first = coord.firstDir.get
      val firstExists = new File(s"$base/t/$first").exists()
      val log = Commit.parse(new String(java.nio.file.Files.readAllBytes(
        new File(s"$base/t/_commits/${sink.latestVersion(spark, "t").get}" +
          ".commit").toPath), UTF_8), None)
      outcome match {
        case Lands =>
          assert(thrown.isEmpty, s"threw $thrown")
          assert(log.version == before + 2 && log.dir == first,
            s"expected the first claim's dir at v${before + 2}, got $log")
          if (row.rewrite) assert(log.compacts.contains(before))
        case Rederives =>
          assert(thrown.isEmpty, s"threw $thrown")
          assert(!firstExists, s"first claim's dir $first survived")
          assert(log.dir != first)
          if (row.rewrite) assert(log.compacts.contains(before + 1),
            s"re-derived rewrite must supersede v${before + 1}: $log")
        case Aborts(cls, keepsDir) =>
          assert(thrown.exists(cls.isInstance), s"expected $cls, got $thrown")
          assert(log.version == before + 1, "the aborted claim committed")
          assert(firstExists == keepsDir,
            s"staged dir $first exists=$firstExists, expected $keepsDir")
      }
    }
  }
}

object ConflictMatrixSpec {
  sealed trait Outcome
  /** The first claim's dir commits at the next free version. */
  case object Lands extends Outcome
  /** The first claim's dir is dropped; the operation re-runs from a
    * fresh snapshot (a rewrite's marker then supersedes the intervening
    * version). */
  case object Rederives extends Outcome
  /** The operation throws `cls`; the first claim's dir survives iff
    * `keepsDir`. */
  final case class Aborts(cls: Class[_ <: Throwable],
      keepsDir: Boolean) extends Outcome {
    override def toString = s"aborts with ${cls.getSimpleName}" +
      (if (keepsDir) ", staged dir kept" else ", staged dir dropped")
  }
  val stateAbort = Aborts(classOf[IllegalStateException], false)

  final case class Row(name: String, setup: VersionedParquetSink => Unit,
      op: VersionedParquetSink => Unit, rewrite: Boolean,
      outcomes: Seq[Outcome])
}
