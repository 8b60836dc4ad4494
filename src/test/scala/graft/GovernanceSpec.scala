package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.VersionedParquetSink

/** Table-governance commands on the versioned sink: RESTORE (roll the
  * table back to an older version as a new, serializable commit) and
  * CHECK constraints (named SQL predicates enforced as a codegen'd
  * per-row guard fused into every write — appends, merges, and
  * merge-on-read updates). */
class GovernanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("restore rolls data back as a NEW version; history stays travelable") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("gov1"))
    sink.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), "t") // v0
    sink.append(Seq((3, "c")).toDF("id", "v"), "t") // v1
    sink.delete(spark, "t", col("id") === 1) // v2
    val rv = sink.restore(spark, "t", 0L) // v3: back to {1,2}
    assert(rv == 3L)
    assert(sink.read(spark, "t").collect().map(_.getInt(0)).toSet == Set(1, 2))
    // nothing was erased: every prior version still reads
    assert(sink.readAt(spark, "t", 1).count() == 3)
    assert(sink.readAt(spark, "t", 2).collect().map(_.getInt(0)).toSet ==
      Set(2, 3))
    // and the restore itself can be undone by restoring past it
    sink.restore(spark, "t", 2L)
    assert(sink.read(spark, "t").collect().map(_.getInt(0)).toSet == Set(2, 3))
  }

  test("restore reverts schema evolution and materializes live DVs") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("gov2"))
    sink.append(Seq((1L, "a")).toDF("id", "s"), "t") // v0
    sink.append(Seq((2L, "b", 7L)).toDF("id", "s", "extra"), "t",
      allowEvolution = true) // v1
    sink.deleteVectored(spark, "t", col("id") === 1L) // v2 mask
    // restore to v0: pre-evolution schema, pre-delete content
    sink.restore(spark, "t", 0L)
    val df = sink.read(spark, "t")
    assert(df.columns.toSeq == Seq("id", "s"))
    assert(df.collect().map(_.getLong(0)).toSet == Set(1L))
    // the DV was retired by the restore's rewrite watermark: vacuum can
    // reclaim everything superseded and reads stay correct
    sink.vacuum(spark, "t", graceMs = 0L, includeSuperseded = true)
    assert(sink.read(spark, "t").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("addConstraint validates existing rows and rejects violating tables") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("gov3"))
    sink.append(Seq((1, 10), (2, -5)).toDF("id", "n"), "t")
    val e = intercept[IllegalArgumentException] {
      sink.addConstraint(spark, "t", "n_positive", "n > 0")
    }
    assert(e.getMessage.contains("n_positive"))
    assert(sink.constraintsOf(spark, "t").isEmpty) // nothing committed
    // after deleting the violator the constraint lands
    sink.delete(spark, "t", col("n") < 0)
    sink.addConstraint(spark, "t", "n_positive", "n > 0")
    assert(sink.constraintsOf(spark, "t") == Map("n_positive" -> "n > 0"))
  }

  test("appends enforce constraints per row; violations name the constraint") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("gov4"))
    sink.append(Seq((1, 10)).toDF("id", "n"), "t")
    sink.addConstraint(spark, "t", "n_positive", "n > 0")
    val e = intercept[Exception] {
      sink.append(Seq((2, 5), (3, -1)).toDF("id", "n"), "t")
    }
    assert(e.getMessage.contains("n_positive") ||
      Option(e.getCause).exists(_.getMessage.contains("n_positive")),
      s"violation lost the constraint name: ${e.getMessage}")
    // the failed append left no visible version, and valid appends pass
    assert(sink.read(spark, "t").count() == 1)
    sink.append(Seq((4, 2)).toDF("id", "n"), "t")
    assert(sink.read(spark, "t").count() == 2)
  }

  test("NULL evaluations pass (SQL CHECK semantics)") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("gov5"))
    sink.append(Seq((1, Some(10))).toDF("id", "n"), "t")
    sink.addConstraint(spark, "t", "n_positive", "n > 0")
    sink.append(Seq((2, None: Option[Int])).toDF("id", "n"), "t") // null passes
    assert(sink.read(spark, "t").count() == 2)
  }

  test("merge and updateVectored enforce constraints on incoming images") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("gov6"))
    sink.append(Seq((1, 10), (2, 20)).toDF("id", "n"), "t")
    sink.addConstraint(spark, "t", "n_positive", "n > 0")
    intercept[Exception] {
      sink.merge(spark, "t", Seq((1, -99)).toDF("id", "n"), Seq("id"))
    }
    assert(sink.read(spark, "t").filter(col("id") === 1)
      .head().getInt(1) == 10) // merge rolled back
    intercept[Exception] {
      sink.updateVectored(spark, "t", col("id") === 2,
        Map("n" -> (col("n") - 100)))
    }
    assert(sink.read(spark, "t").filter(col("id") === 2)
      .head().getInt(1) == 20) // update rolled back
    // valid versions of both pass
    sink.merge(spark, "t", Seq((1, 11)).toDF("id", "n"), Seq("id"))
    sink.updateVectored(spark, "t", col("id") === 2, Map("n" -> (col("n") + 1)))
    val rows = sink.read(spark, "t").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(rows == Map(1 -> 11, 2 -> 21))
  }

  test("constraints survive checkpoints, compaction, and dropConstraint") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("gov7"),
      checkpointInterval = 3)
    sink.append(Seq((1, 10)).toDF("id", "n"), "t")
    sink.addConstraint(spark, "t", "n_positive", "n > 0")
    // push several versions across the checkpoint grid + a compaction
    (2 to 6).foreach(i => sink.append(Seq((i, i)).toDF("id", "n"), "t"))
    sink.compact(spark, "t", targetFiles = Some(1))
    assert(sink.constraintsOf(spark, "t") == Map("n_positive" -> "n > 0"))
    intercept[Exception] {
      sink.append(Seq((99, -1)).toDF("id", "n"), "t")
    }
    sink.dropConstraint(spark, "t", "n_positive")
    assert(sink.constraintsOf(spark, "t").isEmpty)
    sink.append(Seq((99, -1)).toDF("id", "n"), "t") // now allowed
    assert(sink.read(spark, "t").count() == 7)
    intercept[IllegalArgumentException] {
      sink.dropConstraint(spark, "t", "never_existed")
    }
  }

  test("_delta_log mirrors constraints: writer-v3 upgrade + configuration") {
    val store = TestSpark.tmpDir("gov9")
    val sink = new VersionedParquetSink(store)
    sink.append(Seq((1, 10)).toDF("id", "n"), "t") // v0
    sink.addConstraint(spark, "t", "n_positive", "n > 0") // v1
    sink.append(Seq((2, 3)).toDF("id", "n"), "t") // v2
    sink.dropConstraint(spark, "t", "n_positive") // v3

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def actions(v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
      val src = scala.io.Source.fromFile(
        new java.io.File(s"$store/t/_delta_log", f"$v%020d.json"), "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(mapper.readTree).toSeq
      finally src.close()
    }
    // commit 0 predates the constraint: plain writer v2, empty config
    assert(actions(0).flatMap(a => Option(a.get("protocol")))
      .head.get("minWriterVersion").asInt == 2)
    // the ADD CONSTRAINT commit upgrades the protocol and lands the
    // constraint in metaData.configuration per PROTOCOL.md
    val v1 = actions(1)
    assert(v1.flatMap(a => Option(a.get("protocol")))
      .head.get("minWriterVersion").asInt == 3)
    val conf1 = v1.flatMap(a => Option(a.get("metaData"))).head
      .get("configuration")
    assert(conf1.get("delta.constraints.n_positive").asText == "n > 0")
    // a plain append in between re-emits NO metaData; the drop re-emits
    // metaData with an empty configuration and no protocol downgrade
    assert(actions(2).forall(a => a.get("metaData") == null))
    val v3 = actions(3)
    assert(v3.forall(a => a.get("protocol") == null))
    assert(!v3.flatMap(a => Option(a.get("metaData"))).head
      .get("configuration").properties().iterator().hasNext)
  }

  test("restore and constraint commits replay idempotently per key") {
    val sink = new VersionedParquetSink(TestSpark.tmpDir("gov8"))
    sink.append(Seq((1, 10)).toDF("id", "n"), "t")
    sink.append(Seq((2, 20)).toDF("id", "n"), "t")
    val r1 = sink.restore(spark, "t", 0L, commitKey = Some("restore-1"))
    val r2 = sink.restore(spark, "t", 0L, commitKey = Some("restore-1"))
    assert(r1 == r2)
    val c1 = sink.addConstraint(spark, "t", "p", "n > 0",
      commitKey = Some("c-1"))
    val c2 = sink.addConstraint(spark, "t", "p", "n > 0",
      commitKey = Some("c-1")) // replay: no "already exists" error
    assert(c1 == c2)
    assert(sink.versions(spark, "t").size == 4)
  }

  test("metadata commands commit the declared schema, nullability kept") {
    val store = TestSpark.tmpDir("gov10")
    val sink = new VersionedParquetSink(store)
    sink.append(Seq((1L, "a")).toDF("id", "v"), "t") // id BIGINT NOT NULL
    def committedDdl(v: Long): String = {
      val marker = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$store/t/_commits/$v.commit")), "UTF-8")
      val b64 = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(marker).get("schemaB64").asText
      new String(java.util.Base64.getDecoder.decode(b64), "UTF-8")
    }
    val commands: Seq[(String, () => Long)] = Seq(
      "addConstraint" -> (() => sink.addConstraint(spark, "t", "pos", "id > 0")),
      "dropConstraint" -> (() => sink.dropConstraint(spark, "t", "pos")),
      "setProperties" -> (() => sink.setProperties(spark, "t", Map("a" -> "1"))),
      "unsetProperties" -> (() => sink.unsetProperties(spark, "t", Seq("a"))),
      "setGeneratedColumn" -> (() =>
        sink.setGeneratedColumn(spark, "t", "v", "concat('a', '')")),
      "dropGeneratedColumn" -> (() => sink.dropGeneratedColumn(spark, "t", "v")))
    for ((name, run) <- commands)
      assert(committedDdl(run()) == "id BIGINT NOT NULL,v STRING", name)
    // a later schema command builds on the committed schema, so the
    // declared nullability carries past the metadata commands
    val v = sink.addColumn(spark, "t", "n",
      org.apache.spark.sql.types.IntegerType)
    assert(committedDdl(v) == "id BIGINT NOT NULL,v STRING,n INT")
  }
}
