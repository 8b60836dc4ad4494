package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.VersionedParquetSink
import graft.PruningStats._

/** Column mapping on the versioned sink (Delta `name`-mode parity):
  * RENAME/DROP COLUMN are metadata-only commits; parquet files keep
  * their immutable PHYSICAL column names while the logical schema
  * diverges. The suite pins the invariant that makes this sound at
  * 100 TB: a rename/drop never touches a data file. */
class ColumnMappingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def dataFiles(store: String, table: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$store/$table")).map(_.getPath)
      .filter(p => p.endsWith(".parquet") && !p.contains("_commits") &&
        !p.contains("_delta_log"))
      .toSet
  }

  test("rename is metadata-only: zero files touched, logical name changes") {
    val store = TestSpark.tmpDir("cm1")
    val sink = new VersionedParquetSink(store)
    sink.append(Seq((1, "a"), (2, "b")).toDF("id", "v"), "t") // v0
    sink.append(Seq((3, "c")).toDF("id", "v"), "t") // v1
    val before = dataFiles(store, "t")
    val mtimes = before.map(p => p -> new java.io.File(p).lastModified).toMap
    sink.renameColumn(spark, "t", "v", "label") // v2
    // not one data file created, deleted, or modified
    val after = dataFiles(store, "t")
    assert(after == before)
    after.foreach(p =>
      assert(new java.io.File(p).lastModified == mtimes(p), s"$p rewritten"))
    val df = sink.read(spark, "t")
    assert(df.columns.toSeq == Seq("id", "label"))
    assert(df.collect().map(r => r.getInt(0) -> r.getString(1)).toMap ==
      Map(1 -> "a", 2 -> "b", 3 -> "c"))
    // time travel shows the OLD name before the rename
    assert(sink.readAt(spark, "t", 1).columns.toSeq == Seq("id", "v"))
    assert(sink.columnMappingOf(spark, "t") ==
      Map("id" -> "id", "label" -> "v"))
  }

  test("appends after a rename write the stable physical name") {
    val store = TestSpark.tmpDir("cm2")
    val sink = new VersionedParquetSink(store)
    sink.append(Seq((1, "a")).toDF("id", "v"), "t")
    sink.renameColumn(spark, "t", "v", "label")
    // the append speaks the CURRENT logical schema...
    sink.append(Seq((2, "b")).toDF("id", "label"), "t")
    assert(sink.read(spark, "t").orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("a", "b"))
    // ...but its files carry the physical name, same as the old files
    val newest = dataFiles(store, "t").toSeq.map(new java.io.File(_))
      .maxBy(_.lastModified)
    val raw = spark.read.parquet(newest.getParent)
    assert(raw.columns.toSeq == Seq("id", "v"),
      s"file columns were ${raw.columns.mkString(",")}")
    // appending with the STALE logical name fails the schema check
    intercept[Exception] {
      sink.append(Seq((3, "c")).toDF("id", "v"), "t")
    }
  }

  test("drop column hides data without rewriting; re-add never resurrects") {
    val store = TestSpark.tmpDir("cm3")
    val sink = new VersionedParquetSink(store)
    sink.append(Seq((1, "secret", 10)).toDF("id", "v", "n"), "t") // v0
    val before = dataFiles(store, "t")
    sink.dropColumn(spark, "t", "v") // v1
    assert(dataFiles(store, "t") == before) // metadata-only
    assert(sink.read(spark, "t").columns.toSeq == Seq("id", "n"))
    // time travel BEFORE the drop still sees the column
    assert(sink.readAt(spark, "t", 0).select("v").head().getString(0) ==
      "secret")
    // evolution re-add of the same logical name: fresh physical name,
    // old rows read NULL — the dropped values never come back
    sink.append(Seq((2, "new", 20)).toDF("id", "v", "n"), "t",
      allowEvolution = true) // v2
    val rows = sink.read(spark, "t").orderBy("id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(rows(0).isNullAt(rows(0).fieldIndex("v")), "dropped value resurrected!")
    assert(rows(1).getString(rows(1).fieldIndex("v")) == "new")
    val m = sink.columnMappingOf(spark, "t")
    assert(m("v").startsWith("col-"), s"re-added physical was ${m("v")}")
  }

  test("data skipping prunes on the renamed logical name") {
    val store = TestSpark.tmpDir("cm4")
    val sink = new VersionedParquetSink(store)
    // three appends with disjoint id ranges = three prunable files
    sink.append(Seq.tabulate(10)(i => (i, s"r$i")).toDF("id", "v"), "t")
    sink.append(Seq.tabulate(10)(i => (100 + i, s"r$i")).toDF("id", "v"), "t")
    sink.append(Seq.tabulate(10)(i => (200 + i, s"r$i")).toDF("id", "v"), "t")
    sink.renameColumn(spark, "t", "id", "doc_id")
    val (kept, total) = sink.pruningStats(spark, "t", col("doc_id") === 105)
    assert(total >= 3 && kept < total, s"pruning dead after rename: $kept/$total")
    val hit = sink.readWhere(spark, "t", col("doc_id") === 105)
    assert(hit.collect().map(_.getString(1)).toSeq == Seq("r5"))
    assert(hit.columns.toSeq == Seq("doc_id", "v"))
  }

  test("CHECK constraints block renaming/dropping a referenced column") {
    val store = TestSpark.tmpDir("cm5")
    val sink = new VersionedParquetSink(store)
    sink.append(Seq((1, 10)).toDF("id", "n"), "t")
    sink.addConstraint(spark, "t", "n_pos", "n > 0")
    val e1 = intercept[IllegalArgumentException] {
      sink.renameColumn(spark, "t", "n", "amount")
    }
    assert(e1.getMessage.contains("n_pos"))
    val e2 = intercept[IllegalArgumentException] {
      sink.dropColumn(spark, "t", "n")
    }
    assert(e2.getMessage.contains("n_pos"))
    // renaming an UNREFERENCED column is fine, and the constraint
    // still enforces afterwards
    sink.renameColumn(spark, "t", "id", "doc_id")
    intercept[Exception] {
      sink.append(Seq((2, -5)).toDF("doc_id", "n"), "t")
    }
  }

  test("merge-on-read DML and compaction compose with renames") {
    val store = TestSpark.tmpDir("cm6")
    val sink = new VersionedParquetSink(store)
    sink.append(Seq((1, 10), (2, 20), (3, 30)).toDF("id", "n"), "t")
    sink.renameColumn(spark, "t", "n", "score")
    // DV delete + MOR update speak the logical name
    sink.deleteVectored(spark, "t", col("score") === 30)
    sink.updateVectored(spark, "t", col("id") === 2,
      Map("score" -> (col("score") + 1)))
    assert(sink.read(spark, "t").orderBy("id").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toSeq == Seq(1 -> 10, 2 -> 21))
    // compaction materializes the masks and keeps the mapping
    sink.compact(spark, "t", targetFiles = Some(1))
    val df = sink.read(spark, "t")
    assert(df.columns.toSeq == Seq("id", "score"))
    assert(df.orderBy("id").collect().map(r => r.getInt(0) -> r.getInt(1))
      .toSeq == Seq(1 -> 10, 2 -> 21))
    // copy-on-write merge after the compaction, still logical names
    sink.merge(spark, "t", Seq((1, 11)).toDF("id", "score"), Seq("id"))
    assert(sink.read(spark, "t").filter(col("id") === 1)
      .head().getInt(1) == 11)
  }

  test("CDF fast path reads logical names across a rename") {
    val store = TestSpark.tmpDir("cm7")
    val sink = new VersionedParquetSink(store)
    sink.append(Seq((1, "a")).toDF("id", "v"), "t") // v0
    sink.renameColumn(spark, "t", "v", "label") // v1
    sink.append(Seq((2, "b")).toDF("id", "label"), "t") // v2
    val cdf = sink.changesBetween(spark, "t", 0, 2)
    assert(cdf.columns.toSeq == Seq("id", "label", "_change_type"))
    assert(cdf.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(2 -> "b")) // only v2's append changed data
  }

  test("restore across a rename restores the old logical names") {
    val store = TestSpark.tmpDir("cm8")
    val sink = new VersionedParquetSink(store)
    sink.append(Seq((1, "a")).toDF("id", "v"), "t") // v0
    sink.renameColumn(spark, "t", "v", "label") // v1
    sink.append(Seq((2, "b")).toDF("id", "label"), "t") // v2
    sink.restore(spark, "t", 0L) // v3: pre-rename name AND content
    val df = sink.read(spark, "t")
    assert(df.columns.toSeq == Seq("id", "v"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(1))
    // and the rename can be replayed on top
    sink.renameColumn(spark, "t", "v", "label2")
    assert(sink.read(spark, "t").columns.toSeq == Seq("id", "label2"))
  }

  test("_delta_log expresses mapping: reader 2 / writer 5 + field metadata") {
    val store = TestSpark.tmpDir("cm9")
    val sink = new VersionedParquetSink(store)
    sink.append(Seq((1, "a")).toDF("id", "v"), "t") // v0
    sink.renameColumn(spark, "t", "v", "label") // v1
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def actions(v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] = {
      val src = scala.io.Source.fromFile(
        new java.io.File(s"$store/t/_delta_log", f"$v%020d.json"), "UTF-8")
      try src.getLines().filter(_.nonEmpty).map(mapper.readTree).toSeq
      finally src.close()
    }
    val proto = actions(1).flatMap(a => Option(a.get("protocol"))).head
    assert(proto.get("minReaderVersion").asInt == 2)
    assert(proto.get("minWriterVersion").asInt == 5)
    val meta = actions(1).flatMap(a => Option(a.get("metaData"))).head
    assert(meta.get("configuration")
      .get("delta.columnMapping.mode").asText == "name")
    assert(meta.get("configuration")
      .get("delta.columnMapping.maxColumnId").asLong == 2L)
    val fields = mapper.readTree(meta.get("schemaString").asText).get("fields")
    val byName = (0 until fields.size).map(fields.get)
      .map(f => f.get("name").asText -> f.get("metadata")).toMap
    assert(byName("label").get("delta.columnMapping.physicalName")
      .asText == "v")
    assert(byName("label").get("delta.columnMapping.id").asLong == 2L)
    assert(byName("id").get("delta.columnMapping.physicalName")
      .asText == "id")
  }

  test("rename/drop replay idempotently per key") {
    val store = TestSpark.tmpDir("cm10")
    val sink = new VersionedParquetSink(store)
    sink.append(Seq((1, "a", 2)).toDF("id", "v", "n"), "t")
    val r1 = sink.renameColumn(spark, "t", "v", "label",
      commitKey = Some("r-1"))
    val r2 = sink.renameColumn(spark, "t", "v", "label",
      commitKey = Some("r-1")) // replay: no "no column v" error
    assert(r1 == r2)
    val d1 = sink.dropColumn(spark, "t", "n", commitKey = Some("d-1"))
    val d2 = sink.dropColumn(spark, "t", "n", commitKey = Some("d-1"))
    assert(d1 == d2)
    assert(sink.versions(spark, "t").size == 3)
  }
}
