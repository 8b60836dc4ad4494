package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Base64

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Commit, VersionedParquetSink}

/** The commit-marker format is load-bearing (keys drive exactly-once,
  * props drive governance). Every string-valued field travels base64'd,
  * the encoding every table already written uses, so it must roundtrip
  * HOSTILE content (quotes, newlines, unicode, JSON fragments) exactly;
  * and a marker or checkpoint line that does not parse must fail
  * loudly — never read back with a field silently dropped. */
class MarkerRobustnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val hostile = Seq(
    """quote" and \ backslash""",
    "line\nbreak\tand tab",
    "unicode: é中文 😀",
    """{"json":"fragment","n":1}""",
    "trailing space ",
    "comma,separated,things")

  test("idempotency keys roundtrip hostile content exactly") {
    val base = TestSpark.tmpDir("mr1")
    val sink = new VersionedParquetSink(base)
    hostile.zipWithIndex.foreach { case (k, i) =>
      assert(sink.appendOnce(Seq((i.toLong, "v")).toDF("id", "v"), "t", k),
        s"first append under key <$k> did not land")
      assert(!sink.appendOnce(Seq((i.toLong, "dup")).toDF("id", "v"), "t", k),
        s"replay under key <$k> double-appended — key corrupted in marker")
    }
    assert(sink.read(spark, "t").count() == hostile.size.toLong)
    // keys survive a checkpointed manifest identically
    val h = sink.history(spark, "t").collect()
      .flatMap(r => Option(r.getAs[String]("commitKey"))).toSet
    assert(h == hostile.toSet, s"keys mangled: $h")
  }

  test("userMetadata and TBLPROPERTIES values roundtrip hostile content") {
    val base = TestSpark.tmpDir("mr2")
    val sink = new VersionedParquetSink(base)
    sink.append(Seq((0L, "seed")).toDF("id", "v"), "t")
    hostile.foreach { m =>
      spark.conf.set("spark.graft.commitInfo.userMetadata", m)
      try sink.append(Seq((1L, "x")).toDF("id", "v"), "t")
      finally spark.conf.unset("spark.graft.commitInfo.userMetadata")
      val latest = sink.history(spark, "t").collect()
        .maxBy(_.getLong(0)).getAs[String]("userMetadata")
      assert(latest == m, s"userMetadata mangled: <$latest> != <$m>")
    }
    sink.setProperties(spark, "t", Map("note" -> hostile.mkString("|")))
    assert(sink.propertiesOf(spark, "t")("note") == hostile.mkString("|"))
  }

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  /** A table `t` of three keyed appends (v0..v2); v1 carries key "k1". */
  private def keyedTable(prefix: String,
      checkpointInterval: Int = 10): (String, VersionedParquetSink) = {
    val base = TestSpark.tmpDir(prefix)
    val sink = new VersionedParquetSink(base, checkpointInterval)
    (0 until 3).foreach(i => assert(sink.appendOnce(
      Seq((i.toLong, s"v$i")).toDF("id", "v"), "t", s"k$i")))
    (base, sink)
  }

  /** Replace a log file's bytes (and drop its now-stale checksum). */
  private def rewrite(base: String, name: String)(
      edit: Array[Byte] => Array[Byte]): Unit = {
    val f = Paths.get(base, "t", "_commits", name)
    Files.deleteIfExists(Paths.get(base, "t", "_commits", s".$name.crc"))
    Files.write(f, edit(Files.readAllBytes(f)))
  }

  private def text(edit: String => String)(b: Array[Byte]): Array[Byte] =
    edit(new String(b, UTF_8)).getBytes(UTF_8)

  /** Every log read — versions, read, appendOnce — throws, naming the
    * table and the version. */
  private def failsLoudly(sink: VersionedParquetSink, v: Long): Unit = {
    val reads: Seq[(String, () => Any)] = Seq(
      "versions" -> (() => sink.versions(spark, "t")),
      "read" -> (() => sink.read(spark, "t")),
      "appendOnce" -> (() => sink.appendOnce(
        Seq((9L, "x")).toDF("id", "v"), "t", "fresh-key")))
    reads.foreach { case (what, run) =>
      val e = intercept[IllegalStateException](run())
      assert(e.getMessage.contains("'t'") && e.getMessage.contains(s"v$v"),
        s"$what: message names neither table nor version: ${e.getMessage}")
    }
  }

  test("a marker cut inside keyB64 fails instead of dropping its key") {
    val (base, sink) = keyedTable("mr_cut")
    rewrite(base, "1.commit")(text { body =>
      val at = body.indexOf("\"keyB64\":\"") + "\"keyB64\":\"".length + 2
      body.substring(0, at)
    })
    failsLoudly(sink, 1)
  }

  test("a marker with a duplicated dir field fails") {
    val (base, sink) = keyedTable("mr_dup")
    rewrite(base, "2.commit")(text(body =>
      body.replaceFirst("(\"dir\":\"[^\"]*\")", "$1,\"dir\":\"d-other\"")))
    failsLoudly(sink, 2)
  }

  test("a marker with invalid UTF-8 bytes fails") {
    val (base, sink) = keyedTable("mr_utf8")
    rewrite(base, "1.commit") { b =>
      val at = new String(b, UTF_8).indexOf("\"ts\":\"") + 6
      b.take(at) ++ Array(0xC3.toByte, 0x28.toByte, 0xFF.toByte) ++ b.drop(at)
    }
    failsLoudly(sink, 1)
  }

  test("a marker with a non-numeric version fails") {
    val (base, sink) = keyedTable("mr_ver")
    rewrite(base, "2.commit")(text(
      _.replace("\"version\":2", "\"version\":\"two\"")))
    failsLoudly(sink, 2)
  }

  test("a checkpoint line with no version fails") {
    // interval 2: v1 is checkpointed, so v0 and v1 are read from it
    val (base, sink) = keyedTable("mr_cp", checkpointInterval = 2)
    assert(Files.exists(Paths.get(base, "t", "_commits", "1.checkpoint")))
    rewrite(base, "1.checkpoint")(text(_.replace("\"version\":0,", "")))
    failsLoudly(sink, 1)
  }

  test("a round-1 plain key marker still dedups a replay") {
    val (base, sink) = keyedTable("mr_legacy")
    rewrite(base, "1.commit")(text(
      _.replace(s"\"keyB64\":\"${b64("k1")}\"", "\"key\":\"k1\"")))
    assert(!sink.appendOnce(Seq((7L, "dup")).toDF("id", "v"), "t", "k1"),
      "a replay under the legacy plain key double-appended")
    assert(sink.read(spark, "t").count() == 3L)
  }

  test("Commit.render writes the bytes of the interpolated marker body") {
    val ts = java.time.Instant.parse("2024-02-05T10:30:00.123456Z")
    val c = Commit(7L, "d-0d9f", key = Some("quote\" and \\ é中 "),
      compacts = Some(5L), schemaDdl = Some("id BIGINT NOT NULL,v STRING"),
      op = Some("compact"), stats = Some("""{"f.parquet":{"n":1}}"""),
      constraints = Some("""{"c":"id > 0"}"""),
      mapping = Some("""{"id":{"p":"col-1","id":1}}"""),
      generated = Some("""{"g":"id * 2"}"""), props = Some("""{"a":"b"}"""),
      replaces = Seq("d-1", "d-2"), copied = Seq("file:/x@1:2", "file:/y,z@3:4"),
      userMeta = Some("note\nline"))
    // the body as an interpolating writer built it, field by field
    val literal = s"""{"version":7,"dir":"d-0d9f","keyB64":"${b64(c.key.get)}""" +
      s"""","compacts":5,"op":"compact","statsB64":"${b64(c.stats.get)}""" +
      s"""","replacesB64":"${b64("d-1,d-2")}"""" +
      s""","copiedB64":"${b64("file:/x@1:2\nfile:/y,z@3:4")}"""" +
      s""","userMetaB64":"${b64("note\nline")}"""" +
      s""","constraintsB64":"${b64(c.constraints.get)}"""" +
      s""","mappingB64":"${b64(c.mapping.get)}"""" +
      s""","gensB64":"${b64(c.generated.get)}"""" +
      s""","propsB64":"${b64(c.props.get)}"""" +
      s""","schemaB64":"${b64(c.schemaDdl.get)}","ts":"$ts"}"""
    val body = Commit.render(c, ts)
    assert(body.getBytes(UTF_8).sameElements(literal.getBytes(UTF_8)),
      s"\n$body\n!=\n$literal")
    // and it parses back to the same commit
    assert(Commit.parse(body, Some(7L)) ==
      c.copy(ts = Some(ts.toEpochMilli), raw = body))
    // a plain append: only the fields it has, in the same order
    val plain = Commit(0L, "d-a", schemaDdl = Some("id BIGINT"))
    assert(Commit.render(plain, ts) == s"""{"version":0,"dir":"d-a",""" +
      s""""schemaB64":"${b64("id BIGINT")}","ts":"$ts"}""")
  }
}
