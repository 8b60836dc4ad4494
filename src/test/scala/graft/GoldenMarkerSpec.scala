package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.{Base64, UUID}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.VersionedParquetSink

/** The marker every public commit kind writes, field by field: names in
  * order and every value, base64 payloads decoded, with the commit
  * time, `d-<uuid>` dirs, `col-<uuid>` physical names, part-file names
  * and source-file mtimes/lengths normalized. A marker is the table's
  * durable contract with every reader and every table already written,
  * so a change to any commit path must leave these bodies as they are. */
class GoldenMarkerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val mapper = new ObjectMapper()
  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  private def rows(ids: Long*) =
    ids.map(i => (i, s"v$i")).toDF("id", "v").coalesce(1)

  /** A fresh sink whose table `t` holds ids 1-3 at v0. */
  private def seeded(): (String, VersionedParquetSink) = {
    val base = TestSpark.tmpDir("gm")
    val sink = new VersionedParquetSink(base)
    sink.append(rows(1L, 2L, 3L), "t")
    (base, sink)
  }

  private def normalized(base: String, table: String, v: Long): String = {
    val raw = new String(Files.readAllBytes(
      Paths.get(s"$base/$table/_commits/$v.commit")), UTF_8)
    mapper.readTree(raw).properties().iterator().asScala.map { e =>
      val k = e.getKey
      val value =
        if (k == "ts") "<ts>"
        else if (k.endsWith("B64"))
          new String(Base64.getDecoder.decode(e.getValue.asText), UTF_8)
        else e.getValue.asText
      s"$k=" + value.replace(base, "<base>")
        .replaceAll(s"d-$uuid", "d-<uuid>")
        .replaceAll(s"col-$uuid", "col-<uuid>")
        .replaceAll(s"part-(\\d+)-$uuid[-.\\w]*\\.parquet", "part-$1.parquet")
        .replaceAll("\\.parquet@\\d+:\\d+", ".parquet@<mtime>:<len>")
    }.mkString("\n")
  }

  private def check(base: String, table: String, v: Long,
      expected: String): Unit = {
    val got = normalized(base, table, v)
    assert(got == expected.stripMargin,
      s"marker $table v$v changed:\n$got\n--- expected ---\n${expected.stripMargin}")
  }

  test("append") {
    val (b, s) = seeded()
    check(b, "t", 0, """version=0
      |dir=d-<uuid>
      |statsB64={"part-00000.parquet":{"numRecords":3,"minValues":{"id":1,"v":"v1"},"maxValues":{"id":3,"v":"v3"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
    s.append(rows(4L), "t")
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |statsB64={"part-00000.parquet":{"numRecords":1,"minValues":{"id":4,"v":"v4"},"maxValues":{"id":4,"v":"v4"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("keyed append") {
    val (b, s) = seeded()
    s.appendOnce(rows(4L), "t", "k1")
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |keyB64=k1
      |statsB64={"part-00000.parquet":{"numRecords":1,"minValues":{"id":4,"v":"v4"},"maxValues":{"id":4,"v":"v4"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("evolution append on a mapped table") {
    val (b, s) = seeded()
    s.renameColumn(spark, "t", "v", "w")
    s.append(Seq((4L, "x", 1.5)).toDF("id", "w", "e").coalesce(1), "t",
      allowEvolution = true)
    check(b, "t", 2, """version=2
      |dir=d-<uuid>
      |statsB64={"part-00000.parquet":{"numRecords":1,"minValues":{"id":4,"v":"x","col-<uuid>":1.5},"maxValues":{"id":4,"v":"x","col-<uuid>":1.5},"nullCount":{"id":0,"v":0,"col-<uuid>":0}}}
      |mappingB64={"e":{"p":"col-<uuid>","id":3},"id":{"p":"id","id":1},"w":{"p":"v","id":2}}
      |schemaB64=id BIGINT NOT NULL,w STRING,e DOUBLE NOT NULL
      |ts=<ts>""")
  }

  test("createWithProperties") {
    val (b, s) = seeded()
    s.createWithProperties(rows(1L), "p", Map("a" -> "1", "b" -> "2"))
    check(b, "p", 0, """version=0
      |dir=d-<uuid>
      |statsB64={"part-00000.parquet":{"numRecords":1,"minValues":{"id":1,"v":"v1"},"maxValues":{"id":1,"v":"v1"},"nullCount":{"id":0,"v":0}}}
      |propsB64={"a":"1","b":"2"}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("setIdentityColumn and an identity append") {
    val (b, s) = seeded()
    s.setIdentityColumn(spark, "t", "rid", startWith = 10L, incrementBy = 5L)
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |op=identity_column
      |propsB64={"graft.identity.rid":"10:5:5"}
      |schemaB64=id BIGINT NOT NULL,v STRING,rid BIGINT
      |ts=<ts>""")
    s.append(rows(4L, 5L), "t")
    check(b, "t", 2, """version=2
      |dir=d-<uuid>
      |statsB64={"part-00000.parquet":{"numRecords":2,"minValues":{"id":4,"v":"v4","rid":10},"maxValues":{"id":5,"v":"v5","rid":15},"nullCount":{"id":0,"v":0,"rid":0}}}
      |propsB64={"graft.identity.rid":"10:5:15"}
      |schemaB64=id BIGINT NOT NULL,v STRING,rid BIGINT NOT NULL
      |ts=<ts>""")
  }

  test("multiAppendOnce") {
    val (b, s) = seeded()
    s.multiAppendOnce(Seq(rows(4L) -> "t", rows(9L) -> "u"), "tx")
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |keyB64=tx
      |statsB64={"part-00000.parquet":{"numRecords":1,"minValues":{"id":4,"v":"v4"},"maxValues":{"id":4,"v":"v4"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
    check(b, "u", 0, """version=0
      |dir=d-<uuid>
      |keyB64=tx
      |statsB64={"part-00000.parquet":{"numRecords":1,"minValues":{"id":9,"v":"v9"},"maxValues":{"id":9,"v":"v9"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("copyInto") {
    val (b, s) = seeded()
    rows(7L, 8L).write.parquet(s"$b/src")
    s.copyInto(spark, "t", s"$b/src")
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |op=copy
      |statsB64={"part-00000.parquet":{"numRecords":2,"minValues":{"id":7,"v":"v7"},"maxValues":{"id":8,"v":"v8"},"nullCount":{"id":0,"v":0}}}
      |copiedB64=file:<base>/src/part-00000.parquet@<mtime>:<len>
      |schemaB64=id BIGINT,v STRING
      |ts=<ts>""")
  }

  test("commitStreamEpoch") {
    val (b, s) = seeded()
    val unique = s"d-${UUID.randomUUID()}"
    rows(5L, 6L).write.parquet(s"$b/t/$unique")
    s.commitStreamEpoch(spark, "t", unique, rows(5L).schema, "epoch-1")
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |keyB64=epoch-1
      |statsB64={"part-00000.parquet":{"numRecords":2,"minValues":{"id":5,"v":"v5"},"maxValues":{"id":6,"v":"v6"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("compact") {
    val (b, s) = seeded()
    s.append(rows(4L), "t")
    s.compact(spark, "t", Some(1))
    check(b, "t", 2, """version=2
      |dir=d-<uuid>
      |compacts=1
      |op=compact
      |statsB64={"part-00000.parquet":{"numRecords":4,"minValues":{"id":1,"v":"v1"},"maxValues":{"id":4,"v":"v4"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("compactWhere") {
    val (b, s) = seeded()
    s.append(rows(4L), "t")
    s.compactWhere(spark, "t", col("id") > 0L, Some(1))
    check(b, "t", 2, """version=2
      |dir=d-<uuid>
      |op=compact
      |statsB64={"part-00000.parquet":{"numRecords":4,"minValues":{"id":1,"v":"v1"},"maxValues":{"id":4,"v":"v4"},"nullCount":{"id":0,"v":0}}}
      |replacesB64=d-<uuid>,d-<uuid>
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("deleteVectored and reorgPurge") {
    val (b, s) = seeded()
    s.append(rows(4L), "t")
    s.deleteVectored(spark, "t", col("id") === 1L)
    check(b, "t", 2, """version=2
      |dir=d-<uuid>
      |op=dv
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
    s.reorgPurge(spark, "t", Some(1))
    check(b, "t", 3, """version=3
      |dir=d-<uuid>
      |op=compact
      |statsB64={"part-00000.parquet":{"numRecords":2,"minValues":{"id":2,"v":"v2"},"maxValues":{"id":3,"v":"v3"},"nullCount":{"id":0,"v":0}}}
      |replacesB64=d-<uuid>,d-<uuid>
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("reorgPurge of masks over already-folded dirs commits an empty dir") {
    val (b, s) = seeded()
    s.append(rows(4L), "t")
    s.deleteVectored(spark, "t", col("id") === 1L)
    s.compactWhere(spark, "t", col("id") > 0L, Some(1))
    s.reorgPurge(spark, "t", Some(1))
    check(b, "t", 4, """version=4
      |dir=d-<uuid>
      |op=compact
      |replacesB64=d-<uuid>
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("updateVectored") {
    val (b, s) = seeded()
    s.updateVectored(spark, "t", col("id") === 2L, Map("v" -> lit("z")))
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |op=update
      |statsB64={"part-00000.parquet":{"numRecords":1,"minValues":{"id":2,"v":"z"},"maxValues":{"id":2,"v":"z"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("delete") {
    val (b, s) = seeded()
    s.delete(spark, "t", col("id") === 2L)
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |compacts=0
      |op=delete
      |statsB64={"part-00000.parquet":{"numRecords":2,"minValues":{"id":1,"v":"v1"},"maxValues":{"id":3,"v":"v3"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("merge") {
    val (b, s) = seeded()
    s.merge(spark, "t", Seq((2L, "new"), (4L, "v4")).toDF("id", "v")
      .coalesce(1), Seq("id"))
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |compacts=0
      |op=merge
      |statsB64={"part-00000.parquet":{"numRecords":2,"minValues":{"id":1,"v":"v1"},"maxValues":{"id":3,"v":"v3"},"nullCount":{"id":0,"v":0}},"part-00001.parquet":{"numRecords":2,"minValues":{"id":2,"v":"new"},"maxValues":{"id":4,"v":"v4"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("restore") {
    val (b, s) = seeded()
    s.renameColumn(spark, "t", "v", "w")
    s.restore(spark, "t", 0L)
    check(b, "t", 2, """version=2
      |dir=d-<uuid>
      |compacts=1
      |op=restore
      |statsB64={"part-00000.parquet":{"numRecords":3,"minValues":{"id":1,"v":"v1"},"maxValues":{"id":3,"v":"v3"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("overwrite") {
    val (b, s) = seeded()
    s.overwrite(rows(9L), "t")
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |compacts=0
      |op=overwrite
      |statsB64={"part-00000.parquet":{"numRecords":1,"minValues":{"id":9,"v":"v9"},"maxValues":{"id":9,"v":"v9"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
    s.renameColumn(spark, "t", "v", "w")
    s.overwrite(Seq((5L, "x", 1.5)).toDF("id", "w", "e").coalesce(1), "t")
    check(b, "t", 3, """version=3
      |dir=d-<uuid>
      |compacts=2
      |op=overwrite
      |statsB64={"part-00000.parquet":{"numRecords":1,"minValues":{"id":5,"v":"x","col-<uuid>":1.5},"maxValues":{"id":5,"v":"x","col-<uuid>":1.5},"nullCount":{"id":0,"v":0,"col-<uuid>":0}}}
      |mappingB64={"e":{"p":"col-<uuid>","id":3},"id":{"p":"id","id":1},"w":{"p":"v","id":2}}
      |schemaB64=id BIGINT NOT NULL,w STRING,e DOUBLE NOT NULL
      |ts=<ts>""")
  }

  test("constraint commands") {
    val (b, s) = seeded()
    s.addConstraint(spark, "t", "pos", "id > 0")
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |op=constraint
      |constraintsB64={"pos":"id > 0"}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
    s.dropConstraint(spark, "t", "pos")
    check(b, "t", 2, """version=2
      |dir=d-<uuid>
      |op=constraint
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("property commands") {
    val (b, s) = seeded()
    s.setProperties(spark, "t", Map("a" -> "1", "b" -> "2"))
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |op=properties
      |propsB64={"a":"1","b":"2"}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
    s.unsetProperties(spark, "t", Seq("a"))
    check(b, "t", 2, """version=2
      |dir=d-<uuid>
      |op=properties
      |propsB64={"b":"2"}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("column commands") {
    val (b, s) = seeded()
    s.addColumn(spark, "t", "n", org.apache.spark.sql.types.IntegerType)
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |op=add_column
      |schemaB64=id BIGINT NOT NULL,v STRING,n INT
      |ts=<ts>""")
    s.renameColumn(spark, "t", "v", "w")
    check(b, "t", 2, """version=2
      |dir=d-<uuid>
      |op=rename_column
      |mappingB64={"id":{"p":"id","id":1},"n":{"p":"n","id":3},"w":{"p":"v","id":2}}
      |schemaB64=id BIGINT NOT NULL,w STRING,n INT
      |ts=<ts>""")
    s.addColumn(spark, "t", "m", org.apache.spark.sql.types.StringType)
    check(b, "t", 3, """version=3
      |dir=d-<uuid>
      |op=add_column
      |mappingB64={"id":{"p":"id","id":1},"m":{"p":"col-<uuid>","id":4},"n":{"p":"n","id":3},"w":{"p":"v","id":2}}
      |schemaB64=id BIGINT NOT NULL,w STRING,n INT,m STRING
      |ts=<ts>""")
    s.dropColumn(spark, "t", "n")
    check(b, "t", 4, """version=4
      |dir=d-<uuid>
      |op=drop_column
      |mappingB64={"id":{"p":"id","id":1},"m":{"p":"col-<uuid>","id":4},"w":{"p":"v","id":2}}
      |schemaB64=id BIGINT NOT NULL,w STRING,m STRING
      |ts=<ts>""")
  }

  test("generated-column commands") {
    val (b, s) = seeded()
    s.setGeneratedColumn(spark, "t", "v", "concat('v', cast(id as string))")
    check(b, "t", 1, """version=1
      |dir=d-<uuid>
      |op=generated
      |gensB64={"v":"concat('v', cast(id as string))"}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
    s.dropGeneratedColumn(spark, "t", "v")
    check(b, "t", 2, """version=2
      |dir=d-<uuid>
      |op=generated
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }

  test("cloneShallow") {
    val (b, s) = seeded()
    s.appendOnce(rows(4L), "t", "k1")
    s.cloneShallow(spark, "t", "c")
    check(b, "c", 0, """version=0
      |dir=../t/d-<uuid>
      |statsB64={"part-00000.parquet":{"numRecords":3,"minValues":{"id":1,"v":"v1"},"maxValues":{"id":3,"v":"v3"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
    check(b, "c", 1, """version=1
      |dir=../t/d-<uuid>
      |keyB64=k1
      |statsB64={"part-00000.parquet":{"numRecords":1,"minValues":{"id":4,"v":"v4"},"maxValues":{"id":4,"v":"v4"},"nullCount":{"id":0,"v":0}}}
      |schemaB64=id BIGINT NOT NULL,v STRING
      |ts=<ts>""")
  }
}
