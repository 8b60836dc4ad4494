package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.StatsWrite
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.FileStats

/** Soundness property for the data-skipping pruner: over typed files
  * with nulls, negative numbers, unicode strings, dates and timestamps,
  * a file containing ANY row matching the predicate must NEVER be
  * pruned. (The converse — pruning everything prunable — is a quality
  * goal, not a contract; ScaleSpec covers the selective cases.)
  *
  * Equivalence of the two collectors: the stats the write's own tasks
  * collect (`StatsWrite.writeWithStats`) must equal what the read-back
  * aggregation ([[FileStats.collect]]) computes over the same dir. */
class FileStatsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("mayMatch never prunes a file that contains a matching row") {
    val rng = new scala.util.Random(42)
    // 8 single-file batches of mixed shape: longs (incl. negatives),
    // doubles, strings (ascii + unicode supplementary), nullable tag,
    // dates and timestamps
    val dir = TestSpark.tmpDir("fstats_prop")
    val rows = (0 until 8).map { b =>
      (0 until 200).map { i =>
        val id = (b * 1000 + i).toLong - 3500 // negatives in low batches
        val s = if (i % 7 == 0) s"😀${b}_$i" else s"s${b}_$i"
        val tag = if (b == 3) null else s"t$b"
        val d = java.sql.Date.valueOf(java.time.LocalDate
          .of(2024, 1 + b % 12, 1 + i % 28))
        val ts = java.sql.Timestamp.from(java.time.Instant
          .parse("2024-06-01T00:00:00Z").plusSeconds(b * 86400L + i))
        (id, rng.nextDouble() * 200 - 100, s, tag, d, ts)
      }
    }
    val schema = rows.head.toDF("id", "v", "s", "tag", "d", "ts").schema
    rows.zipWithIndex.foreach { case (r, b) =>
      r.toDF("id", "v", "s", "tag", "d", "ts").coalesce(1)
        .write.mode(if (b == 0) "overwrite" else "append").parquet(dir)
    }
    val df = spark.read.schema(schema).parquet(dir)
    val stats = FileStats.parse(FileStats.collect(spark, dir, schema))
    assert(stats.size == 8)

    val predicates: Seq[Column] = Seq(
      col("id") === -3100L, col("id") === 0, col("id") > 3000L,
      col("id") <= -3400L, col("id").between(-100, 150),
      lit(500L) < col("id"), col("id").isin(-3499L, 2500L, 999999L),
      col("v") > 95.0, col("v") < -99.0, col("v") === 0.0,
      col("s") === "s4_11", col("s") > "s7", col("s") < "a",
      col("s") === "😀" + "5_14", // supplementary plane
      col("tag").isNull, col("tag").isNotNull, col("tag") === "t3",
      col("d") === java.sql.Date.valueOf("2024-03-05"),
      col("d") >= java.sql.Date.valueOf("2024-08-01"),
      col("ts") > java.sql.Timestamp.from(
        java.time.Instant.parse("2024-06-05T00:00:00Z")),
      col("id") > 0 && col("v") > 0, col("id") < -3000L || col("s") > "s6",
      col("id") === -3100L && col("tag").isNull,
      expr("id % 7 = 0"), // unmodeled shape: must stay conservative
      !(col("id") > 0)) // Not: unmodeled, conservative

    val files = df.select(input_file_name().as("f")).distinct()
      .as[String].collect().map(_.split('/').last)
    for (p <- predicates; f <- files) {
      val matching = df.filter(input_file_name().endsWith(f)).filter(p).count()
      val resolved = FileStats.resolvePredicate(spark, schema, p)
      val kept = resolved.forall(e => FileStats.mayMatch(e, schema, stats(f)))
      if (matching > 0)
        assert(kept, s"UNSOUND: pruned file $f with $matching rows matching $p")
    }
  }

  // ---- in-write stats == read-back stats ---------------------------------

  /** Writes `df` through the stats-collecting write and checks its JSON
    * against the read-back oracle over the same dir; returns the stats. */
  private def assertSameStats(df: DataFrame, statsSchema: StructType,
      dir: String): Map[String, FileStats.PerFile] = {
    val json = StatsWrite.writeWithStats(df, dir, statsSchema)
    val oracle = FileStats.collect(spark, dir, statsSchema)
    val parsed = FileStats.parse(json)
    assert(parsed == FileStats.parse(oracle),
      s"in-write stats differ from the read-back:\n$json\n$oracle")
    assert(json == oracle) // same renderer: byte-identical payloads
    parsed
  }

  test("in-write stats equal the read-back over a type matrix") {
    val extra = (0 until 35).map(k => s"e$k")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("n", IntegerType),
      StructField("by", ByteType), StructField("sh", ShortType),
      StructField("fl", FloatType), StructField("d_nan", DoubleType),
      StructField("d_inf", DoubleType), StructField("z", DoubleType),
      StructField("dz", DoubleType),
      StructField("dec", DecimalType(20, 4)),
      StructField("dec38", DecimalType(38, 10)),
      StructField("s", StringType), StructField("sup", StringType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType),
      StructField("b", BooleanType), StructField("allnull", StringType),
      StructField("arr", ArrayType(IntegerType)),
      StructField("bin", BinaryType)) ++
      extra.map(StructField(_, IntegerType)))
    val t0 = java.time.LocalDateTime.parse("2024-06-01T00:00:00")
    val rows = (0 until 60).map { i =>
      def nul[T](v: T): Any = if (i % 11 == 5) null else v
      Row.fromSeq(Seq(
        nul(i.toLong - 30L), nul((i * 7919) % 101 - 50),
        (i % 256 - 128).toByte, (i * 1000 - 30000).toShort,
        if (i == 7) Float.NaN else i * 0.25f - 3f,
        if (i == 0) Double.NaN else i * 1.5 - 40.0,
        if (i == 1) Double.PositiveInfinity
        else if (i == 59) Double.NegativeInfinity else i * 0.5,
        if (i % 4 == 1) null else if (i % 2 == 0) -0.0 else 0.0,
        if (i % 3 == 0) -0.0 else i * 0.5,
        nul(BigDecimal(i * 12345, 2).bigDecimal.negate()),
        BigDecimal(s"${i}123456789012345678.0123456789").bigDecimal,
        nul(f"s$i%03d"),
        // supplementary vs high-BMP: UTF-8 and UTF-16 orders disagree
        Seq("\uFFFD", "\uD83D\uDE00", "a\uD83D\uDE00b", "zz")(i % 4) + i,
        java.sql.Date.valueOf(java.time.LocalDate.of(2020 + i % 5,
          1 + i % 12, 1 + i % 28)),
        nul(java.sql.Timestamp.valueOf(t0.plusSeconds(i * 3601L - 90000L))),
        nul(t0.minusMinutes(i * 37L)),
        nul(i % 3 == 0), null, Seq(i, i + 1), Array[Byte](i.toByte)) ++
        extra.indices.map(k => i * k - 100))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 6), schema).coalesce(3)
    val dir = TestSpark.tmpDir("fstats_matrix") + "/d"
    val stats = assertSameStats(df, schema, dir)
    assert(stats.size == 3 && stats.values.map(_.numRecords).sum == 60)
    // the files are the ones df.write.parquet writes, names aside
    val plain = TestSpark.tmpDir("fstats_plain") + "/d"
    df.write.parquet(plain)
    def sizes(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sorted.toSeq
    assert(sizes(dir) == sizes(plain))
    // the first 32 eligible columns, never array/binary ones
    val statCols = stats.values.head.nulls.keySet
    assert(statCols == (schema.fieldNames.filterNot(Set("arr", "bin"))
      .take(32).toSet))
    // the matrix reached the cases it is meant to cover
    assert(stats.values.forall(_.nulls("allnull") == 20))
    assert(stats.values.forall(pf => !pf.minV.contains("allnull")))
    assert(stats.values.count(_.minV.contains("d_nan")) == 2)
    assert(stats.values.count(_.minV.contains("d_inf")) == 1)
    assert(stats.values.exists(_.minV("z").asText == "-0.0"))
    assert(stats.values.forall(_.minV("dz").asText == "-0.0"))
    assert(stats.values.forall(_.maxV("sup").asText.startsWith("\uD83D")))
  }

  test("in-write stats: empty frame, missing and retyped stats columns") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType)))
    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), schema)
    val none = assertSameStats(empty, schema,
      TestSpark.tmpDir("fstats_empty") + "/d")
    assert(none.size == 1 && none.values.head.numRecords == 0)
    // the stats schema widens `n` and names a column the files lack:
    // both collectors see what a read with the stats schema sees
    val written = spark.range(0, 40, 1, 2)
      .select(col("id").cast("int").as("n"))
    val widened = StructType(Seq(StructField("n", LongType),
      StructField("gone", StringType)))
    val stats = assertSameStats(written, widened,
      TestSpark.tmpDir("fstats_retype") + "/d")
    assert(stats.size == 2 && stats.values.forall(_.nulls("gone") == 20))
  }

  test("a stats-free write (mask, log checkpoint) writes df.write.parquet's bytes") {
    // each part file's bytes, in part order (names carry a per-write uuid)
    def parts(d: String): Seq[Seq[Byte]] = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName.take(10))
      .map(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq).toSeq
    def same(df: DataFrame): Unit = {
      val viaJob = TestSpark.tmpDir("fstats_free") + "/d"
      StatsWrite.write(df, viaJob)
      val plain = TestSpark.tmpDir("fstats_free_plain") + "/d"
      df.write.parquet(plain)
      assert(parts(viaJob).nonEmpty && parts(viaJob) == parts(plain))
    }
    // a deletion-vector mask: (path, pos), globally sorted
    same((0 until 300).map(i => (s"d-${i % 7}/part-$i", i.toLong * 3))
      .toDF("path", "pos").repartition(3).sort("path", "pos"))
    // a checkpoint: one partition of nested, mostly-null action rows
    val action = StructType(Seq(
      StructField("add", StructType(Seq(StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType))))))
    val actions = Row(null, Row(1)) +: (0 until 20).map(i =>
      Row(Row(s"d-$i/p.parquet", Map.empty[String, String], i * 100L), null))
    same(spark.createDataFrame(spark.sparkContext.parallelize(actions, 1),
      action).coalesce(1))
  }
}
