package graft.engine

import java.nio.charset.StandardCharsets
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker,
  WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file column statistics for data skipping — the read-path feature
  * that makes Delta's storage layer fast (per-file min/max in the commit
  * log lets a selective read open a fraction of the files; the reference
  * leans on Delta storage, README.md:12). The JSON shape matches Delta's
  * add-action `stats` field ({"numRecords", "minValues", "maxValues",
  * "nullCount"}), so the same payload serves both the sink's own marker
  * (`statsB64`) and the external `_delta_log` mirror.
  *
  * Stats are collected INSIDE the write, as Delta's
  * `DeltaJobStatisticsTracker` does: [[Tracker]] rides the write's job
  * description beside Spark's basic stats tracker
  * (`org.apache.spark.sql.graft.StatsWrite.writeWithStats`, whose tasks
  * run `FileFormatWriter.executeTask`), each write
  * task folds its rows into per-file accumulators, and the driver merges
  * the committed tasks' results into the JSON. Values are EXACT (footer
  * stats can be writer-truncated for strings, which would make
  * max-prefix pruning unsound). [[collect]] derives the same JSON by a
  * read-back aggregation over a finished directory; it serves the one
  * dir the engine did not write itself (a streaming epoch's, produced
  * by executor-side V2 writers) and is the oracle the write-side
  * tracker is tested against.
  *
  * Pruning ([[mayMatch]]) is deliberately conservative: it only ever
  * answers "this file CANNOT satisfy the predicate" for the shapes it
  * fully understands (And/Or, comparisons and In between a bare column
  * and literals, IsNull/IsNotNull); everything else keeps the file.
  * Correctness never depends on it — callers re-apply the full filter.
  */
object FileStats {

  /** Delta's default: stats on the first 32 eligible columns. */
  val MaxStatsColumns = 32

  /** numRecords + per-column min/max (absent when all-null or non-finite)
    * and null counts for one data file. */
  final case class PerFile(numRecords: Long, minV: Map[String, JsonNode],
      maxV: Map[String, JsonNode], nulls: Map[String, Long])

  private val mapper = new ObjectMapper()

  private def eligible(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | StringType | DateType | TimestampType |
         TimestampNTZType | BooleanType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The columns stats are collected for (orderable primitives, first
    * [[MaxStatsColumns]] — nested/array/binary columns are never
    * prunable here, same as Delta). */
  def statsColumns(schema: StructType): Seq[StructField] =
    schema.fields.toSeq.filter(f => eligible(f.dataType)).take(MaxStatsColumns)

  /** One aggregation pass over `dir`: per-file stats, serialized as
    * `{"<fileName>": {"numRecords":N,"minValues":{...},"maxValues":{...},
    * "nullCount":{...}}}`. */
  def collect(spark: SparkSession, dir: String, schema: StructType): String = {
    val cols = statsColumns(schema)
    val df = spark.read.schema(schema).parquet(dir)
    val aggs: Seq[org.apache.spark.sql.Column] =
      count(lit(1)).as("_n") +: cols.flatMap { f =>
        Seq(min(col(f.name)).as(s"__min_${f.name}"),
          max(col(f.name)).as(s"__max_${f.name}"),
          sum(when(col(f.name).isNull, 1L).otherwise(0L))
            .as(s"__null_${f.name}"))
      }
    val rows = df.groupBy(input_file_name().as("_file"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val withRows = rows.map { r =>
      r.getString(0).split('/').last -> Summary(r.getLong(1),
        cols.indices.map(i => r.get(2 + i * 3)),
        cols.indices.map(i => r.get(3 + i * 3)),
        cols.indices.map(i => r.getLong(4 + i * 3)))
    }.toMap
    // zero-row part files never reach the aggregation but still exist on
    // disk; record them with numRecords 0 so (a) every data file has a
    // stats entry (the _delta_log mirror attaches stats per add action)
    // and (b) the pruner can skip them outright
    val empty = df.inputFiles.map(_.split('/').last)
      .filterNot(withRows.contains).map(_ -> Summary(0L, Nil, Nil, Nil))
    render(cols, withRows ++ empty)
  }

  /** One file's stats before rendering: row count and, per stats
    * column, min/max as external Scala values (null when the column has
    * no non-null value) and the null count. */
  private final case class Summary(numRecords: Long, mins: Seq[Any],
      maxs: Seq[Any], nulls: Seq[Long])

  /** The stats JSON, files in name order. A zero-row file gets empty
    * min/max/null objects. */
  private def render(cols: Seq[StructField],
      files: Map[String, Summary]): String = {
    val root = mapper.createObjectNode()
    files.toSeq.sortBy(_._1).foreach { case (fileName, s) =>
      val entry = root.putObject(fileName)
      entry.put("numRecords", s.numRecords)
      val minN = entry.putObject("minValues")
      val maxN = entry.putObject("maxValues")
      val nullN = entry.putObject("nullCount")
      if (s.numRecords > 0) cols.zipWithIndex.foreach { case (f, i) =>
        nullN.put(f.name, s.nulls(i))
        // NaN/Infinity are not JSON and their ordering is engine-specific
        // — omit the bound, leaving the column un-prunable for this file
        def finite(v: Any): Boolean = v match {
          case d: java.lang.Double => !d.isNaN && !d.isInfinite
          case fl: java.lang.Float => !fl.isNaN && !fl.isInfinite
          case _ => true
        }
        val (lo, hi) = (s.mins(i), s.maxs(i))
        if (lo != null && hi != null && finite(lo) && finite(hi)) {
          putValue(minN, f, lo)
          putValue(maxN, f, hi)
        }
      }
    }
    mapper.writeValueAsString(root)
  }

  // ---- collection inside the write ---------------------------------------

  /** One file's running stats inside a write task; min/max are Catalyst
    * internal values. */
  private final class Acc(n: Int) extends Serializable {
    var numRecords = 0L
    val mins = new Array[Any](n)
    val maxs = new Array[Any](n)
    val nulls = new Array[Long](n)
  }

  private final case class TaskFiles(files: Map[String, Acc])
      extends WriteTaskStats

  /** Per write task: folds every written row into its file's [[Acc]].
    * Min and max use Spark's interpreted ordering, the one the `min`/`max`
    * aggregates of [[collect]] use (NaN above every number, -0.0 equal to
    * 0.0, the first of equal values kept; strings in UTF-8 byte order). */
  private final class TaskTracker(exprs: Array[Expression])
      extends WriteTaskStatsTracker {
    private val orderings =
      exprs.map(e => TypeUtils.getInterpretedOrdering(e.dataType))
    private val files = scala.collection.mutable.Map.empty[String, Acc]
    private var curPath: String = _
    private var cur: Acc = _

    private def fileName(path: String) = path.substring(path.lastIndexOf('/') + 1)

    // rows of a written file arrive in reused buffers: keep own copies
    private def own(v: Any): Any = v match {
      case u: UTF8String => u.clone()
      case d: Decimal => d.clone()
      case other => other
    }

    override def newPartition(partitionValues: InternalRow): Unit = ()

    /** Registers the file before any row, so a zero-row file still gets
      * its numRecords-0 entry. */
    override def newFile(filePath: String): Unit = {
      curPath = filePath
      cur = new Acc(exprs.length)
      files(fileName(filePath)) = cur
    }

    override def closeFile(filePath: String): Unit = ()

    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath != curPath) {
        curPath = filePath
        cur = files(fileName(filePath))
      }
      cur.numRecords += 1
      var i = 0
      while (i < exprs.length) {
        val v = exprs(i).eval(row)
        if (v == null) cur.nulls(i) += 1
        else {
          if (cur.mins(i) == null || orderings(i).lt(v, cur.mins(i)))
            cur.mins(i) = own(v)
          if (cur.maxs(i) == null || orderings(i).gt(v, cur.maxs(i)))
            cur.maxs(i) = own(v)
        }
        i += 1
      }
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFiles(files.toMap)
  }

  /** The job side of the in-write collection: ships [[TaskTracker]]s to
    * the write tasks and renders the JSON [[collect]] would produce for
    * the same directory from the results of the COMMITTED task attempts
    * (Spark hands `processStats` one result per partition, so a retried
    * or speculative attempt is never counted twice). */
  final class Tracker private[FileStats] (cols: Seq[StructField],
      exprs: Seq[Expression]) extends WriteJobStatsTracker {
    @transient private var results: Seq[TaskFiles] = Nil

    override def newTaskInstance(): WriteTaskStatsTracker =
      new TaskTracker(exprs.toArray)

    override def processStats(stats: Seq[WriteTaskStats],
        jobCommitTime: Long): Unit =
      results = stats.map(_.asInstanceOf[TaskFiles])

    /** The stats JSON of the finished write. */
    def json: String = {
      val toScala = cols.map(f =>
        CatalystTypeConverters.createToScalaConverter(f.dataType))
      def external(vs: Array[Any]) = vs.indices.map(i => toScala(i)(vs(i)))
      render(cols, results.flatMap(_.files).map { case (name, a) =>
        name -> Summary(a.numRecords, external(a.mins), external(a.maxs),
          a.nulls.toSeq)
      }.toMap)
    }
  }

  /** A [[Tracker]] for a write whose rows have the layout `output`,
    * collecting the stats of `statsSchema`'s [[statsColumns]]. A stats
    * column is found in `output` by name the way a parquet read with
    * `statsSchema` would find it: missing, it is all-null; of another
    * type, its values are cast to the stats type. */
  def tracker(output: Seq[Attribute], statsSchema: StructType,
      conf: SQLConf): Tracker = {
    val cols = statsColumns(statsSchema)
    val exprs = cols.map { f =>
      output.indexWhere(a => conf.resolver(a.name, f.name)) match {
        case -1 => Literal(null, f.dataType)
        case i =>
          val ref = BoundReference(i, output(i).dataType, output(i).nullable)
          if (ref.dataType == f.dataType) ref
          else Cast(ref, f.dataType, Some(conf.sessionLocalTimeZone))
      }
    }
    new Tracker(cols, exprs)
  }

  private def putValue(node: com.fasterxml.jackson.databind.node.ObjectNode,
      f: StructField, v: Any): Unit = v match {
    case b: java.lang.Boolean => node.put(f.name, b.booleanValue)
    case b: java.lang.Byte => node.put(f.name, b.longValue)
    case s: java.lang.Short => node.put(f.name, s.longValue)
    case i: java.lang.Integer => node.put(f.name, i.longValue)
    case l: java.lang.Long => node.put(f.name, l.longValue)
    case fl: java.lang.Float => node.put(f.name, fl.doubleValue)
    case d: java.lang.Double => node.put(f.name, d.doubleValue)
    case d: java.math.BigDecimal => node.put(f.name, d)
    case s: String => node.put(f.name, s)
    case d: java.sql.Date => node.put(f.name, d.toString) // yyyy-MM-dd
    case t: java.sql.Timestamp => node.put(f.name, t.toInstant.toString)
    case t: LocalDateTime => node.put(f.name, t.toString) // NTZ
    case other => node.put(f.name, other.toString)
  }

  def parse(json: String): Map[String, PerFile] = {
    val root = mapper.readTree(json)
    root.properties().asScala.map { e =>
      val v = e.getValue
      def obj(name: String): Map[String, JsonNode] =
        Option(v.get(name)).map(_.properties().asScala
          .map(p => p.getKey -> p.getValue).toMap).getOrElse(Map.empty)
      e.getKey -> PerFile(
        Option(v.get("numRecords")).map(_.asLong).getOrElse(0L),
        obj("minValues"), obj("maxValues"),
        obj("nullCount").map { case (k, n) => k -> n.asLong })
    }.toMap
  }

  // ---- pruning ----------------------------------------------------------

  /** Spark compares strings as unsigned UTF-8 bytes (UTF8String order),
    * which differs from String.compareTo for supplementary characters —
    * pruning must use the SAME order the stats were min/max'd under. */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Normalized ordering domain: numerics/dates/timestamps → BigDecimal,
    * strings → String (UTF-8 order), booleans → Boolean. */
  private sealed trait Key { def cmp(o: Key): Option[Int] }
  private final case class NumKey(v: BigDecimal) extends Key {
    def cmp(o: Key): Option[Int] = o match {
      case NumKey(w) => Some(v.compare(w)); case _ => None }
  }
  private final case class StrKey(v: String) extends Key {
    def cmp(o: Key): Option[Int] = o match {
      case StrKey(w) => Some(utf8Compare(v, w)); case _ => None }
  }
  private final case class BoolKey(v: Boolean) extends Key {
    def cmp(o: Key): Option[Int] = o match {
      case BoolKey(w) => Some(v.compare(w)); case _ => None }
  }

  private def statKey(dt: DataType, n: JsonNode): Option[Key] =
    try dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | _: DecimalType =>
        Some(NumKey(BigDecimal(n.asText)))
      case StringType => Some(StrKey(n.asText))
      case BooleanType => Some(BoolKey(n.asBoolean))
      case DateType =>
        Some(NumKey(BigDecimal(LocalDate.parse(n.asText).toEpochDay)))
      case TimestampType =>
        val inst = java.time.Instant.parse(n.asText)
        Some(NumKey(BigDecimal(inst.getEpochSecond) * 1000000L +
          BigDecimal(inst.getNano / 1000)))
      case TimestampNTZType =>
        val ldt = LocalDateTime.parse(n.asText)
        val inst = ldt.toInstant(ZoneOffset.UTC)
        Some(NumKey(BigDecimal(inst.getEpochSecond) * 1000000L +
          BigDecimal(inst.getNano / 1000)))
      case _ => None
    } catch { case _: Exception => None }

  /** Catalyst literal → ordering key. Timestamp/date literals carry
    * micros/days internally, matching [[statKey]]'s normalization. */
  private def litKey(l: Literal): Option[Key] = l.value match {
    case null => None
    case b: java.lang.Boolean => Some(BoolKey(b))
    case b: java.lang.Byte => Some(NumKey(BigDecimal(b.longValue)))
    case s: java.lang.Short => Some(NumKey(BigDecimal(s.longValue)))
    case i: java.lang.Integer => l.dataType match {
      case DateType => Some(NumKey(BigDecimal(i.longValue))) // epoch days
      case _ => Some(NumKey(BigDecimal(i.longValue)))
    }
    case lo: java.lang.Long => Some(NumKey(BigDecimal(lo.longValue))) // incl ts micros
    case f: java.lang.Float =>
      if (f.isNaN || f.isInfinite) None else Some(NumKey(BigDecimal(f.doubleValue)))
    case d: java.lang.Double =>
      if (d.isNaN || d.isInfinite) None else Some(NumKey(BigDecimal(d.doubleValue)))
    case d: Decimal => Some(NumKey(d.toBigDecimal))
    case d: java.math.BigDecimal => Some(NumKey(BigDecimal(d)))
    case u: org.apache.spark.unsafe.types.UTF8String => Some(StrKey(u.toString))
    case s: String => Some(StrKey(s))
    case _ => None
  }

  /** The DATE literal caveat: an Int literal is only epoch-days when its
    * dataType is DateType, and comparing it against a date column's stat
    * (also epoch-days) is sound; Int-vs-Int is trivially sound. A literal
    * whose type domain can't match the column's (e.g. string literal vs
    * long column after an implicit cast was stripped) yields None from
    * `cmp` and keeps the file. */
  private def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  /** Literal, possibly under the implicit Cast type coercion inserts
    * around it during analysis (`col("id") === 4500` casts the Int
    * literal up to the column's Long) — folded eagerly, since pruning
    * runs before the optimizer would fold it. */
  private object Lit {
    def unapply(e: Expression): Option[Literal] = e match {
      case l: Literal => Some(l)
      case c: Cast if c.child.isInstanceOf[Literal] =>
        try Some(Literal.create(c.eval(null), c.dataType))
        catch { case _: Exception => None }
      case _ => None
    }
  }

  /** Resolve a user predicate against `schema` the same way a real read
    * would: analyze `dummy.filter(condition)` and pull the resolved
    * Filter condition — attribute references bound, comparison functions
    * resolved to their catalyst nodes, type coercion applied. Returns
    * None (prune nothing) if the shape is unexpected. */
  def resolvePredicate(spark: SparkSession, schema: StructType,
      condition: org.apache.spark.sql.Column): Option[Expression] = {
    val dummy = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    dummy.filter(condition).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }
  }

  private final case class ColStats(dt: DataType, lo: Option[Key],
      hi: Option[Key], nulls: Option[Long], numRecords: Long) {
    def allNull: Boolean = numRecords > 0 && nulls.contains(numRecords)
  }

  private def colStats(schema: StructType, pf: PerFile,
      name: String): Option[ColStats] =
    schema.fields.find(_.name == name).map { f =>
      ColStats(f.dataType,
        pf.minV.get(name).flatMap(statKey(f.dataType, _)),
        pf.maxV.get(name).flatMap(statKey(f.dataType, _)),
        pf.nulls.get(name), pf.numRecords)
    }

  /** Can any row of the file with stats `pf` satisfy `pred`? Answers
    * false ONLY on certain impossibility; true whenever uncertain. */
  def mayMatch(pred: Expression, schema: StructType, pf: PerFile): Boolean = {
    if (pf.numRecords == 0) return false // an empty file satisfies nothing
    def cmpPred(attr: Expression, lit: Literal,
        test: (ColStats, Key) => Boolean): Boolean = {
      (attrName(attr), litKey(lit)) match {
        case (Some(name), Some(k)) =>
          colStats(schema, pf, name) match {
            case Some(cs) =>
              if (cs.allNull) false // comparison with all-null column: no row matches
              else test(cs, k)
            case None => true
          }
        case (Some(_), None) =>
          // `col <op> NULL` is NULL for every row — never satisfied;
          // a literal we can't key (NaN etc.) keeps the file
          lit.value != null
        case _ => true
      }
    }
    // range tests; an absent bound (no stats / non-finite) keeps the file
    def geLo(cs: ColStats, k: Key) = cs.lo.flatMap(_.cmp(k)).forall(_ <= 0)
    def gtLo(cs: ColStats, k: Key) = cs.lo.flatMap(_.cmp(k)).forall(_ < 0)
    def leHi(cs: ColStats, k: Key) = cs.hi.flatMap(_.cmp(k)).forall(_ >= 0)
    def ltHi(cs: ColStats, k: Key) = cs.hi.flatMap(_.cmp(k)).forall(_ > 0)
    def inRange(cs: ColStats, k: Key) = geLo(cs, k) && leHi(cs, k)

    pred match {
      case And(l, r) => mayMatch(l, schema, pf) && mayMatch(r, schema, pf)
      case Or(l, r) => mayMatch(l, schema, pf) || mayMatch(r, schema, pf)
      case EqualTo(a, Lit(l)) => cmpPred(a, l, inRange)
      case EqualTo(Lit(l), a) => cmpPred(a, l, inRange)
      case EqualNullSafe(a, Lit(l)) if l.value != null => cmpPred(a, l, inRange)
      case EqualNullSafe(Lit(l), a) if l.value != null => cmpPred(a, l, inRange)
      // attr < lit possible iff file min < lit, etc.
      case LessThan(a, Lit(l)) => cmpPred(a, l, gtLo)
      case LessThan(Lit(l), a) => cmpPred(a, l, ltHi) // lit < attr ≡ attr > lit
      case LessThanOrEqual(a, Lit(l)) => cmpPred(a, l, geLo)
      case LessThanOrEqual(Lit(l), a) => cmpPred(a, l, leHi)
      case GreaterThan(a, Lit(l)) => cmpPred(a, l, ltHi)
      case GreaterThan(Lit(l), a) => cmpPred(a, l, gtLo)
      case GreaterThanOrEqual(a, Lit(l)) => cmpPred(a, l, leHi)
      case GreaterThanOrEqual(Lit(l), a) => cmpPred(a, l, geLo)
      case In(a, vs) if vs.forall(Lit.unapply(_).isDefined) =>
        vs.exists(v => cmpPred(a, Lit.unapply(v).get, inRange))
      case IsNull(a) =>
        attrName(a).flatMap(n => colStats(schema, pf, n)) match {
          case Some(cs) => cs.numRecords == 0 || cs.nulls.forall(_ > 0)
          case None => true
        }
      case IsNotNull(a) =>
        attrName(a).flatMap(n => colStats(schema, pf, n)) match {
          case Some(cs) => !cs.allNull && cs.numRecords > 0
          case None => true
        }
      case _ => true
    }
  }
}
