package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.Column
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.streaming
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.engine.VersionedParquetSink

/** A Spark V2 `TableCatalog` over a [[VersionedParquetSink]] base
  * directory — the SQL face of the engine's versioned tables. Register
  * it per session and the whole lifecycle is plain SQL:
  *
  * {{{
  *   spark.sql.catalog.g      = graft.sources.GraftCatalog
  *   spark.sql.catalog.g.path = /data/store
  *
  *   CREATE TABLE g.events (user_id BIGINT, ts TIMESTAMP)
  *   INSERT INTO g.events VALUES ...
  *   SELECT * FROM g.events VERSION AS OF 3          -- time travel
  *   SELECT * FROM g.events TIMESTAMP AS OF '...'
  *   SELECT * FROM g.events.history                  -- DESCRIBE HISTORY
  *   SELECT * FROM g.events.detail                   -- DESCRIBE DETAIL
  *   DELETE FROM g.events WHERE user_id = 7         -- deletion vector
  *   ALTER TABLE g.events ADD COLUMN source STRING
  *   ALTER TABLE g.events RENAME COLUMN source TO src
  *   ALTER TABLE g.events SET TBLPROPERTIES ('team' = 'data')
  *   CALL g.optimize(table => 'events')              -- OPTIMIZE [ZORDER]
  *   CALL g.restore(table => 'events', version => 2)
  *
  *   spark.readStream.table("g.events")              -- streaming tail
  *   df.writeStream.format("graft").toTable("g.events")
  * }}}
  *
  * Architecture (the Delta integration shape, rebuilt on public API):
  * the catalog hands the analyzer [[GraftTable]] objects; with
  * [[graft.GraftExtensions]] installed, a resolution rule swaps each
  * READ of one for the engine's planner-integrated V1 relation
  * ([[graft.engine.GraftRelation]] — commit-log stats pruning,
  * vectorized parquet, codegen), so a catalog-table scan plans
  * byte-identically to `spark.read.format("graft")`. Without the
  * extensions the table still works through its built-in
  * [[V1Scan]]/[[V1Write]] fallbacks (sink-API reads — live deletion
  * vectors included — and ACID writes), just without scan-plan fusion.
  *
  * The catalog is FLAT: tables are the sink's table directories under
  * `path`; namespaces exist only to address metadata tables
  * (`g.<tbl>.history`). DROP TABLE deletes the table directory —
  * history included — matching SQL DROP semantics, not the sink's
  * logged DML. */
class GraftCatalog extends TableCatalog with ProcedureCatalog {

  private var catalogName: String = _
  private var base: String = _

  private[graft] def sink = new VersionedParquetSink(base)
  private def spark = SparkSession.active

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    base = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' needs spark.sql.catalog.$name.path=<sink base>"))
  }

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.isEmpty,
      s"graft catalog '$catalogName' is flat; got namespace " +
        namespace.mkString("."))
    val dir = new org.apache.hadoop.fs.Path(base)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Array.empty
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new org.apache.hadoop.fs.Path(
          graft.engine.TableLog.dirOf(st.getPath.toString))))
      .map(st => Identifier.of(Array.empty, st.getPath.getName))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.isEmpty && sink.exists(spark, ident.name)

  override def loadTable(ident: Identifier): Table = ident.namespace match {
    case Array() if sink.exists(spark, ident.name) =>
      new GraftTable(base, ident.name, None, None, Some(catalogName))
    case Array(t) if ident.name == "history" && sink.exists(spark, t) =>
      new GraftHistoryTable(base, t)
    case Array(t) if ident.name == "detail" && sink.exists(spark, t) =>
      new GraftDetailTable(base, t)
    case Array(t) if ident.name == "changes" && sink.exists(spark, t) =>
      new GraftChangesTable(base, t, Some(catalogName))
    case _ => throw new NoSuchTableException(ident)
  }

  /** `VERSION AS OF <v>` (the analyzer hands the literal as a string). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftTable(base, ident.name, Some(version.toLong), None,
      Some(catalogName))
  }

  /** `TIMESTAMP AS OF <ts>` (epoch MICROS, per the DSv2 contract). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftTable(base, ident.name, None,
      Some(java.time.Instant.ofEpochSecond(
        Math.floorDiv(timestampMicros, 1000000L),
        Math.floorMod(timestampMicros, 1000000L) * 1000L)),
      Some(catalogName))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(ident.namespace.isEmpty,
      s"graft catalog '$catalogName' is flat; cannot create " +
        ident.toString)
    require(partitions.isEmpty,
      "graft tables version whole commits; partition transforms are " +
        "not supported (use option(\"zorderBy\", ...) on writes for " +
        "clustered layout)")
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val s = spark
    // Spark mixes engine-reserved keys into this map; only user
    // properties are stored.
    val userProps = properties.asScala.view
      .filterKeys(!GraftCatalog.ReservedProps.contains(_)).toMap
    // ONE atomic commit: an empty schema-bearing append whose marker
    // carries both the schema and the TBLPROPERTIES — the table is
    // immediately readable (zero rows), every later write schema-checks
    // against it, and there is no window where it exists without its
    // properties (nor a version-numbering difference vs a bare CREATE).
    sink.createWithProperties(s.createDataFrame(
      s.sparkContext.emptyRDD[Row], schema), ident.name, userProps)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = ident.name
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft ADD COLUMN supports top-level columns only")
        require(a.isNullable,
          "graft ADD COLUMN is metadata-only (existing rows read NULL); " +
            "the new column must be nullable")
        require(a.position == null,
          "graft ADD COLUMN appends at the end; positions are not supported")
        sink.addColumn(spark, t, a.fieldNames.head, a.dataType)
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft RENAME COLUMN supports top-level columns only")
        sink.renameColumn(spark, t, r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graft DROP COLUMN supports top-level columns only")
        sink.dropColumn(spark, t, d.fieldNames.head)
      case p: TableChange.SetProperty =>
        // ALTER TABLE ... SET LOCATION/provider/owner arrives as a
        // SetProperty on a reserved key; persisting it as an inert user
        // TBLPROPERTY would "succeed" without relocating anything.
        if (GraftCatalog.ReservedProps.contains(p.property))
          throw new UnsupportedOperationException(
            s"ALTER TABLE ... SET '${p.property}' is not supported on " +
              "graft tables (the table's location/provider/owner are " +
              "fixed by its storage directory)")
        sink.setProperties(spark, t, Map(p.property -> p.value))
      case p: TableChange.RemoveProperty =>
        if (GraftCatalog.ReservedProps.contains(p.property))
          throw new UnsupportedOperationException(
            s"ALTER TABLE ... UNSET '${p.property}' is not supported on " +
              "graft tables")
        sink.unsetProperties(spark, t, Seq(p.property))
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change ${other.getClass.getSimpleName} is not " +
          s"supported on graft tables")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    val p = new org.apache.hadoop.fs.Path(s"$base/${ident.name}")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME TABLE is not supported on graft tables (the table name is " +
        "its storage directory)")

  // ---- CALL g.<procedure>(...) ----------------------------------------

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    GraftProcedures.names.map(n => Identifier.of(Array.empty, n))

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.isEmpty || ident.namespace.sameElements(
      Array("system")), s"unknown procedure namespace in $ident")
    GraftProcedures.load(this, ident.name).getOrElse(
      throw new NoSuchTableException(ident))
  }
}

/** A versioned sink table (optionally pinned to a version/timestamp)
  * as a DSv2 `Table`. Reads and writes fall back to V1: the scan
  * builds on the sink API (which composes with live deletion vectors
  * and time travel), the write is the sink's ACID append/overwrite.
  * With [[graft.GraftExtensions]] installed, reads never reach the
  * fallback — a resolution rule substitutes the planner-integrated
  * relation (see [[graft.plans.GraftCatalogReads]]). */
final class GraftTable(val base: String, val table: String,
    val versionAsOf: Option[Long],
    val timestampAsOf: Option[java.time.Instant],
    val catalogName: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.graft.V1FallbackTable {

  private[graft] def sink = new VersionedParquetSink(base)

  /** The catalog STREAMING READ face (Delta's own wiring shape):
    * consulted by `spark.readStream.table` in the analyzer's streaming
    * relation branch — it re-enters the engine through the V1
    * `format("graft")` source ([[GraftDataSource]]), so catalog
    * streams get the exact offsets-are-versions source the format face
    * is tested on. (Writes no longer come through here:
    * `writeStream.toTable` uses the real DSv2 [[GraftStreamingWrite]]
    * via the STREAMING_WRITE capability — no `.format("graft")`
    * needed.) */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(versionAsOf.isEmpty && timestampAsOf.isEmpty,
      s"cannot stream the time-traveled snapshot ${name()}; streaming " +
        "reads follow the live table (use option(\"startingVersion\") " +
        "on readStream.format(\"graft\") for a historical start point)")
    catalogDescriptor
  }

  /** The table as a CatalogTable descriptor (identifier + provider +
    * location + schema), with no streaming precondition — attached to
    * substituted batch relations so catalog-management paths
    * (refreshTable cache invalidation) keep working. */
  private[graft] def catalogDescriptor:
      org.apache.spark.sql.catalyst.catalog.CatalogTable =
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      // the identifier must RE-RESOLVE through this catalog: after each
      // committed micro-batch MicroBatchExecution refreshes the catalog
      // table by this name (Catalog.refreshTable), so a dangling name
      // would fail every batch post-commit (UnresolvedCatalogRelation
      // also asserts a database part)
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        table, Some(catalogName.getOrElse("graft"))),
      tableType = org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat.empty
        .copy(locationUri = Some(
          org.apache.spark.sql.catalyst.catalog.CatalogUtils
            .stringToURI(s"${base.stripSuffix("/")}/$table"))),
      schema = schema,
      provider = Some("graft"))

  /** `DELETE FROM g.tbl WHERE ...` — the sink's deletion-vector path:
    * a metadata-speed positional mask commit, O(masked rows) written,
    * O(table) untouched; reads (sink API, `format("graft")` and the
    * catalog substitution alike) compose with the live mask, and the
    * next compaction materializes it. Predicates outside the
    * source-filter algebra are rejected at `canDeleteWhere`, surfacing
    * Spark's standard "cannot delete" analysis error rather than a
    * silent full-table op. */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    versionAsOf.isEmpty && timestampAsOf.isEmpty &&
      filters.forall(f => GraftTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    require(versionAsOf.isEmpty && timestampAsOf.isEmpty,
      s"cannot DELETE from the time-traveled snapshot ${name()}")
    val cond = filters.toSeq.flatMap(GraftTable.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    sink.deleteVectored(SparkSession.active, table, cond)
    ()
  }

  /** The sink-API read honoring the pin — live DVs, mapping and
    * schema evolution all composed; the fallback scan's source. It is
    * the same [[graft.engine.GraftRelation]] scan the planner-integrated
    * path uses, not an independent reference for it. */
  private[graft] def readDF(spark: SparkSession): DataFrame =
    (versionAsOf, timestampAsOf) match {
      case (Some(v), _) => sink.readAt(spark, table, v)
      case (_, Some(ts)) => sink.readAsOf(spark, table, ts)
      case _ => sink.read(spark, table)
    }

  override def name(): String =
    table + versionAsOf.map(v => s"@v$v").getOrElse("") +
      timestampAsOf.map(ts => s"@$ts").getOrElse("")

  override lazy val schema: StructType =
    readDF(SparkSession.active).schema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap):
      ScanBuilder = new GraftFallbackScanBuilder(withOptionPins(options))

  /** Reader-option time travel (Delta parity):
    * `spark.read.option("versionAsOf", 3).table("g.tbl")` /
    * `option("timestampAsOf", ...)` pin the scan like SQL `VERSION AS
    * OF` — without re-resolving the schema, so a pin across a schema
    * change surfaces as the projection error naming the missing
    * column rather than silently reading the wrong shape. SQL pins
    * (already resolved through loadTable) win over options. */
  private[graft] def withOptionPins(
      options: CaseInsensitiveStringMap): GraftTable = {
    val (v, ts) = GraftTable.optionPins(options)
    if ((v.isEmpty && ts.isEmpty) ||
      versionAsOf.isDefined || timestampAsOf.isDefined) this
    else new GraftTable(base, table, v, ts, catalogName)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAsOf.isEmpty && timestampAsOf.isEmpty,
      s"cannot write to the time-traveled snapshot ${name()}")
    new WriteBuilder with SupportsTruncate {
      private var replace = false
      override def truncate(): WriteBuilder = { replace = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              if (replace || overwrite) sink.overwrite(data, table)
              else sink.append(data, table)
          }
        /** The STREAMING_WRITE face: `writeStream.toTable("g.tbl")`
          * with no `.format("graft")` — executor DataWriters + one
          * keyed ACID claim per epoch (see [[GraftStreamingWrite]]).
          * Same `(appId, batchId)` key shape as the V1 format sink, so
          * a query upgraded mid-checkpoint keeps its exactly-once
          * history. Complete output mode (Spark calls truncate())
          * turns each epoch into a keyed logged REWRITE: the epoch's
          * rows atomically replace the table — Delta's streaming-
          * aggregation-into-a-table shape, still time-travelable and
          * exactly-once on replay. */
        override def toStreaming: streaming.StreamingWrite = {
          val opts = info.options
          val appId = Option(opts.get("txnAppId"))
            .orElse(Option(opts.get("checkpointLocation")))
            .getOrElse(s"graft:${base.stripSuffix("/")}/$table")
          new GraftStreamingWrite(base, table, info.schema, appId,
            replace = replace)
        }
      }
    }
  }

  /** TBLPROPERTIES (current set from the commit log) plus the standard
    * provider/location pair — the map behind SHOW TBLPROPERTIES and
    * DESCRIBE EXTENDED. */
  override def properties(): util.Map[String, String] = {
    val spark = SparkSession.active
    val stored =
      try sink.propertiesOf(spark, table)
      catch { case scala.util.control.NonFatal(_) => Map.empty[String, String] }
    (stored ++ Map(
      TableCatalog.PROP_PROVIDER -> "graft",
      TableCatalog.PROP_LOCATION -> s"${base.stripSuffix("/")}/$table")).asJava
  }

  override def toString: String = s"GraftTable(${name()})"
}

object GraftCatalog {
  /** Keys Spark itself mixes into createTable's property map — engine
    * metadata, not user TBLPROPERTIES; never persisted. */
  private[sources] val ReservedProps: Set[String] = Set(
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
    TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
    TableCatalog.PROP_IS_MANAGED_LOCATION)
}

object GraftTable {
  import org.apache.spark.sql.functions.{col, lit}

  /** Parse versionAsOf/timestampAsOf reader options (Delta's names).
    * Timestamps accept ISO-8601 instants and the unzoned
    * `yyyy-MM-dd HH:mm:ss` form (read as UTC, matching the engine's
    * UTC-session convention). */
  private[graft] def optionPins(options: CaseInsensitiveStringMap):
      (Option[Long], Option[java.time.Instant]) = {
    val v = Option(options.get("versionAsOf")).map(_.toLong)
    val ts = Option(options.get("timestampAsOf")).map(parseInstant)
    require(v.isEmpty || ts.isEmpty,
      "specify either versionAsOf or timestampAsOf, not both")
    (v, ts)
  }

  private def parseInstant(s: String): java.time.Instant =
    try java.time.Instant.parse(s)
    catch { case _: java.time.format.DateTimeParseException =>
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC)
    }

  /** V1 source filter -> Column, for the SQL DELETE face. `None` for
    * shapes outside the algebra (caught at canDeleteWhere). */
  private[sources] def filterToColumn(f: sources.Filter): Option[Column] =
    f match {
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case sources.EqualTo(a, v) => Some(col(a) === lit(v))
      case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case sources.LessThan(a, v) => Some(col(a) < lit(v))
      case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) => Some(col(a).isNull)
      case sources.IsNotNull(a) => Some(col(a).isNotNull)
      case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case sources.StringContains(a, v) => Some(col(a).contains(v))
      case sources.And(l, r) => for {
        lc <- filterToColumn(l); rc <- filterToColumn(r)
      } yield lc && rc
      case sources.Or(l, r) => for {
        lc <- filterToColumn(l); rc <- filterToColumn(r)
      } yield lc || rc
      case sources.Not(c) => filterToColumn(c).map(!_)
      case _ => None
    }
}

/** Correctness-first fallback scan (used only without the extensions
  * rule): column pruning is pushed down; filters stay above the scan
  * (Spark re-applies them), so results are exact — the planner-
  * integrated path is where file skipping and parquet pushdown live. */
private final class GraftFallbackScanBuilder(t: GraftTable)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = t.schema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new V1Scan {
    override def readSchema(): StructType = required
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = required
        override def buildScan(): RDD[Row] = {
          val df = t.readDF(context.sparkSession)
          val pruned =
            if (required.fieldNames.sameElements(df.columns)) df
            else df.select(required.fieldNames.toIndexedSeq
              .map(org.apache.spark.sql.functions.col): _*)
          pruned.rdd
        }
      }.asInstanceOf[T]
  }
}

/** `g.<tbl>.history` — DESCRIBE HISTORY as a metadata table (the
  * public Iceberg pattern): one row per commit, newest first, straight
  * from [[VersionedParquetSink.history]]. Read-only. */
private final class GraftHistoryTable(base: String, table: String)
    extends Table with SupportsRead {

  private def sink = new VersionedParquetSink(base)

  override def name(): String = s"$table.history"

  // derived from the sink so added columns (operation metrics) never
  // drift from the V1 scan's rows
  override lazy val schema: StructType =
    sink.history(SparkSession.active, table).schema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap):
      ScanBuilder = () => new V1Scan {
    override def readSchema(): StructType = schema
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = GraftHistoryTable.this.schema
        override def buildScan(): RDD[Row] =
          sink.history(context.sparkSession, table).rdd
      }.asInstanceOf[T]
  }
}

/** `g.<tbl>.detail` — DESCRIBE DETAIL as a metadata table (same
  * pattern as `.history`): ONE row of table-level metadata straight
  * from [[VersionedParquetSink.describeDetail]] — format, location,
  * created/modified times, live file count/bytes, TBLPROPERTIES,
  * current version, pending deletion vectors. Read-only. */
private final class GraftDetailTable(base: String, table: String)
    extends Table with SupportsRead {

  private def sink = new VersionedParquetSink(base)

  override def name(): String = s"$table.detail"

  override lazy val schema: StructType =
    sink.describeDetail(SparkSession.active, table).schema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap):
      ScanBuilder = () => new V1Scan {
    override def readSchema(): StructType = schema
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = GraftDetailTable.this.schema
        override def buildScan(): RDD[Row] =
          sink.describeDetail(context.sparkSession, table).rdd
      }.asInstanceOf[T]
  }
}

/** `g.<tbl>.changes` — the change data feed as a metadata table (the
  * Iceberg `<tbl>.changes` pattern; Delta spells it `table_changes(...)`,
  * a TVF needing parser support). Rows come from
  * [[VersionedParquetSink.changesBetween]] tagged `_change_type`
  * (`insert`/`delete`), bounded by reader options:
  *
  * {{{
  *   spark.read.option("startingVersion", 3)       // inclusive; default 0
  *     .option("endingVersion", 7)                 // default latest
  *     .table("g.tbl.changes")
  *   spark.sql("SELECT * FROM g.tbl.changes")      // full history as CDF
  * }}}
  *
  * Append-only ranges are served straight from their commit dirs —
  * O(new data), the same fast path as the format-side `readChangeFeed`.
  * Bounded reads across a schema evolution project to the CURRENT
  * logical schema (pre-evolution changes read the new columns as null),
  * matching how every other read of old versions presents rows. */
private final class GraftChangesTable(base: String, table: String,
    catalogName: Option[String] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.graft.V1FallbackTable {

  private def sink = new VersionedParquetSink(base)

  override def name(): String = s"$table.changes"

  override lazy val schema: StructType =
    sink.read(SparkSession.active, table).schema
      .add("_change_type", StringType)

  /** STREAMING the change feed through the catalog:
    * `spark.readStream.table("g.tbl.changes")` — the V1 fallback
    * descriptor carries `readChangeFeed=true` in its storage
    * properties, so the analyzer re-enters the tested CDF source
    * ([[GraftDataSource]]'s GraftChangeFeedSource) with this table's
    * `_change_type`-bearing schema. This is how the catalog face gets
    * streaming CDF despite V2 relation schemas resolving before reader
    * options (the wall that rules out `option("readChangeFeed")` on
    * `readStream.table`). */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable =
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        table, Some(catalogName.getOrElse("graft"))),
      tableType =
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat
        .empty.copy(
          locationUri = Some(
            org.apache.spark.sql.catalyst.catalog.CatalogUtils
              .stringToURI(s"${base.stripSuffix("/")}/$table")),
          properties = Map("readChangeFeed" -> "true")),
      schema = schema,
      provider = Some("graft"))

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap):
      ScanBuilder = {
    val from = Option(options.get("startingVersion")).map(_.toLong)
      .getOrElse(0L)
    val to = Option(options.get("endingVersion")).map(_.toLong)
    () => new V1Scan {
      override def readSchema(): StructType = schema
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = GraftChangesTable.this.schema
          override def buildScan(): RDD[Row] = {
            val spark = context.sparkSession
            val toV = to.orElse(sink.latestVersion(spark, table))
              .getOrElse(throw new IllegalArgumentException(
                s"no committed versions in '$table' to read changes from"))
            val df = sink.changesBetween(spark, table, from - 1, toV)
            // align to the declared (current) schema: a bounded range
            // ending before an evolution lacks the later columns
            val have = df.columns.toSet
            df.select(GraftChangesTable.this.schema.fields.toSeq.map { f =>
              if (have.contains(f.name))
                org.apache.spark.sql.functions.col(f.name)
              else org.apache.spark.sql.functions.lit(null)
                .cast(f.dataType).as(f.name)
            }: _*).rdd
          }
        }.asInstanceOf[T]
    }
  }
}

/** Maintenance commands as DSv2 procedures: `CALL g.optimize(...)`,
  * `CALL g.restore(...)`, `CALL g.vacuum(...)`. Each returns one result
  * row via a [[org.apache.spark.sql.connector.read.LocalScan]]. */
private object GraftProcedures {

  val names: Array[String] =
    Array("optimize", "restore", "vacuum", "clone", "reorg", "copy_into",
      "generate", "identity")

  def load(cat: GraftCatalog, name: String): Option[UnboundProcedure] =
    name.toLowerCase(java.util.Locale.ROOT) match {
      case "optimize" => Some(proc("optimize",
        "Compact a table; with zorder_by, cluster on the named columns; " +
          "with predicate, fold only the dirs whose stats may match " +
          "(selective OPTIMIZE ... WHERE)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("zorder_by", StringType)
            .defaultValue("CAST(NULL AS STRING)").build(),
          ProcedureParameter.in("predicate", StringType)
            .defaultValue("CAST(NULL AS STRING)").build(),
          ProcedureParameter.in("target_files", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build()),
        { (spark, row) =>
          val t = row.getUTF8String(0).toString
          val z = if (row.isNullAt(1)) None
            else Some(row.getUTF8String(1).toString)
          val zCols = z.toSeq.flatMap(
            _.split(',').map(_.trim).filter(_.nonEmpty))
          val w = if (row.isNullAt(2)) None
            else Some(row.getUTF8String(2).toString)
          val tf = if (row.isNullAt(3)) None else Some(row.getLong(3).toInt)
          val v = w match {
            case Some(cond) => cat.sink.compactWhere(spark, t,
              org.apache.spark.sql.functions.expr(cond), tf, zCols)
            case None => z match {
              case Some(_) => cat.sink.optimizeZOrder(spark, t, zCols,
                tf.getOrElse(8))
              case None => cat.sink.compact(spark, t, tf)
            }
          }
          Seq(s"compacted '$t' as version $v" +
            w.fold("")(c => s" where $c") +
            z.fold("")(c => s" z-ordered on $c"))
        }))
      case "identity" => Some(proc("identity",
        "Declare a GENERATED ALWAYS AS IDENTITY column: engine-assigned " +
          "unique BIGINTs on every future append",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("column", StringType).build(),
          ProcedureParameter.in("start_with", LongType)
            .defaultValue("1").build(),
          ProcedureParameter.in("increment_by", LongType)
            .defaultValue("1").build()),
        { (spark, row) =>
          val t = row.getUTF8String(0).toString
          val c = row.getUTF8String(1).toString
          val v = cat.sink.setIdentityColumn(spark, t, c,
            startWith = row.getLong(2), incrementBy = row.getLong(3))
          Seq(s"declared identity column '$c' on '$t' as version $v")
        }))
      case "generate" => Some(proc("generate",
        "GENERATE symlink_format_manifest: publish the current " +
          "snapshot's data-file list for Presto/Trino external tables",
        Array(ProcedureParameter.in("table", StringType).build()),
        { (spark, row) =>
          val t = row.getUTF8String(0).toString
          val n = cat.sink.generateManifest(spark, t)
          Seq(s"manifest for '$t' lists $n file(s)")
        }))
      case "copy_into" => Some(proc("copy_into",
        "COPY INTO: idempotent file-granular bulk load of parquet files " +
          "from a directory — re-runs load only files not already loaded",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("source", StringType).build(),
          ProcedureParameter.in("pattern", StringType)
            .defaultValue("'*.parquet'").build()),
        { (spark, row) =>
          val t = row.getUTF8String(0).toString
          val src = row.getUTF8String(1).toString
          val pat = row.getUTF8String(2).toString
          val n = cat.sink.copyInto(spark, t, src, pat)
          Seq(s"loaded $n file(s) from $src into '$t'")
        }))
      case "reorg" => Some(proc("reorg",
        "REORG ... APPLY (PURGE): materialize every live deletion-vector " +
          "mask by rewriting only the masked dirs, retiring the masks",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("target_files", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build()),
        { (spark, row) =>
          val t = row.getUTF8String(0).toString
          val tf = if (row.isNullAt(1)) None else Some(row.getLong(1).toInt)
          val v = cat.sink.reorgPurge(spark, t, tf)
          Seq(s"purged deletion vectors of '$t' as version $v")
        }))
      case "restore" => Some(proc("restore",
        "Restore a table to an earlier version or timestamp " +
          "(as a new commit)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("version", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build(),
          ProcedureParameter.in("timestamp", StringType)
            .defaultValue("CAST(NULL AS STRING)").build()),
        { (spark, row) =>
          val t = row.getUTF8String(0).toString
          val toV = (row.isNullAt(1), row.isNullAt(2)) match {
            case (false, true) => row.getLong(1)
            case (true, false) => cat.sink.versionAsOfTimestamp(spark, t,
              java.time.Instant.parse(row.getUTF8String(2).toString))
            case _ => throw new IllegalArgumentException(
              "restore takes exactly one of version / timestamp")
          }
          val v = cat.sink.restore(spark, t, toV)
          Seq(s"restored '$t' to v$toV as version $v")
        }))
      case "clone" => Some(proc("clone",
        "Shallow-clone a table: metadata-only copy whose commits " +
          "reference the source's data files (no data copied); " +
          "version clones the source AS OF that version",
        Array(
          ProcedureParameter.in("source", StringType).build(),
          ProcedureParameter.in("target", StringType).build(),
          ProcedureParameter.in("version", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build()),
        { (spark, row) =>
          val src = row.getUTF8String(0).toString
          val dst = row.getUTF8String(1).toString
          val ver = if (row.isNullAt(2)) None else Some(row.getLong(2))
          val v = cat.sink.cloneShallow(spark, src, dst, ver)
          Seq(s"cloned '$src' to '$dst' at version $v (metadata-only; " +
            "source vacuum honors the clone's holds)")
        }))
      case "vacuum" => Some(proc("vacuum",
        "Delete unreferenced data directories older than retain_hours " +
          "(dry_run => true reports without deleting)",
        Array(
          ProcedureParameter.in("table", StringType).build(),
          ProcedureParameter.in("retain_hours", LongType)
            .defaultValue("CAST(NULL AS BIGINT)").build(),
          ProcedureParameter.in("dry_run",
            org.apache.spark.sql.types.BooleanType)
            .defaultValue("false").build()),
        { (spark, row) =>
          val t = row.getUTF8String(0).toString
          val dry = !row.isNullAt(2) && row.getBoolean(2)
          // retain_hours omitted -> the table's retention TBLPROPERTIES
          // (graft.deletedFileRetentionDuration), else the 1h default
          val n = cat.sink.vacuum(spark, t,
            graceMs = if (row.isNullAt(1)) -1L
              else row.getLong(1) * 3600000L, dryRun = dry)
          Seq(if (dry) s"dry run: $n orphan dir(s) eligible in '$t'"
            else s"vacuumed $n orphan dir(s) from '$t'")
        }))
      case _ => None
    }

  private def proc(procName: String, desc: String,
      params: Array[ProcedureParameter],
      body: (SparkSession, InternalRow) => Seq[String]): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = procName
      override def description(): String = desc
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = procName
          override def description(): String = desc
          override def parameters(): Array[ProcedureParameter] = params
          override def isDeterministic: Boolean = false
          override def call(input: InternalRow):
              util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
            val msgs = body(SparkSession.active, input)
            val out: org.apache.spark.sql.connector.read.Scan =
              new org.apache.spark.sql.connector.read.LocalScan {
                override def readSchema(): StructType = StructType(Seq(
                  org.apache.spark.sql.types.StructField("result",
                    StringType)))
                override def rows(): Array[InternalRow] = msgs.map(m =>
                  InternalRow(
                    org.apache.spark.unsafe.types.UTF8String.fromString(m))
                ).toArray
              }
            util.Arrays.asList(out).iterator()
          }
        }
    }
}
