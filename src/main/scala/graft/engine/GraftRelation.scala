package graft.engine

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo, Expression, In, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

import graft.engine.VersionedParquetSink.ColumnMapping

/** The `spark.read.format("graft")` integration, assembled the way
  * Delta integrates its own log with Spark's scan planning: a custom
  * [[FileIndex]] whose `listFiles` applies the commit-log's per-file
  * min/max stats to the PLANNER'S OWN data filters, wrapped in a
  * [[HadoopFsRelation]] over [[ParquetFileFormat]]. Everything
  * downstream is stock Spark: vectorized parquet reading, whole-stage
  * codegen, column pruning via `requiredSchema`, parquet row-group
  * pushdown (`PushedFilters` in explain) — the engine only decides
  * WHICH FILES the scan may open, which is exactly the part the commit
  * log knows and Spark cannot.
  *
  * Column mapping composes: the relation exposes the LOGICAL schema,
  * and [[GraftParquetFileFormat]] translates the reader's schemas and
  * pushed filters to PHYSICAL names at the parquet boundary (Delta's
  * own trick — `InternalRow` is positional, so only the file-side
  * lookup needs names).
  */
object GraftRelation {

  /** Build the relation for `table` as of `version` (Long.MaxValue =
    * latest). Live deletion vectors / merge-on-read updates COMPOSE,
    * Delta-DV style: planning collects only WHICH files carry a mask
    * (one path string per masked file — never the positions), and each
    * EXECUTOR resolves its own file's positions from the mask parquet
    * (see [[GraftMasks.positionsFor]]) — so total mask size is
    * unbounded at plan time; memory is per-file on the task that reads
    * that file. Stats-based file skipping, column pruning and the
    * full-predicate re-check above the scan all still engage; only
    * pushed-down parquet filters (masked files only) and columnar
    * batches are disabled while a mask is live (row positions must be
    * counted in file order, so masked files read every row group). */
  def apply(spark: SparkSession, tableDir: String,
      snap: Snapshot): BaseRelation =
    forDirs(spark, tableDir, snap, snap.live.filterNot(_.isDv),
      masks(spark, tableDir, snap.live))

  /** The masks of every merge-on-read commit in `live`, or None when no
    * live mask hides a row. One distributed pass over the mask parquet
    * for the masked-file SET (small: one string per masked file,
    * independent of masked-row count), listed through the same
    * log-derived index as the data. */
  def masks(spark: SparkSession, tableDir: String,
      live: Seq[Commit]): Option[GraftMasks] = {
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an update that matched no row leaves no `_dv/` dir
    val dvs = live.filter(_.isMergeOnRead)
      .map(e => GraftFileIndex.Dir(e.version, e.maskDir, None))
      .filter(d => fs.exists(
        new Path(VersionedParquetSink.resolveDir(tableDir, d.dir))))
    if (dvs.isEmpty) None
    else {
      val maskSchema = StructType.fromDDL("path STRING, pos BIGINT")
      val maskedPaths = spark.baseRelationToDataFrame(HadoopFsRelation(
          new GraftFileIndex(spark, tableDir, dvs, maskSchema, Nil),
          StructType(Nil), maskSchema, None, new ParquetFileFormat,
          Map.empty)(spark))
        .select("path").distinct()
        .collect().map(_.getString(0)).toSet
      if (maskedPaths.isEmpty) None
      else Some(GraftMasks(
        dvs.map(d => VersionedParquetSink.resolveDir(tableDir, d.dir)),
        maskedPaths))
    }
  }

  /** Relation over an explicit scan set (schema/mapping still from the
    * whole `snap`): the streaming source's per-batch form, the change
    * feed's append range and the selective fold's input. */
  def forDirs(spark: SparkSession, tableDir: String, snap: Snapshot,
      scan: Seq[Commit], masks: Option[GraftMasks] = None): BaseRelation = {
    val logical = logicalSchema(spark, tableDir, snap)
    val mapping = ColumnMapping.parse(snap.mapping)
    // Bloom-index config for equality file skipping: configured logical
    // columns resolved to their stable physical names (sidecars key on
    // physical names, so pre-rename dirs keep pruning after a rename)
    val bloom: Map[String, org.apache.spark.sql.types.DataType] =
      BloomIndex.configured(snap.properties)
        .flatMap(lc => logical.fields.find(_.name == lc))
        .filter(f => BloomIndex.supported(f.dataType))
        .map(f => ColumnMapping.physicalName(mapping, f.name) -> f.dataType)
        .toMap
    relation(spark, tableDir, scan.map(e =>
      GraftFileIndex.Dir(e.version, e.dir, e.stats)), logical, mapping, bloom,
      masks)
  }

  /** Relation over one written but not yet committed dir (`dir` relative
    * to `tableDir`), read with the given logical schema (nullable-ized,
    * as file sources read) and mapping. */
  def ofDir(spark: SparkSession, tableDir: String, dir: String,
      logical: StructType,
      mapping: Seq[(String, ColumnMapping.Entry)] = Nil): BaseRelation =
    relation(spark, tableDir, Seq(GraftFileIndex.Dir(-1L, dir, None)),
      StructType(logical.fields.map(_.copy(nullable = true))), mapping,
      Map.empty, None)

  private def relation(spark: SparkSession, tableDir: String,
      dirs: Seq[GraftFileIndex.Dir], logical: StructType,
      mapping: Seq[(String, ColumnMapping.Entry)],
      bloom: Map[String, org.apache.spark.sql.types.DataType],
      masks: Option[GraftMasks]): BaseRelation =
    HadoopFsRelation(
      location = new GraftFileIndex(spark, tableDir, dirs, logical, mapping,
        bloom),
      partitionSchema = StructType(Nil),
      dataSchema = logical,
      bucketSpec = None,
      fileFormat = new GraftParquetFileFormat(
        mapping.map { case (l, e) => l -> e.physical }.toMap, masks),
      options = Map.empty)(spark)

  /** The schema a read of `snap` exposes: the logical schema its latest
    * commit carries, nullable as file sources read. Markers written
    * before commits carried their schema fall back to the footers of the
    * snapshot's live data files. */
  def logicalSchema(spark: SparkSession, tableDir: String,
      snap: Snapshot): StructType = {
    require(snap.nonEmpty, s"no committed versions for ${snap.table}")
    val declared = snap.schemaDdl.map(StructType.fromDDL).getOrElse {
      val files = new GraftFileIndex(spark, tableDir,
        snap.live.filterNot(_.isDv)
          .map(e => GraftFileIndex.Dir(e.version, e.dir, None)),
        StructType(Nil), Nil).allFiles
      new ParquetFileFormat().inferSchema(spark, Map.empty, files).getOrElse(
        throw new IllegalStateException(
          s"table '${snap.table}' has no schema in its log and no data files"))
    }
    StructType(declared.fields.map(_.copy(nullable = true)))
  }
}

/** The executor-resolved deletion-vector descriptor riding a masked
  * scan (the Delta shape: the PLAN carries pointers, the TASK fetches
  * its own file's positions). `maskDirs` are the live mask parquet
  * directories; `maskedPaths` the table-relative paths of files with at
  * least one masked row. Serializable and small — O(#masked files). */
final case class GraftMasks(maskDirs: Seq[String],
    maskedPaths: Set[String]) {

  /** All masked positions for ONE data file, read ON THE EXECUTOR from
    * the mask parquet with a `path = <file>` record filter. The sink
    * writes masks globally sorted by (path, pos), so parquet row-group
    * statistics skip every block without this file's rows; legacy
    * unsorted masks still answer correctly, just without skipping. */
  def positionsFor(rel: String,
      conf: org.apache.hadoop.conf.Configuration):
      java.util.HashSet[java.lang.Long] = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.io.api.Binary
    val dead = new java.util.HashSet[java.lang.Long]()
    val pred = FilterApi.eq(FilterApi.binaryColumn("path"),
      Binary.fromString(rel))
    maskDirs.foreach { d =>
      val dir = new Path(d)
      val fs = dir.getFileSystem(conf)
      if (fs.exists(dir)) {
        fs.listStatus(dir).filter(st => st.isFile &&
            st.getPath.getName.endsWith(".parquet")).foreach { st =>
          val reader = ParquetReader
            .builder(new GroupReadSupport(), st.getPath)
            .withConf(conf)
            .withFilter(FilterCompat.get(pred))
            .build()
          try {
            var g = reader.read()
            while (g != null) {
              dead.add(g.getLong("pos", 0))
              g = reader.read()
            }
          } finally reader.close()
        }
      }
    }
    dead
  }
}

/** Commit-log-backed file listing with stats-based skipping: the
  * planner hands `listFiles` its data filters (already-resolved
  * catalyst expressions over the logical schema); files whose min/max
  * ranges cannot satisfy them are never opened. The snapshot is pinned
  * at construction — a DataFrame keeps reading the versions it was
  * planned against, like Delta's snapshot isolation — so each dir is
  * listed once, on first use, and the listing serves `listFiles`,
  * `inputFiles` and `sizeInBytes` alike.
  *
  * Equality is by value over what the scan reads (table dir, scanned
  * (version, dir) pairs, logical schema, mapping), like
  * `InMemoryFileIndex`'s over its root paths: two reads of one snapshot
  * canonicalize equal, so cached plans and exchange reuse match. The
  * live masks are part of [[GraftParquetFileFormat]]'s equality. */
final class GraftFileIndex(spark: SparkSession, tableDir: String,
    dirs: Seq[GraftFileIndex.Dir], logical: StructType,
    mapping: Seq[(String, ColumnMapping.Entry)],
    bloom: Map[String, org.apache.spark.sql.types.DataType] = Map.empty)
    extends FileIndex {

  private val mappingMap: Map[String, String] =
    mapping.map { case (l, e) => l -> e.physical }.toMap
  private val physSchema = ColumnMapping.physicalSchema(logical, mapping)
  private def fs = new Path(tableDir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val identity =
    (tableDir, dirs.map(d => (d.version, d.dir)), logical, mapping)
  override def equals(other: Any): Boolean = other match {
    case o: GraftFileIndex => o.identity == identity
    case _ => false
  }
  override def hashCode: Int = identity.hashCode

  /** Every scanned dir's parquet files, listed once. A missing dir is a
    * committed dir that was vacuumed: reading it fails loudly. */
  private lazy val listed: Seq[(GraftFileIndex.Dir, Seq[FileStatus])] =
    dirs.map { d =>
      d -> fs.listStatus(new Path(
          VersionedParquetSink.resolveDir(tableDir, d.dir))).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    }

  private[engine] def allFiles: Seq[FileStatus] = listed.flatMap(_._2)

  /** Per-sidecar driver cache, pinned with the snapshot (commit dirs are
    * immutable, so an entry never invalidates). Loaded lazily and only
    * for files that already survived min/max pruning under an equality
    * predicate on an indexed column. */
  private val bloomCache = scala.collection.mutable.Map.empty[
    (String, String), Option[org.apache.spark.util.sketch.BloomFilter]]

  /** Top-level equality conjuncts on bloom-indexed physical columns:
    * `(physCol, candidate values)` — a file is droppable when NO
    * candidate might be contained. */
  private def bloomTargets(p: Expression): Seq[(String, Seq[Any])] = {
    def external(v: Any): Any = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.toString
      case other => other
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    conjuncts(p).flatMap {
      case EqualTo(
          a: AttributeReference, l: Literal)
          if bloom.contains(a.name) && l.value != null =>
        Some(a.name -> Seq(external(l.value)))
      case EqualTo(
          l: Literal, a: AttributeReference)
          if bloom.contains(a.name) && l.value != null =>
        Some(a.name -> Seq(external(l.value)))
      case EqualNullSafe(
          a: AttributeReference, l: Literal)
          if bloom.contains(a.name) && l.value != null =>
        Some(a.name -> Seq(external(l.value)))
      case In(
          a: AttributeReference, vs)
          if bloom.contains(a.name) && vs.nonEmpty &&
            vs.forall(_.isInstanceOf[Literal]) =>
        Some(a.name -> vs.collect {
          case Literal(v, _) if v != null => external(v) })
      case _ => None
    }.filter(_._2.nonEmpty)
  }

  /** `extRoot` is the clone-local sidecar root for files of an
    * INHERITED commit dir: tried when the dir-local sidecar is absent
    * (source never indexed, or dropped its sidecars — the clone may
    * have built its own under `_bloom_ext`). */
  private def bloomKeeps(file: FileStatus, extRoot: Option[String],
      targets: Seq[(String, Seq[Any])]): Boolean =
    targets.forall { case (col, values) =>
      val dir = file.getPath.getParent.toString
      val name = file.getPath.getName
      bloomCache.getOrElseUpdate((s"$dir/$name", col),
        BloomIndex.load(fs, dir, name, col)
          .orElse(extRoot.flatMap(r => BloomIndex.loadAt(fs, r, name, col)))
      ) match {
        case Some(bf) =>
          values.exists(v => BloomIndex.mightContain(bf, bloom(col), v))
        case None => true // unindexed file: keep
      }
    }

  override def rootPaths: Seq[Path] = Seq(new Path(tableDir))
  override def partitionSchema: StructType = StructType(Nil)
  override def refresh(): Unit = () // snapshot semantics: never refreshes

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // stats key on physical names; the planner's filters use logical
    val physPred = dataFilters.reduceOption(And).map(_.transform {
      case a: AttributeReference if mappingMap.contains(a.name) =>
        a.withName(mappingMap(a.name))
    })
    val kept: Seq[(FileStatus, Option[String])] = listed.flatMap {
      case (d, files) =>
        // clone-local sidecar root for inherited dirs (read fallback)
        val ext = if (d.dir.startsWith("../"))
          Some(BloomIndex.extRoot(tableDir, d.dir)) else None
        val survivors = (d.stats, physPred) match {
          case (Some(json), Some(p)) =>
            val perFile = FileStats.parse(json)
            files.filter(f => perFile.get(f.getPath.getName)
              .forall(pf => FileStats.mayMatch(p, physSchema, pf)))
          case _ => files
        }
        survivors.map(f => (f, ext))
    }
    // Bloom pass AFTER min/max pruning: point predicates on indexed
    // columns drop files whose filters rule the value out (sidecars
    // load lazily, survivors only; a missing sidecar keeps its file)
    val bloomed = physPred match {
      case Some(p) if bloom.nonEmpty =>
        val targets = bloomTargets(p)
        if (targets.isEmpty) kept.map(_._1)
        else kept.collect { case (f, ext) if bloomKeeps(f, ext, targets) => f }
      case _ => kept.map(_._1)
    }
    Seq(PartitionDirectory(InternalRow.empty, bloomed.toArray))
  }

  override def inputFiles: Array[String] =
    allFiles.map(_.getPath.toString).toArray

  override def sizeInBytes: Long = allFiles.map(_.getLen).sum
}

object GraftFileIndex {
  /** One dir the index scans: its commit version (-1 for a dir not yet
    * committed), its path relative to the table dir, and the commit's
    * per-file stats when it carries them. */
  final case class Dir(version: Long, dir: String, stats: Option[String])
}

/** [[ParquetFileFormat]] that reads files written under column mapping:
  * the relation's schemas use LOGICAL names, the files use PHYSICAL —
  * this translates `dataSchema`/`requiredSchema` and the pushed
  * filters at the reader boundary and lets stock parquet machinery
  * (vectorized reader, row-group pushdown) do everything else. With an
  * empty mapping it is byte-identical to its parent.
  *
  * `masks` carries any live deletion-vector state as a
  * [[GraftMasks]] descriptor — the masked-file SET plus pointers to the
  * mask parquet; each task resolves its own file's positions on the
  * executor (positions within the immutable file, in row order — the
  * Delta DV shape). While present, masked files become non-splittable
  * and parquet filter pushdown is withheld for MASKED files only — a
  * pushed filter would skip row groups and break position counting;
  * the scan's own Filter node still applies the full predicate above —
  * and columnar batch output is disabled scan-wide (position filtering
  * is per row). Unmasked files in the same scan keep their pushed
  * filters and splittability. */
final class GraftParquetFileFormat(mappingMap: Map[String, String],
    masks: Option[GraftMasks] = None)
    extends ParquetFileFormat {

  private def maskedPaths: Set[String] =
    masks.map(_.maskedPaths).getOrElse(Set.empty)

  /** By value over the mapping and the live masks (their dirs and
    * masked-file set): ParquetFileFormat's own equality is by class,
    * which would let two snapshots with different masks compare equal. */
  private val identity =
    (mappingMap, masks.map(m => (m.maskDirs, m.maskedPaths)))
  override def equals(other: Any): Boolean = other match {
    case o: GraftParquetFileFormat => o.identity == identity
    case _ => false
  }
  override def hashCode: Int = identity.hashCode

  /** Table-relative form (`<commitDir>/<file>.parquet`) of a scan path
    * — the key the mask's `path` column uses. */
  private def relOf(path: String): String =
    path.split('/').takeRight(2).mkString("/")

  private def phys(n: String): String = mappingMap.getOrElse(n, n)
  private def trans(s: StructType): StructType =
    if (mappingMap.isEmpty) s
    else StructType(s.fields.map(f => f.copy(name = phys(f.name))))

  /** sources.Filter attribute names logical -> physical; a shape we
    * don't model is DROPPED (filters here are a row-group-pruning
    * optimization — the scan re-applies the full predicate above). */
  private def transFilter(f: sources.Filter): Option[sources.Filter] =
    if (mappingMap.isEmpty) Some(f)
    else f match {
      case sources.EqualTo(a, v) => Some(sources.EqualTo(phys(a), v))
      case sources.EqualNullSafe(a, v) =>
        Some(sources.EqualNullSafe(phys(a), v))
      case sources.GreaterThan(a, v) =>
        Some(sources.GreaterThan(phys(a), v))
      case sources.GreaterThanOrEqual(a, v) =>
        Some(sources.GreaterThanOrEqual(phys(a), v))
      case sources.LessThan(a, v) => Some(sources.LessThan(phys(a), v))
      case sources.LessThanOrEqual(a, v) =>
        Some(sources.LessThanOrEqual(phys(a), v))
      case sources.In(a, vs) => Some(sources.In(phys(a), vs))
      case sources.IsNull(a) => Some(sources.IsNull(phys(a)))
      case sources.IsNotNull(a) => Some(sources.IsNotNull(phys(a)))
      case sources.StringStartsWith(a, v) =>
        Some(sources.StringStartsWith(phys(a), v))
      case sources.StringEndsWith(a, v) =>
        Some(sources.StringEndsWith(phys(a), v))
      case sources.StringContains(a, v) =>
        Some(sources.StringContains(phys(a), v))
      case sources.And(l, r) => for {
        lt <- transFilter(l); rt <- transFilter(r)
      } yield sources.And(lt, rt)
      case sources.Or(l, r) => for {
        lt <- transFilter(l); rt <- transFilter(r)
      } yield sources.Or(lt, rt)
      case sources.Not(c) => transFilter(c).map(sources.Not)
      case _ => None
    }

  /** A direct file write through the relation (INSERT INTO the catalog
    * table) would drop parquet into the table dir OUTSIDE the commit
    * log — files no reader would ever see. Fail loudly instead. */
  override def prepareWrite(sparkSession: SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String], dataSchema: StructType):
      org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "INSERT INTO a graft table would bypass its commit log; write with " +
        "df.write.format(\"graft\").mode(\"append\").save(<path>) instead")

  /** Masked files must map 1:1 to read tasks so row positions can be
    * counted from zero in file order; unmasked files still split. */
  override def isSplitable(sparkSession: SparkSession,
      options: Map[String, String], path: Path): Boolean =
    !maskedPaths.contains(relOf(path.toString)) &&
      super.isSplitable(sparkSession, options, path)

  /** Columnar batches bypass per-row iteration; while a mask is live
    * the scan returns rows (the vectorized reader still runs
    * underneath — only the batch hand-off is disabled). */
  override def supportBatch(sparkSession: SparkSession,
      schema: StructType): Boolean =
    maskedPaths.isEmpty && super.supportBatch(sparkSession, schema)

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType,
      filters: Seq[sources.Filter], options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration):
      org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[InternalRow] = {
    val withFilters = super.buildReaderWithPartitionValues(sparkSession,
      trans(dataSchema), partitionSchema, trans(requiredSchema),
      filters.flatMap(transFilter(_)), options, hadoopConf)
    masks match {
      case None => withFilters
      case Some(m) =>
        // masked files read with NO pushed filters: predicate pushdown
        // skips row groups, which would desynchronize position counting
        val noFilters = super.buildReaderWithPartitionValues(sparkSession,
          trans(dataSchema), partitionSchema, trans(requiredSchema),
          Nil, options, hadoopConf)
        // the mask reads' conf, shipped once rather than in every task
        val confB = sparkSession.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(hadoopConf))
        file => {
          // mask paths are `<commitDir>/<file>.parquet`, relative to the
          // table dir — recover that suffix from the task's file path
          val rel = file.urlEncodedPath.split('/').takeRight(2)
            .mkString("/")
          if (!m.maskedPaths.contains(rel)) withFilters(file)
          else {
            assert(file.start == 0,
              s"masked graft file $rel arrived as a split; " +
                "isSplitable must return false for masked files")
            // EXECUTOR-side position fetch: only this file's mask rows
            // are read (row-group skipping via the sorted mask layout)
            val dead = m.positionsFor(rel, confB.value.value)
            var idx = -1L
            noFilters(file).filter { _ => idx += 1; !dead.contains(idx) }
          }
        }
    }
  }

  override def toString: String = "GraftParquet"
}
