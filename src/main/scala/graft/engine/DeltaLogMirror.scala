package graft.engine

import java.nio.charset.StandardCharsets
import java.util.UUID

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.StatsWrite
import org.apache.spark.sql.types.StructType

/** Write-side mirror of the sink's commit log as a `_delta_log/`
  * directory per the PUBLIC Delta Lake transaction protocol
  * (https://github.com/delta-io/delta/blob/master/PROTOCOL.md): one
  * `<version zero-padded to 20>.json` per sink version, each a sequence
  * of single-line JSON actions — `protocol` + `metaData` in commit 0
  * (and `metaData` again on schema change), `add` with Delta-shape
  * per-file `stats` for the commit's data files, `remove` for files a
  * rewrite (delete/merge/compact) supersedes, plus a `commitInfo`. A
  * Delta-capable reader (or DuckDB's delta extension) can open the
  * table without any of this repo's code — the last interop gap of the
  * `VersionedParquetSink`, closed WRITE-side only (no Delta jars exist
  * in this environment to read it back; the protocol doc is the spec).
  *
  * The mirror is SELF-HEALING and best-effort: after every successful
  * marker claim, [[sync]] writes every log version not yet on disk (so
  * a writer that crashed between marker and mirror leaves a gap that
  * the NEXT commit fills — Delta readers require contiguous versions),
  * and a mirror IO failure never fails the already-durable commit.
  * Concurrent mirrors of the same version race benignly: the loser's
  * rename fails against an identical file.
  *
  * '''Deletion vectors / merge-on-read updates''': the basic protocol
  * (reader v1) cannot express the sink's positional masks, so while an
  * UNMATERIALIZED mask commit (DV delete or `updateVectored`) is live
  * the mirror LAGS — it stops just before the first live mask version, and
  * an external reader sees the newest expressible snapshot (stale but
  * consistent, exactly like a reader pinned at an older version). Once a
  * compact/delete/merge materializes the masks, the retired DV versions
  * are backfilled as commitInfo-only placeholders (keeping the version
  * chain contiguous, as Delta readers require) and the rewrite's
  * remove+add restores the mirror to the true latest snapshot. The one
  * caveat is documented, not silent: TIME TRAVEL into a placeholder
  * version shows the pre-delete rows.
  *
  * '''Checkpoints''': every [[CheckpointInterval]] mirrored versions the
  * mirror also writes a single-file parquet checkpoint plus
  * `_last_checkpoint` (see [[maybeCheckpoint]]), so an external reader
  * of a long history replays O(interval) JSON commits past the
  * checkpoint instead of O(versions) from zero.
  */
object DeltaLogMirror {

  private val mapper = new ObjectMapper()

  /** Delta's own default: a parquet checkpoint every 10 commits. */
  private[engine] val CheckpointInterval = 10

  /** Stable Delta table id, derived from the table path (the protocol
    * wants one id for the table's lifetime; a name-based UUID gives
    * that without storing anything). */
  private def tableId(tableDir: String): String =
    UUID.nameUUIDFromBytes(tableDir.getBytes(StandardCharsets.UTF_8)).toString

  private def logName(v: Long): String = f"$v%020d.json"

  /** Mirror every not-yet-mirrored version of `snap` into
    * `<tableDir>/_delta_log/`. Never throws. */
  def sync(spark: SparkSession, tableDir: String, snap: Snapshot): Unit =
    try {
      if (snap.isEmpty) return
      val logDir = new Path(s"$tableDir/_delta_log")
      val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(logDir)
      val existing: Set[String] = fs.listStatus(logDir).toSeq
        .map(_.getPath.getName).filter(_.endsWith(".json")).toSet
      // lag while an unmaterialized DV is live: everything from the first
      // live DV on is inexpressible until a rewrite materializes it
      val mirrorable = snap.live.filter(_.isMergeOnRead)
        .map(_.version).minOption.fold(snap)(dv => snap.upTo(dv - 1))
      mirrorable.entries
        .filterNot(e => existing.contains(logName(e.version)))
        .foreach { e =>
          val body = renderVersion(spark, tableDir, snap, e)
          val tmp = new Path(s"$tableDir/_delta_log/.tmp-${UUID.randomUUID()}")
          val out = fs.create(tmp, true)
          try out.write(body.getBytes(StandardCharsets.UTF_8))
          finally out.close()
          if (!fs.rename(tmp, new Path(logDir, logName(e.version))))
            fs.delete(tmp, false) // a racer mirrored the same version
        }
      maybeCheckpoint(spark, tableDir, mirrorable)
    } catch {
      case e: Exception =>
        // the sink's OWN log is already durable; the mirror heals on the
        // next commit — interop must never fail a committed write
        System.err.println(s"[delta-log-mirror] sync of $tableDir failed " +
          s"(will heal on next commit): ${e.getMessage}")
    }

  private def renderVersion(spark: SparkSession, tableDir: String,
      snap: Snapshot, e: Commit): String = {
    val fs = new Path(tableDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val upTo = snap.upTo(e.version)
    val prev = snap.upTo(e.version - 1)
    val ts = e.ts.getOrElse(System.currentTimeMillis())
    val lines = Seq.newBuilder[String]

    // commitInfo first (Delta writes it first by convention)
    lines += {
      val ci = mapper.createObjectNode()
      val n = ci.putObject("commitInfo")
      n.put("timestamp", ts)
      n.put("operation", e.op.map(_.toUpperCase).getOrElse("WRITE"))
      n.putObject("operationParameters")
      n.put("engineInfo", "graft-versioned-parquet-sink")
      mapper.writeValueAsString(ci)
    }

    val prevWriter = (2 +: prev.entries.map(writerVersion)).max
    val prevReader = (1 +: prev.entries.map(readerVersion)).max
    if (e.version == 0L || writerVersion(e) > prevWriter ||
        readerVersion(e) > prevReader) {
      val p = mapper.createObjectNode()
      val n = p.putObject("protocol")
      n.put("minReaderVersion", math.max(prevReader, readerVersion(e)))
      n.put("minWriterVersion", math.max(prevWriter, writerVersion(e)))
      lines += mapper.writeValueAsString(p)
    }

    // metaData in commit 0 and whenever the schema OR the constraint set
    // changed — the schemaString is StructType.json, which IS Delta's
    // schema format, and CHECK constraints live in `configuration` as
    // `delta.constraints.<name>` per the protocol
    // change detection runs on the nullable-normalized form the mirror
    // actually emits: marker DDLs flip NOT NULL as writers alternate
    // between case-class appends and snapshot rewrites, and those flips
    // are not schema changes
    // under column mapping, every field carries its physical name and
    // id as field metadata, exactly as the protocol's `name` mode
    // spells it
    def normSchema(ddl: String): String =
      mirroredSchemaJson(ddl, e.mapping, e.generated, e.props)
    val prevDdl = prev.schemaDdl
    val consChanged = e.constraints != prev.constraints
    val mapChanged = e.mapping != prev.mapping
    val genChanged = e.generated != prev.generated
    // identity props re-emit metaData whenever a declaration appears or
    // a high water advances — Delta updates the field metadata per
    // identity transaction the same way
    val identChanged = identityProps(e.props) != identityProps(prev.props)
    if (e.version == 0L || consChanged || mapChanged || genChanged ||
        identChanged ||
        (e.schemaDdl.isDefined &&
          e.schemaDdl.map(normSchema) != prevDdl.map(normSchema))) {
      e.schemaDdl.foreach { ddl =>
        val m = mapper.createObjectNode()
        m.set[com.fasterxml.jackson.databind.node.ObjectNode]("metaData",
          metaDataNode(tableDir, e, ddl, upTo.entries.head.ts.getOrElse(ts)))
        lines += mapper.writeValueAsString(m)
      }
    }

    // remove: files a rewrite supersedes = dirs live before this commit
    // but not after it (appends supersede nothing). A selective fold
    // (OPTIMIZE WHERE, replaces.nonEmpty) supersedes exactly its
    // replaced dirs — the same before/after diff covers it.
    if (e.compacts.isDefined || e.replaces.nonEmpty) {
      // DV dirs hold mask positions, never mirrored as data — they must
      // not appear as removes (they were never adds)
      val before = prev.live.filterNot(_.isMergeOnRead).map(_.dir).toSet
      val after = upTo.live.filterNot(_.isMergeOnRead).map(_.dir).toSet
      (before -- after).toSeq.sorted.foreach { dir =>
        parquetFiles(fs, VersionedParquetSink.resolveDir(tableDir, dir))
            .foreach { st =>
          val r = mapper.createObjectNode()
          val n = r.putObject("remove")
          n.put("path", actionPath(fs, dir, st))
          n.put("deletionTimestamp", ts)
          n.put("dataChange", true)
          lines += mapper.writeValueAsString(r)
        }
      }
    }

    // add: this commit's own data files, with Delta-shape stats when the
    // marker carries them. A retired DV version (reachable only as a
    // backfilled placeholder once a rewrite materialized it) contributes
    // NO add: its dir is a positional mask, not table data, and its
    // effect lives in the materializing rewrite's remove+add.
    if (!e.isMergeOnRead) {
      val statsByFile: Map[String, String] = e.stats.map { json =>
        import scala.jdk.CollectionConverters._
        mapper.readTree(json).properties().asScala
          .map(p => p.getKey -> p.getValue.toString).toMap
      }.getOrElse(Map.empty)
      parquetFiles(fs, VersionedParquetSink.resolveDir(tableDir, e.dir))
          .foreach { st =>
        val a = mapper.createObjectNode()
        val n = a.putObject("add")
        n.put("path", actionPath(fs, e.dir, st))
        n.putObject("partitionValues")
        n.put("size", st.getLen)
        n.put("modificationTime", st.getModificationTime)
        n.put("dataChange", true)
        statsByFile.get(st.getPath.getName).foreach(n.put("stats", _))
        lines += mapper.writeValueAsString(a)
      }
    }

    lines.result().mkString("", "\n", "\n")
  }

  // Features raise the required protocol versions (PROTOCOL.md):
  // CHECK constraints need writer 3; generated columns writer 4;
  // column mapping reader 2 + writer 5. The protocol action is
  // (re-)emitted whenever a requirement grows — at commit 0, on the
  // first ADD CONSTRAINT / generated declaration / RENAME-DROP COLUMN.
  // Protocol never downgrades.
  private def writerVersion(c: Commit): Int =
    if (identityProps(c.props).nonEmpty) 6 // identity columns: writer 6
    else if (c.mapping.isDefined) 5
    else if (c.generated.isDefined) 4
    else if (c.constraints.isDefined) 3 else 2
  private def readerVersion(c: Commit): Int = if (c.mapping.isDefined) 2 else 1

  /** Identity declarations from the marker's TBLPROPERTIES payload:
    * column -> (start, step, highWater) — the sink's shared
    * `graft.identity.<col>` codec (one parser, zero drift). */
  private def identityProps(
      propsJson: Option[String]): Map[String, (Long, Long, Long)] =
    VersionedParquetSink.identityDecls(
      VersionedParquetSink.Constraints.parse(propsJson).toMap)

  /** The schema exactly as the mirror publishes it: nullable-normalized
    * (marker DDLs flip NOT NULL as writers alternate between case-class
    * appends and snapshot rewrites; those flips are not schema changes),
    * with column-mapping physical names/ids and generation expressions
    * as field metadata, per the protocol's `name` mode. */
  private def mirroredSchemaJson(ddl: String, mappingJson: Option[String],
      generatedJson: Option[String],
      propsJson: Option[String] = None): String = {
    val mapping = VersionedParquetSink.ColumnMapping.parse(mappingJson)
    val gens = VersionedParquetSink.Constraints.parse(generatedJson)
    val idents = identityProps(propsJson)
    StructType(StructType.fromDDL(ddl).fields.map { f0 =>
      val f = f0.copy(nullable = true)
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      mapping.find(_._1 == f.name).foreach { case (_, me) =>
        mb.putLong("delta.columnMapping.id", me.id.toLong)
        mb.putString("delta.columnMapping.physicalName", me.physical)
      }
      gens.find(_._1 == f.name).foreach { case (_, sql) =>
        mb.putString("delta.generationExpression", sql)
      }
      // GENERATED ALWAYS AS IDENTITY, in the protocol's own field
      // metadata keys — an external Delta reader sees the column's
      // identity contract (and the current high water) instead of a
      // plain BIGINT
      idents.get(f.name).foreach { case (start, step, hw) =>
        mb.putLong("delta.identity.start", start)
        mb.putLong("delta.identity.step", step)
        mb.putLong("delta.identity.highWaterMark", hw)
        mb.putBoolean("delta.identity.allowExplicitInsert", false)
      }
      f.copy(metadata = mb.build())
    }).json
  }

  /** The `metaData` action body for commit `e` (shared between the JSON
    * commit files and the parquet checkpoint). */
  private def metaDataNode(tableDir: String, e: Commit, ddl: String,
      createdTime: Long): com.fasterxml.jackson.databind.node.ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("id", tableId(tableDir))
    val fmt = n.putObject("format")
    fmt.put("provider", "parquet")
    fmt.putObject("options")
    n.put("schemaString",
      mirroredSchemaJson(ddl, e.mapping, e.generated, e.props))
    n.putArray("partitionColumns")
    val conf = n.putObject("configuration")
    VersionedParquetSink.Constraints.parse(e.constraints).foreach {
      case (name, sql) => conf.put(s"delta.constraints.$name", sql)
    }
    val mapping = VersionedParquetSink.ColumnMapping.parse(e.mapping)
    if (mapping.nonEmpty) {
      conf.put("delta.columnMapping.mode", "name")
      conf.put("delta.columnMapping.maxColumnId",
        mapping.map(_._2.id).max.toLong)
    }
    // createdTime is the TABLE's creation time — pinned to commit 0
    // across re-emissions, as Delta keeps it
    n.put("createdTime", createdTime)
    n
  }

  /** Write a parquet checkpoint + `_last_checkpoint` once every
    * [[CheckpointInterval]] mirrored versions, per the protocol's
    * checkpoint spec: a single `<v>.checkpoint.parquet` holding the
    * reconstructed state at `v` — one `protocol` row, one `metaData`
    * row, an `add` row per live data file (dataChange=false, stats
    * carried), and a `remove` tombstone per superseded file still on
    * disk (vacuum coordination; vacuumed files need no tombstone) — so
    * an external Delta reader opens long histories from the checkpoint
    * + the few JSON commits past it instead of replaying O(versions)
    * JSON. Idempotent and race-benign like the JSON mirror: an existing
    * checkpoint file is never rewritten. */
  private def maybeCheckpoint(spark: SparkSession, tableDir: String,
      mirrorable: Snapshot): Unit = {
    val latest = mirrorable.version
    val due = latest - latest % CheckpointInterval
    if (due <= 0) return
    val logDir = new Path(s"$tableDir/_delta_log")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ckPath = new Path(logDir, f"$due%020d.checkpoint.parquet")
    if (fs.exists(ckPath)) return
    val upTo = mirrorable.upTo(due)

    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val addType = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType)))
    val removeType = StructType(Seq(
      StructField("path", StringType),
      StructField("deletionTimestamp", LongType),
      StructField("dataChange", BooleanType)))
    val metaType = StructType(Seq(
      StructField("id", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType),
        StructField("options", MapType(StringType, StringType))))),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType)))
    val txnType = StructType(Seq(
      StructField("appId", StringType), StructField("version", LongType)))
    val ckSchema = StructType(Seq(
      StructField("txn", txnType), StructField("add", addType),
      StructField("remove", removeType), StructField("metaData", metaType),
      StructField("protocol", protoType)))
    def row(txn: Row = null, add: Row = null, remove: Row = null,
        meta: Row = null, proto: Row = null): Row =
      Row(txn, add, remove, meta, proto)

    val rows = Seq.newBuilder[Row]
    rows += row(proto = Row((1 +: upTo.entries.map(readerVersion)).max,
      (2 +: upTo.entries.map(writerVersion)).max))

    // metaData: the state at `due` = latest schema DDL with the latest
    // commit's constraint/mapping/generated configuration
    val last = upTo.entries.last
    val lastDdl = upTo.entries.reverse.flatMap(_.schemaDdl).headOption
    lastDdl.foreach { ddl =>
      val confMap = Seq.newBuilder[(String, String)]
      VersionedParquetSink.Constraints.parse(last.constraints).foreach {
        case (name, sql) => confMap += s"delta.constraints.$name" -> sql
      }
      val mapping = VersionedParquetSink.ColumnMapping.parse(last.mapping)
      if (mapping.nonEmpty) {
        confMap += "delta.columnMapping.mode" -> "name"
        confMap +=
          "delta.columnMapping.maxColumnId" ->
            mapping.map(_._2.id).max.toString
      }
      rows += row(meta = Row(tableId(tableDir), Row("parquet", Map.empty),
        mirroredSchemaJson(ddl, last.mapping, last.generated, last.props),
        Seq.empty[String], confMap.result().toMap,
        upTo.entries.head.ts.getOrElse(last.ts.getOrElse(0L))))
    }

    val dataEntries = upTo.entries.filterNot(_.isMergeOnRead)
    val liveNow = upTo.live.filterNot(_.isMergeOnRead)
    liveNow.foreach { e =>
      val statsByFile: Map[String, String] = e.stats.map { json =>
        import scala.jdk.CollectionConverters._
        mapper.readTree(json).properties().asScala
          .map(p => p.getKey -> p.getValue.toString).toMap
      }.getOrElse(Map.empty)
      parquetFiles(fs, VersionedParquetSink.resolveDir(tableDir, e.dir))
          .foreach { st =>
        rows += row(add = Row(actionPath(fs, e.dir, st),
          Map.empty[String, String], st.getLen, st.getModificationTime,
          false, statsByFile.get(st.getPath.getName).orNull))
      }
    }
    val liveDirs = liveNow.map(_.dir).toSet
    val removedAt: Map[String, Long] = dataEntries.map(_.dir)
      .filterNot(liveDirs).distinct.flatMap { dir =>
        // deletionTimestamp = the first rewrite (full compaction or
        // selective fold) that dropped it
        upTo.entries.find(c =>
          (c.compacts.exists(_ >= 0) || c.replaces.nonEmpty) &&
            !upTo.upTo(c.version).live.exists(_.dir == dir))
          .flatMap(_.ts).map(dir -> _)
      }.toMap
    dataEntries.map(_.dir).filterNot(liveDirs).distinct.foreach { dir =>
      parquetFiles(fs, VersionedParquetSink.resolveDir(tableDir, dir))
          .foreach { st =>
        rows += row(remove = Row(actionPath(fs, dir, st),
          removedAt.getOrElse(dir, last.ts.getOrElse(0L)), false))
      }
    }

    val built = rows.result()
    val tmpDir = s"$tableDir/_delta_log/.ck-tmp-${UUID.randomUUID()}"
    StatsWrite.write(spark.createDataFrame(
      spark.sparkContext.parallelize(built, 1), ckSchema).coalesce(1), tmpDir)
    val part = fs.listStatus(new Path(tmpDir)).toSeq
      .find(st => st.isFile && st.getPath.getName.startsWith("part-") &&
        st.getPath.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"no part file in checkpoint staging dir $tmpDir"))
    if (!fs.rename(part.getPath, ckPath)) {
      fs.delete(new Path(tmpDir), true) // a racer checkpointed first
      return
    }
    fs.delete(new Path(tmpDir), true)
    // _last_checkpoint is overwritten in place (the Delta recipe: it is
    // advisory — a torn read just means the reader lists the log). A
    // racing checkpointer that lost the rename above may still reach
    // here for an OLDER version; the monotonic guard below filters the
    // common case, but the read-then-write is not atomic, so two racers
    // (v6 and v7, both reading prior=5) can still interleave such that
    // the pointer transiently regresses one racer's version. Harmless:
    // both checkpoint FILES exist, and readers treat the pointer as a
    // hint — a stale pointer only costs them listing a few extra log
    // entries past it.
    val lcPath = new Path(logDir, "_last_checkpoint")
    val prior: Long =
      if (!fs.exists(lcPath)) -1L
      else try {
        val in = fs.open(lcPath)
        try Option(mapper.readTree(in).get("version"))
          .filter(_.isIntegralNumber).fold(-1L)(_.asLong)
        finally in.close()
      } catch { case scala.util.control.NonFatal(_) => -1L }
    if (due <= prior) return
    val lc = s"""{"version":$due,"size":${built.length}}"""
    val out = fs.create(lcPath, true)
    try out.write(lc.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Delta add/remove `path` for a file of commit dir `dir`: the
    * relative `<dir>/<file>` for table-local dirs; an absolute
    * qualified URI for `../`-escaping (shallow-clone) dirs — the Delta
    * spec allows absolute paths in actions, and Delta's own shallow
    * clones emit them for exactly this cross-table reference. */
  private def actionPath(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      st: org.apache.hadoop.fs.FileStatus): String =
    if (!dir.startsWith("../")) s"$dir/${st.getPath.getName}"
    else fs.makeQualified(st.getPath).toUri.toString

  private def parquetFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
  }
}
