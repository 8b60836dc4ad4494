package graft.engine

import java.nio.charset.StandardCharsets
import java.util.{Base64, UUID}
import java.util.concurrent.{CompletableFuture, CompletionException,
  ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.graft.StatsWrite
import org.apache.spark.sql.types.StructType

/** Append-only table with a checkpointed commit log — the Delta-semantics
  * the reference actually relies on (ACID append + "time travel",
  * README.md:12), on plain parquet.
  *
  * Layout per table:
  * {{{
  *   <base>/<table>/d-<uuid>/part-*.parquet     unique dir per append attempt
  *   <base>/<table>/_commits/                   the commit log ([[TableLog]])
  * }}}
  *
  * Protocol (the same shape as Delta's log):
  *  1. write the data files into a UNIQUE directory — concurrent writers
  *     can never clobber each other's files;
  *  2. claim the next version number by publishing the fully written
  *     marker ([[TableLog.claim]]); the marker ([[Commit]]) names the data
  *     directory and carries the commit's schema and optional idempotency
  *     key. A loser of the race re-reads the log and re-claims the next
  *     number — its data files are already safely in place — unless the
  *     claim's conflict rule (Append, Rewrite or Fold: the table in
  *     [[commitLoop]]) says a commit that landed in between aborts it.
  *
  * A version is visible iff its marker exists, so readers never see a
  * half-written append, and a writer that dies before committing leaves
  * only an invisible orphan directory. Each operation reads the log once
  * into a [[Snapshot]] and derives everything it checks from it.
  *
  * '''Checkpointing''' (the O(commits) fix): every `checkpointInterval`
  * commits the writer snapshots the whole log into `<n>.checkpoint` (one
  * marker body per line), so a log read is ONE directory listing + ONE
  * checkpoint read + the markers newer than the checkpoint. Markers stay
  * unless [[vacuumLog]] retires checkpointed ones, and the checkpoint
  * keeps their bodies, so `versions()`/time travel see full history.
  *
  * '''Schema enforcement''': an append whose schema differs from the
  * table's current schema (names + types, nullability ignored — an
  * append is always allowed to be stricter) fails loudly BEFORE any data
  * is written, mirroring Delta's append-mode check that the reference
  * depends on (write_deltalake mode='append', collector.py:219-226).
  *
  * '''Compaction''' ([[compact]]): folds every live data directory into
  * one new directory committed as the next version — the OPTIMIZE
  * operation a streaming deployment needs once foreachBatch has appended
  * thousands of one-file micro-batch dirs. Pre-compaction versions keep
  * their markers and data, so time travel to them still works; readers at
  * or after the compaction version scan only the compacted directory plus
  * any appends that raced past it.
  *
  * '''Merge-on-read DML''' ([[deleteVectored]] / [[deleteMatchingVectored]]
  * / [[updateVectored]]): Delta's deletion-vector shape — DELETE/UPDATE
  * commit positional masks (and, for UPDATE, the updated row images)
  * instead of rewriting data files, so small DML on a huge table writes
  * kilobytes; every read applies the live masks inside its file scan
  * and the next compact/delete/merge materializes them back into plain
  * files. The copy-on-write forms ([[delete]] / [[deleteMatching]] /
  * [[merge]]) remain for read-heavy tables where masked files (read
  * unsplit, without parquet filter pushdown) aren't wanted.
  *
  * '''Reads''' ([[read]], [[readAt]], [[readWhere]], `format("graft")`,
  * streaming, the change feed, the selective fold) all go through
  * [[GraftRelation]]: the file list comes from the log, never from a
  * directory listing of the table.
  */
final class VersionedParquetSink(basePath: String,
    checkpointInterval: Int = 10,
    // the store's publish-if-absent primitive (see [[CommitCoordinator]]);
    // swap for a conditional-PUT implementation on object stores whose
    // rename is not atomic-no-replace
    coordinator: CommitCoordinator = RenameCommitCoordinator)
    extends TableSink {
  import VersionedParquetSink.{Append, Conflict, Fold, Pin, Rewrite}
  require(checkpointInterval >= 1, "checkpointInterval must be >= 1")

  private def tableDir(table: String) = s"$basePath/$table"
  private def log(spark: SparkSession, table: String) =
    new TableLog(spark, tableDir(table), table)
  private def readLog(spark: SparkSession, table: String): Snapshot =
    log(spark, table).snapshot()

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readSmallFile(spark: SparkSession, p: String): String = {
    val in = fs(spark, p).open(new Path(p))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Committed version numbers, ascending — full history through the
    * log (checkpoint lines + newer markers), so it stays complete even
    * after [[vacuumLog]] retires checkpointed marker files. */
  def versions(spark: SparkSession, table: String): Seq[Long] =
    readLog(spark, table).entries.map(_.version)

  /** Log retention (Delta's `delta.logRetentionDuration` shape):
    * deletes commit-marker files already SNAPSHOTTED by a checkpoint
    * (and superseded older checkpoints) once they age past
    * `olderThanMs`. Safe by construction: a log read takes every
    * version at or below the newest checkpoint FROM the checkpoint
    * (never from its marker file), and checkpoint lines carry the FULL
    * marker bodies — so time travel, keyed replay dedup, history, and
    * clones are all unaffected; the only change is that the `_commits`
    * listing stays O(interval + recent) instead of O(all versions
    * ever). Opt-in via the `graft.logRetentionDuration` TBLPROPERTIES
    * (honored by [[vacuum]]) or direct call. Returns files deleted. */
  def vacuumLog(spark: SparkSession, table: String,
      olderThanMs: Long): Int =
    retireLog(spark, readLog(spark, table), olderThanMs)

  private def retireLog(spark: SparkSession, snap: Snapshot,
      olderThanMs: Long): Int = {
    if (snap.isEmpty) return 0
    // ENFORCED deployment rule (was prose in the claim loop until r13):
    // the phantom-claim guard distinguishes "my fresh marker is
    // lag-hidden" from "I re-minted a vacuumed version" by the
    // checkpoint horizon, which is only sound when every marker
    // outlives the store's worst-case LIST lag — retiring markers
    // younger than the lag re-opens the silent-commit-loss window the
    // object-store emulation caught in r12. Refuse, loudly, instead of
    // letting a mis-set retention disarm the guard.
    val lagBound = storeMaxListLagMs(spark, snap)
    if (olderThanMs < lagBound)
      throw new IllegalArgumentException(
        s"vacuumLog(olderThanMs=${olderThanMs}ms) on '${snap.table}' is " +
          s"below the declared store LIST lag (graft.store.maxListLag=" +
          s"${lagBound}ms): markers must outlive the lag or a stale " +
          "writer can re-mint a vacuumed version as a commit that " +
          "log reads permanently filter out (silent loss). Raise " +
          "graft.logRetentionDuration / the olderThanMs argument, or " +
          "lower graft.store.maxListLag if the store is stronger.")
    log(spark, snap.table).retire(olderThanMs)
  }

  def latestVersion(spark: SparkSession, table: String): Option[Long] =
    readLog(spark, table).latest.map(_.version)

  override def append(df: DataFrame, table: String): Unit =
    doAppend(df, table, commitKey = None)

  /** Append with opt-in schema evolution (Delta's `mergeSchema` parity):
    * the incoming frame may ADD columns; every existing column must keep
    * its name and type. Earlier versions read the new columns as null —
    * including through time travel. */
  def append(df: DataFrame, table: String, allowEvolution: Boolean): Unit =
    doAppend(df, table, commitKey = None, allowEvolution = allowEvolution)

  /** Idempotent keyed append: if any committed marker carries this key,
    * the append is a no-op — the exactly-once contract for replayed
    * streaming micro-batches. The key check re-runs after losing a
    * version race, so two replicas replaying the same batch commit once.
    * Keys live in the manifest (markers + checkpoints), so dedup
    * survives checkpointing and compaction. */
  override def appendOnce(df: DataFrame, table: String,
      commitKey: String): Boolean =
    doAppend(df, table, Some(commitKey))

  /** Keyed append with opt-in schema evolution — the combination a
    * long-lived exactly-once ingest needs when its own bookkeeping
    * schema grows a column (see streaming/Rebalance's counts log). */
  def appendOnce(df: DataFrame, table: String, commitKey: String,
      allowEvolution: Boolean): Boolean =
    doAppend(df, table, Some(commitKey), allowEvolution = allowEvolution)

  private def doAppend(df: DataFrame, table: String,
      commitKey: Option[String], allowEvolution: Boolean = false,
      initialProps: Option[Map[String, String]] = None,
      first: Option[Snapshot] = None): Boolean = {
    val spark = df.sparkSession
    var attempt = 0
    var reuse = first // the caller's read serves the first attempt
    while (true) {
      val snap = reuse.getOrElse(readLog(spark, table))
      reuse = None
      if (commitKey.flatMap(snap.versionOf).isDefined) return false
      // TBLPROPERTIES from the caller's snapshot: autoCompact/bloom are
      // steady-state behaviors, one commit of enablement lag is fine and
      // saves re-reading the log on every append
      val props =
        if (snap.props.isDefined) snap.properties
        else initialProps.getOrElse(Map.empty[String, String])
      val idents = VersionedParquetSink.identityDecls(props)
      val (staged, pins, newProps) =
        if (idents.isEmpty)
          (stageAppend(df, snap, allowEvolution), Map.empty[Pin, Option[String]],
            initialProps.flatMap(p =>
              VersionedParquetSink.Constraints.render(p.toSeq)))
        else {
          val (staged, decls) = stageIdentity(df, snap, idents, allowEvolution)
          // identity allocation pins the PROPS payload (which carries the
          // high waters): another allocation or SET TBLPROPERTIES aborts
          // the claim and the whole allocation retries from the fresh
          // high waters (Delta serializes identity transactions the same
          // way); compactions and plain appends sail through, so identity
          // appends stay live under maintenance churn
          (staged, Map[Pin, Option[String]](Pin.Props -> snap.props),
            VersionedParquetSink.Constraints.render((props ++ decls).toSeq))
        }
      try {
        val committed = claimStaged(spark, snap, staged, commitKey,
          allowEvolution, pins = pins, props = newProps).isDefined
        if (committed) {
          maybeAutoCompact(spark, table, props)
          maybeBloom(spark, table, props)
        }
        return committed
      } catch {
        case _: VersionedParquetSink.ConcurrentRewriteException =>
          attempt += 1
          if (attempt >= 20) throw new IllegalStateException(
            s"identity append to '$table' lost $attempt allocation " +
              "races; giving up")
          Thread.sleep(math.min(50L * attempt, 500L)) // contention backoff
        // loop: re-read the log and re-allocate
      }
    }
    false // unreachable
  }

  /** Stage an append to an identity table: stamp each identity column
    * from its declared high water, stage, and derive the new high waters
    * (the `graft.identity.*` props the claim commits). */
  private def stageIdentity(df: DataFrame, snap: Snapshot,
      idents: Map[String, (Long, Long, Long)], allowEvolution: Boolean):
      (VersionedParquetSink.Staged, Map[String, String]) = {
    val spark = df.sparkSession
    val table = snap.table
    // ALWAYS semantics: a writer may not supply values. SQL INSERT
    // with an explicit column list arrives with the identity column
    // auto-filled NULL — indistinguishable from "not supplied", so an
    // all-null column is dropped and allocated; any non-null value is
    // rejected (Delta's rule).
    val cleaned = idents.keys.foldLeft(df) { (d, c) =>
      if (!d.columns.contains(c)) d
      else {
        require(d.filter(col(c).isNotNull).isEmpty,
          s"column '$c' of '$table' is GENERATED ALWAYS AS IDENTITY — " +
            "writers may not supply it")
        d.drop(c)
      }
    }
    import org.apache.spark.sql.functions.monotonically_increasing_id
    val stamped = idents.foldLeft(cleaned) { case (d, (c, (_, step, hw))) =>
      d.withColumn(c, (monotonically_increasing_id() + 1L) * step + hw)
    }
    val staged = stageAppend(stamped, snap, allowEvolution)
    // new high waters from the commit's OWN per-file stats (the
    // extreme in the increment's direction) — no extra pass; an
    // empty batch leaves them unchanged. Stats cover only the first
    // FileStats.MaxStatsColumns eligible columns, so on a wide table
    // the identity column can be OUTSIDE the stats set — in that case
    // the extreme is derived directly from the staged files (one
    // single-column agg), and the append FAILS rather than commit a
    // high water it could not advance: a stale high water mints
    // duplicate identity values on the next append, violating the
    // GENERATED ALWAYS AS IDENTITY uniqueness contract.
    val mapping = VersionedParquetSink.ColumnMapping.parse(snap.mapping)
    val perFile = FileStats.parse(staged.statsJson)
    val stagedRows = perFile.values.map(_.numRecords).sum
    val newDecls = idents.map { case (c, (s0, step, hw)) =>
      val phys =
        VersionedParquetSink.ColumnMapping.physicalName(mapping, c)
      val extremes = perFile.values.flatMap(pf =>
        (if (step > 0) pf.maxV else pf.minV).get(phys)).map(_.asLong)
      val ext: Seq[Long] =
        if (extremes.nonEmpty || stagedRows == 0L) extremes.toSeq
        else {
          val r = scanStaged(spark, table, staged.unique, StructType(Seq(
              StructType.fromDDL(staged.schemaDdl)(c).copy(name = phys))))
            .agg((if (step > 0)
              org.apache.spark.sql.functions.max(col(phys))
            else org.apache.spark.sql.functions.min(col(phys)))
              .cast("long")).head()
          if (r.isNullAt(0)) throw new IllegalStateException(
            s"cannot derive the identity high water for column '$c' " +
              s"of '$table': the staged commit has $stagedRows rows " +
              "but no stamped extreme — refusing to commit a stale " +
              "high water (it would mint duplicate identity values)")
          Seq(r.getLong(0))
        }
      val nhw = if (ext.isEmpty) hw
        else if (step > 0) math.max(hw, ext.max)
        else math.min(hw, ext.min)
      s"graft.identity.$c" -> s"$s0:$step:$nhw"
    }
    (staged, newDecls)
  }

  /** GENERATE symlink_format_manifest (Delta parity): writes
    * `_symlink_format_manifest/manifest` under the table dir — one
    * absolute data-file URI per line for the CURRENT snapshot, the
    * format Presto/Trino/Athena external tables consume. Atomic
    * (temp-write + rename), so concurrent readers see the old or the
    * new manifest, never a torn one. Refused while live deletion
    * vectors / merge-on-read masks exist (an external reader cannot
    * apply them — serving the unmasked files would resurrect deleted
    * rows; run [[reorgPurge]] first), exactly Delta's rule. Driver-side
    * O(live files) listing; returns the file count. */
  def generateManifest(spark: SparkSession, table: String): Int = {
    val snap = readLog(spark, table)
    require(snap.nonEmpty, s"no committed versions for $table")
    val live = snap.live
    val masked = live.filter(_.isMergeOnRead)
    require(masked.isEmpty,
      s"cannot generate a symlink manifest for '$table': live deletion-" +
        s"vector commit(s) ${masked.map(e => s"v${e.version}").mkString(", ")}" +
        " — an external reader cannot apply row masks; run REORG APPLY " +
        "(PURGE) first")
    val f = fs(spark, tableDir(table))
    val files = live.filterNot(_.isDv).flatMap { e =>
      val p = new Path(
        VersionedParquetSink.resolveDir(tableDir(table), e.dir))
      if (!f.exists(p)) Nil
      else f.listStatus(p).toSeq.filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(st => f.makeQualified(st.getPath).toUri.toString)
    }.sorted
    val dir = new Path(tableDir(table), "_symlink_format_manifest")
    f.mkdirs(dir)
    val tmp = new Path(dir, s".manifest.tmp-${UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(files.mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val target = new Path(dir, "manifest")
    // Overwriting rename (FileContext supports Rename.OVERWRITE where
    // plain FileSystem.rename does not): readers see the old manifest
    // or the new one — never an ENOENT window, and a crash mid-publish
    // leaves the previous manifest intact. Falls back to delete+rename
    // only on stores whose FileContext cannot overwrite.
    // fallback catches IOException too: stores with no AbstractFileSystem
    // binding throw UnsupportedFileSystemException (an IOException) from
    // getFileContext, and a transient rename failure should still try
    // the plain path rather than leak the tmp file
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        f.makeQualified(dir).toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(f.makeQualified(tmp), f.makeQualified(target),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        f.delete(target, false)
        if (!f.rename(tmp, target)) {
          f.delete(tmp, false)
          throw new IllegalStateException(
            s"failed to publish symlink manifest for '$table'")
        }
    }
    files.size
  }

  /** COPY INTO (Delta parity): idempotent FILE-granular bulk load from
    * a directory of parquet files into an EXISTING table. Each source
    * file is identified as `uri@mtime:length`; identities recorded by
    * an earlier COPY ride the commit marker itself (`copiedB64`), so a
    * re-run loads only the new files and a crash-replay never
    * double-loads — the ledger and the rows land in ONE atomic commit.
    * All write governance applies (schema check, CHECK constraints,
    * generated columns, optimizeWrite shaping, bloom indexing).
    * Concurrency: the commit pins its base version and the whole
    * compute-stage-claim retries from a fresh snapshot on conflict, so
    * racing COPYs converge with every file loaded exactly once.
    * Returns the number of files loaded (0 = already up to date).
    *
    * Scale: the ledger diff is driver-side set arithmetic over the
    * manifest (O(loaded files) strings, same order as the manifest
    * itself); the data path is one distributed parquet read over ONLY
    * the fresh files. */
  def copyInto(spark: SparkSession, table: String, sourceDir: String,
      pattern: String = "*.parquet",
      allowEvolution: Boolean = false): Long = {
    val srcFs = fs(spark, sourceDir)
    require(srcFs.exists(new Path(sourceDir)),
      s"COPY INTO source not found: $sourceDir")
    val files = Option(srcFs.globStatus(new Path(sourceDir, pattern)))
      .map(_.toSeq).getOrElse(Seq.empty).filter(_.isFile)
    def id(st: org.apache.hadoop.fs.FileStatus): String =
      s"${st.getPath.toUri}@${st.getModificationTime}:${st.getLen}"
    var n = 0L
    retryingRewrite(spark, table, "COPY INTO", commitKey = None) { snap =>
      val loaded = snap.entries.flatMap(_.copied).toSet
      val fresh = files.filterNot(st => loaded.contains(id(st)))
        .sortBy(_.getPath.toString)
      n = fresh.size.toLong
      if (fresh.isEmpty) snap.version
      else {
        val df = spark.read.parquet(fresh.map(_.getPath.toString): _*)
        val staged = stageAppend(df, snap, allowEvolution)
        commitLoop(spark, snap, Rewrite)(staged.draft(_, None)
          .copy(op = Some("copy"), copied = fresh.map(id))).getOrElse(
            throw new IllegalStateException(
              "keyless COPY commit cannot lose a key race"))
      }
    }
    n
  }

  /** Best-effort [[ensureBloomIndex]] after a successful write — same
    * contract as [[maybeAutoCompact]]: any failure skips silently (the
    * index is advisory; the next write retries). */
  private def maybeBloom(spark: SparkSession, table: String,
      props: Map[String, String]): Unit =
    if (BloomIndex.configured(props).nonEmpty) bloomBestEffort(spark, table)

  private def bloomBestEffort(spark: SparkSession, table: String): Unit =
    try ensureBloomIndex(spark, table)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bloom] $table skipped: ${e.getMessage}")
    }

  /** Builds missing Bloom-filter sidecars ([[BloomIndex]]) for every
    * live data dir of a table whose TBLPROPERTIES opt in
    * (`graft.bloom.columns`). Steady-state cost is one existence probe
    * per live dir (`_bloom/_SUCCESS` marks indexed dirs; commit dirs
    * are immutable so a stamped dir never re-checks); unindexed dirs
    * each get one distributed build pass. Runs automatically after
    * appends and stream epochs; call directly after OPTIMIZE/MERGE or
    * after first enabling the property on an existing table. */
  def ensureBloomIndex(spark: SparkSession, table: String): Unit = {
    val snap = readLog(spark, table)
    val props = snap.properties
    val logicalCols = BloomIndex.configured(props)
    if (logicalCols.isEmpty) return
    val fppValue = BloomIndex.fpp(props)
    val f = fs(spark, tableDir(table))
    snap.live.filterNot(_.isDv).foreach { e =>
      val dir = VersionedParquetSink.resolveDir(tableDir(table), e.dir)
      // a SHALLOW CLONE's inherited dirs resolve `../source/<dir>` —
      // building there would write `_bloom` sidecars into the SOURCE
      // table's data dirs (clone inherits graft.bloom.columns), racing
      // any source-side build and violating the clone contract that
      // maintenance never touches the source. An inherited dir already
      // indexed by the source is served by those sidecars; otherwise
      // (source never opted in, or its sidecars were dropped) the
      // build lands CLONE-LOCALLY under `_bloom_ext/<digest(e.dir)>`,
      // which the read path consults as a fallback.
      val inherited = e.dir.startsWith("../")
      val out: Option[String] =
        if (!f.exists(new Path(dir))) None
        else if (inherited) {
          if (BloomIndex.isIndexed(f, dir)) None
          else {
            val ext = BloomIndex.extRoot(tableDir(table), e.dir)
            if (BloomIndex.isIndexedAt(f, ext)) None else Some(ext)
          }
        } else if (BloomIndex.isIndexed(f, dir)) None
        else Some(s"$dir/_bloom")
      out.foreach { bloomOut =>
        // the dir's files spell the schema/mapping AS OF ITS COMMIT —
        // configured columns missing back then are skipped for that dir
        val logical = e.schemaDdl.map(StructType.fromDDL)
          .getOrElse(StructType(Nil))
        val mapping = VersionedParquetSink.ColumnMapping.parse(e.mapping)
        val physSchema =
          VersionedParquetSink.ColumnMapping.physicalSchema(logical, mapping)
        val physNames = logicalCols
          .filter(lc => logical.fieldNames.contains(lc))
          .map(lc =>
            VersionedParquetSink.ColumnMapping.physicalName(mapping, lc))
          .toSet
        val physCols = physSchema.fields.toSeq
          .filter(sf => physNames.contains(sf.name))
        val counts = e.stats.map(FileStats.parse).getOrElse(Map.empty)
          .map { case (file, pf) => file -> pf.numRecords }
        BloomIndex.buildDirAt(spark, dir, bloomOut, physSchema, physCols,
          counts, fppValue)
      }
    }
  }

  /** Auto-compaction (Delta's `autoOptimize.autoCompact` parity): when
    * `graft.autoCompact.minDirs` is set in TBLPROPERTIES, every
    * successful append checks the live dir population and folds the
    * SMALL dirs (total bytes under `graft.autoCompact.targetBytes`,
    * default 128 MiB) once at least `minDirs` of them accumulate — the
    * LSM-style amortization that keeps a micro-batch-appended table's
    * dir count bounded without any scheduled OPTIMIZE. Only small dirs
    * fold (an output that crossed the size target is never rewritten
    * again), so steady-state write amplification is logarithmic, never
    * O(table) per trigger. Best-effort: a lost conflict race or any
    * failure skips silently — the next append retries. */
  private def maybeAutoCompact(spark: SparkSession, table: String,
      props: Map[String, String]): Unit =
    try props.get("graft.autoCompact.minDirs").map(_.toInt).foreach { minDirs =>
      val target = props.get("graft.autoCompact.targetBytes")
        .map(_.toLong).getOrElse(128L * 1024 * 1024)
      val snap = readLog(spark, table)
      val f = fs(spark, tableDir(table))
      val small = snap.live
        .filter(e => e.compacts.isEmpty && !e.isMergeOnRead)
        .filter { e =>
          val p = new Path(
            VersionedParquetSink.resolveDir(tableDir(table), e.dir))
          f.exists(p) &&
            f.listStatus(p).filter(_.isFile).map(_.getLen).sum < target
        }
      if (small.size >= minDirs) {
        // clustered tables re-cluster the fold on the declared columns
        foldSelected(spark, snap, small, Nil,
          targetFiles = Some(1), zorderBy = clusterColumns(props),
          commitKey = Some(s"autocompact-${snap.version}"))
        ()
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[auto-compact] $table skipped: ${e.getMessage}")
    }

  /** CREATE TABLE with TBLPROPERTIES as ONE atomic commit: the creating
    * append carries the property set in its own marker, so there is no
    * window where the table is visible without its properties, and the
    * created table's version numbering matches a property-less CREATE. */
  def createWithProperties(df: DataFrame, table: String,
      props: Map[String, String]): Unit =
    doAppend(df, table, commitKey = None,
      initialProps = if (props.isEmpty) None else Some(props))

  /** Claim a streaming epoch's executor-written staged dir into the
    * commit log (the driver half of the DSv2 StreamingWrite): the dir
    * under `tableDir/<unique>` was produced by executor DataWriters and
    * is invisible until this claim. Exactly-once rides the keyed-marker
    * protocol — a replayed epoch (same key) discards its dir and
    * no-ops.
    *
    * Governance: a plain table (no constraints / column mapping /
    * generated columns) claims the dir DIRECTLY — zero extra data
    * movement — and the claim pins "no governance" so a concurrent ADD
    * CONSTRAINT / rename aborts it (the epoch retries and takes the
    * governed path). Its per-file stats come from the one read-back
    * pass ([[FileStats.collect]]) left in the table layer: the executor
    * writers of this dir carry no stats tracker, while every write the
    * sink makes itself collects its stats inside the write
    * (`StatsWrite.writeWithStats`). A governed table re-stages the rows
    * through the full append machinery (constraint guard,
    * generated-column completion, physical-name mapping) — one extra
    * write, only when governance features are actually in play. */
  def commitStreamEpoch(spark: SparkSession, table: String, unique: String,
      querySchema: StructType, commitKey: String,
      replace: Boolean = false): Boolean = {
    val f = fs(spark, tableDir(table))
    val dirPath = new Path(s"${tableDir(table)}/$unique")
    val snap = readLog(spark, table)
    if (snap.versionOf(commitKey).isDefined) {
      f.delete(dirPath, true)
      return false
    }
    if (replace) {
      // complete-mode epoch: the staged rows REPLACE the table — a keyed
      // logged rewrite (atomic swap, time-travelable history, CDF sees a
      // data change). Epoch outputs are aggregate-sized, so re-staging
      // through the governed overwrite path costs one small extra write
      // and buys uniform schema-replace/governance semantics.
      val df = scanStaged(spark, table, unique, querySchema)
      overwriteFrom(df, table, Some(commitKey), snap)
      f.delete(dirPath, true)
      return true
    }
    // identity tables re-stage like other governed tables: the epoch's
    // rows need engine-assigned values the executor writers can't mint
    val governed = snap.mapping.isDefined || snap.generated.isDefined ||
      snap.constraints.isDefined ||
      VersionedParquetSink.identityDecls(snap.properties).nonEmpty
    if (governed) {
      val df = scanStaged(spark, table, unique, querySchema)
      val ok = doAppend(df, table, Some(commitKey), first = Some(snap))
      f.delete(dirPath, true)
      ok
    } else {
      // fail fast (and clean up) on drift before the stats pass; the
      // claim re-checks under the lock
      try SchemaCheck.enforceAppend(table,
        snap.schemaDdl.map(StructType.fromDDL), querySchema)
      catch { case e: Throwable => f.delete(dirPath, true); throw e }
      val stats = FileStats.collect(spark,
        s"${tableDir(table)}/$unique", querySchema)
      // staged without constraints and generated columns, and pinned to
      // no mapping: the claim aborts if any of the three appeared
      val ok = claimStaged(spark, snap, VersionedParquetSink.Staged(table,
          unique, querySchema.toDDL, stats, None, None, None, None),
        Some(commitKey), pins = Map(Pin.Mapping -> None)).isDefined
      // micro-batch streaming is auto-compaction's prime customer: a
      // dir per epoch is exactly the population it bounds
      if (ok) {
        val props = snap.properties
        maybeAutoCompact(spark, table, props)
        maybeBloom(spark, table, props)
      }
      ok
    }
  }

  /** Size-targeted partition count for an append: Catalyst's planned
    * size over the target bin, at least 1. */
  private def sizedPartitions(df: DataFrame,
      props: Map[String, String]): Int =
    VersionedParquetSink.sizedPartitions(
      df.queryExecution.optimizedPlan.stats.sizeInBytes,
      props.get("graft.optimizeWrite.targetBytes")
        .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
        .getOrElse(VersionedParquetSink.WriteTargetBytes),
      Int.MaxValue)

  /** The frame's partition count, read without running it.
    * `df.rdd.getNumPartitions` would run every exchange below an
    * adaptive plan to learn the final count, and the write would then
    * run them all again. An adaptive plan reports the count its initial
    * plan declares (before AQE coalesces); a plan without an exchange
    * builds its RDD without a job. None when the plan declares none. */
  private def plannedPartitions(df: DataFrame): Option[Int] =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        Some(a.initialPlan.outputPartitioning.numPartitions).filter(_ > 0)
      case p if !p.exists(_.isInstanceOf[Exchange]) =>
        Some(df.rdd.getNumPartitions)
      case p => Some(p.outputPartitioning.numPartitions).filter(_ > 0)
    }

  /** Clustering columns of a clustered table (Delta liquid-clustering
    * UX: declare once in TBLPROPERTIES, every write and maintenance
    * pass keeps the layout): `graft.cluster.columns` = comma list of
    * numeric/date/timestamp columns. */
  private def clusterColumns(props: Map[String, String]): Seq[String] =
    props.get("graft.cluster.columns").toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))

  /** Optimized writes (Delta's `autoOptimize.optimizeWrite` parity):
    * with `TBLPROPERTIES('graft.optimizeWrite'='true')`, an append's
    * partitions COALESCE down so each output file targets
    * `graft.optimizeWrite.targetBytes` (default 128 MiB) of PLANNED
    * size — without it, a 1000-task pipeline writing a few MB commits
    * 1000 tiny files per append and the small-file problem compounds
    * with every micro-batch. Coalesce is narrow (no shuffle, unlike
    * Delta's adaptive shuffle — the right trade when the write is the
    * last stage anyway) and never INCREASES the partition count, so a
    * genuinely large append keeps its parallelism. The size estimate is
    * Catalyst's in-memory `sizeInBytes`, so on-disk parquet files land
    * a few× smaller than the target — same ballpark Delta's binning
    * hits. Both partition counts come from the plan, so the shaping
    * itself runs no job over the frame. Complements
    * [[maybeAutoCompact]]: this shapes files at write time, that folds
    * history after. */
  private def optimizeWrite(df: DataFrame,
      props: Map[String, String]): DataFrame = {
    val cluster = clusterColumns(props)
    if (cluster.nonEmpty) {
      // clustered tables imply optimized writes (Delta's coupling): the
      // batch Morton-clusters on the declared columns into size-targeted
      // files, so every append's per-file stats are tight on all of them;
      // the range shuffle never fans out wider than the incoming plan
      val want = sizedPartitions(df, props)
      ZOrder.zOrderedN(df, cluster, plannedPartitions(df).fold(want)(want.min))
    } else if (!props.get("graft.optimizeWrite").exists(_.toBoolean)) df
    // coalesce never raises the partition count: no clamp needed
    else df.coalesce(sizedPartitions(df, props))
  }

  /** Everything [[doAppend]] does BEFORE the commit claim: governance
    * completion/guards, schema pre-check, the unique data-dir write,
    * per-file stats. The staged dir is invisible until a marker claims
    * it — which is what the multi-table transaction exploits. */
  private def stageAppend(df: DataFrame, snap: Snapshot,
      allowEvolution: Boolean): VersionedParquetSink.Staged = {
    val table = snap.table
    val tableSchema = snap.schemaDdl.map(StructType.fromDDL)
    // generated columns: a missing one is COMPUTED inside the write's
    // own pass; a caller-provided one is VALIDATED to equal its
    // expression per row (both Delta's rules). Runs before the schema
    // check so a frame omitting generated columns still schema-matches.
    val gensJson = snap.generated
    val completed = completeGenerated(df, gensJson, tableSchema, table)
    // early check: fail BEFORE the data write on the common path (the
    // claim loop re-checks under the lock — this snapshot can be stale
    // by commit time)
    SchemaCheck.enforceAppend(table, tableSchema,
      completed.schema, allowEvolution)
    // CHECK constraints ride the write's own pass as a per-row guard;
    // the claim loop aborts if the set changes before we commit
    val cons = snap.constraints
    val guarded = constraintGuard(completed, cons, table)
    // column mapping: files carry PHYSICAL names; an evolution append on
    // a mapped table mints fresh physical names/ids for its new columns
    // (never reusing a dropped column's), and the claim aborts if the
    // mapping moved under us — our files' physical names bind us to the
    // mapping we extended
    val mappingJson = snap.mapping
    val mapping = VersionedParquetSink.ColumnMapping.parse(mappingJson)
    val newCols = if (mappingJson.isDefined)
      completed.schema.fields.toSeq
        .filterNot(f => mapping.exists(_._1 == f.name))
    else Seq.empty
    val extended = if (newCols.isEmpty) mapping else {
      val maxId = mapping.map(_._2.id).maxOption.getOrElse(0)
      mapping ++ newCols.zipWithIndex.map { case (f, i) =>
        f.name -> VersionedParquetSink.ColumnMapping.Entry(
          s"col-${UUID.randomUUID()}", maxId + 1 + i)
      }
    }
    // step 1: unique data dir
    val (unique, stats) = writeDir(table,
      optimizeWrite(guarded, snap.properties), extended, completed.schema)
    VersionedParquetSink.Staged(table, unique, completed.schema.toDDL,
      stats, cons, mappingJson,
      if (newCols.isEmpty) None
      else VersionedParquetSink.ColumnMapping.render(extended),
      gensJson)
  }

  /** The [[Append]] claim of a [[stageAppend]]-staged dir: pinned to the
    * governance its rows were validated against ([[Staged.pins]]) plus
    * `pins`; `props`, when set, replaces the inherited TBLPROPERTIES. */
  private def claimStaged(spark: SparkSession, snap: Snapshot,
      s: VersionedParquetSink.Staged, commitKey: Option[String],
      allowEvolution: Boolean = false, txnOwned: Boolean = false,
      pins: Map[Pin, Option[String]] = Map.empty,
      props: Option[String] = None): Option[Long] =
    commitLoop(spark, snap, Append(allowEvolution, s.pins ++ pins),
        txnOwned) { on =>
      val d = s.draft(on, commitKey)
      d.copy(props = props.orElse(d.props))
    }

  private def txnDir: String = s"$basePath/_txn"
  private def txnFileName(key: String): String =
    Base64.getUrlEncoder.withoutPadding
      .encodeToString(key.getBytes(StandardCharsets.UTF_8)) + ".json"

  /** Cross-table TRANSACTIONAL append: one logical batch lands in every
    * named table or in none of them. Protocol (the classic stage +
    * intent-log shape, built from the sink's own primitives):
    *
    *  1. stage each table's data dir ([[stageAppend]]) — invisible until
    *     a marker claims it; a crash here orphans unclaimed dirs that
    *     [[vacuum]] collects, and NO table shows the batch. The tables
    *     stage concurrently, one task each
    *     ([[VersionedParquetSink.concurrently]]): the step takes as long
    *     as its slowest write, not the sum of them. It ends only when
    *     every write has ended, also when one fails or the caller is
    *     interrupted, and then throws the first failure with no manifest
    *     published;
    *  2. atomically rename ONE txn manifest into `_txn/` — the commit
    *     point. From this instant the batch is durable for ALL tables:
    *     [[recoverTransactions]] (run at the start of every
    *     multiAppendOnce, or directly) completes any claims a crash
    *     interrupted;
    *  3. claim each table's marker under `txnKey` (idempotent keyed
    *     commits; a key-loss never deletes the shared staged dir), then
    *     delete the manifest.
    *
    * Readers of a single table may observe the batch in table A
    * moments before table B while step 3 is in flight — the guarantee
    * is atomic durability (all-or-none after recovery), not a
    * cross-table read snapshot. A concurrent call with the SAME txnKey
    * loses the manifest rename, discards its own staging and completes
    * the winner's — exactly-once on the key either way. Governance
    * (constraints, mapping, generated columns) is pinned per table at
    * stage time; a concurrent governance change aborts the claim loudly
    * rather than committing unvalidated rows. */
  override def multiAppendOnce(writes: Seq[(DataFrame, String)],
      txnKey: String): Boolean = {
    require(writes.nonEmpty, "multiAppendOnce needs at least one write")
    require(writes.map(_._2).distinct.size == writes.size,
      s"one write per table in a transaction; got ${writes.map(_._2)}")
    val spark = writes.head._1.sparkSession
    val f = fs(spark, basePath)
    recoverTransactions(spark) // finish anything a crashed writer left
    // one log read per table serves the key check, the staging and the
    // claim: a claim at snapshot-latest+1 fails if anything came in
    // between, and the retry re-reads
    val pending = writes.map { case (df, t) => (df, readLog(spark, t)) }
      .filter { case (_, snap) => snap.versionOf(txnKey).isEmpty }
    if (pending.isEmpty) return false // full keyed replay: no-op
    // the tables stage side by side; the call goes on (or throws) only
    // once every staging write has ended
    val staged = VersionedParquetSink.concurrently(spark, pending) {
      case (df, snap) => snap -> stageAppend(df, snap, allowEvolution = false)
    }
    f.mkdirs(new Path(txnDir))
    if (!coordinator.publishIfAbsent(f,
        new Path(s"$txnDir/${txnFileName(txnKey)}"),
        VersionedParquetSink.Staged.renderTxn(txnKey, staged.map(_._2))
          .getBytes(StandardCharsets.UTF_8))) {
      // a concurrent writer of the SAME logical batch owns the commit
      // point (or a crashed one left it): discard OUR staging and
      // complete THEIRS
      staged.foreach { case (_, s) =>
        f.delete(new Path(s"${tableDir(s.table)}/${s.unique}"), true) }
      recoverTransactions(spark)
      return false
    }
    staged.foreach { case (snap, s) =>
      txnClaimHook(s.table) // test seam: a throwing hook = writer death
      // past the commit point the staged dir belongs to the manifest —
      // a governance abort here must leave the bytes for
      // recoverTransactions to re-validate and roll forward
      claimStaged(spark, snap, s, Some(txnKey), txnOwned = true)
    }
    f.delete(new Path(s"$txnDir/${txnFileName(txnKey)}"), false)
    true
  }

  /** Test seam for the multi-table transaction's chaos coverage: called
    * before each per-table claim in step 3; a hook that throws
    * simulates the writer dying between table writes (after the commit
    * point). Production value is a no-op. */
  private[graft] var txnClaimHook: String => Unit = _ => ()

  /** Complete every pending multi-table transaction's claims (step 3 of
    * [[multiAppendOnce]]) — idempotent, safe to race. Returns the number
    * of table claims healed.
    *
    * Recovery never poison-pills the store. A claim that aborts because
    * governance moved past the commit point (concurrent ADD CONSTRAINT /
    * generated-column / schema change) is ROLLED FORWARD: the staged rows
    * are re-validated against the CURRENT governance and committed pinned
    * to it — the same outcome as if the batch had been staged after the
    * change. A manifest that genuinely cannot complete (staged dir
    * vanished before its table committed, or the staged rows violate the
    * new governance) is QUARANTINED — renamed to `*.json.failed` so later
    * recovery skips it and later writes proceed — and reported in ONE
    * loud exception AFTER every other manifest healed, naming which
    * tables the batch did and did not reach. */
  def recoverTransactions(spark: SparkSession): Int = {
    val f = fs(spark, basePath)
    val dir = new Path(txnDir)
    if (!f.exists(dir)) return 0
    var healed = 0
    val quarantined = scala.collection.mutable.ListBuffer.empty[String]
    def quarantine(st: org.apache.hadoop.fs.FileStatus, why: String): Unit = {
      f.rename(st.getPath, new Path(st.getPath.toString + ".failed"))
      quarantined += s"$why — manifest quarantined as " +
        s"${st.getPath.getName}.failed"
    }
    val manifests = f.listStatus(dir).toSeq.filter(st => st.isFile &&
        st.getPath.getName.endsWith(".json"))
      .map(st => st -> readTxn(spark, st.getPath))
    manifests.collect { case (st, Success(txn)) => st -> txn }
        .foreach { case (st, (key, staged)) =>
      // first failure wins; remaining tables stay unclaimed (the
      // quarantined manifest records them for manual repair)
      val failure: Option[String] =
        staged.foldLeft(Option.empty[String]) { (err, s) =>
          lazy val snap = readLog(spark, s.table)
          if (err.isDefined) err
          else if (snap.versionOf(key).isDefined) None
          else if (!f.exists(new Path(s"${tableDir(s.table)}/${s.unique}")))
            Some(s"staged dir ${s.unique} for table '${s.table}' is gone " +
              "but never committed (deleted outside the sink?)")
          else {
            try {
              claimStaged(spark, snap, s, Some(key), txnOwned = true)
              healed += 1; None
            } catch {
              case _: IllegalStateException =>
                // governance moved past the commit point: roll forward
                rollForward(spark, key, s) match {
                  case None => healed += 1; None
                  case why => why
                }
              case e: IllegalArgumentException =>
                // schema moved past the commit point (enforceAppend)
                rollForwardFailure(s, e)
            }
          }
        }
      failure match {
        case None => f.delete(st.getPath, false)
        case Some(why) =>
          val committed = staged.filter(s =>
            readLog(spark, s.table).versionOf(key).isDefined).map(_.table)
          quarantine(st, s"transaction '$key': $why; the batch is " +
            (if (committed.isEmpty) "applied to NO table"
             else s"PARTIALLY applied (committed to " +
               s"${committed.mkString(", ")}; missing from " +
               s"${staged.map(_.table).diff(committed).mkString(", ")})"))
      }
    }
    // a manifest that does not parse names no claim to heal; quarantined
    // after the others healed
    manifests.foreach {
      case (st, Failure(e)) => quarantine(st, e.getMessage)
      case _ => ()
    }
    if (quarantined.nonEmpty) throw new IllegalStateException(
      "unrecoverable multi-table transaction(s) quarantined — later " +
        "writes are NOT blocked, but these batches need manual repair:\n  " +
        quarantined.mkString("\n  "))
    healed
  }

  /** A `_txn` manifest's key and staged dirs; a manifest that does not
    * parse fails naming the file (read errors pass through). */
  private def readTxn(spark: SparkSession, p: Path):
      Try[(String, Seq[VersionedParquetSink.Staged])] = {
    val json = readSmallFile(spark, p.toString)
    Try(VersionedParquetSink.Staged.parseTxn(json)).recoverWith {
      case e => Failure(new IllegalStateException(
        s"transaction manifest ${p.getName} does not parse: ${e.getMessage}", e))
    }
  }

  private def rollForwardFailure(s: VersionedParquetSink.Staged,
      e: Throwable): Option[String] =
    Some(s"staged rows for '${s.table}' cannot commit under the " +
      s"governance/schema that changed past the commit point: ${e.getMessage}")

  /** Roll a committed-but-unclaimed staged table forward past a
    * governance change: re-validate the staged rows against the CURRENT
    * constraint / generated-column expressions (executing the same
    * per-row guards a fresh write would run), then claim pinned to them.
    * Returns None on success, Some(reason) when the staged rows are
    * invalid under the new governance — the caller quarantines. */
  private def rollForward(spark: SparkSession, key: String,
      s: VersionedParquetSink.Staged): Option[String] = {
    var attempt = 0
    while (attempt < 3) {
      attempt += 1
      val snap = readLog(spark, s.table)
      if (snap.mapping != s.mapping)
        return Some(s"column mapping on '${s.table}' changed while the " +
          "transaction was in flight; the staged files bake physical " +
          "names from the old mapping and cannot be rolled forward")
      val curCons = snap.constraints
      val curGens = snap.generated
      try {
        val schema = StructType.fromDDL(s.schemaDdl)
        val mapping = VersionedParquetSink.ColumnMapping.parse(s.mapping)
        val logical = scanStaged(spark, s.table, s.unique, schema, mapping)
        // provided generated columns validate per row against the NEW
        // expressions, constraints guard likewise — executing the
        // guarded plan IS the validation (raise_error on violation)
        constraintGuard(
          completeGenerated(logical, curGens, Some(schema), s.table),
          curCons, s.table)
          .foreach(_ => ())
        claimStaged(spark, snap,
          s.copy(constraints = curCons, generated = curGens), Some(key),
          txnOwned = true)
        return None
      } catch {
        case _: IllegalStateException => () // moved again mid-recovery; retry
        case e: Throwable => return rollForwardFailure(s, e)
      }
    }
    Some(s"governance on '${s.table}' kept changing during recovery " +
      "(3 attempts)")
  }

  /** Complete and enforce generated columns for a write: absent columns
    * are computed from their expressions (cast to the table's declared
    * type, re-ordered to the table schema when that makes the frame
    * schema-exact); provided columns get a per-row null-safe equality
    * guard that throws naming the column — Delta's generated-column
    * write semantics. */
  private def completeGenerated(df: DataFrame, gensJson: Option[String],
      tableSchema: Option[StructType], table: String): DataFrame = {
    import org.apache.spark.sql.functions.{concat, expr, not, raise_error, when}
    val gens = VersionedParquetSink.Constraints.parse(gensJson)
    if (gens.isEmpty) return df
    def declaredType(n: String) =
      tableSchema.flatMap(_.fields.find(_.name == n)).map(_.dataType)
    val provided = gens.filter { case (n, _) => df.columns.contains(n) }
    val missing = gens.filterNot { case (n, _) => df.columns.contains(n) }
    val withComputed = missing.foldLeft(df) { case (d, (n, sql)) =>
      d.withColumn(n, declaredType(n)
        .fold(expr(sql))(t => expr(sql).cast(t)))
    }
    // completion restores the table's column order when it can (the
    // exact-schema check is order-sensitive); an evolution append with
    // extra new columns keeps them trailing
    val ordered = tableSchema match {
      case Some(ts) if ts.fieldNames.forall(withComputed.columns.contains) =>
        withComputed.select((ts.fieldNames.toSeq ++
          withComputed.columns.filterNot(ts.fieldNames.contains))
          .map(col): _*)
      case _ => withComputed
    }
    provided.foldLeft(ordered) { case (d, (n, sql)) =>
      d.filter(
        when(not(col(n) <=> (declaredType(n)
            .fold(expr(sql))(t => expr(sql).cast(t)))),
          raise_error(concat(
            lit(s"generated column '$n' of '$table': provided value " +
              s"does not match its expression ($sql)"))))
          .otherwise(lit(true)))
    }
  }

  /** A written but not yet committed dir of `table`, scanned through
    * the same log-style file index as committed data. */
  private def scanStaged(spark: SparkSession, table: String, unique: String,
      schema: StructType,
      mapping: Seq[(String, VersionedParquetSink.ColumnMapping.Entry)] = Nil):
      DataFrame =
    spark.baseRelationToDataFrame(
      GraftRelation.ofDir(spark, tableDir(table), unique, schema, mapping))

  /** Write `df` (`logical` schema, logical names) into a fresh unique
    * data dir of `table` under the physical names of `mapping`, per-file
    * stats collected inside the write. Returns the dir and the stats. */
  private def writeDir(table: String, df: DataFrame,
      mapping: Seq[(String, VersionedParquetSink.ColumnMapping.Entry)],
      logical: StructType): (String, String) = {
    val unique = s"d-${UUID.randomUUID()}"
    (unique, StatsWrite.writeWithStats(toPhysical(df, mapping),
      s"${tableDir(table)}/$unique",
      VersionedParquetSink.ColumnMapping.physicalSchema(logical, mapping)))
  }

  /** Rename a frame's columns logical -> physical for writing (identity
    * on unmapped tables — physical == logical until the first
    * rename/drop enables mapping). */
  private def toPhysical(df: DataFrame,
      m: Seq[(String, VersionedParquetSink.ColumnMapping.Entry)]): DataFrame =
    if (m.isEmpty) df
    else df.select(df.columns.map(c => col(c).as(
      VersionedParquetSink.ColumnMapping.physicalName(m, c))): _*)

  /** Claim the next version for the marker `draft` builds, under the
    * conflict rule `rule`. Returns the claimed version, or None iff a
    * commit carrying the draft's idempotency key won (a replay, not a
    * failure).
    *
    * Concurrency protocol (Delta-style optimistic commit): each attempt
    * claims EXACTLY latest+1 from one log read. The first attempt uses
    * `snapshot`, the read the caller staged against; a lost publish
    * re-reads, so a same-key racer's commit is seen before we'd claim
    * past it. `draft` rebuilds the marker on the snapshot each attempt
    * claims on: every payload it does not set (constraints, mapping,
    * generated columns, props) is the latest commit's. Against what
    * landed after `snapshot`, the rule decides (every rule re-reads and
    * claims the next version after a lost publish):
    * {{{
    *   rule    aborts when a newer commit ...   retry after abort     lands over
    *   Append  changed a pinned payload         identity append:      any other
    *           (Pin.Props: ConcurrentRewrite-   re-allocates from a   commit; the
    *           Exception; others: IllegalState- fresh snapshot on     schema is
    *           Exception), or its schema        ConcurrentRewrite-    re-checked on
    *           refuses the draft's (Illegal-    Exception; none       every attempt
    *           ArgumentException)               otherwise
    *   Rewrite exists (ConcurrentRewrite-       retryingRewrite       nothing
    *           Exception)                       re-derives from a
    *                                            fresh snapshot
    *   Fold    is a compaction, a `replaces`    retryingRewrite       appends and
    *           fold or a merge-on-read commit   re-derives            metadata; the
    *           (ConcurrentRewriteException)                           schema is the
    *                                                                  latest's
    * }}}
    * An abort drops the staged dir unless `txnOwned`: the dir belongs to
    * a `_txn` manifest, so neither an abort nor a key loss deletes it —
    * recovery needs the bytes to re-validate and roll forward.
    *
    * HDFS-style rename is atomic-no-overwrite across writers; the LOCAL
    * filesystem's rename is check-then-move (TOCTOU), so same-JVM racers
    * — exactly the local[*] deployment — additionally serialize the
    * read-check-claim on a JVM lock. Cross-JVM writers need an
    * atomic-rename fs (HDFS/ABFS), the same contract Delta's LogStore
    * documents. A rename that fails with NO competing marker is a
    * filesystem fault and throws rather than spinning. */
  private def commitLoop(spark: SparkSession, snapshot: Snapshot,
      rule: Conflict, txnOwned: Boolean = false)(
      draft: Snapshot => Commit): Option[Long] = {
    val table = snapshot.table
    val tlog = log(spark, table)
    val base = snapshot.version
    // every attempt's draft names the same dir and key
    val first = draft(snapshot)
    val (unique, commitKey) = (first.dir, first.key)
    def dropStaged(): Unit = if (!txnOwned)
      fs(spark, tableDir(table))
        .delete(new Path(s"${tableDir(table)}/$unique"), true)
    // commit annotation (Delta's userMetadata UX: a session conf so every
    // write path — API, SQL, streaming — carries it uniformly)
    val userMeta = spark.conf.getOption("spark.graft.commitInfo.userMetadata")
      .filter(_.nonEmpty)
    var reuse: Option[Snapshot] = Some(snapshot) // first attempt only
    var claimed: Commit = null
    while (true) {
      val won = VersionedParquetSink.localClaimLock.synchronized {
        val snap = reuse.getOrElse(tlog.snapshot())
        reuse = None
        if (commitKey.flatMap(snap.versionOf).isDefined) {
          dropStaged()
          return None
        }
        val d = draft(snap)
        refusal(rule, snap, base, d).foreach { e => dropStaged(); throw e }
        // A fold's DDL must be the LATEST committed DDL, not its caller's
        // snapshot's: a schema-evolution append racing past the fold's
        // base is non-conflicting (its dir stays in the scan set), and
        // committing the pre-evolution DDL on top of it would make every
        // later reader project the evolved column away. The folded rows
        // read the evolved column as null, like any pre-evolution file.
        val c = d.copy(version = snap.version + 1, userMeta = userMeta,
          schemaDdl =
            if (rule == Fold) snap.schemaDdl.orElse(d.schemaDdl)
            else d.schemaDdl)
        // The claim itself is the coordinator's publish-if-absent
        // (temp-write + atomic rename here; conditional PUT on object
        // stores): the FULL body lands atomically, so an EMPTY marker is
        // never visible — readers would throw on one and a same-key
        // committer would double-commit. The coordinator throws (not
        // "lost") when the store fails in a way a competing marker cannot
        // explain.
        val body = Commit.render(c, java.time.Instant.now)
        tlog.claim(coordinator, body, c.version) && {
          claimed = Commit.parse(body, Some(c.version))
          true
        }
      }
      if (won) {
        val v = claimed.version
        // Phantom-claim guard (found by the log-retention soak): a
        // writer holding a STALE snapshot computes attempt =
        // stale_latest + 1; normally that version's marker exists and
        // the claim is blocked, but vacuumLog may have RETIRED it
        // (it sits behind the checkpoint horizon) — the claim then
        // succeeds and mints a marker log reads filter out, i.e. a
        // commit that silently never happened. Validate the claim is
        // actually visible; if not, undo the marker and retry from a
        // fresh read. The validation read also feeds the checkpoint
        // and the mirror sync, so the healthy path pays nothing more.
        val after = tlog.snapshot()
        val inListing = after.entries.exists(e =>
          e.version == v && e.dir == unique)
        // LIST-lag fallback (object stores whose listing trails PUTs —
        // the pre-2020 S3 shape the conditional-PUT coordinator
        // emulation injects): the listing may simply not include the
        // marker we JUST published. A point read of the exact marker
        // path is read-after-write consistent on every store in the
        // CommitCoordinator mapping; the true phantom case (we
        // re-minted a version vacuumLog retired) is distinguished by
        // the checkpoint HORIZON — but NOT the horizon of the same
        // lagged listing (ADVICE r12): a covering checkpoint written
        // just before the stale claim is itself lag-hidden, and
        // retention bounds MARKER age, not checkpoint age. So the
        // horizon is read from a listing proven MONOTONE past our own
        // PUT: lag is mtime-monotone (once listed, always listed;
        // LagListFileSystem documents the model), so a listing that
        // contains the marker we just wrote contains every file put
        // before it — a fresh covering checkpoint cannot hide. The
        // wait is bounded by the declared store lag
        // (graft.store.maxListLag, enforced against retention by
        // vacuumLog); past the bound we fall back to the freshest
        // horizon, which the retention guard makes sound for any
        // correctly-declared store.
        val visible = inListing || {
          tlog.markerOwned(v, unique) && {
            val deadline = System.currentTimeMillis() +
              math.max(storeMaxListLagMs(spark, after), 2000L)
            var decided: Option[Boolean] = None
            while (decided.isEmpty) {
              val names = tlog.names()
              if (names.contains(s"$v.commit") ||
                  System.currentTimeMillis() >= deadline)
                decided = Some(TableLog.horizon(names).forall(v > _))
              else Thread.sleep(25L)
            }
            decided.get
          }
        }
        if (!visible) tlog.unclaim(v)
        else {
          maybeCheckpoint(tlog, after, claimed)
          // external interop: mirror the commit (and any gap a crashed
          // writer left) into _delta_log; best-effort, never throws
          DeltaLogMirror.sync(spark, tableDir(table), after)
          return Some(v)
        }
      }
      // lost the race, or the claim was invisible: re-read the log and
      // try the next version
    }
    None // unreachable
  }

  /** Why `rule` refuses to claim draft `c` on `snap` for a claim staged
    * on version `base`; None when the claim may land. */
  private def refusal(rule: Conflict, snap: Snapshot,
      base: Long, c: Commit): Option[Throwable] = {
    def stale = new VersionedParquetSink.ConcurrentRewriteException(
      snap.table, base, snap.version)
    rule match {
      // Delta's ConcurrentWriteException: a stale data-dependent rewrite
      // would silently drop an intervening append's rows or resurrect
      // deleted ones
      case Rewrite => Option.when(snap.version != base)(stale)
      // appends stay visible past a fold (Snapshot.live keeps version >
      // compacts), but a compaction derived from a pre-delete snapshot
      // would shadow the delete ("last compaction wins") and resurrect
      // its rows; its new file paths would orphan a newer deletion
      // vector's (path, pos) refs; and a fold derived from a snapshot
      // that predates another fold of the SAME dirs would duplicate every
      // overlapping row (both folded copies stay live)
      case Fold => Option.when(snap.entries.exists(e =>
        e.version > base &&
          (e.compacts.isDefined || e.replaces.nonEmpty || e.isMergeOnRead)))(stale)
      case Append(allowEvolution, pins) =>
        Pin.values.find(p => pins.get(p).exists(_ != p.of(snap))).map {
          // the identity allocator's conflict scope (its high waters ride
          // the props): retryable
          case Pin.Props => stale
          case Pin.Constraints => new IllegalStateException(
            s"CHECK constraints on '${snap.table}' changed while this " +
              "append was validating against the old set; retry the append")
          case Pin.Mapping => new IllegalStateException(
            s"column mapping on '${snap.table}' changed while this write " +
              "baked physical column names from the old mapping; retry")
          case Pin.Generated => new IllegalStateException(
            s"generated columns on '${snap.table}' changed while this " +
              "write computed/validated against the old expressions; retry")
        }.orElse {
          // the schema check runs against the snapshot this attempt
          // claims on: a commit that slipped in since the caller's
          // staging may have changed the table schema, and claiming past
          // it would let two concurrent appends with different schemas
          // both land (the mixed-schema table the check exists to prevent)
          try {
            SchemaCheck.enforceAppend(snap.table,
              snap.schemaDdl.map(StructType.fromDDL),
              StructType.fromDDL(c.schemaDdl.get), allowEvolution)
            None
          } catch { case e: Throwable => Some(e) }
        }
    }
  }

  /** Snapshot the log into `<v>.checkpoint` on the deterministic grid
    * (every `checkpointInterval`-th version) — a pure function of v, so
    * the uncontended commit path pays NO extra listing to decide. A
    * writer crashing before its checkpoint just defers to the next grid
    * point.
    *
    * `after` is the post-claim read: it may be mid-race-sparse (a writer
    * between marker and rename), so only what is durably visible goes in
    * — EXCEPT the claimant's OWN entry, which a lagged LIST may not
    * return yet (conditional-PUT stores): a checkpoint at v WITHOUT v's
    * own line would make log reads filter v's marker out of the tail
    * (the tail keeps only versions > checkpoint), silently losing the
    * commit — so it is spliced in. Under mtime-monotone list lag this
    * keeps the snapshot gap-free: claims are listing-gated (you can only
    * claim v after LISTING v-1), so a listing that includes v-1 includes
    * every older version too; v itself is the only possibly-hidden
    * entry. */
  private def maybeCheckpoint(tlog: TableLog, after: Snapshot,
      self: Commit): Unit = {
    val v = self.version
    if (v % checkpointInterval != checkpointInterval - 1) return
    val upTo = after.upTo(v).entries
    tlog.checkpoint(v,
      if (upTo.exists(_.version == v)) upTo else upTo :+ self)
  }

  /** The declared worst-case LIST lag of the underlying store, in ms:
    * TBLPROPERTIES `graft.store.maxListLag` wins, then the session conf
    * `spark.graft.store.maxListLag`, default `0s` (strong LIST — local
    * filesystems, HDFS, and post-2020 S3). Duration strings in Spark's
    * time-string shape (`0s`, `5m`, `1h`). This is the bound
    * [[vacuumLog]] enforces retention against and the claim-validation
    * loop waits out before trusting a listing's checkpoint horizon. */
  private def storeMaxListLagMs(spark: SparkSession, snap: Snapshot): Long =
    snap.properties.get("graft.store.maxListLag")
      .orElse(spark.conf.getOption("spark.graft.store.maxListLag"))
      .map(org.apache.spark.network.util.JavaUtils.timeStringAsMs)
      .getOrElse(0L)

  /** OPTIMIZE: rewrite every live data directory into ONE compacted
    * directory and commit it as the next version. Readers at or past the
    * compaction version scan one directory (plus any appends that raced
    * in); pre-compaction markers and data dirs are kept, so
    * `readAt(olderVersion)` still time-travels. Returns the compaction's
    * version number.
    *
    * @param targetFiles optional file count for the compacted dir (e.g.
    *   `Some(1)` collapses a micro-batch dir-per-append history into a
    *   single file; None keeps the current partitioning — at 100 TB you
    *   coalesce to size, not to one file).
    * @param commitKey optional idempotency key: a REPLAYED maintenance
    *   run (e.g. a crash-recovered streaming batch) with a key already in
    *   the manifest skips the whole-table rewrite and returns the
    *   original compaction's version — without it, every replay would
    *   re-copy the entire table into yet another directory. */
  def compact(spark: SparkSession, table: String,
      targetFiles: Option[Int] = None,
      commitKey: Option[String] = None): Long = {
    // retry on rewrite-conflict aborts: a compaction that loses to a
    // concurrent delete/merge/compaction re-derives from the fresh
    // snapshot (concurrent APPENDS never abort it — they stay visible
    // past the compaction's high-water mark)
    retryingRewrite(spark, table, "compact", commitKey) { snap =>
      // OPTIMIZE on a clustered table re-clusters (Delta's behavior for
      // clustered tables: no ZORDER BY clause needed)
      val cluster = clusterColumns(snap.properties)
      doCompact(spark, snap, commitKey,
        cur =>
          if (cluster.nonEmpty)
            ZOrder.zOrderedN(cur, cluster, targetFiles.getOrElse(8))
          else targetFiles.fold(cur)(n => cur.coalesce(n)))
    }
  }

  /** OPTIMIZE ... ZORDER BY (Delta parity): a compaction whose folded
    * output is Morton-clustered on `cols` ([[ZOrder.zOrderedN]]), so
    * the compacted files carry TIGHT per-file min/max on every named
    * column and the sink's stats pruning (and any external reader of
    * the mirrored add-action stats) skips files for predicates on any
    * of them. Content-preserving like [[compact]] — CDF/streaming
    * consumers skip it, time travel below it still resolves — with the
    * same serializable conflict rules and keyed replay. */
  def optimizeZOrder(spark: SparkSession, table: String,
      cols: Seq[String], numFiles: Int = 8,
      commitKey: Option[String] = None): Long = {
    require(cols.nonEmpty, "optimizeZOrder requires at least one column")
    retryingRewrite(spark, table, "compact", commitKey)(snap =>
      doCompact(spark, snap, commitKey,
        cur => ZOrder.zOrderedN(cur, cols, numFiles)))
  }

  /** OPTIMIZE ... WHERE (Delta's selective OPTIMIZE): fold ONLY the live
    * data directories whose per-file min/max stats say they MAY hold
    * rows matching `condition` — at 100 TB the difference between
    * rewriting the whole table and rewriting yesterday's micro-batch
    * dirs. Content-preserving like [[compact]] (compacting a stats
    * superset is always safe), same serializable conflict rules and
    * keyed replay; time travel below it still resolves, CDF/streaming
    * consumers skip it.
    *
    * Mechanics: the commit carries a `replaces` list (the folded dirs'
    * base names) instead of a `compacts` watermark, so NON-matching
    * dirs stay live untouched — [[Snapshot.live]] drops exactly the
    * replaced dirs. Live DV masks over the folded
    * dirs are materialized into the fold (masks over untouched dirs
    * stay live and keep applying); merge-on-read commits are never
    * folded (their `_dv/` masks must keep applying to OTHER dirs).
    * A dir without stats conservatively matches. Selecting fewer than
    * two dirs commits nothing (there is nothing to fold) and returns
    * the current version.
    *
    * `zorderBy` non-empty gives Delta's `OPTIMIZE ... WHERE ... ZORDER
    * BY`: the folded output is Morton-clustered so the new files carry
    * tight per-column ranges for the sink's stats pruning. */
  def compactWhere(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      targetFiles: Option[Int] = None,
      zorderBy: Seq[String] = Nil,
      commitKey: Option[String] = None): Long =
    retryingRewrite(spark, table, "compact", commitKey) { snap =>
      // foldable = plain data commits (appends and earlier selective
      // folds). The newest FULL compaction keeps its watermark role;
      // merge-on-read dirs carry masks that must keep applying.
      val foldable = snap.live
        .filter(e => e.compacts.isEmpty && !e.isMergeOnRead)
      val logical = snap.schemaDdl.map(ddl =>
        StructType(StructType.fromDDL(ddl).fields.map(_.copy(nullable = true))))
      val mapping = VersionedParquetSink.ColumnMapping.parse(snap.mapping)
      val physSchema = logical.map(
        VersionedParquetSink.ColumnMapping.physicalSchema(_, mapping))
      val pred = logical.flatMap(
          FileStats.resolvePredicate(spark, _, condition))
        .map(_.transform {
          case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
              if mapping.nonEmpty =>
            a.withName(VersionedParquetSink.ColumnMapping
              .physicalName(mapping, a.name))
        })
      val selected = foldable.filter { e =>
        (e.stats, pred, physSchema) match {
          case (Some(json), Some(p), Some(sc)) =>
            FileStats.parse(json).exists {
              case (_, pf) => FileStats.mayMatch(p, sc, pf) }
          case _ => true // no stats / unresolvable predicate: may match
        }
      }
      if (selected.size < 2) snap.version // nothing to fold; no commit
      else foldSelected(spark, snap, selected, Nil, targetFiles, zorderBy,
        commitKey)
    }

  /** REORG TABLE ... APPLY (PURGE) (Delta parity): materialize every
    * live deletion-vector mask by folding ONLY the data dirs the masks
    * target (plus merge-on-read update dirs, whose `_dv/` masks ride
    * their data), and RETIRE every mask-carrying commit via the fold's
    * `replaces` list — after the purge no reader applies a mask, and
    * the `_delta_log` mirror's unmaterialized-DV lag clears. Cost ∝
    * masked data, never table size (the point of REORG vs full
    * OPTIMIZE). No live masks: no commit, returns the current
    * version. Content-preserving; same conflict/replay rules as
    * [[compactWhere]]. */
  def reorgPurge(spark: SparkSession, table: String,
      targetFiles: Option[Int] = None,
      commitKey: Option[String] = None): Long =
    retryingRewrite(spark, table, "compact", commitKey) { snap =>
      val live = snap.live
      val dvs = live.filter(_.isMergeOnRead)
      if (dvs.isEmpty) snap.version
      else {
        // dirs targeted by any live mask: the commit-dir part of the
        // masked-file set (one string per masked file)
        val targeted: Set[String] =
          GraftRelation.masks(spark, tableDir(table), live).toSeq
            .flatMap(_.maskedPaths).map(_.split('/').head).toSet
        // fold: data-bearing live dirs the masks target (the newest
        // full compaction included — its watermark role survives the
        // dir replacement) + every update commit's own data dir
        val folded = live.filter(e => !e.isDv &&
          (targeted.contains(e.dir.split('/').last) || e.op.contains("update")))
        val pureDvDirs = dvs.filter(_.isDv).map(_.dir.split('/').last)
        if (folded.nonEmpty)
          // retire ALL mask commits: every mask's targets are in the fold
          foldSelected(spark, snap, folded, pureDvDirs, targetFiles, Nil,
            commitKey)
        else {
          // every live mask targets only already-replaced dirs (stale
          // no-op masks): nothing to rewrite — commit an EMPTY data dir
          // whose replaces list retires the mask commits, so readers
          // stop applying them
          val unique = s"d-${UUID.randomUUID()}"
          fs(spark, tableDir(table))
            .mkdirs(new Path(s"${tableDir(table)}/$unique"))
          val ddl = schemaOf(spark, snap).toDDL
          claimedOrKeyed(spark, table, commitKey, "reorg purge")(
            commitLoop(spark, snap, Fold)(_.draft(unique, commitKey, ddl)
              .copy(op = Some("compact"), replaces = pureDvDirs)))
        }
      }
    }

  /** Shared selective-fold body: scan `folded`'s dirs with every live
    * mask applied, lay out, and commit with
    * `replaces = folded ++ alsoReplaces`. */
  private def foldSelected(spark: SparkSession, snap: Snapshot,
      folded: Seq[Commit], alsoReplaces: Seq[String],
      targetFiles: Option[Int], zorderBy: Seq[String],
      commitKey: Option[String]): Long = {
    val table = snap.table
    val mapping = VersionedParquetSink.ColumnMapping.parse(snap.mapping)
    // pre-evolution files read the later columns as null
    val content = spark.baseRelationToDataFrame(GraftRelation.forDirs(
      spark, tableDir(table), snap, folded,
      GraftRelation.masks(spark, tableDir(table), snap.live)))
    val out =
      if (zorderBy.nonEmpty)
        ZOrder.zOrderedN(content, zorderBy, targetFiles.getOrElse(8))
      else targetFiles.fold(content)(n => content.coalesce(n))
    val (unique, stats) = writeDir(table, out, mapping, content.schema)
    claimedOrKeyed(spark, table, commitKey, "selective compaction")(
      commitLoop(spark, snap, Fold)(_.draft(unique, commitKey,
          snap.schemaDdl.getOrElse(content.schema.toDDL))
        .copy(op = Some("compact"), stats = Some(stats),
          replaces = folded.map(_.dir.split('/').last) ++ alsoReplaces)))
  }

  private def doCompact(spark: SparkSession, snap: Snapshot,
      commitKey: Option[String], layout: DataFrame => DataFrame): Long = {
    val table = snap.table
    val mapping = VersionedParquetSink.ColumnMapping.parse(snap.mapping)
    val cur = content(spark, snap)
    val out = layout(cur)
    val (unique, stats) = writeDir(table, out, mapping, cur.schema)
    // `compacts = snap.version` records exactly which versions were
    // folded in — an append that commits while the rewrite runs gets a
    // later version and stays visible alongside the compacted dir. The
    // result is the compaction's own version, NOT the latest: an append
    // racing past the compaction must not be reported as it.
    claimedOrKeyed(spark, table, commitKey, "compaction")(
      commitLoop(spark, snap, Fold)(_.draft(unique, commitKey,
          snap.schemaDdl.getOrElse(cur.schema.toDDL))
        .copy(compacts = Some(snap.version), op = Some("compact"),
          stats = Some(stats))))
  }

  /** DELETE (Delta `DELETE FROM t WHERE cond` parity): copy-on-write —
    * rewrites the live snapshot minus the matching rows and commits it as
    * a rewrite version (pre-delete versions stay time-travelable). Rows
    * where `condition` is TRUE are deleted; rows where it is false or
    * NULL are kept (SQL DELETE semantics). Returns the committed version.
    *
    * Isolation: SERIALIZABLE for data-changing operations — the commit
    * aborts and retries from a fresh snapshot if ANY commit (append or
    * rewrite) lands after the snapshot it was derived from, so a racing
    * append's rows are never silently dropped. `commitKey` makes a
    * replayed maintenance run a no-op returning the original version.
    *
    * Scale note: commit-dir-granular copy-on-write — one distributed
    * filter + rewrite of the live set. Delta narrows the rewrite to the
    * FILES whose min/max stats may match the predicate; the equivalent
    * lever here is partitioning the table (ParquetTableSink hive layout)
    * so deletes rewrite only matching partitions. */
  def delete(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      commitKey: Option[String] = None): Long =
    rewriteWith(spark, table, "delete", commitKey)((_, cur) =>
      cur.filter(!coalesce(condition, lit(false))))

  /** DELETE via a deletion vector (Delta's merge-on-read DVs): instead of
    * rewriting the live set, commits a parquet of `(path, pos)` row
    * positions — the rows where `condition` is TRUE — and every reader
    * skips the masked positions in its scan. Deleting 3 rows from a
    * 100 TB table writes kilobytes; [[delete]]'s copy-on-write would
    * rewrite the table. The read-side cost — one planning pass for the
    * masked-file set, and masked files read unsplit with no parquet
    * filter pushdown — is paid until a [[compact]] / [[delete]] /
    * [[merge]] materializes the mask into plain files (all three derive
    * from [[readAt]], which applies DVs, and their `compacts` watermark
    * then retires the DV commits).
    *
    * Same SQL DELETE null semantics and serializable isolation as
    * [[delete]]: aborts and retries from a fresh snapshot if ANY commit
    * lands after the snapshot the positions were computed from (a stale
    * mask could miss a racing append's matching rows), and a concurrent
    * compaction aborts when it would orphan this mask's file refs.
    * Masks stack: a second DV delete masks additional positions; the
    * union applies. Row positions come from the parquet reader's
    * `_metadata.row_index`, exact for the sink's immutable files.
    * Returns the committed version; `commitKey` replays idempotently. */
  def deleteVectored(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      commitKey: Option[String] = None): Long =
    maskCommit(spark, table, commitKey,
      cur => cur.filter(coalesce(condition, lit(false))))

  /** [[deleteMatching]] (the GDPR/right-to-erasure shape) as a deletion
    * vector: masks every row whose `keyCols` match a `keys` row via a
    * DISTRIBUTED semi-join — the key list can be table-sized, nothing
    * collects, and no data file is rewritten. */
  def deleteMatchingVectored(spark: SparkSession, table: String,
      keys: DataFrame, keyCols: Seq[String],
      commitKey: Option[String] = None): Long = {
    require(keyCols.nonEmpty,
      "deleteMatchingVectored requires at least one key column")
    maskCommit(spark, table, commitKey, cur =>
      cur.join(keys.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_semi"))
  }

  /** Shared DV-delete body: `matching` selects the doomed rows from the
    * position-annotated masked snapshot; their positions become the new
    * mask commit. */
  private def maskCommit(spark: SparkSession, table: String,
      commitKey: Option[String],
      matching: DataFrame => DataFrame): Long =
    retryingRewrite(spark, table, "dv", commitKey) { snap =>
      val cur = content(spark, snap)
      val dv = matching(withPosCols(cur))
        .select(col("__dv_path").as("path"), col("__dv_pos").as("pos"))
      val unique = s"d-${UUID.randomUUID()}"
      // globally sorted by (path, pos): executor-side mask resolution
      // (GraftMasks.positionsFor) filters on path, and sortedness turns
      // that into parquet row-group skipping
      StatsWrite.write(dv.sort("path", "pos"), s"${tableDir(table)}/$unique")
      claimedOrKeyed(spark, table, commitKey, "dv-delete")(
        commitLoop(spark, snap, Rewrite)(_.draft(unique, commitKey,
          snap.schemaDdl.getOrElse(cur.schema.toDDL)).copy(op = Some("dv"))))
    }

  /** UPDATE via merge-on-read (Delta's DV-backed `UPDATE ... SET`):
    * rows where `condition` is TRUE get their old positions MASKED and
    * their updated images appended — in ONE commit whose dir carries
    * both payloads (new rows as top-level parquet; the mask under
    * `_dv/`, which the underscore convention hides from every data
    * listing, so the pairing is atomic with no marker format change).
    * Untouched files are never rewritten: updating 3 rows of a 100 TB
    * table writes the 3 new rows plus a kilobyte mask.
    *
    * `set` maps column name -> new-value expression (evaluated against
    * the matched rows, so expressions can reference existing columns);
    * every named column must exist — UPDATE never changes schema. Rows
    * where `condition` is false or NULL are untouched (SQL UPDATE
    * semantics). Serializable like [[deleteVectored]]; compaction
    * materializes and retires the mask the same way. Returns the
    * committed version. */
  def updateVectored(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      commitKey: Option[String] = None): Long = {
    require(set.nonEmpty, "updateVectored requires at least one SET column")
    retryingRewrite(spark, table, "update", commitKey) { snap =>
      val plain = content(spark, snap)
      val cur = withPosCols(plain)
      val dataCols = cur.columns
        .filterNot(c => c == "__dv_path" || c == "__dv_pos")
      set.keys.foreach(k => require(dataCols.contains(k),
        s"updateVectored: SET column '$k' does not exist in $table " +
          s"(${dataCols.mkString(", ")}); UPDATE never changes schema"))
      // matched drives both payloads — cache for the two writes
      val matched = cur.filter(coalesce(condition, lit(false))).cache()
      try {
        val unique = s"d-${UUID.randomUUID()}"
        val mapping = VersionedParquetSink.ColumnMapping.parse(snap.mapping)
        // generated columns: SET may not target one directly; their
        // values are RECOMPUTED after the update (Delta's rule — the
        // update may change their source columns)
        val gens = VersionedParquetSink.Constraints.parse(snap.generated)
        gens.foreach { case (g, _) => require(!set.contains(g),
          s"updateVectored: '$g' is a generated column of '$table'; " +
            "update its source columns instead") }
        val updated0 = set
          .foldLeft(matched) { case (df, (c, e)) => df.withColumn(c, e) }
        val ddl = snap.schemaDdl.getOrElse(plain.schema.toDDL)
        val schemaTypes = StructType.fromDDL(ddl)
        val updated = gens.foldLeft(updated0) { case (df, (g, sql)) =>
          df.withColumn(g,
            org.apache.spark.sql.functions.expr(sql).cast(
              schemaTypes.fields.find(_.name == g).get.dataType))
        }
          .select(dataCols.map(col): _*)
        // updated images must still satisfy the CHECK constraints
        val stats = StatsWrite.writeWithStats(
          toPhysical(constraintGuard(updated,
            snap.constraints, table), mapping),
          s"${tableDir(table)}/$unique",
          VersionedParquetSink.ColumnMapping.physicalSchema(
            StructType(StructType.fromDDL(ddl)
              .fields.map(_.copy(nullable = true))), mapping))
        StatsWrite.write(matched
          .select(col("__dv_path").as("path"), col("__dv_pos").as("pos"))
          .sort("path", "pos"), // row-group-skippable executor mask reads
          s"${tableDir(table)}/$unique/_dv")
        claimedOrKeyed(spark, table, commitKey, "update")(
          commitLoop(spark, snap, Rewrite)(_.draft(unique, commitKey, ddl)
            .copy(op = Some("update"), stats = Some(stats))))
      } finally { matched.unpersist(); () }
    }
  }

  /** DELETE by key list (the GDPR/right-to-erasure shape): remove every
    * row whose `keyCols` match a row of `keys` — a DISTRIBUTED anti-join
    * rewrite, so the key list can itself be table-sized (a predicate
    * `isin` collapses at scale; this never collects). Same serializable
    * commit + replay semantics as [[delete]]. */
  def deleteMatching(spark: SparkSession, table: String, keys: DataFrame,
      keyCols: Seq[String], commitKey: Option[String] = None): Long = {
    require(keyCols.nonEmpty, "deleteMatching requires at least one key column")
    rewriteWith(spark, table, "delete", commitKey)((_, cur) =>
      cur.join(keys.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_anti"))
  }

  /** MERGE/upsert (Delta `MERGE WHEN MATCHED UPDATE SET * WHEN NOT
    * MATCHED INSERT *` parity): every snapshot row whose `keyCols` match
    * an `updates` row is replaced by it; unmatched `updates` rows are
    * inserted. `updates` must carry the table's exact schema (evolution
    * via append first) and at most one row per key (ambiguous-merge
    * guard, same error Delta raises). Same serializable commit + replay
    * semantics as [[delete]]; returns the committed version.
    *
    * Scale shape: ONE left-anti join keyed on `keyCols` (broadcast when
    * `updates` is a trickle — the common CDC shape — else shuffle) plus a
    * union; nothing collects. */
  def merge(spark: SparkSession, table: String, updates: DataFrame,
      keyCols: Seq[String], commitKey: Option[String] = None): Long =
    applyChanges(spark, table, updates,
      updates.select(keyCols.map(col): _*).limit(0), keyCols, commitKey)

  /** MERGE that also DELETES (Delta's `WHEN MATCHED THEN DELETE` arm in
    * the same statement): upsert every `upserts` row and remove every
    * row matching `deleteKeys`, in ONE serializable commit — a caller
    * needing both (e.g. incremental view maintenance) gets single-key
    * replay semantics instead of a crash window between two commits.
    * An upserted key also listed in `deleteKeys` ends up upserted (the
    * union applies after the anti-join). */
  def applyChanges(spark: SparkSession, table: String, upserts: DataFrame,
      deleteKeys: DataFrame, keyCols: Seq[String],
      commitKey: Option[String] = None): Long = {
    require(keyCols.nonEmpty, "applyChanges requires at least one key column")
    // upserts is evaluated at least twice (dup-key guard + the rewrite,
    // which reads it for the anti-join AND the union) — cache it for the
    // duration unless the caller already did
    val preCached =
      upserts.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    if (!preCached) upserts.cache()
    try {
      val dupKeys = upserts.groupBy(keyCols.map(col): _*)
        .count().filter(col("count") > 1).limit(1).count()
      require(dupKeys == 0,
        s"merge into '$table': updates carry duplicate rows for some " +
          s"(${keyCols.mkString(", ")}) key — ambiguous merge")
      rewriteWith(spark, table, "merge", commitKey) { (snap, cur) =>
        // generated columns: upserts may omit them (computed) or carry
        // them (validated per row) — same rules as append
        val completed = completeGenerated(upserts, snap.generated,
          Some(cur.schema), table)
        SchemaCheck.enforceAppend(table, Some(cur.schema), completed.schema)
        val touched = upserts.select(keyCols.map(col): _*)
          .unionByName(deleteKeys.select(keyCols.map(col): _*))
          .distinct()
        // existing rows already satisfy the constraints; only the
        // incoming upserts need the guard
        cur.join(touched, keyCols, "left_anti")
          .unionByName(constraintGuard(
            completed.select(cur.columns.map(col): _*), snap.constraints,
            table))
      }
    } finally if (!preCached) { upserts.unpersist(); () }
  }

  /** The table's CHECK constraints (name -> SQL expression), empty if
    * none were ever added. */
  def constraintsOf(spark: SparkSession, table: String): Map[String, String] =
    VersionedParquetSink.Constraints.parse(
      readLog(spark, table).constraints).toMap

  /** ALTER TABLE ADD CONSTRAINT (Delta CHECK-constraint parity): adds a
    * named SQL predicate that every FUTURE write must satisfy, after
    * validating that every EXISTING row already does (one distributed
    * scan, exactly like Delta). Constraint metadata travels in the
    * commit log, so it survives checkpoints, compaction, and time
    * travel; enforcement is a codegen'd per-row guard fused into each
    * write's own pass — no extra validation job per append. NULL
    * evaluations pass (SQL CHECK semantics). Serializable: aborts and
    * retries if any commit races the validation, and a concurrent
    * append that validated against the OLD set aborts at its claim.
    * Returns the metadata commit's version. */
  def addConstraint(spark: SparkSession, table: String, name: String,
      sqlExpr: String, commitKey: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.expr
    retryingRewrite(spark, table, "constraint", commitKey) { snap =>
      val existing = VersionedParquetSink.Constraints.parse(snap.constraints)
      require(!existing.exists(_._1 == name),
        s"constraint '$name' already exists on '$table'")
      val cur = content(spark, snap)
      val bad = cur.filter(!coalesce(expr(sqlExpr), lit(true))).limit(1).count()
      require(bad == 0,
        s"cannot add CHECK constraint '$name' to '$table': existing rows " +
          s"violate ($sqlExpr)")
      commitMetadata(spark, snap, commitKey, tableSchema(spark, snap),
        "constraint")(
        _.copy(constraints = VersionedParquetSink.Constraints.render(
          existing :+ (name -> sqlExpr))))
    }
  }

  /** ALTER TABLE DROP CONSTRAINT: removes a named CHECK constraint via a
    * metadata commit. Throws if the name is unknown. */
  def dropConstraint(spark: SparkSession, table: String, name: String,
      commitKey: Option[String] = None): Long =
    retryingRewrite(spark, table, "constraint", commitKey) { snap =>
      val existing = VersionedParquetSink.Constraints.parse(snap.constraints)
      require(existing.exists(_._1 == name),
        s"no constraint '$name' on '$table' " +
          s"(have: ${existing.map(_._1).mkString(", ")})")
      commitMetadata(spark, snap, commitKey, tableSchema(spark, snap),
        "constraint")(_.copy(constraints = VersionedParquetSink.Constraints
          .render(existing.filterNot(_._1 == name))))
    }

  /** The table's TBLPROPERTIES (key -> value), empty if none were ever
    * set. Properties travel in the commit log like constraints, so they
    * survive checkpoints, compaction, and restore, and time travel sees
    * the set as of the pinned version. */
  def propertiesOf(spark: SparkSession, table: String): Map[String, String] =
    VersionedParquetSink.Constraints.parse(
      readLog(spark, table).props).toMap

  /** ALTER TABLE SET TBLPROPERTIES: merges `props` into the current
    * set via a metadata-only commit (last writer wins per key).
    * Returns the commit's version. */
  def setProperties(spark: SparkSession, table: String,
      props: Map[String, String],
      commitKey: Option[String] = None): Long =
    retryingRewrite(spark, table, "properties", commitKey) { snap =>
      val merged = (snap.properties ++ props).toSeq
      commitMetadata(spark, snap, commitKey, tableSchema(spark, snap),
        "properties")(
        _.copy(props = VersionedParquetSink.Constraints.render(merged)))
    }

  /** ALTER TABLE UNSET TBLPROPERTIES: removes `keys` (missing keys are
    * ignored, matching Spark's IF EXISTS-less default for V2 tables).
    * Returns the commit's version. */
  def unsetProperties(spark: SparkSession, table: String,
      keys: Seq[String], commitKey: Option[String] = None): Long =
    retryingRewrite(spark, table, "properties", commitKey) { snap =>
      val remaining = VersionedParquetSink.Constraints.parse(snap.props)
        .filterNot(kv => keys.contains(kv._1))
      commitMetadata(spark, snap, commitKey, tableSchema(spark, snap),
        "properties")(
        _.copy(props = VersionedParquetSink.Constraints.render(remaining)))
    }

  /** The table's generated columns (name -> SQL expression), empty if
    * none were ever declared. */
  def generatedColumnsOf(spark: SparkSession,
      table: String): Map[String, String] =
    VersionedParquetSink.Constraints.parse(
      readLog(spark, table).generated).toMap

  /** Declare an EXISTING column as generated (Delta generated-column
    * parity, writer feature v4): every future write either omits the
    * column (it is computed from `sqlExpr` inside the write's own pass)
    * or provides values that a per-row null-safe equality guard
    * validates against the expression — Delta's exact write rules.
    * Existing rows are validated in one distributed scan before the
    * metadata commit lands (Delta only allows declaration at CREATE
    * TABLE; validating the backlog is the equivalent safety). The
    * expression may reference any non-generated column. Serializable;
    * a concurrent append that computed/validated against the old
    * expression set aborts at its claim. */
  def setGeneratedColumn(spark: SparkSession, table: String, name: String,
      sqlExpr: String, commitKey: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.expr
    retryingRewrite(spark, table, "generated", commitKey) { snap =>
      val existing = VersionedParquetSink.Constraints.parse(snap.generated)
      require(!existing.exists(_._1 == name),
        s"column '$name' of '$table' is already generated")
      val cur = content(spark, snap)
      require(cur.columns.contains(name),
        s"no column '$name' in '$table' (${cur.columns.mkString(", ")})")
      val target = cur.schema.fields.find(_.name == name).get.dataType
      val bad = cur
        .filter(!(col(name) <=> expr(sqlExpr).cast(target))).limit(1).count()
      require(bad == 0,
        s"cannot declare '$name' generated on '$table': existing rows " +
          s"differ from ($sqlExpr)")
      commitMetadata(spark, snap, commitKey, tableSchema(spark, snap),
        "generated")(
        _.copy(generated = VersionedParquetSink.Constraints.render(
          existing :+ (name -> sqlExpr))))
    }
  }

  /** Remove a column's generated-column declaration (the column and its
    * data stay; writes just stop computing/validating it). */
  def dropGeneratedColumn(spark: SparkSession, table: String, name: String,
      commitKey: Option[String] = None): Long =
    retryingRewrite(spark, table, "generated", commitKey) { snap =>
      val existing = VersionedParquetSink.Constraints.parse(snap.generated)
      require(existing.exists(_._1 == name),
        s"column '$name' of '$table' is not generated " +
          s"(generated: ${existing.map(_._1).mkString(", ")})")
      commitMetadata(spark, snap, commitKey, tableSchema(spark, snap),
        "generated")(_.copy(generated = VersionedParquetSink.Constraints
          .render(existing.filterNot(_._1 == name))))
    }

  /** The table's column mapping (logical name -> physical name in the
    * parquet files), empty until the first rename/drop enables it. */
  def columnMappingOf(spark: SparkSession,
      table: String): Map[String, String] =
    VersionedParquetSink.ColumnMapping.parse(
      readLog(spark, table).mapping)
      .map { case (l, e) => l -> e.physical }.toMap

  /** ALTER TABLE RENAME COLUMN (Delta column-mapping parity): a
    * METADATA-ONLY commit — no data file is rewritten, ever. The first
    * rename enables `name`-mode column mapping: every column's physical
    * name (what the files carry) is frozen at its current name, and the
    * logical schema is free to diverge. Renames compose with time
    * travel (old versions show old names), data skipping (stats key on
    * physical names, which never change), DVs, CDF, compaction, and
    * RESTORE (which restores the old names). Rejected if the column is
    * referenced by a CHECK constraint (same rule as Delta) or the new
    * name already exists. Serializable; returns the commit's version. */
  def renameColumn(spark: SparkSession, table: String, oldName: String,
      newName: String, commitKey: Option[String] = None): Long =
    retryingRewrite(spark, table, "rename_column", commitKey) { snap =>
      val schema = tableSchema(spark, snap)
      require(schema.fieldNames.contains(oldName),
        s"no column '$oldName' in '$table' (${schema.fieldNames.mkString(", ")})")
      require(!schema.fieldNames.contains(newName),
        s"column '$newName' already exists in '$table'")
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      // a generated column renames WITH its declaration; an expression
      // referencing the old name fails the resolution check below
      val gens = VersionedParquetSink.Constraints.parse(snap.generated)
      val newGens = gens.map { case (n, sql) =>
        (if (n == oldName) newName else n) -> sql
      }
      requireConstraintsResolve(spark, table, snap, newSchema, newGens,
        s"rename column '$oldName' to '$newName'")
      val mapping = currentOrIdentityMapping(snap, schema)
      val renamed = mapping.map { case (l, e) =>
        (if (l == oldName) newName else l) -> e
      }
      // column-name-bearing TBLPROPERTIES follow the rename in the SAME
      // commit (the bloom index keys sidecars on stable PHYSICAL names,
      // so existing sidecars keep pruning under the new logical name)
      val props = VersionedParquetSink.Constraints.parse(snap.props)
      val newProps = props.map {
        case (k @ BloomIndex.ColsProp, v) =>
          k -> v.split(',').map(_.trim)
            .map(c => if (c == oldName) newName else c).mkString(",")
        case other => other
      }
      commitMetadata(spark, snap, commitKey, newSchema, "rename_column")(d =>
        d.copy(mapping = VersionedParquetSink.ColumnMapping.render(renamed),
          generated = if (newGens == gens) d.generated
            else VersionedParquetSink.Constraints.render(newGens),
          props = if (newProps == props) d.props
            else VersionedParquetSink.Constraints.render(newProps)))
    }

  /** ALTER TABLE DROP COLUMN (Delta column-mapping parity): a
    * METADATA-ONLY commit — the physical column stays in the files but
    * no reader at or past this version projects it. A later evolution
    * append re-adding the same logical name gets a FRESH physical name
    * and id, so the dropped data never resurrects (time travel before
    * the drop still sees it). Rejected if a CHECK constraint references
    * the column or it is the table's last column. */
  def dropColumn(spark: SparkSession, table: String, name: String,
      commitKey: Option[String] = None): Long =
    retryingRewrite(spark, table, "drop_column", commitKey) { snap =>
      val schema = tableSchema(spark, snap)
      require(schema.fieldNames.contains(name),
        s"no column '$name' in '$table' (${schema.fieldNames.mkString(", ")})")
      require(schema.fields.length > 1,
        s"cannot drop '$name': it is the last column of '$table'")
      val newSchema = StructType(schema.fields.filterNot(_.name == name))
      // dropping a generated column drops its declaration; dropping a
      // column another declaration REFERENCES fails resolution below
      val gens = VersionedParquetSink.Constraints.parse(snap.generated)
      val newGens = gens.filterNot(_._1 == name)
      requireConstraintsResolve(spark, table, snap, newSchema, newGens,
        s"drop column '$name'")
      val mapping = currentOrIdentityMapping(snap, schema)
      commitMetadata(spark, snap, commitKey, newSchema, "drop_column")(d =>
        d.copy(mapping = VersionedParquetSink.ColumnMapping.render(
            mapping.filterNot(_._1 == name)),
          generated = if (newGens == gens) d.generated
            else VersionedParquetSink.Constraints.render(newGens)))
    }

  /** ALTER TABLE ADD COLUMN (Delta parity): a METADATA-ONLY commit that
    * appends a nullable column to the schema — no data file is written
    * or touched; every existing row reads the column as NULL (exactly
    * the schema-evolution read semantics appends with `allowEvolution`
    * already get). On a mapped table the new column is minted a fresh
    * physical name/id, so it can never collide with a previously
    * dropped column's bytes. */
  def addColumn(spark: SparkSession, table: String, name: String,
      dataType: org.apache.spark.sql.types.DataType,
      commitKey: Option[String] = None): Long =
    retryingRewrite(spark, table, "add_column", commitKey) { snap =>
      val schema = tableSchema(spark, snap)
      require(!schema.fieldNames.contains(name),
        s"column '$name' already exists in '$table'")
      val newSchema = StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(name, dataType,
          nullable = true))
      val mapping = VersionedParquetSink.ColumnMapping.parse(snap.mapping)
      val newMapping =
        if (mapping.isEmpty) None // mapping stays off until rename/drop
        else VersionedParquetSink.ColumnMapping.render(mapping :+
          (name -> VersionedParquetSink.ColumnMapping.Entry(
            s"col-${UUID.randomUUID()}",
            mapping.map(_._2.id).max + 1)))
      commitMetadata(spark, snap, commitKey, newSchema, "add_column")(d =>
        d.copy(mapping = newMapping.orElse(d.mapping)))
    }

  /** GENERATED ALWAYS AS IDENTITY (Delta identity-column parity):
    * declares `name` as an engine-assigned BIGINT on an EXISTING table
    * — one metadata commit that adds the (nullable) column and records
    * the generator `(startWith, incrementBy, highWater)` in the props
    * payload. From then on every append ALLOCATES values: unique,
    * moving in the increment's direction, gaps allowed (Delta's
    * contract — each row gets `highWater + incrementBy·(k+1)` for a
    * per-row k from `monotonically_increasing_id`, and the new high
    * water is read from the commit's own per-file stats, no extra
    * pass). Writers may never supply the column (ALWAYS semantics).
    * Concurrent identity appends serialize: the allocation pins its
    * base version and a conflicting commit aborts-and-retries the whole
    * stage (Delta conflicts identity-high-water transactions the same
    * way). Pre-declaration rows read the column as NULL, including
    * through time travel.
    *
    * DML rewrites (UPDATE/DELETE/MERGE/applyChanges) preserve existing
    * values and pass supplied ones through DELIBERATELY — replication
    * flows (CDC apply, clone back-fill) must copy source ids verbatim;
    * only the APPEND path allocates. */
  def setIdentityColumn(spark: SparkSession, table: String, name: String,
      startWith: Long = 1L, incrementBy: Long = 1L,
      commitKey: Option[String] = None): Long = {
    require(incrementBy != 0L, "identity INCREMENT BY must be non-zero")
    retryingRewrite(spark, table, "identity_column", commitKey) { snap =>
      val schema = tableSchema(spark, snap)
      require(!schema.fieldNames.contains(name),
        s"column '$name' already exists in '$table' — identity columns " +
          "are declared fresh (their values are engine-owned)")
      val newSchema = StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(name,
          org.apache.spark.sql.types.LongType, nullable = true))
      val mapping = VersionedParquetSink.ColumnMapping.parse(snap.mapping)
      val newMapping =
        if (mapping.isEmpty) None
        else VersionedParquetSink.ColumnMapping.render(mapping :+
          (name -> VersionedParquetSink.ColumnMapping.Entry(
            s"col-${UUID.randomUUID()}", mapping.map(_._2.id).max + 1)))
      val merged = snap.properties + (s"graft.identity.$name" ->
        s"$startWith:$incrementBy:${startWith - incrementBy}")
      commitMetadata(spark, snap, commitKey, newSchema, "identity_column")(
        d => d.copy(mapping = newMapping.orElse(d.mapping),
          props = VersionedParquetSink.Constraints.render(merged.toSeq)))
    }
  }

  /** The current mapping, or — at first rename/drop — the identity
    * mapping that freezes every column's physical name at its current
    * one (consistent with every file already written). */
  private def currentOrIdentityMapping(snap: Snapshot,
      schema: StructType):
      Seq[(String, VersionedParquetSink.ColumnMapping.Entry)] = {
    val existing = VersionedParquetSink.ColumnMapping.parse(snap.mapping)
    if (existing.nonEmpty) existing
    else VersionedParquetSink.ColumnMapping.identity(schema)
  }

  /** A schema change must leave every CHECK constraint and generated-
    * column expression resolvable — renaming/dropping a column out from
    * under one would make all future writes fail (Delta rejects the
    * ALTER for the same reason). Resolution is the real analyzer's, on
    * an empty frame. */
  private def requireConstraintsResolve(spark: SparkSession, table: String,
      snap: Snapshot, newSchema: StructType,
      newGens: Seq[(String, String)], what: String): Unit = {
    import org.apache.spark.sql.functions.expr
    val dummy = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), newSchema)
    def check(kind: String, n: String, analyze: => Any): Unit =
      try { analyze; () }
      catch { case _: Exception =>
        throw new IllegalArgumentException(
          s"cannot $what on '$table': $kind '$n' references it — " +
            "drop it first")
      }
    VersionedParquetSink.Constraints.parse(snap.constraints)
      .foreach { case (n, sql) => check("CHECK constraint", n,
        dummy.filter(expr(sql)).queryExecution.analyzed) }
    // a generation expression is a value, not a predicate: resolve via
    // select (it must also still be computable, not just name-resolved)
    newGens.foreach { case (n, sql) =>
      check("generated-column expression for", n,
        dummy.select(expr(sql)).queryExecution.analyzed) }
  }

  /** A data-free [[Rewrite]] commit of `schema` carrying a metadata
    * change: `change` sets the payloads it changes on the draft, which
    * inherits the rest. */
  private def commitMetadata(spark: SparkSession, snap: Snapshot,
      commitKey: Option[String], schema: StructType, opName: String)(
      change: Commit => Commit): Long = {
    val table = snap.table
    val unique = s"d-${UUID.randomUUID()}"
    // the commit's data dir exists (every reader/vacuum invariant over
    // live dirs holds unchanged) but holds NO files — truly metadata-
    // only: explicit-schema parquet scans skip file-less dirs
    fs(spark, tableDir(table)).mkdirs(new Path(s"${tableDir(table)}/$unique"))
    claimedOrKeyed(spark, table, commitKey, s"$opName change")(
      commitLoop(spark, snap, Rewrite)(on => change(
        on.draft(unique, commitKey, schema.toDDL).copy(op = Some(opName)))))
  }

  /** Fuse the table's CHECK constraints into a write as a per-row guard:
    * a violating row throws (naming the constraint) inside the write's
    * own pass — zero extra jobs, stays in whole-stage codegen. */
  private def constraintGuard(df: DataFrame, constraints: Option[String],
      table: String): DataFrame = {
    import org.apache.spark.sql.functions.{concat, expr, not, raise_error, when}
    VersionedParquetSink.Constraints.parse(constraints)
      .foldLeft(df) { case (d, (name, sql)) =>
        d.filter(
          when(not(coalesce(expr(sql), lit(true))),
            raise_error(concat(
              lit(s"CHECK constraint '$name' violated writing to " +
                s"'$table': ($sql) is false"))))
            .otherwise(lit(true)))
      }
  }

  /** RESTORE TABLE ... TO VERSION AS OF (Delta RESTORE parity): commits
    * the table's content AND schema as they were at `toVersion` as a new
    * rewrite version — history is never erased, so the restore itself
    * can be time-traveled past or restored again. Live deletion vectors
    * are materialized by the restore's own rewrite. Like Delta, RESTORE
    * does not re-validate CHECK constraints added after `toVersion`
    * (constraint metadata keeps its CURRENT set). Serializable like
    * delete/merge; returns the committed version. */
  def restore(spark: SparkSession, table: String, toVersion: Long,
      commitKey: Option[String] = None): Long =
    retryingRewrite(spark, table, "restore", commitKey) { snap =>
      val atTo = snap.upTo(toVersion)
      require(atTo.nonEmpty, s"no committed versions <= $toVersion for $table")
      // RESTORE also restores the column MAPPING and generated-column
      // declarations as of toVersion: both bind to the restored schema's
      // columns (CURRENT CHECK constraints are kept — they are guards on
      // future writes, not schema metadata; Delta draws the same line)
      val restoredMap = VersionedParquetSink.ColumnMapping.parse(atTo.mapping)
      val out = content(spark, atTo)
      val (unique, stats) = writeDir(table, out, restoredMap, out.schema)
      claimedOrKeyed(spark, table, commitKey, "restore")(
        commitLoop(spark, snap, Rewrite)(_.draft(unique, commitKey,
            atTo.schemaDdl.getOrElse(out.schema.toDDL))
          .copy(compacts = Some(snap.version), op = Some("restore"),
            stats = Some(stats), mapping = atTo.mapping,
            generated = atTo.generated)))
    }

  /** The table's content as of `snap`: its live dirs, live masks
    * applied (what [[readAt]] serves for the snapshot's version). */
  private def content(spark: SparkSession, snap: Snapshot): DataFrame =
    spark.baseRelationToDataFrame(
      GraftRelation(spark, tableDir(snap.table), snap))

  /** The schema [[content]] reads with, without planning a scan. */
  private def schemaOf(spark: SparkSession, snap: Snapshot): StructType =
    GraftRelation.logicalSchema(spark, tableDir(snap.table), snap)

  /** The committed schema as written (nullability kept), or — for
    * markers older than commit schemas — the data files' schema. */
  private def tableSchema(spark: SparkSession, snap: Snapshot): StructType =
    snap.schemaDdl.map(StructType.fromDDL).getOrElse(schemaOf(spark, snap))

  /** The version a rewrite committed — or, when it lost its claim to a
    * same-key racer, the racer's (a replay, not a failure). */
  private def claimedOrKeyed(spark: SparkSession, table: String,
      commitKey: Option[String], what: String)(claimed: Option[Long]): Long =
    claimed.orElse(commitKey.flatMap(readLog(spark, table).versionOf))
      .getOrElse(throw new IllegalStateException(
        s"$what of $table lost the commit race with no keyed winner"))

  /** Optimistic-retry scaffold shared by compact/delete/merge: reads the
    * log each attempt (the first may reuse the caller's read), short-
    * circuits keyed replays to the original version, and retries `body`
    * from a fresh read when a rewrite-conflict abort escapes — with a
    * bounded livelock guard. */
  private def retryingRewrite(spark: SparkSession, table: String,
      opName: String, commitKey: Option[String],
      first: Option[Snapshot] = None)(body: Snapshot => Long): Long = {
    val maxAttempts = 5
    var attempt = 0
    var reuse = first
    while (true) {
      val snap = reuse.getOrElse(readLog(spark, table))
      reuse = None
      require(snap.nonEmpty, s"no committed versions for $table: cannot $opName")
      commitKey.flatMap(snap.versionOf).foreach(v => return v)
      try {
        val v = body(snap)
        // every rewrite/metadata path funnels here: OPTIMIZE/REORG
        // outputs get their bloom sidecars without waiting for the next
        // append, and SET TBLPROPERTIES enabling the index backfills
        // immediately (one log read; no-op for un-indexed tables)
        bloomBestEffort(spark, table)
        return v
      } catch {
        case e: VersionedParquetSink.ConcurrentRewriteException =>
          attempt += 1
          if (attempt >= maxAttempts) throw e // livelock guard: surface it
      }
    }
    -1L // unreachable
  }

  /** Serializable read-modify-write for engine-internal maintenance
    * (SampleIndex.compact): derives the new content from the CURRENT
    * snapshot via `transform` and, when a concurrent commit wins the
    * race, RE-DERIVES from a fresh snapshot — unlike overwrite(df),
    * whose caller-computed frame would go stale, nothing a concurrent
    * writer appended can be lost. */
  private[engine] def rewriteSnapshot(spark: SparkSession, table: String,
      opName: String, commitKey: Option[String] = None)(
      transform: DataFrame => DataFrame): Long =
    rewriteWith(spark, table, opName, commitKey)((_, cur) => transform(cur))

  /** The shared copy-on-write loop: derive the new table content from the
    * current snapshot, write it to a unique dir, commit with
    * `compacts = <snapshot version>` (supersedes what it was derived
    * from), and retry from a FRESH snapshot when the serializability
    * check aborts. */
  private def rewriteWith(spark: SparkSession, table: String, opName: String,
      commitKey: Option[String])(
      transform: (Snapshot, DataFrame) => DataFrame): Long =
    retryingRewrite(spark, table, opName, commitKey) { snap =>
      val mapping = VersionedParquetSink.ColumnMapping.parse(snap.mapping)
      val out = transform(snap, content(spark, snap))
      val (unique, stats) = writeDir(table, out, mapping, out.schema)
      claimedOrKeyed(spark, table, commitKey, opName)(
        commitLoop(spark, snap, Rewrite)(_.draft(unique, commitKey,
            snap.schemaDdl.getOrElse(out.schema.toDDL))
          .copy(compacts = Some(snap.version), op = Some(opName),
            stats = Some(stats))))
    }

  /** Change-data-feed between two versions (Delta CDF parity): the rows
    * added and removed going from `fromV` to `toV`, tagged with a
    * `_change_type` column (`insert` / `delete`; an upsert appears as
    * delete + insert of the key's row). `fromV = -1` means "from before
    * the first commit" (everything at `toV` is an insert).
    *
    * Append-only ranges are served for FREE: the changed rows are exactly
    * the range's data directories, read directly — no comparison (this is
    * why CDC consumers of an append-only ingest table pay O(new data),
    * never O(table)). COMPACTIONS in the range are content-preserving, so
    * they are skipped and the fast path survives periodic OPTIMIZE runs —
    * CDC consumers and table maintenance coexist for free. Only a range
    * containing a DATA-CHANGING rewrite (delete/merge — or a pre-`op`-
    * field rewrite marker, which cannot be told apart from one) falls
    * back to two distributed exceptAll anti-joins — O(table), the honest
    * cost of diffing arbitrary rewrites without per-commit change files
    * (which is how Delta's CDF avoids it, at write-time cost). */
  def changesBetween(spark: SparkSession, table: String, fromV: Long,
      toV: Long): DataFrame = {
    require(fromV <= toV, s"changesBetween: fromV $fromV > toV $toV")
    val snap = readLog(spark, table)
    val upToTo = snap.upTo(toV)
    require(upToTo.nonEmpty, s"no committed versions <= $toV for $table")
    val range = upToTo.entries.filter(_.version > fromV)
    def withType(df: DataFrame, t: String): DataFrame =
      df.withColumn("_change_type", lit(t))
    // a mask-carrying commit (DV delete / merge-on-read update) CHANGES
    // data without being a rewrite marker: any such commit in range
    // forces the snapshot-diff path (which reads masked snapshots and
    // reports masked rows as deletes, updated rows as delete+insert)
    // a selective fold (replaces.nonEmpty) is content-preserving like a
    // full compaction: excluded from the insert dirs (its rows are the
    // replaced dirs' rows, already delivered), allowed in the fast path
    val fastRange = range.filter(e =>
      e.compacts.isEmpty && e.replaces.isEmpty && !e.isMergeOnRead)
    if (range.forall(e =>
        (e.compacts.isEmpty && !e.isMergeOnRead) ||
          e.op.contains("compact"))) {
      // schema and mapping as of toV; an empty range reads no files
      withType(spark.baseRelationToDataFrame(GraftRelation.forDirs(spark,
        tableDir(table), upToTo, fastRange)), "insert")
    } else {
      val b = content(spark, upToTo)
      val atFrom = snap.upTo(fromV)
      val a0 =
        if (atFrom.nonEmpty) content(spark, atFrom)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], b.schema)
      // align the pre-evolution snapshot to toV's columns (missing = null)
      val a = b.schema.fields.foldLeft(a0) { (df, f) =>
        if (a0.columns.contains(f.name)) df
        else df.withColumn(f.name, lit(null).cast(f.dataType))
      }.select(b.columns.map(col): _*)
      withType(b.exceptAll(a), "insert")
        .unionByName(withType(a.exceptAll(b), "delete"))
    }
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE t SHALLOW CLONE s` parity):
    * creates `target` as a METADATA-ONLY copy of `source` — every commit
    * marker replays byte-identical except its data dir, re-pointed at
    * the source table's directory (`../<source>/<dir>`, resolved by
    * [[VersionedParquetSink.resolveDir]] on every read). No data files
    * are copied: cloning a 100 TB table is an O(versions) marker write.
    * The clone then lives its own life — appends, deletes (masks over
    * source-owned files key on the prefix-independent last-two-segment
    * relative path, so they compose), compactions and vacuum land in
    * the CLONE's directory and never touch the source, and vice versa.
    * Because the whole manifest is cloned, time travel and CDF below
    * the clone point keep working on the clone (beyond Delta, whose
    * clones flatten history to one commit). Schema, CHECK constraints,
    * column mapping, generated columns, TBLPROPERTIES and idempotency
    * keys all carry over — keys intentionally, Delta's clones preserve
    * streaming txn ids for the same reason: a writer redirected to the
    * clone must not double-append its last batch.
    *
    * The Delta-documented hazard applies identically: VACUUM
    * (`includeSuperseded=true`) or data-removing maintenance on the
    * SOURCE deletes files the clone references — the source's manifest
    * doesn't know about clones. Vacuum on the CLONE is always safe: it
    * only ever deletes directories under the clone's own table dir. */
  def cloneShallow(spark: SparkSession, source: String,
      target: String, versionAsOf: Option[Long] = None): Long = {
    require(source != target, s"cannot clone '$source' onto itself")
    // CLONE ... VERSION AS OF: the clone is the source AS OF v — its log
    // stops there, so later source commits are invisible to it (and time
    // travel below v still works on the clone)
    val snap = versionAsOf.foldLeft(readLog(spark, source))(_.upTo(_))
    require(snap.nonEmpty, versionAsOf match {
      case Some(v) => s"no committed versions <= $v for $source"
      case None => s"no committed versions for $source"
    })
    val targetLog = log(spark, target)
    require(targetLog.snapshot().isEmpty,
      s"clone target '$target' already exists")
    // Register the clone FIRST with every table whose data it will
    // reference (the flattened owner — normally `source`, the original
    // for re-clones): a `_clones/<target>` breadcrumb that [[vacuum]]
    // consults so a source vacuum KEEPS directories live clones still
    // read. This closes Delta's documented shallow-clone hazard (vacuum
    // on the source silently breaks every clone). Breadcrumb before
    // markers: a vacuum racing the clone must already see the hold (it
    // tolerates a not-yet-committed clone within its grace period); the
    // breadcrumb is dropped once the clone's commit log disappears
    // (DROP TABLE) or never materializes.
    snap.entries.map(e => VersionedParquetSink
        .resolveDir(tableDir(source), e.dir).stripPrefix(s"$basePath/")
        .takeWhile(_ != '/'))
      .distinct.foreach { owner =>
      val bc = new Path(s"${tableDir(owner)}/_clones/$target")
      val bf = fs(spark, tableDir(owner))
      bf.mkdirs(bc.getParent)
      val out = bf.create(bc, true)
      try out.write(target.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    val cloned = snap.entries.map { e =>
      // flatten chained clones: an ALREADY-escaping dir re-pointed at
      // this source would stack ../ hops — resolve to the owning table
      // first so every clone references the original data directly
      val abs = VersionedParquetSink.resolveDir(tableDir(source), e.dir)
      val body = e.withDir("../" + abs.stripPrefix(s"$basePath/"))
      if (!targetLog.claim(coordinator, body, e.version))
        throw new java.io.IOException(s"clone target '$target' gained " +
          s"commits concurrently (marker v${e.version})")
      Commit.parse(body, Some(e.version))
    }
    // external interop: mirror the cloned log into the clone's own
    // _delta_log (add actions carry absolute URIs for the cross-table
    // files, the Delta-spec form its own shallow clones use)
    DeltaLogMirror.sync(spark, tableDir(target), Snapshot(target, cloned))
    snap.version
  }

  /** VACUUM: delete data directories no reader can see — orphans left by
    * writers that died before committing — and, with
    * `includeSuperseded=true`, the pre-compaction directories a
    * [[compact]] superseded (which truncates time travel to the latest
    * compaction, exactly like Delta's VACUUM vs its retention window).
    *
    * `graceMs` guards in-flight writers: an uncommitted directory younger
    * than the grace period might belong to a writer between its data
    * write and its marker claim, so it is left alone (Delta's
    * "retention check" for the same race). Returns the deleted count.
    *
    * `includeSuperseded=true` also truncates [[changesBetween]]'s fast
    * path for ranges below the latest rewrite (their append dirs are
    * gone), exactly as it truncates time travel — Delta's VACUUM has the
    * same effect on its CDF retention. */
  def vacuum(spark: SparkSession, table: String, graceMs: Long = -1L,
      includeSuperseded: Boolean = false, dryRun: Boolean = false): Int = {
    val f = fs(spark, tableDir(table))
    val td = new Path(tableDir(table))
    if (!f.exists(td)) return 0
    val snap = readLog(spark, table)
    // graceMs < 0 = "table default": the retention TBLPROPERTIES
    // (Delta's deletedFileRetentionDuration, time strings like "7d"),
    // else one hour — an explicit caller argument always wins
    val vacProps = snap.properties
    val grace: Long =
      if (graceMs >= 0L) graceMs
      else vacProps.get("graft.deletedFileRetentionDuration")
        .map(org.apache.spark.network.util.JavaUtils.timeStringAsMs)
        .getOrElse(3600000L)
    // opt-in log retention rides the same maintenance pass
    if (!dryRun) vacProps.get("graft.logRetentionDuration")
      .map(org.apache.spark.network.util.JavaUtils.timeStringAsMs)
      .foreach(ms => retireLog(spark, snap, ms))
    // Staged dirs named by a pending `_txn` manifest are NOT orphans:
    // the transaction passed its commit point, so the batch is durable
    // for every table and recovery WILL claim these dirs — deleting one
    // would make all-or-none unrestorable. Quarantined (`.failed`)
    // manifests keep their dirs too, for manual repair; deleting the
    // quarantined manifest releases them to a later vacuum.
    val txnStagedDirs: Set[String] = {
      val fb = fs(spark, basePath)
      val d = new Path(txnDir)
      if (!fb.exists(d)) Set.empty
      else fb.listStatus(d).toSeq.filter(st => st.isFile &&
          (st.getPath.getName.endsWith(".json") ||
            st.getPath.getName.endsWith(".json.failed")))
        // an unparseable manifest fails the vacuum naming the file: the
        // dirs it pins are unknowable
        .flatMap(st => readTxn(spark, st.getPath).get._2
          .filter(_.table == table).map(_.unique)).toSet
    }
    val now = System.currentTimeMillis()
    // Clone holds: every registered clone (a `_clones/<name>` breadcrumb
    // written by [[cloneShallow]] BEFORE its markers) pins the local
    // dirs its manifest still references — a source vacuum must never
    // break a live clone (the Delta hazard this protocol closes). A
    // breadcrumb whose clone has no commit log is stale (dropped table
    // or crashed clone) and is garbage-collected here — but only past
    // the grace period, since a racing cloneShallow writes the
    // breadcrumb before its first marker.
    // A breadcrumb younger than the grace period whose clone has NOT
    // yet committed its first marker is a clone IN FLIGHT — its
    // manifest is unreadable, so the dirs it will reference (possibly
    // superseded ones, for a VERSION AS OF clone) are unknowable. Hold
    // ALL of the source's manifest dirs for this pass rather than none:
    // an includeSuperseded vacuum racing that window must not delete
    // history the pending clone is about to pin.
    var pendingClone = false
    val cloneHeld: Set[String] = {
      val cd = new Path(s"${tableDir(table)}/_clones")
      if (!f.exists(cd)) Set.empty
      else f.listStatus(cd).toSeq.filter(_.isFile).flatMap { st =>
        val cloneName = st.getPath.getName
        val clone = readLog(spark, cloneName)
        if (clone.isEmpty) {
          if (now - st.getModificationTime >= grace) {
            if (!dryRun) f.delete(st.getPath, false)
          } else pendingClone = true
          Seq.empty
        } else clone.entries.map(_.dir)
          .filter(_.startsWith(s"../$table/"))
          .map(_.stripPrefix(s"../$table/").takeWhile(_ != '/'))
      }.toSet
    }
    // every commit's dir, or only the live ones (= the latest read's
    // scan set) when superseded history may go
    val held = if (!includeSuperseded || pendingClone) snap.entries
      else snap.live
    val keep: Set[String] = txnStagedDirs ++ cloneHeld ++ held.map(_.dir)
    // `_txn/.tmp-*` files are writers that died BEFORE the manifest
    // rename (= before the commit point): true orphans after the grace
    // period, same rule as uncommitted data dirs
    val fb = fs(spark, basePath)
    val txnD = new Path(txnDir)
    if (fb.exists(txnD)) fb.listStatus(txnD).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(".tmp-"))
      .filter(st => now - st.getModificationTime >= grace)
      .foreach(st => if (!dryRun) fb.delete(st.getPath, false))
    // clone-local bloom sidecars (`_bloom_ext/<digest>`) GC with the
    // inherited entries that reference them — same retention window
    // and superseded semantics as the data dirs they serve
    val extKeep: Set[String] = held.filter(_.dir.startsWith("../"))
        .map(e => new Path(
          BloomIndex.extRoot(tableDir(table), e.dir)).getName).toSet
    val extD = new Path(s"${tableDir(table)}/_bloom_ext")
    if (f.exists(extD)) f.listStatus(extD).toSeq
      .filter(st => st.isDirectory && !extKeep.contains(st.getPath.getName))
      .filter(st => now - st.getModificationTime >= grace)
      .foreach(st => if (!dryRun) f.delete(st.getPath, true))
    // dryRun (Delta's VACUUM ... DRY RUN): report what WOULD be deleted,
    // touch nothing
    f.listStatus(td).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("d-"))
      .filter(st => !keep.contains(st.getPath.getName))
      .filter(st => now - st.getModificationTime >= grace)
      .map { st => if (!dryRun) f.delete(st.getPath, true); 1 }.sum
  }

  override def appendPartitioned(df: DataFrame, table: String,
      partitionCols: Seq[String]): Unit =
    throw new UnsupportedOperationException(
      "VersionedParquetSink versions whole commits; use ParquetTableSink for hive partitioning")

  /** Overwrite as a LOGGED rewrite commit (Delta's
    * `mode("overwrite")` semantics): the new content lands in a unique
    * dir and commits with `compacts = <latest version>`, so the swap is
    * atomic (a concurrent reader sees the old table or the new one,
    * never a missing table), history stays time-travelable, and the
    * streaming tail sees it as a data-changing commit. The schema is
    * REPLACED by the frame's (Delta's `overwriteSchema`); surviving
    * mapped columns keep their frozen physical names, new ones mint
    * fresh physicals (dropped physicals are never reused). Write
    * governance rides the rewrite like any other write: generated
    * columns computed/validated, CHECK constraints guarded. */
  override def overwrite(df: DataFrame, table: String): Unit =
    overwrite(df, table, commitKey = None)

  /** Keyed overwrite — the exactly-once form streaming complete-mode
    * epochs ride: a marker already carrying `commitKey` makes the whole
    * rewrite a no-op (retryingRewrite's keyed short-circuit), so a
    * crash-replayed epoch truncates/rewrites exactly once. */
  def overwrite(df: DataFrame, table: String,
      commitKey: Option[String]): Unit =
    overwriteFrom(df, table, commitKey, readLog(df.sparkSession, table))

  /** [[overwrite]] whose first attempt uses the caller's log read. */
  private def overwriteFrom(df: DataFrame, table: String,
      commitKey: Option[String], first: Snapshot): Unit = {
    val spark = df.sparkSession
    if (first.isEmpty) {
      doAppend(df, table, commitKey, first = Some(first))
      return
    }
    retryingRewrite(spark, table, "overwrite", commitKey, Some(first)) { snap =>
      val completed = completeGenerated(df, snap.generated, None, table)
      val guarded = constraintGuard(completed, snap.constraints, table)
      val mappingJson = snap.mapping
      val mapping = VersionedParquetSink.ColumnMapping.parse(mappingJson)
      val kept = mapping.filter { case (n, _) =>
        completed.columns.contains(n) }
      val newCols = if (mappingJson.isDefined)
        completed.schema.fields.toSeq
          .filterNot(f => mapping.exists(_._1 == f.name))
      else Seq.empty
      val maxId = mapping.map(_._2.id).maxOption.getOrElse(0)
      val extended = kept ++ newCols.zipWithIndex.map { case (f, i) =>
        f.name -> VersionedParquetSink.ColumnMapping.Entry(
          s"col-${UUID.randomUUID()}", maxId + 1 + i)
      }
      val (unique, stats) =
        writeDir(table, guarded, extended, completed.schema)
      claimedOrKeyed(spark, table, commitKey, "overwrite")(
        commitLoop(spark, snap, Rewrite)(_.draft(unique, commitKey,
            completed.schema.toDDL)
          .copy(compacts = Some(snap.version), op = Some("overwrite"),
            stats = Some(stats), mapping = mappingJson.flatMap(_ =>
              VersionedParquetSink.ColumnMapping.render(extended)))))
    }
    ()
  }

  /** Snapshot = union of committed versions (orphan dirs are invisible). */
  override def read(spark: SparkSession, table: String): DataFrame =
    readAt(spark, table, Long.MaxValue)

  /** Time travel: the table as of version `v` (inclusive). A compaction
    * commit <= v replaces everything it folded in (its `compacts`
    * high-water mark); versions before a compaction stay readable because
    * neither their markers nor their data dirs are deleted.
    *
    * The read uses the schema COMMITTED at `v` (like Delta, whose reader
    * schema comes from the log, not file footers): after schema
    * evolution, files written before a column existed read it as null —
    * and time travel to a pre-evolution version projects the later
    * columns away entirely. Served by [[GraftRelation]]: the file list
    * comes from the log, live deletion-vector masks apply inside the
    * scan, and a filter on the result prunes files by their stats. */
  def readAt(spark: SparkSession, table: String, v: Long): DataFrame =
    spark.baseRelationToDataFrame(baseRelation(spark, table, Some(v)))

  /** Attach the (file-relative path, row position) identity of every
    * scanned row, from the parquet source's `_metadata` columns — exact
    * and stable for immutable files, which is what deletion vectors key
    * on. The relative form is the file's LAST TWO path segments
    * (`<commit-dir>/<file>.parquet`) — equal to "relative to the owning
    * table dir" for local data, and prefix-independent so a relocated
    * table keeps its masks (Delta stores relative paths for the same
    * reason) and a SHALLOW CLONE's masks key identically whether a row
    * was scanned through the source table or through the clone's
    * re-pointed dirs. Same convention as GraftParquetFileFormat's
    * executor-side mask, which leaves `row_index` at the row's position
    * in its file. */
  private def withPosCols(df: DataFrame): DataFrame =
    df.withColumn("__dv_path", org.apache.spark.sql.functions.expr(
        "array_join(slice(split(_metadata.file_path, '/'), -2, 2), '/')"))
      .withColumn("__dv_pos", col("_metadata.row_index"))

  /** Data-skipping read (Delta's stats-based file pruning — its core
    * read-path win): the planner hands `condition` to the relation's
    * file index, which opens ONLY the files whose per-file min/max stats
    * (and Bloom sidecars, for point predicates on indexed columns) could
    * satisfy it; the full filter then applies above the scan. Pruning is
    * an optimization, never a correctness dependency — every unprunable
    * shape (unknown predicate, cast-wrapped column, commit written
    * before stats existed) degrades to scanning that commit's whole
    * directory. At 100 TB this is the difference between opening every
    * file of a z-ordered table and opening the handful whose ranges
    * overlap the predicate ([[ZOrder]] clusters; this skips). */
  def readWhere(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column): DataFrame =
    readAtWhere(spark, table, Long.MaxValue, condition)

  /** [[readWhere]] with time travel: the table as of version `v`,
    * stats-pruned for `condition`. */
  def readAtWhere(spark: SparkSession, table: String, v: Long,
      condition: org.apache.spark.sql.Column): DataFrame =
    readAt(spark, table, v).filter(condition)

  /** Timestamp time travel (Delta's `timestampAsOf`): the table as of the
    * LAST version committed at or before `ts` — commit wall-clocks come
    * from the marker `ts` field every commit writes. Throws if the first
    * commit is younger than `ts`. */
  def readAsOf(spark: SparkSession, table: String,
      ts: java.time.Instant): DataFrame =
    readAt(spark, table, versionAsOfTimestamp(spark, table, ts))

  /** The timestamp-resolution rule shared by every `timestampAsOf`
    * face (reads, RESTORE): the LAST version committed at or before
    * `ts`. Throws if the first timestamped commit is younger. */
  def versionAsOfTimestamp(spark: SparkSession, table: String,
      ts: java.time.Instant): Long = {
    val upTo = ts.toEpochMilli
    val snap = readLog(spark, table)
    require(snap.nonEmpty, s"no committed versions for $table")
    val noTs = snap.entries.count(_.ts.isEmpty)
    snap.entries.filter(_.ts.exists(_ <= upTo)).lastOption.getOrElse(
      throw new IllegalArgumentException {
        val earliest = snap.entries.flatMap(_.ts).headOption
          .map(java.time.Instant.ofEpochMilli(_).toString)
          .getOrElse("<no timestamped commits>")
        s"no version of $table committed at or before $ts " +
          s"(earliest timestamped commit: $earliest" +
          (if (noTs > 0) s"; $noTs commit(s) carry no timestamp and are " +
            "not reachable by timestamp — use readAt(version)" else "") + ")"
      })
      .version
  }

  override def exists(spark: SparkSession, table: String): Boolean =
    versions(spark, table).nonEmpty

  /** The `spark.read.format("graft")` relation for `table` (see
    * [[GraftRelation]]): commit-log stats pruning inside Catalyst's own
    * scan planning, stock vectorized parquet below. `version` /
    * `timestamp` give the time-travel forms (at most one). */
  def baseRelation(spark: SparkSession, table: String,
      version: Option[Long] = None,
      timestamp: Option[java.time.Instant] = None):
      org.apache.spark.sql.sources.BaseRelation = {
    require(version.isEmpty || timestamp.isEmpty,
      "specify at most one of versionAsOf / timestampAsOf")
    val all = readLog(spark, table)
    require(all.nonEmpty, s"no committed versions for $table")
    val v = version.orElse(timestamp.map { ts =>
      val upTo = ts.toEpochMilli
      all.entries.filter(_.ts.exists(_ <= upTo)).lastOption.getOrElse(
        throw new IllegalArgumentException(
          s"no version of $table committed at or before $ts")).version
    }).getOrElse(Long.MaxValue)
    val snap = all.upTo(v)
    require(snap.nonEmpty, s"no committed versions <= $v for $table")
    GraftRelation(spark, tableDir(table), snap)
  }

  /** Per-commit admission sizes for streaming rate limits
    * (`maxFilesPerTrigger`/`maxBytesPerTrigger`): every commit with
    * version > `fromV`, ascending, with the data-file count and bytes a
    * stream batch over that single version would serve. For the plain
    * append stream (`cdf = false`) only pure-append commits cost
    * anything (compactions/rewrites/DVs are never served, metadata-only
    * commits are free); for the change feed (`cdf = true`) every commit
    * with a dir is costed by its dir, a conservative proxy for the size
    * of its change rows. LAZY: callers stop consuming at their cap, so
    * a deep backlog costs one dir listing per ADMITTED commit per
    * trigger, not per backlog commit — the property that makes catching
    * up on a months-old checkpoint O(admitted) driver work per batch. */
  private[graft] def admissionSizes(spark: SparkSession, table: String,
      fromV: Long, cdf: Boolean = false): Iterator[(Long, Int, Long)] = {
    val f = fs(spark, tableDir(table))
    readLog(spark, table).entries.filter(_.version > fromV)
      .iterator.map { e =>
        val serves = cdf ||
          (e.compacts.isEmpty && e.replaces.isEmpty && !e.isMergeOnRead)
        if (!serves) (e.version, 0, 0L)
        else {
          val p = new Path(
            VersionedParquetSink.resolveDir(tableDir(table), e.dir))
          val files =
            if (!f.exists(p)) Array.empty[org.apache.hadoop.fs.FileStatus]
            else f.listStatus(p).filter(st =>
              st.isFile && st.getPath.getName.endsWith(".parquet"))
          (e.version, files.length, files.map(_.getLen).sum)
        }
      }
  }

  /** The [[streamSince]] range as a planner-integrated relation (file
    * scan over the range's append dirs, schema/mapping from the
    * `untilVersion` snapshot) — what the `readStream.format("graft")`
    * source serves per micro-batch. Same data-changing-commit contract
    * as [[streamSince]]. */
  private[graft] def streamBatchRelation(spark: SparkSession, table: String,
      fromVersion: Long, untilVersion: Long, skipChangeCommits: Boolean):
      org.apache.spark.sql.sources.BaseRelation = {
    val snap = readLog(spark, table).upTo(untilVersion)
    require(snap.nonEmpty,
      s"no committed versions for $table at or before v$untilVersion")
    appendsSince(spark, table, snap, fromVersion, skipChangeCommits)
  }

  /** The appends in `(fromVersion, snap.version]` as a relation
    * projected to the snapshot's schema; an append-free range reads no
    * files. Throws on a data-changing commit in range unless skipped. */
  private def appendsSince(spark: SparkSession, table: String,
      snap: Snapshot, fromVersion: Long, skipChangeCommits: Boolean):
      org.apache.spark.sql.sources.BaseRelation = {
    val range = snap.entries.filter(_.version > fromVersion)
    val changing = range.filter(e =>
      (e.compacts.isDefined && !e.op.contains("compact")) ||
        e.isMergeOnRead)
    if (changing.nonEmpty && !skipChangeCommits)
      throw new IllegalStateException(
        s"stream over '$table' from v$fromVersion: data-changing commit(s) " +
          s"${changing.map(e => s"v${e.version}(${e.op.getOrElse("rewrite")})")
            .mkString(", ")} in range — streaming a table that rewrites " +
          "history needs skipChangeCommits=true (appends-only delivery) " +
          "or a CDF consumer (changesBetween)")
    GraftRelation.forDirs(spark, tableDir(table), snap, range.filter(e =>
      e.compacts.isEmpty && e.replaces.isEmpty && !e.isMergeOnRead))
  }

  /** DESCRIBE HISTORY parity: one row per commit, newest first —
    * version, commit timestamp, operation (WRITE for plain appends),
    * whether it superseded earlier versions (rewrite high-water mark),
    * and the idempotency key if the writer supplied one. Driver-side
    * over one log read — never scans data. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    readLog(spark, table).entries.reverse.map { e =>
      // operation metrics (Delta's operationMetrics): file/row counts
      // from the commit's OWN stats payload — no data scan
      val perFile = e.stats.map(FileStats.parse).getOrElse(Map.empty)
      (e.version,
        e.ts.map(m => new java.sql.Timestamp(m)).orNull,
        e.op.map(_.toUpperCase).getOrElse("WRITE"),
        e.compacts.map(java.lang.Long.valueOf).orNull,
        e.key.orNull,
        if (e.stats.isEmpty) null
        else java.lang.Long.valueOf(perFile.size.toLong),
        if (e.stats.isEmpty) null
        else java.lang.Long.valueOf(perFile.values.map(_.numRecords).sum),
        e.userMeta.orNull)
    }.toDF("version", "timestamp", "operation", "supersedes", "commitKey",
      "numFiles", "numRecords", "userMetadata")
  }

  /** DESCRIBE DETAIL (Delta parity): one row of table-level metadata —
    * format, name, location, created/last-modified commit times, live
    * file count and bytes, TBLPROPERTIES, current version, and the
    * number of live deletion-vector commits awaiting materialization.
    * Reads the commit log plus one listing per LIVE data dir (O(live
    * files), like Delta computing the same from its log — never a data
    * scan). Partition columns are always empty: graft tables version
    * whole commits and cluster via Z-ORDER instead. */
  def describeDetail(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val snap = readLog(spark, table)
    require(snap.nonEmpty, s"no committed versions for $table")
    val live = snap.live
    val f = fs(spark, tableDir(table))
    val dataFiles = live.filterNot(_.isDv).flatMap { e =>
      val p = new Path(
        VersionedParquetSink.resolveDir(tableDir(table), e.dir))
      if (!f.exists(p)) Nil
      else f.listStatus(p).toSeq.filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
    }
    Seq((
      "graft", table, tableDir(table),
      snap.entries.head.ts.map(new java.sql.Timestamp(_)).orNull,
      snap.latest.flatMap(_.ts).map(new java.sql.Timestamp(_)).orNull,
      Seq.empty[String],
      dataFiles.size.toLong,
      dataFiles.map(_.getLen).sum,
      snap.properties,
      snap.version,
      live.count(_.isDv).toLong))
      .toDF("format", "name", "location", "createdAt", "lastModified",
        "partitionColumns", "numFiles", "sizeInBytes", "properties",
        "version", "numDeletionVectors")
  }

  /** Streaming-source read (Delta streaming-source parity): the rows
    * appended in `(fromVersion, latest]`, plus the latest version to
    * feed back as the next cursor. Pure appends are served straight
    * from their commit dirs — O(new data), never O(table) — and
    * content-preserving compactions are skipped, so CDC tailing and
    * OPTIMIZE coexist. A DATA-CHANGING commit in the range
    * (delete/merge/restore/DV/update) throws, exactly like Delta's
    * streaming source on a changed file, unless `skipChangeCommits`
    * (Delta's option of the same name) is set — then those commits are
    * passed over and only appends are delivered. Metadata-only commits
    * (constraints, generated columns, renames/drops) are silently
    * fine; the batch is projected to the LATEST logical schema.
    *
    * Exactly-once recipe: process each batch with an idempotency key
    * derived from the version range (e.g. `"$table:$from-$to"`) via
    * [[appendOnce]]/applyChanges, persist the returned cursor with the
    * output, and replays dedup on the key. */
  def streamSince(spark: SparkSession, table: String, fromVersion: Long,
      skipChangeCommits: Boolean = false,
      untilVersion: Option[Long] = None): (Long, DataFrame) = {
    val snap = untilVersion.foldLeft(readLog(spark, table))(_.upTo(_))
    require(snap.nonEmpty, s"no committed versions for $table" +
      untilVersion.fold("")(u => s" at or before v$u"))
    (snap.version, spark.baseRelationToDataFrame(
      appendsSince(spark, table, snap, fromVersion, skipChangeCommits)))
  }
}

object VersionedParquetSink {

  /** Bytes of Catalyst-measured size per written file: the default of
    * `graft.optimizeWrite.targetBytes`, and the target the pipelines
    * shape their table writes to. */
  val WriteTargetBytes: Long = 128L * 1024 * 1024

  /** Files for `bytes` of rows at `target` bytes each:
    * `ceil(bytes / target)`, at least 1 and at most `limit` (a
    * coalesce can only merge the partitions a frame has). */
  def sizedPartitions(bytes: BigInt, target: Long, limit: Int): Int =
    ((bytes + target - 1) / target).max(1).min(limit.max(1)).toInt

  /** The ONE parser for the `graft.identity.<col>` = "start:step:hw"
    * TBLPROPERTIES codec — shared by the sink's allocation path and the
    * `_delta_log` mirror so the two can never drift. */
  private[engine] def identityDecls(
      props: Map[String, String]): Map[String, (Long, Long, Long)] =
    props.collect {
      case (k, v) if k.startsWith("graft.identity.") =>
        val Array(s, i, h) = v.split(':')
        k.stripPrefix("graft.identity.") -> ((s.toLong, i.toLong, h.toLong))
    }
  /** Serializes marker claims within one JVM (see commitLoop). */
  private[engine] val localClaimLock = new Object

  /** Daemon threads for [[concurrently]]: a cached pool, so it holds as
    * many threads as tasks are in flight, and idle ones retire after a
    * minute. */
  private lazy val stagingPool: ExecutorService = {
    val ids = new AtomicInteger
    Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"graft-stage-${ids.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** `f` over every element of `xs` at once, one task each, results in
    * `xs` order. Each task runs through `withThreadLocalCaptured`, so it
    * sees the caller's active session and local properties: its jobs
    * join the caller's SQL execution and job group, and cancelling the
    * group (a stream's `stop()`) cancels them too. Returns or throws only
    * after every task has ended, also when a task fails or the caller is
    * interrupted while it waits; then throws the first failure in `xs`
    * order (the others suppressed on it), or an `InterruptedException`
    * when every task succeeded but the wait was interrupted. */
  private def concurrently[A, B](spark: SparkSession, xs: Seq[A])(
      f: A => B): Seq[B] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val tasks = xs.map(x =>
      SQLExecution.withThreadLocalCaptured(session, stagingPool)(f(x)))
    // join() waits through an interrupt and sets the flag again after
    Try(CompletableFuture.allOf(tasks: _*).join())
    val interrupted = Thread.interrupted()
    val failures = tasks.flatMap(t => Try(t.join()).failed.toOption.map {
      case e: CompletionException if e.getCause != null => e.getCause
      case e => e
    })
    if (failures.nonEmpty || interrupted) {
      val first = failures.headOption.getOrElse(new InterruptedException(
        "interrupted while staging; every staging write has ended"))
      failures.drop(1).foreach(first.addSuppressed)
      // a failure thrown in place of the interrupt keeps it pending
      if (interrupted && failures.nonEmpty)
        Thread.currentThread().interrupt()
      throw first
    }
    tasks.map(_.join())
  }

  /** Resolve a commit's data dir against its table dir. A plain dir is
    * the fast-path concatenation; a `../`-escaping dir (written by
    * SHALLOW CLONE markers, which re-point at the source table's data)
    * is resolved TEXTUALLY to a clean absolute path — `..` components
    * must never reach a FileSystem (HDFS rejects them; local FS would
    * resolve but list back unnormalized paths). */
  private[graft] def resolveDir(tableBase: String, dir: String): String =
    if (!dir.startsWith("../")) s"$tableBase/$dir"
    else (tableBase.split('/').toVector ++ dir.split('/'))
      .foldLeft(Vector.empty[String]) {
        case (acc, "..") if acc.nonEmpty && acc.last != ".." => acc.dropRight(1)
        case (acc, s) => acc :+ s
      }.mkString("/")

  /** A staged-but-unclaimed append: the written data dir plus everything
    * the commit claim needs (schema, stats, the governance state the
    * rows were validated against). Serializable into the `_txn` manifest
    * so a crashed multi-table transaction can be completed by any later
    * process. */
  private[engine] final case class Staged(table: String, unique: String,
      schemaDdl: String, statsJson: String, constraints: Option[String],
      mapping: Option[String], newMapping: Option[String],
      generated: Option[String]) {
    /** The governance the rows were validated against: the constraint
      * and generated-column sets, and the mapping whenever the table is
      * mapped (the files carry its physical names, so a concurrent
      * rename/drop must abort the claim — otherwise a drop racing a
      * non-extending evolution append could re-add the column under the
      * dropped column's frozen physical name and resurrect old data). */
    def pins: Map[Pin, Option[String]] =
      Map[Pin, Option[String]](Pin.Constraints -> constraints,
        Pin.Generated -> generated) ++ mapping.map(_ => Pin.Mapping -> mapping)

    /** This dir's marker draft on `on`. */
    def draft(on: Snapshot, key: Option[String]): Commit = {
      val d = on.draft(unique, key, schemaDdl)
      d.copy(stats = Some(statsJson), mapping = newMapping.orElse(d.mapping))
    }
  }

  /** The conflict rule of a commit claim: what a commit that landed after
    * the claim's snapshot does to it (the table in `commitLoop`'s doc). */
  private[engine] sealed trait Conflict
  /** Lands past newer commits; `pins` must still be the latest commit's
    * payloads and the latest schema must accept the draft's. */
  private[engine] final case class Append(allowEvolution: Boolean,
      pins: Map[Pin, Option[String]]) extends Conflict
  /** Any newer commit aborts: a read-modify-write of the whole table. */
  private[engine] case object Rewrite extends Conflict
  /** Only a newer compaction, fold or merge-on-read commit aborts. */
  private[engine] case object Fold extends Conflict

  /** A metadata payload an [[Append]] can pin. */
  private[engine] sealed abstract class Pin(val of: Snapshot => Option[String])
  private[engine] object Pin {
    case object Props extends Pin(_.props)
    case object Constraints extends Pin(_.constraints)
    case object Mapping extends Pin(_.mapping)
    case object Generated extends Pin(_.generated)
    /** The order a claim checks them in. */
    val values: Seq[Pin] = Seq(Props, Constraints, Mapping, Generated)
  }

  private[engine] object Staged {
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.core.JsonParser.Feature
        .STRICT_DUPLICATE_DETECTION)
      .enable(com.fasterxml.jackson.databind.DeserializationFeature
        .FAIL_ON_TRAILING_TOKENS)
    def renderTxn(key: String, staged: Seq[Staged]): String = {
      val root = mapper.createObjectNode()
      root.put("key", key)
      val arr = root.putArray("tables")
      staged.foreach { s =>
        val n = arr.addObject()
        n.put("table", s.table)
        n.put("dir", s.unique)
        n.put("schemaDdl", s.schemaDdl)
        n.put("stats", s.statsJson)
        s.constraints.foreach(n.put("constraints", _))
        s.mapping.foreach(n.put("mapping", _))
        s.newMapping.foreach(n.put("newMapping", _))
        s.generated.foreach(n.put("generated", _))
      }
      mapper.writeValueAsString(root)
    }
    /** Throws on anything that is not one well-formed manifest. */
    def parseTxn(json: String): (String, Seq[Staged]) = {
      import scala.jdk.CollectionConverters._
      type Node = com.fasterxml.jackson.databind.JsonNode
      def opt(n: Node, f: String): Option[String] = Option(n.get(f)).map { v =>
        require(v.isTextual, s"field '$f' is not a string"); v.asText }
      def req(n: Node, f: String): String =
        opt(n, f).getOrElse(throw new IllegalArgumentException(s"no '$f' field"))
      val root = mapper.readTree(json)
      require(root != null && root.isObject, "not a JSON object")
      val tables = Option(root.get("tables")).filter(_.isArray)
        .getOrElse(throw new IllegalArgumentException("no 'tables' array"))
      val staged = tables.elements().asScala.map { n =>
        Staged(req(n, "table"), req(n, "dir"), req(n, "schemaDdl"),
          req(n, "stats"), opt(n, "constraints"), opt(n, "mapping"),
          opt(n, "newMapping"), opt(n, "generated"))
      }.toSeq
      (req(root, "key"), staged)
    }
  }

  /** CHECK-constraint set serialization: a JSON object of name -> SQL
    * expression, keys sorted so equal sets render byte-identically (the
    * commit loop compares renderings to detect concurrent changes). */
  private[engine] object Constraints {
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def parse(json: Option[String]): Seq[(String, String)] =
      json.toSeq.flatMap { j =>
        import scala.jdk.CollectionConverters._
        mapper.readTree(j).properties().asScala
          .map(p => p.getKey -> p.getValue.asText).toSeq
      }.sortBy(_._1)
    def render(cs: Seq[(String, String)]): Option[String] =
      if (cs.isEmpty) None
      else {
        val n = mapper.createObjectNode()
        cs.sortBy(_._1).foreach { case (k, v) => n.put(k, v) }
        Some(mapper.writeValueAsString(n))
      }
  }

  /** Column-mapping serialization (Delta column mapping, `name` mode):
    * a JSON object `{"<logical>": {"p": "<physical>", "id": N}}`, keys
    * sorted for byte-identical renderings of equal maps. Physical names
    * are what the parquet FILES carry and are immutable for a column's
    * lifetime; logical names live in the manifest schema and are what
    * users see. Absent mapping (every table until its first
    * rename/drop) means physical == logical. Field ids are stable and
    * never reused — a dropped-then-readded column gets a fresh id AND a
    * fresh physical name, so old file data can never resurrect under
    * the new column. */
  private[engine] object ColumnMapping {
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    final case class Entry(physical: String, id: Int)
    def parse(json: Option[String]): Seq[(String, Entry)] =
      json.toSeq.flatMap { j =>
        import scala.jdk.CollectionConverters._
        mapper.readTree(j).properties().asScala.map { p =>
          p.getKey -> Entry(p.getValue.get("p").asText,
            p.getValue.get("id").asInt)
        }.toSeq
      }.sortBy(_._1)
    def render(m: Seq[(String, Entry)]): Option[String] =
      if (m.isEmpty) None
      else {
        val n = mapper.createObjectNode()
        m.sortBy(_._1).foreach { case (k, e) =>
          val o = n.putObject(k); o.put("p", e.physical); o.put("id", e.id)
        }
        Some(mapper.writeValueAsString(n))
      }
    /** First enablement: every current column keeps its name as its
      * physical name (matching every already-written file), ids in
      * schema order. */
    def identity(schema: org.apache.spark.sql.types.StructType):
        Seq[(String, Entry)] =
      schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        f.name -> Entry(f.name, i + 1)
      }
    def physicalName(m: Seq[(String, Entry)], logical: String): String =
      m.find(_._1 == logical).map(_._2.physical).getOrElse(logical)
    /** The schema as the parquet files spell it. */
    def physicalSchema(logical: org.apache.spark.sql.types.StructType,
        m: Seq[(String, Entry)]): org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(
        logical.fields.map(f => f.copy(name = physicalName(m, f.name))))
  }

  /** A delete/merge found a commit newer than the snapshot it rewrote —
    * the write-write conflict Delta surfaces as
    * ConcurrentWriteException. Retried internally; escapes only after
    * repeated conflicts (sustained contention the caller should see). */
  final class ConcurrentRewriteException(table: String, base: Long,
      found: Long) extends RuntimeException(
    s"concurrent commit on '$table': rewrite based on v$base but latest is v$found")
}
