package graft.engine

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.{Base64, UUID}

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** One table's commit log, `<table>/_commits/`: the only code that
  * lists, reads or writes it.
  * {{{
  *   <table>/_commits/<n>.commit       commit marker: one JSON object
  *   <table>/_commits/<n>.checkpoint   every marker body <= n, one a line
  * }}}
  * A version exists iff its marker does. Markers are published by the
  * store's publish-if-absent primitive ([[CommitCoordinator]]), so a
  * claim is atomic and two writers never both own a version. A
  * [[snapshot]] is ONE listing, ONE checkpoint read and the markers
  * newer than the newest checkpoint — Delta's `_checkpoint` recipe. */
private[graft] final class TableLog(spark: SparkSession, tableDir: String,
    table: String) {
  private val dir = new Path(TableLog.dirOf(tableDir))
  private val fs: FileSystem =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def marker(v: Long) = new Path(dir, s"$v.commit")

  /** The whole log, ascending by version. Retries when a concurrent
    * [[retire]] deletes a file between the listing and the read:
    * retirement implies a NEWER checkpoint now covers it, so a fresh
    * listing always converges. A marker or checkpoint line that does not
    * parse fails loudly, naming the table and the version. */
  def snapshot(): Snapshot = {
    var attempt = 0
    while (true) {
      try return Snapshot(table, readOnce())
      catch {
        case e: java.io.FileNotFoundException =>
          attempt += 1
          if (attempt >= 8) throw e
      }
    }
    Snapshot(table, Nil) // unreachable
  }

  private def readOnce(): Seq[Commit] = {
    if (!fs.exists(dir)) return Seq.empty
    val names = fs.listStatus(dir).toSeq.map(_.getPath.getName)
    val cp = TableLog.horizon(names)
    val fromCp = cp.toSeq.flatMap { c =>
      val bytes = read(new Path(dir, s"$c.checkpoint"))
      parsed("checkpoint", c, TableLog.decode(bytes).linesIterator
        .filter(_.nonEmpty).map(Commit.parse(_, None)).toSeq)
    }
    val tail = names.filter(_.endsWith(".commit"))
      .map(_.stripSuffix(".commit").toLong)
      .filter(v => cp.forall(v > _))
      .map(v => parseMarker(v, read(marker(v))))
    (fromCp ++ tail).sortBy(_.version)
  }

  private def parseMarker(v: Long, bytes: Array[Byte]): Commit =
    parsed("marker", v, Commit.parse(TableLog.decode(bytes), Some(v)))

  /** Parse errors only: IO errors (a retired file) pass through. */
  private def parsed[T](what: String, v: Long, body: => T): T =
    try body
    catch {
      case e: Exception => throw new IllegalStateException(
        s"corrupt commit log of table '$table': $what v$v: ${e.getMessage}", e)
    }

  private def read(p: Path): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  /** Raw file names in the log dir — the claim check's repeated cheap
    * listing (no marker reads). */
  def names(): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)

  /** Publish `body` as version `version`; false if the version is taken. */
  def claim(coordinator: CommitCoordinator, body: String,
      version: Long): Boolean = {
    fs.mkdirs(dir)
    coordinator.publishIfAbsent(fs, marker(version),
      body.getBytes(StandardCharsets.UTF_8))
  }

  /** Undo a claim the post-claim check found invisible. */
  def unclaim(v: Long): Unit = fs.delete(marker(v), false)

  /** Point read of version `v`'s marker: does it exist and name data dir
    * `unique`? Read-after-write consistent on local filesystems and on
    * every object store in the [[CommitCoordinator]] mapping — the
    * LIST-lag-proof form of "is my claim visible". */
  def markerOwned(v: Long, unique: String): Boolean =
    try parseMarker(v, read(marker(v))).dir == unique
    catch { case _: java.io.FileNotFoundException => false }

  /** Snapshot `entries` (every version <= v, ascending) into
    * `<v>.checkpoint`. Losing the rename race is harmless: someone else
    * snapshotted the same versions. */
  def checkpoint(v: Long, entries: Seq[Commit]): Unit = {
    val tmp = new Path(dir, s".cptmp-${UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(entries.map(_.raw).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(dir, s"$v.checkpoint"))) fs.delete(tmp, false)
  }

  /** Deletes the marker files a checkpoint already holds (and older
    * checkpoints) once they are at least `olderThanMs` old. Returns the
    * number of files deleted. */
  def retire(olderThanMs: Long): Int = {
    if (!fs.exists(dir)) return 0
    val sts: Seq[FileStatus] = fs.listStatus(dir).toSeq
    TableLog.horizon(sts.map(_.getPath.getName)).fold(0) { c =>
      val now = System.currentTimeMillis()
      val dead = sts.filter { st =>
        val n = st.getPath.getName
        val covered =
          (n.endsWith(".commit") && n.stripSuffix(".commit").toLong <= c) ||
            (n.endsWith(".checkpoint") &&
              n.stripSuffix(".checkpoint").toLong < c)
        covered && now - st.getModificationTime >= olderThanMs
      }
      dead.foreach(st => fs.delete(st.getPath, false))
      dead.size
    }
  }
}

private[graft] object TableLog {
  /** The log directory of the table stored at `tableDir`. */
  def dirOf(tableDir: String): String = s"$tableDir/_commits"

  /** The newest checkpoint version among the log's file names. */
  def horizon(names: Seq[String]): Option[Long] =
    names.filter(_.endsWith(".checkpoint"))
      .map(_.stripSuffix(".checkpoint").toLong).maxOption

  /** Strict UTF-8: invalid bytes throw instead of decoding to U+FFFD. */
  private def decode(bytes: Array[Byte]): String =
    StandardCharsets.UTF_8.newDecoder().decode(ByteBuffer.wrap(bytes)).toString
}

/** One committed version: the raw marker body plus its parsed fields.
  * `compacts` marks a compaction commit that supersedes every version
  * <= its value; `schemaDdl` is the commit's schema; `ts` the commit
  * wall-clock (epoch millis) for timestamp time travel; `stats` the
  * per-file min/max JSON (Delta add-action shape) for data skipping. */
private[graft] final case class Commit(version: Long, dir: String,
    key: Option[String] = None, compacts: Option[Long] = None,
    schemaDdl: Option[String] = None, ts: Option[Long] = None,
    op: Option[String] = None, stats: Option[String] = None,
    constraints: Option[String] = None, mapping: Option[String] = None,
    generated: Option[String] = None, props: Option[String] = None,
    // dir-granular selective rewrite (OPTIMIZE WHERE): the BASE NAMES of
    // the dirs this commit's folded copy supersedes — base names, not
    // full dirs, so a clone's re-pointed `../src/<dir>` spelling still
    // matches (same prefix-independence as DV mask paths)
    replaces: Seq[String] = Nil,
    // COPY INTO's file ledger: source-file identities (uri@mtime:len)
    // this commit loaded — the union across the log is the
    // already-loaded set a re-run skips
    copied: Seq[String] = Nil,
    // free-form commit annotation (Delta's commitInfo.userMetadata)
    userMeta: Option[String] = None, raw: String = "") {

  /** A deletion-vector commit: its dir holds `(path, pos)` row positions
    * to MASK from the scan, not table data. */
  def isDv: Boolean = op.contains("dv")

  /** Any commit carrying a positional mask: a pure DV delete (whole dir
    * is the mask) or a merge-on-read UPDATE (data dir with the mask in
    * its `_dv/` subdir — hidden from parquet listings by the underscore
    * convention, so the same dir serves both payloads atomically). */
  def isMergeOnRead: Boolean = isDv || op.contains("update")

  /** Where the mask parquet lives, relative to the table dir. */
  def maskDir: String = if (isDv) dir else s"$dir/_dv"

  /** This marker's body with only its data dir replaced (SHALLOW CLONE
    * re-points every inherited marker at the source's data). */
  def withDir(newDir: String): String = {
    val n = Commit.mapper.readTree(raw).asInstanceOf[ObjectNode]
    n.put("dir", newDir)
    Commit.mapper.writeValueAsString(n)
  }
}

private[graft] object Commit {
  private val mapper = new ObjectMapper()
    .enable(JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  /** Parses a marker body (`version` = the file's version) or a
    * checkpoint line (`version` = None: the line's own `version` field is
    * required). Throws on anything that is not one well-formed marker. */
  def parse(body: String, version: Option[Long]): Commit = {
    val root = mapper.readTree(body)
    require(root != null && root.isObject, "not a JSON object")
    def node(f: String): Option[JsonNode] = Option(root.get(f))
    def str(f: String): Option[String] = node(f).map { n =>
      require(n.isTextual, s"field '$f' is not a string"); n.asText }
    def num(f: String): Option[Long] = node(f).map { n =>
      require(n.isIntegralNumber && n.canConvertToLong,
        s"field '$f' is not an integer: $n")
      n.asLong }
    // base64 payloads: an empty value means absent
    def b64Field(f: String): Option[String] =
      str(f).filter(_.nonEmpty).map(unb64)
    val bodyVersion = num("version")
    val v = version.orElse(bodyVersion)
      .getOrElse(throw new IllegalArgumentException("no version field"))
    val dir = str("dir").filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException("no data dir"))
    Commit(v, dir,
      // keyB64 first; the round-1 plain "key" field keeps the idempotency
      // keys of tables written before keys were base64'd (without it a
      // replayed pre-upgrade batch would double-append). An empty key is
      // a real key: it must still dedup.
      key = str("keyB64").map(unb64).orElse(str("key")),
      compacts = num("compacts"),
      schemaDdl = b64Field("schemaB64"),
      ts = str("ts").flatMap(t =>
        scala.util.Try(java.time.Instant.parse(t).toEpochMilli).toOption),
      op = str("op"), stats = b64Field("statsB64"),
      constraints = b64Field("constraintsB64"),
      mapping = b64Field("mappingB64"), generated = b64Field("gensB64"),
      props = b64Field("propsB64"),
      replaces = str("replacesB64").map(unb64).toSeq
        .flatMap(_.split(',')).filter(_.nonEmpty),
      // newline-separated: source URIs may contain commas
      copied = str("copiedB64").map(unb64).toSeq
        .flatMap(_.split('\n')).filter(_.nonEmpty),
      userMeta = b64Field("userMetaB64"), raw = body)
  }

  /** The marker body for `c`, committed at `ts`. Field names, order and
    * encodings are the ones every table already written uses: each
    * string payload travels base64'd, so those tables' markers and new
    * ones read the same way. */
  def render(c: Commit, ts: java.time.Instant): String = {
    val n = mapper.createObjectNode()
    n.put("version", c.version)
    n.put("dir", c.dir)
    c.key.foreach(k => n.put("keyB64", b64(k)))
    c.compacts.foreach(v => n.put("compacts", v))
    c.op.foreach(o => n.put("op", o))
    c.stats.foreach(s => n.put("statsB64", b64(s)))
    if (c.replaces.nonEmpty) n.put("replacesB64", b64(c.replaces.mkString(",")))
    if (c.copied.nonEmpty) n.put("copiedB64", b64(c.copied.mkString("\n")))
    c.userMeta.foreach(m => n.put("userMetaB64", b64(m)))
    c.constraints.foreach(s => n.put("constraintsB64", b64(s)))
    c.mapping.foreach(s => n.put("mappingB64", b64(s)))
    c.generated.foreach(s => n.put("gensB64", b64(s)))
    c.props.foreach(s => n.put("propsB64", b64(s)))
    n.put("schemaB64", b64(c.schemaDdl.getOrElse("")))
    n.put("ts", ts.toString)
    mapper.writeValueAsString(n)
  }
}

/** A table's log as read by one operation: every commit, ascending,
  * and the values each operation derives from the latest one. Immutable;
  * an operation that needs a newer view reads a new one. */
private[graft] final case class Snapshot(table: String, entries: Seq[Commit]) {
  def isEmpty: Boolean = entries.isEmpty
  def nonEmpty: Boolean = entries.nonEmpty
  def latest: Option[Commit] = entries.lastOption
  /** The latest version, -1 for a table with no commits. */
  def version: Long = latest.fold(-1L)(_.version)

  // the table metadata every commit carries forward (raw payloads; the
  // commit claim compares them byte for byte to detect a concurrent change)
  def schemaDdl: Option[String] = latest.flatMap(_.schemaDdl)
  def props: Option[String] = latest.flatMap(_.props)
  def constraints: Option[String] = latest.flatMap(_.constraints)
  def mapping: Option[String] = latest.flatMap(_.mapping)
  def generated: Option[String] = latest.flatMap(_.generated)

  /** The marker draft of the next commit on this snapshot: data dir
    * `dir`, key, schema `ddl`, and every other metadata payload carried
    * forward from the latest commit. A commit that changes one `copy`s
    * it. */
  def draft(dir: String, key: Option[String], ddl: String): Commit =
    Commit(version + 1, dir, key, schemaDdl = Some(ddl),
      constraints = constraints, mapping = mapping, generated = generated,
      props = props)

  /** TBLPROPERTIES as a map. */
  def properties: Map[String, String] =
    VersionedParquetSink.Constraints.parse(props).toMap

  /** The version that committed idempotency key `k`, if any. */
  def versionOf(k: String): Option[Long] =
    entries.find(_.key.contains(k)).map(_.version)

  /** The table as of version `v` (inclusive). */
  def upTo(v: Long): Snapshot =
    if (version <= v) this else Snapshot(table, entries.filter(_.version <= v))

  /** The entries a reader actually scans: the NEWEST compaction commit
    * plus every non-compaction append past its high-water mark. Older
    * compaction commits are NEVER read — each holds only a redundant
    * full copy of data the chosen compaction + later appends already
    * cover, and including one duplicates every folded row (found by the
    * concurrent-compaction stress test). */
  lazy val live: Seq[Commit] = {
    val base = entries.filter(_.compacts.isDefined).lastOption match {
      case None => entries
      case Some(c) =>
        c +: entries.filter(e =>
          e.version > c.compacts.get && e.compacts.isEmpty)
    }
    // dir-granular selective rewrites (OPTIMIZE WHERE): a dir whose base
    // name appears in a commit's `replaces` list is superseded by that
    // commit's folded copy. Base-name matching so a clone's re-pointed
    // `../src/<dir>` spelling of the same UUID-unique dir still matches.
    val replaced = base.iterator.flatMap(_.replaces).toSet
    if (replaced.isEmpty) base
    else base.filter(e => !replaced.contains(e.dir.split('/').last))
  }
}
