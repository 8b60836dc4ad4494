package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom-filter index for equality file skipping (Delta's
  * Bloom filter index: the reference leans on Delta storage,
  * `/root/reference/README.md:12`; Delta stores per-file bloom bits in
  * an `_delta_index` sidecar and consults them for point predicates).
  *
  * Min/max stats cannot prune point lookups on HASH-distributed keys —
  * every file's `[min, max]` spans the whole domain, so `WHERE doc_id =
  * 123` on a 100 TB table opens every file. A per-file Bloom filter
  * answers "this file definitely does NOT contain v" in O(1), shrinking
  * a point lookup to the handful of files that might hold the key.
  *
  * Shape:
  *   - `TBLPROPERTIES('graft.bloom.columns'='doc_id[,url]')` opts a
  *     table in; `graft.bloom.fpp` tunes the false-positive rate
  *     (default 1%).
  *   - Sidecars live INSIDE each commit dir at
  *     `<dir>/_bloom/<file>.<physCol>.bloom` — the underscore prefix
  *     hides them from parquet listings, and because commit dirs are
  *     immutable, a dir's index never goes stale. `_bloom/_SUCCESS`
  *     marks a dir fully indexed so the steady-state re-check is one
  *     existence probe per dir.
  *   - Building is ONE distributed pass per dir (rows shuffled by file,
  *     each task streams its files' rows through sized filters, writes
  *     sidecars executor-side). Filters are sized from the commit's own
  *     per-file `numRecords` stats — no extra counting job.
  *   - The read path ([[GraftFileIndex]]) tests `=`/`IN` literals
  *     against surviving files' filters AFTER min/max pruning; a
  *     missing sidecar keeps the file. Correctness never depends on the
  *     index — the full predicate still re-applies above the scan.
  *
  * Supported column types: integral (byte/short/int/long) and string —
  * the key shapes point lookups use. Other configured types are
  * silently skipped (kept un-indexed), matching the conservative
  * keep-file contract. */
object BloomIndex {

  val ColsProp = "graft.bloom.columns"
  val FppProp = "graft.bloom.fpp"
  val DefaultFpp = 0.01

  /** Parsed `graft.bloom.columns` (logical names), empty when unset. */
  def configured(props: Map[String, String]): Seq[String] =
    props.get(ColsProp).toSeq.flatMap(
      _.split(',').map(_.trim).filter(_.nonEmpty))

  def fpp(props: Map[String, String]): Double =
    props.get(FppProp).map(_.toDouble).getOrElse(DefaultFpp)

  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  private def bloomDir(dataDir: String): String = s"$dataDir/_bloom"

  /** Clone-local sidecar root serving an INHERITED commit dir: a
    * shallow clone must never write into the source's data dirs, so
    * its sidecars for `../source/<dir>` entries land under the CLONE's
    * own table dir, keyed by a digest of the manifest-recorded dir
    * string (`commitDir` — stable and identical on the build and read
    * paths, unlike resolved filesystem paths). */
  def extRoot(tableDir: String, commitDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(commitDir.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    s"$tableDir/_bloom_ext/$hex"
  }

  private def sidecarAt(bloomOut: String, file: String,
      physCol: String): Path =
    new Path(bloomOut, s"$file.$physCol.bloom")

  private def sidecar(dataDir: String, file: String, physCol: String): Path =
    sidecarAt(bloomDir(dataDir), file, physCol)

  private def successMarkAt(bloomOut: String): Path =
    new Path(bloomOut, "_SUCCESS")

  private def successMark(dataDir: String): Path =
    successMarkAt(bloomDir(dataDir))

  /** True when the dir carries the fully-indexed marker. */
  def isIndexed(fs: FileSystem, dataDir: String): Boolean =
    fs.exists(successMark(dataDir))

  /** True when an explicit sidecar root carries the marker. */
  def isIndexedAt(fs: FileSystem, bloomOut: String): Boolean =
    fs.exists(successMarkAt(bloomOut))

  /** Builds all sidecars for one immutable data dir and stamps
    * `_bloom/_SUCCESS`. `counts` are per-file row counts from the
    * commit's stats (files absent from it get a filter sized by the
    * dir's max count — oversizing only wastes a few bits). One
    * distributed pass: rows shuffle on their file name, each task
    * builds its files' filters and writes the sidecars directly. */
  def buildDir(spark: SparkSession, dataDir: String,
      physSchema: StructType, physCols: Seq[StructField],
      counts: Map[String, Long], fppValue: Double): Unit =
    buildDirAt(spark, dataDir, bloomDir(dataDir), physSchema, physCols,
      counts, fppValue)

  /** [[buildDir]] with an explicit sidecar root — the clone-local form
    * for inherited dirs (reads `dataDir`, writes only `bloomOut`). */
  def buildDirAt(spark: SparkSession, dataDir: String, bloomOut: String,
      physSchema: StructType, physCols: Seq[StructField],
      counts: Map[String, Long], fppValue: Double): Unit = {
    val cols = physCols.filter(f => supported(f.dataType))
    if (cols.isEmpty) {
      // nothing indexable in this dir (e.g. the column predates it):
      // stamp it anyway so the steady-state re-check stays one probe.
      // The marker's FileSystem resolves from bloomOut, NOT dataDir: a
      // clone-local build over an inherited dir may read from a
      // different filesystem than the one its sidecars live on.
      val hfs = new Path(bloomOut).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      hfs.create(successMarkAt(bloomOut), true).close()
      return
    }
    // shipped once to the tasks, not inside each task's closure
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration))
    val fallback = math.max(1L, (counts.values ++ Seq(1L)).max)
    val colNames = cols.map(_.name)
    val colTypes = cols.map(_.dataType)
    val outStr = bloomOut
    try spark.read.schema(physSchema).parquet(dataDir)
      .select(input_file_name().as("__file") +: colNames.map(col): _*)
      .repartition(col("__file"))
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val filters = scala.collection.mutable.Map.empty[
          String, Array[BloomFilter]]
        rows.foreach { r =>
          val file = r.getString(0)
          val name = new Path(file).getName
          val fs = filters.getOrElseUpdate(name,
            colNames.indices.map(_ => BloomFilter.create(
              counts.getOrElse(name, fallback), fppValue)).toArray)
          var i = 0
          while (i < colNames.length) {
            if (!r.isNullAt(i + 1)) colTypes(i) match {
              case StringType => fs(i).putString(r.getString(i + 1))
              case LongType => fs(i).putLong(r.getLong(i + 1))
              case IntegerType => fs(i).putLong(r.getInt(i + 1).toLong)
              case ShortType => fs(i).putLong(r.getShort(i + 1).toLong)
              case ByteType => fs(i).putLong(r.getByte(i + 1).toLong)
              case _ => ()
            }
            i += 1
          }
        }
        val hfs = new Path(outStr).getFileSystem(conf.value.value)
        filters.foreach { case (name, fl) =>
          colNames.indices.foreach { i =>
            val out = hfs.create(sidecarAt(outStr, name, colNames(i)), true)
            try fl(i).writeTo(out) finally out.close()
          }
        }
      }
    finally conf.destroy()
    // marker through bloomOut's FileSystem (matches the per-task
    // sidecar writes above) — dataDir may live on another filesystem
    // when a clone builds sidecars for an inherited source dir
    val hfs = new Path(bloomOut).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(successMarkAt(bloomOut), true)
    out.close()
  }

  /** Loads one sidecar, None when absent/unreadable (keep-file). */
  def load(fs: FileSystem, dataDir: String, file: String,
      physCol: String): Option[BloomFilter] =
    loadAt(fs, bloomDir(dataDir), file, physCol)

  /** [[load]] from an explicit sidecar root (clone-local form). */
  def loadAt(fs: FileSystem, bloomOut: String, file: String,
      physCol: String): Option[BloomFilter] =
    try {
      val p = sidecarAt(bloomOut, file, physCol)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try Some(BloomFilter.readFrom(in)) finally in.close()
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Might this file contain the value? `v` is the literal's external
    * value (string or boxed number); a type the filter wasn't built for
    * answers true (keep). */
  def mightContain(bf: BloomFilter, dt: DataType, v: Any): Boolean =
    (dt, v) match {
      case (StringType, s: String) => bf.mightContainString(s)
      case (ByteType | ShortType | IntegerType | LongType, n: Number) =>
        bf.mightContainLong(n.longValue())
      case _ => true
    }
}
