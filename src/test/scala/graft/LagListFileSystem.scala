package graft

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** Local filesystem (scheme `lag`) whose LISTING of the commit
  * protocol's metadata directories (`_commits`, `_txn`) omits files
  * younger than [[LagListFileSystem.lagMs]] — the pre-2020-S3
  * eventual-LIST-consistency shape, injectable per test. Lag is
  * mtime-based, so visibility is MONOTONE (once listed, always
  * listed) and prefix-closed over commit versions (claims are
  * listing-gated: version v is only claimable after v-1 was listed,
  * so any listing that shows v-1 shows everything older) — the two
  * properties the sink's LIST-lag reasoning documents.
  *
  * Lag is scoped to the metadata dirs because that is what rides LIST
  * in the object-store mapping: data files are written under unique
  * staged directories referenced by exact path from markers, and on a
  * real object store they go through a direct-write committer — the
  * task-commit renames Spark's local committer performs inside a
  * staged dir are not part of the store-mapping surface.
  *
  * Every rename's destination is recorded so specs can assert no
  * rename ever LANDS a claim (a `.commit` marker or a txn manifest
  * json) while the conditional-PUT coordinator is active, and every
  * listing is counted per directory so specs can bound re-listing.
  */
class LagListFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "lag"
  override def getUri: URI = URI.create("lag:///")

  override def listStatus(p: Path): Array[FileStatus] = {
    LagListFileSystem.listings.computeIfAbsent(p.toUri.getPath,
      _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet()
    val all = super.listStatus(p)
    val lag = LagListFileSystem.lagMs.get()
    if (lag <= 0L ||
        (p.getName != "_commits" && p.getName != "_txn")) all
    else {
      val now = System.currentTimeMillis()
      all.filter(st => !st.isFile || now - st.getModificationTime >= lag)
    }
  }

  override def rename(src: Path, dst: Path): Boolean = {
    LagListFileSystem.renames.add(dst.toUri.getPath)
    super.rename(src, dst)
  }
}

object LagListFileSystem {
  /** Listing lag in ms for `_commits`/`_txn` dirs; 0 = strong LIST. */
  val lagMs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Destinations of every rename through this FS (all schemes' tests
    * share the JVM-wide queue; filter by path prefix). */
  val renames = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** `listStatus` calls per directory path (all schemes' tests share
    * the JVM-wide map; key by path). */
  val listings = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.AtomicInteger]()

  /** Registers the scheme on the given Hadoop configuration. */
  def register(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set("fs.lag.impl", classOf[LagListFileSystem].getName)
}
