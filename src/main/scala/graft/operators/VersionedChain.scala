package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A store's committed head and its parent chain (head first, root last)
  * with every sidecar text, loaded with ONE directory listing and ONE
  * sidecar read per chain element. Loaded once per public operation and
  * threaded through; never cached across operations (stores mutate
  * between ticks). */
private[operators] final case class ChainInfo(path: String, chain: Seq[Int],
                                              metas: Map[Int, String]) {
  def head: Int = chain.head
  def headMeta: String = metas(head)
  def rootMeta: String = metas(chain.last)
}

/** The versioned-chain publish protocol shared by [[BandIndex]] and
  * [[AnnIndex]]. Each build or append writes its data under a freshly
  * claimed `v-NNNNN/` directory and COMMITS it last by renaming its
  * sidecar into place (a same-directory rename of a small file, atomic
  * on POSIX and HDFS), so a reader either sees the complete sidecar
  * (version committed) or none (version invisible). Readers resolve the
  * newest committed version and follow the parent pointers its sidecar
  * names down to a base; a publish prunes everything older except the
  * live chains. A crashed build leaves an uncommitted directory that is
  * invisible to readers and swept by the next prune.
  *
  * A BASE version (a full build or a compaction) is one [[publish]]
  * call: claim, write, commit, prune. A LAYER append calls
  * [[claimVersion]] and [[commit]] itself: an AnnIndex layer prunes
  * nothing (every ancestor stays live until the next base), and a
  * BandIndex layer re-checks the head between its write and its commit.
  *
  * Only two things differ between the stores, both fixed by the owning
  * module: the sidecar file name, and how a sidecar's tokens name its
  * parent version (`None` for a base). Sidecar TEXT, data formats and
  * store-specific guards stay with the owner. */
private[operators] final class VersionedChain(metaFile: String,
                                              parentOf: Array[String] => Option[Int]) {
  import VersionedChain._

  def vdir(path: String, v: Int): Path = new Path(path, f"$VersionPrefix$v%05d")

  private def versionOf(name: String): Option[Int] =
    if (name.startsWith(VersionPrefix)) name.stripPrefix(VersionPrefix).toIntOption
    else None

  private def claimFile(path: String, v: Int): Path =
    new Path(path, f"$ClaimPrefix$VersionPrefix$v%05d")

  /** Every version number present under `path`, committed or not: the
    * version directories plus the claim files (a claim may outlive its
    * directory — a burned number must never be re-claimed). One listing;
    * a missing store lists as empty. */
  private def versions(spark: SparkSession, path: String): Seq[Int] =
    try fs(spark, path).listStatus(new Path(path)).toSeq
      .flatMap(st => versionOf(st.getPath.getName.stripPrefix(ClaimPrefix)))
      .distinct
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Claim a version number exclusively: `create(..., overwrite=false)`
    * of a sibling claim file is atomic on POSIX and HDFS, so two
    * concurrent builds can never write into the same directory — the
    * loser observes the claim and takes the next number. */
  def claimVersion(spark: SparkSession, path: String): Int = {
    val f = fs(spark, path)
    f.mkdirs(new Path(path))
    var v = (versions(spark, path) :+ 0).max + 1
    while (true) {
      try {
        f.create(claimFile(path, v), false).close()
        return v
      } catch {
        // ONLY the already-exists outcome means "claimed by a racer; bump".
        // A generic IOException (permissions, full disk, FS down) must not
        // loop forever consuming version numbers — it propagates.
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => v += 1
        case _: java.nio.file.FileAlreadyExistsException        => v += 1
      }
    }
    v // unreachable
  }

  /** Commit version `v` with sidecar text `meta`. First the claim check:
    * if a CONCURRENT writer's [[prune]] swept this version's claim (it
    * cannot tell a slow in-flight build from a crashed one), committing
    * would publish a directory whose data may already be half-deleted —
    * fail loudly and abandon the version instead; the caller re-runs and
    * claims a fresh number. Then the sidecar commits through
    * [[graft.SnapshotIO.writeRecord]]. */
  def commit(spark: SparkSession, path: String, v: Int, meta: String): Unit = {
    require(fs(spark, path).exists(claimFile(path, v)),
      s"version $v under $path lost its claim file mid-build (a concurrent " +
        "writer pruned it) — abandoning this version; re-run")
    graft.SnapshotIO.writeRecord(spark.sparkContext.hadoopConfiguration,
      new Path(vdir(path, v), metaFile), meta)
  }

  /** Publish a base version: claim the next number, hand its directory
    * to `write`, commit the sidecar text `write` returns, then [[prune]].
    * Returns the committed version. A `write` that throws leaves the
    * claimed version uncommitted — invisible to readers, the head
    * unchanged — and the next publish's prune sweeps its directory and
    * claim file. */
  def publish(spark: SparkSession, path: String)(write: Path => String): Int = {
    val next = claimVersion(spark, path)
    commit(spark, path, next, write(vdir(path, next)))
    prune(spark, path, next)
    next
  }

  /** One sidecar read that doubles as the commit probe: a missing sidecar
    * means "uncommitted", never an error. */
  private def tryMeta(spark: SparkSession, path: String, v: Int): Option[String] =
    graft.SnapshotIO.readRecord(spark.sparkContext.hadoopConfiguration,
      new Path(vdir(path, v), metaFile)).map(_.trim)

  private def newestCommitted(spark: SparkSession, path: String,
                              vs: Seq[Int]): Option[(Int, String)] =
    vs.sorted(Ordering[Int].reverse).iterator
      .map(v => v -> tryMeta(spark, path, v))
      .collectFirst { case (v, Some(m)) => (v, m) }

  /** The newest committed version strictly below `below` and its sidecar
    * text; None when there is none. */
  def head(spark: SparkSession, path: String,
           below: Int = Int.MaxValue): Option[(Int, String)] =
    newestCommitted(spark, path, versions(spark, path).filter(_ < below))

  /** Whether any version has committed — the day-zero probe (the head's
    * sidecar read only, no chain walk). */
  def isBuilt(spark: SparkSession, path: String): Boolean =
    head(spark, path).nonEmpty

  /** The committed head and its whole chain; None for an unbuilt store. */
  def load(spark: SparkSession, path: String): Option[ChainInfo] =
    head(spark, path).map { case (v, m) => walk(spark, path, v, m) }

  /** The chain from `v` (sidecar `meta`) down to its base, stopping early
    * at a version in `stop`. Claims are monotone, so a legal parent is
    * always strictly older — anything else is a tampered or corrupted
    * sidecar, and following it could walk a cycle forever instead of
    * failing loudly. */
  private def walk(spark: SparkSession, path: String, v: Int, meta: String,
                   stop: Set[Int] = Set.empty): ChainInfo = {
    val chain = Seq.newBuilder[Int] += v
    val metas = Map.newBuilder[Int, String] += v -> meta
    var cur = v
    var parent = parentOf(meta.split("\\s+"))
    while (parent.nonEmpty) {
      val p = parent.get
      require(p < cur,
        s"chain under $path corrupt: v$cur references parent v$p " +
          "(parents must be strictly older)")
      if (stop.contains(p)) parent = None
      else {
        val pm = tryMeta(spark, path, p)
        require(pm.nonEmpty,
          s"chain under $path broken: v$cur references missing committed parent v$p")
        chain += p
        metas += p -> pm.get
        cur = p
        parent = parentOf(pm.get.split("\\s+"))
      }
    }
    ChainInfo(path, chain.result(), metas.result())
  }

  /** Sweep everything below the just-committed `next` except the LIVE
    * chains: `next`'s own ancestors (a layer is only readable with its
    * parents) and the newest committed predecessor's chain (the version
    * an in-flight reader could have pinned, with its layers). Crashed
    * builds' uncommitted directories and stale claim files go too. */
  def prune(spark: SparkSession, path: String, next: Int): Unit = {
    val f = fs(spark, path)
    val vs = versions(spark, path).filter(_ < next)
    val prev = newestCommitted(spark, path, vs)
      .map { case (v, m) => walk(spark, path, v, m).chain.toSet }
      .getOrElse(Set.empty[Int])
    val keep = prev ++ tryMeta(spark, path, next)
      .map(m => walk(spark, path, next, m, stop = prev).chain).getOrElse(Nil)
    vs.filterNot(keep.contains).foreach { v =>
      f.delete(vdir(path, v), true)
      f.delete(claimFile(path, v), false)
    }
  }
}

private[operators] object VersionedChain {
  private val VersionPrefix = "v-"
  private val ClaimPrefix = ".claim-"

  /** Resolve the filesystem FROM the store path (not the default FS): the
    * sidecar must live next to the data even when the store is on an
    * explicit file:/ or object-store URI and fs.defaultFS is HDFS — a
    * default-FS sidecar would be missing (or STALE from an older build)
    * exactly when another session reads the store. */
  def fs(spark: SparkSession, path: String): FileSystem =
    graft.SnapshotIO.fs(spark.sparkContext.hadoopConfiguration, path)
}
