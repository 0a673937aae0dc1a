package graft

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

/** Crash-safe directory swap shared by every snapshot-rewrite site: the
  * whole-dir rewrites go through [[replace]] (DocsStream.rebuildPairs,
  * BatchStore consolidation), PartitionedSnapshot.mergeDelta swaps per
  * bucket. Small control-plane records (layout and version sidecars,
  * the watermark record) commit through [[writeRecord]] instead.
  *
  * The naive delete(dst) + rename(tmp, dst) has a window where a crash
  * destroys the snapshot; because init-vs-update mode is inferred from the
  * snapshot's existence, the next tick would then silently rebuild from
  * scratch and lose created_at history. Here the old snapshot is renamed
  * to a backup first and deleted only after the new data is in place, and
  * [[recover]] restores the backup if a crash is detected between the two
  * renames. At 100 TB this whole pattern is a table-format commit
  * (Iceberg/Delta MERGE); on a plain filesystem this is the closest
  * equivalent.
  */
object SnapshotIO {

  private def bakPath(dst: String) = new Path(dst + "_bak")

  /** The filesystem OF `path`, not the default one: a store on a URI
    * whose scheme is not `fs.defaultFS` (an explicit file:/ root under an
    * HDFS default, an object store) must not fail with "Wrong FS" — or
    * land its files on the wrong filesystem. */
  def fs(conf: Configuration, path: String): FileSystem =
    new Path(path).getFileSystem(conf)

  /** Rebuild the directory at `dst`: clear the staging dir `dst_tmp` (a
    * crashed earlier attempt may have left it), run `stage` on its path,
    * then [[swap]] it in. Staging dirs are never read. */
  def replace(conf: Configuration, dst: String)(stage: String => Unit): Unit = {
    val tmp = dst + "_tmp"
    fs(conf, tmp).delete(new Path(tmp), true)
    stage(tmp)
    swap(conf, tmp, dst)
  }

  /** Replace the directory at `dst` with the one at `tmp`.
    * Sequence: delete stale backup → dst → backup → tmp → dst → delete
    * backup. A crash at any point leaves either the old snapshot (at dst
    * or at the backup) or the fully-written new one — never nothing. */
  def swap(conf: Configuration, tmp: String, dst: String): Unit = {
    val fs = this.fs(conf, dst)
    val d = new Path(dst)
    val bak = bakPath(dst)
    // Self-enforcing: if a previous swap crashed between its renames, the
    // backup holds the only copy — restore it BEFORE deleting anything,
    // so crash-safety doesn't depend on every caller remembering a
    // recover() preamble.
    recover(conf, dst)
    fs.delete(bak, true)
    if (fs.exists(d)) {
      if (!fs.rename(d, bak))
        throw new java.io.IOException(s"backup rename failed: $dst -> $bak")
    }
    if (!fs.rename(new Path(tmp), d))
      throw new java.io.IOException(s"swap rename failed: $tmp -> $dst")
    fs.delete(bak, true)
  }

  /** Heal a crash between the two renames of [[swap]]: if `dst` is gone
    * but its backup survives, restore the backup. Call before any
    * existence probe that gates init-vs-update behavior. Returns true if
    * a restore happened. */
  def recover(conf: Configuration, dst: String): Boolean = {
    val fs = this.fs(conf, dst)
    val d = new Path(dst)
    val bak = bakPath(dst)
    if (!fs.exists(d) && fs.exists(bak)) fs.rename(bak, d) else false
  }

  /** Heal every child of `parent` left in the crashed state (some
    * `X_bak` whose `X` is gone) — the per-partition analog of [[recover]]
    * for layouts that swap many directories (PartitionedSnapshot). */
  def recoverAll(conf: Configuration, parent: String): Int = {
    val fs = this.fs(conf, parent)
    val p = new Path(parent)
    if (!fs.exists(p)) return 0
    fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith("_bak"))
      .count(name => recover(conf, new Path(p, name.stripSuffix("_bak")).toString))
  }

  /** The filesystem of `path` without its checksum layer: a checksummed
    * one keeps a `.crc` beside each file and renames the two in separate
    * steps, so a crash between them would leave a record that fails its
    * checksum. */
  private def rawFs(conf: Configuration, path: Path): FileSystem =
    fs(conf, path.toString) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  /** Commit a small record: `text` is written to `<file>.tmp` and renamed
    * over `file`, so a crash leaves the old record or the new one, never a
    * torn one. POSIX rename replaces the target atomically; a filesystem
    * whose rename refuses an existing target (HDFS, object stores) gets
    * [[swap]]'s sequence instead — the old record renamed to `<file>_bak`,
    * the new one into place, the backup deleted — and [[readRecord]] reads
    * the backup when a crash struck between those renames. A directory at
    * `file` fails loudly: a local rename would copy the record into it. */
  def writeRecord(conf: Configuration, file: Path, text: String): Unit = {
    val f = rawFs(conf, file)
    if (isDir(f, file)) throw notARecord(file)
    val tmp = file.suffix(".tmp")
    val out = f.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, file)) {
      val bak = file.suffix("_bak")
      f.delete(bak, false)
      if (!f.rename(file, bak) || !f.rename(tmp, file))
        throw new java.io.IOException(s"record rename failed: $tmp -> $file")
      f.delete(bak, false)
    }
  }

  /** The text [[writeRecord]] committed at `file` — or at its backup, when
    * a crash struck between the backup and the commit rename; None when
    * there is neither (one open, no existence probe on the common path).
    * A directory at `file` fails loudly, naming it. */
  def readRecord(conf: Configuration, file: Path): Option[String] = {
    val f = rawFs(conf, file)
    def read(p: Path): Option[String] =
      try {
        val in = f.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      } catch {
        case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException => None
      }
    read(file).orElse {
      if (isDir(f, file)) throw notARecord(file)
      read(file.suffix("_bak"))
    }
  }

  private def isDir(f: FileSystem, p: Path): Boolean =
    try f.getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  private def notARecord(file: Path) =
    new java.io.IOException(s"record $file is a directory, not a record file")
}
