package graft

import java.io.File
import org.apache.spark.sql.SparkSession

/** Per-process scratch paths for demonstration queries and their
  * fixtures — the one place that knows how scratch is named, reclaimed
  * and built once.
  *
  * Naming: `<java.io.tmpdir>/graft_<name>_<runTag(dir)>`. The tag is keyed
  * by the dataset dir (cross-SF runs never interleave) and the process id
  * (concurrent harness/test JVMs never clobber each other mid-read), and
  * is stable within one process so bench re-runs reuse a name.
  *
  * Reclaiming: before a name is handed out, dirs of the same `graft_<name>_`
  * prefix whose owner is gone ([[ownerGone]]) are deleted: they are
  * unreachable garbage, since the owning JVM — and any in-memory catalog
  * entry naming them — died with the process. Age alone is never a
  * reclaim signal for pid-tagged dirs: write-once-read-many scratch
  * (bucketed tables reused across bench re-runs) goes hours without an
  * mtime update while its owner is still reading it.
  *
  * Write-once: [[once]] builds a deterministic fixture at most once per
  * process and dataset dir; the `_SUCCESS` marker is written only after a
  * complete build, so a crashed partial write has no marker and is
  * rebuilt. */
private[graft] object Scratch {

  /** This process's id, as embedded in every [[runTag]]. */
  val pid: Long = ProcessHandle.current().pid()

  /** Suffix for scratch paths/tables: `<hash of dir>_p<pid>`. */
  def runTag(dir: String): String = {
    val h = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
    s"${h}_p$pid"
  }

  /** `<tmpdir>/graft_<name>_<runTag(dir)>`, after reclaiming the dirs of
    * dead owners under the same prefix. */
  def path(dir: String, name: String): String = {
    val tmp = System.getProperty("java.io.tmpdir")
    sweep(new File(tmp), Seq(s"graft_${name}_"))
    s"$tmp/graft_${name}_${runTag(dir)}"
  }

  private val onceLock = new Object

  /** [[path]] of a fixture that `build` writes there at most once per
    * process: `build` runs only while the `_SUCCESS` marker is missing,
    * and the marker is written after it returns. All fixtures share one
    * lock, so concurrent callers never build the same one twice. */
  def once(dir: String, name: String)(build: String => Unit): String =
    onceLock.synchronized {
      val out = new File(path(dir, name)).getAbsolutePath
      val marker = new File(out, "_SUCCESS")
      if (!marker.exists()) {
        build(out)
        marker.createNewFile()
      }
      out
    }

  /** True when the process `pid` cannot own a leftover last written at
    * `mtime` (epoch millis, 0 = unknown): the pid is dead, or the OS
    * recycled it — a real owner's process START always precedes every
    * write it makes, so a live pid whose process started more than a
    * minute (clock slack) after the mtime is not the owner. */
  def ownerGone(pid: Long, mtime: => Long): Boolean = {
    val handle = ProcessHandle.of(pid)
    !handle.isPresent || {
      val start = handle.get().info().startInstant()
      val m = mtime
      start.isPresent && m > 0 && start.get().toEpochMilli > m + 60000L
    }
  }

  /** Pre-suffix fixed names, keyed by the prefix that replaced them. They
    * carry no pid to test, so they are reclaimed only past
    * [[legacyGraceMillis]]: a still-running pre-suffix JVM sharing the
    * tmpdir is not raced. */
  private val legacyNames: Map[String, String] = Map(
    "graft_part_orders_" -> "graft_part_orders",
    "graft_formats_rt_" -> "graft_formats_rt",
    "graft_q_orders_b_" -> "graft_q_orders_b",
    "graft_q_customer_b_" -> "graft_q_customer_b")

  private val legacyGraceMillis: Long = 6L * 3600 * 1000

  /** Reclaim the entries of `parent` left by processes that are gone:
    * names starting with one of `prefixes` whose embedded `_p<pid>`
    * (possibly followed by a stage suffix like `__upserting`) has
    * [[ownerGone]]. Our own pid is never touched. `legacy` fixed names —
    * plus the table's names for `prefixes` — are reclaimed past the grace
    * period. Everything is per-entry best-effort: an unparseable pid in
    * the shared tmpdir, a racing sweep, or a permission blip must not fail
    * the query. */
  def sweep(parent: File, prefixes: Seq[String],
            legacy: Seq[String] = Nil): Unit = {
    val fixed = legacy ++ prefixes.flatMap(legacyNames.get)
    // NOT end-anchored: crash leftovers like `..._p123__upserting` must
    // still resolve to their owning pid to be reclaimable
    val pidRe = "_p(\\d+)".r
    val now = System.currentTimeMillis()
    Option(parent.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
      scala.util.Try {
        if (fixed.contains(f.getName)) {
          val m = f.lastModified() // 0 = unknown (IO error): never reclaim
          if (m > 0 && now - m > legacyGraceMillis)
            org.apache.commons.io.FileUtils.deleteDirectory(f)
        } else if (prefixes.exists(f.getName.startsWith)) {
          pidRe.findFirstMatchIn(f.getName).map(_.group(1).toLong).foreach { p =>
            if (p != pid && ownerGone(p, f.lastModified()))
              org.apache.commons.io.FileUtils.deleteDirectory(f)
          }
        }
      }
    }
  }

  /** The session's warehouse directory as a local file, when it is one. */
  def warehouseDir(s: SparkSession): Option[File] =
    scala.util.Try {
      val raw = s.conf.get("spark.sql.warehouse.dir")
      if (raw.startsWith("file:")) new File(new java.net.URI(raw))
      else new File(raw)
    }.toOption.filter(_.isDirectory)
}
