package graft.ingest

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** VACUUM — the store's orphan-artifact sweeper (the HBase
  * CleanerChore / Iceberg `remove_orphan_files` analog). The write
  * protocols are crash-safe by construction — every visible artifact
  * lands via atomic rename — but a crash BEFORE the rename leaves
  * invisible debris that no read face ever touches and no compaction
  * ever reclaims:
  *
  *  - `_overwrite_staging/<writeId>/` — a staged INSERT OVERWRITE
  *    generation whose job died before commit (the table itself is
  *    untouched; the staging dir is pure dead weight);
  *  - `_bulk_staging/<load>/` — staged segments of a bulk load (major,
  *    restore, resplit) whose driver died before its flip-in;
  *  - `_overwrite_trash/<writeId>/` — the displaced old generation if
  *    the commit crashed between its two renames (the swap itself
  *    completed — trash is a deletion that never finished);
  *  - `*.tmp` files inside shard directories — torn put/marker/segment
  *    writer tasks (`Files.createTempFile` + rename protocol; every
  *    reader already skips the suffix).
  *
  * SAFETY: an ACTIVE job's staging dir must survive, so the sweep is
  * age-gated — a candidate goes only when its NEWEST recursive mtime
  * is older than `olderThanMs` (a live writer keeps touching its
  * files). `olderThanMs = 0` sweeps everything, the test/operator
  * override after a known crash.
  *
  * Scale: the sweep is driver-side directory metadata — candidates
  * are bounded by crashed-job count and torn-task count, never by
  * cell count; at 100 TB this is the same nightly chore HBase runs,
  * I/O ∝ listings + orphan bytes deleted.
  */
object Vacuum {

  final case class Report(stagingSwept: Long, trashSwept: Long,
                          tmpFiles: Long, bytesReclaimed: Long)

  def sweep(root: String, olderThanMs: Long,
            nowMs: Long = System.currentTimeMillis()): Report = {
    val rootDir = Paths.get(root)
    val cutoff = nowMs - math.max(0L, olderThanMs)
    var staging = 0L
    var trash = 0L
    var tmps = 0L
    var bytes = 0L

    // LIVE-TRAFFIC SAFETY (ADVICE r14): every per-entry metadata call
    // races concurrent writers — a finishing task renames its .tmp
    // away, a compaction sweeps a file — and a vanished entry must be
    // SKIPPED, not abort the whole maintenance verb mid-sweep with
    // partial counts (the deleteQuietly posture, applied to the reads)
    def mtimeOf(p: Path): Long =
      try Files.getLastModifiedTime(p).toMillis
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => Long.MinValue }
    def fileSizeOf(p: Path): Long =
      try Files.size(p)
      catch { case _: java.io.IOException | _: java.io.UncheckedIOException => 0L }
    def walkSafe[A](dir: Path)(f: Iterator[Path] => A, onError: => A): A =
      try {
        val w = Files.walk(dir)
        try f(w.iterator().asScala)
        catch { case _: java.io.UncheckedIOException => onError } // entry vanished mid-walk
        finally w.close()
      } catch { case _: java.io.IOException => onError } // dir itself vanished
    def newestMtime(dir: Path): Long =
      // a walk error means the candidate is CHANGING — report it as
      // fresh (Long.MaxValue) so the age gate keeps it this sweep
      walkSafe(dir)(_.foldLeft(Long.MinValue)((mx, p) => math.max(mx, mtimeOf(p))),
        Long.MaxValue)
    def sizeOf(dir: Path): Long =
      walkSafe(dir)(_.filter(p => try Files.isRegularFile(p) catch {
        case _: java.io.UncheckedIOException => false
      }).map(fileSizeOf).sum, 0L)
    def sweepGenerations(kind: Path): Long = {
      var swept = 0L
      if (Files.isDirectory(kind)) {
        val l = Files.list(kind)
        val candidates = try l.iterator().asScala.filter(Files.isDirectory(_)).toVector
                         finally l.close()
        candidates.foreach { gen =>
          if (newestMtime(gen) <= cutoff) {
            bytes += sizeOf(gen)
            org.apache.commons.io.FileUtils.deleteQuietly(gen.toFile)
            swept += 1
          }
        }
      }
      swept
    }

    staging = sweepGenerations(rootDir.resolve("_overwrite_staging"))
    // a CTAS/RTAS or bulk load whose job died before commit leaves its
    // staged generation here — same lifecycle, same age gate
    staging += sweepGenerations(rootDir.resolve("_ctas_staging"))
    staging += sweepGenerations(rootDir.resolve("_bulk_staging"))
    trash = sweepGenerations(rootDir.resolve("_overwrite_trash"))

    // torn-task .tmp files: every table dir, every shard dir — one
    // bounded walk; visible store files are never candidates.
    // `_splitstage*` DIRECTORIES are a region split's pre-publish
    // staging — a crash there leaves the parents intact and the orphan
    // duplicative, so an aged orphan sweeps like a .tmp (the split's
    // own recovery also removes them, this is the no-more-splits case)
    if (Files.isDirectory(rootDir)) {
      val tables = Files.list(rootDir)
      val tableDirs = try tables.iterator().asScala
        .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))
        .toVector finally tables.close()
      tableDirs.foreach { t =>
        val victims = walkSafe(t)(_.filter { p =>
          p.getFileName.toString.endsWith(".tmp") &&
            (try Files.isRegularFile(p) catch { case _: java.io.UncheckedIOException => false }) &&
            mtimeOf(p) <= cutoff
        }.toVector, Vector.empty)
        victims.foreach { p =>
          bytes += fileSizeOf(p)
          try { if (Files.deleteIfExists(p)) tmps += 1 }
          catch { case _: java.io.IOException => () } // renamed away first — fine
        }
        val stageOrphans = walkSafe(t)(_.filter { p =>
          p.getFileName.toString.startsWith("_splitstage") &&
            (try Files.isDirectory(p) catch { case _: java.io.UncheckedIOException => false })
        }.toVector, Vector.empty)
        stageOrphans.foreach { p =>
          if (newestMtime(p) <= cutoff) {
            bytes += sizeOf(p)
            org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
            tmps += 1
          }
        }
      }
    }
    Report(staging, trash, tmps, bytes)
  }
}
