package graft.ingest

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** ZERO-COPY SNAPSHOT / CLONE — the HBase `snapshot` /
  * `clone_snapshot` verbs for the sandbox store.
  *
  * A snapshot HARD-LINKS every store file of a table (cells, segments,
  * both marker kinds) into `<root>/_snapshots/<name>/<table>/<shard>/`
  * plus copies of the descriptor and split layout — no cell bytes
  * move. Store files are RENAME-ONLY IMMUTABLE (every write protocol
  * stages to a temp name and renames; a REPLACE rename swaps the
  * directory entry, never the inode), so the links make pinning FREE:
  * a major compaction, TTL sweep, DELETE, TRUNCATE, or Vacuum merely
  * unlinks the table's NAME for a file — the snapshot's link keeps the
  * bytes alive, and dropping the snapshot releases them. No refcount,
  * no pin-list, no cleaner coordination — the filesystem's link count
  * IS the refcount (exactly the role HBase's archive directory plays,
  * where its SnapshotFileCache keeps referenced HFiles out of the
  * CleanerChore's reach; on a linkless DFS this object is the seam
  * that archive protocol would implement).
  *
  * CLONE materializes a new, fully INDEPENDENT table from a snapshot:
  * links into a staged generation (the CTAS `_ctas_staging` protocol),
  * committed by one atomic rename — the clone shares inodes with the
  * snapshot but never content-diverges (immutability again), and new
  * writes/deletes/compactions on either side only add or unlink names
  * on that side.
  *
  * CONSISTENCY: creation runs under the table WRITE lock (writers,
  * flushes, and region splits are excluded; a pending crashed split is
  * completed first so the linked set is a whole view). A concurrent
  * driver-side major can still unlink a listed file mid-link — the
  * create retries from a fresh listing, and the flip-in/dedup physics
  * make any retry's set a consistent view. Time-travel composes: a
  * snapshot read with `VERSION AS OF` is the as-of slice of the
  * pinned set, retention-proof by construction.
  *
  * 100 TB: a snapshot is O(store files) metadata operations and zero
  * data bytes; post-compaction that is ~one link per region. */
object Snapshots {

  final case class Meta(name: String, table: String, files: Long, createdMillis: Long)

  private def snapsDir(root: String) = Paths.get(root, "_snapshots")
  private def mangled(table: String) = table.replace(':', '~')

  /** The snapshot's own root — a snapshot IS a readable store root
    * holding one table, so every read face (and time travel) works on
    * it unchanged: `spark.read.format("graft-cells")
    * .option("root", Snapshots.rootOf(root, name)).option("table", t)`. */
  def rootOf(root: String, name: String): String =
    snapsDir(root).resolve(name).toString

  /** Create snapshot `name` of `table` — links + tiny copies, no cell
    * bytes. Fails if the name exists (snapshot names are per-root
    * unique, the HBase contract). */
  def create(root: String, table: String, name: String,
             nowMillis: Long = System.currentTimeMillis()): Meta = {
    require(name.nonEmpty && !name.contains('/') && !name.startsWith("_"),
      s"snapshot names are simple identifiers, got '$name'")
    val tableDir = Paths.get(root, mangled(table))
    require(Files.isDirectory(tableDir), s"no such table: $table")
    val target = snapsDir(root).resolve(name)
    require(!Files.exists(target), s"snapshot '$name' already exists")
    FileStore.Locks.write(tableDir) {
      // a crashed region split's satellite holds part of the view —
      // finish it so the linked set is whole (reentrant write lock)
      RegionSplit.completePending(root, table)
      var attempt = 0
      var done: Option[Meta] = None
      while (done.isEmpty) {
        attempt += 1
        val stage = Files.createTempDirectory(
          Files.createDirectories(snapsDir(root)), "_snapstage")
        try {
          val tDir = Files.createDirectories(stage.resolve(mangled(table)))
          var files = 0L
          // descriptor + layout: real COPIES (tiny, and clearer than
          // coupling to the live files' rename lifecycle)
          Seq("_spec.json", "_splits.json").foreach { f =>
            val src = tableDir.resolve(f)
            if (Files.exists(src)) Files.copy(src, tDir.resolve(f))
          }
          // each region's own store files: satellites are finished
          // above, debris is never store data
          ShardFiles.regions(tableDir).foreach { shard =>
            val dst = Files.createDirectories(tDir.resolve(shard.getFileName.toString))
            ShardFiles.list(shard).own.foreach { e =>
              Files.createLink(dst.resolve(e.name), e.path)
              files += 1
            }
          }
          Files.write(tDir.resolve("_snapshot.json"),
            (s"""{"name":"$name","table":"$table","files":$files,""" +
              s""""createdMillis":$nowMillis}""").getBytes("UTF-8"))
          Files.move(stage, target, StandardCopyOption.ATOMIC_MOVE)
          done = Some(Meta(name, table, files, nowMillis))
        } catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
            throw new IllegalArgumentException(s"snapshot '$name' already exists", e)
          case e: java.io.IOException =>
            // a concurrent driver-side major unlinked a listed file
            // mid-link: retry from a fresh listing (flip-in + identity
            // dedup make any listed instant a consistent view)
            org.apache.commons.io.FileUtils.deleteQuietly(stage.toFile)
            if (attempt >= 3) throw e
        }
      }
      done.get
    }
  }

  /** the snapshot's pinned source-table name (from its manifest). */
  def tableOf(root: String, name: String): String = {
    val dir = snapsDir(root).resolve(name)
    require(Files.isDirectory(dir), s"no such snapshot: $name")
    val s = Files.list(dir)
    val tDir =
      try s.iterator().asScala.find(p => Files.isDirectory(p)).getOrElse(
        throw new IllegalStateException(s"snapshot '$name' holds no table dir"))
      finally s.close()
    val o = graft.core.Json.parseObject(new String(
      Files.readAllBytes(tDir.resolve("_snapshot.json")), "UTF-8"))
    o.get("table") match {
      case Some(graft.core.JStr(t)) => t
      case _ => tDir.getFileName.toString.replace('~', ':')
    }
  }

  /** Hard-link a snapshot's pinned table into a fresh `_ctas_staging`
    * generation (descriptor/layout as real copies — fresh mtimes, so
    * the layout cache's stamp check observes the change) — the shared
    * staging step of [[clone]] and [[restore]]. Returns
    * (stagingRoot, stagedTableDir, filesLinked). */
  private def stageLinks(root: String, name: String, targetTable: String,
                         kind: String): (Path, Path, Long) = {
    val srcTable = tableOf(root, name)
    val srcDir = snapsDir(root).resolve(name).resolve(mangled(srcTable))
    val stagingRoot = Paths.get(root, "_ctas_staging",
      kind + "-" + java.util.UUID.randomUUID().toString.replace("-", "").take(12))
    val staged = Files.createDirectories(stagingRoot.resolve(mangled(targetTable)))
    var files = 0L
    Seq("_spec.json", "_splits.json").foreach { f =>
      val src = srcDir.resolve(f)
      if (Files.exists(src)) Files.copy(src, staged.resolve(f))
    }
    ShardFiles.regions(srcDir).foreach { shard =>
      val dst = Files.createDirectories(staged.resolve(shard.getFileName.toString))
      ShardFiles.list(shard).own.foreach { e =>
        Files.createLink(dst.resolve(e.name), e.path)
        files += 1
      }
    }
    (stagingRoot, staged, files)
  }

  /** Materialize snapshot `name` as the new table `newTable` —
    * hard-links into a staged generation, one atomic commit rename
    * (the CTAS protocol); the clone is independent by immutability. */
  def clone(root: String, name: String, newTable: String): Long = {
    val live = Paths.get(root, mangled(newTable))
    require(!Files.exists(live), s"table $newTable already exists")
    val (stagingRoot, staged, files) = stageLinks(root, name, newTable, "clone")
    try Files.move(staged, live, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e: java.nio.file.FileSystemException if Files.isDirectory(live) =>
        org.apache.commons.io.FileUtils.deleteQuietly(stagingRoot.toFile)
        throw new IllegalArgumentException(s"table $newTable already exists", e)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(stagingRoot.toFile)
    files
  }

  /** In-place RESTORE of snapshot `name` onto its source table — the
    * HBase `restore_snapshot` verb: the live table's current
    * generation swaps out for the snapshot's pinned set via the RTAS
    * two-rename protocol (trash-park → promote — the q239/q262
    * visibility contract: readers see the old generation until the
    * swap instant, and a POISONED restore — any staging failure —
    * leaves the live table untouched, the orphaned staging being
    * Vacuum's, never damage). The staged generation is hard links
    * (zero data bytes, like [[clone]]); the parked old generation is
    * swept after the swap — bytes shared with any snapshot stay alive
    * through those links. The swap runs under the table WRITE lock
    * (writers, flushes, splits excluded). A DROPPED table restores
    * too (HBase demands clone there; recreating in place is the
    * strictly more useful contract and stays atomic — the trash-park
    * step just has nothing to park). Returns files linked. */
  def restore(root: String, name: String): Long = {
    val srcTable = tableOf(root, name)
    val live = Paths.get(root, mangled(srcTable))
    // stage BEFORE the lock — a poisoned staging never touches live
    val (stagingRoot, staged, files) = stageLinks(root, name, srcTable, "restore")
    FileStore.Locks.write(live) {
      val trash = Paths.get(root, "_overwrite_trash",
        "restore-" + stagingRoot.getFileName.toString, mangled(srcTable))
      Files.createDirectories(trash.getParent)
      if (Files.isDirectory(live))
        Files.move(live, trash, StandardCopyOption.ATOMIC_MOVE)
      Files.move(staged, live, StandardCopyOption.ATOMIC_MOVE)
      org.apache.commons.io.FileUtils.deleteQuietly(trash.getParent.toFile)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(stagingRoot.toFile)
    files
  }

  /** Drop a snapshot — unlinks its names; bytes whose last link this
    * was are reclaimed by the filesystem. */
  def drop(root: String, name: String): Boolean = {
    val dir = snapsDir(root).resolve(name)
    Files.isDirectory(dir) && org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  /** (name, table, files, createdMillis) of every snapshot. */
  def list(root: String): Seq[Meta] = {
    val dir = snapsDir(root)
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) && !p.getFileName.toString.startsWith("_"))
      .map { p =>
        val name = p.getFileName.toString
        val t = tableOf(root, name)
        val o = graft.core.Json.parseObject(new String(Files.readAllBytes(
          p.resolve(mangled(t)).resolve("_snapshot.json")), "UTF-8"))
        def long(k: String): Long = o.get(k) match {
          case Some(n: graft.core.JNum) => n.toLongExact.getOrElse(0L)
          case _ => 0L
        }
        Meta(name, t, long("files"), long("createdMillis"))
      }.toVector.sortBy(_.name)
    finally s.close()
  }
}
