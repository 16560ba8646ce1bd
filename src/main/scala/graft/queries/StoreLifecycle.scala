package graft.queries

import graft.ingest.{BulkLoad, CellSegment, Compaction, FileStore, PushTableSink, Resplit, ShardFiles}
import graft.sources.CellsSource
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Cell-store MAINTENANCE lifecycle over the bulk-load machinery —
  * round 10's closers on the HBase-analog story: in-place major
  * compaction with version GC (q194) and a digest-verified
  * backup/restore round-trip whose restore path IS the bulk load
  * (q195). Both gate rows derive every byte from the documents table,
  * so the DuckDB oracle re-derives the same logical content with no
  * engine-side state.
  */
object StoreLifecycle {

  /** sorted shard-directory names of a table — layout inspection. */
  private def segShardDirs(root: String, tableDirName: String): Seq[String] =
    ShardFiles.regions(Paths.get(root, tableDirName)).map(_.getFileName.toString)

  /** every entry name of every shard directory, whatever its kind. */
  private def segFiles(root: String, tableDirName: String): Seq[String] =
    ShardFiles.regions(Paths.get(root, tableDirName))
      .flatMap(ShardFiles.list(_).paths.map(_.getFileName.toString))

  /** The storage-partitioned-join gates' confs: key-grouped scans on,
    * broadcast off (a broadcast would sidestep co-partitioning, and the
    * property under test is the sort-merge path). */
  private val spjConfs = Seq(
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Major compaction through the full store-file mix: versions 1-2
    // land as one bulk segment generation, version 3 as a second
    // (overlapping segments per shard), versions 4-5 as per-cell put
    // files through the connector write face — then Compaction.major
    // rewrites the table under its maxVersions=3 DDL. Since r15 the
    // READ faces apply retention themselves (HBase StoreScanner), so
    // the masked view shows the newest 3 per key BEFORE the major and
    // IDENTICALLY after it — the $changes edit log (never masked)
    // proves all 5 generations were physically present pre-GC. The
    // post-compact store holds ONLY fresh segments (every put file and
    // superseded segment swept); the oracle re-derives the retained
    // slice straight from documents; the connector read after the
    // sweep proves the rewritten segments carry the bytes.
    "q194_cells_major_compact" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q194-cells").toString
      try {
        val spec = PushTableSink.TableSpec(maxVersions = 3)
        def seed(vLo: Int, vHi: Int) = Tables.documents(s, d)
          .filter(col("doc_id") % 11 === 0)
          .select(col("doc_id"), explode(sequence(lit(vLo), lit(vHi))).as("v"))
          .select(lit("q194").as("tableName"),
            expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 8 + v").as("version"),
            expr("cast(md5(concat(cast(doc_id as string), '-', cast(v as string))) as binary)").as("body"))
        BulkLoad.writeCells(seed(1, 2), root, BulkLoad.Config(tableSpec = spec))
        BulkLoad.writeCells(seed(3, 3), root, BulkLoad.Config(tableSpec = spec))
        seed(4, 5).drop("tableName").write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q194").save()
        def readTable = s.read.format("graft-cells")
          .option("root", root).option("table", "q194").load()
        val before = readTable.count()
        val physical = s.read.format("graft-cells")
          .option("root", root).option("table", "q194")
          .option("changeFeed", "true").load().count()
        require(3L * physical == 5L * before,
          s"read-time cap serves 3 of the 5 physical versions per key: view=$before log=$physical")
        val report = Compaction.major(s, root, "q194")
        val res = readTable
          .select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"))
          .localCheckpoint()
        val after = res.count()
        require(after > 0 && after == report.keptCells && after == before,
          s"the major reclaims bytes, never changes answers: before=$before after=$after kept=${report.keptCells}")
        val files = segFiles(root, "q194")
        require(files.nonEmpty && files.forall(CellSegment.isSegment),
          "post-compact store must hold only fresh segments")
        res
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // Backup/restore round-trip: the live table (seeded through the
    // connector write face) exports to parquet — a shard-parallel
    // connector scan, the portable cold format — and restores into a
    // FRESH store root via the bulk-load path (the HBase
    // ExportSnapshot → LoadIncrementalHFiles idiom: restore never
    // replays puts, it rebuilds store files directly). In-query
    // invariant: restored state ≡ source state cell-for-cell
    // (exceptAll both ways); the emitted result reads from the
    // RESTORED store, so the driver hash pins the whole chain —
    // export fidelity, parquet round-trip, bulk rebuild, and the
    // segment read face.
    "q195_cells_backup_restore" -> { (s, d) =>
      val srcRoot = Files.createTempDirectory("graft-q195-src").toString
      val bakDir = Files.createTempDirectory("graft-q195-bak").toString
      val dstRoot = Files.createTempDirectory("graft-q195-dst").toString
      try {
        Tables.documents(s, d).filter(col("doc_id") % 13 === 0)
          .select(col("doc_id"), explode(sequence(lit(1), lit(2))).as("v"))
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 4 + v").as("version"),
            expr("cast(md5(concat(cast(doc_id as string), '~', cast(v as string))) as binary)").as("body"))
          .write.format("graft-cells").mode("append")
          .option("root", srcRoot).option("table", "q195").save()
        def readTable(root: String) = s.read.format("graft-cells")
          .option("root", root).option("table", "q195").load()
        // export: connector scan -> parquet backup
        readTable(srcRoot).write.mode("overwrite").parquet(bakDir + "/q195")
        // restore: parquet -> bulk segments in a fresh root
        BulkLoad.writeCells(
          s.read.parquet(bakDir + "/q195").select(lit("q195").as("tableName"),
            col("rowkey"), col("version"), col("body")), dstRoot)
        // materialize both sides once (r18): each exceptAll side
        // re-evaluates its whole subtree, so the two-way check cost 4
        // store scans (plus the returned frame a 5th) instead of 2
        val src = readTable(srcRoot).localCheckpoint()
        val dst = readTable(dstRoot).localCheckpoint()
        sameRows(src, dst, "restored store must match the source cell-for-cell")
        dst.select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"))
          .localCheckpoint()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcRoot))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bakDir))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dstRoot))
      }
    },

    // REGION PRE-SPLIT planner: 15 balanced split keys over the binary
    // rowkey space (16 equal-mass ranges) — what an HBase operator
    // computes before pointing a bulk load at a new table, so region
    // splits never happen mid-ingest (reference posture:
    // HbaseClient.kt's region model; the first-byte shard uniformity
    // comes from the CRC32 prefix, and THIS op is how you'd split
    // finer than one byte). Keys are digest-derived binaries (both
    // engines can compute them); boundaries are exact equi-depth
    // ranks (i·n div 16) read off GlobalRank's range-partitioned
    // total order — one range shuffle, no single-task sort, the q63
    // decomposition on BINARY keys.
    "q204_split_points" -> { (s, d) =>
      import graft.operators.GlobalRank
      val keys = Tables.documents(s, d)
        .select(unhex(md5(concat(lit("doc-"), col("doc_id")))).as("key"))
      val n = keys.count() // one bounded scalar: the total mass
      val targets = (1 to 15).map(i => i * n / 16)
      GlobalRank.rank(keys, Seq(col("key").asc), numParts = 32, rankCol = "boundary_rank")
        .filter(col("boundary_rank").isin(targets: _*))
        .select(col("boundary_rank"), hex(col("key")).as("split_key_hex"))
    },

    // INCREMENTAL backup — the CDC face of q195, driven entirely
    // through the [[Backup]] operator API: Backup.full RECORDS the
    // version watermark it observed (no hardcoded W anywhere);
    // Backup.incremental exports exactly the cells above that recorded
    // watermark (a FILENAME/trailer-pruned pushdown scan — sealed
    // generations are never opened) PLUS the delete-marker delta, and
    // advances the watermark; Backup.restore rebuilds a fresh root
    // from the chain via the bulk load, re-applying each slice's
    // markers. The round-11 hole is now IN the gate: a DELETE lands
    // between full and incremental — it produces no cell row in any
    // export (the connector's view is masked), so only the typed
    // tombstone sidecar can carry it; a chain without it would
    // resurrect the masked cells on restore. In-query invariants: the
    // recorded watermark IS the max version of the first batch, the
    // incremental CELL slice is exactly the second batch, the
    // increment's tombstone sidecar carries exactly the deletes, and
    // restored ≡ the source's MASKED view cell-for-cell (both ways).
    // The emitted result reads the RESTORED store, so the hash pins
    // watermark recording, both exports, the marker carriage, and the
    // chained rebuild.
    "q205_cells_incremental_backup" -> { (s, d) =>
      val srcRoot = Files.createTempDirectory("graft-q205-src").toString
      val bakDir = Files.createTempDirectory("graft-q205-bak").toString
      val dstRoot = Files.createTempDirectory("graft-q205-dst").toString
      try {
        // batch v: versions v·10⁹ + doc_id — batch 2 lands strictly
        // above every batch-1 version, the single-writer monotonic
        // contract the incremental guarantee documents
        def seed(v: Int): Unit = Tables.documents(s, d).filter(col("doc_id") % 17 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr(s"$v * 1000000000 + doc_id").as("version"),
            expr(s"cast(md5(concat(cast(doc_id as string), '+', '$v')) as binary)").as("body"))
          .write.format("graft-cells").mode("append")
          .option("root", srcRoot).option("table", "q205").save()
        def readTable(root: String) = s.read.format("graft-cells")
          .option("root", root).option("table", "q205").load()
        seed(1)
        val m1 = graft.ingest.Backup.full(s, srcRoot, "q205", bakDir)
        val batch1Max = readTable(srcRoot).agg(max(col("version"))).collect()(0).getLong(0)
        require(m1.watermark == batch1Max,
          s"full backup must record the observed watermark: ${m1.watermark} vs $batch1Max")
        // the delete AFTER the full backup: masks every other key's
        // batch-1 cell (T = its batch-1 version) — invisible to the
        // cell exports, carried only by the tombstone sidecar
        Tables.documents(s, d).filter(col("doc_id") % 34 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("1000000000 + doc_id").as("version"),
            lit(Array.emptyByteArray).as("body")) // ignored by marker writes
          .write.format("graft-cells").mode("append")
          .option("root", srcRoot).option("table", "q205")
          .option("tombstone", "true").save()
        seed(2)
        val m2 = graft.ingest.Backup.incremental(s, srcRoot, "q205", bakDir)
        val incr = s.read.parquet(s"$bakDir/${m2.increments.last}")
        val batch2 = readTable(srcRoot).filter(col("version") > m1.watermark)
        require(incr.count() == batch2.count() && m2.watermark > m1.watermark,
          "incremental export must be exactly the post-watermark slice")
        val markers = s.read.parquet(s"$bakDir/${m2.increments.last}-tombstones")
        val expectedDeletes = Tables.documents(s, d).filter(col("doc_id") % 34 === 0).count()
        require(markers.count() == expectedDeletes && expectedDeletes > 0,
          s"the increment must carry the delete-marker delta: ${markers.count()} vs $expectedDeletes")
        graft.ingest.Backup.restore(s, bakDir, dstRoot)
        // masked view — batch-1 cells of deleted keys hidden; both
        // sides materialized once for the two-way check (the q195 note)
        val src = readTable(srcRoot).localCheckpoint()
        val dst = readTable(dstRoot).localCheckpoint()
        sameRows(src, dst,
          "restore must reproduce the source's masked view — deletes must not resurrect")
        dst.select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"))
          .localCheckpoint()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcRoot))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bakDir))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dstRoot))
      }
    },

    // SPLIT-LAYOUT bulk load — the region-split answer to key skew:
    // every seeded rowkey opens with the same byte ('d' of "doc-"), so
    // the default 256 first-byte layout would funnel the whole load
    // through ONE shard (the 256-task parallelism ceiling the q204
    // planner exists to break). A creation-time split layout with
    // boundaries INSIDE the hot range shards it finer than one byte:
    // the load fans out across the regions, a point GET plans exactly
    // one of them, and a key range plans only its span. In-query
    // invariants: >6 shard directories under the single first byte,
    // 1-partition point lookup, pruned range scan; the emitted result
    // reads the whole table back through the connector, so the driver
    // hash pins placement ∘ split-aware pruning ∘ segment read.
    "q207_cells_split_bulk_load" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q207-cells").toString
      try {
        val points = (1 to 9).map(i => s"doc-$i".getBytes("UTF-8"))
        val cells = Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
          .select(lit("q207").as("tableName"),
            expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            col("doc_id").cast("long").as("version"),
            expr("cast(md5(cast(doc_id as string)) as binary)").as("body"))
        BulkLoad.writeCells(cells, root, BulkLoad.Config(splitPoints = points))
        val shardDirs = segShardDirs(root, "q207")
        require(shardDirs.size > 6,
          s"skewed keys must spread past the one default first-byte shard: ${shardDirs.size}")
        def readTable = s.read.format("graft-cells")
          .option("root", root).option("table", "q207").load()
        val point = readTable.filter(col("rowkey") === lit("doc-7".getBytes("UTF-8")))
        require(CellsSource.plannedShards(point).size == 1, "a point GET must plan exactly its region")
        val range = readTable.filter(col("rowkey") >= lit("doc-3".getBytes("UTF-8")) &&
          col("rowkey") < lit("doc-5".getBytes("UTF-8")))
        val rangeShards = CellsSource.plannedShards(range)
        require(rangeShards.size <= 3,
          s"a key range must plan only its region span: ${rangeShards.size}")
        readTable
          .select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"))
          .localCheckpoint()
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // COMPACTION under a concurrent writer — HBase compactions
    // tolerate live writes; so does this store's: the sweep deletes
    // only files captured in the pre-scan SNAPSHOT, so a put racing
    // the most exposed window (fresh segments flipped in, sweep not
    // yet run) lands outside the snapshot and SURVIVES. In-query
    // invariants: the racing cell is present after the sweep, the
    // snapshot cells obey maxVersions=2 retention, and the emitted
    // result is the full post-compaction table — the driver hash pins
    // retention AND the no-lost-write guarantee together.
    "q208_cells_compaction_race" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q208-cells").toString
      try {
        val spec = PushTableSink.TableSpec(maxVersions = 2)
        val cells = Tables.documents(s, d).filter(col("doc_id") % 23 === 0)
          .select(col("doc_id"), explode(sequence(lit(1), lit(3))).as("v"))
          .select(lit("q208").as("tableName"),
            expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 8 + v").as("version"),
            expr("cast(md5(concat(cast(doc_id as string), '#', cast(v as string))) as binary)").as("body"))
        BulkLoad.writeCells(cells, root, BulkLoad.Config(tableSpec = spec))
        val racing = PushTableSink.CellPut("q208", "doc-race".getBytes("UTF-8"), 1L,
          org.apache.commons.codec.digest.DigestUtils.md5Hex("race").getBytes("UTF-8"))
        val report = Compaction.major(s, root, "q208",
          beforeSweep = () => FileStore(root).putBatch("q208", Seq(racing)))
        val res = s.read.format("graft-cells")
          .option("root", root).option("table", "q208").load()
          .select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"))
          .localCheckpoint()
        val raceRows = res.filter(col("key_str") === "doc-race").count()
        require(raceRows == 1, s"the racing put must survive the sweep: $raceRows")
        require(res.count() == report.keptCells + 1,
          "post-compaction table = retained snapshot cells + the racing cell")
        res
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // BACKUP carries the table DESCRIPTOR, not just cells — the HBase
    // ExportSnapshot contract: a restored table that silently fell
    // back to default DDL would run with retention OFF
    // (maxVersions=Int.MaxValue) and the default region layout. Chain:
    // bulk load under maxVersions=2 + a custom split layout → full
    // backup → restore into a fresh root → require _spec.json and the
    // split layout byte-identical across the move → push a THIRD
    // version through the restored store's write face → compact the
    // RESTORED table. The emitted result keeps exactly the 2 newest
    // versions per key, which only happens if the restored table kept
    // its DDL — the driver hash pins the whole descriptor round-trip.
    // CO-LOCATED shuffle-free join — two tables sharing one split
    // layout join region-by-region with NO exchange (the bucketed-join
    // idiom at the storage layer; see [[graft.sources.ColocatedCells]]).
    // Table A carries two versions per key (latest must win), table B
    // a subset of the keys (inner-join pruning must drop the rest and,
    // at the DIRECTORY level, the B-empty regions) — and every 12th
    // key takes a DELETE on A masking both its versions, so the masked
    // read path inside the join must drop it (the HBase tombstone
    // semantics reaching the co-located face). In-query invariants:
    // the physical plan contains no Exchange, and the LEFT-outer face
    // emits exactly the A-only keys with a null B side; the emitted
    // result is the inner joined latest-state, so the driver hash pins
    // region alignment ∘ latest-version dedup ∘ delete masking ∘ join
    // correctness.
    "q211_cells_colocated_join" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q211-cells").toString
      try {
        val points = (1 to 9).map(i => s"doc-$i".getBytes("UTF-8"))
        def seed(table: String, pred: Int, tag: String, versions: Seq[Int]): Unit =
          BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % pred === 0)
              .select(col("doc_id"), explode(lit(versions.toArray)).as("v"))
              .select(lit(table).as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                expr("doc_id * 2 + v").as("version"),
                expr(s"cast(md5(concat(cast(doc_id as string), '$tag', cast(v as string))) as binary)").as("body")),
            root, BulkLoad.Config(splitPoints = points))
        seed("qa", 3, "A", Seq(1, 2)) // two versions: latest (v=2) must win
        seed("qb", 6, "B", Seq(1))
        // delete on A masking BOTH versions (T = v2) of every 12th key:
        // the masked path through the join must drop these keys
        Tables.documents(s, d).filter(col("doc_id") % 12 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 2 + 2").as("version"),
            lit(Array.emptyByteArray).as("body")) // ignored by marker writes
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "qa")
          .option("tombstone", "true").save()
        val joined = graft.sources.ColocatedCells.joinLatest(s, root, "qa", "qb")
        require(!joined.queryExecution.executedPlan.toString.contains("Exchange"),
          "co-located join must not shuffle")
        // the outer face: A-only keys (in %3 but not %6, or delete-
        // survivors with no B row) carry a null B side, shuffle-free too
        val left = graft.sources.ColocatedCells.joinLatest(s, root, "qa", "qb", "left")
        require(!left.queryExecution.executedPlan.toString.contains("Exchange"),
          "left co-located join must not shuffle")
        val aOnly = left.filter(col("version_b").isNull).count()
        val aLive = left.count()
        val inner = joined.count()
        require(aOnly == aLive - inner && aOnly > 0,
          s"left face must emit exactly the A-only keys: aOnly=$aOnly live=$aLive inner=$inner")
        joined.select(col("rowkey").cast("string").as("key_str"),
            col("version_a"), col("body_a").cast("string").as("body_a_md5"),
            col("version_b"), col("body_b").cast("string").as("body_b_md5"))
          .localCheckpoint()
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // STREAM-STATIC enrichment FROM the cell store — the composition a
    // serving pipeline runs: a live event stream joins the store's
    // current state as its dimension side, read through the graft-cells
    // connector (so the static side re-lists the store per micro-batch —
    // a put landing between batches is visible to the next one, the
    // stream-static contract). The stream face is the q56 lifecycle
    // (AvailableNow, memory sink); the dimension is seeded per
    // customer key and the oracle re-derives the same enrichment from
    // the base tables. 100 TB: the static side is a pushdown-capable
    // scan; a selective stream filter on the join key would prune it
    // to point lookups.
    "q221_cells_stream_enrich" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q221-cells").toString
      val ck = Files.createTempDirectory("graft-q221-ck")
      val sinkName = "q221_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
      try {
        Tables.customer(s, d)
          .select(expr("cast(concat('u-', c_custkey) as binary)").as("rowkey"),
            col("c_custkey").cast("long").as("version"),
            expr("cast(md5(concat(cast(c_custkey as string), 'S')) as binary)").as("body"))
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q221").save()
        // flush the per-cell puts into sorted segments before serving
        // — the HBase memstore-flush posture for a table that will be
        // SCANNED per micro-batch: without it the dimension side pays
        // |rows| tiny-file opens per batch (measured 14.7× super-linear
        // sf1→sf10); with it, sequential segment streams. Puts landing
        // after the flush remain visible — the read faces merge both
        // store-file kinds, the stream-static contract is unchanged.
        Compaction.minor(s, root, "q221", maxInputBytes = Long.MaxValue)
        val state = s.read.format("graft-cells")
          .option("root", root).option("table", "q221").load()
          .select(col("rowkey").cast("string").as("ukey"),
            col("body").cast("string").as("state_md5"))
        val schema = s.read.parquet(s"$d/events.parquet").schema
        val raw0 = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
        val enriched = raw0
          .select(col("user_id").cast("long").as("user_id"),
            Tables.tsAsMillis(raw0).as("ts_ms"), col("event_type"))
          .join(state, concat(lit("u-"), col("user_id")) === col("ukey"))
          .select(col("user_id"), col("ts_ms"), col("event_type"), col("state_md5"))
        val q = enriched.writeStream
          .format("memory").queryName(sinkName)
          .option("checkpointLocation", ck.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val out = s.table(sinkName).localCheckpoint()
        s.catalog.dropTempView(sinkName)
        out
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      }
    },

    // CHANGE-FEED DELETE EVENTS — the WAL/replication contract HBase
    // ships Deletes through: `option("changeFeed","true")` turns the
    // stream face into a typed edit log (op = put | delete; a delete
    // row's version is its mask bound), so a downstream materialized
    // view can CONVERGE to the masked batch view after a delete —
    // round 11's feed silently dropped markers and a q143-class MV
    // diverged forever. In-query invariants: the feed delivers every
    // put AND every marker (counted), a SENTINEL delete issued above
    // the global put max is delivered (markers must advance the
    // watermark — without that the AvailableNow cap would seal below
    // it), and the MV folded from the feed (drop puts at versions ≤
    // their key's max delete bound) equals the masked batch view both
    // ways. The emitted result is the MV, so the driver hash pins
    // event carriage ∘ apply semantics ∘ batch-face agreement.
    "q226_cells_change_feed_mv" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q226-cells").toString
      val ck = Files.createTempDirectory("graft-q226-ck")
      val sinkName = "q226_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
      try {
        def seed(v: Int): Unit = Tables.documents(s, d).filter(col("doc_id") % 15 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr(s"doc_id * 4 + $v").as("version"),
            expr(s"cast(md5(concat(cast(doc_id as string), '^', '$v')) as binary)").as("body"))
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q226").save()
        seed(1); seed(2)
        def readTable = s.read.format("graft-cells")
          .option("root", root).option("table", "q226").load()
        val putsMax = readTable.agg(max(col("version"))).collect()(0).getLong(0)
        // delete every third seeded key at T = v2 (masks both versions)
        Tables.documents(s, d).filter(col("doc_id") % 45 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 4 + 2").as("version"),
            lit(Array.emptyByteArray).as("body")) // ignored by marker writes
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q226")
          .option("tombstone", "true").save()
        // sentinel: a delete ABOVE every put version — only delivered
        // if markers advance the feed watermark
        FileStore(root).deleteCells("q226",
          Seq(("feed-sentinel".getBytes("UTF-8"), putsMax + 1000)))
        val feed = s.readStream.format("graft-cells")
          .option("root", root).option("table", "q226")
          .option("changeFeed", "true").load()
        val q = feed
          .select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"), col("op"))
          .writeStream.format("memory").queryName(sinkName)
          .option("checkpointLocation", ck.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val log = s.table(sinkName).localCheckpoint()
        s.catalog.dropTempView(sinkName)
        val expectedDeletes = Tables.documents(s, d).filter(col("doc_id") % 45 === 0).count()
        val delRows = log.filter(col("op") === "delete")
        require(delRows.count() == expectedDeletes + 1,
          s"the feed must deliver every delete marker: ${delRows.count()} vs ${expectedDeletes + 1}")
        require(delRows.filter(col("key_str") === "feed-sentinel").count() == 1,
          "a marker above the put max must advance the watermark and be delivered")
        // fold the MV: drop puts at versions <= their key's max delete bound
        val bounds = delRows.groupBy(col("key_str")).agg(max(col("version")).as("del_v"))
        val mv = log.filter(col("op") === "put")
          .join(bounds, Seq("key_str"), "left")
          .filter(col("del_v").isNull || col("version") > col("del_v"))
          .select(col("key_str"), col("version"), col("body_md5"))
          .localCheckpoint()
        val masked = readTable.select(col("rowkey").cast("string").as("key_str"),
          col("version"), col("body").cast("string").as("body_md5"))
          .localCheckpoint() // evaluated once, compared twice (the q195 note)
        sameRows(mv, masked, "the MV folded from the change feed must equal the masked batch view")
        mv
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      }
    },

    // STORAGE-PARTITIONED JOIN through the CATALOG face — the q211
    // co-located join discovered by CATALYST ITSELF: the store's
    // tables are exposed as a named TableCatalog+FunctionCatalog
    // ([[graft.sources.CellsCatalog]]); a catalog-loaded scan reports
    // KeyGroupedPartitioning over graft_shard_<layout>(rowkey) with
    // each partition's region index as its value, so under
    // spark.sql.sources.v2.bucketing.enabled EnsureRequirements plans
    // `a JOIN b ON rowkey` with NO exchange on either side — no
    // imperative RDD code anywhere, pure DataFrame API. In-query
    // invariants: the physical plan contains no Exchange, and the
    // emitted result is the joined state, so the driver hash pins
    // catalog resolution ∘ partition-value alignment ∘ join
    // correctness. 100 TB: the SPJ declines (and shuffles, correctly)
    // exactly when layouts differ — the function's canonical name IS
    // the layout fingerprint.
    "q228_cells_storage_partitioned_join" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q228-cells").toString
      try {
        val points = (1 to 9).map(i => s"doc-$i".getBytes("UTF-8"))
        def seed(table: String, pred: Int, tag: String, vOff: Int): Unit =
          BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % pred === 0)
              .select(lit(table).as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                expr(s"doc_id + $vOff").as("version"),
                expr(s"cast(md5(concat(cast(doc_id as string), '$tag')) as binary)").as("body")),
            root, BulkLoad.Config(splitPoints = points))
        seed("spja", 14, "SA", 1)
        seed("spjb", 28, "SB", 2)
        withConf(s, cellsCatalog("g", root) ++ spjConfs: _*) { s =>
          val joined = s.table("g.spja").as("a")
            .join(s.table("g.spjb").as("b"), col("a.rowkey") === col("b.rowkey"))
            .select(col("a.rowkey").cast("string").as("key_str"),
              col("a.version").as("version_a"),
              col("a.body").cast("string").as("body_a_md5"),
              col("b.version").as("version_b"),
              col("b.body").cast("string").as("body_b_md5"))
          val plan = joined.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            s"same-layout catalog tables must storage-partition-join with no exchange:\n$plan")
          joined.localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // SQL TIME TRAVEL through the catalog — `VERSION AS OF` as a
    // first-class snapshot read: the catalog's loadTable(ident,
    // version) seeds the scan's version upper bound, so the snapshot
    // is the store's native filename-pruned time-travel slice (sealed
    // newer generations never open). In-query invariants: the full
    // read sees both batches, the snapshot exactly batch 1; the
    // emitted result IS the snapshot, so the driver hash pins bound
    // seeding ∘ filename pruning ∘ the SQL surface. 100 TB: a
    // snapshot read costs the slice, never the table.
    "q229_cells_sql_time_travel" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q229-cells").toString
      try {
        def seed(v: Int): Unit = BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 16 === 0)
            .select(lit("q229").as("tableName"),
              expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              expr(s"$v * 1000000000 + doc_id").as("version"),
              expr(s"cast(md5(concat(cast(doc_id as string), 'T', '$v')) as binary)").as("body")),
          root)
        seed(1); seed(2)
        withConf(s, cellsCatalog("g", root): _*) { s =>
          val full = s.table("g.q229").count()
          val snap = s.sql(
            s"""SELECT cast(rowkey as string) AS key_str, version,
                       cast(body as string) AS body_md5
                FROM g.q229 VERSION AS OF 1999999999""")
            .localCheckpoint()
          require(full == 2 * snap.count() && snap.count() > 0,
            s"the snapshot is exactly the first batch: full=$full snap=${snap.count()}")
          snap
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // THE EDIT LOG IN SQL — the `$changes` metadata-table suffix
    // (Iceberg's metadata-table idiom over this store's WAL face):
    // `SELECT … FROM cat.tbl$changes` reads the UNMASKED edit log —
    // puts with bodies, delete markers as op='delete' rows — while the
    // base table stays the masked view; both are plain catalog reads,
    // no options anywhere. In-query invariants: the log carries
    // exactly |puts| + |deletes| rows, the masked base face hides
    // exactly what the markers cover, and the emitted result is the
    // full typed log, so the driver hash pins the op column, marker
    // versions, and unmasked carriage end to end.
    "q230_cells_sql_changes" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q230-cells").toString
      try {
        def seedPut(v: Int): Unit = Tables.documents(s, d).filter(col("doc_id") % 22 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr(s"doc_id * 4 + $v").as("version"),
            expr(s"cast(md5(concat(cast(doc_id as string), ';', '$v')) as binary)").as("body"))
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q230").save()
        seedPut(1); seedPut(2)
        Tables.documents(s, d).filter(col("doc_id") % 44 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 4 + 3").as("version"),
            lit(Array.emptyByteArray).as("body")) // ignored by marker writes
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q230")
          .option("tombstone", "true").save()
        withConf(s, cellsCatalog("g", root): _*) { s =>
          val puts = Tables.documents(s, d).filter(col("doc_id") % 22 === 0).count() * 2
          val dels = Tables.documents(s, d).filter(col("doc_id") % 44 === 0).count()
          val log = s.sql(
            "SELECT cast(rowkey as string) AS key_str, version, op " +
              "FROM g.`q230$changes`")
            .localCheckpoint()
          require(log.count() == puts + dels && dels > 0,
            s"the edit log reports every edit: ${log.count()} vs ${puts + dels}")
          // the masked BASE face hides exactly the marker-covered puts
          // (every %44 key's v1+v2 — the marker at v3 covers both)
          val masked = s.table("g.q230").count()
          require(masked == puts - 2 * dels,
            s"the base table is the masked view: $masked vs ${puts - 2 * dels}")
          log
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // SQL DELETE — the last DML face: `DELETE FROM cat.tbl WHERE
    // rowkey IN (…) [AND version <= T]` writes tombstone MARKERS
    // through DSv2 SupportsDelete (no cell rewritten; majors purge
    // later) — the HBase Delete idiom as a SQL statement. A version
    // bound stamps the markers at T (addColumns-up-to-T); a bare key
    // delete stamps each key's CURRENT latest version (deleteRow).
    // In-query invariants: the $changes log carries exactly the
    // expected markers at the expected versions (the shared bound for
    // the bounded statement, per-key latest for the bare one), and
    // the emitted result is the masked view after both deletes — the
    // driver hash pins predicate decomposition ∘ marker stamping ∘
    // masking. `version = T` takes an exact `.dv` marker (q234-family
    // semantics); still-unsupported shapes (ranges, non-key columns)
    // are DECLINED at canDeleteWhere so Spark fails loudly instead of
    // over-deleting.
    "q231_cells_sql_delete" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q231-cells").toString
      try {
        def seed(v: Int) = Tables.documents(s, d).filter(col("doc_id") % 26 === 0)
          .select(lit("q231").as("tableName"),
            expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr(s"$v * 1000000000 + doc_id").as("version"),
            expr(s"cast(md5(concat(cast(doc_id as string), '/', '$v')) as binary)").as("body"))
        BulkLoad.writeCells(seed(1), root)
        BulkLoad.writeCells(seed(2), root)
        withConf(s, cellsCatalog("g", root): _*) { s =>
          def inList(pred: Int): String = Tables.documents(s, d)
            .filter(col("doc_id") % pred === 0).select(col("doc_id").cast("long"))
            .collect().map(_.getLong(0)).sorted
            .map(id => "X'" + s"doc-$id".getBytes("UTF-8").map(b => f"$b%02x").mkString + "'")
            .mkString("(", ", ", ")")
          // bounded: mask batch 1 of every %52 key (marker at the bound)
          s.sql(s"DELETE FROM g.q231 WHERE rowkey IN ${inList(52)} AND version <= 1999999999")
          // bare: mask EVERYTHING of every %104 key (marker at its latest)
          s.sql(s"DELETE FROM g.q231 WHERE rowkey IN ${inList(104)}")
          val n52 = Tables.documents(s, d).filter(col("doc_id") % 52 === 0).count()
          val n104 = Tables.documents(s, d).filter(col("doc_id") % 104 === 0).count()
          val markers = s.sql(
            "SELECT cast(rowkey as string) AS k, version FROM g.`q231$changes` " +
              "WHERE op = 'delete'").collect().map(r => (r.getString(0), r.getLong(1)))
          require(markers.length == n52 + n104 && n104 > 0,
            s"one marker per bounded key + one per bare key: ${markers.length} vs ${n52 + n104}")
          require(markers.count(_._2 == 1999999999L) == n52,
            "bounded deletes stamp the statement's bound")
          require(markers.filter(_._2 != 1999999999L).forall { case (k, v) =>
            v == 2000000000L + k.stripPrefix("doc-").toLong },
            "bare deletes stamp each key's current latest version")
          s.table("g.q231")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // THE SERVING VIEW IN SQL — the `$latest` metadata table: every
    // SELECT against a multi-version catalog table returns ALL
    // versions (the history face); `tbl$latest` resolves to each key's
    // MAX-VERSION LIVE cell — HBase's read-your-current-state contract
    // (Get/Scan serve the newest version; HbaseClient.kt:83-92) as a
    // plain catalog read. The fold is computed per REGION from
    // filenames + segment indexes alone, so only winning cells ever
    // open. In-query invariants: the face equals the base-table max_by
    // fold both ways, a fully-masked key is absent from both, and the
    // opened-file count equals the surviving key count exactly (history
    // and masked cells pruned at metadata level — the I/O shape that
    // holds when each key carries thousands of versions at 100 TB).
    "q232_cells_sql_latest" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q232-cells").toString
      try {
        // flush policy OFF (r15): the opened==winners invariant counts
        // PER-CELL put opens — a flushed segment opens once for all
        graft.ingest.FileStore(root).ensureTable("q232",
          PushTableSink.TableSpec(compactionThreshold = 0))
        def seed(v: Int): Unit = Tables.documents(s, d).filter(col("doc_id") % 18 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr(s"doc_id * 4 + $v").as("version"),
            expr(s"cast(md5(concat(cast(doc_id as string), '~', '$v')) as binary)").as("body"))
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q232").save()
        seed(1); seed(2)
        // every third seeded key vanishes entirely (marker above both)
        Tables.documents(s, d).filter(col("doc_id") % 54 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 4 + 2").as("version"),
            lit(Array.emptyByteArray).as("body")) // ignored by marker writes
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q232")
          .option("tombstone", "true").save()
        withConf(s, cellsCatalog("g", root): _*) { s =>
          graft.sources.CellsSource.filesOpened.set(0)
          val latest = s.sql(
            s"""SELECT cast(rowkey as string) AS key_str, version,
                       cast(body as string) AS body_md5
                FROM g.`q232$$latest`""").localCheckpoint()
          val opened = graft.sources.CellsSource.filesOpened.get()
          val expectKeys = Tables.documents(s, d)
            .filter(col("doc_id") % 18 === 0 && col("doc_id") % 54 =!= 0).count()
          require(latest.count() == expectKeys,
            s"one row per surviving key: ${latest.count()} vs $expectKeys")
          require(opened == expectKeys,
            s"the latest fold opens ONLY winners ($expectKeys), never history: $opened")
          // ≡ the base face's max_by fold, both ways
          val folded = s.table("g.q232").groupBy(col("rowkey"))
            .agg(max_by(struct(col("version"), col("body")), col("version")).as("m"))
            .select(col("rowkey").cast("string").as("key_str"),
              col("m.version").as("version"), col("m.body").cast("string").as("body_md5"))
            .localCheckpoint() // evaluated once, compared twice (the q195 note)
          sameRows(latest, folded, "tbl$latest must equal the base-face max_by fold")
          latest
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // CURRENT-STATE JOIN, CATALYST-PLANNED, ZERO-EXCHANGE — `a$latest
    // JOIN b$latest`: the q228 storage-partitioned join lifted to the
    // serving view. Each side seeds TWO versions per key, so the gate
    // discriminates three properties at once: the fold happens BEFORE
    // the join (one row per key, never a version cross-product), the
    // $latest face preserves KeyGroupedPartitioning (latest-per-key is
    // region-local — a key lives in exactly one region), and the plan
    // carries NO Exchange on either side. At 100 TB this is the join a
    // serving user actually writes — current state against current
    // state, region-by-region where the data lives.
    "q233_cells_latest_spj_join" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q233-cells").toString
      try {
        val points = (1 to 9).map(i => s"doc-$i".getBytes("UTF-8"))
        def seed(table: String, pred: Int, tag: String, vOff: Int): Unit =
          BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % pred === 0)
              .select(col("doc_id"), explode(array(lit(0), lit(1))).as("g"))
              .select(lit(table).as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                expr(s"doc_id * 4 + $vOff + g").as("version"),
                expr(s"cast(md5(concat(cast(doc_id as string), '$tag', cast(g as string))) as binary)").as("body")),
            root, BulkLoad.Config(splitPoints = points))
        seed("lspja", 16, "LA", 1) // versions *4+1, *4+2 — latest body tag LA1
        seed("lspjb", 32, "LB", 5) // versions *4+5, *4+6 — latest body tag LB1
        withConf(s, cellsCatalog("g", root) ++ spjConfs: _*) { s =>
          val joined = s.table("g.`lspja$latest`").as("a")
            .join(s.table("g.`lspjb$latest`").as("b"), col("a.rowkey") === col("b.rowkey"))
            .select(col("a.rowkey").cast("string").as("key_str"),
              col("a.version").as("version_a"),
              col("a.body").cast("string").as("body_a_md5"),
              col("b.version").as("version_b"),
              col("b.body").cast("string").as("body_b_md5"))
          val plan = joined.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            s"same-layout $$latest faces must storage-partition-join with no exchange:\n$plan")
          val out = joined.localCheckpoint()
          val bKeys = Tables.documents(s, d).filter(col("doc_id") % 32 === 0).count()
          require(out.count() == bKeys,
            s"one row per co-populated key (fold BEFORE join, no cross-product): ${out.count()} vs $bKeys")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // SQL MERGE INTO — the DML face of the q73 upsert: DSv2 row-level
    // operations ([[graft.sources.CellsRowLevelOperation]], delta /
    // merge-on-read — the store's natural shape: nothing rewrites in
    // place; MERGE = puts + exact-version markers, applied by the read
    // faces and purged by majors, exactly HBase's batch Put/Delete
    // idiom). One statement exercises all three actions: matched keys
    // UPDATE (put the new version + exact-delete the old coordinate),
    // a matched subset DELETEs (exact marker), unmatched source keys
    // INSERT (plain puts). In-query invariants: the post-merge view
    // equals the union+argmax DataFrame upsert over the same inputs
    // (MERGE ≡ the q73 operator) both ways, and $changes carries
    // EXACTLY one delete_version marker per replaced/deleted cell —
    // never a bound marker, so multi-version siblings could never be
    // collateral. The emitted result is the merged table; the driver
    // hash pins action routing ∘ marker physics ∘ masking end to end.
    // 100 TB: with [[graft.sources.MergeSourcePruning]] installed the
    // target scan narrows to the SOURCE'S rowkeys through the q225
    // InputPartition key-set predicate (the HBase batched-GET idiom —
    // the rewrite's outer join alone never narrows, BENCH_SCALING.md
    // "MERGE target-scan probe", r13), opening ~|matched keys| files instead
    // of every populated region; the gate pins opens == |matched|
    // two-sidedly. Above the key cap the pre-pass declines loudly to
    // the honest region-parallel scan. Writes are per-task batched
    // idempotent renames, no coordinator.
    "q234_cells_sql_merge" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q234-cells").toString
      try {
        // target: %24 keys at v1 ('O' bodies)
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 24 === 0)
            .select(lit("q234").as("tableName"),
              expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              expr("doc_id * 4 + 1").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'O')) as binary)").as("body")),
          root)
        withConf(s, cellsCatalog("g", root): _*) { s =>
          graft.sources.MergeSourcePruning.install(s)
          graft.sources.CellsSource.filesOpened.set(0)
          graft.sources.CellsSource.runtimeFilteredKeys.set(0)
          // source: %16 keys at v2 ('N' bodies); %96 keys are deletions
          s.sql(
            s"""MERGE INTO g.q234 t
                USING (SELECT cast(concat('doc-', doc_id) as binary) AS rowkey,
                              cast(doc_id * 4 + 2 as bigint) AS version,
                              cast(md5(concat(cast(doc_id as string), 'N')) as binary) AS body,
                              doc_id % 96 = 0 AS del
                       FROM parquet.`$d/documents.parquet`
                       WHERE doc_id % 16 = 0) s
                ON t.rowkey = s.rowkey
                WHEN MATCHED AND s.del THEN DELETE
                WHEN MATCHED THEN UPDATE SET version = s.version, body = s.body
                WHEN NOT MATCHED AND NOT s.del THEN
                  INSERT (rowkey, version, body) VALUES (s.rowkey, s.version, s.body)""")
          // the I/O shape, captured BEFORE any further read touches the
          // counters: the pre-pass delivered the source's keys to the
          // scan, and the scan opened exactly the MATCHED cells (%48 —
          // target %24 ∩ source %16), not the whole target
          val mergeOpens = graft.sources.CellsSource.filesOpened.get()
          val mergeNarrowedKeys = graft.sources.CellsSource.runtimeFilteredKeys.get()
          val merged = s.table("g.q234")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
          // ≡ the q73 union+argmax upsert over the same logical inputs
          val docs = Tables.documents(s, d)
          val target0 = docs.filter(col("doc_id") % 24 === 0)
            .select(expr("concat('doc-', doc_id)").as("key_str"),
              expr("cast(doc_id * 4 + 1 as bigint)").as("version"),
              expr("md5(concat(cast(doc_id as string), 'O'))").as("body_md5"))
          val source0 = docs.filter(col("doc_id") % 16 === 0)
            .select(expr("concat('doc-', doc_id)").as("key_str"),
              expr("cast(doc_id * 4 + 2 as bigint)").as("version"),
              expr("md5(concat(cast(doc_id as string), 'N'))").as("body_md5"),
              (col("doc_id") % 96 === 0).as("del"))
          val upsert = target0.withColumn("del", lit(false)).unionByName(source0)
            .groupBy(col("key_str"))
            .agg(max_by(struct(col("version"), col("body_md5"), col("del")), col("version")).as("m"))
            .filter(!col("m.del"))
            .select(col("key_str"), col("m.version").as("version"), col("m.body_md5").as("body_md5"))
          sameRows(merged, upsert,
            "MERGE must equal the union+argmax upsert (the q73 operator) both ways")
          // marker physics: exactly one EXACT marker per replaced/deleted
          // old cell (every matched %48 key's v1), no bound markers
          val n48 = docs.filter(col("doc_id") % 48 === 0).count()
          val markers = s.sql("SELECT version, op FROM g.`q234$changes` WHERE op != 'put'")
            .collect().map(r => (r.getLong(0), r.getString(1)))
          require(markers.length == n48 && markers.forall(_._2 == "delete_version"),
            s"one exact marker per replaced cell, never a bound: ${markers.length} vs $n48")
          val n16 = docs.filter(col("doc_id") % 16 === 0).count()
          require(mergeNarrowedKeys == n16,
            s"the source-key pre-pass must reach the target scan: $mergeNarrowedKeys vs $n16 source keys")
          require(mergeOpens == n48,
            s"a narrowed MERGE opens exactly the matched cells (two-sided): $mergeOpens vs $n48")
          merged
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // SQL UPDATE — both physical shapes of the row-level operation in
    // one gate: an IN-PLACE update (body rewritten, coordinate kept)
    // must be a pure overwrite put — a marker at the same coordinate
    // would mask the new value, so the gate requires ZERO markers from
    // it — while a VERSION-MOVING update (SET version = version + Δ)
    // must exact-delete every old coordinate (one delete_version
    // marker per moved cell) and keep the cell count constant. The
    // emitted result is the full post-update table; the driver hash
    // pins predicate routing ∘ in-place-vs-move discrimination ∘
    // marker physics. 100 TB: same scan/write posture as q234.
    "q235_cells_sql_update" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q235-cells").toString
      try {
        def seed(v: Int) = Tables.documents(s, d).filter(col("doc_id") % 20 === 0)
          .select(lit("q235").as("tableName"),
            expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr(s"doc_id * 4 + $v").as("version"),
            expr(s"cast(md5(concat(cast(doc_id as string), 'W', '$v')) as binary)").as("body"))
        BulkLoad.writeCells(seed(1), root)
        BulkLoad.writeCells(seed(2), root)
        withConf(s, cellsCatalog("g", root): _*) { s =>
          val n20 = Tables.documents(s, d).filter(col("doc_id") % 20 === 0).count()
          // IN-PLACE: rewrite every v1 body, coordinates unchanged
          s.sql("UPDATE g.q235 SET body = cast(md5(concat(cast(rowkey as string), 'P')) as binary) " +
            "WHERE version % 4 = 1")
          require(s.sql("SELECT count(*) FROM g.`q235$changes` WHERE op != 'put'")
            .collect()(0).getLong(0) == 0,
            "in-place updates are overwrite puts — no markers may land")
          // MOVE: shift every v2 cell up; old coordinates exact-deleted
          s.sql("UPDATE g.q235 SET version = version + 1000000000 WHERE version % 4 = 2")
          val moveMarkers = s.sql(
            "SELECT count(*) FROM g.`q235$changes` WHERE op = 'delete_version'")
            .collect()(0).getLong(0)
          require(moveMarkers == n20, s"one exact marker per moved cell: $moveMarkers vs $n20")
          val out = s.table("g.q235")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
          require(out.count() == 2 * n20, "updates never change the cell count")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // ALTER TABLE RETENTION — the HBase `alter 'maxVersions'` lifecycle
    // as SQL DDL, with the r15 READ-TIME contract (HBase StoreScanner:
    // retention binds the moment the descriptor says so): the ALTER
    // changes the descriptor, the VERY NEXT read serves only each
    // key's newest cell, and the major merely reclaims the hidden
    // bytes — it never changes answers. In-query invariants: the full
    // history is physically intact right after the ALTER (the $changes
    // edit log, which never masks, still counts all 3 generations)
    // while the masked view already caps to 1 per key; the view
    // HASH-MATCHES ITSELF across the major (collected before, compared
    // after — the VERDICT r14 "identical before and after" gate); and
    // the major's report shows it rewrote exactly the masked view. The
    // emitted result is the post-major table; the driver hash pins DDL
    // routing ∘ read-time masking ∘ the major's byte reclaim.
    "q236_cells_sql_alter_retention" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q236-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q236 (rowkey BINARY, version BIGINT, body BINARY) " +
            "TBLPROPERTIES('maxVersions'='5')")
          // fixture seeding rides the bulk path (the 8.6× heavy-ingest
          // face; the recorded maxVersions=5 DDL is write-once and
          // survives) — the gate measures ALTER + retention, not the
          // put path
          BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % 21 === 0)
              .select(col("doc_id"), explode(array(lit(1), lit(2), lit(3))).as("g"))
              .select(lit("q236").as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                expr("doc_id * 4 + g").as("version"),
                expr("cast(md5(concat(cast(doc_id as string), '|', cast(g as string))) as binary)").as("body")),
            root)
          val n21 = Tables.documents(s, d).filter(col("doc_id") % 21 === 0).count()
          require(s.table("g.q236").count() == 3 * n21,
            "under the cap of 5 all three generations serve")
          s.sql("ALTER TABLE g.q236 SET TBLPROPERTIES('maxVersions' = '1')")
          def view() = s.table("g.q236")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
          val before = view().collect().map(_.toString).sorted.toSeq
          require(before.size == n21,
            "the altered cap masks over-cap versions on the very next read")
          require(s.table("g.`q236$changes`").count() == 3 * n21,
            "the hidden generations are still physically present (edit log never masks)")
          Compaction.major(s, root, "q236")
          val out = view().localCheckpoint()
          require(out.collect().map(_.toString).sorted.toSeq == before,
            "the major reclaims bytes, never changes answers — view identical across it")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // CDC THROUGH PURE SQL SURFACE — `spark.readStream.table(
    // "cat.tbl$changes")`: the change feed consumed with a TABLE NAME,
    // no format strings or options anywhere (q227's consumer shape,
    // fully catalog-resolved). Two AvailableNow drains over ONE
    // checkpoint: the first delivers the seed puts; more puts and a
    // DELETE land between drains; the second delivers EXACTLY the new
    // window (offset-window exactly-once across restart) including the
    // typed marker row. The emitted result is everything both drains
    // delivered; the driver hash pins catalog stream resolution ∘
    // window replay ∘ marker typing.
    "q237_cells_catalog_stream" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q237-cells").toString
      val ck = Files.createTempDirectory("graft-q237-ck").toString
      val out = Files.createTempDirectory("graft-q237-out").toString + "/rows"
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          // generation DOMINATES the version (v*1e9 + id): the feed's
          // offset is a global version watermark, so a second generation
          // must land strictly above the first window's max everywhere —
          // interleaved versions would be back-dated writes, outside the
          // delivery guarantee (the documented producer contract)
          // each generation lands as one BULK load (the 8.6× path): the
          // feed's watermark reads segment trailers exactly like put
          // filenames, and this gate measures the catalog stream, not
          // the put path
          def seed(pred: Int, v: Int): Unit = BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % pred === 0)
              .select(lit("q237").as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                expr(s"$v * 1000000000 + doc_id").as("version"),
                expr(s"cast(md5(concat(cast(doc_id as string), '>', '$v')) as binary)").as("body")),
            root)
          def drain(): Unit = {
            val q = s.readStream.table("g.`q237$changes`")
              .select(col("rowkey").cast("string").as("key_str"), col("version"),
                col("body").cast("string").as("body_md5"), col("op"))
              .writeStream
              .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
                df.write.mode("append").parquet(out)
              }
              .option("checkpointLocation", ck.toString)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
          seed(17, 1)
          drain()
          val n17 = Tables.documents(s, d).filter(col("doc_id") % 17 === 0).count()
          require(s.read.parquet(out).count() == n17, "first drain = the seed window")
          // between drains: a second put generation and a SQL DELETE of
          // every third seeded key (marker above both versions)
          seed(17, 2)
          val delKeys = Tables.documents(s, d).filter(col("doc_id") % 51 === 0)
            .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).sorted
          val inList = delKeys
            .map(id => "X'" + s"doc-$id".getBytes("UTF-8").map(b => f"$b%02x").mkString + "'")
            .mkString("(", ", ", ")")
          s.sql(s"DELETE FROM g.q237 WHERE rowkey IN $inList") // bare: stamps latest (v2)
          drain()
          val log = s.read.parquet(out).localCheckpoint()
          require(log.count() == 2 * n17 + delKeys.length,
            s"the second drain delivers exactly the new window once: ${log.count()}")
          require(log.filter(col("op") === "delete").count() == delKeys.length,
            "markers arrive typed through the catalog stream")
          log
        }
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(out).getParentFile)
      }
    },

    // CDC REPLICATION — the HBase cross-cluster replication consumer
    // composed ENTIRELY from this round's SQL surface: stream the
    // source's `$changes` through the catalog (q237), apply each
    // window to a REPLICA table with MERGE INTO for puts (q234 —
    // idempotent on (rowkey, version), so window replay converges) and
    // the distributed tombstone write faces for both marker kinds.
    // Two AvailableNow drains over one checkpoint; puts, a second
    // generation, and a bare SQL DELETE land between them. In-query
    // invariants: after the first drain the replica carries exactly
    // the seed window; after the second the replica's MASKED view
    // equals the source's both ways — the replication contract (a
    // delete shipped through the feed masks the same cells on the far
    // cluster). The emitted result is the converged replica; the
    // driver hash pins feed carriage ∘ MERGE apply ∘ marker apply ∘
    // mask agreement end to end. 100 TB: each window is offset-bounded
    // edits (never the table), MERGE probes the replica's regions via
    // runtime filtering, and every apply is idempotent renames — a
    // crashed consumer replays its window into the same state.
    "q238_cells_cdc_replication" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q238-cells").toString
      val ck = Files.createTempDirectory("graft-q238-ck").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q238r (rowkey BINARY, version BIGINT, body BINARY)")
          // source generations land as bulk loads (fixture hygiene — the
          // gate measures the replication loop, not the put path); the
          // feed ships segment-resident edits identically
          def seed(v: Int): Unit = BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % 19 === 0)
              .select(lit("q238s").as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                expr(s"$v * 1000000000 + doc_id").as("version"),
                expr(s"cast(md5(concat(cast(doc_id as string), '*', '$v')) as binary)").as("body")),
            root)
          def drain(): Unit = {
            val q = s.readStream.table("g.`q238s$changes`")
              .writeStream
              .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
                // the batch frame lives in the STREAM'S cloned session —
                // views and statements must resolve through it, not the
                // outer session (same conf, so the catalog resolves)
                val bs = batch.sparkSession
                // puts apply as an idempotent MERGE on the cell identity
                val v = s"q238_win_$id"
                batch.filter(col("op") === "put")
                  .select("rowkey", "version", "body").createOrReplaceTempView(v)
                bs.sql(
                  s"""MERGE INTO g.q238r t USING $v e
                      ON t.rowkey = e.rowkey AND t.version = e.version
                      WHEN MATCHED THEN UPDATE SET body = e.body
                      WHEN NOT MATCHED THEN
                        INSERT (rowkey, version, body) VALUES (e.rowkey, e.version, e.body)""")
                bs.catalog.dropTempView(v)
                // markers apply through their own write faces, kind-typed
                Seq(("delete", "false"), ("delete_version", "true")).foreach { case (op, exact) =>
                  val dels = batch.filter(col("op") === op).select("rowkey", "version")
                    .withColumn("body", lit(Array.emptyByteArray))
                  if (!dels.isEmpty)
                    dels.write.format("graft-cells").mode("append")
                      .option("root", root).option("table", "q238r")
                      .option("tombstone", "true").option("tombstoneExact", exact).save()
                }
              }
              .option("checkpointLocation", ck)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
          seed(1)
          drain()
          val n19 = Tables.documents(s, d).filter(col("doc_id") % 19 === 0).count()
          require(s.table("g.q238r").count() == n19,
            "after the first drain the replica carries exactly the seed window")
          // between drains: a second generation and a bare SQL DELETE of
          // every third seeded key (stamps its latest — masks everything)
          seed(2)
          val inList = Tables.documents(s, d).filter(col("doc_id") % 57 === 0)
            .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).sorted
            .map(id => "X'" + s"doc-$id".getBytes("UTF-8").map(b => f"$b%02x").mkString + "'")
            .mkString("(", ", ", ")")
          s.sql(s"DELETE FROM g.q238s WHERE rowkey IN $inList")
          drain()
          def view(t: String) = s.table(s"g.$t")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
          val src = view("q238s").localCheckpoint() // the q195 note
          val rep = view("q238r").localCheckpoint()
          sameRows(rep, src,
            "the replica's masked view must equal the source's — the replication contract")
          rep
        }
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      }
    },

    // INSERT OVERWRITE — the HBase `truncate_preserve` + load lifecycle
    // as one SQL statement (DSv2 SupportsTruncate): every cell, segment
    // AND delete marker goes before the fresh load lands — a surviving
    // marker would silently mask the new data — while the descriptor
    // and split layout survive. In-query invariants: keys the OLD
    // markers covered are visible in the new generation at versions
    // BELOW the old mask bounds (markers provably cleared), $changes
    // shows zero markers, and the row count is exactly the new
    // generation. The emitted result is the overwritten table; the
    // driver hash pins truncate ∘ reload ∘ marker clearance.
    "q239_cells_sql_insert_overwrite" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q239-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q239 (rowkey BINARY, version BIGINT, body BINARY)")
          s.sql(
            s"""INSERT INTO g.q239
                SELECT cast(concat('doc-', doc_id) as binary),
                       cast(doc_id * 4 + 2 as bigint),
                       cast(md5(concat(cast(doc_id as string), 'OLD')) as binary)
                FROM parquet.`$d/documents.parquet` WHERE doc_id % 22 = 0""")
          // bare-delete every second seeded key: markers at *4+2
          val inList = Tables.documents(s, d).filter(col("doc_id") % 44 === 0)
            .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).sorted
            .map(id => "X'" + s"doc-$id".getBytes("UTF-8").map(b => f"$b%02x").mkString + "'")
            .mkString("(", ", ", ")")
          s.sql(s"DELETE FROM g.q239 WHERE rowkey IN $inList")
          // overwrite with a generation at versions BELOW the old marker
          // bounds: only a real truncate (markers included) makes the
          // %132 keys (44∩33) visible
          s.sql(
            s"""INSERT OVERWRITE g.q239
                SELECT cast(concat('doc-', doc_id) as binary),
                       cast(doc_id * 4 + 1 as bigint),
                       cast(md5(concat(cast(doc_id as string), 'NEW')) as binary)
                FROM parquet.`$d/documents.parquet` WHERE doc_id % 33 = 0""")
          val n33 = Tables.documents(s, d).filter(col("doc_id") % 33 === 0).count()
          val out = s.table("g.q239")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
          require(out.count() == n33, s"exactly the new generation: ${out.count()} vs $n33")
          val overlap = Tables.documents(s, d).filter(col("doc_id") % 132 === 0).count()
          require(overlap > 0 && out.filter(col("key_str").isin(
            Tables.documents(s, d).filter(col("doc_id") % 132 === 0)
              .select(expr("concat('doc-', doc_id)")).collect().map(_.getString(0)).toSeq: _*))
            .count() == overlap,
            "keys the old markers covered are visible below the old bounds — markers cleared")
          require(s.sql("SELECT count(*) FROM g.`q239$changes` WHERE op != 'put'")
            .collect()(0).getLong(0) == 0, "no marker survives an overwrite")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // TTL AS DDL — HBase's column-family TTL: the expiry lives in the
    // table descriptor (`TBLPROPERTIES('ttlMillis'=T)`, CREATE or
    // ALTER) and MAJORS enforce it (cutoff = compaction clock − TTL,
    // clock injectable for determinism), with minVersions=1 semantics —
    // a key whose every version expired keeps its latest. In-query
    // invariants: a major BEFORE the ALTER expires nothing (FOREVER
    // default), the post-ALTER major drops exactly the expired
    // non-latest versions, keys with ONLY expired versions survive at
    // their newest, and SHOW TBLPROPERTIES reflects the ALTER. The
    // emitted result is the post-major table; the driver hash pins
    // descriptor carriage ∘ cutoff derivation ∘ the GC.
    "q240_cells_sql_ttl_ddl" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q240-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q240 (rowkey BINARY, version BIGINT, body BINARY)")
          // versions are epoch-millis-like stamps: an OLD generation for
          // every %13 key, a RECENT one for every %26 key — so %13∧¬%26
          // keys hold ONLY expired versions (the minVersions=1 case)
          def seed(pred: Int, base: Long, tag: String): Unit =
            s.sql(s"""INSERT INTO g.q240
                SELECT cast(concat('doc-', doc_id) as binary),
                       cast($base + doc_id as bigint),
                       cast(md5(concat(cast(doc_id as string), '$tag')) as binary)
                FROM parquet.`$d/documents.parquet` WHERE doc_id % $pred = 0""")
          seed(13, 0L, "T1")
          seed(26, 5000000L, "T2")
          val n13 = Tables.documents(s, d).filter(col("doc_id") % 13 === 0).count()
          val n26 = Tables.documents(s, d).filter(col("doc_id") % 26 === 0).count()
          // no TTL yet: a major expires nothing
          Compaction.major(s, root, "q240", nowMillis = () => 5600000L)
          require(s.table("g.q240").count() == n13 + n26,
            "the FOREVER default expires nothing")
          s.sql("ALTER TABLE g.q240 SET TBLPROPERTIES('ttlMillis' = '1000000')")
          val props = s.sql("SHOW TBLPROPERTIES g.q240")
            .collect().map(r => (r.getString(0), r.getString(1))).toMap
          require(props.get("ttlMillis").contains("1000000"), s"$props")
          // cutoff = 5,600,000 − 1,000,000: the old generation expires
          // EXCEPT where it is a key's only (latest) version
          Compaction.major(s, root, "q240", nowMillis = () => 5600000L)
          val out = s.table("g.q240")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
          require(out.count() == n13, s"one survivor per key: ${out.count()} vs $n13")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // PRE-SPLIT FROM SQL — HBase `create 'tbl', SPLITS => […]` as DDL:
    // TBLPROPERTIES('splitPoints'='<hex>,…') records the region
    // boundaries write-once BEFORE any cell lands, so the whole q228
    // storage-partitioned-join story becomes reachable with ZERO
    // programmatic seams — two tables created by identical DDL,
    // INSERT INTO both, and Catalyst plans their rowkey join with no
    // exchange on either side (the layout fingerprint in the shard
    // function's name makes DDL equality = SPJ compatibility).
    // In-query invariants: SHOW TBLPROPERTIES echoes the declared
    // points, both tables landed cells across >1 region (the split
    // actually routed writes), and the executed plan carries no
    // Exchange. The emitted result is the joined current state; the
    // driver hash pins DDL split routing ∘ catalog SPJ ∘ join rows.
    "q241_cells_sql_presplit_join" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q241-cells").toString
      try {
        withConf(s, cellsCatalog("g", root) ++ spjConfs: _*) { s =>
          val points = (1 to 9).map(i => s"doc-$i".getBytes("UTF-8").map(b => f"$b%02x").mkString)
            .mkString(",")
          def create(tbl: String): Unit = s.sql(
            s"CREATE TABLE g.$tbl (rowkey BINARY, version BIGINT, body BINARY) " +
              s"TBLPROPERTIES('splitPoints' = '$points')")
          create("pja"); create("pjb")
          def load(tbl: String, pred: Int, tag: String, v: Int): Unit = s.sql(
            s"""INSERT INTO g.$tbl
                SELECT cast(concat('doc-', doc_id) as binary),
                       cast(doc_id * 2 + $v as bigint),
                       cast(md5(concat(cast(doc_id as string), '$tag')) as binary)
                FROM parquet.`$d/documents.parquet` WHERE doc_id % $pred = 0""")
          load("pja", 14, "PA", 1)
          load("pjb", 28, "PB", 2)
          val props = s.sql("SHOW TBLPROPERTIES g.pja")
            .collect().map(r => (r.getString(0), r.getString(1))).toMap
          require(props.get("splitPoints").contains(points),
            s"the declared boundaries echo back: $props")
          require(segShardDirs(root, "pja").size > 1 && segShardDirs(root, "pjb").size > 1,
            "the declared split actually routed writes across regions")
          val joined = s.table("g.pja").as("a")
            .join(s.table("g.pjb").as("b"), col("a.rowkey") === col("b.rowkey"))
            .select(col("a.rowkey").cast("string").as("key_str"),
              col("a.version").as("version_a"),
              col("a.body").cast("string").as("body_a_md5"),
              col("b.version").as("version_b"),
              col("b.body").cast("string").as("body_b_md5"))
          val plan = joined.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            s"identical DDL must storage-partition-join with no exchange:\n$plan")
          joined.localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // MAINTENANCE AS SQL — Spark 4 ProcedureCatalog: `CALL
    // cat.compact_major(table => 't')` runs the store's major
    // compaction from a SQL shell (the hbase-shell `major_compact`
    // verb; Iceberg's CALL idiom), returning the operator's report as
    // the statement's one-row result. In-query invariants: the CALL
    // result reports exactly the retained cell count, the post-compact
    // store holds ONLY fresh segments (every put file swept — checked
    // via the store listing), and the surviving content is the newest
    // maxVersions per key under the DDL the table was CREATED with.
    // The emitted result is the post-compact table; the driver hash
    // pins procedure resolution ∘ argument binding ∘ the GC.
    "q242_cells_sql_call_maintenance" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q242-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q242 (rowkey BINARY, version BIGINT, body BINARY) " +
            "TBLPROPERTIES('maxVersions'='2')")
          // three generations through BULK segments (bulk loads bypass
          // the put path's eager prune, so the major has real GC to do)
          (1 to 3).foreach { v =>
            BulkLoad.writeCells(
              Tables.documents(s, d).filter(col("doc_id") % 15 === 0)
                .select(lit("q242").as("tableName"),
                  expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                  expr(s"doc_id * 8 + $v").as("version"),
                  expr(s"cast(md5(concat(cast(doc_id as string), '=', '$v')) as binary)").as("body")),
              root)
          }
          val n15 = Tables.documents(s, d).filter(col("doc_id") % 15 === 0).count()
          // r15 read-time retention: the maxVersions=2 DDL masks the
          // oldest generation on every read ALREADY — the CALL below
          // only reclaims its bytes (all 3 generations are on disk:
          // the $changes edit log, which never masks, sees them)
          require(s.table("g.q242").count() == 2 * n15,
            "the read face caps to maxVersions immediately")
          require(s.table("g.`q242$changes`").count() == 3 * n15,
            "the edit log proves all 3 generations physically present")
          val rep = s.sql("CALL g.compact_major(`table` => 'q242')").collect()(0)
          require(rep.getLong(0) == 2 * n15,
            s"the CALL reports the retained count: ${rep.getLong(0)} vs ${2 * n15}")
          require(segFiles(root, "q242").forall(n =>
            CellSegment.isSegment(n) || n.startsWith("_")),
            "post-compact the store holds only fresh segments")
          s.table("g.q242")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // CURRENT-STATE ENRICHMENT, BROADCAST-PLANNED — the user-shaped
    // serving join: a parquet FACT table enriched from a store
    // dimension's `$latest` face, where Catalyst picks the broadcast
    // join BECAUSE the connector's statistics are live-winner-aware
    // (each key's one surviving cell, masks applied) — the history
    // face would size 2× bigger and a heavily-masked one bigger still.
    // In-query invariants: the executed plan carries a
    // BroadcastHashJoin and NO SortMergeJoin under the DEFAULT
    // broadcast threshold (no conf touched — the stats alone earn the
    // plan), and the result is the enriched fact. The driver hash pins
    // stats ∘ plan choice ∘ latest fold ∘ join rows end to end. At
    // 100 TB this is the difference between shuffling the fact table
    // and shipping a winner-sized dimension to it.
    "q243_cells_latest_broadcast_enrich" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q243-cells").toString
      try {
        // one bulk load carries both versions (fixture hygiene: the
        // gate measures stats-earned broadcast, not the put path)
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 21 === 0)
            .select(col("doc_id"), explode(array(lit(1), lit(2))).as("g"))
            .select(lit("q243").as("tableName"),
              expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              expr("doc_id * 4 + g").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), '$', cast(g as string))) as binary)").as("body")),
          root)
        // every third dimension key is fully masked — live stats must
        // exclude it, and the join must not resurrect it
        Tables.documents(s, d).filter(col("doc_id") % 63 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 4 + 2").as("version"),
            lit(Array.emptyByteArray).as("body")) // ignored by marker writes
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q243")
          .option("tombstone", "true").save()
        withConf(s, cellsCatalog("g", root): _*) { s =>
          val fact = Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
            .select(col("doc_id").cast("long").as("doc_id"),
              expr("concat('doc-', doc_id)").as("key_str"))
          val enriched = fact.join(
            s.table("g.`q243$latest`")
              .select(col("rowkey").cast("string").as("key_str"),
                col("version").as("state_version"),
                col("body").cast("string").as("state_md5")),
            Seq("key_str"))
            .select(col("key_str"), col("doc_id"), col("state_version"), col("state_md5"))
          val plan = enriched.queryExecution.executedPlan.toString
          require(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
            s"the live-winner statistics must earn the broadcast under the default threshold:\n$plan")
          enriched.localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // AGGREGATE PUSHDOWN — the HBase coprocessor-aggregation analog
    // (AggregationClient: count/min/max computed region-side, only
    // scalars travel): ungrouped count(*)/min/max(version) over the
    // base AND $latest faces answered from FILENAMES + SEGMENT INDEXES
    // ([[graft.sources.CellsAggScan]]), one partial row per region,
    // with masks and cross-kind identity dedup applied. In-query
    // invariants: both plans carry the pushed agg scan, and ZERO file
    // contents are opened across both queries (the open counter stays
    // 0 — a count over the store costs metadata, not bodies). Grouped
    // or rowkey-filtered shapes decline to the row scan (spec-pinned).
    // The emitted scalars hash against DuckDB computing the same live
    // set relationally. 100 TB: count(*) touches ~48 B/cell of index
    // (one 52 B trailer per compacted segment via the stats tiers),
    // never the bodies that dominate bytes.
    "q244_cells_agg_pushdown" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q244-cells").toString
      try {
        // flush policy OFF (r15): the gate's hard case IS a per-cell
        // put backlog alongside segments and markers — the default
        // threshold would fold it away before the aggregate runs
        graft.ingest.FileStore(root).ensureTable("q244",
          PushTableSink.TableSpec(compactionThreshold = 0))
        // segments: %8 keys at two versions
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 8 === 0)
            .select(col("doc_id"), explode(array(lit(1), lit(2))).as("g"))
            .select(lit("q244").as("tableName"),
              expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              expr("doc_id * 10 + g").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'G', cast(g as string))) as binary)").as("body")),
          root)
        // put backlog: %30 keys at a third version (cross-kind dedup in play)
        Tables.documents(s, d).filter(col("doc_id") % 30 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 10 + 3").as("version"),
            expr("cast(md5(concat(cast(doc_id as string), 'P3')) as binary)").as("body"))
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q244").save()
        // bound markers: each %40 key loses its v1
        Tables.documents(s, d).filter(col("doc_id") % 40 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 10 + 1").as("version"), lit(Array.emptyByteArray).as("body"))
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q244")
          .option("tombstone", "true").save()
        withConf(s, cellsCatalog("g", root): _*) { s =>
          def pushed(df: org.apache.spark.sql.DataFrame): Boolean =
            df.queryExecution.optimizedPlan.collectFirst {
              case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
                if r.scan.isInstanceOf[graft.sources.CellsAggScan] => r
            }.isDefined
          graft.sources.CellsSource.filesOpened.set(0)
          val base = s.sql(
            "SELECT count(*) AS n_cells, min(version) AS min_v, max(version) AS max_v FROM g.q244")
          val latest = s.sql("SELECT count(*) AS n_latest FROM g.`q244$latest`")
          require(pushed(base) && pushed(latest),
            "both aggregates must push into the metadata scan")
          val out = base.crossJoin(latest).localCheckpoint()
          require(graft.sources.CellsSource.filesOpened.get() == 0,
            s"pushed aggregates must read ZERO file contents, opened ${graft.sources.CellsSource.filesOpened.get()}")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // REPORTED ORDERING → SORT-FREE CO-LOCATED MERGE JOIN — segments
    // are (rowkey, version)-sorted and a compacted table reports that
    // per-partition order (SupportsReportOrdering), so two same-layout
    // tables storage-partition-join with NO Exchange (q233's SPJ) and
    // now NO Sort either: Catalyst's sort-merge join consumes the
    // scans' own order — the HBase co-located region merge join, with
    // every operator between scan and join output gone. In-query
    // invariants: the executed plan is a SortMergeJoin with zero
    // Exchange and zero Sort nodes (walked through AQE). The emitted
    // join hashes against DuckDB. A put backlog withdraws the report
    // (the Sort returns) — spec-pinned in CellsOrderingSpec. 100 TB:
    // scan → join with no shuffle and no sort is the cheapest join
    // shape that exists; compaction is what buys it.
    "q245_cells_sorted_merge_join" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q245-cells").toString
      try {
        val points = (1 to 9).map(i => s"doc-$i".getBytes("UTF-8"))
        def seed(table: String, pred: Int, tag: String): Unit =
          BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % pred === 0)
              .select(lit(table).as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                expr("doc_id * 2 + 1").as("version"),
                expr(s"cast(md5(concat(cast(doc_id as string), '$tag')) as binary)").as("body")),
            root, BulkLoad.Config(splitPoints = points))
        seed("smja", 16, "SA")
        seed("smjb", 32, "SB")
        withConf(s, cellsCatalog("g", root) ++ spjConfs: _*) { s =>
          val joined = s.table("g.smja").as("a")
            .join(s.table("g.smjb").as("b"), col("a.rowkey") === col("b.rowkey"))
            .select(col("a.rowkey").cast("string").as("key_str"),
              col("a.version").as("version"),
              col("a.body").cast("string").as("body_a_md5"),
              col("b.body").cast("string").as("body_b_md5"))
          val out = joined.localCheckpoint()
          var sorts = 0
          var smj = 0
          var exchanges = 0
          def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
            p match {
              case _: org.apache.spark.sql.execution.SortExec => sorts += 1
              case _: org.apache.spark.sql.execution.joins.SortMergeJoinExec => smj += 1
              case _: org.apache.spark.sql.execution.exchange.Exchange => exchanges += 1
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                walk(a.executedPlan)
              case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
                walk(q.plan) // stages hang their subtree off .plan, not children
              case _ => ()
            }
            p.children.foreach(walk)
          }
          walk(joined.queryExecution.executedPlan)
          require(smj == 1 && exchanges == 0 && sorts == 0,
            s"co-located merge join must be exchange-free AND sort-free: smj=$smj ex=$exchanges sorts=$sorts\n" +
              joined.queryExecution.executedPlan)
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // $VERSIONS STORE-FILE INVENTORY — the DESCRIBE HISTORY face
    // ([[graft.sources.CellsVersionsTable]]): one row per store file
    // from listings + GSE3 trailers alone (no index loads, no body
    // I/O), folding the store's physical state — segment generations,
    // put/marker backlog, version watermarks — into SQL. In-query
    // invariants: `max(max_version)` IS the table watermark, proven by
    // running `VERSION AS OF <watermark>` and matching the full count
    // (the q229 time-travel surface gains its discoverable version
    // list); zero file contents opened. The emitted per-kind fold
    // hashes against DuckDB deriving file/cell counts from the same
    // md5 keyspace — including the SEGMENT-PER-SHARD count
    // (distinct first bytes of the key digests = populated regions).
    "q246_cells_versions_inventory" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q246-cells").toString
      try {
        // flush policy OFF (r15): the inventory oracle counts the RAW
        // put backlog one file per cell — the operator override for
        // layout-inspecting reads
        graft.ingest.FileStore(root).ensureTable("q246",
          PushTableSink.TableSpec(compactionThreshold = 0))
        // one bulk generation of %6 keys, md5-spread over the regions
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 6 === 0)
            .select(lit("q246").as("tableName"),
              expr("unhex(md5(concat('doc-', doc_id)))").as("rowkey"),
              expr("doc_id * 2 + 1").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'V')) as binary)").as("body")),
          root)
        // a put backlog (%30) and both marker kinds (%60 bound, %90 exact)
        def face(pred: Int, vOff: Int, opts: Map[String, String]): Unit = {
          val w = Tables.documents(s, d).filter(col("doc_id") % pred === 0)
            .select(expr("unhex(md5(concat('doc-', doc_id)))").as("rowkey"),
              expr(s"doc_id * 2 + $vOff").as("version"),
              lit("x".getBytes("UTF-8")).as("body"))
            .write.format("graft-cells").mode("append")
            .option("root", root).option("table", "q246")
          opts.foldLeft(w) { case (b, (k, v)) => b.option(k, v) }.save()
        }
        face(30, 2, Map.empty)
        face(60, 1, Map("tombstone" -> "true"))
        face(90, 2, Map("tombstone" -> "true", "tombstoneExact" -> "true"))
        withConf(s, cellsCatalog("g", root): _*) { s =>
          graft.sources.CellsSource.filesOpened.set(0)
          val inv = s.sql(
            s"""SELECT kind, count(*) AS files, sum(cells) AS cells,
                       sum(distinct_keys) AS dkeys, min(min_version) AS min_v,
                       max(max_version) AS max_v, max(seq_no) AS max_seq
                FROM g.`q246$$versions` GROUP BY kind""")
            .localCheckpoint()
          // the watermark is discoverable: VERSION AS OF it sees everything
          val watermark = s.sql("SELECT max(max_version) FROM g.`q246$versions`")
            .collect()(0).getLong(0)
          val full = s.table("g.q246").count()
          val asOf = s.sql(s"SELECT count(*) FROM g.q246 VERSION AS OF $watermark")
            .collect()(0).getLong(0)
          require(asOf == full,
            s"max(max_version) must be the usable time-travel watermark: $asOf vs $full")
          require(graft.sources.CellsSource.filesOpened.get() == 0,
            "the inventory face must read zero file contents")
          inv
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // LIMIT / TOP-N PUSHDOWN — the HBase Scan#setLimit analog:
    // `ORDER BY rowkey LIMIT k` pushes as a partial top-N
    // (SupportsPushDownTopN); each COMPACTED region stops after its
    // local k rows (the store's native (rowkey, version) sort makes
    // the first k the top k), Spark's retained TakeOrdered folds the
    // ≤regions×k survivors. Truncation is decided PER SHARD at read
    // time — a put backlog silently falls back to full rows, so
    // correctness never rests on layout. In-query invariants: the
    // scan carries topK=20, and the capped readers emitted ≤ 20 per
    // region and STRICTLY fewer rows than the table holds (the
    // truncation is real I/O savings, not a no-op). At 100 TB this is
    // "read ~k rows per region" versus "read the table, then sort".
    "q247_cells_limit_pushdown" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q247-cells").toString
      try {
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 4 === 0)
            .select(lit("q247").as("tableName"),
              expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              expr("doc_id * 2 + 1").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'L')) as binary)").as("body")),
          root)
        withConf(s, cellsCatalog("g", root): _*) { s =>
          val total = Tables.documents(s, d).filter(col("doc_id") % 4 === 0).count()
          graft.sources.CellsSource.cappedRowsEmitted.set(0)
          val top = s.sql(
            s"""SELECT cast(rowkey as string) AS key_str, version
                FROM g.q247 ORDER BY rowkey LIMIT 20""")
          val pushed = top.queryExecution.optimizedPlan.collectFirst {
            case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
              r.scan.description()
          }.getOrElse("")
          require(pushed.contains("topK=20"), s"top-N must reach the scan: $pushed")
          val out = top.localCheckpoint()
          val emitted = graft.sources.CellsSource.cappedRowsEmitted.get()
          val regions = graft.ingest.FileStore(root).splitsOf("q247").size
          require(emitted > 0 && emitted <= 20L * regions && emitted < total,
            s"per-region truncation must be real: emitted $emitted, regions $regions, total $total")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // NATIVE STREAMING SINK — q238's CDC replication loop with ZERO
    // foreachBatch and zero MERGE: three declarative streams tail the
    // source's `$changes` feed and write the replica through the
    // connector's own StreamingWrite face — puts as appends, bound
    // markers via option("tombstone"), exact markers via
    // option("tombstoneExact") — the HBase replication consumer as
    // pure `readStream → filter → writeStream` plumbing. Exactly-once
    // cell STATE with no epoch ledger: every edit is an idempotent
    // rename keyed on (rowkey, version), so epoch replay after a
    // restart converges (spec-pinned in CellsStreamingSinkSpec).
    // In-query invariants: after drain 1 the replica carries exactly
    // the seed window; after a second generation + a bare SQL DELETE
    // (bound marker) + an exact-version DELETE land in the feed and
    // drain 2 applies them, the replica's masked view equals the
    // source's BOTH ways. At 100 TB each trigger moves one feed
    // window per region — never the table.
    "q248_cells_streaming_sink_replication" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q248-cells").toString
      val cks = (1 to 3).map(_ => Files.createTempDirectory("graft-q248-ck").toString)
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q248r (rowkey BINARY, version BIGINT, body BINARY)")
          def seed(v: Int): Unit = BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % 23 === 0)
              .select(lit("q248s").as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                lit(v.toLong * 1000000000L).as("version"),
                expr(s"cast(md5(concat(cast(doc_id as string), '~', '$v')) as binary)").as("body")),
            root)
          // the replication consumer: three persistent streams, one per
          // edit kind — no driver code touches a row
          def drain(): Unit = {
            val feed = () => s.readStream.table("g.`q248s$changes`")
            val streams = Seq(
              feed().filter(col("op") === "put").select("rowkey", "version", "body")
                .writeStream.format("graft-cells")
                .option("root", root).option("table", "q248r")
                .option("checkpointLocation", cks(0)),
              feed().filter(col("op") === "delete").select("rowkey", "version")
                .writeStream.format("graft-cells")
                .option("root", root).option("table", "q248r")
                .option("tombstone", "true")
                .option("checkpointLocation", cks(1)),
              feed().filter(col("op") === "delete_version").select("rowkey", "version")
                .writeStream.format("graft-cells")
                .option("root", root).option("table", "q248r")
                .option("tombstone", "true").option("tombstoneExact", "true")
                .option("checkpointLocation", cks(2)))
            streams.foreach { w =>
              val q = w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
              q.awaitTermination()
            }
          }
          seed(1)
          drain()
          val n23 = Tables.documents(s, d).filter(col("doc_id") % 23 === 0).count()
          require(s.table("g.q248r").count() == n23,
            "after the first drain the replica carries exactly the seed window")
          seed(2)
          def keyList(m: Int): String = Tables.documents(s, d)
            .filter(col("doc_id") % m === 0)
            .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).sorted
            .map(id => "X'" + s"doc-$id".getBytes("UTF-8").map(b => f"$b%02x").mkString + "'")
            .mkString("(", ", ", ")")
          // a bare delete (stamps the current latest → bound marker) and
          // an exact-version delete masking ONLY generation 2. Both land
          // at version 2e9 — ABOVE drain 1's committed watermark (1e9),
          // per the feed's delivery contract (q237: edits at or below a
          // committed offset are outside the incremental window — an
          // exact delete of an already-streamed old version is a batch
          // repair, not a feed event)
          s.sql(s"DELETE FROM g.q248s WHERE rowkey IN ${keyList(69)}")
          s.sql(s"DELETE FROM g.q248s WHERE rowkey IN ${keyList(115)} " +
            "AND version = 2000000000")
          drain()
          def view(t: String) = s.table(s"g.$t")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
          val src = view("q248s").localCheckpoint() // the q195 note
          val rep = view("q248r").localCheckpoint()
          sameRows(rep, src,
            "the replica's masked view must equal the source's — with zero foreachBatch")
          rep
        }
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        cks.foreach(ck => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck)))
      }
    },

    // CALL VACUUM — the CleanerChore / remove_orphan_files verb: the
    // store's write protocols are crash-safe (atomic renames), but a
    // crashed INSERT OVERWRITE leaves its invisible staging
    // generation, a commit torn between the two swap renames leaves
    // trash, and a torn writer task leaves a `.tmp` — all dead weight
    // no read face touches and no compaction reclaims. In-query
    // invariants: the age gate protects fresh (= possibly live)
    // artifacts; `older_than_ms => 0` sweeps exactly the three planted
    // orphan classes with bytes accounted; a second vacuum finds
    // nothing; and the LIVE table is untouched — the returned frame is
    // the table's masked view, hash-checked against the oracle. At
    // 100 TB this is the nightly chore: I/O ∝ listings + orphan bytes,
    // never cell count.
    "q249_cells_vacuum" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q249-cells").toString
      try {
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 11 === 0)
            .select(lit("q249").as("tableName"),
              expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              expr("doc_id * 3 + 1").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'VAC')) as binary)").as("body")),
          root)
        withConf(s, cellsCatalog("g", root): _*) { s =>
          // the three orphan classes a crash leaves behind
          val staging = java.nio.file.Paths.get(root, "_overwrite_staging", "crashed", "q249")
          Files.createDirectories(staging)
          Files.write(staging.resolve("junk.bin"), Array.fill[Byte](128)(1))
          val trash = java.nio.file.Paths.get(root, "_overwrite_trash", "torn", "q249")
          Files.createDirectories(trash)
          Files.write(trash.resolve("old.bin"), Array.fill[Byte](64)(2))
          val shard = ShardFiles.regions(Paths.get(root, "q249")).head
          Files.write(shard.resolve("put-torn.tmp"), Array.fill[Byte](32)(3))
          // fresh artifacts survive the default 24h age gate
          val r0 = s.sql("CALL g.vacuum()").collect()(0)
          require((0 to 3).map(r0.getLong).sum == 0L,
            s"the age gate must protect fresh (possibly-live) artifacts: $r0")
          // the known-crash override sweeps all three classes, bytes accounted
          val r1 = s.sql("CALL g.vacuum(older_than_ms => 0)").collect()(0)
          require(r1.getLong(0) == 1 && r1.getLong(1) == 1 && r1.getLong(2) == 1 &&
            r1.getLong(3) >= 128 + 64 + 32, s"sweep exactly the planted orphans: $r1")
          val r2 = s.sql("CALL g.vacuum(older_than_ms => 0)").collect()(0)
          require((0 to 3).map(r2.getLong).sum == 0L, s"vacuum is idempotent: $r2")
          s.table("g.q249")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // SQL TRUNCATE TABLE — HBase `truncate_preserve` as the standalone
    // statement (DSv2 TruncatableTable): every cell, segment AND
    // delete marker goes in place (no staged generation — there is no
    // new data to protect), the descriptor and split layout survive,
    // and a reload lands UNMASKED — the in-query invariant plants a
    // marker before the truncate and proves the reloaded key is
    // visible at a version the old marker would have masked. At
    // 100 TB the sweep is one listing pass per region, in parallel at
    // the FS layer, no cell rewrite.
    "q250_cells_sql_truncate" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q250-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q250 (rowkey BINARY, version BIGINT, body BINARY) " +
            "TBLPROPERTIES('maxVersions'='4')")
          // generation 1 (%13 keys) + a marker on every %39 key at a HIGH
          // version — if truncate left it, the reload below would be masked
          BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % 13 === 0)
              .select(lit("q250").as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                expr("doc_id * 5 + 1").as("version"),
                expr("cast(md5(concat(cast(doc_id as string), 'OLD')) as binary)").as("body")),
            root)
          val marked = Tables.documents(s, d).filter(col("doc_id") % 39 === 0)
            .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).sorted
            .map(id => "X'" + s"doc-$id".getBytes("UTF-8").map(b => f"$b%02x").mkString + "'")
            .mkString("(", ", ", ")")
          s.sql(s"DELETE FROM g.q250 WHERE rowkey IN $marked AND version <= 9000000000")
          val n13 = Tables.documents(s, d).filter(col("doc_id") % 13 === 0).count()
          val n39 = Tables.documents(s, d).filter(col("doc_id") % 39 === 0).count()
          require(s.table("g.q250").count() == n13 - n39, "markers mask before the truncate")
          s.sql("TRUNCATE TABLE g.q250")
          require(s.table("g.q250").count() == 0, "truncate empties the table")
          val props = s.sql("SHOW TBLPROPERTIES g.q250")
            .collect().map(r => (r.getString(0), r.getString(1))).toMap
          require(props("maxVersions") == "4", "truncate_preserve keeps the descriptor")
          // generation 2 reloads at versions the old markers covered —
          // visible only because the truncate swept the markers too
          Tables.documents(s, d).filter(col("doc_id") % 13 === 0)
            .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              expr("doc_id * 5 + 2").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'NEW')) as binary)").as("body"))
            .write.format("graft-cells").mode("append")
            .option("root", root).option("table", "q250").save()
          s.table("g.q250")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // ROWKEY DERIVATION AS A CATALOG SQL FUNCTION — `cat.rowkey_of(
    // '<id json>')` computes the exact K2/K3 bytes every cell was
    // written under (CRC32-BE prefix ++ key-sorted compact JSON), so
    // a SERVING point GET by business id is pure SQL: the literal
    // call CONSTANT-FOLDS, the folded bytes reach the connector as an
    // ordinary point predicate, and the q225 pruning tiers fire
    // (shard directory → digest/bloom → entry). In-query invariants:
    // the scan description carries the probed key count, and file
    // opens ≤ probed keys — a 35-key lookup must NOT walk the 150+
    // segments the table holds. At 100 TB this is the difference
    // between a batched GET and a table scan, driven from a SQL
    // string a serving user can actually write.
    "q251_cells_sql_rowkey_function" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q251-cells").toString
      try {
        graft.functions.GraftFunctions.register(s)
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 17 === 0)
            .select(lit("q251").as("tableName"),
              expr("""hdi_rowkey(concat('{"id":"doc-', cast(doc_id as string), '"}'))""")
                .as("rowkey"),
              expr("doc_id * 7 + 1").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'RK')) as binary)").as("body")),
          root)
        withConf(s, cellsCatalog("g", root): _*) { s =>
          val probeIds = Tables.documents(s, d).filter(col("doc_id") % 85 === 0)
            .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).sorted
          val inList = probeIds
            .map(id => s"""g.rowkey_of('{"id":"doc-$id"}')""")
            .mkString("(", ", ", ")")
          graft.sources.CellsSource.filesOpened.set(0)
          val got = s.sql(
            s"""SELECT version, cast(body as string) AS body_md5
                FROM g.q251 WHERE rowkey IN $inList""")
          val desc = got.queryExecution.optimizedPlan.collectFirst {
            case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
              r.scan.description()
          }.getOrElse("")
          require(desc.contains(s"keys=${probeIds.length}"),
            s"the folded rowkey_of literals must push as point keys: $desc")
          val out = got.localCheckpoint()
          val opened = graft.sources.CellsSource.filesOpened.get()
          require(opened > 0 && opened <= probeIds.length,
            s"a ${probeIds.length}-key batched GET must open at most that many files, opened $opened")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // PROVENANCE METADATA COLUMNS (SupportsMetadataColumns — the
    // Iceberg `_file` idiom): `_shard`/`_file`/`_kind` name the store
    // file whose copy WON read precedence for each emitted row,
    // SELECT-only (`SELECT *` stays the 3-column cell schema). The
    // gate runs the ops-shaped audit: rows per kind with distinct
    // serving files — "how much of the table still sits in the put
    // backlog vs compacted segments" — and pins every (_shard, _file)
    // pair to a real row of the `$versions` inventory face. At 100 TB
    // provenance costs nothing extra: the reader already knows its
    // file; the column materializes only when named.
    "q252_cells_metadata_columns" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q252-cells").toString
      try {
        // flush policy OFF (r15): the audit counts the RAW put backlog
        // one file per cell — the operator override
        graft.ingest.FileStore(root).ensureTable("q252",
          PushTableSink.TableSpec(compactionThreshold = 0))
        // segments: %6 keys (md5-spread digests → many regions);
        // put backlog: %30 keys at a DISJOINT version (no shadowing)
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 6 === 0)
            .select(lit("q252").as("tableName"),
              expr("unhex(md5(concat('doc-', doc_id)))").as("rowkey"),
              expr("doc_id * 2 + 1").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'S')) as binary)").as("body")),
          root)
        Tables.documents(s, d).filter(col("doc_id") % 30 === 0)
          .select(expr("unhex(md5(concat('doc-', doc_id)))").as("rowkey"),
            expr("doc_id * 2 + 2").as("version"),
            expr("cast(md5(concat(cast(doc_id as string), 'P')) as binary)").as("body"))
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q252").save()
        withConf(s, cellsCatalog("g", root): _*) { s =>
          // every provenance pair names a real inventory file
          val orphan = s.sql(
            s"""SELECT t._shard, t._file FROM g.q252 t
                LEFT ANTI JOIN g.`q252$$versions` v
                ON t._shard = v.shard AND t._file = v.file""").count()
          require(orphan == 0, s"provenance must name real inventory files, $orphan orphans")
          s.sql(
            s"""SELECT _kind AS kind, count(*) AS n,
                       count(DISTINCT _file) AS files
                FROM g.q252 GROUP BY _kind""")
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // NAMESPACES (SupportsNamespaces — the HBase one-level `ns:tbl`
    // model): CREATE NAMESPACE, namespaced DDL + DML, SHOW scoping,
    // and cascade DROP, driven end-to-end. In-query invariants: the
    // namespace lists exactly its own tables, a second namespace's
    // same-named table is a DIFFERENT store table (no cross-ns
    // leakage), and DROP NAMESPACE refuses non-empty without CASCADE.
    // The returned frame is the namespaced table's content.
    "q253_cells_namespaces" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q253-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE NAMESPACE g.prod")
          s.sql("CREATE TABLE g.prod.docs (rowkey BINARY, version BIGINT, body BINARY)")
          s.sql("CREATE TABLE g.stage.docs (rowkey BINARY, version BIGINT, body BINARY)")
          Tables.documents(s, d).filter(col("doc_id") % 29 === 0)
            .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              expr("doc_id * 9 + 1").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'NS')) as binary)").as("body"))
            .write.format("graft-cells").mode("append")
            .option("root", root).option("table", "prod:docs").save()
          val ns = s.sql("SHOW NAMESPACES IN g").collect().map(_.getString(0)).toSet
          require(ns == Set("prod", "stage"), s"explicit + implicit namespaces list: $ns")
          require(s.table("g.stage.docs").count() == 0,
            "same table name in another namespace is a different store table")
          require(scala.util.Try(s.sql("DROP NAMESPACE g.stage")).isFailure,
            "non-empty drop must refuse without CASCADE")
          s.sql("DROP NAMESPACE g.stage CASCADE")
          require(s.sql("SHOW NAMESPACES IN g").collect().map(_.getString(0)).toSet
            == Set("prod"), "cascade removes the namespace and its tables")
          s.table("g.prod.docs")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // TOP-N OVER THE SERVING FACE — q232's `$latest` fold composed
    // with q247's pushed top-N: `SELECT … FROM tbl$latest ORDER BY
    // rowkey LIMIT k`, the "first k live keys" console query. The
    // winner fold is an order-preserving subset of the segment's sort,
    // so a compacted shard stops after its local k WINNERS — history
    // depth costs nothing (losers were already pruned at metadata
    // level) and the cap bounds the rest. In-query invariants: the
    // scan carries topK, and capped readers emitted k rows where the
    // face holds 2× the keys in live winners alone.
    "q254_cells_latest_topn" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q254-cells").toString
      try {
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
            .select(col("doc_id"), explode(array(lit(1), lit(2))).as("g"))
            .select(lit("q254").as("tableName"),
              expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              expr("doc_id * 2 + g").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'T', cast(g as string))) as binary)").as("body")),
          root)
        withConf(s, cellsCatalog("g", root): _*) { s =>
          val keys = Tables.documents(s, d).filter(col("doc_id") % 7 === 0).count()
          graft.sources.CellsSource.cappedRowsEmitted.set(0)
          val top = s.sql(
            s"""SELECT cast(rowkey as string) AS key_str, version
                FROM g.`q254$$latest` ORDER BY rowkey LIMIT 25""")
          val desc = top.queryExecution.optimizedPlan.collectFirst {
            case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
              r.scan.description()
          }.getOrElse("")
          require(desc.contains("topK=25") && desc.contains("latest"),
            s"top-N must push into the serving face: $desc")
          val out = top.localCheckpoint()
          val emitted = graft.sources.CellsSource.cappedRowsEmitted.get()
          require(emitted > 0 && emitted < keys,
            s"the fold holds $keys winners (2x that in cells); emitted $emitted must be capped")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // STREAMING MATERIALIZED VIEW INTO THE SERVING STORE — the
    // Flink/Storm-into-HBase idiom, fully declarative: a STATEFUL
    // streaming aggregation (edits per key, state checkpoint-carried
    // across restarts) in UPDATE output mode, written through the
    // native sink's upsert-by-coordinate face (each revision is a put
    // at (key, 0) that atomically REPLACES the previous value — the
    // SupportsStreamingUpdateAsAppend contract made physical). Two
    // drains with a second generation between them prove the
    // replacement: counts move 1 → 2 for re-edited keys, and the MV
    // table holds EXACTLY one row per key (no version litter). At
    // 100 TB each trigger writes only the keys whose aggregate
    // CHANGED — never the state, never the table.
    "q255_cells_streaming_upsert_mv" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q255-cells").toString
      val ck = Files.createTempDirectory("graft-q255-ck").toString
      // HISTORY (r17): this gate's rare undercount (one re-edited
      // key's count stuck at 1 — observed twice in sweep-level runs,
      // never isolated) was NOT streaming state at all. The forensic
      // invariant below localized it: the MV's drain-2 upsert was a
      // REPLACE-BY-COORDINATE put at (key, 0), and the MV table's own
      // flush hook — absorbing drain-1's put backlog into a segment —
      // deleted the path AFTER the replace had re-renamed onto it,
      // discarding the new body with the old path. Fixed at the store:
      // replacing renames and every absorb→delete window now share the
      // shard's maintenance monitor ([[FileStore.putBatch]],
      // flush/minor/major sweeps; FlushReplaceRaceSpec drives the
      // interleaving deterministically through the absorb seam).
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q255mv (rowkey BINARY, version BIGINT, body BINARY)")
          def seed(pred: Int, g: Int): Unit = BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % pred === 0)
              .select(lit("q255s").as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                lit(g.toLong * 1000000000L).as("version"),
                expr(s"cast(md5(concat(cast(doc_id as string), '#$g')) as binary)").as("body")),
            root)
          // RESTART-FROM-CHECKPOINT on failure (r15 verdict: one bench
          // sweep under an ambient-slow window recorded a [STREAM_FAILED]
          // here — a single transient state-store/checkpoint IO error
          // kills a local[n] stream outright, since local mode has no
          // task retries). The production posture for ANY checkpointed
          // stream is restart: the state checkpoint + the sink's
          // idempotent put-by-coordinate make the replay converge
          // exactly-once BY DESIGN — this is the recovery the checkpoint
          // exists for, not error suppression (bounded retries; the
          // require()s below still pin exact results).
          // state partitions sized to the stream's key cardinality (the
          // q52/q53/q161 discipline): state is one count per seeded key
          // (~docs/27), and every state partition costs a per-batch
          // checkpoint commit PLUS a sink task that serializes on the
          // MV shard's maintenance monitor — Profile r18 attributed
          // 2x774ms of addBatch wall to 32+ sink tasks logging ~19s of
          // blocked task-time (0.8s CPU) in a lock convoy on the single
          // shard.
          def drain(): Unit = withConf(s, "spark.sql.shuffle.partitions" -> "8") { s =>
            var attempts = 0
            var done = false
            while (!done) {
              val q = s.readStream.table("g.`q255s$changes`")
                .groupBy(col("rowkey"))
                .agg(count(lit(1)).as("edits"))
                .select(col("rowkey"), lit(0L).as("version"),
                  col("edits").cast("string").cast("binary").as("body"))
                .writeStream.format("graft-cells")
                .outputMode("update")
                .option("root", root).option("table", "q255mv")
                .option("checkpointLocation", ck)
                .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
              try { q.awaitTermination(); done = true }
              catch {
                case e: org.apache.spark.sql.streaming.StreamingQueryException =>
                  attempts += 1
                  if (attempts > 2) throw e
              }
            }
          }
          seed(27, 1)
          drain()
          val n27 = Tables.documents(s, d).filter(col("doc_id") % 27 === 0).count()
          require(s.table("g.q255mv").count() == n27,
            "after drain 1 the MV holds one row per key")
          seed(54, 2) // a SUBSET re-edits — their counts must move to 2
          drain()
          require(s.table("g.q255mv").count() == n27,
            "in-place upsert: re-edited keys REPLACED their row, no version litter")
          // FORENSIC INVARIANT (r17): the MV must agree per-key with the
          // change log's BATCH face. A mismatch here separates the two
          // failure classes a bare hash-diff can't: if the batch face
          // holds the missing edit, the incremental state lost it (the
          // snapshot hazard above); if not, the feed itself under-
          // delivered — and the message says which, per offending key.
          val mvRows = s.table("g.q255mv")
            .select(col("rowkey").cast("string"), col("body").cast("string"))
            .collect().map(r => r.getString(0) -> r.getString(1)).toMap
          val logRows = s.table("g.`q255s$changes`")
            .groupBy(col("rowkey").cast("string").as("k")).agg(count(lit(1)).as("n"))
            .collect().map(r => r.getString(0) -> r.getLong(1).toString).toMap
          val off = (mvRows.keySet ++ logRows.keySet)
            .filter(k => mvRows.get(k) != logRows.get(k))
          require(off.isEmpty, "MV diverged from the change log's batch face: " +
            off.toSeq.sorted.map(k =>
              s"$k mv=${mvRows.get(k)} log=${logRows.get(k)}").mkString("; "))
          s.table("g.q255mv")
            .select(col("rowkey").cast("string").as("key_str"),
              col("body").cast("string").as("edit_count"))
            .localCheckpoint()
        }
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      }
    },

    // READ-TIME RETENTION — the r15 centerpiece (VERDICT r14 ask 1):
    // maxVersions + TTL + the minVersions floor applied by the READ
    // fold itself ([[graft.ingest.Retention]], the HBase StoreScanner
    // contract), so a capped/TTL'd table answers IDENTICALLY before
    // and after its major — the major reclaims bytes, never changes
    // answers. Clock pinned at 5e12 by each read's `retentionNowMillis`
    // option; DDL maxVersions=2, ttl=2.5e12 ⇒ cutoff 2.5e12. Three
    // disjoint key classes exercise each rule: A (%9) holds gens
    // 1/2/3e12 — g1 dies by RANK, g2 by TTL (rank 2 ≤ cap but
    // expired), g3 serves; B (%10=5 ∧ ¬%9) holds gens 1/2e12, both
    // expired — the newest survives by the minVersions FLOOR alone;
    // C (%11=3 ∧ ¬A ∧ ¬B) holds three LIVE gens 2.6/3/4e12 — the
    // oldest dies by the CAP alone. Seeds mix bulk segments and the
    // put path (the fold reads filenames + segment indexes, zero
    // bodies). In-query invariants: the masked view BEFORE the major
    // byte-equals the view AFTER it; the edit log still counts every
    // physical cell; F5 existence agrees cell-by-cell (a hidden
    // version reads as absent). 100 TB: the fold is per-shard
    // metadata, O(live versions) longs, only on retention-active DDL.
    "q256_cells_read_time_retention" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q256-cells").toString
      val T = 1000000000000L
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          // flush OFF: the gate pins EXACT physical counts through the
          // edit log, and a mid-wave flush moves a put into a segment
          // where the put path's eager pruner can no longer see it — the
          // over-cap version then survives physically (masked by
          // read-time retention either way, reclaimed by the major), so
          // the physical count would depend on task interleaving
          s.sql("CREATE TABLE g.q256 (rowkey BINARY, version BIGINT, body BINARY) " +
            s"TBLPROPERTIES('maxVersions'='2', 'ttlMillis'='${5 * T / 2}', " +
            "'compactionThreshold'='0')")
          val docs = Tables.documents(s, d)
          val predA = col("doc_id") % 9 === 0
          val predB = col("doc_id") % 10 === 5 && col("doc_id") % 9 =!= 0
          val predC = col("doc_id") % 11 === 3 && col("doc_id") % 9 =!= 0 &&
            col("doc_id") % 10 =!= 5
          def rows(pred: org.apache.spark.sql.Column, versions: Seq[(Long, String)]) =
            docs.filter(pred)
              .select(col("doc_id"),
                explode(array(versions.map { case (base, tag) =>
                  struct(lit(base).as("base"), lit(tag).as("tag")) }: _*)).as("g"))
              .select(lit("q256").as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                (col("g.base") + col("doc_id")).as("version"),
                expr("cast(md5(concat(cast(doc_id as string), g.tag)) as binary)").as("body"))
          // A and B by bulk segment, C by the put path — the fold must
          // rank across both store-file kinds
          BulkLoad.writeCells(rows(predA, Seq((T, "R1"), (2 * T, "R2"), (3 * T, "R3"))), root)
          BulkLoad.writeCells(rows(predB, Seq((T, "R1"), (2 * T, "R2"))), root)
          rows(predC, Seq((13 * T / 5, "C26"), (3 * T, "C3"), (4 * T, "C4")))
            .drop("tableName").write.format("graft-cells").mode("append")
            .option("root", root).option("table", "q256").save()
          val (na, nb, nc) =
            (docs.filter(predA).count(), docs.filter(predB).count(), docs.filter(predC).count())
          def masked() = s.read.option("retentionNowMillis", (5 * T).toString).table("g.q256")
          def view() = masked()
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
          val before = view().collect().map(_.toString).sorted.toSeq
          require(before.size == na + nb + 2 * nc,
            s"rank/TTL/floor/cap fold: ${before.size} vs ${na + nb + 2 * nc}")
          // A and B keep every seeded version on disk (bulk bypasses the
          // put path); C's put path eagerly pruned its over-cap oldest
          // at WRITE time (the W-side half of retention) — read-time
          // masking owns everything the writer can't see (segments,
          // later ALTERs, TTL)
          require(s.table("g.`q256$changes`").count() == 3 * na + 2 * nb + 2 * nc,
            "hidden-but-unreclaimed versions stay physically present (edit log never masks)")
          // F5 agrees cell-by-cell on a pinned key: doc-0 is class A
          val store = graft.ingest.FileStore(root)
          def cell(v: Long) = PushTableSink.CellPut("q256",
            "doc-0".getBytes("UTF-8"), v, Array.emptyByteArray)
          require(store.existsAt("q256", Seq(cell(3 * T), cell(2 * T), cell(T)), 5 * T)
            == Seq(true, false, false),
            "existence runs the same masked read path (hidden versions read absent)")
          // the pushed aggregate composes: COUNT over the capped table
          // runs the same retention fold on metadata — zero body bytes
          graft.sources.CellsSource.filesOpened.set(0)
          val aggN = masked().count()
          require(aggN == before.size.toLong,
            s"pushed COUNT must equal the masked view: $aggN vs ${before.size}")
          require(graft.sources.CellsSource.filesOpened.get() == 0,
            "the retention-aware pushed COUNT reads zero file contents")
          Compaction.major(s, root, "q256", nowMillis = () => 5 * T)
          val out = view().localCheckpoint()
          require(out.collect().map(_.toString).sorted.toSeq == before,
            "the major reclaims bytes, never changes answers — view identical across it")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // AUTOMATIC SHARD FLUSH — the memstore-flush / hbase.hstore.
    // compactionThreshold analog (VERDICT r14 ask 2): when a put batch
    // leaves a shard with MORE than `compactionThreshold` per-cell put
    // files (DDL property, default 10, '0' disables), the store's
    // post-commit hook flushes that shard's put backlog into ONE
    // sorted segment (puts only — a flush never re-merges resident
    // segments; the small-SEGMENT population has its own tier: once
    // it outgrows the threshold the hook runs the region-local minor,
    // size-tiered at 32 MB — FlushPolicySpec pins the bounded file
    // count across 15 waves). The q221 probe measured the
    // failure mode this closes: an unflushed backlog read 14.7×
    // super-linear. In-query invariants: across three INSERT waves AND
    // a native streaming-sink drain (the q255-style trigger path),
    // EVERY shard's put-file count stays ≤ the threshold (checked
    // through the $versions inventory after each wave) while the
    // masked view stays exactly the seeded content; the hook actually
    // fired (flush counter moved). 100 TB: the policy check is one
    // listing per TOUCHED shard per batch; the flush reads only the
    // backlog it absorbs.
    "q257_cells_auto_flush_policy" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q257-cells").toString
      val ck = Files.createTempDirectory("graft-q257-ck").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q257 (rowkey BINARY, version BIGINT, body BINARY)")
          val threshold = 10L // the recorded default
          def maxBacklog(): Long = {
            val r = s.sql("SELECT coalesce(max(cnt), 0) FROM (SELECT shard, count(*) AS cnt " +
              "FROM g.`q257$versions` WHERE kind = 'put' GROUP BY shard) t").collect()(0)
            r.getLong(0)
          }
          def wave(g: Int): Unit = {
            s.sql(s"""INSERT INTO g.q257
                SELECT cast(concat('doc-', doc_id) as binary),
                       cast($g as bigint) * 1000000000 + cast(doc_id as bigint),
                       cast(md5(concat(cast(doc_id as string), 'F', '$g')) as binary)
                FROM parquet.`$d/documents.parquet` WHERE doc_id % 13 = 0""")
            require(maxBacklog() <= threshold,
              s"wave $g left a put backlog above the threshold: ${maxBacklog()}")
          }
          val flushesBefore = graft.ingest.FileStore.autoFlushes.get()
          (1 to 3).foreach(wave)
          // the streaming-sink face rides the same hook: generation 4
          // arrives as a $changes replication drain into the same table
          BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % 13 === 0)
              .select(lit("q257s").as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                expr("4000000000 + doc_id").as("version"),
                expr("cast(md5(concat(cast(doc_id as string), 'F', '4')) as binary)").as("body")),
            root)
          val q = s.readStream.table("g.`q257s$changes`")
            .filter(col("op") === "put").select("rowkey", "version", "body")
            .writeStream.format("graft-cells")
            .option("root", root).option("table", "q257")
            .option("checkpointLocation", ck)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
          q.awaitTermination()
          require(maxBacklog() <= threshold,
            s"the streaming sink's puts flush too: ${maxBacklog()}")
          require(graft.ingest.FileStore.autoFlushes.get() > flushesBefore,
            "the hook must actually have fired (13-class keys share one region)")
          val n13 = Tables.documents(s, d).filter(col("doc_id") % 13 === 0).count()
          val out = s.table("g.q257")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
          require(out.count() == 4 * n13,
            "flushing moves bytes between store-file kinds, never changes the view")
          out
        }
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      }
    },

    // AUTOMATIC REGION SPLIT (VERDICT r15 ask 1 — the
    // hbase.hregion.max.filesize lifecycle, closing autonomous
    // maintenance after r15's auto-flush/auto-minor): every 'doc-*'
    // key shares leading byte 0x64, so the whole load hammers ONE
    // region; once maintenance leaves it past the DDL's
    // maxRegionBytes, [[graft.ingest.RegionSplit]] splits it — split
    // key = the largest segment's midkey shortened to a minimal
    // separator, daughters land via the in-parent satellite protocol,
    // layout boundary appended, daughter promoted. In-query
    // invariants: (a) a DIRECT mid-split probe — the pushed COUNT
    // (metadata-only, satellite-aware) re-evaluated at EVERY protocol
    // stage via the stage hook equals the pre-split count (reads
    // mid-split are exactly-once); (b) the put waves split the region
    // AUTOMATICALLY (splitsDone counter moved, layout grew past the
    // default 256); (c) every region ends ≤ the bound and no
    // satellite/staging debris survives; (d) delete markers written
    // BEFORE the splits still mask on both sides of every boundary;
    // (e) a point GET routes through the NEW layout (F5 existence
    // agrees). 100 TB: one split rewrites one region once — the minor
    // compaction it was already owed — and the policy check is one
    // listing per touched shard on opted-in tables only.
    "q261_cells_auto_region_split" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q261-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          // split OFF at create — wave 1 calibrates the bound to the data
          // scale so the gate splits O(log) times at every sf
          s.sql("CREATE TABLE g.q261 (rowkey BINARY, version BIGINT, body BINARY) " +
            "TBLPROPERTIES('compactionThreshold'='2')")
          def wave(g: Int): Unit =
            s.sql(s"""INSERT INTO g.q261
                SELECT cast(concat('doc-', doc_id) as binary),
                       cast($g as bigint) * 1000000000 + cast(doc_id as bigint),
                       cast(md5(concat(cast(doc_id as string), 'G', '$g')) as binary)
                FROM parquet.`$d/documents.parquet` WHERE doc_id % 7 = 0""")
          wave(1)
          // markers BEFORE any split: %21 keys mask their gen-1 — the
          // split must carry them to whichever daughter owns the key
          Tables.documents(s, d).filter(col("doc_id") % 21 === 0)
            .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              expr("1500000000 + doc_id").as("version"),
              lit(Array.emptyByteArray).as("body"))
            .write.format("graft-cells").mode("append")
            .option("root", root).option("table", "q261")
            .option("tombstone", "true").save()
          val store = FileStore(root)
          val hot = Paths.get(root, "q261", "64")
          val b1 = graft.ingest.RegionSplit.shardBytes(hot)
          require(b1 > 0, "wave 1 must land in region 64 (keys lead with 'd')")
          val table1 = s.table("g.q261")
          val count1 = table1.count()
          // (a) the MID-SPLIT pin: force one split NOW with a stage hook
          // that re-counts through the connector at every protocol stage
          // — the pushed COUNT walks filenames + segment indexes + the
          // satellite, so this pins satellite-aware metadata reads too
          graft.ingest.RegionSplit.probeHook = { stage =>
            val n = s.table("g.q261").count()
            require(n == count1, s"mid-split count diverged at $stage: $n != $count1")
          }
          val forced =
            try graft.ingest.RegionSplit.maybeSplit(root, "q261", "64",
              maxRegionBytes = math.max(2048L, b1 / 2), maxSplits = 1)
            finally graft.ingest.RegionSplit.probeHook = _ => ()
          require(forced == 1, s"the calibration split must fire once, got $forced")
          require(s.table("g.q261").count() == count1, "post-split count diverged")
          // (b) arm the automatic policy and drive the remaining waves
          val bound = math.max(4096L, b1)
          s.sql(s"ALTER TABLE g.q261 SET TBLPROPERTIES('maxRegionBytes' = '$bound')")
          val splitsBefore = graft.ingest.RegionSplit.splitsDone.get()
          wave(2); wave(3)
          require(graft.ingest.RegionSplit.splitsDone.get() > splitsBefore,
            "the put waves must split the hot region automatically")
          val layout = store.splitsOf("q261")
          require(layout.size > 257, s"layout must outgrow the forced split: ${layout.size}")
          // (c) the policy's fixed point: every region ≤ bound, no debris
          segShardDirs(root, "q261").foreach { sh =>
            val b = graft.ingest.RegionSplit.shardBytes(Paths.get(root, "q261", sh))
            require(b <= bound, s"region $sh holds $b > $bound after the waves")
          }
          require(!segFiles(root, "q261").exists(_.startsWith("_split")),
            "no satellite/staging debris may survive completed splits")
          // (e) point GET + F5 through the NEW layout
          val probed = s.sql("SELECT count(*) AS n FROM g.q261 " +
            "WHERE rowkey = cast('doc-7' as binary)").collect()(0).getLong(0)
          require(probed == 3, s"doc-7 must serve its 3 generations post-split, got $probed")
          require(store.exists("q261", Seq(graft.ingest.PushTableSink.CellPut(
            "q261", "doc-7".getBytes("UTF-8"), 3000000007L, Array.emptyByteArray))) == Seq(true),
            "F5 existence must route through the split layout")
          // (d) rides the oracle: %21 keys' gen-1 stays masked everywhere
          s.table("g.q261")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // ATOMIC ROW VERBS, COMPLETED (VERDICT r16 ask 3 — HBase
    // checkAndDelete + append, closing the Table-API family beside
    // q265's checkAndPut/increment): both verbs run under the same
    // striped per-key monitor against the region-scoped MASKED serving
    // read. checkAndDelete compares the key's current latest live body
    // (None = expect ABSENT) and, iff it matches, lands ONE bound
    // tombstone masking every live version — the HBase Delete-row
    // shape. append concatenates onto the current latest live body
    // (absent = empty) and lands the result as a NEW serving version —
    // max(wall clock, latest+1), so the result ALWAYS serves, even on
    // future-dated tables (the ADVICE-r16 checkAndPut loophole, closed
    // for the whole verb family). In-query invariants: (a) per-key
    // APPEND CHAINS driven from a 32-way parallel job build the exact
    // concatenation — order-deterministic because each key's chain
    // runs in one task; (b) 24 RACING appends of distinct tokens on
    // one key lose nothing (the lost-update pin — read-concat-write
    // without the row lock drops tokens); (c) 32 racing checkAndDelete
    // from one expected body admit EXACTLY ONE winner; (d) a
    // mismatched expected leaves the row serving; (e) the CALL faces
    // agree with the library faces. 100 TB: point reads + one put per
    // verb — region-server work, never a scan; the gate's workload is
    // FIXED-size (bounded ids) so the scaling row must be flat, the
    // same contract q265 pins.
    "q267_cells_check_delete_append" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q267-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q267 (rowkey BINARY, version BIGINT, body BINARY)")
          val ids = Tables.documents(s, d)
            .filter(col("doc_id") % 13 === 0 && col("doc_id") < 2000)
            .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
          require(ids.nonEmpty, "fixture ids must exist")
          val rootB = root
          // (a) per-key chains: seed by expect-absent CAS, then three
          // appends IN ORDER — the whole chain inside one task, so the
          // final body is exactly 'S<id>-x-y-z' for every key
          s.sparkContext.parallelize(ids.toSeq, 32).foreach { id =>
            val st = graft.ingest.FileStore(rootB)
            val k = s"app-$id".getBytes("UTF-8")
            require(st.checkAndPut("q267", k, None, s"S$id".getBytes("UTF-8")))
            Seq("-x", "-y", "-z").foreach(t => st.append("q267", k, t.getBytes("UTF-8")))
          }
          // (b) the lost-update pin: 24 racing appends of distinct
          // 4-byte tokens — every token present exactly once
          val raceK = "race-app".getBytes("UTF-8")
          s.sparkContext.parallelize(0 until 24, 24).foreach { i =>
            graft.ingest.FileStore(rootB).append("q267", raceK,
              f"<$i%02d>".getBytes("UTF-8")); ()
          }
          val raceBody = new String(
            graft.ingest.FileStore(root).getLatest("q267", raceK).get._2, "UTF-8")
          require(raceBody.length == 24 * 4, s"append lost updates: '$raceBody'")
          (0 until 24).foreach(i => require(raceBody.contains(f"<$i%02d>"),
            s"append dropped token $i: '$raceBody'"))
          // (c) CAS-delete contention: exactly one of 32 wins
          val cadK = "race-cad".getBytes("UTF-8")
          require(graft.ingest.FileStore(root).checkAndPut("q267", cadK, None,
            "init".getBytes("UTF-8")))
          val wins = s.sparkContext.parallelize(1 to 32, 32).map { _ =>
            if (graft.ingest.FileStore(rootB).checkAndDelete("q267", cadK,
              Some("init".getBytes("UTF-8")))) 1 else 0
          }.sum().toLong
          require(wins == 1L, s"exactly one checkAndDelete must win, got $wins")
          // (d) + the real delete workload: %26 rows go by value-checked
          // delete; a WRONG expected on a survivor is refused
          ids.filter(_ % 26 == 0).foreach { id =>
            require(graft.ingest.FileStore(root).checkAndDelete("q267",
              s"app-$id".getBytes("UTF-8"), Some(s"S$id-x-y-z".getBytes("UTF-8"))),
              s"value-checked delete must apply for app-$id")
          }
          val survivor = ids.find(_ % 26 != 0).get
          require(!graft.ingest.FileStore(root).checkAndDelete("q267",
            s"app-$survivor".getBytes("UTF-8"), Some("wrong".getBytes("UTF-8"))),
            "a mismatched expected must refuse the delete")
          // (e) the SQL shell agrees: append('') echoes the body; a
          // mismatched CALL check_and_delete reports applied=false
          val echoed = s.sql("CALL g.append(table => 'q267', " +
            s"rowkey => 'app-$survivor', value => '')").collect()(0).getString(0)
          require(echoed == s"S$survivor-x-y-z", s"CALL append echoed '$echoed'")
          require(!s.sql("CALL g.check_and_delete(table => 'q267', " +
            s"rowkey => 'app-$survivor', expected => 'nope')")
            .collect()(0).getBoolean(0), "CALL check_and_delete must refuse mismatch")
          // the serving view: deleted rows masked, chains complete
          s.sql(
            s"""SELECT cast(rowkey as string) AS key_str,
                       cast(body as string) AS body
                FROM g.`q267$$latest`
                WHERE cast(rowkey as string) LIKE 'app-%'""")
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // IN-PLACE SNAPSHOT RESTORE + SNAPSHOT LISTING (VERDICT r16 ask 4
    // — HBase restore_snapshot / list_snapshots): restore swaps the
    // live table's current generation for the snapshot's pinned set by
    // the RTAS two-rename protocol (trash-park → promote), the staged
    // generation built from HARD LINKS before the table write lock is
    // taken — zero data bytes move, a poisoned staging never touches
    // the live table, and readers see the old generation until the
    // swap instant. list_snapshots is the metadata face: one row per
    // snapshot (name, pinned table, files, created). In-query
    // invariants: (a) post-snapshot mutations — a second generation,
    // an exact-version delete, a GC major — all UNDO on restore: the
    // view returns COUNT- and CHECKSUM-identical to snapshot time;
    // (b) restore is REPEATABLE (the snapshot survives its own
    // restore — links, not moves) and each restore re-wipes later
    // writes; (c) the restored table is LIVE: a third generation lands
    // and serves; (d) list_snapshots reports the pin before AND after
    // restore with a stable file count; (e) dropping the snapshot
    // after restore leaves the live view intact (inode independence).
    // 100 TB: restore is one link per store file + two renames —
    // metadata work, never data movement.
    "q268_cells_restore_snapshot" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q268-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q268 (rowkey BINARY, version BIGINT, body BINARY) " +
            "TBLPROPERTIES('compactionThreshold'='2')")
          def wave(g: Int, mod: Int): Unit =
            s.sql(s"""INSERT INTO g.q268
                SELECT cast(concat('doc-', doc_id) as binary),
                       cast($g as bigint) * 1000000000 + cast(doc_id as bigint),
                       cast(md5(concat(cast(doc_id as string), 'R', '$g')) as binary)
                FROM parquet.`$d/documents.parquet` WHERE doc_id % $mod = 0""")
          wave(1, 7)
          val n7 = Tables.documents(s, d).filter(col("doc_id") % 7 === 0).count()
          def checksum(): Long =
            s.table("g.q268").select(sum(crc32(concat_ws("|",
              col("rowkey").cast("string"), col("version").cast("string"),
              col("body").cast("string")))).as("c")).collect()(0).getLong(0)
          val sum1 = checksum()
          val pinned = s.sql("CALL g.snapshot(table => 'q268', name => 'r1')")
            .collect()(0).getLong(0)
          require(pinned > 0, "the snapshot must pin store files")
          // (a) diverge the live table every way, then restore
          wave(2, 7)
          s.sql("DELETE FROM g.q268 WHERE rowkey = cast('doc-7' as binary) " +
            "AND version = 1000000007")
          s.sql("CALL g.compact_major(table => 'q268')")
          require(s.table("g.q268").count() == 2 * n7 - 1 && checksum() != sum1,
            "the live table must have diverged before restore")
          // (d) the metadata face, pre-restore
          val listed = s.sql("CALL g.list_snapshots()").collect()
          require(listed.length == 1 && listed(0).getString(0) == "r1" &&
            listed(0).getString(1) == "q268" && listed(0).getLong(2) == pinned,
            s"list_snapshots must report the pin: ${listed.mkString(",")}")
          val restored = s.sql("CALL g.restore_snapshot(name => 'r1')")
            .collect()(0).getLong(0)
          require(restored > 0, "restore must link files")
          require(s.table("g.q268").count() == n7 && checksum() == sum1,
            "restore must return the snapshot-time view checksum-identically")
          // (b) repeatable: diverge again, restore again
          wave(4, 35)
          require(checksum() != sum1, "the second divergence must land")
          s.sql("CALL g.restore_snapshot(name => 'r1')")
          require(checksum() == sum1, "restore must be repeatable — links, not moves")
          val listedAfter = s.sql("CALL g.list_snapshots()").collect()
          require(listedAfter.length == 1 && listedAfter(0).getLong(2) == pinned,
            "the snapshot survives its own restore with a stable file count")
          // (c) the restored table is live; (e) the drop releases pins
          wave(3, 21)
          s.sql("CALL g.drop_snapshot(name => 'r1')")
          val n21 = Tables.documents(s, d).filter(col("doc_id") % 21 === 0).count()
          require(s.table("g.q268").count() == n7 + n21,
            "the restored table must accept and serve new writes after the drop")
          s.table("g.q268")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // STREAMING × REGION LIFECYCLE (VERDICT r16 ask 6 — the feed and
    // the sink racing live maintenance): a replication drain
    // (`readStream` over the source's `$changes` → `writeStream` into
    // the replica) stays EXACTLY-ONCE while regions merge under the
    // feed and split under the sink. Both directions of the race are
    // driven deterministically: (a) the SOURCE side — a full drain
    // runs INSIDE the merge protocol's stage hook at the 'unbound'
    // (boundary gone, right directory still live) and 'parked'
    // (right directory now a `_merge` satellite) states, the two
    // layouts a racing reader can actually observe mid-merge; after
    // each the replica must hold EXACTLY the delivered window — the
    // satellite-aware feed neither drops the parked region's edits
    // nor double-delivers across the layout change; (b) the REPLICA
    // side — the last drain runs with `maxRegionBytes` armed on the
    // replica, so the sink's own put waves AUTO-SPLIT the replica
    // region mid-drain (splitsDone counter-pinned) while the
    // idempotent put-by-coordinate sink keeps landing; the final
    // views must match both ways. 100 TB: the drain moves one feed
    // window per trigger and the lifecycle ops move names — the race
    // windows exist at any scale, which is why the coverage rules
    // (satellite expansion + read-time escalation) carry the
    // exactly-once contract instead of locks.
    "q269_cells_stream_lifecycle_race" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q269-cells").toString
      val ck = Files.createTempDirectory("graft-q269-ck").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          // source pre-split at 'doc-3'/'doc-6'; replica starts single-region
          s.sql("CREATE TABLE g.q269s (rowkey BINARY, version BIGINT, body BINARY) " +
            "TBLPROPERTIES('compactionThreshold'='2', " +
            "'splitPoints'='646f632d33,646f632d36')")
          s.sql("CREATE TABLE g.q269r (rowkey BINARY, version BIGINT, body BINARY) " +
            "TBLPROPERTIES('compactionThreshold'='2')")
          def wave(g: Int): Unit =
            s.sql(s"""INSERT INTO g.q269s
                SELECT cast(concat('doc-', doc_id) as binary),
                       cast($g as bigint) * 1000000000 + cast(doc_id as bigint),
                       cast(md5(concat(cast(doc_id as string), 'L', '$g')) as binary)
                FROM parquet.`$d/documents.parquet` WHERE doc_id % 8 = 0""")
          def drain(): Unit = {
            val q = s.readStream.table("g.`q269s$changes`")
              .filter(col("op") === "put").select("rowkey", "version", "body")
              .writeStream.format("graft-cells")
              .option("root", root).option("table", "q269r")
              .option("checkpointLocation", ck)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
            q.awaitTermination()
          }
          val n8 = Tables.documents(s, d).filter(col("doc_id") % 8 === 0).count()
          wave(1); drain()
          require(s.table("g.q269r").count() == n8,
            "drain 1 must deliver exactly the seed window")
          wave(2)
          // (a) the feed side: full drains INSIDE the merge, at the two
          // observable mid-merge layouts; the replica must hold exactly
          // the 2-generation window after each (no loss at 'unbound', no
          // duplication at 'parked' — puts are idempotent renames, so a
          // duplicate would be invisible in counts; the EXACTNESS pin is
          // the source/replica view equality below, this pins delivery)
          val midDrains = new java.util.concurrent.atomic.AtomicInteger(0)
          val inHook = new java.util.concurrent.atomic.AtomicBoolean(false)
          graft.ingest.RegionSplit.probeHook = { stage =>
            if ((stage.startsWith("unbound:") || stage.startsWith("parked:")) &&
              inHook.compareAndSet(false, true)) {
              try {
                drain()
                val n = s.table("g.q269r").count()
                require(n == 2 * n8, s"mid-merge drain at $stage delivered $n != ${2 * n8}")
                midDrains.incrementAndGet()
              } finally inHook.set(false)
            }
          }
          try {
            val merged = s.sql("CALL g.merge_regions(table => 'q269s', " +
              "region => '646f632d33')").collect()(0).getBoolean(0)
            require(merged, "the merge must apply")
          } finally graft.ingest.RegionSplit.probeHook = _ => ()
          require(midDrains.get() == 2, s"both mid-merge drains must run: ${midDrains.get()}")
          require(FileStore(root).splitsOf("q269s").size == 2, "the source layout shrank")
          // (b) the sink side: arm the replica's split policy so drain 3's
          // own puts split it mid-drain
          val repShard = FileStore.shardOf("doc-0".getBytes("UTF-8"))
          val repBytes = graft.ingest.RegionSplit.shardBytes(Paths.get(root, "q269r", repShard))
          require(repBytes > 0, s"the replica region $repShard must hold bytes")
          s.sql("ALTER TABLE g.q269r SET TBLPROPERTIES('maxRegionBytes' = " +
            s"'${math.max(2048L, repBytes / 2)}')")
          val splitsBefore = graft.ingest.RegionSplit.splitsDone.get()
          val layoutBefore = FileStore(root).splitsOf("q269r").size
          wave(3); drain()
          require(graft.ingest.RegionSplit.splitsDone.get() > splitsBefore,
            "the drain's sink puts must auto-split the replica mid-drain")
          require(FileStore(root).splitsOf("q269r").size > layoutBefore,
            "the replica layout grew")
          // the contract: views equal both ways across every race
          def view(t: String) = s.table(s"g.$t")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
          val src = view("q269s").localCheckpoint() // the q195 note
          val rep = view("q269r").localCheckpoint()
          sameRows(rep, src, "replica and source must agree after the lifecycle races")
          rep
        }
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
      }
    },

    // REGION MERGE (HBase merge_region — the split's inverse, closing
    // the full region lifecycle): CALL cat.merge_regions folds a
    // region into its LEFT neighbor — boundary unbound first (new
    // writes re-route; stale readers see the fingerprint change), then
    // ONE atomic rename parks the right directory as the left's merge
    // satellite, then the fold moves files in place. Readers stay
    // exactly-once throughout via the layout-stale coverage rule
    // (planned-range re-filter over every intersecting directory).
    // In-query invariants: (a) a stage-hook COUNT at every merge stage
    // equals the seeded total (reads mid-merge exactly-once); (b) the
    // layout shrinks and the right directory is gone; (c) markers in
    // the absorbed region keep masking; (d) the merged region then
    // SPLITS back automatically under a small maxRegionBytes — the
    // full lifecycle round-trip — with the view hash-identical through
    // both ops; (e) point reads and F5 route through every layout.
    // 100 TB: a merge moves O(store files of one region) names — no
    // data bytes.
    "q266_cells_region_merge" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q266-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          // three regions pre-split at 'doc-3' and 'doc-6'
          s.sql("CREATE TABLE g.q266 (rowkey BINARY, version BIGINT, body BINARY) " +
            "TBLPROPERTIES('compactionThreshold'='2', " +
            "'splitPoints'='646f632d33,646f632d36')")
          (1 to 2).foreach { g =>
            s.sql(s"""INSERT INTO g.q266
                SELECT cast(concat('doc-', doc_id) as binary),
                       cast($g as bigint) * 1000000000 + cast(doc_id as bigint),
                       cast(md5(concat(cast(doc_id as string), 'M', '$g')) as binary)
                FROM parquet.`$d/documents.parquet` WHERE doc_id % 4 = 0""")
          }
          // a marker inside the region about to be absorbed ('doc-4…'
          // sorts into ['doc-3','doc-6')): gen-1 of %44 keys masked
          Tables.documents(s, d).filter(col("doc_id") % 44 === 0 && col("doc_id") % 10 === 4)
            .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              expr("1500000000 + doc_id").as("version"),
              lit(Array.emptyByteArray).as("body"))
            .write.format("graft-cells").mode("append")
            .option("root", root).option("table", "q266")
            .option("tombstone", "true").save()
          val count0 = s.table("g.q266").count()
          graft.ingest.RegionSplit.probeHook = { stage =>
            val n = s.table("g.q266").count()
            require(n == count0, s"mid-merge count diverged at $stage: $n != $count0")
          }
          try {
            val merged = s.sql("CALL g.merge_regions(table => 'q266', " +
              "region => '646f632d33')").collect()(0).getBoolean(0)
            require(merged, "the merge must apply")
          } finally graft.ingest.RegionSplit.probeHook = _ => ()
          val store = FileStore(root)
          require(store.splitsOf("q266").size == 2,
            s"boundary gone: ${store.splitsOf("q266").names}")
          require(!Files.isDirectory(Paths.get(root, "q266", "646f632d33")),
            "the absorbed directory is gone")
          require(s.table("g.q266").count() == count0, "merging never changes the view")
          // (d) the lifecycle round-trip: the fat merged region splits
          // back automatically once the policy arms
          val fatBytes = graft.ingest.RegionSplit.shardBytes(Paths.get(root, "q266", "-"))
          require(fatBytes > 0)
          s.sql("ALTER TABLE g.q266 SET TBLPROPERTIES('maxRegionBytes' = " +
            s"'${math.max(2048L, fatBytes / 2)}')")
          val splitsBefore = graft.ingest.RegionSplit.splitsDone.get()
          // one more wave re-triggers the policy on the touched region
          s.sql(s"""INSERT INTO g.q266
              SELECT cast(concat('doc-', doc_id) as binary),
                     cast(3000000000 + doc_id as bigint),
                     cast(md5(concat(cast(doc_id as string), 'M3')) as binary)
              FROM parquet.`$d/documents.parquet` WHERE doc_id % 4 = 0""")
          require(graft.ingest.RegionSplit.splitsDone.get() > splitsBefore,
            "the merged region must split back under the armed bound")
          require(store.splitsOf("q266").size > 2, "the lifecycle round-trip grew the layout")
          // (e) point read + F5 through the final layout
          val probed = s.sql("SELECT count(*) AS n FROM g.q266 " +
            "WHERE rowkey = cast('doc-4' as binary)").collect()(0).getLong(0)
          require(probed == 3, s"doc-4 must serve its three generations, got $probed")
          s.table("g.q266")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // ATOMIC ROW MUTATIONS (the last missing HBase verb class noted by
    // the r15 verdict — checkAndPut / increment): per-key compare-and-
    // set and counter bumps against the key's MASKED LATEST body (the
    // same serving read every face uses — delete masks, retention, and
    // read precedence all apply to the comparison), serialized by
    // striped per-key monitors (the HBase row-lock role, scoped to the
    // atomic verbs; in-JVM like every coordination seam here).
    // In-query invariants: (a) 96 CONCURRENT increments per counter
    // key across 32 executor threads converge to the exact sum — the
    // lost-update test, the whole reason the verb exists; (b) 32
    // concurrent CAS attempts from one expected value admit EXACTLY
    // ONE winner; (c) expect-absent succeeds once then fails;
    // (d) the increments are ordinary versioned cells — the $latest
    // face serves the final value and history remains queryable.
    // 100 TB: atomic verbs are point reads + one put — region-server
    // work, never a scan.
    "q265_cells_atomic_mutations" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q265-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q265 (rowkey BINARY, version BIGINT, body BINARY)")
          // (a) the lost-update pin: per %11 doc under id 2000, 3
          // increments of (doc_id % 5 + 1) land from a 32-way parallel
          // job — the final counter must be exactly 3×(doc_id%5+1),
          // every update kept. The id BOUND is the point: atomic verbs
          // are per-row point ops whose cost must not scale with corpus
          // size, so the gate drives a FIXED contention workload at
          // every sf (the scaling row should be flat — that IS the
          // 100 TB property)
          val ids = Tables.documents(s, d)
            .filter(col("doc_id") % 11 === 0 && col("doc_id") < 2000)
            .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
          val work = (for (id <- ids.toSeq; _ <- 1 to 3) yield (id, id % 5 + 1))
          val rootB = root
          s.sparkContext.parallelize(new scala.util.Random(42).shuffle(work), 32)
            .foreach { case (id, delta) =>
              graft.ingest.FileStore(rootB).increment("q265",
                s"ctr-$id".getBytes("UTF-8"), delta)
            }
          // (b) CAS contention: exactly one of 32 concurrent winners
          require(graft.ingest.FileStore(root).checkAndPut("q265",
            "cas".getBytes("UTF-8"), None, 1L, "init".getBytes("UTF-8")),
            "expect-absent must succeed on a fresh key")
          val winners = s.sparkContext.parallelize(1 to 32, 32).map { i =>
            if (graft.ingest.FileStore(rootB).checkAndPut("q265",
              "cas".getBytes("UTF-8"), Some("init".getBytes("UTF-8")),
              1000L + i, s"winner-$i".getBytes("UTF-8"))) 1 else 0
          }.sum().toLong
          require(winners == 1L, s"exactly one CAS must win, got $winners")
          // (c) expect-absent now fails (the key exists)
          require(!graft.ingest.FileStore(root).checkAndPut("q265",
            "cas".getBytes("UTF-8"), None, 9999L, "x".getBytes("UTF-8")),
            "expect-absent must fail on an existing key")
          // (d) the SQL shell's face agrees: one more bump via CALL
          val viaSql = s.sql("CALL g.increment(table => 'q265', " +
            s"rowkey => 'ctr-${ids.min}', delta => 0)").collect()(0).getLong(0)
          require(viaSql == 3 * (ids.min % 5 + 1), s"CALL increment read $viaSql")
          // the counters as the serving view — big-endian 8-byte bodies
          s.sql(
            s"""SELECT cast(rowkey as string) AS key_str,
                       cast(conv(hex(body), 16, 10) as bigint) AS value
                FROM g.`q265$$latest`
                WHERE cast(rowkey as string) LIKE 'ctr-%'""")
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // ZERO-COPY SNAPSHOT / CLONE (VERDICT r15 ask 5 — HBase
    // snapshot/clone_snapshot): `CALL cat.snapshot` hard-links the
    // table's store-file set (no cell bytes move); store files are
    // rename-only immutable, so every later major/TTL-sweep/DELETE/
    // vacuum only unlinks the TABLE's names and the snapshot stays
    // byte-identical with zero pin bookkeeping — the filesystem link
    // count is the refcount (the HBase archive-dir role). In-query
    // invariants: (a) after ALTER maxVersions=1 + a major GCs the live
    // table to one version per key, the snapshot re-reads COUNT- and
    // CHECKSUM-identical; (b) CALL vacuum(0) collects nothing pinned;
    // (c) the clone materializes the full pre-GC content with the
    // snapshot-time DDL; (d) writes and deletes INSIDE the clone touch
    // neither the live table nor the snapshot; (e) after drop_snapshot
    // the clone still serves everything (inode independence). 100 TB:
    // a snapshot is one metadata link per store file — ~one per region
    // post-compaction — and zero data bytes.
    "q264_cells_snapshot_clone" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q264-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          s.sql("CREATE TABLE g.q264 (rowkey BINARY, version BIGINT, body BINARY) " +
            "TBLPROPERTIES('compactionThreshold'='2')")
          def wave(g: Int): Unit =
            s.sql(s"""INSERT INTO g.q264
                SELECT cast(concat('doc-', doc_id) as binary),
                       cast($g as bigint) * 1000000000 + cast(doc_id as bigint),
                       cast(md5(concat(cast(doc_id as string), 'S', '$g')) as binary)
                FROM parquet.`$d/documents.parquet` WHERE doc_id % 9 = 0""")
          (1 to 3).foreach(wave)
          val n9 = Tables.documents(s, d).filter(col("doc_id") % 9 === 0).count()
          val pinned = s.sql("CALL g.snapshot(table => 'q264', name => 'snap1')")
            .collect()(0).getLong(0)
          require(pinned > 0, "the snapshot must pin store files")
          def snapDf = s.read.format("graft-cells")
            .option("root", graft.ingest.Snapshots.rootOf(root, "snap1"))
            .option("table", "q264").load()
          def checksum(df: org.apache.spark.sql.DataFrame): Long =
            df.select(sum(crc32(concat_ws("|", col("rowkey").cast("string"),
              col("version").cast("string"), col("body").cast("string")))).as("c"))
              .collect()(0).getLong(0)
          val snapSum0 = checksum(snapDf)
          require(snapDf.count() == 3 * n9, "the snapshot pins the full 3-generation view")
          // (a) GC the LIVE table hard: cap 1 + major — live keeps one
          // version per key, the snapshot must not move a byte
          s.sql("ALTER TABLE g.q264 SET TBLPROPERTIES('maxVersions' = '1')")
          s.sql("CALL g.compact_major(table => 'q264')")
          require(s.table("g.q264").count() == n9, "the major GC'd the live table")
          require(snapDf.count() == 3 * n9 && checksum(snapDf) == snapSum0,
            "the snapshot survives the major + retention sweep byte-identically")
          // (b) vacuum never collects pinned files
          s.sql("CALL g.vacuum(older_than_ms => 0)")
          require(checksum(snapDf) == snapSum0, "vacuum must not touch pinned files")
          // (c) the clone: full pre-GC content under the snapshot-time DDL
          s.sql("CALL g.clone_snapshot(name => 'snap1', new_table => 'q264c')")
          require(s.table("g.q264c").count() == 3 * n9, "the clone is the pinned view")
          val cloneSpec = PushTableSink.TableSpec.fromJson(
            FileStore(root).readSpecJson("q264c").get)
          require(cloneSpec.maxVersions == Int.MaxValue && cloneSpec.compactionThreshold == 2,
            "the clone carries the SNAPSHOT-time DDL, not the later ALTER")
          // (d) independence: mutate the CLONE only
          s.sql("DELETE FROM g.q264c WHERE rowkey = cast('doc-9' as binary) " +
            "AND version <= 2000000009")
          s.sql(s"""INSERT INTO g.q264c
              SELECT cast(concat('doc-', doc_id) as binary),
                     cast(9000000000 + doc_id as bigint),
                     cast(md5(concat(cast(doc_id as string), 'S9')) as binary)
              FROM parquet.`$d/documents.parquet` WHERE doc_id % 36 = 0""")
          require(s.table("g.q264").count() == n9,
            "clone mutations must not touch the live table")
          require(checksum(snapDf) == snapSum0,
            "clone mutations must not touch the snapshot")
          // (e) dropping the snapshot releases pins, never clone content
          s.sql("CALL g.drop_snapshot(name => 'snap1')")
          val n36 = Tables.documents(s, d).filter(col("doc_id") % 36 === 0).count()
          require(s.table("g.q264c").count() == 3 * n9 - 2 + n36,
            "the clone serves everything after the snapshot is dropped")
          s.table("g.q264c")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // REVERSE SCAN (VERDICT r15 ask 4 — HBase Scan.setReversed):
    // `ORDER BY rowkey DESC [, version DESC] LIMIT k` pushes as a
    // reverse-capped top-N: each compacted region walks its seekable
    // segment INDEX backward and reads ~k entries instead of the
    // shard. In-query invariants: the plan advertises `topK=… rev`;
    // the capped-emission counter stays ≤ shards × (k + one key's
    // versions) — the q259 pattern, counter-pinned at two scales via
    // BENCH_SCALING; a delete marker on the would-be top key moves
    // the answer to the next live cells (masks apply in reverse too);
    // and the exact two-column shape matches DuckDB's ORDER BY … DESC
    // LIMIT hash. The single-column shape truncates at key-group
    // boundaries (bounded superset; Spark's retained TakeOrdered
    // finalizes — pushes are partial, truncation is I/O savings only).
    "q263_cells_reverse_scan" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q263-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          // three versions per %6 key, ONE bulk segment per region (the
          // compacted steady state the reverse walk rides)
          graft.ingest.FileStore(root).ensureTable("q263",
            PushTableSink.TableSpec(compactionThreshold = 0))
          BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % 6 === 0)
              .select(col("doc_id"), explode(array(lit(1), lit(2), lit(3))).as("g"))
              .select(lit("q263").as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                expr("doc_id * 4 + g").as("version"),
                expr("cast(md5(concat(cast(doc_id as string), 'Z', cast(g as string))) as binary)").as("body")),
            root)
          // the LAST key in DESC order gets a bound marker at its g=3
          // version: the reverse walk must mask it and serve g<3 plus
          // the next keys instead — pinned through the oracle hash
          val lastId = Tables.documents(s, d).filter(col("doc_id") % 6 === 0)
            .agg(max(expr("concat('doc-', doc_id)"))).collect()(0).getString(0)
          val lastMaxV = s.sql("SELECT max(version) AS v FROM g.q263 " +
            s"WHERE rowkey = cast('$lastId' as binary)").collect()(0).getLong(0)
          s.sql(s"DELETE FROM g.q263 WHERE rowkey = cast('$lastId' as binary) " +
            s"AND version = $lastMaxV")
          graft.sources.CellsSource.cappedRowsEmitted.set(0)
          val q = s.sql(
            s"""SELECT cast(rowkey as string) AS key_str, version
                FROM g.q263 ORDER BY rowkey DESC, version DESC LIMIT 10""")
          val desc = q.queryExecution.optimizedPlan.collectFirst {
            case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
              r.scan.description()
          }.getOrElse("")
          require(desc.contains("topK=10 rev"), s"the reverse top-N must push: $desc")
          val out = q.localCheckpoint()
          val total = s.table("g.q263").count()
          val emitted = graft.sources.CellsSource.cappedRowsEmitted.get()
          // every 'doc-*' key shares region 64, so ONE shard serves the
          // reverse walk: the exact two-column shape stops at exactly k
          require(emitted > 0 && emitted <= 10 && emitted < total,
            s"reverse truncation must bound emission: $emitted of $total rows")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // CTAS / RTAS (VERDICT r15 ask 3 — StagingTableCatalog): `CREATE
    // TABLE … AS SELECT` and `REPLACE TABLE … AS SELECT` land through
    // a STAGED GENERATION under `_ctas_staging/` (the q239 overwrite
    // protocol promoted to table creation): DDL + splits + every cell
    // build INVISIBLY, CREATE commits by ONE atomic rename, REPLACE by
    // the two-rename swap. In-query invariants: (a) a POISONED CTAS
    // (raise_error mid-query) leaves NO table, nothing listed, and no
    // staging debris (abort swept it); (b) the real CTAS carries its
    // TBLPROPERTIES and PRE-SPLIT layout into the committed table,
    // with placement honoring the layout (both regions hold cells);
    // (c) a SELF-REFERENTIAL RTAS (`REPLACE t AS SELECT … FROM t`)
    // reads the OLD generation for the whole job — the staged dir is
    // unreachable by its own source scan; (d) a poisoned RTAS leaves
    // the old table byte-intact. 100 TB: the staged write is the same
    // distributed cell-put path as any load; commit is O(1) renames.
    "q262_cells_ctas_rtas" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q262-cells").toString
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          // (a) the poisoned CTAS: one in ~50 rows raises — the job dies
          // mid-write, the staged generation aborts, NO table appears
          val poisoned =
            try {
              s.sql(s"""CREATE TABLE g.q262 TBLPROPERTIES('compactionThreshold'='0')
                  AS SELECT cast(concat('doc-', doc_id) as binary) AS rowkey,
                            cast(1000000000 + doc_id as bigint) AS version,
                            cast(IF(doc_id % 50 = 49, raise_error('q262 poison'),
                                    md5(concat(cast(doc_id as string), 'C1'))) as binary) AS body
                  FROM parquet.`$d/documents.parquet`""")
              false
            } catch { case _: Exception => true }
          require(poisoned, "the poisoned CTAS must fail")
          require(!Files.isDirectory(Paths.get(root, "q262")),
            "a crashed CTAS must leave NO table")
          require(s.sql("SHOW TABLES IN g").collect().isEmpty,
            "nothing may be listed after the failed CTAS")
          val stagingDir = Paths.get(root, "_ctas_staging")
          val orphans =
            if (!Files.isDirectory(stagingDir)) 0
            else { val l = Files.list(stagingDir)
                   try l.iterator().asScala.size finally l.close() }
          require(orphans == 0, s"abort must sweep its staged generation, found $orphans")
          // (b) the real CTAS: DDL properties + a pre-split layout ride
          // into the committed table ('doc-5…' keys go to the second
          // region — hex 646f632d35 = "doc-5")
          s.sql(s"""CREATE TABLE g.q262
              TBLPROPERTIES('compactionThreshold'='0', 'maxVersions'='5',
                            'splitPoints'='646f632d35')
              AS SELECT cast(concat('doc-', doc_id) as binary) AS rowkey,
                        cast(1000000000 + doc_id as bigint) AS version,
                        cast(md5(concat(cast(doc_id as string), 'C1')) as binary) AS body
              FROM parquet.`$d/documents.parquet` WHERE doc_id % 8 = 0""")
          val store = FileStore(root)
          val layout = store.splitsOf("q262")
          require(layout.size == 2 && layout.names == Vector("-", "646f632d35"),
            s"the pre-split layout must commit with the table: ${layout.names}")
          val spec = PushTableSink.TableSpec.fromJson(store.readSpecJson("q262").get)
          require(spec.maxVersions == 5 && spec.compactionThreshold == 0,
            "TBLPROPERTIES must commit with the table")
          Seq("-", "646f632d35").foreach { sh =>
            val n = ShardFiles.list(Paths.get(root, "q262", sh)).paths.size
            require(n > 0, s"region $sh must hold cells (placement honors the CTAS layout)")
          }
          val n8 = Tables.documents(s, d).filter(col("doc_id") % 8 === 0).count()
          require(s.table("g.q262").count() == n8, "CTAS content = the query")
          // (c) self-referential RTAS: the source scan reads the OLD
          // generation for the whole job (the staged dir is invisible)
          s.sql(s"""REPLACE TABLE g.q262 TBLPROPERTIES('compactionThreshold'='0')
              AS SELECT rowkey, version + 1000000000 AS version, body FROM g.q262""")
          require(s.table("g.q262").count() == n8,
            "RTAS over itself must see the old generation exactly once")
          // (d) a poisoned RTAS leaves the old table intact
          val poisoned2 =
            try {
              s.sql(s"""REPLACE TABLE g.q262 TBLPROPERTIES('compactionThreshold'='0')
                  AS SELECT rowkey, version,
                            cast(raise_error('q262 rtas poison') as binary) AS body
                  FROM g.q262""")
              false
            } catch { case _: Exception => true }
          require(poisoned2, "the poisoned RTAS must fail")
          s.table("g.q262")
            .select(col("rowkey").cast("string").as("key_str"), col("version"),
              col("body").cast("string").as("body_md5"))
            .localCheckpoint()
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // $VERSIONS PUSHDOWN (VERDICT r14 ask 4): the inventory face
    // prunes like every other face — a `shard =` predicate prunes at
    // the DIRECTORY level (unmatched shards never listed, proven by
    // the listing counter), `kind` prunes at the FILENAME level (and
    // skips segment-trailer reads), version bounds prune put/marker
    // rows by filename, and column pruning drops Files.size/trailer
    // I/O the projection doesn't need. All pushed filters stay
    // residual, so pruning is pure I/O savings. In-query invariants:
    // a single-shard probe lists EXACTLY ONE directory (counter,
    // not plan text) and its plan advertises shards=1; the per-kind
    // emitted fold matches DuckDB; q246's unfiltered inventory hash
    // (still in the registry) pins that pushdown changed nothing.
    "q258_cells_versions_pushdown" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q258-cells").toString
      try {
        // raw put backlog (threshold 0) — the inventory counts files
        graft.ingest.FileStore(root).ensureTable("q258",
          PushTableSink.TableSpec(compactionThreshold = 0))
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 6 === 0)
            .select(lit("q258").as("tableName"),
              expr("unhex(md5(concat('doc-', doc_id)))").as("rowkey"),
              expr("doc_id * 2 + 1").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'V')) as binary)").as("body")),
          root)
        Tables.documents(s, d).filter(col("doc_id") % 30 === 0)
          .select(expr("unhex(md5(concat('doc-', doc_id)))").as("rowkey"),
            expr("doc_id * 2 + 2").as("version"),
            lit("x".getBytes("UTF-8")).as("body"))
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q258").save()
        Tables.documents(s, d).filter(col("doc_id") % 60 === 0)
          .select(expr("unhex(md5(concat('doc-', doc_id)))").as("rowkey"),
            expr("doc_id * 2 + 1").as("version"),
            lit(Array.emptyByteArray).as("body"))
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q258")
          .option("tombstone", "true").save()
        withConf(s, cellsCatalog("g", root): _*) { s =>
          // the single-shard probe: doc-0 is a %6 key, its digest's
          // first byte IS its region
          val shardName = org.apache.commons.codec.digest.DigestUtils
            .md5Hex("doc-0").substring(0, 2)
          graft.sources.CellsVersions.shardsListed.set(0)
          val probe = s.sql("SELECT count(*) AS n FROM g.`q258$versions` " +
            s"WHERE shard = '$shardName'")
          val desc = probe.queryExecution.optimizedPlan.collectFirst {
            case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
              r.scan.description()
          }.getOrElse("")
          require(desc.contains("shards=1"), s"the shard predicate must reach the scan: $desc")
          require(probe.collect()(0).getLong(0) > 0, "the probed region holds files")
          require(graft.sources.CellsVersions.shardsListed.get() == 1,
            s"ONE directory listed out of the whole region set: ${graft.sources.CellsVersions.shardsListed.get()}")
          // the per-kind fold under a pushed kind filter
          val out = s.sql(
            s"""SELECT kind, count(*) AS files, min(min_version) AS min_v,
                       max(max_version) AS max_v
                FROM g.`q258$$versions`
                WHERE kind IN ('put', 'marker_bound') GROUP BY kind""")
            .localCheckpoint()
          require(out.count() >= 1, "at least one backlog kind present")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // TOP-N, VERSION-DESC SHAPE (VERDICT r14 ask 5): `ORDER BY rowkey
    // ASC, version DESC LIMIT k` — the HBase Get.readVersions(k)
    // serving scan (latest versions first within key order) — now
    // pushes ([[CellsScanBuilder.pushTopN]]'s second accepted shape).
    // A compacted shard streams (rowkey, version) ASC; all of one
    // key's versions precede any later key's in BOTH orders, so the
    // reader truncates on the first KEY CHANGE once ≥ k rows are out —
    // a bounded superset (≤ k + the last key's versions) the retained
    // TakeOrdered finalizes. Truncation stays read-time sorted-gated:
    // a put backlog falls back to full rows (spec-pinned). In-query
    // invariants: the scan carries `topK=10 vdesc`; the capped readers
    // emitted ≥ 10 but ≤ 12 rows (3 complete 4-version key groups)
    // out of a 4-versions-per-key table — far under the row count.
    "q259_cells_latest_k_versions" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q259-cells").toString
      try {
        // one bulk load ⇒ one sorted segment per shard (compacted form)
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
            .select(col("doc_id"), explode(array(lit(1), lit(2), lit(3), lit(4))).as("g"))
            .select(lit("q259").as("tableName"),
              expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              expr("doc_id * 8 + g").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'K', cast(g as string))) as binary)").as("body")),
          root)
        withConf(s, cellsCatalog("g", root): _*) { s =>
          val total = 4 * Tables.documents(s, d).filter(col("doc_id") % 5 === 0).count()
          graft.sources.CellsSource.cappedRowsEmitted.set(0)
          val top = s.sql(
            s"""SELECT cast(rowkey as string) AS key_str, version
                FROM g.q259 ORDER BY rowkey ASC, version DESC LIMIT 10""")
          val desc = top.queryExecution.optimizedPlan.collectFirst {
            case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
              r.scan.description()
          }.getOrElse("")
          require(desc.contains("topK=10 vdesc"),
            s"the DESC-version top-N must reach the scan: $desc")
          val out = top.localCheckpoint()
          val emitted = graft.sources.CellsSource.cappedRowsEmitted.get()
          require(emitted >= 10 && emitted <= 12 && emitted < total,
            s"key-group truncation: emitted $emitted of $total (expect 10..12)")
          out
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // STREAMING PROVENANCE (VERDICT r14 ask 3): Spark's streaming exec
    // does not thread DSv2 metadata columns (spec-pinned), so the CDC
    // consumer's provenance — which store file served each edit —
    // ships as `option("provenance","true")`: the SAME three columns
    // (`_shard`/`_file`/`_kind`), same reader, baked into the read
    // schema itself. Two AvailableNow drains over one checkpoint with
    // a restart between them: drain 1 delivers the seed puts (served
    // from their bulk segment), a second generation and a bare DELETE
    // land in between, drain 2 delivers exactly the new window with
    // the marker row typed AND provenanced (`_kind='marker_bound'`).
    // In-query invariants: exactly-once across the restart, every row
    // names a serving file, puts attribute to segments, markers to
    // marker files. The emitted (key, version, op, _kind) log hashes
    // against DuckDB.
    "q260_cells_stream_provenance" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q260-cells").toString
      val ck = Files.createTempDirectory("graft-q260-ck").toString
      val outDir = Files.createTempDirectory("graft-q260-out").toString + "/rows"
      try {
        withConf(s, cellsCatalog("g", root): _*) { s =>
          def seed(g: Int): Unit = BulkLoad.writeCells(
            Tables.documents(s, d).filter(col("doc_id") % 14 === 0)
              .select(lit("q260").as("tableName"),
                expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
                expr(s"$g * 1000000000 + doc_id").as("version"),
                expr(s"cast(md5(concat(cast(doc_id as string), 'P', '$g')) as binary)").as("body")),
            root)
          def drain(): Unit = {
            val q = s.readStream.format("graft-cells")
              .option("root", root).option("table", "q260")
              .option("changeFeed", "true").option("provenance", "true").load()
              .select(col("rowkey").cast("string").as("key_str"), col("version"),
                col("op"), col("_shard"), col("_file"), col("_kind"))
              .writeStream
              .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
                df.write.mode("append").parquet(outDir)
              }
              .option("checkpointLocation", ck)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
          seed(1)
          drain()
          val n14 = Tables.documents(s, d).filter(col("doc_id") % 14 === 0).count()
          require(s.read.parquet(outDir).count() == n14, "drain 1 = the seed window")
          seed(2)
          val delKeys = Tables.documents(s, d).filter(col("doc_id") % 42 === 0)
            .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).sorted
          val inList = delKeys
            .map(id => "X'" + s"doc-$id".getBytes("UTF-8").map(b => f"$b%02x").mkString + "'")
            .mkString("(", ", ", ")")
          s.sql(s"DELETE FROM g.q260 WHERE rowkey IN $inList") // bare: stamps gen-2 latest
          drain()
          val log = s.read.parquet(outDir).localCheckpoint()
          require(log.count() == 2 * n14 + delKeys.length,
            s"exactly-once across the restart: ${log.count()}")
          require(log.filter(col("_file") === "").count() == 0,
            "every streamed edit names its serving file")
          require(log.filter(col("op") === "put").select("_kind").distinct()
            .collect().map(_.getString(0)).toSet == Set("segment"),
            "bulk-seeded puts attribute to their segment")
          require(log.filter(col("op") === "delete").select("_kind").distinct()
            .collect().map(_.getString(0)).toSet == Set("marker_bound"),
            "markers attribute to their marker file")
          log.select(col("key_str"), col("version"), col("op"), col("_kind"))
            .localCheckpoint()
        }
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ck))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir).getParentFile)
      }
    },

    // CDC STATE VIEW — the delete-aware closure of the q143-class
    // materialized view as a FIRST-CLASS stateful streaming operator
    // ([[graft.streaming.CellStateView]]): the change feed's typed
    // edit log flows through flatMapGroupsWithState keyed on rowkey,
    // whose per-key state (live cells + delete bound, retention-
    // capped) IS the store's masked view maintained incrementally —
    // the HBase replication-consumer shape. In-query invariants: the
    // view's visible rows equal the masked batch face both ways, every
    // fully-deleted key emits exactly one retraction row
    // (deleted=true), and no visible row survives for a deleted key.
    // The emitted result is the view's visible set, so the driver hash
    // pins feed carriage ∘ state fold ∘ mask semantics ∘ retraction.
    // 100 TB: per-key state is bounded by maxVersions; the only
    // shuffle is keyed-state's hash exchange on rowkey; edits per
    // trigger are the watermark window, never the table.
    "q227_cells_cdc_state_view" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q227-cells").toString
      val ck = Files.createTempDirectory("graft-q227-ck")
      val sinkName = "q227_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
      try {
        def seed(v: Int): Unit = Tables.documents(s, d).filter(col("doc_id") % 25 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr(s"doc_id * 8 + $v").as("version"),
            expr(s"cast(md5(concat(cast(doc_id as string), '&', '$v')) as binary)").as("body"))
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q227").save()
        seed(1); seed(2); seed(3)
        // delete every third seeded key ABOVE all its versions: the
        // view must retract it entirely
        Tables.documents(s, d).filter(col("doc_id") % 75 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 8 + 4").as("version"),
            lit(Array.emptyByteArray).as("body")) // ignored by marker writes
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q227")
          .option("tombstone", "true").save()
        val feed = s.readStream.format("graft-cells")
          .option("root", root).option("table", "q227")
          .option("changeFeed", "true").load()
        val q = graft.streaming.CellStateView.view(feed)
          .toDF()
          .writeStream.format("memory").queryName(sinkName)
          .outputMode("update")
          .option("checkpointLocation", ck.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val out = s.table(sinkName)
          .select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"), col("deleted"))
          .localCheckpoint()
        s.catalog.dropTempView(sinkName)
        val deletedKeys = Tables.documents(s, d).filter(col("doc_id") % 75 === 0).count()
        val retractions = out.filter(col("deleted"))
        require(retractions.count() == deletedKeys && deletedKeys > 0,
          s"every fully-deleted key retracts exactly once: ${retractions.count()} vs $deletedKeys")
        val visible = out.filter(!col("deleted"))
          .select(col("key_str"), col("version"), col("body_md5"))
          .localCheckpoint()
        require(visible.join(retractions, Seq("key_str"), "left_semi").count() == 0,
          "no visible row survives for a retracted key")
        val masked = s.read.format("graft-cells")
          .option("root", root).option("table", "q227").load()
          .select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"))
          .localCheckpoint() // evaluated once, compared twice (the q195 note)
        sameRows(visible, masked, "the state view must equal the masked batch view")
        visible
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
        org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      }
    },

    // RUNTIME (join-driven) rowkey filtering — DSv2
    // SupportsRuntimeFiltering in the driver gate: joining a SELECTIVE
    // dimension against the cell table hands the dimension's key set
    // to the scan at run time (Spark's DPP machinery over the reused
    // broadcast), re-planning the scan to the probed keys' regions and
    // digests — the HBase batched-GET idiom, where a join against the
    // store is point reads, never a table scan. In-query invariants:
    // the physical plan carries `dynamicpruning` on the BatchScan, and
    // the join opens no more cell content than the dimension's key
    // count (+FP slack) — counted, not asserted from the plan alone.
    // 100 TB: this is the difference between scanning a 100 TB table
    // to join 10k keys and issuing 10k GETs.
    "q225_cells_runtime_filter_join" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q225-cells").toString
      try {
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 12 === 0)
            .select(lit("q225").as("tableName"),
              expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              col("doc_id").cast("long").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'J')) as binary)").as("body")),
          root)
        val cells = s.read.format("graft-cells")
          .option("root", root).option("table", "q225").load()
        // selective dimension straight off the parquet scan, so its
        // Filter survives into the optimized plan (the DPP trigger)
        val dim = Tables.documents(s, d).filter(col("doc_id") % 120 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("k"),
            col("source").as("dim_source"))
        val joined = cells.join(broadcast(dim), col("rowkey") === col("k"))
          .select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"), col("dim_source"))
        val plan = joined.queryExecution.executedPlan.toString
        require(plan.contains("dynamicpruning"),
          s"the cells scan must carry a join-driven runtime filter:\n$plan")
        val dimCount = dim.count()
        graft.sources.CellsSource.filesOpened.set(0)
        val res = joined.localCheckpoint()
        val opened = graft.sources.CellsSource.filesOpened.get()
        // two-sided: ≥ |dim| pins the BATCHED-GET plan itself (every
        // probed key costs one index-entry seek — a whole-segment
        // stream would count 1 open and pass a ≤-only bound
        // vacuously, which round 12 caught masking a real bug: the
        // reader factory captured pre-filter keys, so digest
        // narrowing never reached the executors); ≤ |dim|+8 bounds
        // the bloom false-positive slack
        require(opened >= dimCount && opened <= dimCount + 8,
          s"runtime-filtered join must read ~|dim| cells, opened=$opened dim=$dimCount")
        res
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // SEGMENT ROW BLOOM — the HBase BloomFilter analog in the driver
    // gate: every bulk segment carries a bloom over its distinct key
    // digests, and point reads consult it BEFORE any index load. The
    // in-query invariants count actual index I/O: a sweep of absent-key
    // probes (connector point GETs AND F5 existence checks) completes
    // with ZERO segment-index reads — the bloom answers off ~1.25 B/key
    // — while a present-key GET still returns its cell. The emitted
    // result is the full read-back, so the driver hash pins that the
    // bloom never drops a real cell. 100 TB: absent-key probes are the
    // common ingest-F5 case; without the bloom each one pays a 48 B/cell
    // index load per segment the cache has evicted.
    "q223_cells_bloom_point_get" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q223-cells").toString
      try {
        BulkLoad.writeCells(
          Tables.documents(s, d).filter(col("doc_id") % 21 === 0)
            .select(lit("q223").as("tableName"),
              expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
              col("doc_id").cast("long").as("version"),
              expr("cast(md5(concat(cast(doc_id as string), 'B')) as binary)").as("body")),
          root)
        def readTable = s.read.format("graft-cells")
          .option("root", root).option("table", "q223").load()
        val store = FileStore(root)
        val before = CellSegment.indexReads.get()
        (1 to 20).foreach { i =>
          require(readTable.filter(col("rowkey") === lit(s"absent-$i".getBytes("UTF-8")))
            .count() == 0, "absent key must read empty")
        }
        require(store.exists("q223", (1 to 20).map(i => PushTableSink.CellPut("q223",
          s"missing-$i".getBytes("UTF-8"), 1L, Array.emptyByteArray))).forall(_ == false),
          "absent cells must not exist")
        require(CellSegment.indexReads.get() == before,
          "absent-key probes must resolve off the ROW bloom with zero index reads")
        val hit = readTable.filter(col("rowkey") === lit("doc-21".getBytes("UTF-8"))).count()
        require(hit == 1, s"present-key point GET must pass the bloom: $hit")
        readTable
          .select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"))
          .localCheckpoint()
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // DELETE TOMBSTONES — the HBase Delete-marker model end to end:
    // every key carries versions 1-3 split across BOTH store-file
    // kinds (v1-v2 bulk segments, v3 per-cell puts), then every other
    // key takes a distributed delete at its v2 version through the
    // connector write face (option("tombstone","true")), masking that
    // key's v1 AND v2 at FILENAME level on the batch read face. The
    // emitted result is the masked view. In-query invariants beyond
    // the hash: major compaction PURGES masked cells and markers
    // without changing the logical view (exceptAll both ways), no
    // marker file survives it, and a re-put at a masked version is
    // visible AFTER the purge (the HBase resurrection semantics) while
    // the same re-put before it stays masked. 100 TB: deletes are
    // marker writes — no read-modify-write, no segment rewrite until
    // the next scheduled major.
    "q222_cells_delete_tombstones" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q222-cells").toString
      try {
        def seed(vLo: Int, vHi: Int) = Tables.documents(s, d).filter(col("doc_id") % 19 === 0)
          .select(col("doc_id"), explode(sequence(lit(vLo), lit(vHi))).as("v"))
          .select(lit("q222").as("tableName"),
            expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 8 + v").as("version"),
            expr("cast(md5(concat(cast(doc_id as string), '!', cast(v as string))) as binary)").as("body"))
        BulkLoad.writeCells(seed(1, 2), root)
        seed(3, 3).drop("tableName").write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q222").save()
        // distributed delete: mask versions <= v2 for every other key
        Tables.documents(s, d).filter(col("doc_id") % 38 === 0)
          .select(expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 8 + 2").as("version"),
            lit(Array.emptyByteArray).as("body")) // ignored by marker writes
          .write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q222")
          .option("tombstone", "true").save()
        def readTable = s.read.format("graft-cells")
          .option("root", root).option("table", "q222").load()
        val res = readTable
          .select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"))
          .localCheckpoint()
        // a re-put under a live marker stays masked (HBase: markers
        // mask later puts at covered versions until compacted away)
        val store = FileStore(root)
        val deletedKeys = Tables.documents(s, d).filter(col("doc_id") % 38 === 0)
          .select(col("doc_id").cast("long")).collect().map(_.getLong(0))
        require(deletedKeys.nonEmpty, "fixture must delete at least one key")
        val probe = deletedKeys.head
        def rePut(): Unit = store.putBatch("q222", Seq(PushTableSink.CellPut("q222",
          s"doc-$probe".getBytes("UTF-8"), probe * 8 + 1,
          org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$probe!1").getBytes("UTF-8"))))
        rePut()
        require(readTable.filter(col("version") === lit(probe * 8 + 1)).count() == 0,
          "a re-put at a masked version must stay masked while the marker lives")
        // major compaction: logical view unchanged, markers + masked
        // cells physically gone
        Compaction.major(s, root, "q222")
        val after = readTable.select(col("rowkey").cast("string").as("key_str"),
          col("version"), col("body").cast("string").as("body_md5"))
          .localCheckpoint() // evaluated once, compared twice (the q195 note)
        sameRows(after, res, "major compaction must not change the logical view")
        require(!segFiles(root, "q222").exists(n => ShardFiles.tombstoneOf(n).isDefined),
          "no delete marker survives a major compaction")
        rePut() // marker purged -> the old version resurrects
        require(readTable.filter(col("version") === lit(probe * 8 + 1)).count() == 1,
          "a re-put after the purge must be visible (resurrection)")
        res
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // MINOR compaction — the region-LOCAL half of the HBase compaction
    // model q194's major doesn't cover: per shard, the accumulated
    // per-cell put files and small segments merge into ONE fresh
    // sorted segment with NO Spark shuffle and NO retention (minor
    // compactions never GC versions — all 3 versions per key
    // survive), while segments above the size threshold are left
    // untouched. Since r15 the READ faces apply retention themselves,
    // so the no-GC proof runs on an uncapped table (a capped one would
    // mask at read regardless of what minor did — CompactionSpec pins
    // minor-under-cap against the raw store view); the flush policy is
    // off because the fixture IS a put backlog. In-query invariants:
    // the big first-generation segments survive by name, no put files
    // remain, and the cell population is EXACTLY the seeded one —
    // the driver hash pins merge ∘ no-GC ∘ threshold selection.
    "q219_cells_minor_compact" -> { (s, d) =>
      val root = Files.createTempDirectory("graft-q219-cells").toString
      try {
        val spec = PushTableSink.TableSpec(compactionThreshold = 0)
        def seed(vLo: Int, vHi: Int) = Tables.documents(s, d).filter(col("doc_id") % 31 === 0)
          .select(col("doc_id"), explode(sequence(lit(vLo), lit(vHi))).as("v"))
          .select(lit("q219").as("tableName"),
            expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 8 + v").as("version"),
            expr("cast(md5(concat(cast(doc_id as string), '@', cast(v as string))) as binary)").as("body"))
        // generation 1: one BIG segment per shard (bulk, above threshold)
        BulkLoad.writeCells(seed(1, 1), root, BulkLoad.Config(tableSpec = spec))
        // generation 2: per-cell put files through the connector face
        seed(2, 3).drop("tableName").write.format("graft-cells").mode("append")
          .option("root", root).option("table", "q219").save()
        val bigSegs = segFiles(root, "q219").filter(CellSegment.isSegment).toSet
        val report = Compaction.minor(s, root, "q219", maxInputBytes = 512)
        require(report.keptCells > 0 && report.removedFiles > 0, "minor must merge the put files")
        val after = segFiles(root, "q219")
        require(after.forall(CellSegment.isSegment), "no put files survive a minor compaction")
        require(bigSegs.subsetOf(after.toSet),
          "segments above the threshold are untouched by a minor compaction")
        s.read.format("graft-cells")
          .option("root", root).option("table", "q219").load()
          .select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"))
          .localCheckpoint()
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    },

    // RESPLIT migration — the q204 planner driving an actual layout
    // change: a DEFAULT-layout table whose keys all share one first
    // byte (every cell in ONE region) is measured with GlobalRank's
    // equi-depth boundaries, then rewritten under the planned 8-region
    // layout via Resplit (connector scan → one bulk shuffle keyed on
    // the NEW regions; DDL carried). In-query invariants: the source
    // really was single-region, the destination populates all 8
    // planned regions, a point GET on the new layout plans exactly 1
    // partition, and source ≡ destination cell-for-cell; the emitted
    // result reads the RESPLIT store, so the driver hash pins
    // plan ∘ migrate ∘ re-read.
    "q212_cells_resplit" -> { (s, d) =>
      import graft.operators.GlobalRank
      val srcRoot = Files.createTempDirectory("graft-q212-src").toString
      val dstRoot = Files.createTempDirectory("graft-q212-dst").toString
      try {
        val cells = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
          .select(lit("q212").as("tableName"),
            expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            col("doc_id").cast("long").as("version"),
            expr("cast(md5(concat(cast(doc_id as string), 'R')) as binary)").as("body"))
        BulkLoad.writeCells(cells, srcRoot) // default layout: 1 populated region
        require(segShardDirs(srcRoot, "q212").size == 1,
          "skewed keys under the default layout land in one region")
        // the q204 planner: 7 equi-depth boundaries off the live keys
        val keys = s.read.format("graft-cells")
          .option("root", srcRoot).option("table", "q212").load()
          .select(col("rowkey")).distinct()
        val n = keys.count()
        val targets = (1 to 7).map(i => i * n / 8)
        val points = GlobalRank.rank(keys, Seq(col("rowkey").asc), numParts = 8, rankCol = "rk")
          .filter(col("rk").isin(targets: _*))
          .select(col("rowkey")).collect().map(_.getAs[Array[Byte]](0)).toSeq
        Resplit.to(s, srcRoot, "q212", dstRoot, FileStore.Splits.ofSplitPoints(points))
        require(segShardDirs(dstRoot, "q212").size == 8,
          s"equi-depth boundaries must populate all 8 regions: ${segShardDirs(dstRoot, "q212")}")
        def readTable(root: String) = s.read.format("graft-cells")
          .option("root", root).option("table", "q212").load()
        val src = readTable(srcRoot).localCheckpoint() // the q195 note
        // dst stays a live SCAN: the point-GET probe below asserts the
        // new layout prunes to one region, which a checkpoint would hide
        val dst = readTable(dstRoot)
        sameRows(src, dst, "resplit must preserve the table cell-for-cell")
        val probe = dst.filter(col("rowkey") === lit("doc-5".getBytes("UTF-8")))
        require(CellsSource.plannedShards(probe).size == 1, "point GET plans one region on the new layout")
        dst.select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"))
          .localCheckpoint()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcRoot))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dstRoot))
      }
    },

    "q209_cells_backup_preserves_ddl" -> { (s, d) =>
      val srcRoot = Files.createTempDirectory("graft-q209-src").toString
      val bakDir = Files.createTempDirectory("graft-q209-bak").toString
      val dstRoot = Files.createTempDirectory("graft-q209-dst").toString
      try {
        val spec = PushTableSink.TableSpec(maxVersions = 2)
        val points = (1 to 9).map(i => s"doc-$i".getBytes("UTF-8"))
        def batch(vLo: Int, vHi: Int) = Tables.documents(s, d).filter(col("doc_id") % 29 === 0)
          .select(col("doc_id"), explode(sequence(lit(vLo), lit(vHi))).as("v"))
          .select(lit("q209").as("tableName"),
            expr("cast(concat('doc-', doc_id) as binary)").as("rowkey"),
            expr("doc_id * 8 + v").as("version"),
            expr("cast(md5(concat(cast(doc_id as string), '%', cast(v as string))) as binary)").as("body"))
        BulkLoad.writeCells(batch(1, 2), srcRoot,
          BulkLoad.Config(tableSpec = spec, splitPoints = points))
        graft.ingest.Backup.full(s, srcRoot, "q209", bakDir)
        graft.ingest.Backup.restore(s, bakDir, dstRoot)
        val srcStore = FileStore(srcRoot)
        val dstStore = FileStore(dstRoot)
        require(srcStore.readSpecJson("q209").isDefined &&
          dstStore.readSpecJson("q209") == srcStore.readSpecJson("q209"),
          "restore must carry the table DDL byte-identically")
        require(dstStore.splitsOf("q209").toJson == srcStore.splitsOf("q209").toJson,
          "restore must carry the split layout")
        require(segShardDirs(dstRoot, "q209") == segShardDirs(srcRoot, "q209"),
          "restored shard layout must match the source")
        // third version through the restored store's own write face,
        // then retention via compaction OF THE RESTORED TABLE — only a
        // carried maxVersions=2 prunes v1
        batch(3, 3).drop("tableName").write.format("graft-cells").mode("append")
          .option("root", dstRoot).option("table", "q209").save()
        Compaction.major(s, dstRoot, "q209")
        s.read.format("graft-cells")
          .option("root", dstRoot).option("table", "q209").load()
          .select(col("rowkey").cast("string").as("key_str"), col("version"),
            col("body").cast("string").as("body_md5"))
          .localCheckpoint()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcRoot))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bakDir))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dstRoot))
      }
    }
  )

  val oracle: Map[String, String] = Map(
    // the retained slice: newest 3 of versions 1..5 per key = v in 3..5
    "q194_cells_major_compact" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 8 + v)::BIGINT AS version,
              md5(doc_id::VARCHAR || '-' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([3, 4, 5]) AS v)
         WHERE doc_id % 11 = 0""",
    "q195_cells_backup_restore" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 4 + v)::BIGINT AS version,
              md5(doc_id::VARCHAR || '~' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2]) AS v)
         WHERE doc_id % 13 = 0""",

    // hex(md5) sorts identically to the digest bytes, so ranking the
    // lowercase digest string IS the binary-key total order
    "q204_split_points" ->
      """WITH k AS (SELECT md5('doc-' || doc_id) AS kh FROM documents),
          r AS (SELECT kh, row_number() OVER (ORDER BY kh) AS rk,
                  count(*) OVER () AS n
                FROM k)
         SELECT rk::BIGINT AS boundary_rank, upper(kh) AS split_key_hex
         FROM r
         WHERE rk IN (SELECT (i * (SELECT count(*) FROM k)) // 16
                      FROM (SELECT unnest(range(1, 16)) AS i))""",

    // the masked view: every other key's batch-1 cell is deleted
    // between full and incremental — the restore must NOT resurrect it
    "q205_cells_incremental_backup" ->
      """SELECT 'doc-' || doc_id AS key_str, (v * 1000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || '+' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2]) AS v)
         WHERE doc_id % 17 = 0 AND NOT (doc_id % 34 = 0 AND v = 1)""",

    "q207_cells_split_bulk_load" ->
      """SELECT 'doc-' || doc_id AS key_str, doc_id::BIGINT AS version,
              md5(doc_id::VARCHAR) AS body_md5
         FROM documents WHERE doc_id % 7 = 0""",

    // retained slice (newest 2 of 3) plus the surviving racing cell
    "q208_cells_compaction_race" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 8 + v)::BIGINT AS version,
              md5(doc_id::VARCHAR || '#' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([2, 3]) AS v)
         WHERE doc_id % 23 = 0
         UNION ALL SELECT 'doc-race', 1::BIGINT, md5('race')""",

    // latest A version (v=2) joined to B's only version over B's keys;
    // every 12th key is fully delete-masked on A and drops out
    "q211_cells_colocated_join" ->
      """SELECT 'doc-' || doc_id AS key_str,
              (doc_id * 2 + 2)::BIGINT AS version_a,
              md5(doc_id::VARCHAR || 'A2') AS body_a_md5,
              (doc_id * 2 + 1)::BIGINT AS version_b,
              md5(doc_id::VARCHAR || 'B1') AS body_b_md5
         FROM documents WHERE doc_id % 6 = 0 AND doc_id % 12 != 0""",

    "q221_cells_stream_enrich" ->
      """SELECT e.user_id::BIGINT AS user_id, epoch_ms(e.ts)::BIGINT AS ts_ms,
              e.event_type, md5(e.user_id::VARCHAR || 'S') AS state_md5
         FROM events e JOIN customer c ON e.user_id = c.c_custkey""",

    // the MV after applying the feed's deletes: every third seeded key
    // (%45) is fully masked; survivors keep both versions
    "q226_cells_change_feed_mv" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 4 + v)::BIGINT AS version,
              md5(doc_id::VARCHAR || '^' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2]) AS v)
         WHERE doc_id % 15 = 0 AND doc_id % 45 != 0""",

    // the Catalyst-planned co-located join over the %28 ⊂ %14 keys
    "q228_cells_storage_partitioned_join" ->
      """SELECT 'doc-' || doc_id AS key_str,
              (doc_id + 1)::BIGINT AS version_a,
              md5(doc_id::VARCHAR || 'SA') AS body_a_md5,
              (doc_id + 2)::BIGINT AS version_b,
              md5(doc_id::VARCHAR || 'SB') AS body_b_md5
         FROM documents WHERE doc_id % 28 = 0""",

    // the VERSION AS OF snapshot = exactly the first batch
    "q229_cells_sql_time_travel" ->
      """SELECT 'doc-' || doc_id AS key_str, (1000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'T' || '1') AS body_md5
         FROM documents WHERE doc_id % 16 = 0""",

    // the typed edit log: both put generations plus the delete markers
    "q230_cells_sql_changes" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 4 + v)::BIGINT AS version,
              'put' AS op
         FROM documents, (SELECT unnest([1, 2]) AS v)
         WHERE doc_id % 22 = 0
         UNION ALL
         SELECT 'doc-' || doc_id, (doc_id * 4 + 3)::BIGINT, 'delete'
         FROM documents WHERE doc_id % 44 = 0""",

    // the masked view after both DELETE statements: %52 keys lose
    // batch 1 (bounded delete), %104 keys vanish entirely (bare)
    "q231_cells_sql_delete" ->
      """SELECT 'doc-' || doc_id AS key_str, (v * 1000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || '/' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2]) AS v)
         WHERE doc_id % 26 = 0
           AND NOT (doc_id % 52 = 0 AND v = 1)
           AND doc_id % 104 != 0""",

    // the serving view: one row per surviving key (%54 keys fully
    // masked), at its LATEST version (v=2)
    "q232_cells_sql_latest" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 4 + 2)::BIGINT AS version,
              md5(doc_id::VARCHAR || '~' || '2') AS body_md5
         FROM documents WHERE doc_id % 18 = 0 AND doc_id % 54 != 0""",

    // current-state ⋈ current-state over the %32 ⊂ %16 keys: each
    // side's latest (g=1) body, one row per key
    "q233_cells_latest_spj_join" ->
      """SELECT 'doc-' || doc_id AS key_str,
              (doc_id * 4 + 2)::BIGINT AS version_a,
              md5(doc_id::VARCHAR || 'LA' || '1') AS body_a_md5,
              (doc_id * 4 + 6)::BIGINT AS version_b,
              md5(doc_id::VARCHAR || 'LB' || '1') AS body_b_md5
         FROM documents WHERE doc_id % 32 = 0""",

    // the merged table: untouched target keys (%24 ∧ ¬%48) keep v1/'O';
    // updated ∪ inserted (%16 ∧ ¬%96) carry v2/'N'; %96 keys deleted
    "q234_cells_sql_merge" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 4 + 1)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'O') AS body_md5
         FROM documents WHERE doc_id % 24 = 0 AND doc_id % 48 != 0
         UNION ALL
         SELECT 'doc-' || doc_id, (doc_id * 4 + 2)::BIGINT,
              md5(doc_id::VARCHAR || 'N')
         FROM documents WHERE doc_id % 16 = 0 AND doc_id % 96 != 0""",

    // after both updates: v1 cells keep their coordinate with patched
    // bodies; v2 cells moved up 1e9 with bodies unchanged
    "q235_cells_sql_update" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 4 + 1)::BIGINT AS version,
              md5('doc-' || doc_id::VARCHAR || 'P') AS body_md5
         FROM documents WHERE doc_id % 20 = 0
         UNION ALL
         SELECT 'doc-' || doc_id, (doc_id * 4 + 2 + 1000000000)::BIGINT,
              md5(doc_id::VARCHAR || 'W' || '2')
         FROM documents WHERE doc_id % 20 = 0""",

    // after ALTER maxVersions=1 + major: exactly the newest (v=3) cell
    // per seeded key
    "q236_cells_sql_alter_retention" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 4 + 3)::BIGINT AS version,
              md5(doc_id::VARCHAR || '|' || '3') AS body_md5
         FROM documents WHERE doc_id % 21 = 0""",

    // both drained windows: two put generations plus the bare-delete
    // markers stamped at each %51 key's latest (v=2)
    "q237_cells_catalog_stream" ->
      """SELECT 'doc-' || doc_id AS key_str, (v * 1000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || '>' || v::VARCHAR) AS body_md5, 'put' AS op
         FROM documents, (SELECT unnest([1, 2]) AS v)
         WHERE doc_id % 17 = 0
         UNION ALL
         SELECT 'doc-' || doc_id, (2000000000 + doc_id)::BIGINT, NULL, 'delete'
         FROM documents WHERE doc_id % 51 = 0""",

    // the converged replica = the source's masked view: %57 keys fully
    // masked (bare delete at their latest), survivors keep both gens
    "q238_cells_cdc_replication" ->
      """SELECT 'doc-' || doc_id AS key_str, (v * 1000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || '*' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2]) AS v)
         WHERE doc_id % 19 = 0 AND doc_id % 57 != 0""",

    // after the overwrite: exactly the new generation, old markers gone
    "q239_cells_sql_insert_overwrite" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 4 + 1)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'NEW') AS body_md5
         FROM documents WHERE doc_id % 33 = 0""",

    // post-TTL-major: recent (%26) keys keep the recent version; keys
    // with only the expired generation (%13 ∧ ¬%26) keep their latest
    "q240_cells_sql_ttl_ddl" ->
      """SELECT 'doc-' || doc_id AS key_str, doc_id::BIGINT AS version,
              md5(doc_id::VARCHAR || 'T1') AS body_md5
         FROM documents WHERE doc_id % 13 = 0 AND doc_id % 26 != 0
         UNION ALL
         SELECT 'doc-' || doc_id, (5000000 + doc_id)::BIGINT,
              md5(doc_id::VARCHAR || 'T2')
         FROM documents WHERE doc_id % 26 = 0""",

    // the DDL-presplit join over the %28 ⊂ %14 keys
    "q241_cells_sql_presplit_join" ->
      """SELECT 'doc-' || doc_id AS key_str,
              (doc_id * 2 + 1)::BIGINT AS version_a,
              md5(doc_id::VARCHAR || 'PA') AS body_a_md5,
              (doc_id * 2 + 2)::BIGINT AS version_b,
              md5(doc_id::VARCHAR || 'PB') AS body_b_md5
         FROM documents WHERE doc_id % 28 = 0""",

    // after CALL compact_major under maxVersions=2: newest 2 of 3 per key
    "q242_cells_sql_call_maintenance" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 8 + v)::BIGINT AS version,
              md5(doc_id::VARCHAR || '=' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([2, 3]) AS v)
         WHERE doc_id % 15 = 0""",

    // the fact (%7) enriched with each surviving (%21 ∧ ¬%63) key's
    // current state (v=2)
    "q243_cells_latest_broadcast_enrich" ->
      """SELECT 'doc-' || doc_id AS key_str, doc_id::BIGINT AS doc_id,
              (doc_id * 4 + 2)::BIGINT AS state_version,
              md5(doc_id::VARCHAR || '$' || '2') AS state_md5
         FROM documents WHERE doc_id % 21 = 0 AND doc_id % 63 != 0""",

    // the live-cell fold the pushed aggregates computed from metadata:
    // %8 keys keep v2 always and v1 unless %40-masked; %30 puts add v3
    "q244_cells_agg_pushdown" ->
      """WITH live AS (
           SELECT doc_id, (doc_id*10+1)::BIGINT AS v FROM documents
            WHERE doc_id % 8 = 0 AND doc_id % 40 <> 0
           UNION ALL SELECT doc_id, (doc_id*10+2)::BIGINT FROM documents WHERE doc_id % 8 = 0
           UNION ALL SELECT doc_id, (doc_id*10+3)::BIGINT FROM documents WHERE doc_id % 30 = 0)
         SELECT count(*)::BIGINT AS n_cells, min(v)::BIGINT AS min_v, max(v)::BIGINT AS max_v,
                (SELECT count(DISTINCT doc_id) FROM live)::BIGINT AS n_latest
         FROM live""",

    // the sort-free co-located merge join: %32 ⊂ %16, one version each
    "q245_cells_sorted_merge_join" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id*2+1)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'SA') AS body_a_md5,
              md5(doc_id::VARCHAR || 'SB') AS body_b_md5
         FROM documents WHERE doc_id % 32 = 0""",

    // the store-file inventory per kind: segment files = populated
    // regions (distinct first digest bytes), puts/markers one file per
    // (key, version); empty kinds emit no group on either side
    "q246_cells_versions_inventory" ->
      """WITH base AS (SELECT doc_id, md5('doc-' || doc_id::VARCHAR) AS h FROM documents)
         SELECT * FROM (
           SELECT 'segment' AS kind, count(DISTINCT substr(h,1,2))::BIGINT AS files,
                  count(*)::BIGINT AS cells, count(*)::BIGINT AS dkeys,
                  min(doc_id*2+1)::BIGINT AS min_v, max(doc_id*2+1)::BIGINT AS max_v,
                  1::BIGINT AS max_seq
           FROM base WHERE doc_id % 6 = 0
           UNION ALL
           SELECT 'put', count(*)::BIGINT, count(*)::BIGINT, NULL::BIGINT,
                  min(doc_id*2+2)::BIGINT, max(doc_id*2+2)::BIGINT, NULL::BIGINT
           FROM base WHERE doc_id % 30 = 0
           UNION ALL
           SELECT 'marker_bound', count(*)::BIGINT, 0::BIGINT, NULL::BIGINT,
                  min(doc_id*2+1)::BIGINT, max(doc_id*2+1)::BIGINT, NULL::BIGINT
           FROM base WHERE doc_id % 60 = 0
           UNION ALL
           SELECT 'marker_exact', count(*)::BIGINT, 0::BIGINT, NULL::BIGINT,
                  min(doc_id*2+2)::BIGINT, max(doc_id*2+2)::BIGINT, NULL::BIGINT
           FROM base WHERE doc_id % 90 = 0)
         WHERE files > 0""",

    // the deterministic top-20 under the store's binary key order
    // (ASCII 'doc-<id>' bytes order exactly like the varchar)
    "q247_cells_limit_pushdown" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id*2+1)::BIGINT AS version
         FROM documents WHERE doc_id % 4 = 0
         ORDER BY key_str LIMIT 20""",

    // replica ≡ source after the declarative replication loop: %69
    // keys fully deleted (bound marker at the gen-2 latest), %115
    // keys lose only generation 2 (exact marker)
    "q248_cells_streaming_sink_replication" ->
      """SELECT 'doc-' || doc_id AS key_str, (v * 1000000000)::BIGINT AS version,
              md5(doc_id::VARCHAR || '~' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2]) AS v)
         WHERE doc_id % 23 = 0 AND doc_id % 69 != 0
           AND NOT (doc_id % 115 = 0 AND v = 2)""",

    // vacuum never touches live data: the table's masked view is the
    // untouched fixture
    "q249_cells_vacuum" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 3 + 1)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'VAC') AS body_md5
         FROM documents WHERE doc_id % 11 = 0""",

    // post-truncate reload: exactly generation 2, the old markers gone
    "q250_cells_sql_truncate" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 5 + 2)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'NEW') AS body_md5
         FROM documents WHERE doc_id % 13 = 0""",

    // the batched point GET's payload: %85 ⊂ %17 (= 5·17), one
    // version each — the rowkey itself is engine-derived and not
    // echoed (DuckDB has no CRC32-BE ++ canonical-JSON)
    "q251_cells_sql_rowkey_function" ->
      """SELECT (doc_id * 7 + 1)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'RK') AS body_md5
         FROM documents WHERE doc_id % 85 = 0""",

    // the provenance audit: segment rows = %6 cells over their
    // populated regions (distinct first digest byte = one segment
    // each); put rows = %30 cells, one file per cell
    "q252_cells_metadata_columns" ->
      """WITH base AS (SELECT doc_id, md5('doc-' || doc_id::VARCHAR) AS h FROM documents)
         SELECT 'segment' AS kind, count(*)::BIGINT AS n,
                count(DISTINCT substr(h,1,2))::BIGINT AS files
         FROM base WHERE doc_id % 6 = 0
         UNION ALL
         SELECT 'put', count(*)::BIGINT, count(*)::BIGINT
         FROM base WHERE doc_id % 30 = 0""",

    // the namespaced table's content, untouched by the sibling
    // namespace's lifecycle
    "q253_cells_namespaces" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 9 + 1)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'NS') AS body_md5
         FROM documents WHERE doc_id % 29 = 0""",

    // the first 25 live winners in key order (ASCII 'doc-<id>' binary
    // order == varchar order), one winner per key (max version = g=2)
    "q254_cells_latest_topn" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 2 + 2)::BIGINT AS version
         FROM documents WHERE doc_id % 7 = 0
         ORDER BY key_str LIMIT 25""",

    // the MV's final state: one row per %27 key; %54 keys saw both
    // generations (count 2), the rest one
    "q255_cells_streaming_upsert_mv" ->
      """SELECT 'doc-' || doc_id AS key_str,
              (CASE WHEN doc_id % 54 = 0 THEN 2 ELSE 1 END)::VARCHAR AS edit_count
         FROM documents WHERE doc_id % 27 = 0""",

    // the read-time-retained view, identical before and after the
    // major: A (%9) keeps g3 (rank+TTL kill the rest), B (%10=5 ∧ ¬%9)
    // keeps g2 by the minVersions floor, C (%11=3 ∧ ¬A ∧ ¬B) keeps
    // its newest two live gens (cap kills the third)
    "q256_cells_read_time_retention" ->
      """SELECT 'doc-' || doc_id AS key_str, (3000000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'R3') AS body_md5
         FROM documents WHERE doc_id % 9 = 0
         UNION ALL
         SELECT 'doc-' || doc_id, (2000000000000 + doc_id)::BIGINT,
              md5(doc_id::VARCHAR || 'R2')
         FROM documents WHERE doc_id % 10 = 5 AND doc_id % 9 <> 0
         UNION ALL
         SELECT 'doc-' || doc_id, (4000000000000 + doc_id)::BIGINT,
              md5(doc_id::VARCHAR || 'C4')
         FROM documents WHERE doc_id % 11 = 3 AND doc_id % 9 <> 0 AND doc_id % 10 <> 5
         UNION ALL
         SELECT 'doc-' || doc_id, (3000000000000 + doc_id)::BIGINT,
              md5(doc_id::VARCHAR || 'C3')
         FROM documents WHERE doc_id % 11 = 3 AND doc_id % 9 <> 0 AND doc_id % 10 <> 5""",

    // three generations per %4 key across a merge and a re-split —
    // region lifecycle ops move directory names, never cells; the
    // absorbed region's marker keeps masking its keys' gen-1
    "q266_cells_region_merge" ->
      """SELECT 'doc-' || doc_id AS key_str,
              (g::BIGINT * 1000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'M' || g::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2, 3]) AS g)
         WHERE doc_id % 4 = 0
           AND NOT (g = 1 AND doc_id % 44 = 0 AND doc_id % 10 = 4)""",

    // three put generations replicated exactly-once across a
    // mid-merge feed and a mid-split sink — the lifecycle races ride
    // the require()s, the final view is pure puts
    "q269_cells_stream_lifecycle_race" ->
      """SELECT 'doc-' || doc_id AS key_str,
              (g::BIGINT * 1000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'L' || g::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2, 3]) AS g)
         WHERE doc_id % 8 = 0""",

    // each surviving key = its seed plus the three-append chain (the
    // chain is order-deterministic: one task per key); %26 keys went
    // by value-checked delete — the concurrency pins ride the
    // require()s, the race keys are filtered out by the LIKE
    "q267_cells_check_delete_append" ->
      """SELECT 'app-' || doc_id AS key_str,
              'S' || doc_id || '-x-y-z' AS body
         FROM documents
         WHERE doc_id % 13 = 0 AND doc_id < 2000 AND doc_id % 26 != 0""",

    // the restored view: exactly generation 1 (both divergences — the
    // gen-2 wave, the exact delete, the GC major, the gen-4 wave —
    // undone by restore) plus the post-restore gen-3 wave
    "q268_cells_restore_snapshot" ->
      """SELECT 'doc-' || doc_id AS key_str,
              (1000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'R1') AS body_md5
         FROM documents WHERE doc_id % 7 = 0
         UNION ALL
         SELECT 'doc-' || doc_id, (3000000000 + doc_id)::BIGINT,
              md5(doc_id::VARCHAR || 'R3')
         FROM documents WHERE doc_id % 21 = 0""",

    // each counter = its three increments, none lost — the concurrency
    // pin rides the require()s; the value is all the oracle needs
    "q265_cells_atomic_mutations" ->
      """SELECT 'ctr-' || doc_id AS key_str, (3 * (doc_id % 5 + 1))::BIGINT AS value
         FROM documents WHERE doc_id % 11 = 0 AND doc_id < 2000""",

    // the clone's masked view: the pinned three generations, minus the
    // clone-local delete of doc-9's two oldest, plus the clone-local
    // gen-9 — the live table's GC and the snapshot drop contribute
    // nothing (independence is the point)
    "q264_cells_snapshot_clone" ->
      """SELECT 'doc-' || doc_id AS key_str,
              (g::BIGINT * 1000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'S' || g::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2, 3]) AS g)
         WHERE doc_id % 9 = 0 AND NOT (doc_id = 9 AND g IN (1, 2))
         UNION ALL
         SELECT 'doc-' || doc_id, (9000000000 + doc_id)::BIGINT,
              md5(doc_id::VARCHAR || 'S9')
         FROM documents WHERE doc_id % 36 = 0""",

    // the last 10 rows under (rowkey DESC, version DESC) — the
    // reverse-scan serving shape; the top key's newest version is
    // masked by the exact marker, so the walk serves its older
    // versions and the next keys ('doc-…' ASCII order == VARCHAR)
    "q263_cells_reverse_scan" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 4 + g)::BIGINT AS version
         FROM documents, (SELECT unnest([1, 2, 3]) AS g)
         WHERE doc_id % 6 = 0
           AND NOT (g = 3 AND 'doc-' || doc_id =
             (SELECT max('doc-' || d2.doc_id) FROM documents d2 WHERE d2.doc_id % 6 = 0))
         ORDER BY key_str DESC, version DESC LIMIT 10""",

    // the CTAS content carried through the self-referential RTAS:
    // versions lifted one generation, bodies unchanged; the two
    // poisoned statements contributed nothing
    "q262_cells_ctas_rtas" ->
      """SELECT 'doc-' || doc_id AS key_str, (2000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'C1') AS body_md5
         FROM documents WHERE doc_id % 8 = 0""",

    // three generations per %7 key, split across however many regions
    // the policy carved — splitting moves bytes between DIRECTORIES,
    // never changes the view; %21 keys' gen-1 stays masked by the
    // pre-split marker on whichever side of the boundaries it landed
    "q261_cells_auto_region_split" ->
      """SELECT 'doc-' || doc_id AS key_str,
              (g::BIGINT * 1000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'G' || g::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2, 3]) AS g)
         WHERE doc_id % 7 = 0 AND NOT (doc_id % 21 = 0 AND g = 1)""",

    // four generations per %13 key — three INSERT waves plus the
    // streaming-sink drain; the flush policy moves bytes between
    // store-file kinds, never changes the view
    "q257_cells_auto_flush_policy" ->
      """SELECT 'doc-' || doc_id AS key_str, (g::BIGINT * 1000000000 + doc_id)::BIGINT AS version,
              md5(doc_id::VARCHAR || 'F' || g::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2, 3, 4]) AS g)
         WHERE doc_id % 13 = 0""",

    // the pushed-kind inventory fold: puts %30 (one file per cell,
    // threshold 0), bound markers %60; empty kinds emit no group
    "q258_cells_versions_pushdown" ->
      """SELECT * FROM (
           SELECT 'marker_bound' AS kind, count(*)::BIGINT AS files,
                  min(doc_id*2+1)::BIGINT AS min_v, max(doc_id*2+1)::BIGINT AS max_v
           FROM documents WHERE doc_id % 60 = 0
           UNION ALL
           SELECT 'put', count(*)::BIGINT, min(doc_id*2+2)::BIGINT, max(doc_id*2+2)::BIGINT
           FROM documents WHERE doc_id % 30 = 0) t
         WHERE files > 0""",

    // the first 10 rows under (rowkey ASC, version DESC) — the
    // latest-k-versions serving order ('doc-<id>' ASCII order == the
    // varchar order)
    "q259_cells_latest_k_versions" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 8 + g)::BIGINT AS version
         FROM documents, (SELECT unnest([1, 2, 3, 4]) AS g)
         WHERE doc_id % 5 = 0
         ORDER BY key_str ASC, version DESC LIMIT 10""",

    // both provenanced drain windows: two put generations served from
    // their bulk segments plus the bare-delete markers at gen-2
    "q260_cells_stream_provenance" ->
      """SELECT 'doc-' || doc_id AS key_str, (g * 1000000000 + doc_id)::BIGINT AS version,
              'put' AS op, 'segment' AS _kind
         FROM documents, (SELECT unnest([1, 2]) AS g)
         WHERE doc_id % 14 = 0
         UNION ALL
         SELECT 'doc-' || doc_id, (2000000000 + doc_id)::BIGINT, 'delete', 'marker_bound'
         FROM documents WHERE doc_id % 42 = 0""",

    // the state view's visible set = the masked view: deleted keys
    // (%75) gone entirely, survivors keep all three versions
    "q227_cells_cdc_state_view" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 8 + v)::BIGINT AS version,
              md5(doc_id::VARCHAR || '&' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2, 3]) AS v)
         WHERE doc_id % 25 = 0 AND doc_id % 75 != 0""",

    // the joined latest-state over the dimension's keys (%120 ⊂ %12)
    "q225_cells_runtime_filter_join" ->
      """SELECT 'doc-' || doc_id AS key_str, doc_id::BIGINT AS version,
              md5(doc_id::VARCHAR || 'J') AS body_md5, source AS dim_source
         FROM documents WHERE doc_id % 120 = 0""",

    // the bloom never drops a real cell: read-back = the seeded slice
    "q223_cells_bloom_point_get" ->
      """SELECT 'doc-' || doc_id AS key_str, doc_id::BIGINT AS version,
              md5(doc_id::VARCHAR || 'B') AS body_md5
         FROM documents WHERE doc_id % 21 = 0""",

    // masked view: deleted keys (doc_id % 38 = 0) keep only v3; the
    // marker at v2 masks v1 and v2
    "q222_cells_delete_tombstones" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 8 + v)::BIGINT AS version,
              md5(doc_id::VARCHAR || '!' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2, 3]) AS v)
         WHERE doc_id % 19 = 0 AND (doc_id % 38 != 0 OR v = 3)""",

    // minor compaction never GCs: every seeded version survives
    "q219_cells_minor_compact" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 8 + v)::BIGINT AS version,
              md5(doc_id::VARCHAR || '@' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([1, 2, 3]) AS v)
         WHERE doc_id % 31 = 0""",

    // resplit preserves content exactly — the slice is the seed
    "q212_cells_resplit" ->
      """SELECT 'doc-' || doc_id AS key_str, doc_id::BIGINT AS version,
              md5(doc_id::VARCHAR || 'R') AS body_md5
         FROM documents WHERE doc_id % 5 = 0""",

    // only a restored maxVersions=2 leaves exactly v2 and v3 per key
    "q209_cells_backup_preserves_ddl" ->
      """SELECT 'doc-' || doc_id AS key_str, (doc_id * 8 + v)::BIGINT AS version,
              md5(doc_id::VARCHAR || '%' || v::VARCHAR) AS body_md5
         FROM documents, (SELECT unnest([2, 3]) AS v)
         WHERE doc_id % 29 = 0"""
  )
}
