package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Region-aligned, SHUFFLE-FREE equi-join of two cell tables — the
  * storage-side analog of Spark's bucketed join, and the join shape an
  * HBase deployment gets from co-located region scans: when two tables
  * share a [[graft.ingest.FileStore.Splits]] layout, the shard named N
  * in table A holds EXACTLY the key range of the shard named N in
  * table B, so a rowkey equi-join decomposes into independent
  * per-region joins with no exchange anywhere — each task reads two
  * aligned shard directories through the connector's own read face
  * ([[CellsReaders]]: filename pruning, segment merge, (key, version)
  * dedup) and hash-joins them in memory.
  *
  * Why not a DataFrame join: a FORMAT-based read (`spark.read.format
  * ("graft-cells")`) has no FunctionCatalog to resolve a partition
  * transform against, so its scan reports unknown partitioning and
  * `dfA.join(dfB, "rowkey")` pays a full shuffle of both sides. The
  * CATALOG face closes that gap declaratively — [[CellsCatalog]]'s
  * scans report KeyGroupedPartitioning and Catalyst plans the
  * zero-exchange join itself (q228/q233), which is the preferred path;
  * this operator remains the imperative analog for non-catalog reads
  * and as the latest⋈latest reference implementation
  * (CellsCatalogSpec pins `joinLatest` ≡ the SQL `$latest` join).
  *
  * Semantics: join of each table's LATEST version per rowkey (the
  * HBase read-your-current-state view), through the MASKED read path —
  * a delete tombstone removes its key's covered versions from the
  * latest-state map exactly as it does from the batch face
  * ([[CellsReaders.reader]] defaults `maskDeletes = true`;
  * ColocatedCellsSpec pins a key whose latest version is masked back
  * to an older one AND a fully-masked key dropping out). `joinType`
  * extends the face to `left`/`full` outer — the reconciliation shapes
  * (which keys exist only on one side?) — with the absent side's
  * columns null. Region planning follows the join type: inner plans
  * only co-populated regions, left plans A's, full plans the union
  * (directory-level join pruning either way).
  *
  * 100 TB: memory per task is two REGION-sized maps — bounded by the
  * split layout, the same knob that bounds an HBase region; a hot
  * range splits finer ([[graft.ingest.BulkLoad.Config.splitPoints]],
  * q204's planner) and task memory follows. The planned regions run in
  * the tasks of [[graft.ingest.RegionJobs.plan]], one region at a time.
  */
object ColocatedCells {

  // a/b columns nullable: the outer faces emit null for an absent side
  val OutSchema: StructType = StructType(Seq(
    StructField("rowkey", BinaryType, nullable = false),
    StructField("version_a", LongType, nullable = true),
    StructField("body_a", BinaryType, nullable = true),
    StructField("version_b", LongType, nullable = true),
    StructField("body_b", BinaryType, nullable = true)))

  def joinLatest(spark: SparkSession, root: String, tableA: String, tableB: String,
                 joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left", "full").contains(joinType),
      s"joinType must be inner | left | full, got $joinType")
    val store = graft.ingest.FileStore(root)
    require(store.splitsOf(tableA).toJson == store.splitsOf(tableB).toJson,
      s"co-located join requires identical split layouts: $tableA vs $tableB")

    def shardNames(t: String): Set[String] =
      graft.ingest.ShardFiles.regions(Paths.get(root, t.replace(':', '~')))
        .map(_.getFileName.toString).toSet
    // directory-level join pruning per join type: a region empty on a
    // REQUIRED side can contribute no row
    val (aShards, bShards) = (shardNames(tableA), shardNames(tableB))
    val shards = (joinType match {
      case "inner" => aShards intersect bShards
      case "left" => aShards
      case "full" => aShards union bShards
    }).toSeq.sorted

    val cols = Array("rowkey", "version", "body")
    // read-time retention rides the same reader ([[graft.ingest.
    // Retention]]): a capped/TTL'd side serves the same masked view
    // here as through the connector (clock snapshotted once, driver-
    // side, so every shard task evaluates one instant)
    val now = System.currentTimeMillis()
    val retA = graft.ingest.Retention.of(root, tableA, now)
    val retB = graft.ingest.Retention.of(root, tableB, now)
    val weighed = shards.map(shard => shard -> Seq(tableA, tableB).map(t =>
      graft.ingest.RegionSplit.shardBytes(Paths.get(root, t.replace(':', '~'), shard))).sum)
    val rdd = graft.ingest.RegionJobs.tasks(spark, weighed).flatMap { shard =>
      def latest(t: String): collection.mutable.HashMap[Seq[Byte], (Array[Byte], Long, Array[Byte])] = {
        val m = collection.mutable.HashMap.empty[Seq[Byte], (Array[Byte], Long, Array[Byte])]
        val dir = Paths.get(root, t.replace(':', '~'), shard)
        if (Files.isDirectory(dir)) {
          val r = CellsReaders.reader(dir.toString, Long.MinValue, Long.MaxValue,
            CellsKeyPred.All, cols, retention = if (t == tableA) retA else retB)
          while (r.next()) {
            val row = r.get()
            val k = row.getBinary(0)
            val v = row.getLong(1)
            val key: Seq[Byte] = k.toIndexedSeq
            val cur = m.get(key)
            if (cur.isEmpty || cur.get._2 < v) m(key) = (k, v, row.getBinary(2))
          }
        }
        m
      }
      val a = latest(tableA)
      val b = latest(tableB)
      def leftRows = a.iterator.map { case (key, av) =>
        b.get(key) match {
          case Some(bv) => Row(av._1, av._2, av._3, bv._2, bv._3)
          case None => Row(av._1, av._2, av._3, null, null)
        }
      }
      joinType match {
        case "inner" =>
          // probe the smaller side into the larger — classic hash join
          val (probe, build, probeIsA) =
            if (a.size <= b.size) (a, b, true) else (b, a, false)
          probe.iterator.flatMap { case (key, p) =>
            build.get(key).map { q =>
              val (av, bv) = if (probeIsA) (p, q) else (q, p)
              Row(av._1, av._2, av._3, bv._2, bv._3)
            }
          }
        case "left" => leftRows
        case "full" =>
          leftRows ++ b.iterator.collect {
            case (key, bv) if !a.contains(key) => Row(bv._1, null, null, bv._2, bv._3)
          }
      }
    }
    spark.createDataFrame(rdd, OutSchema)
  }
}
