package graft.ingest

import graft.ingest.IngestPipeline.{IngestedRow, Status, groupedByBytes}
import org.apache.spark.sql.Dataset
import scala.collection.mutable

/** W1/W2/W3/F5 — the import's only sink: the push-style contract for a
  * versioned-cell store (HBase-shaped: `Table.put(List<Put>)` +
  * `existsAll`), driven per task through [[PushTableSink.putAll]] with
  * byte-capped batches and bounded put retry. [[IngestPipeline.run]]
  * calls it from its per-file pass, [[write]] from a Dataset. Per-batch
  * existence filtering is read-your-writes-correct under task retries,
  * where a snapshot anti-join is not (SURVEY.md §4).
  */
object PushTableSink {

  final case class CellPut(tableName: String, rowkey: Array[Byte], version: Long, body: Array[Byte])

  /** W3 DDL surface — the table shape the reference creates
    * (HbaseClient.kt:83-92 + Config.kt defaults): one column family
    * holding a `record` qualifier with FULL version history, GZ
    * compression for both store files and compactions, and replicated
    * regions. The contract CARRIES these so a live implementation can't
    * silently drop them; [[FileStore]] records them all in `_spec.json`
    * and ignores what local files have no analogue for (compression,
    * replication). */
  final case class TableSpec(dataFamily: String = "cf",
                             dataQualifier: String = "record",
                             maxVersions: Int = Int.MaxValue,
                             minVersions: Int = 1,
                             compression: String = "GZ",
                             compactionCompression: String = "GZ",
                             regionReplication: Int = 3,
                             // HBase column-family TTL: versions older
                             // than now − ttl are hidden by every read
                             // face ([[Retention]]) and reclaimed by the
                             // next major (minVersions floor — every key
                             // keeps its newest). MaxValue = FOREVER.
                             ttlMillis: Long = Long.MaxValue,
                             // the memstore-flush / compactionThreshold
                             // analog: when a put batch leaves a shard
                             // with MORE than this many per-cell put
                             // files, the store flushes that shard's put
                             // backlog into one sorted segment
                             // ([[FileStore.putBatch]]'s post-commit
                             // hook). 0 disables — the operator override
                             // a layout-inspecting fixture sets.
                             compactionThreshold: Int = 10,
                             // the hbase.hregion.max.filesize analog:
                             // when maintenance (flush/minor/major)
                             // leaves a REGION holding more store-file
                             // bytes than this, the store SPLITS it —
                             // equi-depth split key from the region's
                             // own segment indexes, the full
                             // [[RegionSplit]] protocol. 0 disables
                             // (the default: the ingest layout is
                             // CRC32-uniform and pre-split).
                             maxRegionBytes: Long = 0L)

  object TableSpec {
    /** Parse the `_spec.json` [[graft.ingest.FileStore.ensureTable]]
      * writes — the backup/restore path's DDL passthrough (HBase's
      * ExportSnapshot carries the table descriptor; losing maxVersions
      * across a restore would silently turn retention off). Absent
      * fields fall back to the defaults, matching the writer. */
    def fromJson(json: String): TableSpec = {
      import graft.core.{JNum, JStr, Json}
      val o = Json.parseObject(json)
      def str(k: String, d: String): String =
        o.get(k) match { case Some(JStr(s)) => s; case _ => d }
      def int(k: String, d: Int): Int =
        o.get(k) match {
          case Some(n: JNum) => n.toLongExact.map(_.toInt).getOrElse(d)
          case _ => d
        }
      def long(k: String, d: Long): Long =
        o.get(k) match {
          case Some(n: JNum) => n.toLongExact.getOrElse(d)
          case _ => d
        }
      TableSpec(
        dataFamily = str("dataFamily", "cf"),
        dataQualifier = str("dataQualifier", "record"),
        maxVersions = int("maxVersions", Int.MaxValue),
        minVersions = int("minVersions", 1),
        ttlMillis = long("ttlMillis", Long.MaxValue),
        compression = str("compression", "GZ"),
        compactionCompression = str("compactionCompression", "GZ"),
        regionReplication = int("regionReplication", 3),
        compactionThreshold = int("compactionThreshold", 10),
        maxRegionBytes = long("maxRegionBytes", 0L))
    }
  }

  /** One connection per executor task; implementations wrap an HBase
    * connection, a JDBC pool, etc. */
  trait Store extends Serializable {
    /** W3 — idempotently create the table (namespace, versioning, DDL
      * per [[TableSpec]]). */
    def ensureTable(tableName: String, spec: TableSpec): Unit
    /** F5 — which of these (key, version) cells already exist. */
    def exists(tableName: String, cells: Seq[CellPut]): Seq[Boolean]
    /** W2 — atomic-ish batch put; may throw transiently. */
    def putBatch(tableName: String, cells: Seq[CellPut]): Unit
  }

  final case class Config(maxBatchBytes: Long = 100000000L, // HBaseWriter.kt:69-70
                          skipExisting: Boolean = true,
                          putPolicy: Retry.Policy = Retry.Policy.put,
                          tableSpec: TableSpec = TableSpec())

  /** Write every ok+unfiltered row in one job, each task through
    * [[putAll]]. Returns the number of cells actually put (post
    * existence-skip), summed from the successful tasks' own counts, so
    * a retried task is counted once. Failures propagate and fail the
    * task (Spark retries it; F5 makes the replay idempotent). */
  def write(rows: Dataset[IngestedRow], storeFactory: () => Store, config: Config = Config()): Long = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.filter(r => isPut(r))
      .mapPartitions(it => Iterator.single(putAll(it.map(cellOf), storeFactory(), config)))
      .collect().sum
  }

  /** The rows the table face writes: ok, and inside the F2 window. */
  def isPut(r: IngestedRow): Boolean = r.status == Status.Ok && r.filterStatus == "DoNotFilter"

  def cellOf(r: IngestedRow): CellPut = CellPut(r.tableName, r.rowkey, r.version, r.envelope.getBytes("UTF-8"))

  /** One task's puts: byte-capped batches (W1), and per batch and table
    * an existence skip (F5) and a bounded put retry (W2). A table is
    * created the first time the task sees a cell for it (W3) — the
    * reference's "on first sight, races tolerated" DDL
    * (HbaseClient.kt:62-122): `ensureTable` is idempotent, so tasks
    * racing to create one table are harmless, and a table exists only
    * if a writable row named it. Returns the number of cells put. */
  def putAll(cells: Iterator[CellPut], store: Store, config: Config): Long = {
    val ensured = mutable.HashSet.empty[String]
    var put = 0L
    groupedByBytes(cells, config.maxBatchBytes)(_.body.length.toLong).foreach { batch =>
      batch.groupBy(_.tableName).foreach { case (table, tableCells) =>
        if (ensured.add(table)) store.ensureTable(table, config.tableSpec)
        put += Retry.withRetry(config.putPolicy, s"putBatch $table") {
          val fresh =
            if (config.skipExisting)
              tableCells.zip(store.exists(table, tableCells)).collect { case (c, false) => c }
            else tableCells
          if (fresh.nonEmpty) store.putBatch(table, fresh)
          fresh.size
        }
      }
    }
    put
  }
}
