package graft.queries

import graft.core.{DateFmt, Envelope, RecordProcessor}
import graft.ingest.{FixtureDumps, IngestPipeline, StubKeyService}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q30 — the ingest path's row in the driver's correctness gate.
  *
  * Regenerates the deterministic fixture dumps (FixtureDumps: fixed
  * key, fixed IVs, the reference sample_data.py record shapes incl.
  * every edge case), runs the FULL pipeline — catalog pairing, decrypt,
  * gunzip, the whole T1-T8/K1-K5 record chain, re-encrypt with
  * deterministic per-line IVs, manifest rendering, F2 time filter — and
  * emits one row per input line. Every column is a pure function of the
  * fixture bytes, so the result is byte-stable across runs and engines.
  *
  * The DuckDB oracle reads the golden parquet checked into the repo
  * (testdata/q30_golden/), which was produced by this same pipeline and
  * is trustworthy because the semantics it freezes are independently
  * verified by the unit suite: golden manifest lines vs the reference
  * integration spec (UCHistoricDataImporterSpec.kt:129-238), envelope
  * decrypt-back, the rowkey determinism corpus, and the version/type
  * matrix. A regression in ANY of T1-T8/K1-K5/E6/W4 changes a rowkey,
  * version, manifest line, or envelope md5 and breaks the hash match.
  */
object IngestVerify {

  /** The shared q30/q39 fixture set: three deterministic dump files
    * covering every record-shape edge case. */
  private def writeFixtures(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-ingest-fixture")
    FixtureDumps.writeDumpFile(dir, "database-1", "collection-1", 1)
    FixtureDumps.writeDumpFile(dir, "database-1", "collection-thirtyone", 1)
    FixtureDumps.writeDumpFile(dir, "agent_core", "agentToDoArchive", 1)
    dir
  }

  private val identity = Envelope.RunIdentity("uow", "trace", "test", () => new java.util.Date(0L))
  private def timeFilter = RecordProcessor.TimeFilter(
    earlierThan = DateFmt.timestampAsLong("2010-01-01T00:00:00.000Z"),
    laterThan = DateFmt.timestampAsLong("2019-12-31T23:59:59.999Z"))

  /** The pure-function-of-the-fixture-bytes projection both gates hash. */
  private def goldenProjection(rows: DataFrame): DataFrame =
    rows.select(
      col("manifestFileName").as("manifest_file"),
      col("lineNo").as("line_no"),
      col("status"),
      col("tableName").as("table_name"),
      hex(col("rowkey")).as("rowkey_hex"),
      col("version"),
      col("innerType").as("inner_type"),
      col("manifestLine").as("manifest_line"),
      md5(col("envelope")).as("envelope_md5"),
      col("filterStatus").as("filter_status"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_ingest" -> { (s, _) =>
      val dir = writeFixtures()
      val tasks = IngestPipeline.planTasks(s, Seq(dir.toString))
      goldenProjection(IngestPipeline.ingest(s, tasks, StubKeyService(), identity, timeFilter,
        IngestPipeline.IvStrategy.Deterministic("q30")).toDF())
    },
    // q39 — stream ≡ batch, proven in the driver's gate: the SAME fixture
    // dumps flow through Structured Streaming's binaryFile source
    // (multi-micro-batch: maxFilesPerTrigger=2 over 3 files, AvailableNow
    // trigger) with the same deterministic IV salt and time filter, and
    // must land byte-identical rows against the SAME q30 golden parquet.
    "q39_stream_ingest" -> { (s, _) =>
      val dir = writeFixtures()
      val ck = Files.createTempDirectory("graft-q39-ck")
      val sinkName = "q39_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val rows = graft.streaming.StreamingIngest.records(
        s, dir.toString, StubKeyService(), identity,
        maxFilesPerTrigger = 2,
        ivStrategy = IngestPipeline.IvStrategy.Deterministic("q30"),
        timeFilter = timeFilter)
      val q = rows.toDF().writeStream
        .format("memory").queryName(sinkName)
        .option("checkpointLocation", ck.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // detach name + drop checkpoint so repeated invocations don't
      // accumulate driver state; the plan holds the sink relation
      val out = goldenProjection(s.table(sinkName))
      s.catalog.dropTempView(sinkName)
      org.apache.commons.io.FileUtils.deleteQuietly(ck.toFile)
      out
    },
    // q193 — the bulk-load path's row in the gate: the SAME q30 fixture
    // rows flow through BOTH cell-store write paths — PushTableSink's
    // per-batch puts and BulkLoad's one-shuffle sorted-segment flip-in
    // (the HFile-style heavy-ingest shape, HbaseClient.kt:31-36's
    // SKIP_WAL posture done idiomatically) — and both stores are read
    // back through the graft-cells connector. In-query invariant: the
    // two states are cell-for-cell identical (exceptAll empty both
    // ways) and the put/bulk counts agree; the emitted result is the
    // BULK store's content, hash-pinned against the q30 golden's
    // ok+unfiltered slice, so a bulk-path regression in sorting,
    // sharding, segment encoding, or the segment-merging read face
    // breaks the driver hash.
    "q193_bulk_load" -> { (s, _) =>
      import graft.ingest.{BulkLoad, FileStore, IngestPipeline, PushTableSink}
      val dir = writeFixtures()
      val pushRoot = Files.createTempDirectory("graft-q193-push").toString
      val bulkRoot = Files.createTempDirectory("graft-q193-bulk").toString
      val tasks = IngestPipeline.planTasks(s, Seq(dir.toString))
      val rows = IngestPipeline.ingest(s, tasks, StubKeyService(), identity, timeFilter,
        IngestPipeline.IvStrategy.Deterministic("q30")).cache()
      try {
        val put = PushTableSink.write(rows, () => FileStore(pushRoot))
        val report = BulkLoad.write(rows, bulkRoot)
        require(put == report.cells && put > 0,
          s"push and bulk must write the same cell count: push=$put bulk=${report.cells}")
        // the table list is driver-bounded (|collections| = 3 here)
        val sp = s; import sp.implicits._
        val tables = rows.filter(r => PushTableSink.isPut(r))
          .map(_.tableName).distinct().collect().sorted
        def readState(root: String) = tables.map { t =>
          s.read.format("graft-cells").option("root", root).option("table", t).load()
            .select(lit(t).as("table_name"), hex(col("rowkey")).as("rowkey_hex"),
              col("version"), md5(col("body")).as("envelope_md5"))
        }.reduce(_ unionByName _)
        // materialize both sides once: each exceptAll side re-evaluates
        // its whole multi-table union, so the two-way check cost 4
        // store-state scans (plus the returned frame a 5th) instead of 2
        val push = readState(pushRoot).localCheckpoint()
        val bulk = readState(bulkRoot).localCheckpoint()
        sameRows(push, bulk,
          "bulk-written state must be cell-for-cell identical to push-written state")
        bulk
      } finally {
        rows.unpersist()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pushRoot))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bulkRoot))
      }
    }
  )

  private val goldenSql =
    """SELECT manifest_file, line_no, status, table_name, rowkey_hex, version,
              inner_type, manifest_line, envelope_md5, filter_status
       FROM read_parquet('/root/repo/testdata/q30_golden/*.parquet')"""

  val oracle: Map[String, String] = Map(
    "q30_ingest" -> goldenSql,
    "q39_stream_ingest" -> goldenSql,
    // the ok+unfiltered slice of the same golden: exactly the cells
    // both store write paths must hold
    "q193_bulk_load" ->
      """SELECT table_name, rowkey_hex, version, envelope_md5
         FROM read_parquet('/root/repo/testdata/q30_golden/*.parquet')
         WHERE status = 'ok' AND filter_status = 'DoNotFilter'"""
  )
}
