package perfbench

import graft.core.{Crypto, Envelope, RecordProcessor}
import graft.ingest.{BulkLoad, FileStore, HttpKeyService, IngestPipeline, KeyService, ManifestStore, PushTableSink}
import graft.ingest.IngestPipeline.{IngestedRow, RunMode, RunResult, Status}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One measured iteration: its timed wall, what it processed, and the
  * output check that ran after the timed window. */
final case class Iteration(wallS: Double, records: Long, inputBytes: Long, storedBytes: Long,
                           logicalBytes: Long, read: Option[ReadBack.Stats],
                           attempted: Long, failed: Long, problems: Seq[String])

trait Workload {
  /** Build the inputs and state from scratch and warm the path up. */
  def setup(round: Int): Unit
  def iterate(n: Int): Iteration
  /** The traced iteration's per-layer metrics; `untracedWallS` is the
    * median wall of the untraced iterations (NaN when there were none). */
  def traced(untracedWallS: Double, listener: Trace.GroupListener): Map[String, Double]
}

object Workload {
  def delete(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  /** Store layout after a sink: files, segments, segment-resident cells. */
  final case class Layout(files: Long, segments: Long, looseCells: Long, bytes: Long)
  private val LooseCell = "[0-9a-f]+\\.-?[0-9]+".r
  def layout(root: Path): Layout = {
    val s = Files.walk(root)
    try {
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val names = fs.map(_.getFileName.toString)
      Layout(fs.size.toLong, names.count(graft.ingest.CellSegment.isSegment).toLong,
        names.count(LooseCell.matches).toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  /** GC seconds so far, summed over collectors. */
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
}

/** `import_push`: `IngestMain`'s filestore path — `IngestPipeline.run`
  * with a push store and `HttpKeyService` — into an empty store. */
final class ImportWorkload(spark: SparkSession, seed: Long, spec: Corpus.Spec, work: Path,
                           dks: DksStub) extends Workload {
  import ImportWorkload._
  private val sc = spark.sparkContext
  private var ledger: Corpus.Ledger = _
  private var corpus: Path = _
  private var expect: ImportExpect = _
  private val plan = ReadBack.Plan(inPresent = 32, inAbsent = 8, lookups = 1000, versionSlice = false)

  private def keys: KeyService = HttpKeyService(dks.url)
  private def identity = Envelope.RunIdentity.live("perfbench", "perfbench")

  def setup(round: Int): Unit = {
    writeCorpus(round)
    // warm-up: one checked import, reads included
    val scratch = work.resolve(s"setup-$round")
    val warm = check(-round, 0.0, scratch, traced = false)(importOnce)
    require(warm.failed == 0, s"warm-up import failed its check: ${warm.problems.mkString("; ")}")
  }

  /** Generates the seeded corpus and writes it (replacing an earlier round's). */
  def writeCorpus(round: Int): Unit = {
    Option(corpus).foreach(Workload.delete)
    ledger = Corpus.generate(seed, spec)
    corpus = work.resolve(s"corpus-$round")
    Corpus.write(ledger, corpus)
  }

  /** The untraced import: what a user runs. */
  private[perfbench] def importOnce(store: Path, manifests: Path): RunResult = {
    val root = store.toString
    IngestPipeline.run(spark, Seq(corpus.toString), root, manifests.toString, keys, identity,
      runMode = RunMode.ImportAndManifest, pushStore = Some(fileStore(root)))
  }

  def iterate(n: Int): Iteration = {
    val dir = work.resolve(s"iter-$n")
    var wall = 0.0
    check(n, 0.0, dir, traced = false) { (store, manifests) =>
      val t0 = System.nanoTime()
      try importOnce(store, manifests) finally wall = (System.nanoTime() - t0) / 1e9
    }.copy(wallS = wall)
  }

  /** Runs `importInto(store, manifests)` under `dir`, checks its output
    * and deletes it. The check, outside any timed window: the run
    * counters against the ledger, every manifest byte for byte, and
    * checked reads of one table of the store (rotating with `n`, so a run
    * covers every table) through the public read faces — the full scan's
    * cell count and (rowkey, version) digest, a rowkey IN batch whose
    * bodies must decrypt to the transformed records, and point gets.
    * Failures are charged to files. */
  private[perfbench] def check(n: Int, wall: Double, dir: Path, traced: Boolean,
                               plan: ReadBack.Plan = plan, allTables: Boolean = false)
                              (importInto: (Path, Path) => RunResult): Iteration = {
    val store = dir.resolve("store")
    val manifests = dir.resolve("manifests")
    try {
      val result = importInto(store, manifests)
      val files = ledger.files.size
      val bad = mutable.Set.empty[Int]
      val problems = mutable.ArrayBuffer.empty[String]
      val ok = ledger.count(Corpus.Ok)
      val want = RunResult(put = ok, filesProcessed = files, recordsProcessed = ok,
        skippedMissingId = ledger.count(Corpus.MissingId), skippedMalformed = ledger.count(Corpus.Malformed),
        tooEarly = 0L, tooLate = 0L, unreadableFiles = 0L, filteredExisting = 0L)
      if (result != want) {
        problems += s"run result $result, expected $want"
        bad ++= ledger.files.indices
      }
      ledger.files.zipWithIndex.foreach { case (f, i) =>
        val p = manifests.resolve(f.manifestName)
        val actual = if (Files.exists(p)) Some(new String(Files.readAllBytes(p), UTF_8)) else None
        if (actual != Some(f.manifest).filter(_.nonEmpty)) {
          bad += i
          problems += s"manifest ${f.manifestName} differs"
        }
      }
      if (expect == null) expect = new ImportExpect(spark, ledger, dks.batchKeyBase64)
      val tables = if (allTables) expect.tables else Seq(expect.tables(Math.floorMod(seed + n, expect.tables.size.toLong).toInt))
      val read = ReadBack.run(spark, store.toString, expect, tables, plan, new SplittableRandom(seed * 37 + n), traced)
      bad ++= read.badOwners
      problems ++= read.problems
      if (read.failedOps > 0 && read.badOwners.isEmpty) bad ++= ledger.files.indices
      Iteration(wall, ledger.lines, ledger.encryptedBytes, Workload.layout(store).bytes, ledger.plainBytes,
        Some(read), files.toLong, bad.size.toLong, problems.take(20).toSeq)
    } finally Workload.delete(dir)
  }

  // ------------------------------------------------------------ traced

  def traced(untracedWallS: Double, listener: Trace.GroupListener): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    microPasses(m)

    listener.reset(sc)
    val a = Trace.Accs(sc)
    val dksBefore = dks.requests.get()
    val gc0 = Workload.gcSeconds
    Workload.heapPools.foreach(_.resetPeakUsage())
    val tracedKeys = Trace.TracedKeys(keys, a)
    val layers = mutable.LinkedHashMap.empty[String, Double] // wall per layer, in call order
    def layer[T](name: String)(f: => T): T = {
      val (r, s) = Trace.span(sc, name)(f)
      layers(name) = s
      r
    }
    var totalS = 0.0

    // the functions IngestPipeline.run composes, in its order
    val it = check(-1, 0.0, work.resolve("traced"), traced = true) { (store, manifests) =>
      val t0 = System.nanoTime()
      val tasks = layer("catalog")(IngestPipeline.planTasks(spark, Seq(corpus.toString)))
      val rows = layer("ingest") {
        val r = IngestPipeline.ingest(spark, tasks, tracedKeys, identity).cache()
        r.count()
        r
      }
      m("ingest.cache_mb") = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      val put = layer("push_sink")(PushTableSink.write(rows, tracedStore(store.toString, a),
        PushTableSink.Config(skipExisting = true)))
      val hadoopConf = new SerializableConfiguration(sc.hadoopConfiguration)
      layer("manifest")(IngestPipeline.writeManifests(rows,
        Trace.TracedManifests(ManifestStore.HadoopFs(manifests.toString, hadoopConf), a)))
      val byStatus = layer("counters")(counters(rows))
      totalS = (System.nanoTime() - t0) / 1e9
      m("catalog.files") = tasks.size.toDouble
      m("push_sink.cells_put") = put.toDouble
      layoutMetrics(m, store, ledger.count(Corpus.Ok))

      // Past the import as shipped, on the same cached rows: the push sink
      // once more onto the store it just filled (the idempotent rerun: the
      // existence check must reject every cell), and a bulk load into a
      // second store, so both paths have their layer numbers.
      val ra = Trace.Accs(sc)
      val (reput, rerunS) = Trace.span(sc, "rerun_sink")(PushTableSink.write(rows,
        tracedStore(store.toString, ra), PushTableSink.Config(skipExisting = true)))
      require(reput == 0 && ra.existsHits.value == put, s"rerun put $reput cells, found ${ra.existsHits.value} of $put")
      m("rerun.wall_s") = rerunS
      m("rerun.exists_s") = ra.existsNs.value / 1e9
      m("rerun.exists_hit_share") = ra.existsHits.value.toDouble / math.max(1L, ra.existsCells.value)
      m("rerun.put_cells") = ra.putCells.value.toDouble
      val (report, bulkS) = Trace.span(sc, "bulk_load")(BulkLoad.write(rows, store.resolveSibling("bulk").toString))
      require(report.cells == put, s"bulk load wrote ${report.cells} cells, the push sink $put")
      val bulk = listener.of(sc, "bulk_load")
      m("bulk_load.wall_s") = bulkS
      m("bulk_load.task_s") = bulk.taskS
      m("bulk_load.shuffle_write_mb") = bulk.shuffleWriteBytes / 1e6
      m("bulk_load.shuffle_read_mb") = bulk.shuffleReadBytes / 1e6
      m("bulk_load.spill_mb") = bulk.spillBytes / 1e6
      m("bulk_load.segments") = report.segments.size.toDouble
      rows.unpersist()
      runResult(byStatus, tasks.size, put)
    }
    require(it.failed == 0, s"traced import failed its check: ${it.problems.mkString("; ")}")
    m("jvm.gc_s") = Workload.gcSeconds - gc0
    m("jvm.heap_peak_mb") = Workload.heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

    val ingest = listener.of(sc, "ingest")
    val sink = listener.of(sc, "push_sink")
    val manifest = listener.of(sc, "manifest")
    m("catalog.wall_s") = layers("catalog")
    m("keyservice.decrypt_calls") = a.decryptCalls.value.toDouble
    m("keyservice.batch_key_calls") = a.batchKeyCalls.value.toDouble
    m("keyservice.http_requests") = (dks.requests.get() - dksBefore).toDouble
    m("keyservice.busy_s") = a.keyNs.value / 1e9
    m("ingest.wall_s") = layers("ingest")
    m("ingest.task_s") = ingest.taskS
    m("ingest.cpu_s") = ingest.cpuS
    m("ingest.gc_s") = ingest.gcS
    m("ingest.rows") = ledger.lines.toDouble
    val singleThreadS = m("decode.busy_s") + m("record_chain.busy_s")
    m("ingest.boundary_s") = ingest.taskS - singleThreadS - m("keyservice.busy_s")
    m("ingest.parallel_efficiency") = singleThreadS / layers("ingest")
    m("push_sink.wall_s") = layers("push_sink")
    m("push_sink.task_s") = sink.taskS
    m("store.exists_calls") = a.existsCalls.value.toDouble
    m("store.exists_cells") = a.existsCells.value.toDouble
    m("store.exists_hits") = a.existsHits.value.toDouble
    m("store.exists_hit_share") = a.existsHits.value.toDouble / math.max(1L, a.existsCells.value)
    m("store.exists_s") = a.existsNs.value / 1e9
    m("store.put_calls") = a.putCalls.value.toDouble
    m("store.put_cells") = a.putCells.value.toDouble
    m("store.put_mb") = a.putBytes.value / 1e6
    m("store.put_s") = a.putNs.value / 1e9
    m("manifest.wall_s") = layers("manifest")
    m("manifest.task_s") = manifest.taskS
    m("manifest.shuffle_write_mb") = manifest.shuffleWriteBytes / 1e6
    m("manifest.uploads") = a.uploads.value.toDouble
    m("manifest.upload_mb") = a.uploadBytes.value / 1e6
    m("manifest.upload_s") = a.uploadNs.value / 1e9
    m("counters.wall_s") = layers("counters")
    Main.readMetrics(m, it.read.get, listener, sc)
    m("trace.overhead_s") = totalS - untracedWallS
    Main.wallTable(layers.toSeq, totalS, untracedWallS)
    m.toMap
  }

  /** Single-threaded passes over the corpus: decrypt+gunzip every file
    * (`decode`), then run every line through the record chain. */
  private def microPasses(m: mutable.Map[String, Double]): Unit = {
    val buf = new Array[Byte](1 << 16)
    var plain = 0L
    val t0 = System.nanoTime()
    ledger.files.foreach { f =>
      val in = Crypto.decompressingDecryptingStream(
        Files.newInputStream(corpus.resolve(f.stem + ".gz.enc")), f.dataKey, f.iv)
      try {
        var r = in.read(buf)
        while (r >= 0) { plain += r; r = in.read(buf) }
      } finally in.close()
    }
    val decodeS = (System.nanoTime() - t0) / 1e9
    require(plain == ledger.plainBytes, s"decode pass read $plain bytes, expected ${ledger.plainBytes}")
    m("decode.busy_s") = decodeS
    m("decode.plain_mb_per_s") = plain / 1e6 / decodeS

    val batchKey = Envelope.DataKeyResult(dks.batchKeyId, dks.batchKeyBase64, dks.batchKeyCipherBase64)
    val lines = ledger.files.map(f => (f, new String(f.plain, UTF_8).split('\n')))
    val id = identity
    var ok = 0L; var malformed = 0L; var missing = 0L
    val t1 = System.nanoTime()
    lines.foreach { case (f, ls) =>
      val ctx = RecordProcessor.FileContext(f.db, f.coll, f.fileNumber, batchKey)
      var n = 0L
      ls.foreach { line =>
        n += 1
        val ln = n
        RecordProcessor.processLine(line, ctx, id, () => IngestPipeline.IvStrategy.Random.ivFor(f.stem, ln)) match {
          case Right(_) => ok += 1
          case Left(RecordProcessor.SkipReason.Malformed(_)) => malformed += 1
          case Left(_) => missing += 1
        }
      }
    }
    val chainS = (System.nanoTime() - t1) / 1e9
    require(ok == ledger.count(Corpus.Ok) && malformed == ledger.count(Corpus.Malformed) &&
      missing == ledger.count(Corpus.MissingId), s"record chain pass: ok=$ok malformed=$malformed missing=$missing")
    m("record_chain.busy_s") = chainS
    m("record_chain.us_per_record") = chainS * 1e6 / ledger.lines
    m("record_chain.ok") = ok.toDouble
    m("record_chain.skipped_malformed") = malformed.toDouble
    m("record_chain.skipped_missing_id") = missing.toDouble
  }
}

object ImportWorkload {

  /** Store factories built here, away from any enclosing instance, so
    * the closures ship only a path and the accumulators. */
  def fileStore(root: String): () => PushTableSink.Store = () => FileStore(root)
  def tracedStore(root: String, a: Trace.Accs): () => PushTableSink.Store =
    () => Trace.TracedStore(FileStore(root), a)

  /** The counter step of `IngestPipeline.run`: rows by (status, filter). */
  def counters(rows: Dataset[IngestedRow]): Map[(String, String), Long] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(r => (r.status, r.filterStatus)).count().collect().toMap
  }

  def runResult(byStatus: Map[(String, String), Long], files: Int, put: Long): RunResult = {
    def total(status: String): Long = byStatus.collect { case ((s, _), n) if s == status => n }.sum
    val okUnfiltered = byStatus.getOrElse((Status.Ok, "DoNotFilter"), 0L)
    RunResult(put, files.toLong, total(Status.Ok), total(Status.MissingId), total(Status.Malformed),
      byStatus.getOrElse((Status.Ok, "FilterTooEarly"), 0L), byStatus.getOrElse((Status.Ok, "FilterTooLate"), 0L),
      total(Status.UnreadableFile), math.max(0L, okUnfiltered - put))
  }

  def layoutMetrics(m: mutable.Map[String, Double], store: Path, cells: Long): Unit = {
    val l = Workload.layout(store)
    m("store.files") = l.files.toDouble
    m("store.segments") = l.segments.toDouble
    m("store.cells_per_segment") = (cells - l.looseCells).toDouble / math.max(1L, l.segments)
    m("store.disk_mb") = l.bytes / 1e6
  }
}

/** Reads against a bulk-loaded table whose segment indexes are about
  * twice the index cache the run configures (see `Main.StoreReadConf`),
  * so point gets pay for index loads. Runs no import code. */
final class StoreReadWorkload(spark: SparkSession, seed: Long, keys: Int, work: Path) extends Workload {
  private var store: Path = _
  private lazy val expect = new StoreReadExpect(spark, seed, keys)
  private val plan = ReadBack.Plan(inPresent = 160, inAbsent = 40, lookups = 1000, versionSlice = true)

  def setup(round: Int): Unit = {
    Option(store).foreach(Workload.delete)
    store = work.resolve(s"cells-$round")
    BulkLoad.writeCells(StoreReadExpect.cellsFrame(spark, seed, keys), store.toString)
    Main.log("store_read: table bulk-loaded")
    // warm-up: one pass of the same reads, with fewer point gets
    ReadBack.run(spark, store.toString, expect, expect.tables, plan.copy(lookups = 300),
      new SplittableRandom(seed - round), traced = false)
  }

  private def iteration(n: Int, traced: Boolean): Iteration = {
    val read = ReadBack.run(spark, store.toString, expect, expect.tables, plan, new SplittableRandom(seed * 31 + n),
      traced)
    Iteration(read.wallS, read.scanCells + read.inCells + read.rangeCells + read.lookupHits,
      read.scanBodyBytes, Workload.layout(store).bytes, expect.logicalBytes, Some(read),
      read.ops, read.failedOps, read.problems)
  }

  def iterate(n: Int): Iteration = iteration(n, traced = false)

  def traced(untracedWallS: Double, listener: Trace.GroupListener): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    listener.reset(sc)
    val gc0 = Workload.gcSeconds
    Workload.heapPools.foreach(_.resetPeakUsage())
    val it = iteration(-1, traced = true)
    require(it.failed == 0, s"traced reads failed their check: ${it.problems.mkString("; ")}")
    m("jvm.gc_s") = Workload.gcSeconds - gc0
    m("jvm.heap_peak_mb") = Workload.heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val read = it.read.get
    Main.readMetrics(m, read, listener, sc)
    ImportWorkload.layoutMetrics(m, store, expect.cells(StoreReadExpect.Table))
    m("trace.overhead_s") = it.wallS - untracedWallS
    Main.wallTable(Seq("cells_source.scan" -> read.scanS, "cells_source.point_in" -> read.inS,
      "cells_source.version_range" -> read.rangeS,
      "get_latest" -> read.lookupNs.sum / 1e9), it.wallS, untracedWallS)
    m.toMap
  }

  private def sc = spark.sparkContext
}
