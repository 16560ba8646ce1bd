package graft.ingest

import graft.core._
import graft.core.RecordProcessor._
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable

/** The ingestion DAG (reference §3.1-§3.3), Spark-shaped:
  *
  *   driver: catalog (S1-S4,F1) — a pure file LISTING; no per-file
  *     metadata reads or key-service calls happen on the driver (at
  *     ~100k files that serial I/O would be hours of driver time before
  *     the first task)
  *   executors: one task per file ([[fileSlices]]) — read metadata
  *     sidecar (E1), resolve the file key (E2, per-JVM DKS cache), open,
  *     decrypt (E4), gunzip (E5), read lines (S5), full record chain
  *     (T1-T8, E6, K1-K5); an undecodable file emits one skipped-file
  *     marker row instead of failing the job (the reference logs and
  *     continues past failing files)
  *   sinks: the same task streams its rows on into the puts (W1-W3,
  *     F5, tables created on first sight) and its own manifest spool
  *     (W4-W5), and returns its counters (W7) — one narrow job, no
  *     cache, no shuffle, like the reference's worker-per-file
  *
  * The Dataset functions ([[ingest]], [[writeManifests]],
  * [[PushTableSink.write]]) compose the same steps one at a time, for
  * the q30/q193 gates and the per-layer benchmark.
  *
  * Scale shape: encrypted+gzipped inputs are not splittable, so
  * partition-per-file is the parallelism unit exactly like the
  * reference's thread-per-file — but scheduled across every executor
  * core in the cluster instead of 10 threads.
  */
object IngestPipeline {

  /** Work item shipped to executors. Listing-derived only — metadata
    * and keys resolve inside the task (the per-JVM HttpKeyService cache
    * makes repeat key decrypts free on an executor). */
  final case class FileTask(dataPath: String,
                            metadataPath: String,
                            database: String,
                            collection: String,
                            fileNumber: Int)

  /** One processed (or skipped) line; `error` is non-empty only on
    * skipped-file marker rows. */
  final case class IngestedRow(dataPath: String,
                               lineNo: Long,
                               database: String,
                               collection: String,
                               tableName: String,
                               manifestFileName: String,
                               status: String,
                               rowkey: Array[Byte],
                               version: Long,
                               envelope: String,
                               innerType: String,
                               manifestLine: String,
                               filterStatus: String,
                               error: String)

  object Status {
    val Ok = "ok"
    val MissingId = "skipped_missing_id"
    val Malformed = "skipped_malformed"
    /** whole-file skip: unreadable metadata, undecryptable/truncated
      * stream, etc. — one marker row per failed file */
    val UnreadableFile = "skipped_unreadable_file"
  }

  /** IV strategy for the per-record re-encrypt (E6). Production =
    * SecureRandom (reference semantics); tests/replay-determinism =
    * per-line derived IVs so task retries regenerate identical bytes
    * (SURVEY §7.4 item 4). */
  sealed trait IvStrategy extends Serializable {
    def ivFor(dataPath: String, lineNo: Long): Array[Byte]
  }
  object IvStrategy {
    case object Random extends IvStrategy {
      // One DRBG per thread: a DRBG keeps its state per instance, so
      // threads never wait on each other. `new SecureRandom()` would not
      // do that on Linux: it is NativePRNG there, and every NativePRNG
      // instance shares one process-wide reader of /dev/urandom and its
      // lock.
      @transient private lazy val rng: ThreadLocal[java.security.SecureRandom] =
        ThreadLocal.withInitial(() => java.security.SecureRandom.getInstance("DRBG"))
      def ivFor(dataPath: String, lineNo: Long): Array[Byte] = {
        val iv = new Array[Byte](16); rng.get().nextBytes(iv); iv
      }
    }
    final case class Deterministic(salt: String) extends IvStrategy {
      def ivFor(dataPath: String, lineNo: Long): Array[Byte] = {
        // keyed on the file NAME, not the full path: replay-determinism
        // must survive the same dumps being staged under a different
        // directory (e.g. the q30 gate's fresh temp dir per run)
        val name = dataPath.substring(dataPath.lastIndexOf('/') + 1)
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$salt/$name/$lineNo".getBytes("UTF-8"))
      }
    }
  }

  /** Driver step: pair files, apply S4/F1 filters, parse filenames — a
    * listing-sized pure computation. Metadata reads and key-service
    * round-trips are deliberately NOT here: at ~100k files one serial
    * FS open + HTTP call per file would stall the driver for hours;
    * they happen inside the executor tasks instead. */
  def planTasks(spark: SparkSession, prefixes: Seq[String],
                maxObjectBytes: Long = 2200000000L): Seq[FileTask] = {
    val pairs = Catalog.withinSizeCap(Catalog.nonEmpty(Catalog.listPairs(spark, prefixes)), maxObjectBytes)
    pairs.flatMap { pair =>
      RecordProcessor.parseFilename(pair.dataPath).map { case (db, coll, n) =>
        FileTask(pair.dataPath, pair.metadataPath, db, coll, n)
      }
    }
  }

  /** Executor stage: decode + transform every file, one task per file.
    * A file whose metadata/decrypt/gunzip fails yields ONE
    * [[Status.UnreadableFile]] marker row (log-and-continue, like the
    * reference's per-file retry-then-skip) instead of failing the job. */
  def ingest(spark: SparkSession,
             tasks: Seq[FileTask],
             keys: KeyService,
             identity: Envelope.RunIdentity,
             timeFilter: TimeFilter = TimeFilter(),
             ivStrategy: IvStrategy = IvStrategy.Random): Dataset[IngestedRow] = {
    import spark.implicits._
    val confB = broadcastConf(spark)
    spark.createDataset(fileSlices(spark, tasks).flatMap(task =>
      fileRows(task, hadoopOpen(task, confB.value), keys, identity, timeFilter, ivStrategy, confB.value)))
  }

  /** The driver's Hadoop configuration, shipped to a job's tasks once. */
  private[graft] def broadcastConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))

  /** The batch opener: the data file through its Hadoop FileSystem. */
  private def hadoopOpen(task: FileTask, hadoopConf: SerializableConfiguration): () => java.io.InputStream =
    () => { val p = new Path(task.dataPath); p.getFileSystem(hadoopConf.value).open(p) }

  /** The tasks as an RDD with exactly one file per partition — the unit
    * of parallelism for non-splittable inputs. `parallelize` slices n
    * elements into n partitions of one each; a round-robin
    * `repartition(n)` leaves some partitions empty and others doubled. */
  private def fileSlices(spark: SparkSession, tasks: Seq[FileTask]): RDD[FileTask] =
    spark.sparkContext.parallelize(tasks, math.max(tasks.size, 1))

  /** All rows of one file, as a lazy iterator that survives mid-stream
    * decode failures (truncated gzip, wrong key, unreadable sidecar):
    * the failure point becomes a marker row and iteration ends. `open`
    * yields the encrypted bytes — the Hadoop file for batch, the landed
    * content for the stream — and the sidecar is read through
    * `hadoopConf` in both. */
  private[graft] def fileRows(task: FileTask,
                              open: () => java.io.InputStream,
                              keys: KeyService,
                              identity: Envelope.RunIdentity,
                              timeFilter: TimeFilter,
                              ivStrategy: IvStrategy,
                              hadoopConf: SerializableConfiguration): Iterator[IngestedRow] = {
    val manifestName = CsvEscape.manifestFileName(task.database, task.collection, task.fileNumber)

    def marker(lineNo: Long, e: Throwable): IngestedRow =
      IngestedRow(task.dataPath, lineNo, task.database, task.collection, "", manifestName,
        Status.UnreadableFile, Array.emptyByteArray, 0L, "", "", "", "",
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))

    // metadata + key + open + gzip header — any failure here marks the
    // whole file unreadable. (GZIPInputStream's constructor reads the
    // header, so a zero-byte data file with live metadata lands here.)
    val opened: Either[Throwable, java.io.BufferedReader] =
      try {
        val meta = Catalog.readMetadata(task.metadataPath, hadoopConf.value)
        val plain =
          if (meta.plaintextDatakey.nonEmpty) meta.plaintextDatakey // fixture-style metadata
          else keys.decryptKey(meta.keyEncryptionKeyId, meta.encryptedEncryptionKey)
        val raw = open()
        try Right(new java.io.BufferedReader(new java.io.InputStreamReader(
          Crypto.decompressingDecryptingStream(raw, plain, meta.initialisationVector), "UTF-8")))
        catch { case scala.util.control.NonFatal(e) => raw.close(); throw e }
      } catch {
        case e: Retry.FatalException => throw e // DKS 400: systemic, fail the job
        case scala.util.control.NonFatal(e) => Left(e)
      }

    opened match {
      case Left(e) => Iterator.single(marker(0L, e))
      case Right(reader) =>
        // batch-key fetch is outside the per-file catch: a key-service
        // outage is systemic and must fail the task, not silently mark
        // every file of the run unreadable
        val fileKey = keys.batchDataKey()
        val ctx = FileContext(task.database, task.collection, task.fileNumber, fileKey)
        new Iterator[IngestedRow] {
          private var lineNo = 0L
          private var pendingLine: String = null
          private var pendingMarker: IngestedRow = null
          private var done = false
          private def fetch(): Unit = {
            if (done || pendingLine != null || pendingMarker != null) return
            try {
              pendingLine = reader.readLine()
              if (pendingLine == null) { done = true; reader.close() }
            } catch {
              case scala.util.control.NonFatal(e) =>
                done = true
                try reader.close() catch { case _: Throwable => () }
                pendingMarker = marker(lineNo + 1, e)
            }
          }
          def hasNext: Boolean = { fetch(); pendingLine != null || pendingMarker != null }
          def next(): IngestedRow = {
            fetch()
            if (pendingMarker != null) { val m = pendingMarker; pendingMarker = null; m }
            else if (pendingLine != null) {
              val line = pendingLine; pendingLine = null; lineNo += 1
              processOne(line, lineNo)
            } else throw new NoSuchElementException("drained")
          }
          private def processOne(line: String, n: Long): IngestedRow = {
            val ivSource: () => Array[Byte] = () => ivStrategy.ivFor(task.dataPath, n)
            RecordProcessor.processLine(line, ctx, identity, ivSource) match {
              case Right(pr) =>
                IngestedRow(task.dataPath, n, pr.database, pr.collection, pr.tableName, manifestName,
                  Status.Ok, pr.rowkey, pr.version, pr.envelope, pr.innerType, pr.manifestLine,
                  timeFilter.status(pr.version).toString, "")
              case Left(SkipReason.MissingId(_)) =>
                IngestedRow(task.dataPath, n, task.database, task.collection, "", manifestName,
                  Status.MissingId, Array.emptyByteArray, 0L, "", "", "", "", "")
              case Left(SkipReason.Malformed(_)) =>
                IngestedRow(task.dataPath, n, task.database, task.collection, "", manifestName,
                  Status.Malformed, Array.emptyByteArray, 0L, "", "", "", "", "")
            }
          }
        }
    }
  }

  // ------------------------------------------------------------ sinks

  /** W4/W5 — one pipe-delimited CSV per input file, named
    * `db.<db>.<uncoalescedCollection>-%06d.csv`, in input line order.
    * Early/late records appear here even though F2 gates them off the
    * table path (golden behavior, UCHistoricDataImporterSpec.kt:129+).
    * Each manifest is written by [[spoolManifest]]; the group arrives
    * sorted by Spark's spill-capable flatMapSortedGroups. */
  def writeManifests(rows: Dataset[IngestedRow], store: ManifestStore): Unit = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.filter(_.status == Status.Ok)
      .map(r => (r.manifestFileName, r.lineNo, r.manifestLine))
      .groupByKey(_._1)
      .flatMapSortedGroups(col("_2")) { (file: String, it: Iterator[(String, Long, String)]) =>
        spoolManifest(file, store)(emit => it.foreach(t => emit(t._3)))
        Iterator.single(file)
      }
      // consume every element — an ignored iterator would never pull the
      // lazily-evaluated group writers above
      .foreach((_: String) => ())
  }

  /** One manifest, in the reference's two-phase shape
    * (StreamingManifestWriter.kt:14-56): `fill` streams lines through
    * the function it is given into a local spool file (no
    * whole-manifest string is ever built), then the spool uploads under
    * a bounded retry (10 immediate attempts) with the reference's S3
    * object metadata. A zero-byte manifest is skipped; one that still
    * fails after max attempts is logged and dropped (best effort, like
    * the reference), never failing the import. Returns what `fill`
    * returns. */
  def spoolManifest[T](file: String, store: ManifestStore)(fill: (String => Unit) => T): T = {
    val spool = java.io.File.createTempFile("graft-manifest-", ".csv")
    try {
      val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(spool))
      var bytes = 0L
      val out =
        try fill { line => val b = line.getBytes("UTF-8"); os.write(b); bytes += b.length }
        finally os.close()
      if (bytes > 0L) {
        try Retry.withRetry(Retry.Policy.manifest, s"manifest $file") {
          store.upload(file, spool, ManifestStore.metadataFor(file))
        } catch {
          case scala.util.control.NonFatal(e) =>
            graft.core.JsonLog.error("StreamingManifestWriter",
              "Failed to write manifest after max attempts - giving up",
              e, "manifest_file" -> file,
              "max_attempts" -> Retry.Policy.manifest.maxAttempts.toString)
        }
      }
      out
    } finally spool.delete()
  }

  /** W1 — byte-capped batching helper for push-style sinks (an HBase
    * `Table.put(List)` analogue): groups an iterator into batches whose
    * summed payload stays under `maxBytes`, always at least one element
    * per batch (HBaseWriter.kt:214-234). */
  def groupedByBytes[T](elems: Iterator[T], maxBytes: Long)(sizeOf: T => Long): Iterator[Seq[T]] = {
    val underlying = elems.buffered
    new Iterator[Seq[T]] {
      def hasNext: Boolean = underlying.hasNext
      def next(): Seq[T] = {
        val batch = Seq.newBuilder[T]
        var bytes = 0L
        var n = 0
        var done = false
        while (!done && underlying.hasNext) {
          val elemSize = sizeOf(underlying.head)
          if (n == 0 || bytes + elemSize < maxBytes) {
            batch += underlying.next()
            bytes += elemSize
            n += 1
          } else done = true
        }
        batch.result()
      }
    }
  }

  /** Run-mode gate (W6): which sinks to attach. */
  sealed trait RunMode
  object RunMode {
    case object Import extends RunMode
    case object Manifest extends RunMode
    case object ImportAndManifest extends RunMode
  }

  final case class RunResult(put: Long, filesProcessed: Long, recordsProcessed: Long,
                             skippedMissingId: Long, skippedMalformed: Long,
                             tooEarly: Long, tooLate: Long,
                             unreadableFiles: Long = 0L,
                             filteredExisting: Long = 0L)

  /** Whole job: catalog → decode/transform → sinks → counters (W7).
    *
    * ONE narrow Spark job, one task per file ([[pushFiles]]), and no
    * cache and no shuffle. The cells go to `pushStore`, or with none
    * given to a [[FileStore]] at `tableSinkDir`. Each successful task
    * reports its own counts and puts, and the driver sums them, so a
    * retried task is counted once. */
  def run(spark: SparkSession,
          inputPrefixes: Seq[String],
          tableSinkDir: String,
          manifestDir: String,
          keys: KeyService,
          identity: Envelope.RunIdentity,
          timeFilter: TimeFilter = TimeFilter(),
          ivStrategy: IvStrategy = IvStrategy.Random,
          runMode: RunMode = RunMode.ImportAndManifest,
          skipExisting: Boolean = true,
          maxObjectBytes: Long = 2200000000L,
          pushStore: Option[() => PushTableSink.Store] = None): RunResult = {
    val tasks = planTasks(spark, inputPrefixes, maxObjectBytes)
    val factory = pushStore.getOrElse(() => FileStore(tableSinkDir))
    val perFile = pushFiles(spark, tasks, keys, identity, timeFilter, ivStrategy,
      store = if (runMode == RunMode.Manifest) None else Some(factory),
      config = PushTableSink.Config(skipExisting = skipExisting),
      manifestDir = if (runMode == RunMode.Import) None else Some(manifestDir))
    val byStatus = perFile.flatMap(_._1).groupMapReduce(_._1)(_._2)(_ + _)
    val put = perFile.map(_._2).sum
    def total(status: String): Long =
      byStatus.collect { case ((s, _), n) if s == status => n }.sum
    RunResult(put,
      filesProcessed = tasks.size.toLong,
      recordsProcessed = total(Status.Ok),
      skippedMissingId = total(Status.MissingId),
      skippedMalformed = total(Status.Malformed),
      tooEarly = byStatus.getOrElse((Status.Ok, "FilterTooEarly"), 0L),
      tooLate = byStatus.getOrElse((Status.Ok, "FilterTooLate"), 0L),
      unreadableFiles = total(Status.UnreadableFile),
      // F5 visibility: writable records minus records actually put =
      // cells the existence skip filtered (the reference declares this
      // counter but its filter never returns FilterExists — here the
      // skip path is real, so the counter is too). Import-off and
      // skipExisting=false runs report 0 by construction.
      filteredExisting =
        if (runMode == RunMode.Manifest || !skipExisting) 0L
        else byStatus.getOrElse((Status.Ok, "DoNotFilter"), 0L) - put)
  }

  /** The run's one job: each task streams its file's rows once, in
    * line order, through the puts into `store` (see
    * [[PushTableSink.putAll]]) and the file's manifest spool into
    * `manifestDir` (see [[spoolManifest]]) — the reference's
    * worker-per-file with its StreamingManifestWriter. Returns per file
    * its rows by (status, filterStatus) and the cells it put. */
  private def pushFiles(spark: SparkSession,
                        tasks: Seq[FileTask],
                        keys: KeyService,
                        identity: Envelope.RunIdentity,
                        timeFilter: TimeFilter,
                        ivStrategy: IvStrategy,
                        store: Option[() => PushTableSink.Store],
                        config: PushTableSink.Config,
                        manifestDir: Option[String]): Array[(Map[(String, String), Long], Long)] = {
    val confB = broadcastConf(spark)
    fileSlices(spark, tasks).map { task =>
      val hadoopConf = confB.value
      val manifests = manifestDir.map(ManifestStore.HadoopFs(_, hadoopConf))
      val counts = mutable.HashMap.empty[(String, String), Long]
      def stream(emit: String => Unit): Long = {
        val rows = fileRows(task, hadoopOpen(task, hadoopConf), keys, identity, timeFilter, ivStrategy,
          hadoopConf).map { r =>
          val k = (r.status, r.filterStatus)
          counts(k) = counts.getOrElse(k, 0L) + 1L
          if (r.status == Status.Ok) emit(r.manifestLine)
          r
        }
        store match {
          case Some(factory) =>
            PushTableSink.putAll(rows.filter(PushTableSink.isPut).map(PushTableSink.cellOf), factory(), config)
          case None => rows.foreach(_ => ()); 0L
        }
      }
      val put = manifests match {
        case Some(m) =>
          spoolManifest(CsvEscape.manifestFileName(task.database, task.collection, task.fileNumber), m)(stream)
        case None => stream(_ => ())
      }
      (counts.toMap, put)
    }.collect()
  }
}
