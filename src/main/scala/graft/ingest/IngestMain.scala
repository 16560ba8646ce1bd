package graft.ingest

import graft.core.{DateFmt, Envelope}
import graft.core.RecordProcessor.TimeFilter
import org.apache.spark.sql.SparkSession

/** The whole-job entry point — the `spark-submit` face of the engine,
  * accepting the reference's configuration surface as `key=value` args
  * (reference property names, JobConfiguration.kt /
  * application.properties):
  *
  *   input.prefixes        comma-separated input dirs/URIs   (s3.prefix.folder + suffixes)
  *   table.sink.dir        local or mounted directory (or file: URI) of
  *                         the FileStore versioned-cell store (HBase
  *                         stand-in), written through PushTableSink: DDL
  *                         on first sight, byte-capped batches, bounded
  *                         retry, per-batch existence skip
  *   manifest.dir          manifest output                   (s3.manifest.prefix.folder)
  *   run-mode              import | manifest | import_and_manifest (default)
  *   skip.existing.records true|false (default true)         (F5)
  *   skip.earlier.than     ISO date-time, optional           (F2 lower bound)
  *   skip.later.than       ISO date-time, optional           (F2 upper bound)
  *   object.maximum.size   bytes, default 2200000000         (F1)
  *   dks.url               key-service URL; absent → fixture-mode
  *                         (plaintext keys from *.encryption.json)
  *   correlation.id        traceId for the envelope
  *   hdi.version           envelope version string
  *
  * Example:
  *   spark-submit --class graft.ingest.IngestMain <jar> \
  *     input.prefixes=s3a://bucket/dumps table.sink.dir=/mnt/cells \
  *     manifest.dir=s3a://bucket/manifests skip.earlier.than=2010-01-01T00:00:00.000Z
  */
object IngestMain {

  /** every key `main` reads */
  private val Keys = Seq("input.prefixes", "table.sink.dir", "manifest.dir", "run-mode",
    "skip.existing.records", "skip.earlier.than", "skip.later.than", "object.maximum.size",
    "dks.url", "correlation.id", "hdi.version")

  def main(args: Array[String]): Unit = {
    // an argument main does not read would run an import on defaults
    // and report nothing: a typo or a retired key fails by name
    val conf: Map[String, String] = args.map { a =>
      val i = a.indexOf('=')
      if (i < 0 || !Keys.contains(a.take(i))) throw new IllegalArgumentException(
        s"unknown argument $a; expected key=value with a key among ${Keys.mkString(", ")}")
      a.take(i) -> a.drop(i + 1)
    }.toMap

    def required(k: String): String =
      conf.getOrElse(k, throw new IllegalArgumentException(s"missing required arg $k=<value>"))

    def oneOf[T](k: String, default: String)(choices: (String, T)*): T = {
      val v = conf.getOrElse(k, default)
      choices.collectFirst { case (`v`, t) => t }.getOrElse(throw new IllegalArgumentException(
        s"unknown $k=$v; expected one of ${choices.map(_._1).mkString(" | ")}"))
    }

    // a value that does not parse names its key=value, not just the value
    def parsed[T](k: String)(parse: String => T): Option[T] =
      conf.get(k).map { v =>
        try parse(v) catch {
          case scala.util.control.NonFatal(e) =>
            throw new IllegalArgumentException(s"bad $k=$v: ${e.getMessage}", e)
        }
      }

    // validate before building a session so bad invocations fail fast
    val inputPrefixes = required("input.prefixes").split(',').toSeq
    val tableSinkDir = parsed("table.sink.dir")(localDir).getOrElse(required("table.sink.dir"))
    val manifestDir = required("manifest.dir")
    val runMode = oneOf("run-mode", "import_and_manifest")(
      "import" -> IngestPipeline.RunMode.Import,
      "manifest" -> IngestPipeline.RunMode.Manifest,
      "import_and_manifest" -> IngestPipeline.RunMode.ImportAndManifest)
    val skipExisting = parsed("skip.existing.records")(_.toBoolean).getOrElse(true)
    val maxObjectBytes = parsed("object.maximum.size")(_.toLong).getOrElse(2200000000L)
    val timeFilter = TimeFilter(
      earlierThan = parsed("skip.earlier.than")(DateFmt.timestampAsLong).getOrElse(Long.MinValue),
      laterThan = parsed("skip.later.than")(DateFmt.timestampAsLong).getOrElse(Long.MaxValue))

    // under spark-submit we own the session; under tests we reuse (and
    // must not stop) the caller's
    val preExisting = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = SparkSession.builder()
      .appName("graft-ingest")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      val keys: KeyService = conf.get("dks.url") match {
        case Some(url) => HttpKeyService(url)
        case None => StubKeyService()
      }
      val identity = Envelope.RunIdentity.live(
        traceId = conf.getOrElse("correlation.id", "NOT_SET"),
        hdiVersion = conf.getOrElse("hdi.version", "graft"))
      // X3: every structured log line of this run carries the id
      graft.core.JsonLog.correlationId = conf.getOrElse("correlation.id", graft.core.JsonLog.UnsetText)
      graft.core.JsonLog.info("IngestMain", "Starting import",
        "input_prefixes" -> inputPrefixes.mkString(","), "run_mode" -> conf.getOrElse("run-mode", "import_and_manifest"))

      val result = IngestPipeline.run(spark,
        inputPrefixes = inputPrefixes,
        tableSinkDir = tableSinkDir,
        manifestDir = manifestDir,
        keys = keys,
        identity = identity,
        timeFilter = timeFilter,
        runMode = runMode,
        skipExisting = skipExisting,
        maxObjectBytes = maxObjectBytes)

      // the reference's end-of-run counter log (HBaseWriter.kt:309-318)
      println(s"""{"files": ${result.filesProcessed}, "records": ${result.recordsProcessed}, """ +
        s""""put": ${result.put}, "skipped_missing_id": ${result.skippedMissingId}, """ +
        s""""skipped_malformed": ${result.skippedMalformed}, "too_early": ${result.tooEarly}, """ +
        s""""too_late": ${result.tooLate}, "unreadable_files": ${result.unreadableFiles}, """ +
        s""""filtered_existing": ${result.filteredExisting}}""")
      graft.core.JsonLog.info("IngestMain", "Import complete",
        "files" -> result.filesProcessed.toString, "records" -> result.recordsProcessed.toString,
        "put" -> result.put.toString, "unreadable_files" -> result.unreadableFiles.toString)
    } finally if (preExisting.isEmpty) spark.stop()
  }

  /** The cell store is a local directory: a `file:` URI resolves to its
    * path, and any other scheme is refused — the store would read
    * `s3a://b/c` as the relative path `s3a:/b/c` and write there. */
  private def localDir(dir: String): String = {
    val uri = new org.apache.hadoop.fs.Path(dir).toUri
    Option(uri.getScheme) match {
      case None => dir
      case Some("file") => uri.getPath
      case Some(scheme) => throw new IllegalArgumentException(
        s"the cell store is a local directory, not a $scheme: URI")
    }
  }
}
