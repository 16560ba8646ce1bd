package graft.streaming

import graft.core.{Envelope, RecordProcessor}
import graft.ingest.{IngestPipeline, KeyService}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming file-arrival ingestion: the core record engine driven by
  * Structured Streaming's file source instead of a one-shot catalog.
  * New `*.json.gz.enc` dumps landing under the watched prefix are
  * decoded and transformed by the batch path's own per-file decoder
  * ([[IngestPipeline.fileRows]]), so a landed file yields the same rows
  * as a batch run over it — marker rows of unreadable or truncated
  * files included — with the stream giving exactly-once file
  * processing via the source's checkpoint log.
  *
  * Uses `format("binaryFile")`, so one input file is one row (content
  * in memory): the right shape for steady dump-feed ingestion of
  * normal-size files. No size cap is applied here (the batch catalog's
  * `object.maximum.size` filter is not on this path), so a multi-GB
  * dump belongs on the batch path.
  *
  * Scale shape: `maxFilesPerTrigger` bounds a micro-batch; each file
  * decodes independently (narrow), and sinks are idempotent per
  * (key, version), so replayed triggers are safe — the same
  * determinism argument as batch task retry.
  */
object StreamingIngest {

  /** Start reading dump files as a stream of decoded records. The
    * metadata sidecars are resolved per file at decode time (driver
    * lists only once per micro-batch trigger). */
  def records(spark: SparkSession,
              inputDir: String,
              keys: KeyService,
              identity: Envelope.RunIdentity,
              maxFilesPerTrigger: Int = 16,
              ivStrategy: IngestPipeline.IvStrategy = IngestPipeline.IvStrategy.Random,
              timeFilter: RecordProcessor.TimeFilter = RecordProcessor.TimeFilter()): Dataset[IngestPipeline.IngestedRow] = {
    import spark.implicits._
    // ship the session's Hadoop configuration to the decode tasks so the
    // sidecar read resolves the same filesystems (s3a credentials,
    // endpoints, custom schemes) as every other executor-side read
    val confB = IngestPipeline.broadcastConf(spark)
    val files = spark.readStream
      .format("binaryFile")
      // the binaryFile source's fixed schema — streaming sources require
      // it stated explicitly
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY"))
      .option("pathGlobFilter", "*.json.gz.enc")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(inputDir)
      .select(col("path"), col("content"))
    files.as[(String, Array[Byte])].mapPartitions { it =>
      it.flatMap { case (path, content) =>
        RecordProcessor.parseFilename(path).iterator.flatMap { case (db, coll, n) =>
          val task = IngestPipeline.FileTask(path, path.replaceFirst("\\.gz\\.enc$", ".encryption.json"), db, coll, n)
          IngestPipeline.fileRows(task, () => new java.io.ByteArrayInputStream(content),
            keys, identity, timeFilter, ivStrategy, confB.value)
        }
      }
    }
  }
}
