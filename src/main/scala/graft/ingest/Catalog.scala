package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** S1-S4 + E1 — the file-pair catalog.
  *
  * The reference lists S3 under configured prefixes, pairs every data
  * object (`<db>.<coll>.<n>.json.gz.enc`) with its sibling metadata
  * object (`...json.encryption.json`) by filename stem, drops zero-byte
  * pairs and oversized objects, and fails when a data file has no
  * metadata (S3Reader.kt:79-125, KeyPairGenerator.kt:10-51,
  * ObjectSizeFilter.kt:12-21).
  *
  * The catalog is driver-side: it is file-listing-sized (one row per
  * input file), never data-sized, so a 100 TB run with ~100k dump files
  * is still a trivially small driver list — the heavy work happens in
  * the executor-side per-file decoder ([[IngestPipeline.fileRows]]). Listing goes
  * through the Hadoop FileSystem API so local paths in tests and
  * s3a:// URIs on a cluster behave identically, pagination included.
  */
object Catalog {

  /** One pairable input unit. Sizes kept for the S4/F1 filters. */
  final case class FilePair(stem: String,
                            dataPath: String,
                            metadataPath: String,
                            dataSize: Long,
                            metadataSize: Long)

  /** E1 — parsed `*.encryption.json` side input. Mandatory non-blank:
    * keyEncryptionKeyId, encryptedEncryptionKey, initialisationVector
    * (EncryptionMetadataProcessor.kt:34-47); unknown fields ignored;
    * plaintextDatakey present only in test fixtures. */
  final case class EncryptionMetadata(keyEncryptionKeyId: String,
                                      plaintextDatakey: String,
                                      encryptedEncryptionKey: String,
                                      initialisationVector: String)

  final case class CatalogException(msg: String) extends RuntimeException(msg)

  private val DataSuffix = ".json.gz.enc"
  private val MetadataSuffix = ".json.encryption.json"
  /** stem regex from S3Reader.kt:30-37 (`[\w-]+\.[\w-]+\.[0-9]+\.json`),
    * case-insensitive to agree with RecordProcessor.FilenamePattern's
    * `(?i)` — an uppercase-extension dump must pair here exactly when
    * parseFilename would accept it, not silently drop. */
  private val StemPattern = "(?i)[\\w-]+\\.[\\w-]+\\.[0-9]+\\.json".r

  /** lowercased so case-variant stems group (and sort) together */
  private def stemOf(name: String): Option[String] =
    StemPattern.findFirstIn(name).map(_.toLowerCase)

  /** S1+S2 — list every object under the prefixes and pair data with
    * metadata by stem. Throws when a data file lacks metadata (the
    * reference's KeyPairGenerator.kt:40-51 contract); metadata without
    * data is only dropped. */
  def listPairs(spark: SparkSession, prefixes: Seq[String]): Seq[FilePair] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // walked through listStatus (one LIST per directory on S3A): listFiles
    // builds a LocatedFileStatus per object, whose constructor reads the
    // permission, which on a local filesystem without native Hadoop runs
    // `ls -ld` as a child process
    def walk(fs: FileSystem, dir: Path): Seq[(String, Long)] = fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) walk(fs, st.getPath)
      else if (st.isFile) Seq((st.getPath.toString, st.getLen))
      else Nil
    }
    val all: Seq[(String, Long)] = prefixes.flatMap { prefix =>
      val p = new Path(prefix)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) walk(fs, p) else Nil
    }
    val byStem = all.flatMap { case (path, size) =>
      val name = new Path(path).getName
      stemOf(name).map(stem => (stem, name, path, size))
    }.groupBy(_._1)

    byStem.toSeq.sortBy(_._1).flatMap { case (stem, files) =>
      val data = files.find(_._2.toLowerCase.endsWith(DataSuffix))
      val meta = files.find(_._2.toLowerCase.endsWith(MetadataSuffix))
      (data, meta) match {
        case (Some(d), Some(m)) => Some(FilePair(stem, d._3, m._3, d._4, m._4))
        case (Some(d), None) =>
          throw CatalogException(s"data file without metadata: ${d._3}")
        case _ => None // metadata-only: logged-and-dropped in the reference
      }
    }
  }

  /** S4 — drop pairs where both objects are zero bytes. */
  def nonEmpty(pairs: Seq[FilePair]): Seq[FilePair] =
    pairs.filter(p => p.dataSize > 0 || p.metadataSize > 0)

  /** F1 — reject data objects over the size cap (default 2.2 GB,
    * ContextConfiguration.kt:47-48). */
  def withinSizeCap(pairs: Seq[FilePair], maxBytes: Long = 2200000000L): Seq[FilePair] =
    pairs.filter(_.dataSize <= maxBytes)

  /** E1 — read + validate the metadata object. The Configuration
    * overload is executor-safe: pass the broadcast
    * SerializableConfiguration's value so s3a credentials/endpoints
    * resolve identically to the driver. */
  def readMetadata(path: String, conf: org.apache.hadoop.conf.Configuration): EncryptionMetadata = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    parseMetadata(text, path)
  }

  def readMetadata(spark: SparkSession, path: String): EncryptionMetadata =
    readMetadata(path, spark.sparkContext.hadoopConfiguration)

  def parseMetadata(text: String, context: String): EncryptionMetadata = {
    import graft.core.{JStr, Json}
    val o = try Json.parseObject(text)
    catch { case e: Exception => throw CatalogException(s"unparseable metadata $context: ${e.getMessage}") }
    def str(k: String): String = o.get(k) match {
      case Some(JStr(s)) => s
      case _ => ""
    }
    val m = EncryptionMetadata(str("keyEncryptionKeyId"), str("plaintextDatakey"),
      str("encryptedEncryptionKey"), str("initialisationVector"))
    if (m.keyEncryptionKeyId.trim.isEmpty || m.encryptedEncryptionKey.trim.isEmpty || m.initialisationVector.trim.isEmpty)
      throw CatalogException(s"incomplete metadata $context")
    m
  }
}
