package graft.ingest

import java.nio.file.{Files, StandardCopyOption}
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.util.SerializableConfiguration

/** W5's upload boundary — where a finished manifest spool file becomes a
  * durable object. The reference uploads to S3 with object metadata
  * `contentType=text/plain` and `x-amz-meta-title=<fileName>`
  * (StreamingManifestWriter.kt:53-58); [[ManifestStore.metadataFor]] is
  * that contract, carried here so ANY implementation receives it:
  * the Hadoop-FS impl has no metadata analogue and ignores it (paths
  * carry the name), while an S3-client impl — or the S3-shaped test
  * fake — applies it verbatim.
  *
  * One upload call per manifest file, executor-side, already inside the
  * pipeline's 10-attempt retry; implementations only need to be
  * overwrite-idempotent (same name → same content wins). */
trait ManifestStore extends Serializable {
  def upload(fileName: String, spool: java.io.File, metadata: ManifestStore.ObjectMetadata): Unit
}

object ManifestStore {

  /** The reference's S3 object metadata for a manifest upload. */
  final case class ObjectMetadata(contentType: String, title: String)

  /** contentType/title the reference sets on every manifest object. */
  def metadataFor(fileName: String): ObjectMetadata =
    ObjectMetadata(contentType = "text/plain", title = fileName)

  /** Hadoop-filesystem-backed store (local dirs, HDFS, s3a, ...): a
    * plain `create(overwrite=true)` + stream copy, or a file copy into a
    * local directory. FS semantics have no object-metadata channel; the
    * S3 metadata contract rides along in the signature so swapping in a
    * real S3 client changes one class. */
  final case class HadoopFs(manifestDir: String, conf: SerializableConfiguration) extends ManifestStore {
    override def upload(fileName: String, spool: java.io.File, metadata: ObjectMetadata): Unit = {
      val out = new Path(manifestDir, fileName)
      out.getFileSystem(conf.value) match {
        // a local directory is written through java.nio: without native
        // Hadoop the local FileSystem's create runs `chmod` as a child
        // process on the file, its .crc sidecar and a new directory
        case local: LocalFileSystem =>
          val target = local.pathToFile(out).toPath
          Files.createDirectories(target.getParent)
          Files.copy(spool.toPath, target, StandardCopyOption.REPLACE_EXISTING)
          Files.deleteIfExists(target.resolveSibling(s".$fileName.crc")) // would fail checksummed reads
        case fs =>
          val o = fs.create(out, true)
          try Files.copy(spool.toPath, o) finally o.close()
      }
    }
  }
}
