package graft.ingest

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** An object-store-shaped Hadoop FileSystem under its own scheme
  * (`s3stub://`), backed by local disk — the offline stand-in that
  * proves the two ingest seams bound to the reference's S3 surface are
  * FileSystem-GENERIC rather than file://-specific:
  *
  *  - catalog listing (S1/S2) — `reference:S3Configuration.kt:35-40`,
  *    `S3Reader.kt:42-125`: [[Catalog.listPairs]] resolves each prefix
  *    through `Path.getFileSystem`, so an `s3stub://` prefix exercises
  *    the exact code path an `s3a://` bucket would on a cluster
  *    (scheme-qualified statuses, recursive listing, metadata reads on
  *    executors via the broadcast configuration);
  *  - manifest upload (W5) — `StreamingManifestWriter.kt:14-56`:
  *    [[ManifestStore.HadoopFs]] creates the object through the same
  *    resolved FileSystem, overwrite-idempotent like an S3 put.
  *
  * Deliberately minimal and object-store-semantic: immutable objects
  * (no append), implicit key prefixes (create materializes parents, a
  * bare mkdirs is accepted and meaningless), no permission model, no
  * checksum sidecars. NOT a full FileSystem — exactly the surface the
  * ingest seams use, so anything new reaching for more fails loudly
  * here instead of silently assuming local-FS semantics. Registered
  * per-job via `fs.s3stub.impl=graft.ingest.S3StubFileSystem`; a real
  * deployment sets `fs.s3a.impl`+credentials instead and no engine
  * code changes. */
class S3StubFileSystem extends FileSystem {

  private var fsUri: URI = URI.create("s3stub:///")
  private var workDir: Path = new Path("s3stub:///")

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    fsUri = URI.create(s"${name.getScheme}:///")
    setConf(conf)
  }

  override def getScheme: String = "s3stub"
  override def getUri: URI = fsUri

  /** s3stub:///abs/key → the backing local file /abs/key */
  private def local(f: Path): File = new File(f.toUri.getPath)

  private def qualify(file: File): Path =
    new Path(fsUri.getScheme, null, file.getAbsolutePath)

  private def status(file: File): FileStatus =
    new FileStatus(file.length(), file.isDirectory, 1, 32 * 1024 * 1024,
      file.lastModified(), qualify(file))

  override def getFileStatus(f: Path): FileStatus = {
    val file = local(f)
    if (!file.exists()) throw new FileNotFoundException(f.toString)
    status(file)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    val file = local(f)
    if (!file.exists()) throw new FileNotFoundException(f.toString)
    if (file.isFile) Array(status(file))
    else Option(file.listFiles()).getOrElse(Array.empty).sortBy(_.getName).map(status)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val file = local(f)
    if (!file.exists()) throw new FileNotFoundException(f.toString)
    new FSDataInputStream(new S3StubFileSystem.SeekableFileInput(file))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    val file = local(f)
    if (file.exists() && !overwrite) throw new IOException(s"object exists: $f")
    // object store: key prefixes materialize implicitly on put
    Option(file.getParentFile).foreach(_.mkdirs())
    new FSDataOutputStream(new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(file)), null)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("s3stub objects are immutable — no append")

  override def rename(src: Path, dst: Path): Boolean =
    local(src).renameTo(local(dst))

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val file = local(f)
    if (file.isDirectory && !recursive && Option(file.list()).exists(_.nonEmpty))
      throw new IOException(s"non-empty without recursive: $f")
    if (file.isDirectory && recursive) org.apache.commons.io.FileUtils.deleteQuietly(file)
    else file.delete()
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    local(f).mkdirs(); true // prefixes are implicit in an object store
  }

  override def setWorkingDirectory(dir: Path): Unit = workDir = dir
  override def getWorkingDirectory: Path = workDir
}

object S3StubFileSystem {
  /** Seekable read stream over the backing file (FSDataInputStream
    * requires Seekable + PositionedReadable; FSInputStream supplies the
    * positioned-read defaults on top of seek/read). */
  private final class SeekableFileInput(file: File) extends FSInputStream {
    private val raf = new java.io.RandomAccessFile(file, "r")
    override def seek(pos: Long): Unit = raf.seek(pos)
    override def getPos: Long = raf.getFilePointer
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(): Int = raf.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int = raf.read(b, off, len)
    override def close(): Unit = raf.close()
  }
}
