package perfbench

import graft.ingest.FileStore
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Base64, SplittableRandom}
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** What a cell store must hold, table by table, as the benchmark knows
  * it independently of the engine. `owner` names the input file a cell
  * came from (-1 when there is none), so a failed read can be charged
  * to the file whose output it checks. */
trait ExpectedStore {
  def tables: Seq[String]
  def cells(table: String): Long
  /** (bit_xor, sum of low 32 bits) of xxhash64(rowkey, version). */
  def digest(table: String): (Long, Long)
  def versionPivot(table: String): Long
  def cellsAtOrAbove(table: String): Long
  def presentKey(table: String, rng: SplittableRandom): Array[Byte]
  /** Up to `n` distinct present keys (all of them when `n` ≥ the table). */
  def presentKeys(table: String, n: Int, rng: SplittableRandom): Seq[Array[Byte]]
  def absentKey(table: String, rng: SplittableRandom): Array[Byte]
  /** Every version the key holds, ascending; empty when absent. */
  def versions(table: String, key: Array[Byte]): Seq[Long]
  def bodyOk(table: String, key: Array[Byte], version: Long, body: Array[Byte]): Boolean
  def owner(table: String, key: Array[Byte]): Int
  /** Owners of the expected cells that are not among `have`. */
  def missing(table: String, have: Set[(ByteBuffer, Long)]): Seq[Int]
  /** Input bytes the store was made from (for the on-disk ratio). */
  def logicalBytes: Long
}

object ExpectedStore {
  /** Spark-side digest per table of a (table, rowkey, version) frame —
    * the same expressions the store scan is checked with. */
  def digestsOf(df: DataFrame): Map[String, (Long, Long)] = {
    val h = xxhash64(col("rowkey"), col("version"))
    df.groupBy("table").agg(bit_xor(h), sum(h.bitwiseAND(lit(0xffffffffL)))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }
}

/** The import's expected output: one cell per ok record of the ledger,
  * whose envelope's `dbObject` decrypts with the batch key to the
  * generator's transformed record. */
final class ImportExpect(spark: SparkSession, ledger: Corpus.Ledger, batchKey: String) extends ExpectedStore {
  private final case class Cell(file: Int, e: Corpus.Expected)
  private val byTable: Map[String, IndexedSeq[Cell]] =
    ledger.files.zipWithIndex.flatMap { case (f, i) => f.cells.map(e => f.table -> Cell(i, e)) }
      .groupBy(_._1).map { case (t, cs) => t -> cs.map(_._2).toIndexedSeq }
  private val byKey: Map[(String, ByteBuffer), Cell] =
    byTable.flatMap { case (t, cs) => cs.map(c => (t, ByteBuffer.wrap(c.e.rowkey)) -> c) }
  private val digests: Map[String, (Long, Long)] = {
    import spark.implicits._
    ExpectedStore.digestsOf(byTable.toSeq.flatMap { case (t, cs) => cs.map(c => (t, c.e.rowkey, c.e.version)) }
      .toDF("table", "rowkey", "version"))
  }
  private val pivots: Map[String, Long] =
    byTable.map { case (t, cs) => t -> cs.map(_.e.version).sorted.apply(cs.size * 3 / 4) }

  def tables: Seq[String] = ledger.tables
  def cells(table: String): Long = byTable(table).size.toLong
  def digest(table: String): (Long, Long) = digests(table)
  def versionPivot(table: String): Long = pivots(table)
  def cellsAtOrAbove(table: String): Long = byTable(table).count(_.e.version >= pivots(table)).toLong
  def presentKey(table: String, rng: SplittableRandom): Array[Byte] = {
    val cs = byTable(table)
    cs(rng.nextInt(cs.size)).e.rowkey
  }
  def presentKeys(table: String, n: Int, rng: SplittableRandom): Seq[Array[Byte]] = {
    val cs = byTable(table).toArray
    val k = math.min(n, cs.length)
    (0 until k).foreach { i => // partial Fisher-Yates
      val j = i + rng.nextInt(cs.length - i)
      val t = cs(i); cs(i) = cs(j); cs(j) = t
    }
    cs.take(k).map(_.e.rowkey).toSeq
  }
  def absentKey(table: String, rng: SplittableRandom): Array[Byte] =
    Corpus.rowkey(Corpus.sortedId(Seq("someId" -> s"absent-${rng.nextLong()}")))
  def versions(table: String, key: Array[Byte]): Seq[Long] =
    byKey.get((table, ByteBuffer.wrap(key))).map(_.e.version).toSeq
  def owner(table: String, key: Array[Byte]): Int =
    byKey.get((table, ByteBuffer.wrap(key))).map(_.file).getOrElse(-1)
  def logicalBytes: Long = ledger.plainBytes
  def missing(table: String, have: Set[(ByteBuffer, Long)]): Seq[Int] =
    byTable(table).filterNot(c => have((ByteBuffer.wrap(c.e.rowkey), c.e.version))).map(_.file).distinct

  private val DbObject = "\"dbObject\": \"([^\"]*)\"".r
  private val Iv = "\"initialisationVector\": \"([^\"]*)\"".r
  private val keySpec = new SecretKeySpec(Base64.getDecoder.decode(batchKey), "AES")

  /** The envelope's record, decrypted with the batch key, equals the
    * transformed record the generator predicted. */
  def bodyOk(table: String, key: Array[Byte], version: Long, body: Array[Byte]): Boolean =
    byKey.get((table, ByteBuffer.wrap(key))).exists { c =>
      val envelope = new String(body, UTF_8)
      (DbObject.findFirstMatchIn(envelope), Iv.findFirstMatchIn(envelope)) match {
        case (Some(d), Some(iv)) =>
          val cipher = Cipher.getInstance("AES/CTR/NoPadding")
          cipher.init(Cipher.DECRYPT_MODE, keySpec, new IvParameterSpec(Base64.getDecoder.decode(iv.group(1))))
          c.e.version == version &&
            new String(cipher.doFinal(Base64.getDecoder.decode(d.group(1))), UTF_8) == c.e.body
        case _ => false
      }
    }
}

/** The `store_read` table: `keys` rowkeys shaped like the import's
  * (CRC32 prefix + id JSON), one in eight holding a second, newer
  * version; seeded bodies of 60–250 bytes. Every cell is a pure
  * function of (seed, key index), so the same function builds the
  * store and answers what it must return. */
final class StoreReadExpect(spark: SparkSession, seed: Long, keys: Int) extends ExpectedStore {
  import StoreReadExpect._
  private val pivot = Base + Span * 3 / 4 // about a quarter of the versions lie above
  private val expectedDigest =
    ExpectedStore.digestsOf(cellsFrame(spark, seed, keys).withColumnRenamed("tableName", "table"))(Table)
  private var cellCount = 0L
  private var bytes = 0L
  private var above = 0L
  (0 until keys).foreach { i =>
    cellsOf(seed, i).foreach { case (_, k, v, b) =>
      cellCount += 1; bytes += k.length + b.length
      if (v >= pivot) above += 1
    }
  }

  def tables: Seq[String] = Seq(Table)
  def cells(table: String): Long = cellCount
  def digest(table: String): (Long, Long) = expectedDigest
  def versionPivot(table: String): Long = pivot
  def cellsAtOrAbove(table: String): Long = above
  def presentKey(table: String, rng: SplittableRandom): Array[Byte] = keyOf(seed, rng.nextInt(keys))
  def presentKeys(table: String, n: Int, rng: SplittableRandom): Seq[Array[Byte]] = {
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < math.min(n, keys)) picked += rng.nextInt(keys)
    picked.toSeq.map(keyOf(seed, _))
  }
  def absentKey(table: String, rng: SplittableRandom): Array[Byte] = keyOf(seed, keys + rng.nextInt(keys))
  /** Key text is {"id":"k<seed>-<i>"}: the index is read back from it. */
  private def index(key: Array[Byte]): Int = {
    val s = new String(key, 4, key.length - 4, UTF_8)
    val i = scala.util.Try(s.substring(s.lastIndexOf('-') + 1, s.length - 2).toInt).getOrElse(-1)
    if (i >= 0 && java.util.Arrays.equals(keyOf(seed, i), key)) i else -1
  }
  def versions(table: String, key: Array[Byte]): Seq[Long] = {
    val i = index(key)
    if (i < 0 || i >= keys) Nil else versionsOf(seed, i)
  }
  def bodyOk(table: String, key: Array[Byte], version: Long, body: Array[Byte]): Boolean =
    versions(table, key).contains(version) && java.util.Arrays.equals(bodyOf(seed, index(key), version), body)
  def owner(table: String, key: Array[Byte]): Int = -1
  def missing(table: String, have: Set[(ByteBuffer, Long)]): Seq[Int] = Nil
  def logicalBytes: Long = bytes
}

object StoreReadExpect {
  val Table = "bench:cells"
  private val Base = java.time.Instant.parse("2015-01-01T00:00:00Z").toEpochMilli
  private val Span = 5L * 365 * 86400000L

  def keyOf(seed: Long, i: Int): Array[Byte] =
    Corpus.rowkey(Corpus.sortedId(Seq("id" -> s"k${java.lang.Long.toHexString(seed)}-$i")))

  private def rngOf(seed: Long, i: Long): SplittableRandom = new SplittableRandom(seed * 1000003L + i)

  def versionsOf(seed: Long, i: Int): Seq[Long] = {
    val rng = rngOf(seed, i)
    val v1 = Base + rng.nextLong(Span)
    if (rng.nextInt(8) == 0) Seq(v1, v1 + 1 + rng.nextLong(86400000L)) else Seq(v1)
  }

  def bodyOf(seed: Long, i: Int, version: Long): Array[Byte] = {
    val rng = new SplittableRandom(seed ^ (i.toLong << 20) ^ version)
    val b = new Array[Byte](60 + rng.nextInt(191))
    rng.nextBytes(b)
    b
  }

  def cellsOf(seed: Long, i: Int): Seq[(String, Array[Byte], Long, Array[Byte])] = {
    val k = keyOf(seed, i)
    versionsOf(seed, i).map(v => (Table, k, v, bodyOf(seed, i, v)))
  }

  /** (tableName, rowkey, version, body), generated on the executors. */
  def cellsFrame(spark: SparkSession, seed: Long, keys: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, keys.toLong, 1L, 16).as[Long]
      .flatMap(i => cellsOf(seed, i.toInt))
      .toDF("tableName", "rowkey", "version", "body")
  }
}

/** One pass of reads against a store, each answer checked:
  * a full `graft-cells` scan with bodies per table (count + digest),
  * a rowkey `IN` batch per table (exact cells and bodies), a
  * `version >=` slice per table (count), and seeded `getLatest` point
  * gets (expected latest version and body, or absence). */
object ReadBack {

  final case class Stats(wallS: Double, scanS: Double, scanCells: Long, scanBodyBytes: Long,
                         inS: Double, inCells: Long, rangeS: Double, rangeCells: Long,
                         lookupNs: Array[Long], lookupHits: Long,
                         ops: Long, failedOps: Long, badOwners: Set[Int], problems: Seq[String])

  final case class Plan(inPresent: Int, inAbsent: Int, lookups: Int, versionSlice: Boolean)

  private def cellsDf(spark: SparkSession, root: String, table: String): DataFrame =
    spark.read.format("graft-cells").option("root", root).option("table", table).load()

  /** Reads `ts`, tables of the store; `traced` tags each read kind with
    * its own Spark job group. */
  def run(spark: SparkSession, root: String, expect: ExpectedStore, ts: Seq[String], plan: Plan,
          rng: SplittableRandom, traced: Boolean): Stats = {
    def group(name: String)(f: => Unit): Double =
      if (traced) Trace.span(spark.sparkContext, name)(f)._2
      else { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    val problems = mutable.ArrayBuffer.empty[String]
    val bad = mutable.Set.empty[Int]
    var failedOps = 0L
    var ops = 0L
    def fail(msg: String, owners: Iterable[Int]): Unit = {
      failedOps += 1
      if (problems.size < 20) problems += msg
      bad ++= owners.filter(_ >= 0)
    }
    val t0 = System.nanoTime()

    // full scans, every table in one job
    var scanCells = 0L; var scanBody = 0L
    val scanS = group("cells_source.scan") {
      val h = xxhash64(col("rowkey"), col("version"))
      val byTable = ts.map(t => cellsDf(spark, root, t).withColumn("table", lit(t))).reduce(_ unionByName _)
        .groupBy("table").agg(count(lit(1)), sum(length(col("body"))), bit_xor(h),
          sum(h.bitwiseAND(lit(0xffffffffL))))
        .collect().map(r => r.getString(0) -> r).toMap
      ts.foreach { t =>
        ops += 1
        val (n, body, d) = byTable.get(t).fold((0L, 0L, (0L, 0L)))(r =>
          (r.getLong(1), r.getLong(2), (r.getLong(3), r.getLong(4))))
        scanCells += n
        scanBody += body
        if (n != expect.cells(t) || d != expect.digest(t))
          fail(s"scan $t: $n cells, digest $d; expected ${expect.cells(t)}, ${expect.digest(t)}",
            missingOwners(spark, root, t, expect))
      }
    }

    // rowkey IN batches
    var inCells = 0L
    val inS = group("cells_source.point_in") {
      ts.foreach { t =>
        ops += 1
        val keys = (expect.presentKeys(t, plan.inPresent, rng) ++
          Seq.fill(plan.inAbsent)(expect.absentKey(t, rng))).distinctBy(ByteBuffer.wrap)
        val got = cellsDf(spark, root, t).filter(col("rowkey").isin(keys: _*))
          .select("rowkey", "version", "body").collect()
          .map(r => (r.getAs[Array[Byte]](0), r.getLong(1), r.getAs[Array[Byte]](2)))
        inCells += got.length
        val want = keys.flatMap(k => expect.versions(t, k).map(v => (ByteBuffer.wrap(k), v))).toSet
        val have = got.map(g => (ByteBuffer.wrap(g._1), g._2)).toSet
        val wrongBodies = got.filterNot(g => expect.bodyOk(t, g._1, g._2, g._3))
        if (have != want || got.length != want.size || wrongBodies.nonEmpty)
          fail(s"IN batch $t: ${got.length} cells (${wrongBodies.length} wrong bodies); expected ${want.size}",
            (want.diff(have) ++ have.diff(want)).map(p => expect.owner(t, p._1.array())) ++
              wrongBodies.map(g => expect.owner(t, g._1)))
      }
    }

    // version slices
    var rangeCells = 0L
    val rangeS = group("cells_source.version_range") {
      if (plan.versionSlice) ts.foreach { t =>
        ops += 1
        val n = cellsDf(spark, root, t).filter(col("version") >= expect.versionPivot(t))
          .select("rowkey", "version").count()
        rangeCells += n
        if (n != expect.cellsAtOrAbove(t))
          fail(s"version slice $t: $n cells, expected ${expect.cellsAtOrAbove(t)}", Nil)
      }
    }

    // point gets
    val store = FileStore(root)
    val lookupNs = new Array[Long](plan.lookups)
    var hits = 0L
    (0 until plan.lookups).foreach { i =>
      ops += 1
      val t = ts(rng.nextInt(ts.size))
      val key = if (rng.nextInt(5) == 0) expect.absentKey(t, rng) else expect.presentKey(t, rng)
      val s = System.nanoTime()
      val got = try Right(store.getLatest(t, key)) catch { case e: Exception => Left(e) }
      lookupNs(i) = System.nanoTime() - s
      val want = expect.versions(t, key).lastOption
      got match {
        case Right(Some((v, body))) =>
          hits += 1
          if (!want.contains(v) || !expect.bodyOk(t, key, v, body))
            fail(s"getLatest $t: version $v, expected $want", Seq(expect.owner(t, key)))
        case Right(None) =>
          if (want.nonEmpty) fail(s"getLatest $t: absent, expected $want", Seq(expect.owner(t, key)))
        case Left(e) => fail(s"getLatest $t: $e", Seq(expect.owner(t, key)))
      }
    }
    Stats((System.nanoTime() - t0) / 1e9, scanS, scanCells, scanBody, inS, inCells, rangeS, rangeCells,
      lookupNs, hits, ops, failedOps, bad.toSet, problems.toSeq)
  }

  /** On a scan mismatch only: which expected cells the store lacks (or
    * holds in excess), charged to their input files. */
  private def missingOwners(spark: SparkSession, root: String, table: String, expect: ExpectedStore): Seq[Int] = {
    val have = cellsDf(spark, root, table).select("rowkey", "version").collect()
      .map(r => (ByteBuffer.wrap(r.getAs[Array[Byte]](0)), r.getLong(1))).toSet
    val extra = have.filterNot { case (k, v) => expect.versions(table, k.array()).contains(v) }
    extra.toSeq.map(p => expect.owner(table, p._1.array())) ++ expect.missing(table, have)
  }
}
