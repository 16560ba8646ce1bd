package graft.ingest

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** Delete tombstones — the HBase Delete-marker model over the cell
  * store: a marker at (rowkey, T) masks every version ≤ T of that key
  * on the batch read faces (connector scan / point GET / version
  * slice, scanTable, F5 exists) including cells living in bulk
  * segments; masks even puts that land AFTER it at a version ≤ T;
  * never masks versions > T; is invisible itself; is ignored by the
  * default streaming edit feed (replay determinism) but DELIVERED as
  * a typed op='delete' row on the change-feed face; travels with
  * backups (exported as typed marker rows, re-applied on restore);
  * and is PURGED — together with the cells it masks — by major
  * compaction, after which a re-put at an old version is visible
  * again (the HBase resurrection semantics). Minor compaction leaves
  * markers in place (HBase minors never drop deletes). */
class TombstoneSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("tombstone-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def k(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def put(store: FileStore, table: String, key: String, versions: Long*): Unit =
    store.putBatch(table, versions.map(v =>
      PushTableSink.CellPut(table, k(key), v, k(s"body-$key-$v"))))

  private def readBack(root: String, table: String): Set[(String, Long)] = {
    val df = spark.read.format("graft-cells")
      .option("root", root).option("table", table).load()
    df.collect().map(r => (new String(r.getAs[Array[Byte]]("rowkey"), "UTF-8"),
      r.getAs[Long]("version"))).toSet
  }

  test("tombstone name parse round-trips and rejects non-markers") {
    assert(ShardFiles.tombstoneOf("abc123.42.d").contains(("abc123", 42L)))
    assert(ShardFiles.tombstoneOf("abc123.42").isEmpty)
    assert(ShardFiles.tombstoneOf("abc123.x.d").isEmpty)
    assert(ShardFiles.tombstoneOf(".42.d").isEmpty)
    assert(ShardFiles.tombstoneOf("bulk-aa.seg").isEmpty)
  }

  test("marker masks versions <= T across put files and bulk segments; > T and other keys unmasked") {
    val root = Files.createTempDirectory("tomb-mask").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "alpha", 1L, 2L, 3L)
    put(store, "t", "beta", 1L, 2L)
    // one cell arrives via a bulk segment, same key as the puts
    val s = spark; import s.implicits._
    BulkLoad.writeCells(
      Seq(("t", k("alpha"), 4L, k("body-alpha-4"))).toDF("tableName", "rowkey", "version", "body"),
      root)
    store.deleteCells("t", Seq((k("alpha"), 2L)))
    assert(readBack(root, "t") == Set(("alpha", 3L), ("alpha", 4L), ("beta", 1L), ("beta", 2L)))
    // scanTable (inspection face) agrees
    val scanned = store.scanTable("t").map { case (keyHex, v, _) => (keyHex, v) }.toSet
    val alphaHex = k("alpha").map(b => f"$b%02x").mkString
    val betaHex = k("beta").map(b => f"$b%02x").mkString
    assert(scanned == Set((alphaHex, 3L), (alphaHex, 4L), (betaHex, 1L), (betaHex, 2L)))
    // a marker masks a segment-resident cell too
    store.deleteCells("t", Seq((k("alpha"), 4L)))
    assert(readBack(root, "t") == Set(("beta", 1L), ("beta", 2L)))
  }

  test("point GET and version slice mask at filename level (no content I/O for masked cells)") {
    val root = Files.createTempDirectory("tomb-point").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "gamma", 1L, 2L, 3L)
    store.deleteCells("t", Seq((k("gamma"), 2L)))
    val df = spark.read.format("graft-cells").option("root", root).option("table", "t").load()
    val got = df.filter(col("rowkey") === lit(k("gamma"))).collect().map(_.getAs[Long]("version")).toSet
    assert(got == Set(3L))
    val sliced = df.filter(col("version") <= 2L).count()
    assert(sliced == 0L)
    // masked cells are never opened: the point GET opens exactly the
    // one live cell (for Spark's residual rowkey re-check) — the two
    // masked versions drop at filename level, zero I/O
    graft.sources.CellsSource.filesOpened.set(0)
    val verOnly = df.filter(col("rowkey") === lit(k("gamma"))).select("version")
      .collect().map(_.getLong(0)).toSet
    assert(verOnly == Set(3L))
    assert(graft.sources.CellsSource.filesOpened.get() == 1L)
  }

  test("F5 exists() reads as absent for masked cells; re-put stays masked until compaction") {
    val root = Files.createTempDirectory("tomb-f5").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "delta", 5L)
    val cell = PushTableSink.CellPut("t", k("delta"), 5L, k("body-delta-5"))
    assert(store.exists("t", Seq(cell)) == Seq(true))
    store.deleteCells("t", Seq((k("delta"), 5L)))
    assert(store.exists("t", Seq(cell)) == Seq(false))
    // an ingest replay re-puts — and the re-put stays masked (HBase)
    put(store, "t", "delta", 5L)
    assert(readBack(root, "t").isEmpty)
    assert(store.exists("t", Seq(cell)) == Seq(false))
    // unmasked sibling version unaffected
    put(store, "t", "delta", 6L)
    assert(readBack(root, "t") == Set(("delta", 6L)))
  }

  test("streaming face is an edit feed: delivers puts regardless of markers") {
    val root = Files.createTempDirectory("tomb-stream").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "eps", 1L, 2L)
    store.deleteCells("t", Seq((k("eps"), 2L)))
    val ck = Files.createTempDirectory("tomb-stream-ck")
    val sink = "tomb_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format("graft-cells")
      .option("root", root).option("table", "t").load()
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ck.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table(sink).collect().map(_.getAs[Long]("version")).toSet
    spark.catalog.dropTempView(sink)
    assert(got == Set(1L, 2L), "the change feed must not rewrite history for a tombstone")
  }

  test("major compaction purges masked cells AND markers; old-version re-put then resurrects") {
    val root = Files.createTempDirectory("tomb-compact").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "zeta", 1L, 2L, 3L)
    put(store, "t", "eta", 1L)
    store.deleteCells("t", Seq((k("zeta"), 2L)))
    val before = readBack(root, "t")
    assert(before == Set(("zeta", 3L), ("eta", 1L)))
    Compaction.major(spark, root, "t")
    // logical view unchanged by compaction
    assert(readBack(root, "t") == before)
    // physically: only fresh segments remain — no put files, no markers
    val tDir = Paths.get(root, "t")
    val leftovers = Files.list(tDir).iterator().asScala.filter(Files.isDirectory(_)).flatMap { s =>
      val l = Files.list(s)
      try l.iterator().asScala.map(_.getFileName.toString).toVector finally l.close()
    }.toVector
    assert(leftovers.nonEmpty && leftovers.forall(CellSegment.isSegment),
      s"post-compact store must hold only fresh segments, got $leftovers")
    // marker gone -> a re-put at the old version is visible (HBase resurrection)
    put(store, "t", "zeta", 2L)
    assert(readBack(root, "t") == before + (("zeta", 2L)))
  }

  test("minor compaction keeps markers: masking holds after the region-local merge") {
    val root = Files.createTempDirectory("tomb-minor").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "theta", 1L, 2L, 3L)
    store.deleteCells("t", Seq((k("theta"), 2L)))
    Compaction.minor(spark, root, "t")
    assert(readBack(root, "t") == Set(("theta", 3L)))
    // the marker file survived the minor merge
    val tDir = Paths.get(root, "t")
    val markers = Files.list(tDir).iterator().asScala.filter(Files.isDirectory(_)).flatMap { s =>
      val l = Files.list(s)
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(n => ShardFiles.tombstoneOf(n).isDefined).toVector
      finally l.close()
    }.toVector
    assert(markers.size == 1, "minor compaction must not drop delete markers")
  }

  test("a delete racing the compaction sweep survives (same snapshot contract as puts)") {
    val root = Files.createTempDirectory("tomb-race").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "mu", 1L, 2L)
    // the racing delete lands in the most exposed window: fresh
    // segments flipped in, sweep not yet run — it is OUTSIDE the
    // pre-scan snapshot, so the sweep must leave the marker alone
    Compaction.major(spark, root, "t",
      beforeSweep = () => store.deleteCells("t", Seq((k("mu"), 1L))))
    assert(readBack(root, "t") == Set(("mu", 2L)),
      "the racing delete's mask must hold after the sweep")
  }

  test("backup/restore exports the MASKED view AND the markers (the snapshot carries Deletes)") {
    val root = Files.createTempDirectory("tomb-bak-src").toString
    val bak = Files.createTempDirectory("tomb-bak-dir").toString
    val dst = Files.createTempDirectory("tomb-bak-dst").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "nu", 1L, 2L)
    store.deleteCells("t", Seq((k("nu"), 1L)))
    Backup.full(spark, root, "t", bak)
    Backup.restore(spark, bak, dst)
    assert(readBack(dst, "t") == Set(("nu", 2L)), "restore carries the masked view")
    // the marker travels with the export (HBase snapshots carry
    // Deletes in their HFiles): a re-put at the masked version stays
    // masked in the RESTORED store exactly as it does in the source
    put(FileStore(dst), "t", "nu", 1L)
    assert(readBack(dst, "t") == Set(("nu", 2L)),
      "the restored marker must keep masking, like the source's")
    put(store, "t", "nu", 1L)
    assert(readBack(root, "t") == Set(("nu", 2L)))
    // and like the source, the restored table's own major purges it
    Compaction.major(spark, dst, "t")
    put(FileStore(dst), "t", "nu", 1L)
    assert(readBack(dst, "t") == Set(("nu", 1L), ("nu", 2L)),
      "post-major resurrection works in the restored store too")
  }

  test("a delete AFTER the full backup reaches restore through the incremental chain") {
    val root = Files.createTempDirectory("tomb-incr-src").toString
    val bak = Files.createTempDirectory("tomb-incr-dir").toString
    val dst = Files.createTempDirectory("tomb-incr-dst").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "xi", 1L, 2L)
    put(store, "t", "omi", 1L)
    Backup.full(spark, root, "t", bak)
    // the round-11 hole: this delete produces NO cell row in any
    // export — only the typed tombstone sidecar can carry it
    store.deleteCells("t", Seq((k("xi"), 2L)))
    put(store, "t", "omi", 10L) // a put above the watermark chains too
    Backup.incremental(spark, root, "t", bak)
    Backup.restore(spark, bak, dst)
    assert(readBack(root, "t") == Set(("omi", 1L), ("omi", 10L)), "source masks xi entirely")
    assert(readBack(dst, "t") == readBack(root, "t"),
      "restore must NOT resurrect cells the source masks")
    // two-way: nothing extra, nothing missing (cell-for-cell)
    val src = spark.read.format("graft-cells").option("root", root).option("table", "t").load()
    val got = spark.read.format("graft-cells").option("root", dst).option("table", "t").load()
    assert(src.exceptAll(got).count() == 0 && got.exceptAll(src).count() == 0)
    // a delete-only increment (no puts at all) also carries
    store.deleteCells("t", Seq((k("omi"), 1L)))
    Backup.incremental(spark, root, "t", bak)
    val dst2 = Files.createTempDirectory("tomb-incr-dst2").toString
    Backup.restore(spark, bak, dst2)
    assert(readBack(dst2, "t") == Set(("omi", 10L)),
      "a cell-less increment must still deliver its delete")
  }

  test("distributed deletes through the connector write face (tombstone option); replay converges") {
    val root = Files.createTempDirectory("tomb-dsv2").toString
    val s = spark; import s.implicits._
    Seq(("iota", 1L), ("iota", 2L), ("kappa", 1L))
      .map { case (key, v) => (k(key), v, k(s"body-$key-$v")) }
      .toDF("rowkey", "version", "body")
      .write.format("graft-cells").mode("append")
      .option("root", root).option("table", "t").save()
    def delete(): Unit = Seq((k("iota"), 2L)).toDF("rowkey", "version")
      // the table schema is fixed 3-column non-null; marker writes
      // ignore the body, so a delete frame carries an empty one
      .withColumn("body", lit(Array.emptyByteArray))
      .write.format("graft-cells").mode("append")
      .option("root", root).option("table", "t").option("tombstone", "true").save()
    delete()
    assert(readBack(root, "t") == Set(("kappa", 1L)))
    delete() // replayed delete: same marker, same state
    assert(readBack(root, "t") == Set(("kappa", 1L)))
  }

  test("exact-version marker (.dv) masks ONLY its version — older and newer stay live") {
    val root = Files.createTempDirectory("tomb-exact").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "ex", 1L, 2L, 3L)
    // and the same key shape inside a bulk segment
    val s = spark; import s.implicits._
    BulkLoad.writeCells(
      Seq(("t", k("seg"), 1L, k("s1")), ("t", k("seg"), 2L, k("s2")), ("t", k("seg"), 3L, k("s3")))
        .toDF("tableName", "rowkey", "version", "body"), root)
    store.deleteCellsExact("t", Seq((k("ex"), 2L), (k("seg"), 2L)))
    assert(readBack(root, "t") ==
      Set(("ex", 1L), ("ex", 3L), ("seg", 1L), ("seg", 3L)),
      "exactly version 2 vanishes on both store-file kinds")
    // name parses: the two marker kinds never collide
    assert(ShardFiles.exactTombstoneOf("abc.42.dv").contains(("abc", 42L)))
    assert(ShardFiles.exactTombstoneOf("abc.42.d").isEmpty)
    assert(ShardFiles.tombstoneOf("abc.42.dv").isEmpty)
    // F5: the exactly-deleted cell reads as absent; siblings exist
    val probes = Seq(1L, 2L, 3L).map(v => PushTableSink.CellPut("t", k("ex"), v, k("b")))
    assert(store.exists("t", probes) == Seq(true, false, true))
    // a put landing AFTER the marker at exactly its version stays
    // masked until compaction (the HBase rule) — then resurrects
    put(store, "t", "ex", 2L)
    assert(!readBack(root, "t").contains(("ex", 2L)), "late put at the exact version is masked")
    Compaction.major(spark, root, "t")
    assert(!readBack(root, "t").contains(("ex", 2L)), "major purges masked cell + marker")
    put(store, "t", "ex", 2L)
    assert(readBack(root, "t").contains(("ex", 2L)), "post-compaction re-put resurrects")
  }

  test("$latest falls back to an older live version when the top is exactly deleted") {
    val root = Files.createTempDirectory("tomb-exact-latest").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "fb", 10L, 20L)
    put(store, "t", "other", 10L, 20L)
    // the case a <=-bound marker CANNOT express: kill only the top
    store.deleteCellsExact("t", Seq((k("fb"), 20L)))
    val latest = spark.read.format("graft-cells")
      .option("root", root).option("table", "t").option("latest", "true").load()
      .collect().map(r => (new String(r.getAs[Array[Byte]]("rowkey"), "UTF-8"),
        r.getAs[Long]("version"))).toSet
    assert(latest == Set(("fb", 10L), ("other", 20L)),
      s"the serving view falls back to the newest LIVE version: $latest")
  }

  test("a MIXED increment (bound + exact markers) restores both kinds faithfully") {
    val root = Files.createTempDirectory("tomb-mixed-src").toString
    val bak = Files.createTempDirectory("tomb-mixed-dir").toString
    val dst = Files.createTempDirectory("tomb-mixed-dst").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "mx", 1L, 2L, 3L)
    put(store, "t", "my", 1L, 2L, 3L)
    Backup.full(spark, root, "t", bak)
    // ONE increment carries a bound marker (my <= 2) AND an exact
    // marker (mx == 2): the sidecar must keep the kinds apart — a
    // kind-confused restore would either resurrect my-1 or kill mx-1
    store.deleteCells("t", Seq((k("my"), 2L)))
    store.deleteCellsExact("t", Seq((k("mx"), 2L)))
    Backup.incremental(spark, root, "t", bak)
    Backup.restore(spark, bak, dst)
    val want = Set(("mx", 1L), ("mx", 3L), ("my", 3L))
    assert(readBack(root, "t") == want)
    assert(readBack(dst, "t") == want,
      "bound masks <= its version, exact masks only its own — both restored")
  }

  test("minor compaction keeps EXACT markers: the one-version mask holds after the merge") {
    val root = Files.createTempDirectory("tomb-minor-exact").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "me", 1L, 2L, 3L)
    store.deleteCellsExact("t", Seq((k("me"), 2L)))
    val rep = Compaction.minor(spark, root, "t")
    assert(rep.keptCells == 3, "minors never GC — all three versions merge")
    assert(readBack(root, "t") == Set(("me", 1L), ("me", 3L)),
      "the exact mask holds over the merged segment (minors keep markers)")
  }

  test("exact markers travel with the backup chain and replay as delete_version feed rows") {
    val root = Files.createTempDirectory("tomb-exact-bak-src").toString
    val bak = Files.createTempDirectory("tomb-exact-bak-dir").toString
    val dst = Files.createTempDirectory("tomb-exact-bak-dst").toString
    val store = FileStore(root)
    store.ensureTable("t", PushTableSink.TableSpec())
    put(store, "t", "cx", 1L, 2L, 3L)
    Backup.full(spark, root, "t", bak)
    // lands AFTER the full export, at a version <= the watermark: only
    // the kind-tagged sidecar can carry it
    store.deleteCellsExact("t", Seq((k("cx"), 2L)))
    Backup.incremental(spark, root, "t", bak)
    Backup.restore(spark, bak, dst)
    assert(readBack(dst, "t") == readBack(root, "t"),
      "restore re-applies exact markers: no resurrection, no over-delete")
    assert(readBack(dst, "t") == Set(("cx", 1L), ("cx", 3L)))
    // the change feed types the marker kinds apart
    val ops = spark.read.format("graft-cells")
      .option("root", root).option("table", "t").option("changeFeed", "true").load()
      .filter(col("op") =!= "put")
      .collect().map(r => (new String(r.getAs[Array[Byte]]("rowkey"), "UTF-8"),
        r.getAs[Long]("version"), r.getAs[String]("op"))).toSet
    assert(ops == Set(("cx", 2L, "delete_version")), s"$ops")
  }
}
