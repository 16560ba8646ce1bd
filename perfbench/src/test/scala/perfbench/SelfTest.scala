package perfbench

import graft.ingest.{FileStore, HttpKeyService}
import graft.ingest.PushTableSink.CellPut
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

/** The benchmark's own tests, run with `python3 perfbench/run.py --self-test`:
  * the generator is deterministic per seed and distinct across seeds,
  * the output check rejects a deleted cell, a wrong body and a missing
  * manifest line, and the key-service stub counts its requests. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e"); e.printStackTrace() }

  private def check(cond: Boolean, msg: => String): Unit = if (!cond) throw new AssertionError(msg)

  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv(argv.indexOf("--work") + 1))
    Files.createDirectories(work)
    val spec = Corpus.Spec(files = 4, recordsPerFile = 60)

    test("generator: same seed gives byte-identical plaintext and dump files") {
      val a = Corpus.generate(7L, spec)
      val b = Corpus.generate(7L, spec)
      check(a.files.size == 4 && a.lines == 240, s"unexpected corpus shape ${a.files.size}/${a.lines}")
      a.files.zip(b.files).foreach { case (x, y) =>
        check(java.util.Arrays.equals(x.plain, y.plain), s"plaintext of ${x.stem} differs")
        check(java.util.Arrays.equals(x.encrypted, y.encrypted), s"dump ${x.stem} differs")
        check(x.metadataJson == y.metadataJson, s"metadata of ${x.stem} differs")
      }
    }

    test("generator: different seeds give different ids") {
      def keys(seed: Long) = Corpus.generate(seed, spec).files
        .flatMap(_.cells.map(c => java.nio.ByteBuffer.wrap(c.rowkey))).toSet
      val (a, b) = (keys(7L), keys(8L))
      check(a.nonEmpty && b.nonEmpty, "no cells generated")
      check(a.intersect(b).isEmpty, s"${a.intersect(b).size} rowkeys shared between seeds")
    }

    test("dks stub: counts every request by kind") {
      val stub = new DksStub(Array.tabulate[Byte](16)(_.toByte))
      try {
        val keys = HttpKeyService(stub.url)
        (1 to 3).foreach(_ => check(keys.batchDataKey().plaintextDataKey == stub.batchKeyBase64, "batch key"))
        val wrapped = Seq(Array.fill[Byte](16)(3), Array.tabulate[Byte](16)(i => (i * 7).toByte))
        wrapped.foreach { k =>
          val enc = java.util.Base64.getEncoder.encodeToString(k.reverse)
          val id = s"selftest-${System.nanoTime()}" // fresh id: bypasses the client's per-JVM cache
          (1 to 2).foreach { _ =>
            check(keys.decryptKey(id, enc) == java.util.Base64.getEncoder.encodeToString(k), "decrypted key")
          }
        }
        val client = java.net.http.HttpClient.newHttpClient()
        val notFound = client.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(stub.url + "/datakey/nope"))
          .GET().build(), java.net.http.HttpResponse.BodyHandlers.ofString())
        check(notFound.statusCode() == 404, s"unknown path answered ${notFound.statusCode()}")
        check(stub.batchKeyRequests.get() == 3, s"batch key requests ${stub.batchKeyRequests.get()}")
        check(stub.decryptRequests.get() == 2, s"decrypt requests ${stub.decryptRequests.get()}")
        check(stub.requests.get() == 6, s"requests ${stub.requests.get()}")
      } finally stub.close()
    }

    val spark = Main.session(work)
    val stub = new DksStub(Array.tabulate[Byte](16)(i => (i + 1).toByte))
    try {
      val wl = new ImportWorkload(spark, 11L, spec, work, stub)
      wl.setup(1)
      // the IN batch covers every cell, so every body is decrypted and compared
      val everyCell = ReadBack.Plan(inPresent = 1000, inAbsent = 4, lookups = 64, versionSlice = true)
      var round = 0
      def importAndCheck(tamper: (Path, Path) => Unit): Iteration = {
        round += 1
        wl.check(round, 0.0, work.resolve(s"check-$round"), traced = false, everyCell, allTables = true) {
          (store, manifests) =>
            val result = wl.importOnce(store, manifests)
            tamper(store, manifests)
            result
        }
      }
      val ledger = Corpus.generate(11L, spec)
      val victim = ledger.files.head
      val cell = victim.cells.head

      test("output check: passes an untouched import") {
        val it = importAndCheck((_, _) => ())
        check(it.failed == 0 && it.attempted == spec.files, s"failed ${it.failed}/${it.attempted}: ${it.problems}")
      }
      test("output check: rejects a deleted cell") {
        val it = importAndCheck((store, _) =>
          FileStore(store.toString).deleteCellsExact(victim.table, Seq((cell.rowkey, cell.version))))
        check(it.failed >= 1, "a deleted cell passed the check")
      }
      test("output check: rejects a wrong body") {
        val it = importAndCheck { (store, _) =>
          val fs = FileStore(store.toString)
          val body = new String(fs.getLatest(victim.table, cell.rowkey).get._2, UTF_8)
          val forged = body.replaceFirst("\"dbObject\": \"[A-Za-z0-9+/]{4}", "\"dbObject\": \"AAAA")
          check(forged != body, "could not forge the body")
          fs.putBatch(victim.table, Seq(CellPut(victim.table, cell.rowkey, cell.version, forged.getBytes(UTF_8))))
        }
        check(it.failed >= 1, "a wrong body passed the check")
      }
      test("output check: rejects a missing manifest line") {
        val it = importAndCheck { (_, manifests) =>
          val p = manifests.resolve(victim.manifestName)
          val lines = new String(Files.readAllBytes(p), UTF_8).split("(?<=\n)")
          Files.write(p, lines.dropRight(1).mkString.getBytes(UTF_8))
        }
        check(it.failed >= 1, "a missing manifest line passed the check")
      }
    } finally {
      spark.stop()
      stub.close()
    }
    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
