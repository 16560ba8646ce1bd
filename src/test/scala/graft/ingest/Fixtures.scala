package graft.ingest

import java.nio.file.{Path => JPath}

/** Test-scope face of [[FixtureDumps]] (main scope, shared with the q30
  * end-to-end correctness query so specs and the gate exercise
  * byte-identical inputs). */
object Fixtures {
  val fileKeyB64: String = FixtureDumps.fileKeyB64
  def baseRecord(declarationId: String, ms: Int): String = FixtureDumps.baseRecord(declarationId, ms)
  def dumpLines(db: String, coll: String, n: Int): Seq[String] = FixtureDumps.dumpLines(db, coll, n)
  def writeDumpFile(dir: JPath, db: String, coll: String, n: Int): Unit = FixtureDumps.writeDumpFile(dir, db, coll, n)

  /** numTasks of every stage `body` submits on `sc`, in submission
    * order; a marker job drains the listener bus before the listener
    * goes. */
  def stageTasks(sc: org.apache.spark.SparkContext)(body: => Unit): Seq[Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.marker") != null)) marked.countDown()
        else tasks.add(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.spec.marker", "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.spec.marker", null)
      org.scalatest.Assertions.assert(marked.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "marker stage never seen")
    } finally sc.removeSparkListener(listener)
    scala.jdk.CollectionConverters.CollectionHasAsScala(tasks).asScala.toSeq
  }

  /** Every point face and `scanTable` agree with a scan's view
    * `expected` of (rowkey, version, body) strings: each key's
    * `getLatest` and `latestVersionsOf` name its newest cell, `exists`
    * sees every cell, and `scanTable` returns exactly the view. */
  def assertPointFacesAgree(store: FileStore, table: String,
                            expected: Set[(String, Long, String)], ctx: String): Unit = {
    import org.scalatest.Assertions._
    def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")
    val latest = expected.groupBy(_._1).values.map(_.maxBy(_._2)).toSeq.sortBy(_._1)
    val gotLatest = latest.count { case l @ (k, _, _) =>
      store.getLatest(table, bytes(k)).map { case (v, b) => (k, v, new String(b, "UTF-8")) }
        .contains(l)
    }
    assert(gotLatest == latest.size, s"getLatest $ctx: $gotLatest of ${latest.size}")
    val gotVersions = store.latestVersionsOf(table, latest.map(l => bytes(l._1)))
      .zip(latest).count { case (g, l) => g.contains(l._2) }
    assert(gotVersions == latest.size, s"latestVersionsOf $ctx: $gotVersions of ${latest.size}")
    val found = store.exists(table, expected.toSeq.map { case (k, v, b) =>
      PushTableSink.CellPut(table, bytes(k), v, bytes(b))
    }).count(identity)
    assert(found == expected.size, s"exists $ctx: $found of ${expected.size}")
    val scanned = store.scanTable(table).map { case (kh, v, b) =>
      (new String(FileStore.unhex(kh), "UTF-8"), v, new String(b, "UTF-8"))
    }
    assert(scanned.size == expected.size && scanned.toSet == expected,
      s"scanTable $ctx: ${scanned.toSet.intersect(expected).size} of ${expected.size}")
  }
}
