package perfbench

import graft.core.Envelope.DataKeyResult
import graft.ingest.{KeyService, ManifestStore, PushTableSink}
import graft.ingest.PushTableSink.{CellPut, TableSpec}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.util.LongAccumulator

/** The traced run's instruments, all outside the engine: a listener
  * that sums task metrics per Spark job group, and timing decorators
  * for the engine's three pluggable boundaries (key service, push
  * store, manifest store). Decorator counts travel through Spark
  * accumulators, so they are summed on the driver however many
  * executor JVMs ran the tasks. */
object Trace {

  final class GroupTotals {
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    def taskS: Double = runMs / 1e3
    def cpuS: Double = cpuNs / 1e9
    def gcS: Double = gcMs / 1e3
  }

  /** Sums finished tasks' metrics by the job group their stage ran in. */
  final class GroupListener extends SparkListener {
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val totals = new ConcurrentHashMap[String, GroupTotals]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => e.stageIds.foreach(stageGroup.put(_, g)))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val group = stageGroup.get(e.stageId)
      val m = e.taskMetrics
      if (group != null && m != null) {
        val t = totals.computeIfAbsent(group, _ => new GroupTotals)
        t.synchronized {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          t.spillBytes += m.diskBytesSpilled
        }
      }
    }

    /** Totals of one group, once every queued event is delivered. */
    def of(sc: SparkContext, group: String): GroupTotals = {
      org.apache.spark.PerfbenchBus.drain(sc)
      Option(totals.get(group)).getOrElse(new GroupTotals)
    }

    def reset(sc: SparkContext): Unit = {
      org.apache.spark.PerfbenchBus.drain(sc)
      totals.clear()
    }
  }

  /** Runs `f` with its Spark jobs tagged `group`; returns its result
    * and wall seconds. */
  def span[T](sc: SparkContext, group: String)(f: => T): (T, Double) = {
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    } finally sc.clearJobGroup()
  }

  final case class Accs(decryptCalls: LongAccumulator, batchKeyCalls: LongAccumulator, keyNs: LongAccumulator,
                        existsCalls: LongAccumulator, existsCells: LongAccumulator,
                        existsHits: LongAccumulator, existsNs: LongAccumulator,
                        putCalls: LongAccumulator, putCells: LongAccumulator,
                        putBytes: LongAccumulator, putNs: LongAccumulator,
                        uploads: LongAccumulator, uploadBytes: LongAccumulator, uploadNs: LongAccumulator)

  object Accs {
    def apply(sc: SparkContext): Accs = {
      def a(n: String) = sc.longAccumulator(s"perfbench.$n")
      Accs(a("decrypt_calls"), a("batch_key_calls"), a("key_ns"),
        a("exists_calls"), a("exists_cells"), a("exists_hits"), a("exists_ns"),
        a("put_calls"), a("put_cells"), a("put_bytes"), a("put_ns"),
        a("uploads"), a("upload_bytes"), a("upload_ns"))
    }
  }

  private def timed[T](ns: LongAccumulator)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally ns.add(System.nanoTime() - t0)
  }

  final case class TracedKeys(inner: KeyService, a: Accs) extends KeyService {
    override def decryptKey(keyId: String, encryptedKey: String): String = {
      a.decryptCalls.add(1)
      timed(a.keyNs)(inner.decryptKey(keyId, encryptedKey))
    }
    override def batchDataKey(): DataKeyResult = {
      a.batchKeyCalls.add(1)
      timed(a.keyNs)(inner.batchDataKey())
    }
  }

  final case class TracedStore(inner: PushTableSink.Store, a: Accs) extends PushTableSink.Store {
    override def ensureTable(tableName: String, spec: TableSpec): Unit = inner.ensureTable(tableName, spec)
    override def exists(tableName: String, cells: Seq[CellPut]): Seq[Boolean] = {
      val found = timed(a.existsNs)(inner.exists(tableName, cells))
      a.existsCalls.add(1)
      a.existsCells.add(cells.size.toLong)
      a.existsHits.add(found.count(identity).toLong)
      found
    }
    override def putBatch(tableName: String, cells: Seq[CellPut]): Unit = {
      timed(a.putNs)(inner.putBatch(tableName, cells))
      a.putCalls.add(1)
      a.putCells.add(cells.size.toLong)
      a.putBytes.add(cells.map(c => c.rowkey.length.toLong + c.body.length).sum)
    }
  }

  final case class TracedManifests(inner: ManifestStore, a: Accs) extends ManifestStore {
    override def upload(fileName: String, spool: java.io.File, metadata: ManifestStore.ObjectMetadata): Unit = {
      timed(a.uploadNs)(inner.upload(fileName, spool, metadata))
      a.uploads.add(1)
      a.uploadBytes.add(spool.length())
    }
  }
}
