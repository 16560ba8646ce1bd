package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The benchmark's JVM side. One process runs one workload:
  *
  *   setup × 3 (timed; the median is `setup_s`) → untraced iterations
  *   for `--seconds` (each followed by its output check; half of it
  *   with `--trace 1`) → with `--trace 1`, one traced iteration
  *
  * and prints, as its last stdout line, `PERFBENCH {json}` with every
  * metric it measured, the attempted/failed operation counts and the
  * first problems the checks found. `perfbench/run.py` turns that into
  * the result line.
  *
  *   --workload import_push|store_read
  *   --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {

  /** Corpus for the import workloads: one file per table, each large
    * enough (~23 cells per table shard and task) that the push sink
    * lands shard groups as segments directly, as at production scale. */
  val CorpusSpec: Corpus.Spec = Corpus.Spec(files = 4, recordsPerFile = 6144)
  /** Keys of the `store_read` table: ~67k cells, whose segment indexes
    * weigh ~9.7 MB at the engine's 144 B per cell. */
  val StoreReadKeys = 60000
  /** `store_read` runs with an 8 MB segment-index cache (the engine's
    * `spark.graft.segment.index.cache.bytes`, 64 MB by default), so its
    * table's indexes overflow the cache as a ≳470k-cell table would
    * overflow the default one; the import stores fit the default. */
  val StoreReadConf: Map[String, String] = Map("spark.graft.segment.index.cache.bytes" -> (8L << 20).toString)
  val SetupRounds = 3
  val MinIterations = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1", Paths.get(req("work")))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    System.out.flush()
    System.exit(code)
  }

  def session(work: Path, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .config(conf)
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(a: Args): Int = {
    Files.createDirectories(a.work)
    val batchKey = new Array[Byte](16)
    new java.util.SplittableRandom(a.seed ^ 0x5eedL).nextBytes(batchKey)
    val dks = new DksStub(batchKey)
    val spark = session(a.work, if (a.workload == "store_read") StoreReadConf else Map.empty)
    try {
      val wl: Workload = a.workload match {
        case "import_push" => new ImportWorkload(spark, a.seed, CorpusSpec, a.work, dks)
        case "store_read" => new StoreReadWorkload(spark, a.seed, StoreReadKeys, a.work)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val setups = (1 to SetupRounds).map { r =>
        val t0 = System.nanoTime()
        wl.setup(r)
        val s = (System.nanoTime() - t0) / 1e9
        log(f"setup $r: $s%.3f s")
        s
      }
      // a traced run spends half its window on the traced iteration
      val window = if (a.trace) a.seconds / 2.0 else a.seconds.toDouble
      val iters = mutable.ArrayBuffer.empty[Iteration]
      val start = System.nanoTime()
      while (iters.size < MinIterations || (System.nanoTime() - start) / 1e9 < window) {
        iters += wl.iterate(iters.size + 1)
        log(f"iteration ${iters.size}: wall ${iters.last.wallS}%.3f s, failed ${iters.last.failed}")
      }

      val attempted = iters.map(_.attempted).sum
      val failed = iters.map(_.failed).sum
      val e2e = endToEnd(setups, iters.toSeq)
      report(a, setups, iters.toSeq, e2e, attempted, failed)
      val metrics =
        if (!a.trace) e2e
        else {
          val listener = new Trace.GroupListener
          spark.sparkContext.addSparkListener(listener)
          val own = wl.traced(e2e("wall_s"), listener)
          if (a.workload != "store_read") own
          else {
            // The import layers get measured values here too (a layer time
            // that reads 0 on every run is indistinguishable from a
            // constant): one cold traced import of the import_push corpus,
            // after the reads. store_read's own layers keep their values.
            val imports = new ImportWorkload(spark, a.seed, CorpusSpec, a.work.resolve("import"), dks)
            imports.writeCorpus(1)
            imports.traced(Double.NaN, listener) ++ own
          }
        }
      val problems = iters.flatMap(_.problems).take(20)
      println("PERFBENCH " + json(attempted, failed, metrics, problems.toSeq))
      if (failed == 0) 0 else 1
    } finally {
      spark.stop()
      dks.close()
    }
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(sorted: Array[Long], p: Double): Long =
    sorted(math.max(0, math.ceil(p * sorted.length).toInt - 1))

  /** Medians over iterations; the lookup percentiles are taken per
    * iteration (1,000 point gets each) and their median reported, so one
    * disturbed stretch of a run moves them little. */
  def endToEnd(setups: Seq[Double], iters: Seq[Iteration]): Map[String, Double] = {
    val reads = iters.flatMap(_.read)
    def lookupMs(p: Double) = median(reads.map(r => percentile(r.lookupNs.sorted, p) / 1e6))
    Map(
      "setup_s" -> median(setups),
      "wall_s" -> median(iters.map(_.wallS)),
      "records_per_s" -> median(iters.map(i => i.records / i.wallS)),
      "input_mb_per_s" -> median(iters.map(i => i.inputBytes / 1e6 / i.wallS)),
      "stored_bytes_per_input_byte" -> median(iters.map(i => i.storedBytes.toDouble / i.logicalBytes)),
      "scan_cells_per_s" -> median(reads.map(r => r.scanCells / r.scanS)),
      "lookup_p50_ms" -> lookupMs(0.50),
      "lookup_p99_ms" -> lookupMs(0.99))
  }

  /** The read layers' metrics from one checked pass of reads. */
  def readMetrics(m: mutable.Map[String, Double], read: ReadBack.Stats,
                  listener: Trace.GroupListener, sc: SparkContext): Unit = {
    m("cells_source.scan_s") = read.scanS
    m("cells_source.scan_task_s") = listener.of(sc, "cells_source.scan").taskS
    m("cells_source.scan_mb") = read.scanBodyBytes / 1e6
    m("cells_source.point_in_s") = read.inS
    m("cells_source.version_range_s") = read.rangeS
    m("cells_source.version_range_cells") = read.rangeCells.toDouble
    m("get_latest.calls") = read.lookupNs.length.toDouble
    m("get_latest.hits") = read.lookupHits.toDouble
    m("get_latest.busy_s") = read.lookupNs.sum / 1e9
  }

  /** Per-layer wall of the traced iteration against its total. */
  def wallTable(layers: Seq[(String, Double)], tracedS: Double, untracedS: Double): Unit = {
    val err = System.err
    err.println("traced iteration, wall by layer:")
    layers.foreach { case (n, s) => err.println(f"  $n%-28s $s%9.3f s  ${100 * s / tracedS}%5.1f%%") }
    val residual = tracedS - layers.map(_._2).sum
    err.println(f"  ${"residual (unattributed)"}%-28s $residual%9.3f s  ${100 * residual / tracedS}%5.1f%%")
    err.println(f"  ${"traced total"}%-28s $tracedS%9.3f s")
    if (!untracedS.isNaN) {
      err.println(f"  ${"untraced wall_s (median)"}%-28s $untracedS%9.3f s")
      err.println(f"  ${"trace overhead"}%-28s ${tracedS - untracedS}%9.3f s")
    }
  }

  private def report(a: Args, setups: Seq[Double], iters: Seq[Iteration], e2e: Map[String, Double],
                     attempted: Long, failed: Long): Unit = {
    val err = System.err
    err.println(s"workload ${a.workload} seed ${a.seed}: ${iters.size} iterations, setups " +
      setups.map(s => f"$s%.2f").mkString(", ") + " s")
    err.println("  walls " + iters.map(i => f"${i.wallS}%.3f").mkString(" "))
    e2e.toSeq.sortBy(_._1).foreach { case (k, v) => err.println(f"  $k%-30s $v%.6g") }
    err.println(f"  ${"failed_share"}%-30s ${failed.toDouble / math.max(1L, attempted)}%.6g ($failed of $attempted)")
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def json(attempted: Long, failed: Long, metrics: Map[String, Double], problems: Seq[String]): String =
    s"""{"attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""${esc(k)}": ${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
        .mkString(", ") +
      """}, "problems": [""" + problems.map(p => "\"" + esc(p) + "\"").mkString(", ") + "]}"
}
