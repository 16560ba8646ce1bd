package graft.ingest

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import scala.reflect.ClassTag

/** THE sizing rule of every per-region store job: the packed read faces
  * ([[graft.sources.CellsShards.pack]]), the bulk-load write, the minor
  * merge, the major's sweep and the co-located join. A task costs the
  * same to schedule whatever its regions hold, so a job runs on the
  * cores, and on more tasks only once its bytes outgrow
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes` per task. */
object RegionJobs {

  /** Splits `regions` (key order, each with its byte weight) into
    * P = min(regions, max(defaultParallelism, ⌈Σ bytes / advisory size⌉))
    * contiguous groups in key order, each cut at the region boundary
    * nearest its share of the bytes; all-empty regions split by count. */
  def plan[T](spark: SparkSession, regions: Seq[(T, Long)]): Vector[Vector[T]] = {
    val n = regions.size
    if (n == 0) return Vector.empty
    val advisory = spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val bytes = regions.map(_._2).sum
    val p = math.min(n.toLong, math.max(spark.sparkContext.defaultParallelism.toLong,
      (bytes + advisory - 1) / advisory)).toInt
    val prefix = regions.map(r => if (bytes == 0L) 1L else r._2).scanLeft(0L)(_ + _).toArray
    val cuts = (1 until p).scanLeft(0) { (prev, g) =>
      val share = prefix(n).toDouble * g / p
      var i = prev + 1
      while (i < n && prefix(i) < share) i += 1
      if (i - 1 > prev && share - prefix(i - 1) < prefix(i) - share) i -= 1
      math.min(i, n - (p - g)) // every later group keeps a region
    } :+ n
    val items = regions.map(_._1).toVector
    cuts.sliding(2).map(c => items.slice(c(0), c(1))).toVector
  }

  /** The regions as an RDD with one [[plan]] group per partition. */
  def tasks[T: ClassTag](spark: SparkSession, regions: Seq[(T, Long)]): RDD[T] = {
    val groups = plan(spark, regions)
    if (groups.isEmpty) spark.sparkContext.emptyRDD[T]
    else spark.sparkContext.parallelize(groups, groups.size).flatMap(identity)
  }

  /** [[tasks]] over region directories (as path strings), each weighing
    * its resident store files ([[RegionSplit.shardBytes]]). */
  def overDirs(spark: SparkSession, dirs: Seq[java.nio.file.Path]): RDD[String] =
    tasks(spark, dirs.map(d => d.toString -> RegionSplit.shardBytes(d)))
}
