package graft
import org.apache.spark.sql.SparkSession

/** The one local session every driver-side tool builds (Bench, Verify,
  * SmokeMain and the `graft.tools` mains): `local[$SPARK_GRAFT_CPUS]`
  * (default 4), UTC, nanosecond parquet timestamps read as longs (see
  * `queries.Tables.events`), AQE on, UI off, artifact isolation off,
  * log level WARN.
  * `IngestMain` keeps its own builder: under `spark-submit` the master
  * comes from the submitter, not from this program.
  */
object LocalSpark {
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Scale probes override this upward: shuffle partitions must scale
    // with the data so per-task aggregate/join state stays
    // memory-sized (at sf10 the 32-partition default packs ~30× the
    // sf1 state per task — the q153 probe measured OOM-or-GC-wall
    // either side of a narrow heap window until partitions scaled,
    // exactly the "size shuffle partitions for the target SF" rule a
    // real deployment applies). AQE coalesces back when small.
    val shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // an artifact-isolated session gets its own executor class loader,
      // and generated code is cached per loader: every session
      // `queries.withConf` clones would compile its plans afresh
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
