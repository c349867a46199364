package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration: Bench, Verify, every spec and the
  * local-cluster smoke build their sessions here, so the settings that
  * change results cannot drift between what is tested and what is
  * measured. A caller adds only its own settings (an `appName`, a cluster
  * `master`) on the returned builder.
  *
  * The r16 AQE coalescing floor (`minPartitionNum=8`) stays retired
  * (SCALE.md r17: a wash on the CPU-heavy family, a tax on the iterative
  * family's tiny stages); streaming trigger bodies re-pin it in scope
  * (`Queries.withNoEmptyBatches`). To A/B any setting session-wide, pass
  * it as a JVM property, e.g.
  * `-Dspark.sql.adaptive.coalescePartitions.minPartitionNum=8`: a new
  * session's SparkConf loads every `spark.*` system property. */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cpusFromEnv: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def builder(cpus: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // oracle parity: every timestamp bucket is a UTC instant
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // storage-partitioned joins: honour DSv2 KeyGroupedPartitioning and
      // accept join keys that are a superset of the V2 partition keys
      // (TileAlgebra.binaryAligned)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long, converted
      // losslessly to micros in Queries.t (values have no sub-micro bits)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    localDir.fold(b)(d => b.config("spark.local.dir", d))
  }

  /** `getOrCreate`, WARN logging, and graft's SQL functions registered. */
  def start(builder: SparkSession.Builder): SparkSession = {
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Shuffle scratch on tmpfs (r18): thread dumps showed executor threads
    * blocked in shuffle-file open/mmap syscalls on the sandbox filesystem
    * (task runTime ~5x cpuTime), and local-mode shuffle blocks are KB-MB.
    * `SPARK_GRAFT_LOCAL_DIR` overrides (a cluster points it at NVMe);
    * without a writable `/dev/shm`, Spark's default (`java.io.tmpdir`).
    * Spark's own `SPARK_LOCAL_DIRS` environment variable wins over all. */
  private def localDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft-spark-local") else None
    }
}
