package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one session factory: every main and the shared test session
  * build their SparkSession here, so the run that is tested, the run
  * that is planned and the run that is timed carry the same confs by
  * construction.
  *
  * Precedence, highest first: a `-Dspark.*` system property (the
  * `SPARK_GRAFT_JAVA_OPTS` A/B hook in build.sbt), then the caller's
  * `overrides`, then the defaults below. Every value goes in with
  * `setIfMissing` on a conf that has already loaded the system
  * properties, so nothing here can shadow a flag given on the command
  * line.
  */
object Session {

  /** Local cores and shuffle width: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  private val defaults: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    // local-mode partition DISCOVERY: listing an 80-partition month
    // table as a distributed job costs ~0.2 s of scheduling per
    // (refresh, read) pair - a composed build pays it dozens of times
    // (measured, JobProfile q250). Up to 256 paths the driver lists
    // in microseconds; beyond that the distributed path is right.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "256",
    // the engine contract (SURVEY §1.2), the NTZ→Timestamp coercion in
    // Tables and every date-bucketing query assume UTC wall-clock ≡
    // instant; an unpinned session on a non-UTC machine would run (and
    // time) a shifted workload
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // Codecs (optimization guide §2.3/§6, measured r14): shuffle zstd
    // beat the lz4 default in ALL 9 interleaved paired runs over the
    // shuffle-heavy queries (q54 10.9→10.3, q216 4.69→4.35, q111
    // 11.7→8.2 s cross-round medians) — better ratio ⇒ fewer bytes
    // through disk/page cache locally and through the NIC at scale.
    // Parquet zstd measured ≈ snappy at sf0.1 (q258 isolated 31.9 vs
    // 33.2 s, within noise) and is strictly smaller at rest — the
    // guide's recommended default for 100 TB column stores. Both are
    // engine-level settings, identical at every SPARK_GRAFT_CPUS.
    "spark.io.compression.codec" -> "zstd",
    "spark.sql.parquet.compression.codec" -> "zstd")

  /** Get or create the process's session, log level WARN. */
  def apply(overrides: (String, String)*): SparkSession = {
    val conf = new SparkConf()
    (overrides ++ defaults).foreach { case (k, v) => conf.setIfMissing(k, v) }
    val s = SparkSession.builder().config(conf).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
