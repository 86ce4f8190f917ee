package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The one place a graft process builds its SparkSession. Every
  * session gets the policy confs below; the query harnesses start from
  * [[harness]]; callers pass only what differs.
  */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  def cpus: String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)

  val SplitBytes = "spark.sql.files.maxPartitionBytes"
  val OpenCost = "spark.sql.files.openCostInBytes"
  /** Static plans: AQE's pre-execution wrapper hides codegen spans and
    * join strategies until runtime. For plan inspection only. */
  val AqeOff: (String, String) = "spark.sql.adaptive.enabled" -> "false"

  /** Confs the query harnesses share. Tools that never set the open
    * cost keep Spark's default by removing [[OpenCost]]. */
  def harness: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true", // events.ts is TIMESTAMP(NANOS)
    // sf0.x parquet is a single small file per table; the default
    // 128m split size would leave every scan single-task. 1m splits
    // emulate the many-block layout a real table has at scale.
    SplitBytes -> "1m",
    OpenCost -> "65536")

  /** Applied after the caller's confs, so no caller can drop them. */
  private val policy = Map(
    "spark.sql.session.timeZone" -> "UTC",
    // Spark 4.1's unionOutputPartitioning (default on) lets UnionExec
    // ADVERTISE its children's common hash partitioning while the
    // union RDD physically has the SUM of their partitions — a
    // downstream co-partitioned join then zips 32-vs-64 partition
    // RDDs and fails (observed on q319 once the table loader hash-
    // partitions embeddings); an aggregate could silently duplicate
    // split keys. Off = the pre-4.1 Unknown partitioning, which
    // re-inserts the exchange EnsureRequirements always added.
    "spark.sql.unionOutputPartitioning" -> "false",
    "spark.ui.enabled" -> "false")

  /** A session on `local[cpus]` (a `spark.master` in `confs` wins) with
    * `confs` and the policy, logging at WARN. */
  def create(confs: Map[String, String] = harness): SparkSession = {
    val all = Map("spark.master" -> s"local[$cpus]") ++ confs ++ policy
    val spark = all.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `/dev/shm` when it is a writable directory with at least `minFree`
    * usable bytes, unless `SPARK_GRAFT_NO_SHM` is set. The floor keeps
    * small RAM-backed mounts out: Docker's default /dev/shm is 64 MiB,
    * writable but ENOSPC on the first real write. */
  def shm(minFree: Long): Option[Path] = {
    val shm = Paths.get("/dev/shm")
    def usable: Boolean =
      try Files.getFileStore(shm).getUsableSpace >= minFree
      catch { case _: Throwable => false }
    Some(shm).filter(_ => !sys.env.contains("SPARK_GRAFT_NO_SHM") &&
      Files.isDirectory(shm) && Files.isWritable(shm) && usable)
  }
}
