package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession

/** One benchmark workload: inputs generated from the seed, one
  * operation against the program, and the checks on what that
  * operation produced.
  */
trait Workload {

  /** Session confs on top of the ones every workload uses. */
  def confs: Map[String, String]

  /** Input bytes one operation consumes. */
  def inputBytes: Long

  /** Rows one operation lands (ingest) or returns (queries). */
  def rowsPerOp: Long

  /** Run one operation; returns its wall seconds. The timed calls into
    * the program run under root spans: "op" for an ingest run, one
    * "queries.<name>" span per query.
    */
  def op(spark: SparkSession, tr: Tracer): Double

  /** Mismatches between the last operation's outputs and the expected ones. */
  def check(): Seq[String]

  /** Bytes the last operation left behind. */
  def outputBytes: Long

  /** The operation's steps, called one by one in the order the program
    * makes them, each under a span named after the layer call. Only the
    * traced run calls this.
    */
  def replay(spark: SparkSession, tr: Tracer): Unit = ()

  /** Running totals the workload keeps itself; the trace reports how
    * much each grows over one operation.
    */
  def counters(): Map[String, Double] = Map.empty

  def close(): Unit = ()
}

object Fs {
  def md5(p: Path): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 20)
      var n = in.read(buf)
      while (n > 0) { d.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    d.digest().map("%02x".format(_)).mkString
  }

  /** Total size of the regular files under `p`. */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
