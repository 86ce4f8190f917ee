package perfbench

import org.apache.spark.sql.SparkSession

/** The paper's two pipelines as one daily ingest: each operation runs
  * `CsvIngestion.run` on the CSV source, then `ApiIngestion.run` on the
  * REST source, in one session. The CSV run is byte-bound and the API
  * run overhead-bound (tiny payloads, many small jobs); the trace keeps
  * their layers apart.
  */
final class Ingest(parts: Seq[Workload]) extends Workload {
  def confs: Map[String, String] = parts.map(_.confs).reduce(_ ++ _)
  val inputBytes: Long = parts.map(_.inputBytes).sum
  def rowsPerOp: Long = parts.map(_.rowsPerOp).sum
  def outputBytes: Long = parts.map(_.outputBytes).sum
  def op(spark: SparkSession, tr: Tracer): Double = parts.map(_.op(spark, tr)).sum
  def check(): Seq[String] = parts.flatMap(_.check())
  override def replay(spark: SparkSession, tr: Tracer): Unit = parts.foreach(_.replay(spark, tr))
  override def counters(): Map[String, Double] =
    parts.flatMap(_.counters()).groupMapReduce(_._1)(_._2)(_ + _)
  override def close(): Unit = parts.foreach(_.close())
}
