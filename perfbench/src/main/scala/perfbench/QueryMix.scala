package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}

/** One pass over registered queries from the relational, TxLog and
  * streaming families, on the fixed tables in `data/`. Each result
  * is collected and compared with the row count and value hash recorded
  * from the seed tree; a mismatch message holds the observed pair, which
  * is what to record when a query's expected output changes on purpose.
  */
final class QueryMix(bench: Path, work: Path, cores: Int) extends Workload {
  import QueryMix._

  private val data = bench.resolve("data")
  private val expectedFile = bench.resolve("query_mix_expected.json")
  private val expected: Map[String, (Long, String)] =
    Json.read(expectedFile).properties().asScala
      .map(e => e.getKey -> (e.getValue.get("rows").asLong(), e.getValue.get("hash").asText())).toMap
  private val queries = Names.map(n => n -> graft.SparkEntry.queries(n))
  private var results: Seq[(String, Array[Row])] = Nil

  /** The session confs `graft.Bench` runs its queries with. */
  def confs: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "1m",
    "spark.sql.files.openCostInBytes" -> "65536")
  val inputBytes: Long = Fs.treeBytes(data)
  def rowsPerOp: Long = expected.values.map(_._1).sum

  /** Bytes the pass leaves in the queries' scratch tables (TxLog and streaming sinks). */
  def outputBytes: Long = {
    val s = Files.list(work.resolve("tmp"))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_scratch")).map(Fs.treeBytes).sum
    finally s.close()
  }

  def op(spark: SparkSession, tr: Tracer): Double = {
    var total = 0.0
    results = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val rows = tr.span(s"queries.$name")(fn(spark, data.toString).collect())
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $name%-32s $dt%7.2f s")
      total += dt
      dropAllBlocks(spark)
      name -> rows
    }
    total
  }

  def check(): Seq[String] =
    results.map { case (n, rows) => n -> (rows.length.toLong, hash(rows)) }
      .collect { case (n, v) if !expected.get(n).contains(v) => s"$n: rows/hash $v, expected ${expected.get(n)}" }
}

object QueryMix {
  /** Relational aggregate, TxLog append and pruned read, and a
    * streaming aggregate over a TxLog table: about four seconds a pass
    * once warm on 4 cores, so a run holds several passes.
    */
  val Names = Seq("q18_q1_agg", "q227_txlog_typed_prune", "q229_txlog_stream_agg")

  /** Between queries, as `graft.Bench` does: no query runs on another's cached blocks. */
  def dropAllBlocks(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** MD5 over the rows in result order, columns sorted by name, doubles
    * rounded to 10 significant digits (the tolerance of tools/oracle_check.py).
    */
  def hash(rows: Array[Row]): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => d.update((cell(r) + "\n").getBytes("UTF-8")))
    d.digest().map("%02x".format(_)).mkString
  }

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case r: Row =>
      val names = Option(r.schema).map(_.fieldNames.toSeq).getOrElse((0 until r.length).map(_.toString))
      names.zipWithIndex.sortBy(_._1).map { case (_, i) => cell(r.get(i)) }.mkString("(", "|", ")")
    case x: Double => num(x)
    case x: Float => num(x.toDouble)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => cell(k) + ":" + cell(x) }.toSeq.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) x.toString
    else new java.math.BigDecimal(x).round(new java.math.MathContext(10)).stripTrailingZeros().toString
}
