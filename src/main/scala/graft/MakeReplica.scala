package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds an N× workload replica of a testdata scale dir for scale
  * probes (SCALE.md ratio tables): each fact table is unioned N times
  * with offset keys, document text gets per-replica token suffixes
  * (so per-token document frequency stays constant and candidate
  * spaces grow linearly, the honest construction for similarity-join
  * scaling), and dimension tables are copied through. The output dir
  * serves the same `<table>.parquet` layout the queries read, so any
  * SparkEntry query runs on it unchanged (correctness oracles do NOT
  * apply to replicas — this is a workload generator, not testdata).
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt 'runMain graft.MakeReplica
  *   /root/testdata/sf0.1 8 /tmp/rep8'
  */
object MakeReplica {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args(1).matches("\\d+") && args(1).toInt >= 1,
      "usage: graft.MakeReplica <sfDir> <factor:int>=1> <outDir>")
    val Array(sfDir, factorS, outDir) = args.take(3)
    val factor = factorS.toInt
    val spark = Sessions.create(Sessions.harness - Sessions.SplitBytes - Sessions.OpenCost)

    def src(t: String): DataFrame = spark.read.parquet(s"$sfDir/$t.parquet")
    def out(t: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[replica] $t x$factor written")
    }
    def times(df: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => f(df, i)).reduce(_ unionAll _)
    // replica key stride derived from the SOURCE's max key, never a
    // fixed literal: a fixed 1e8 offset silently aliases orderkeys
    // once the source scale passes it (TPC-H orderkeys exceed 1e8
    // around sf100), corrupting join fan-outs instead of failing
    def stride(df: DataFrame, key: String): Long = {
      val row = df.agg(max(col(key))).head
      // fail with the CLI's own words, not an NPE: an empty source
      // (null max) or a non-integral key type can't derive a stride
      require(!row.isNullAt(0),
        s"cannot derive a replica stride: source column '$key' has no rows")
      row.get(0) match {
        case n: java.lang.Number => n.longValue() + 1L
        case other => throw new IllegalArgumentException(
          s"replica key '$key' must be integral, got ${other.getClass.getSimpleName}")
      }
    }

    // dims + events: copied through (a 100 TB fact sits on the same dims)
    for (t <- Seq("region", "nation", "customer", "supplier", "part", "events"))
      out(t, src(t))

    val okStride = stride(src("orders"), "o_orderkey")
    out("orders", times(src("orders")) { (o, i) =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(i * okStride))
    })
    out("lineitem", times(src("lineitem")) { (l, i) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(i * okStride))
    })
    // documents: fresh ids AND fresh token universe per replica — token
    // df constant, so inverted-index/shingle candidate spaces scale
    // linearly with the corpus instead of quadratically.
    // ONE shared stride for doc_id and vec_id: hybrid-retrieval queries
    // join documents.doc_id = embeddings.vec_id, and independent strides
    // (max(doc_id) != max(vec_id) when embeddings covers a subset) would
    // misalign every replica after the first, silently changing the
    // benchmark's join hit-rate at scale
    val docStride = math.max(stride(src("documents"), "doc_id"),
      stride(src("embeddings"), "vec_id"))
    out("documents", times(src("documents")) { (d, i) =>
      d.withColumn("doc_id", col("doc_id") + lit(i * docStride))
        .withColumn("text",
          if (i == 0) col("text")
          else array_join(
            transform(split(col("text"), " "), t => concat(t, lit(s"_$i"))),
            " "))
    })
    out("embeddings", times(src("embeddings")) { (e, i) =>
      e.withColumn("vec_id", col("vec_id") + lit(i * docStride))
    })
    spark.stop()
  }
}
