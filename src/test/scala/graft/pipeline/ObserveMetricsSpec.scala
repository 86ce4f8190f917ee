package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

/** In-flight data-quality metrics via the Observation API: row
  * counts, null counts, and domain violations are collected DURING
  * the one planned pass over the data — no second scan, no collect.
  * This is how an ingestion job reports manifest-style stats at
  * 100 TB without doubling its I/O; the pipelines' landing step takes
  * the manifest's row and null counts this way.
  */
class ObserveMetricsSpec extends SparkSpec {
  import spark.implicits._

  test("one pass yields rows, null count, and a domain violation gauge") {
    val obs = Observation("ingest_qa")
    val df = Seq(
      (1L, Some(10.0)), (2L, None), (3L, Some(-5.0)), (4L, Some(2.5)))
      .toDF("id", "value")
      .observe(obs,
        count(lit(1)).as("rows"),
        count(when(col("value").isNull, 1)).as("null_values"),
        count(when(col("value") < 0, 1)).as("negative_values"))
    df.write.format("noop").mode("overwrite").save()

    val m = obs.get
    assert(m("rows") === 4L)
    assert(m("null_values") === 1L)
    assert(m("negative_values") === 1L)
  }

  test("observation rides a real transform without changing its result") {
    val obs = Observation("filter_qa")
    val out = spark.range(0, 1000)
      .observe(obs, count(lit(1)).as("scanned"))
      .filter(col("id") % 7 === 0)
      .count()
    assert(out === 143L)
    // the gauge saw the PRE-filter cardinality: selectivity is
    // scanned vs kept, measured in the same job
    assert(obs.get("scanned") === 1000L)
  }
}
