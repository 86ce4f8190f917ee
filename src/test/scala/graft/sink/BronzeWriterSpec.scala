package graft.sink

import graft.SparkSpec
import graft.config.SinkConfig
import java.nio.file.Files

class BronzeWriterSpec extends SparkSpec {
  import spark.implicits._

  private val df3 = Seq((1L, "a"), (2L, "b;semi"), (3L, null.asInstanceOf[String]))
    .toDF("id", "v")

  test("csv mode: single named file, header, nulls empty, quoted delimiter") {
    val base = Files.createTempDirectory("graft-bw").toString
    val out = BronzeWriter.write(spark, df3,
      SinkConfig(base, "t1", "data.txt"), "20251020")
    assert(out.endsWith("t1/anomesdia=20251020/data.txt"))
    val lines = scala.io.Source.fromFile(new java.net.URI(out).getPath match {
      case "" => out; case p => p
    }).getLines().toList
    assert(lines.head === "id;v")
    assert(lines.exists(_.contains("\"b;semi\"")))  // delimiter-bearing field quoted
    assert(lines.exists(_ == "3;"))                 // null → empty
  }

  test("parquet mode: partition dir round-trips") {
    val base = Files.createTempDirectory("graft-bw-parquet").toString
    val dir = BronzeWriter.write(spark, df3,
      SinkConfig(base, "t2", "ignored", format = "parquet"), "20251020",
      singleFile = false)
    val back = spark.read.parquet(dir)
    assert(back.count() === 3)
    assert(back.columns.toSet === Set("id", "v"))
  }

  test("a refused rename raises an IOException naming both paths") {
    spark.sparkContext.hadoopConfiguration.set("fs.norename.impl", classOf[RefusingRenameFs].getName)
    val base = Files.createTempDirectory("graft-bw-rename").toString
    val e = intercept[java.io.IOException] {
      BronzeWriter.write(spark, df3, SinkConfig(s"norename://$base", "t4", "refused.txt"), "20251020")
    }
    assert(e.getMessage.contains("/t4/anomesdia=20251020/part-"))
    assert(e.getMessage.contains("/t4/anomesdia=20251020/refused.txt"))
  }

  test("unsupported format raises") {
    intercept[IllegalArgumentException] {
      BronzeWriter.write(spark, df3,
        SinkConfig("/tmp/x", "t3", "f", format = "avro"), "20251020")
    }
  }
}

/** The local file system under the `norename` scheme, except that a
  * rename onto a file named `refused.txt` reports failure, as some
  * stores do instead of throwing.
  */
class RefusingRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    dst.getName != "refused.txt" && super.rename(src, dst)
}
