package graft.fs

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, FileContext, FileSystem, FilterFileSystem}

import graft.SparkSpec

/** The `file:` scheme resolves to graft's local file systems through
  * the `core-site.xml` graft ships: on the session's Hadoop
  * configuration and on a plain `new Configuration()`. A dependency
  * whose own `core-site.xml` came first on the classpath would shadow
  * graft's and fail this spec.
  */
class FsResolutionSpec extends SparkSpec {

  private def assertGraft(c: Configuration, what: String): Unit = {
    for ((how, fs) <- Seq(
        "FileSystem.get(file:///)" -> FileSystem.get(URI.create("file:///"), c),
        "FileSystem.getLocal" -> FileSystem.getLocal(c))) {
      assert(fs.getClass === classOf[NioLocalFileSystem], s"$what: $how")
      assert(fs.asInstanceOf[FilterFileSystem].getRawFileSystem.getClass ===
        classOf[NioRawLocalFileSystem], s"$what: $how, raw")
    }
    val afs = FileContext.getLocalFSFileContext(c).getDefaultFileSystem
    assert(afs.getClass === classOf[NioLocalFs], s"$what: FileContext")
    assert(afs.asInstanceOf[ChecksumFs].getRawFs.getClass === classOf[NioRawLocalFs],
      s"$what: FileContext, raw")
  }

  test("the session's Hadoop configuration resolves file: to graft's classes") {
    assertGraft(spark.sparkContext.hadoopConfiguration, "session")
  }

  test("a plain new Configuration() resolves file: to graft's classes") {
    assertGraft(new Configuration(), "new Configuration()")
  }
}
