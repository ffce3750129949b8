package graft

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Per-spec scratch root `<java.io.tmpdir>/<prefix><pid>`: every file a
  * spec writes lives under it, and the whole root is deleted when the
  * spec ends, so a run leaves `/tmp` as it found it. Keep the prefix
  * short where a spec asserts on scan locations: Spark abbreviates the
  * location string past spark.sql.maxMetadataStringLength. */
trait SpecTempRoot extends BeforeAndAfterAll { this: Suite =>
  protected def tempRootPrefix: String

  protected lazy val specRoot: java.nio.file.Path = {
    val d = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"$tempRootPrefix${ProcessHandle.current().pid()}")
    org.apache.commons.io.FileUtils.deleteDirectory(d)
    d.mkdirs()
    d.toPath
  }

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(specRoot.toFile)
    finally super.afterAll()
}
