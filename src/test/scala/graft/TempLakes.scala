package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp directories under `target/` that the suite deletes when it
  * finishes, so a reused tree does not pile up test lakes. */
trait TempLakes extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[File]()

  protected def tempDir(prefix: String): File = {
    val d = Files.createTempDirectory(new File("target").toPath.toAbsolutePath, prefix).toFile
    made.add(d)
    d
  }

  override protected def afterAll(): Unit =
    try made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    finally super.afterAll()
}
