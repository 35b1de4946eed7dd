package graft

import java.nio.file.Files

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs a spec makes through [[tempDir]] are deleted after its last
  * test, whether the tests passed or not. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d): Unit)
}
