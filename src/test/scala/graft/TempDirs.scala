package graft

import java.nio.file.{Files, Path}

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One temp root per spec, deleted after the spec has run: every directory
  * `tempDir` makes lives under it, so a run leaves nothing behind. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val tempRoot: Path = Files.createTempDirectory("graft_spec")

  def tempDir(prefix: String): String = Files.createTempDirectory(tempRoot, prefix).toString

  override def afterAll(): Unit =
    try FileUtils.deleteDirectory(tempRoot.toFile) finally super.afterAll()
}
