package graft

import scala.collection.mutable

import org.scalatest.{Outcome, TestSuite, TestSuiteMixin}

/** Temp-directory fixtures that never outlive their test: a directory
  * made with [[tempDir]] is deleted in a `finally` when the test that
  * made it ends, passed or failed. */
trait TempDirs extends TestSuiteMixin { this: TestSuite =>
  private val made = mutable.Buffer.empty[java.nio.file.Path]

  /** A fresh directory under the system temp directory, named
    * `prefix<random>`. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    made.synchronized(made += d)
    d.toString
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally made.synchronized {
      made.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(
        d.toFile))
      made.clear()
    }
}
