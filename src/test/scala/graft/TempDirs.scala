package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temporary directories that live as long as one suite: [[tempDir]]
  * makes one, and after the suite's last test every directory made is
  * deleted, once any streaming query still writing to it has stopped.
  */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>
  private val made = scala.collection.mutable.ArrayBuffer.empty[Path]

  def tempDir(prefix: String): Path = made.synchronized {
    val p = Files.createTempDirectory(prefix)
    made += p
    p
  }

  override protected def afterAll(): Unit =
    try {
      SparkSession.getDefaultSession.foreach(_.streams.active.foreach(_.stop()))
      super.afterAll()
    } finally made.synchronized {
      made.foreach { p =>
        if (Files.exists(p)) {
          val walk = Files.walk(p)
          try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
          finally walk.close()
        }
      }
      made.clear()
    }
}
