package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one session per suite (lazy) — and
  * temporary directories that are deleted when the suite ends, after the
  * frames the suite's tests pinned are released. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A new directory in the system temp directory; it and everything
    * written under it are deleted after the suite's last test. */
  protected def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try {
      graft.ops.Exec.clearPinned(spark) // the frames this suite's tests pinned
      tempDirs.forEach(SparkSpec.deleteRecursively(_))
    } finally super.afterAll()
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.local("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val paths = Files.walk(root)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach { p =>
        Files.deleteIfExists(p); ()
      }
      finally paths.close()
    }
}
