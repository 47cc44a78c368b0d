package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint: every session in `src/main` is built by `Session.local`,
  * so the cpus / shuffle-partition / AQE / UTC / nanosAsLong policy lives
  * in one file and cannot drift between mains. */
class SessionLintSpec extends AnyFunSuite {

  test("SparkSession.builder appears in src/main only inside Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root),
      s"no $root under ${Paths.get("").toAbsolutePath} — run from the checkout root")
    val files = Files.walk(root)
    val offenders =
      try files.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Session.scala" &&
          Files.readString(p).contains("SparkSession.builder"))
        .map(p => root.relativize(p).toString).toSeq.sorted
      finally files.close()
    assert(offenders.isEmpty,
      s"build sessions with Session.local, not SparkSession.builder: ${offenders.mkString(", ")}")
  }
}
