package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[OwnedSession]] is the only code in `src/main` that sets conf or makes
  * a session; the one other conf set is [[etl.Extract.readWikiJson]]'s
  * `caseSensitive` (its scaladoc says why). Three override sets use it:
  * the movie ETL's, j11's and `streamPerKeyQuota`'s. [[Tables]] derives
  * its `nanosAsLong` schema on the driver and needs no session.
  */
class OwnedSessionSpec extends AnyFunSuite {

  private val confChange = """\.conf\.(set|unset)\(|newSession\(""".r

  test("no source outside OwnedSession sets conf or makes a session") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f: Path =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if confChange.findFirstIn(line).isDefined =>
            (root.relativize(f).toString, i + 1, line.trim)
        }
      }.toSeq
    val allowed = hits.filter { case (f, _, line) =>
      f == "graft/OwnedSession.scala" ||
        (f == "graft/etl/Extract.scala" &&
          line == """spark.conf.set("spark.sql.caseSensitive", "true")""")
    }
    assert(hits.diff(allowed).isEmpty, hits.diff(allowed).mkString("\n"))
    assert(allowed.count(_._1 == "graft/etl/Extract.scala") == 1)
  }
}
