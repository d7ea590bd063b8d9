package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every session comes from [[GraftSession.builder]]: a hand-built session
  * silently drops the canonical config (UTC, the SQL extensions, RocksDB,
  * changelog checkpointing) and measures or tests something users never
  * run. */
class SessionGuardSpec extends AnyFunSuite {
  test("GraftSession.scala is the only source file that calls the Spark session builder") {
    // spelled in two parts so this file does not match itself
    val call = ("SparkSession" + """\s*\.\s*builder\s*\(""").r
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found from ${Paths.get("").toAbsolutePath}"))
    val callers = roots.flatMap { r =>
      Using.resource(Files.walk(r))(_.iterator.asScala.toList)
        .filter(_.toString.endsWith(".scala"))
        .filter((p: Path) => call.findFirstIn(Files.readString(p)).isDefined)
    }
    assert(callers.map(_.getFileName.toString) == Seq("GraftSession.scala"))
  }
}
