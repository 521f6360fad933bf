package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The env vars `src/main` reads are a declared contract: exactly the
  * names in README.md's "Environment variables" table. A new knob fails
  * this spec until it is added there on purpose.
  */
class EnvContractSpec extends AnyFunSuite {

  private val envAccess = """sys\.env|System\.getenv""".r
  private val namedRead =
    """\A(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\(\s*"([A-Za-z0-9_]+)"""".r

  private def sources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def readmeNames: Set[String] = {
    val row = """\A\| `([A-Z0-9_]+)` \|""".r
    Files.readAllLines(Paths.get("README.md")).asScala
      .flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).toSet
  }

  test("src/main reads exactly the env vars listed in README.md") {
    val reads = for {
      f <- sources
      text = new String(Files.readAllBytes(f), "UTF-8")
      m <- envAccess.findAllMatchIn(text)
    } yield f -> namedRead.findFirstMatchIn(text.substring(m.start)).map(_.group(1))
    val unnamed = reads.collect { case (f, None) => f.toString }
    assert(unnamed.isEmpty, "env access without a literal variable name")
    val declared = readmeNames
    assert(declared.nonEmpty, "README.md env-var table not found")
    assert(reads.flatMap(_._2).toSet === declared)
  }
}
