package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `SPARK_GRAFT_*` environment knob the program reads is listed,
  * with its reason, in README.md's "Environment knobs" table — and
  * every listed knob is still read. A knob cannot come back unseen,
  * and no script under `scripts/` names one the table does not list.
  */
class EnvKnobSpec extends AnyFunSuite {
  private val Knob = "SPARK_GRAFT_[A-Z0-9_]+".r

  test("the SPARK_GRAFT_* knobs read in src/main equal README.md's knob table") {
    val files = Files.walk(Paths.get("src/main/scala"))
    val read =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .flatMap(p => Knob.findAllIn(Files.readString(p))).toSet
      finally files.close()
    val scriptFiles = Files.walk(Paths.get("scripts"))
    val named =
      try scriptFiles.iterator().asScala
        .filter(p => p.toString.endsWith(".py") || p.toString.endsWith(".sh"))
        .flatMap(p => Knob.findAllIn(Files.readString(p))).toSet
      finally scriptFiles.close()
    val readme = Files.readAllLines(Paths.get("README.md")).asScala
    val table = readme.dropWhile(_ != "## Environment knobs").drop(1)
      .takeWhile(l => !l.startsWith("## "))
    val listed = table.filter(_.startsWith("| `SPARK_GRAFT_"))
      .flatMap(l => Knob.findFirstIn(l)).toSet
    assert(listed.nonEmpty, "README.md has no '## Environment knobs' table")
    assert(read -- listed === Set.empty, "read in src/main but not in README.md's table")
    assert(listed -- read === Set.empty, "in README.md's table but no longer read")
    assert(named -- listed === Set.empty, "named under scripts/ but not in README.md's table")
  }
}
