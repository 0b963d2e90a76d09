package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's entry points: `Verify` (the oracle dump) and `Smoke` (the
  * flagship run) are its only mains. A measurement or audit belongs in a
  * spec that asserts it, where a regression fails tier-1, not in a main
  * that prints it. */
class MainSurfaceSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")
  private val allowed = Set("Verify", "Smoke")

  private val objectDecl = """^\s*(?:private(?:\[\w+\])?\s+)?object\s+(\w+)""".r.unanchored
  private val entry = """(?:\bdef\s+main\s*\(|\bextends\s+App\b|\bwith\s+App\b)""".r.unanchored

  test("no object in src/main/scala other than Verify and Smoke declares a main") {
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty, s"no source found under $main")
    val mains = for {
      f <- files
      // the nearest object declared above each line encloses it
      (line, i, owner) <- Files.readAllLines(f).asScala.zipWithIndex
        .scanLeft(("", -1, "(top)")) { case ((_, _, owner), (line, i)) =>
          val o = line match { case objectDecl(name) => name; case _ => owner }
          (line, i, o)
        }.drop(1)
      if entry.findFirstIn(line.split("//", 2).head).nonEmpty
    } yield (owner, s"  $f:${i + 1} ($owner): ${line.trim}")
    assert(mains.exists(_._1 == "Verify"), "the scan found no main, not even Verify's")
    val stray = mains.filterNot(m => allowed(m._1))
    assert(stray.isEmpty, "mains outside Verify and Smoke:\n" + stray.map(_._2).mkString("\n"))
  }
}
