package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The pin discipline of [[Pinned]], checked on the operator sources: an
  * operator pins through `Pinned.scoped`, a [[Segment]] or a [[Pin]], all
  * defined in `Segments.scala`, and never persists, unpersists or caches a
  * frame, builds or clears a cache relation, or reads the CacheManager
  * itself — except at the sites listed here, each with its reason. */
class PinDisciplineSpec extends AnyFunSuite {

  private val dir = Paths.get("src/main/scala/graft/operators")

  /** The raw pin and cache calls no operator may make outside
    * `Segments.scala`. */
  private val raw = Seq(".persist(", ".unpersist(", ".cache()", "Pinned.pin(", "pinRows(",
    "InMemoryRelation(", "clearCache(", "cacheManager")

  /** (file, enclosing member) → why that member pins by hand. */
  private val allowed = Map(
    ("Dedup.scala", "foldComponents") ->
      "its loop carries one pinned round RDD at a time, releasing the round before it; no frame plan can alias an RDD")

  /** Every raw pin call outside `Segments.scala`, as (file, enclosing
    * member, line number, line). The enclosing member is the nearest
    * `def` above the line at an object's member indentation. */
  private def rawSites: Seq[(String, String, Int, String)] = {
    val member = """^  (?:[a-z]+(?:\[\w+\])? )*def (\w+)""".r.unanchored
    val files = Files.list(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString)
    files.filterNot(_.getFileName.toString == "Segments.scala").flatMap { f: Path =>
      var enclosing = "(top)"
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        line match {
          case member(name) => enclosing = name
          case _ =>
        }
        // code only: doc comments and line comments may name the calls
        val trimmed = line.trim
        val code = if (trimmed.startsWith("*") || trimmed.startsWith("/*")) ""
          else line.split("//", 2).head
        if (raw.exists(code.contains)) Some((f.getFileName.toString, enclosing, i + 1, trimmed))
        else None
      }
    }
  }

  test("no operator pins by hand outside Segments.scala, except the allow-listed sites") {
    val sites = rawSites
    assert(sites.nonEmpty, s"no operator source found under $dir")
    val stray = sites.filterNot { case (file, member, _, _) => allowed.contains((file, member)) }
    assert(stray.isEmpty, "raw pin calls outside Pinned.scoped / Segment:\n" +
      stray.map { case (f, m, n, l) => s"  $f:$n ($m): $l" }.mkString("\n"))
    // an entry whose site is gone must leave the list with it
    val unused = allowed.keySet -- sites.map(s => (s._1, s._2)).toSet
    assert(unused.isEmpty, s"allow-list entries with no raw pin left: $unused")
  }
}
