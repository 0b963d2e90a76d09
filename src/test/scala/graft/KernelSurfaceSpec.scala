package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.expressions.{GraftFunctions, Kernels}
import graft.functions.Text
import graft.operators.{Joins, Similarity, Sketches}

/** How code reaches graft's kernels: library code builds each one as an
  * expression through its `graft.expressions.Kernels` constructor, so an
  * operator runs on any session; the SQL table of `GraftFunctions` is only
  * the surface for SQL text. */
class KernelSurfaceSpec extends SparkTestBase {

  private val main = Paths.get("src/main/scala")
  private val expressions = main.resolve("graft/expressions")

  /** The calls that look a kernel up by name or install the SQL table. */
  private val byName = Seq("call_function(\"graft_", "GraftFunctions.register(")

  test("no library code outside graft.expressions looks a kernel up by name") {
    val files = Files.walk(main).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !f.startsWith(expressions))
      .toSeq.sortBy(_.toString)
    assert(files.nonEmpty, s"no source found under $main")
    val sites = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if byName.exists(line.contains)
    } yield s"  $f:${i + 1}: ${line.trim}"
    assert(sites.isEmpty, "kernels looked up by name:\n" + sites.mkString("\n"))
  }

  test("every SQL function resolves on a fresh session after register") {
    val names = GraftFunctions.table.map(_._1)
    assert(names.distinct.size == names.size, s"duplicate names in $names")
    val fresh = spark.newSession()
    assert(names.forall(n => !fresh.catalog.functionExists(n)))
    GraftFunctions.register(fresh)
    for (n <- names) assert(fresh.catalog.functionExists(n), n)
    assert(fresh.sql("SELECT graft_qdot(array(1L, 2L), array(3L, 4L))").head().getLong(0) == 11L)
  }

  test("a session with nothing registered runs the operators that build kernels") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("graft_normalize"))
    import fresh.implicits._

    val nfc = Seq("Café").toDF("t").select(Text.normalizeUnicode(col("t"))).head()
    assert(nfc.getString(0) == "Café")

    val sk = Sketches.frequencySketch(Seq(1L, 1L, 1L, 2L).toDF("h"), Nil, "h")
    val b = sk.select(Kernels.freqBounds(col("fsketch"), lit(1L))).head().getSeq[Long](0)
    assert(b(1) <= 3L && 3L <= b(2), s"bounds $b")

    val kept = Joins.bloomSemiFilter((1L to 100L).toDF("k"), "k", Seq(7L, 42L).toDF("k"), "k")
      .collect().map(_.getLong(0)).toSet
    assert(Set(7L, 42L).subsetOf(kept))

    val vecs = (0L until 40L)
      .map(i => (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11 - 5).toFloat / 10f)))
      .toDF("vec_id", "embedding")
    val ix = Similarity.ivfPqIndex(vecs, "vec_id", "embedding", nCells = 4, m = 2, kCents = 4)
    try {
      val top = Similarity.ivfPqTopKIndexed(ix, vecs.filter(col("vec_id") < 3L),
        "vec_id", "embedding", k = 2, rerank = 4)
      assert(top.count() == 6L)
    } finally ix.release()
  }
}
