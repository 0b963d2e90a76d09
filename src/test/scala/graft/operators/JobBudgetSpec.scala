package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkTestBase

/** Jobs-per-call budgets of the calls a curation batch makes, in one table.
  * Each row runs one call, read through `jobsRun`, on one-file parquet
  * inputs — one scan split, the shape of a benchmark batch — after its
  * fixtures (merges, indexes, pairs) are built. A budget is the measured
  * count; a call that starts more jobs fails its row. */
class JobBudgetSpec extends SparkTestBase with BeforeAndAfterAll {
  import spark.implicits._

  /** A 300-doc batch of edited copies of a 1000-doc corpus, each written as
    * one parquet file, plus the fixtures the calls take. */
  private final class Fixture {
    private val rnd = new scala.util.Random(20261019L)
    private val vocab = (0 until 400).map(i => s"w$i")
    private val texts = (0 until 1000).map(_ => Seq.fill(24)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    private val dir = java.nio.file.Files.createTempDirectory("graft_budget").toString
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/corpus")
    (0 until 300).map { i =>
      val ws = texts(rnd.nextInt(texts.size)).split(" ")
      if (i % 3 != 0) (0 until 1 + i % 4).foreach(_ => ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size)))
      (10000L + i, ws.mkString(" "))
    }.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/batch")
    val batch: DataFrame = spark.read.parquet(s"$dir/batch")
    val merges: Seq[(String, String)] = Bpe.train(spark.read.parquet(s"$dir/corpus"), "text", 8)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val standing: Dedup.MinhashIndex = Dedup.minhashIndex(spark.read.parquet(s"$dir/corpus"), "doc_id", "text")
    val delta: Dedup.MinhashIndex = Dedup.minhashIndex(batch, "doc_id", "text")
    val pairs: DataFrame = Dedup.minhashLshPairsIndexed(delta, 0.8)
      .unionByName(Dedup.minhashLshPairsBetweenIndexed(delta, standing, 0.8))
  }
  private var built: Option[Fixture] = None
  private def fixture: Fixture = built.getOrElse { built = Some(new Fixture); built.get }

  override def afterAll(): Unit = built.foreach { f => f.delta.release(); f.standing.release() }

  /** (call, budget, the call with its result read). */
  private val budgets: Seq[(String, Int, () => Any)] = Seq(
    ("Bpe.docPieceCounts + collect", 2,
      () => Bpe.docPieceCounts(fixture.batch, "doc_id", "text", fixture.merges).collect()),
    ("Bpe.encodeWords + collect", 3,
      () => Bpe.encodeWords(fixture.batch, "text", fixture.merges).collect()),
    ("Dedup.minhashLshPairsBetweenIndexed", 2,
      () => Dedup.minhashLshPairsBetweenIndexed(fixture.delta, fixture.standing, 0.8)),
    ("Dedup.connectedComponents, one partition, + collect", 4,
      () => Dedup.connectedComponents(fixture.pairs, fixture.batch, "doc_id")
        .filter(col("id") =!= col("component")).collect()))

  budgets.foreach { case (call, budget, run) =>
    test(s"job budget: $call <= $budget") {
      fixture.pairs.count() // the fixtures' own jobs run outside the count
      var out: Any = null
      val jobs = jobsRun { out = run() }
      assert(out != null)
      info(s"$call: $jobs jobs")
      assert(jobs <= budget, s"$call ran $jobs jobs")
    }
  }
}
