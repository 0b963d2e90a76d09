package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkPrivate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase
import graft.streaming.Streams

/** The scale shape of the calls the three benchmark workloads make, in one
  * table: the standing-index builds, searches and ingests (MinHash,
  * embedding, IVF-PQ, BM25, fuzzy), the calls of a curation batch and the
  * relational operators whose plan shape the design rests on.
  *
  * Every row runs its call on inputs of N and 4N rows, each written as 1
  * and as 8 parquet files, after the call's fixtures (indexes, merges,
  * pairs) are built. It must start the same number of Spark jobs at both
  * sizes — compared at equal file count only, since [[Par.spread]] adds
  * an exchange to a one-file input by design — and no more than its
  * budget, the count measured at N. An ingest row holds its batch fixed
  * while the corpus grows from N to 4N, and its shuffle writes must not
  * grow with the corpus. A row's plan checks read the executed (final
  * adaptive) plans of every query the call runs, cached plans included. */
class JobBudgetSpec extends SparkTestBase {
  import spark.implicits._

  private val n = 1000 // corpus docs and vectors at 1×
  private val dim = 32
  private val vocab = (0 until 400).map(i => s"w$i")

  /** Doc `i` of the corpus: a pure function of `i`, so the 4N corpus holds
    * the N one. Every fifth doc is its predecessor with one word changed
    * near the start (Jaccard of 3-shingles 0.82–0.94). */
  private def text(i: Int): String = {
    val ws = words(if (i % 5 == 4) i - 1 else i)
    if (i % 5 == 4) ws(i % 3) = vocab((i * 7) % vocab.size)
    ws.mkString(" ")
  }
  /** A quarter of a doc's words come from a vocabulary that grows with the
    * corpus (Heaps' law), the rest from 400 common words. */
  private def words(i: Int): Array[String] = {
    val rnd = new scala.util.Random(20261019L + i)
    Array.fill(32)(if (rnd.nextInt(4) == 0) s"w${rnd.nextInt(vocab.size + i)}" else vocab(rnd.nextInt(vocab.size)))
  }

  /** Vector `i`: every fifth is its predecessor nudged (cosine > 0.99). */
  private def vector(i: Int): Array[Float] = {
    val rnd = new scala.util.Random(7L * 1000003L + (if (i % 5 == 4) i - 1 else i))
    val v = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    if (i % 5 == 4) v(i % dim) += 0.05f
    v
  }

  /** Inputs of `scale`·N rows written as `files` parquet files, a batch
    * that is the same at every scale, and the fixtures built over them. */
  private final class Fixture(scale: Int, files: Int) {
    private val dir = java.nio.file.Files.createTempDirectory(s"graft_shape_${scale}x$files").toString
    private def write(df: DataFrame, name: String): DataFrame = {
      df.repartition(files).write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    private val rows = scale * n
    val docs: DataFrame = write((0 until rows).map(i => (i.toLong, text(i), i % 16)).toDF("doc_id", "text", "grp"), "docs")
    val vecs: DataFrame = write((0 until rows).map(i => (i.toLong, vector(i))).toDF("vec_id", "embedding"), "vecs")
    /** 300 edited copies of docs below N, ids apart from the corpus's. */
    val batch: DataFrame = write({
      val rnd = new scala.util.Random(20261020L)
      (0 until 300).map { i =>
        val ws = text(rnd.nextInt(n)).split(" ")
        if (i % 3 != 0) (0 until 1 + i % 4).foreach(_ => ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size)))
        (10000000L + i, ws.mkString(" "), i % 16)
      }.toDF("doc_id", "text", "grp")
    }, "batch")
    /** 64 vectors, the benchmark's ingest batch: half near copies of
      * vectors below N, half fresh. */
    val vbatch: DataFrame = write((0 until 64).map { i =>
      val v = if (i % 2 == 0) vector((i * 37) % n).map(_ + 0.001f) else vector(10000000 + i)
      (10000000L + i, v)
    }.toDF("vec_id", "embedding"), "vbatch")
    val queries: DataFrame = (0 until 8).map(i => (i.toLong, vector(20000000 + i))).toDF("query_id", "embedding")
    /** Two words of each doc: the fuzzy dictionary's strings. */
    val names: DataFrame = docs.select(col("doc_id"),
      concat_ws("", slice(split(col("text"), " "), 1, 2)).as("name"))
    val batchNames: DataFrame = batch.select(col("doc_id"),
      concat_ws("", slice(split(col("text"), " "), 1, 2)).as("name")).limit(50)

    lazy val minhash: Dedup.MinhashIndex = held(Dedup.minhashIndex(docs, "doc_id", "text"))
    lazy val delta: Dedup.MinhashIndex = held(Dedup.minhashIndex(batch, "doc_id", "text"))
    lazy val embedding: Dedup.EmbeddingIndex = held(Dedup.embeddingIndex(vecs, "vec_id", "embedding", threshold = 0.9))
    lazy val ivfPq: Similarity.IvfPqIndex = held(Similarity.ivfPqIndex(vecs, "vec_id", "embedding"))
    lazy val bm25: Search.Bm25Index = held(Search.bm25Index(docs, "doc_id", "text"))
    lazy val fuzzy: Joins.FuzzyIndex = held(Joins.fuzzyIndex(names, "doc_id", "name", 1))
    lazy val pairs: DataFrame = Dedup.minhashLshPairsIndexed(minhash, 0.8)
  }

  private val indexes = mutable.Buffer[StandingIndex]()
  private def held[I <: StandingIndex](ix: I): I = { indexes += ix; ix }

  private val fixtures = mutable.Map[(Int, Int), Fixture]()
  private def fixture(scale: Int, files: Int): Fixture =
    fixtures.getOrElseUpdate((scale, files), new Fixture(scale, files))

  /** BPE merges of the N corpus, one set for every row. */
  private lazy val merges: Seq[(String, String)] = Bpe.train(fixture(1, 1).docs, "text", 8)
    .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq

  override def afterAll(): Unit = indexes.foreach(_.release())

  /** A check of the executed plans of one call: the failure, if any. */
  private type PlanCheck = Seq[SparkPlan] => Option[String]

  private def has(what: String)(p: PartialFunction[SparkPlan, Boolean]): PlanCheck =
    nodes => if (nodes.exists(p.applyOrElse(_, (_: SparkPlan) => false))) None
      else Some(s"no $what in the plans")

  private val noPairJoin: PlanCheck = nodes => nodes.collectFirst {
    case j @ (_: CartesianProductExec | _: BroadcastNestedLoopJoinExec) => s"plans ${j.nodeName}"
  }

  private val pushedFilter = has("parquet scan with a pushed filter") {
    case s: FileSourceScanExec => s.metadata.get("PushedFilters").exists(_ != "[]")
  }
  private val broadcastJoin = has("broadcast hash join") { case _: BroadcastHashJoinExec => true }
  private val partialBelowExchange = has("partial aggregate below a shuffle exchange") {
    case e: ShuffleExchangeLike => e.child.exists {
      case a: BaseAggregateExec => a.aggregateExpressions.exists(_.mode == Partial)
      case _ => false
    }
  }
  private val windowGroupLimit = has("WindowGroupLimit") { case _: WindowGroupLimitExec => true }

  /** One row: the call's name, its job budget at N on one file and on
    * eight, whether it is an ingest (batch fixed, corpus grown), its plan
    * checks, and the call over a fixture — the fixtures it reads are
    * built when `run` is applied; the returned thunk is what is counted. */
  private case class Row(call: String, oneFile: Int, eightFiles: Int,
      ingest: Boolean = false, plans: Seq[PlanCheck] = Nil)(val run: Fixture => () => Any)

  private val rows: Seq[Row] = Seq(
    // the curation batch
    Row("Bpe.docPieceCounts + collect", 2, 2) { f =>
      val (docs, m) = (f.docs, merges); () => Bpe.docPieceCounts(docs, "doc_id", "text", m).collect() },
    Row("Bpe.encodeWords + collect", 3, 2) { f =>
      val (docs, m) = (f.docs, merges); () => Bpe.encodeWords(docs, "text", m).collect() },
    Row("Dedup.minhashLshPairsBetweenIndexed", 2, 2, ingest = true, plans = Seq(noPairJoin)) { f =>
      val (d, s) = (f.delta, f.minhash); () => Dedup.minhashLshPairsBetweenIndexed(d, s, 0.8) },
    Row("Dedup.connectedComponents, one partition, + collect", 4, 4) { f =>
      val (p, docs) = (f.pairs, f.docs)
      () => Dedup.connectedComponents(p, docs, "doc_id").filter(col("id") =!= col("component")).collect() },
    // standing-index builds
    Row("Dedup.minhashIndex", 1, 1) { f =>
      val docs = f.docs; () => Dedup.minhashIndex(docs, "doc_id", "text") },
    Row("Dedup.embeddingIndex", 3, 2) { f =>
      val v = f.vecs; () => Dedup.embeddingIndex(v, "vec_id", "embedding", threshold = 0.9) },
    Row("Similarity.ivfPqIndex", 4, 3) { f =>
      val v = f.vecs; () => Similarity.ivfPqIndex(v, "vec_id", "embedding") },
    Row("Search.bm25Index", 2, 2) { f =>
      val docs = f.docs; () => Search.bm25Index(docs, "doc_id", "text") },
    Row("Joins.fuzzyIndex", 1, 1) { f =>
      val names = f.names; () => Joins.fuzzyIndex(names, "doc_id", "name", 1) },
    // searches
    Row("Dedup.minhashLshPairsIndexed", 6, 4, plans = Seq(noPairJoin)) { f =>
      val ix = f.minhash; () => Dedup.minhashLshPairsIndexed(ix, 0.8) },
    Row("Similarity.ivfPqTopKIndexed + collect", 4, 4) { f =>
      val (ix, q) = (f.ivfPq, f.queries)
      () => Similarity.ivfPqTopKIndexed(ix, q, "query_id", "embedding", 10, rerank = 40).collect() },
    Row("Search.bm25TopKIndexed + collect", 4, 4) { f =>
      val ix = f.bm25; () => Search.bm25TopKIndexed(ix, Seq("w1", "w7", "w42"), 10).collect() },
    Row("Joins.fuzzyProbe + collect", 3, 4, plans = Seq(noPairJoin)) { f =>
      val (ix, probe) = (f.fuzzy, f.batchNames); () => Joins.fuzzyProbe(ix, probe, "doc_id", "name").collect() },
    // ingests
    Row("Similarity.extendIvfPqIndex", 1, 1, ingest = true) { f =>
      val (ix, b) = (f.ivfPq, f.vbatch); () => Similarity.extendIvfPqIndex(ix, b, "vec_id", "embedding") },
    Row("Search.extendBm25Index", 2, 2, ingest = true) { f =>
      val (ix, b) = (f.bm25, f.batch); () => Search.extendBm25Index(ix, b, "text") },
    Row("Joins.extendFuzzyIndex", 2, 2, ingest = true) { f =>
      val (ix, b) = (f.fuzzy, f.batchNames); () => Joins.extendFuzzyIndex(ix, b) },
    Row("Streams.dropEmbeddingNearDupsBatch + collect", 3, 3, ingest = true, plans = Seq(noPairJoin)) { f =>
      val (ix, b) = (f.embedding, f.vbatch)
      () => Streams.dropEmbeddingNearDupsBatch(b, "vec_id", "embedding", ix, 0.9).collect() },
    // one-shot near-dup pairs
    Row("Dedup.simhashPairs", 5, 4, plans = Seq(noPairJoin)) { f =>
      val docs = f.docs; () => Dedup.simhashPairs(docs, "doc_id", "text") },
    Row("Dedup.ngramJaccardPairs", 7, 6, plans = Seq(noPairJoin)) { f =>
      val docs = f.docs; () => Dedup.ngramJaccardPairs(docs, "doc_id", "text") },
    // the relational operators' plan shapes
    Row("Ops.filters + collect", 1, 1, plans = Seq(pushedFilter)) { f =>
      val docs = f.docs; () => Ops.filters(docs, ("doc_id", "<", 100L)).collect() },
    Row("Joins.join broadcastRight + collect", 2, 2, plans = Seq(broadcastJoin)) { f =>
      val (docs, dim) = (f.docs, (0 until 16).map(g => (g, s"g$g")).toDF("grp", "label"))
      () => Joins.join(docs, dim, Seq("grp"), broadcastRight = true).collect() },
    Row("Grouping.agg + collect", 2, 2, plans = Seq(partialBelowExchange)) { f =>
      val docs = f.docs; () => Grouping.groupby(docs, Seq("grp")).agg(Seq("doc_id" -> "count")).collect() },
    Row("Ops.dropDuplicates keep=first + collect", 2, 2, plans = Seq(windowGroupLimit)) { f =>
      val docs = f.docs
      () => Ops.dropDuplicates(docs, Seq("grp"), "first", Seq(col("doc_id"))).collect() })

  /** Jobs, shuffle bytes written and every executed plan node of `call`. */
  private def measure(call: () => Any): (Int, Long, Seq[SparkPlan]) = {
    val executions = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(name: String, qe: QueryExecution, durationNs: Long): Unit = {
        executions.add(qe); ()
      }
      override def onFailure(name: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    SparkPrivate.drain(spark.sparkContext) // the fixtures' executions must not reach it
    spark.listenerManager.register(listener)
    var out: Any = null
    val (jobs, bytes) =
      try jobsAndShuffleBytes { out = call() } finally spark.listenerManager.unregister(listener)
    out match {
      case ix: StandingIndex => ix.release()
      case null => fail("the call returned nothing")
      case _ =>
    }
    (jobs, bytes, executions.asScala.toSeq.flatMap(qe => planNodes(qe.executedPlan)))
  }

  /** Every node of an executed plan, through adaptive plans, query stages
    * and the plans of cached relations it reads. */
  private def planNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case m: InMemoryTableScanExec => m +: planNodes(m.relation.cachedPlan)
    case p => p +: p.children.flatMap(planNodes)
  }

  /** What `row` breaks on `files` input files: every failed check. */
  private def violations(row: Row, files: Int, budget: Int): Seq[String] = {
    val runs = Seq(1, 4).map(scale => scale -> measure(row.run(fixture(scale, files))))
    val planErrors = for {
      (scale, (jobs, bytes, plans)) <- runs
      _ = info(s"${scale}N, $files files: $jobs jobs, $bytes shuffle bytes")
      check <- row.plans
      err <- check(plans)
    } yield s"${scale}N: $err"
    val Seq((_, (jobsN, bytesN, _)), (_, (jobs4N, bytes4N, _))) = runs
    (planErrors ++
      Option.when(jobs4N != jobsN)(s"$jobsN jobs at N, $jobs4N at 4N") ++
      Option.when(jobsN > budget)(s"$jobsN jobs at N, over the budget of $budget") ++
      Option.when(row.ingest && bytes4N > bytesN)(
        s"shuffle writes grow with the corpus, from $bytesN to $bytes4N bytes")
    ).map(err => s"${row.call}, $files files: $err")
  }

  rows.foreach { row =>
    test(s"job budget: ${row.call} <= ${row.oneFile}") {
      val errors = violations(row, 1, row.oneFile) ++ violations(row, 8, row.eightFiles)
      if (errors.nonEmpty) fail(errors.mkString("\n"))
    }
  }
}
