package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkPrivate
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.{Args, BeforeAndAfterAll, Status}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StandingIndex

/** One shared local session for the whole forked test JVM — the SAME
  * configuration as the contract mains (GraftSession), so a knob added
  * there applies to the test suite too. */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.local("4", "graft-test")

  /** Run `f` with the given session confs, restoring the previous values. */
  def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The leak gate: once the suite and its own `afterAll` are done, no RDD
    * the suite persisted may still be persisted. Local checkpoints are
    * exempt: they hold an eager result's own blocks, not a pin. A suite
    * that overrides `afterAll` (or mixes in BeforeAndAfterAll again) runs
    * inside this check, which wraps the whole suite. */
  override def run(testName: Option[String], args: Args): Status = {
    val before = pinned
    val status = super.run(testName, args)
    status.waitUntilCompleted()
    val leaked = spark.sparkContext.getPersistentRDDs.toSeq
      .filter { case (id, rdd) => !before(id) && !SparkPrivate.locallyCheckpointed(rdd) }
      .sortBy(_._1)
    if (leaked.nonEmpty) {
      leaked.foreach(_._2.unpersist(blocking = false)) // the next suite starts clean
      throw new IllegalStateException(s"$suiteName left ${leaked.size} RDDs persisted:\n" +
        leaked.map { case (_, rdd) => s"  $rdd (${rdd.getStorageLevel.description})" }.mkString("\n"))
    }
    status
  }

  /** Rows as a sorted set of plain Seqs — order-insensitive comparison. */
  def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  def rowList(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  def withSQLConf[T](pairs: (String, String)*)(f: => T): T =
    SparkTestBase.withSQLConf(pairs: _*)(f)

  /** The ids of the RDDs Spark holds persisted right now — compare two
    * readings to see what an operator pinned or left pinned. */
  def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** For both release orders: build a standing index's generations
    * (`order(newestFirst)`, in the order they are to be released), release
    * all but the last, and check that the last still answers `query`;
    * releasing it twice then leaves nothing pinned but the answer's own
    * checkpoint. */
  def releasesEveryPin[I <: StandingIndex](name: String)(order: Boolean => Seq[I])(
      query: I => DataFrame): Unit =
    for (newestFirst <- Seq(false, true)) {
      val start = pinned
      val ixs = order(newestFirst)
      ixs.init.foreach(_.release())
      val before = pinned
      assert(query(ixs.last).count() > 0, name)
      val checkpoint = pinned -- before // the result's own blocks
      ixs.last.release()
      ixs.last.release() // idempotent
      assert((pinned -- start -- checkpoint).isEmpty, s"$name newestFirst=$newestFirst")
    }

  /** `e` and its causes, outermost first. */
  def exceptionChain(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq

  /** The number of Spark jobs started while `f` ran. */
  def jobsRun(f: => Unit): Int = jobExecutions(f).size

  /** The SQL execution id of each Spark job started while `f` ran, in start
    * order — None for a job outside any SQL execution (an RDD action). */
  def jobExecutions(f: => Unit): Seq[Option[String]] = {
    val jobs = new ConcurrentLinkedQueue[Option[String]]
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
        ()
      }
    })(f)
    jobs.asScala.toSeq
  }

  /** The Spark jobs started and the shuffle bytes written while `f` ran. */
  def jobsAndShuffleBytes(f: => Unit): (Int, Long) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val bytes = new java.util.concurrent.atomic.AtomicLong
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    })(f)
    (jobs.get, bytes.get)
  }

  /** Run `f` with `listener` registered, seeing exactly the events of the
    * jobs `f` starts. */
  private def listening(listener: SparkListener)(f: => Unit): Unit = {
    val sc = spark.sparkContext
    SparkPrivate.drain(sc) // earlier jobs' events must not reach it
    sc.addSparkListener(listener)
    try { f; SparkPrivate.drain(sc) } finally sc.removeSparkListener(listener)
  }
}
