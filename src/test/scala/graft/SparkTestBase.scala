package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

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

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Rows as a sorted set of plain Seqs — order-insensitive comparison. */
  def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  def rowList(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  def withSQLConf[T](pairs: (String, String)*)(f: => T): T =
    SparkTestBase.withSQLConf(pairs: _*)(f)

  /** The number of Spark jobs started while `f` ran. */
  def jobsRun(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBusAccess.drain(sc) // earlier jobs' events must not reach it
    sc.addSparkListener(listener)
    try { f; ListenerBusAccess.drain(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }
}
