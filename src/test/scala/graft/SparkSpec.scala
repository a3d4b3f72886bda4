package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (small core count — test data is tiny and
  * session startup dominates otherwise).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // shared across suites; stopped by the JVM exiting
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(cores = 4, appName = "graft-test")

  /** A fresh RDD id. Ids are monotone, so an RDD made after this mark has a
    * larger one, and RDDs of earlier suites never count against it.
    */
  def rddMark(): Int = session.sparkContext.emptyRDD[Unit].id

  /** Spark jobs `body` submits (the streaming and broadcast threads it
    * starts inherit the tag), counted once the listener bus has drained.
    */
  def jobsOf(body: => Unit): Int = {
    val sc = session.sparkContext
    val key = "graft.spec.jobs"
    val tag = java.util.UUID.randomUUID.toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      body
      org.apache.spark.GraftTestBridge.drainListenerBus(sc)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** The query executions `body` runs, in order, once the listener bus
    * has drained.
    */
  def queryExecutions(body: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftTestBridge.drainListenerBus(session.sparkContext)
    } finally session.listenerManager.unregister(listener)
    seen.toArray(Array.empty[QueryExecution]).toSeq
  }

  /** Ids of the RDDs made after `mark` that are still persistent once
    * System.gc() has run and the ContextCleaner has had up to 30 s to free
    * what became unreachable.
    */
  def persistentSince(mark: Int): Set[Int] = {
    def live = session.sparkContext.getPersistentRDDs.keySet.filter(_ > mark).toSet
    val deadline = System.currentTimeMillis + 30000L
    System.gc()
    while (live.nonEmpty && System.currentTimeMillis < deadline) {
      Thread.sleep(100)
      System.gc()
    }
    live
  }
}
