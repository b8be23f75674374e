package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark job census for tests: how many jobs a call runs, counted with a
  * listener, and which SQL actions started them. */
object JobCensus {

  /** What a call ran: its job count, and the call site of each SQL action
    * that ran a job (`isEmpty at …`, `collect at …`), in start order. The
    * actions' formatted physical plans ride along outside equality, since
    * their expression ids differ from run to run. */
  final case class Census(jobs: Int, actions: Seq[String])(val plans: Seq[String])

  private val censusIds = new AtomicLong
  private val Key       = "graft.census"

  /** Run `body` and take its [[Census]]. Jobs are told apart by a local
    * property, which the threads `body` spawns inherit; the call site and
    * plan come from the action's execution-start event, because AQE
    * submits stage jobs from its own threads. */
  def apply[A](spark: SparkSession)(body: => A): (A, Census) = {
    val sc    = spark.sparkContext
    val tag   = s"census-${censusIds.incrementAndGet()}"
    val jobs  = new ConcurrentLinkedQueue[Option[Long]]
    val sites = new ConcurrentHashMap[Long, (String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Key) == tag)
          jobs.add(Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY)).map(_.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sites.put(s.executionId, (s.description, s.physicalPlanDescription))
        case _                                 =>
      }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Key, tag)
    try {
      val a = body
      ListenerBusDrain(sc)
      val seen    = jobs.asScala.toSeq
      val actions = seen.flatten.distinct.map(id => sites.getOrDefault(id, (s"execution $id", "")))
      (a, Census(seen.size, actions.map(_._1))(actions.map(_._2)))
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }
}
