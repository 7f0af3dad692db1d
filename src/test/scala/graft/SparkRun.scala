package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.graftshim.ListenerDrain
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark ran for one block of test code: the jobs it started, the
  * task count of each completed stage, and the executed plan of each
  * query or command (for a write, the command's plan with the AQE plan
  * of its input below it).
  */
final case class SparkRun[T](value: T, jobs: Int, stageTasks: Seq[Int],
                             plans: Seq[SparkPlan])

object SparkRun {
  def apply[T](spark: SparkSession)(body: => T): SparkRun[T] = {
    val sc = spark.sparkContext
    ListenerDrain(sc) // events of earlier code must not count here
    val jobs = new AtomicInteger()
    val tasks = new ConcurrentLinkedQueue[Int]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        tasks.add(e.stageInfo.numTasks)
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      val v = body
      ListenerDrain(sc)
      SparkRun(v, jobs.get, tasks.asScala.toSeq, plans.asScala.toSeq)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }
}

/** JSON:API page envelopes written to a directory, one file per page,
  * for tests that need records the checked-in fixtures lack. Each
  * record is (id, type, updatedAt, firstName); `meta.count` is the
  * total over all pages, as a server reports it, unless `count` says
  * otherwise.
  */
object TestPages {
  type Rec = (Long, String, String, String)

  def write(pages: Seq[Seq[Rec]], count: Option[Int] = None): String = {
    val dir = TempDirs.create("graft-pages")
    val metaCount = count.getOrElse(pages.map(_.size).sum)
    pages.zipWithIndex.foreach { case (recs, i) =>
      val data = recs.map { case (id, tpe, ts, name) =>
        s"""{"id": $id, "type": "$tpe", "attributes": """ +
          s"""{"firstName": "$name", "updatedAt": "$ts"}}"""
      }.mkString("[", ",\n", "]")
      java.nio.file.Files.writeString(dir.resolve(f"page${i + 1}%03d.json"),
        s"""{"data": $data, "meta": {"count": $metaCount}, "links": {}}""")
    }
    dir.toString
  }
}
