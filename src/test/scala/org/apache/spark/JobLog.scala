package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block of code starts, one entry per job: its call
  * site (the name of its result stage) and whether it ran under a SQL
  * execution. Only jobs carrying the block's own job-group tag count,
  * so jobs of other threads do not leak in. Listener events arrive
  * asynchronously, so the log drains the listener bus before reading
  * them; `listenerBus` is `private[spark]`, hence Spark's package.
  */
object JobLog {
  final case class Job(callSite: String, sqlExecution: Boolean)

  /** A job seen by [[record]]: whether it carried the block's tag, and
    * when it started (the scheduler's submission time).
    */
  final case class Started(job: Job, tagged: Boolean, atMs: Long)

  private val GroupKey = "spark.jobGroup.id"

  def apply[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    val (r, started, _) = record(sc)(body)
    (r, started.filter(_.tagged).map(_.job))
  }

  /** Every job that starts while `body` runs and for `lingerMs` after it
    * returns, tagged or not, with the time `body` returned.
    */
  def record[T](sc: SparkContext, lingerMs: Long = 0L)(
      body: => T): (T, Seq[Started], Long) = {
    val tag = s"joblog-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Started]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        jobs.add(Started(Job(js.stageInfos.maxBy(_.stageId).name,
            props.exists(_.getProperty("spark.sql.execution.id") != null)),
          props.exists(_.getProperty(GroupKey) == tag), js.time))
        ()
      }
    }
    val outer = sc.getLocalProperty(GroupKey)
    sc.addSparkListener(listener)
    sc.setLocalProperty(GroupKey, tag)
    try {
      val r = body
      val returnedMs = System.currentTimeMillis()
      Thread.sleep(lingerMs)
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.toArray(Array.empty[Started]).toSeq, returnedMs)
    } finally {
      sc.setLocalProperty(GroupKey, outer)
      sc.removeSparkListener(listener)
    }
  }

  /** The executed plans of every query `body` runs in `spark` — its
    * actions and the eager checkpoints it takes while building a
    * frame — so a spec can inspect plans that never appear in the
    * returned frame's own plan.
    */
  def plans[T](spark: org.apache.spark.sql.SparkSession)(
      body: => T): (T, Seq[org.apache.spark.sql.execution.SparkPlan]) = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        seen.add(qe.executedPlan)
        ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (r, seen.toArray(Array.empty[SparkPlan]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
