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

  private val GroupKey = "spark.jobGroup.id"

  def apply[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    val tag = s"joblog-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.exists(_.getProperty(GroupKey) == tag)) {
          jobs.add(Job(js.stageInfos.maxBy(_.stageId).name,
            props.exists(_.getProperty("spark.sql.execution.id") != null)))
          ()
        }
      }
    }
    val outer = sc.getLocalProperty(GroupKey)
    sc.addSparkListener(listener)
    sc.setLocalProperty(GroupKey, tag)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, jobs.toArray(Array.empty[Job]).toSeq)
    } finally {
      sc.setLocalProperty(GroupKey, outer)
      sc.removeSparkListener(listener)
    }
  }
}
