package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block launches: `total`, and `result` — those that
  * ran result tasks (the others are AQE's shuffle-stage jobs). */
final case class JobCounts(total: Int, result: Int)

object JobCounts {

  /** Runs `body` under a fresh job group and counts the jobs it
    * launched. A listener sees events in posting order, so once a
    * marker job launched after `body` has ended, every job of `body`
    * has been seen. */
  def of[T](spark: SparkSession)(body: => T): (T, JobCounts) = {
    val sc = spark.sparkContext
    val tag = s"jobcounts-${java.util.UUID.randomUUID()}"
    val stagesOf = new ConcurrentHashMap[Int, Seq[Int]]()
    val resultStages = ConcurrentHashMap.newKeySet[Int]()
    val markerJob = new AtomicInteger(-1)
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == tag => stagesOf.put(e.jobId, e.stageIds)
          case Some(g) if g == s"$tag-marker" => markerJob.set(e.jobId)
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask") resultStages.add(e.stageId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(60, TimeUnit.SECONDS), "marker job end never seen")
      var result = 0
      stagesOf.values.forEach(s => if (s.exists(resultStages.contains)) result += 1)
      (out, JobCounts(stagesOf.size, result))
    } finally sc.removeSparkListener(listener)
  }
}
