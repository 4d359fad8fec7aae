package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches. Job-start events reach
  * listeners asynchronously, so the block's jobs run under a job group of
  * their own, then a one-task marker job runs under another: the listener
  * bus is FIFO, so once the marker's start is seen every job of the block
  * has been seen too. Jobs of concurrent callers carry other groups and
  * are not counted. */
object Jobs {
  def count(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30_000_000_000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(5)
      require(seen.contains(marker), "the marker job's start never reached the listener")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
