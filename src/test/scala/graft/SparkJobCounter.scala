package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts on the calling thread: jobs are
  * tagged through a thread-local property, and a listener counts the
  * tagged job starts once the listener bus has drained. Jobs other
  * threads submit meanwhile (a streaming query's) are not counted.
  */
object SparkJobCounter {
  private val Key = "graft.test.jobCounter"

  def count[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Key) == tag))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try {
      val out = body
      ListenerTestBridge.drain(sc)
      (out, jobs.get)
    } finally {
      sc.setLocalProperty(Key, prev)
      sc.removeSparkListener(listener)
    }
  }
}
