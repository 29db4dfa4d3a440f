package graft.metacat

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block starts. The block's thread carries a
  * local property that its jobs (and the broadcast and subquery jobs
  * they spawn) inherit, so jobs other threads start do not count. */
object JobBudget {

  private val Tag = "graft.test.jobBudget"

  def jobs(sc: SparkContext)(f: => Unit): Int = {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Tag) != null))
          started.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, "on")
      try f finally sc.setLocalProperty(Tag, null)
      org.apache.spark.TestBus.drain(sc)
      started.get()
    } finally sc.removeSparkListener(listener)
  }
}
