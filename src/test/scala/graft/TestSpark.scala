package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("4")

  /** `body`'s result and the number of Spark jobs it started. Marker jobs
    * fence it in the listener bus's event order, so the count is exact
    * while nothing else runs jobs in this JVM.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def marker(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker("jobsDuring.start")
      val out = body
      marker("jobsDuring.end")
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("jobsDuring.end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      val seen = groups.toArray(Array.empty[String]).toSeq
      require(seen.contains("jobsDuring.end"), "the end marker job was not observed")
      (out, seen.indexOf("jobsDuring.end") - seen.indexOf("jobsDuring.start") - 1)
    } finally sc.removeSparkListener(listener)
  }
}
