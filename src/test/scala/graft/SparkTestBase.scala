package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per JVM for all suites. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf

  /** A fresh temp directory, deleted when the JVM exits. */
  protected def tempDir(prefix: String): String = graft.io.TempDirs.create(prefix)

  /** Runs `body` with a listener attached; returns its value and one
    * entry per Spark job it submitted. */
  protected def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val phase = "graft.spec.phase"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(Option(e.properties).map(_.getProperty(phase)).orNull))
    }
    sc.addSparkListener(listener)
    val out = try {
      sc.setLocalProperty(phase, "body")
      val v = body
      // a marker job: once the listener has seen it, every job the
      // body submitted has been delivered too (the bus is ordered)
      sc.setLocalProperty(phase, "marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      v
    } finally {
      sc.setLocalProperty(phase, null)
      sc.removeSparkListener(listener)
    }
    assert(seen.contains("marker"), "listener never saw the marker job")
    (out, seen.toArray(Array.empty[String]).toSeq.filter(_ == "body"))
  }
}
