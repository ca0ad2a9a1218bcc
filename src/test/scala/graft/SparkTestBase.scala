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

  /** A LocalRelation frame over external rows (`createDataFrame` over a
    * local list): collecting it, or a projection or filter over it, runs
    * no Spark job. */
  protected def localFrame(schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.Row]): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Runs `body` with Catalyst's rule metrics reset; returns its value
    * and the rules it ran by those metrics (`RuleExecutor`): analyzer
    * and optimizer rules, but not the expression canonicalization that
    * code generation runs for a projection. */
  protected def rulesDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.sql.catalyst.rules.RuleExecutor
    RuleExecutor.resetMetrics()
    val v = body
    (v, RuleExecutor.dumpTimeSpent().linesIterator.map(_.trim.takeWhile(_ != ' '))
      .filter(n => n.startsWith("org.apache.spark.") &&
        !n.startsWith("org.apache.spark.sql.catalyst.expressions.codegen."))
      .toSeq.distinct)
  }

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
