package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide). The codegen fallback
  * is off, so generated code that fails to compile (e.g. a method past the
  * JVM's 64 KB limit) fails its test instead of running interpreted. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs `run` starts, counted by a listener on the job group. A
    * marker job in a second group ends the count: the bus delivers events in
    * order, so once its start is seen every job of `run` has been counted. */
  def sparkJobs(run: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"pinned-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-end" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "pinned job count")
      run
      sc.setJobGroup(s"$group-end", "end marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS), "marker job not seen")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
