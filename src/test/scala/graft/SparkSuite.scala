package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session across all suites (JVM-wide, lazily built). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.core.LocalFs.install(s)
    s
  }
}

abstract class SparkSuite extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = SharedSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  // Catalog queries that pin an intermediate (the CacheRegistry sites in
  // QueriesTraining, QueriesExtra and QueriesQuality) register
  // persisted handles at plan-construction time and rely on the harness
  // calling releaseAll after each query; test sessions get the same
  // hygiene here so a long suite run doesn't accumulate dead cached
  // handles until JVM exit.
  override def afterAll(): Unit = {
    try graft.core.CacheRegistry.releaseAll() finally super.afterAll()
  }
}

/** Counts the Spark jobs a block of code starts. Listener events arrive in
  * submission order, so the jobs counted are exactly those whose start
  * event falls between a start-barrier job and an end-barrier job run on
  * this thread around `body`.
  */
object JobCount {
  private val Start = "graft-jobcount-start"
  private val End = "graft-jobcount-end"

  /** Run `body` and return its result with the number of jobs started while
    * it ran: with `group`, only the jobs of that job group (set on this
    * thread for the body); without, every job, whichever thread ran it.
    */
  def apply[A](spark: SparkSession, group: Option[String])(body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var counting = false
    @volatile var drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(Start) => counting = true
          case Some(End) => drained = true
          case g => if (counting && !drained && (group.isEmpty || g == group)) jobs.incrementAndGet()
        }
    }
    def barrier(name: String, seen: => Boolean): Unit = {
      sc.setJobGroup(name, name)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.currentTimeMillis() + 20000
      while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen, s"listener bus did not deliver the $name job")
    }
    sc.addSparkListener(listener)
    try {
      barrier(Start, counting)
      sc.clearJobGroup()
      group.foreach(sc.setJobGroup(_, "counted"))
      val out = body
      barrier(End, drained)
      (out, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
