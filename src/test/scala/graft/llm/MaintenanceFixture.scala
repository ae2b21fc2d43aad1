package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the maintenance specs share: a [[DedupMaintenance]] over a base
  * corpus of signatures, and a job counter.
  */
object MaintenanceFixture {

  /** The base build under `root`: the state of `baseSigs`
    * ([[DedupMaintenance.writeState]]) and a maintenance over it.
    */
  def build(spark: SparkSession, root: String, baseSigs: DataFrame): DedupMaintenance = {
    DedupMaintenance.writeState(s"$root/state", baseSigs)
    DedupMaintenance.create(spark, s"$root/state", s"$root/store")
  }

  /** Jobs `body` runs, counted by job group. Listener delivery is
    * asynchronous but in order, so a marker job run afterwards bounds
    * the wait for the body's events.
    */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("maintenance-body", "body"); body
      sc.setJobGroup("maintenance-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("maintenance-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("maintenance-marker"), "listener never saw the marker")
      groups.toArray.count(_ == "maintenance-body")
    } finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }
}
