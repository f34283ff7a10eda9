package graft

import scala.util.Try

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

object TestSpark {
  lazy val spark: SparkSession = GraftSession.local("4")

  /** One run of an inventory query: its row count and executed plan. */
  case class InventoryRun(rows: Long, plan: String)

  private val inventories =
    scala.collection.mutable.Map.empty[String, Map[String, Try[InventoryRun]]]

  /** Every [[SparkEntry.queries]] entry run ONCE per testdata dir,
    * shared by the suites that check a property of each query
    * (non-empty results, no cartesian product): one noop write per
    * query, counted by an observation, instead of one pass over the
    * inventory per suite.
    */
  private def runInventory(sf: String): Map[String, Try[InventoryRun]] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> Try {
        val obs = Observation()
        val df = fn(spark, sf).observe(obs, count(lit(1)).as("rows"))
        df.write.format("noop").mode("overwrite").save()
        InventoryRun(obs.get("rows").asInstanceOf[Long],
          df.queryExecution.executedPlan.toString)
      }
    }

  /** Names of the Spark jobs `body` starts on this thread. A listener
    * records between two marker jobs: the bus delivers job starts in
    * submission order, so once the end marker arrives every job of
    * `body` has too. Jobs of other threads (a background stream) carry
    * no tag and are left out.
    */
  def jobsDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.test.jobsDuring"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties).getOrElse(new java.util.Properties)
        props.getProperty(tag) match {
          case "end" => ended.countDown()
          case "body" => jobs.add(Option(props.getProperty("spark.job.description"))
            .getOrElse(e.stageInfos.map(_.name).mkString("; ")))
          case _ => ()
        }
      }
    }
    def markerJob(m: String): Unit = {
      sc.setLocalProperty(tag, m)
      sc.parallelize(Seq(1), 1).count()
    }
    sc.addSparkListener(listener)
    try {
      markerJob("start")
      sc.setLocalProperty(tag, "body")
      body
      markerJob("end")
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "end marker job never reached the listener")
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }

  /** The shared run of query `name` over `sf`; rethrows its failure. */
  def inventoryRun(sf: String, name: String): InventoryRun =
    synchronized(inventories.getOrElseUpdate(sf, runInventory(sf)))(name).get
}
