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

  /** The shared run of query `name` over `sf`; rethrows its failure. */
  def inventoryRun(sf: String, name: String): InventoryRun =
    synchronized(inventories.getOrElseUpdate(sf, runInventory(sf)))(name).get
}
