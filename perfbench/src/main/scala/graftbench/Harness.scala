package graftbench

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, Tables}

/** The session a library user gets: `local[nproc]` with only the settings
  * the harness itself needs, then `GraftExtensions.install`. None of
  * `graft.Bench`'s tuning (shuffle partitions, codegen cache size) is
  * applied, so a change to the program's own session setup shows here. */
object Harness {

  /** Harness-only settings: the UTC time zone `graft.Tables` requires, no
    * UI, and local/warehouse dirs inside the benchmark's work directory. */
  def settings(nproc: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$nproc]",
    "spark.app.name" -> "graft-perfbench",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse")

  def session(nproc: Int, work: String): SparkSession = {
    val b = SparkSession.builder()
    settings(nproc, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark
  }

  /** Every table the workloads read, through the library's own loaders. */
  val tables: Seq[(SparkSession, String) => org.apache.spark.sql.DataFrame] = Seq(
    Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part,
    Tables.orders, Tables.lineitem, Tables.events, Tables.documents,
    Tables.embeddings)

  /** Release what one operation may leave behind, so the next one does the
    * same work as its previous iteration: every ops family's memos through
    * its public clear hook, the catalog cache, and persistent RDDs. The
    * `Tables` reader memo (schema and file listing, no rows) is session
    * metadata and stays, as it does in a user's session. */
  def release(spark: SparkSession): Unit = {
    graft.ops.Dedup.clearCaches(spark)
    graft.ops.Graph.clearCaches(spark)
    graft.ops.TextAnalysis.clearCaches(spark)
    graft.ops.Similarity.clearCaches(spark)
    graft.ops.Curation.clearCaches(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Spark settings that differ from the defaults: the harness settings plus
    * anything the program set on the session. */
  def effectiveConf(spark: SparkSession): Map[String, String] = {
    val volatileKeys = Set("spark.app.id", "spark.app.startTime",
      "spark.driver.host", "spark.driver.port", "spark.executor.id",
      "spark.app.submitTime", "spark.driver.extraJavaOptions",
      "spark.executor.extraJavaOptions")
    spark.conf.getAll.filter { case (k, _) => !volatileKeys(k) }
  }
}
