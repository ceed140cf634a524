package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session via getOrCreate). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sf: String = "/root/testdata/sf0.001"

  /** The sf0.01 fixture, beside [[sf]]. */
  def sf01: String = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath

  /** The reference's own workbook (FIXTURES.md §A). The specs that check
    * against ground truth taken from this exact file call
    * [[assumeReferenceLoanXlsx]] first, so they cancel where it is absent;
    * the rest stage `XlsxFixtures.loanWorkbook` instead. */
  val referenceLoanXlsx: String = "/root/reference/loan.xlsx"

  def assumeReferenceLoanXlsx(): Unit =
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(referenceLoanXlsx)),
      s"$referenceLoanXlsx is absent; its real-workbook checks need that file " +
        "(FIXTURES.md §A)")

  /** `body`'s result and the stage names of every Spark job it started. */
  def withJobs[T](body: => T): (T, Seq[String]) = {
    val (r, stages) = withJobStages(body)
    (r, stages.flatten.map(_.name))
  }

  /** `body`'s result and, per Spark job it started, that job's stages. */
  def withJobStages[T](body: => T): (T, Seq[Seq[org.apache.spark.scheduler.StageInfo]]) = {
    import org.apache.spark.sql.GraftListenerBridge.waitUntilListenerBusEmpty
    import org.apache.spark.scheduler.StageInfo
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[StageInfo]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(js.stageInfos)
    }
    waitUntilListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      waitUntilListenerBusEmpty(spark.sparkContext)
      (r, jobs.toArray(Array.empty[Seq[StageInfo]]).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
