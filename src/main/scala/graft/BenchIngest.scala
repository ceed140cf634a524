package graft

import org.apache.spark.sql.SparkSession

/** Ingestion-pipeline benchmark (r16 verdict task 3): push N×-replicated
  * CSV + xlsx inputs through the REAL `IngestionPipeline.run` (degrade +
  * markers + catalog, resume off so every run does full work) and report
  * per-stage wall times, so the pipeline's first bottleneck is measured
  * rather than assumed.
  *
  * Inputs per mult unit: one `customer_<i>.csv` (1.5k rows at sf0.01),
  * one `orders_<i>.csv` (15k rows), and one copy of the reference's
  * `loan.xlsx` — its own demo surface (spreadsheet + delimited files). The
  * run fails, naming the file, when that workbook is absent. CSVs are
  * staged once from the sf parquet tables and byte-copied per replica, so
  * scaling multiplies INPUT COUNT (the pipeline's unit of work — per-file
  * fetch/read/write/chunk), not row count per file.
  *
  * Stage names follow the pipeline's action boundaries (Spark fuses the
  * lazy read→clean chain into the parquet write): `fetch`, `read_schema`
  * (CSV/xlsx schema inference), `read_clean_write` (one job, which also
  * computes the catalog profile — there is no `profile` stage),
  * `chunk_collection`. The pipeline runs up to four inputs at
  * once, so each stage figure sums that stage's seconds over inputs that
  * overlap in time, and the stage figures together can exceed
  * `ingest_total`, the run's wall time.
  *
  * Env: SPARK_GRAFT_INGEST_MULT (default 1), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_RUNS (default 3; per-stage medians over runs).
  * Output: one JSON line + durable `BENCH_INGEST_x<mult>.json`.
  */
object BenchIngest {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val mult = sys.env.getOrElse("SPARK_GRAFT_INGEST_MULT", "1").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ---- stage inputs (once; replicas are byte copies) ------------------
    val base = new java.io.File("target/bench_ingest")
    val inputsDir = new java.io.File(base, "inputs")
    inputsDir.mkdirs()
    def stageCsv(table: String): java.io.File = {
      val staged = new java.io.File(inputsDir, s"${table}_0.csv")
      if (!staged.exists()) {
        val tmp = new java.io.File(base, s"csv_tmp_$table")
        graft.ops.Tables.t(spark, sfDir, table)
          .coalesce(1)
          .write.mode("overwrite").option("header", "true").csv(tmp.toString)
        val part = tmp.listFiles().find(_.getName.endsWith(".csv"))
          .getOrElse(sys.error(s"no csv part written for $table"))
        java.nio.file.Files.move(part.toPath, staged.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        graft.ops.VectorOps.deleteRecursively(tmp)
      }
      staged
    }
    val custCsv = stageCsv("customer")
    val ordCsv = stageCsv("orders")
    // the workbook is one of the three inputs per mult unit: without it
    // the run would time CSV-only ingest, not comparable with a full one
    val xlsxSrc = new java.io.File("/root/reference/loan.xlsx")
    require(xlsxSrc.isFile,
      s"BenchIngest needs the reference workbook $xlsxSrc (FIXTURES.md, section A); it is absent")
    val inputs: Seq[String] = (0 until mult).flatMap { i =>
      def rep(src: java.io.File, name: String): String = {
        val dst = new java.io.File(inputsDir, name)
        if (!dst.exists())
          java.nio.file.Files.copy(src.toPath, dst.toPath)
        dst.toString
      }
      Seq(rep(custCsv, s"customer_$i.csv"), rep(ordCsv, s"orders_$i.csv"),
        rep(xlsxSrc, s"loan_$i.xlsx"))
    }

    // ---- timed runs -----------------------------------------------------
    val stageRuns = (1 to runs).map { r =>
      val outDir = new java.io.File(base, s"out_run$r")
      graft.ops.VectorOps.deleteRecursively(outDir)
      val acc = scala.collection.mutable.Map.empty[String, Double]
      val t0 = System.nanoTime()
      val res = graft.pipeline.IngestionPipeline.run(spark, inputs,
        outDir.toString, resume = false,
        stageSink = (n, s) => {
          if (sys.env.contains("SPARK_GRAFT_INGEST_DEBUG") && s > 1.0)
            println(f"[ingest-slow] $n $s%.2f s")
          acc(n) = acc.getOrElse(n, 0.0) + s
        })
      val total = (System.nanoTime() - t0) / 1e9
      require(res.failed.isEmpty,
        s"ingest bench run had failures: ${res.failed.map(_.input)}")
      require(res.files.nonEmpty, "ingest bench produced no tables")
      (total, acc.toMap)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; s(s.size / 2)
    }
    val stages = stageRuns.flatMap(_._2.keys).distinct.sorted
    val stageMed = stages.map(n =>
      n -> median(stageRuns.map(_._2.getOrElse(n, 0.0)))).toMap
    val totalMed = median(stageRuns.map(_._1))
    val stageJson = stages
      .map(n => f""""$n":${stageMed(n)}%.3f""").mkString(",")
    val json =
      f"""{"metric":"ingest_total","value":$totalMed%.3f,"unit":"sec",""" +
        s""""stages":{$stageJson},"n_inputs":${inputs.size},""" +
        s""""runs":$runs,"mult":$mult,"sf":"$sfDir"}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"BENCH_INGEST_x$mult.json"),
      json.getBytes("UTF-8")): Unit
    spark.stop()
    println(json)
  }
}
