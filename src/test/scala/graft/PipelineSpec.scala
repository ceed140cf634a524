package graft

import org.apache.spark.sql.functions._
import graft.pipeline.IngestionPipeline

/** End-to-end ingestion pipeline spec: xlsx + csv inputs (one via file://
  * URL) → cleaned zstd parquet tables + catalog JSON + chunk collections
  * with stub embeddings. Workbooks are staged by [[XlsxFixtures]]; the
  * reference's own `loan.xlsx` is pinned by LoanCatalogGoldenSpec. */
class PipelineSpec extends SparkTestBase {

  test("full run over loan.xlsx and a csv produces tables, catalog, collections") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "pipeline_spec").toString
    // csv input staged from testdata, addressed via file:// URL (S6 path)
    Seq((1, "BUILDING", 10.5), (2, "AUTO", 20.25), (3, "BUILDING", 30.0))
      .toDF("Cust Key", "Segment", "Acct-Bal($)")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$out/in")
    val csvFile = new java.io.File(s"$out/in").listFiles()
      .find(_.getName.endsWith(".csv")).get.getAbsolutePath

    val loanXlsx = XlsxFixtures.loanWorkbook(s"$out/loan.xlsx")
    val res = IngestionPipeline.run(spark, Seq(loanXlsx, s"file://$csvFile"), out)

    assert(res.failed.isEmpty, s"unexpected failures: ${res.failed}")
    assert(res.files.size == 2)
    val loan = res.files.find(_.table == "loan_data").get
    assert(loan.rows == 1000)
    val csv = res.files.find(_.table != "loan_data").get
    assert(csv.rows == 3)

    // parquet tables are readable with cleaned names
    val csvBack = spark.read.parquet(csv.parquetPath)
    assert(csvBack.columns.toSeq == Seq("cust_key", "segment", "acct_bal"))

    // catalog JSON references both tables with row counts
    assert(res.catalogJson.contains("\"table\":\"loan_data\""))
    assert(res.catalogJson.contains("\"row_count\":1000"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/catalog.json")))

    // collections: chunk coverage + embeddings of the right shape
    val coll = spark.read.parquet(s"$out/collections/data_source_loan_data.parquet")
    assert(coll.agg(sum(size(col("row_indices")))).head.getLong(0) == 1000)
    assert(coll.select(size(col("embedding"))).distinct().head.getInt(0) == 64)
    assert(coll.filter(col("source_table") =!= "loan_data").count() == 0)
    // deterministic embeddings: re-running overwrites with identical bytes
    val sig1 = coll.agg(sum(abs(element_at(col("embedding"), 1)))).head.getDouble(0)
    IngestionPipeline.run(spark, Seq(loanXlsx), out)
    val sig2 = spark.read.parquet(s"$out/collections/data_source_loan_data.parquet")
      .agg(sum(abs(element_at(col("embedding"), 1)))).head.getDouble(0)
    assert(math.abs(sig1 - sig2) < 1e-6)
  }

  test("chunkTable never runs an unpartitioned window over the data") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val docs = graft.ops.Tables.t(spark, sf, "documents")
    val chunks = IngestionPipeline.chunkTable(docs, "doc_id", 500, rowsPerBlock = 64)

    // plan shape: the running-sum window over the rows is partitioned (by
    // block); any unpartitioned window may only sit over the per-block
    // summary aggregate (one row per block), never the raw rows
    val wins = chunks.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.child.collect { case a: Aggregate => a }.nonEmpty,
        s"unpartitioned window over non-aggregated input:\n$w")
    }

    // content: chunk ids are globally ordered and cover every row exactly
    // once, in row order
    val ids = chunks.orderBy("chunk_id").select("row_indices")
      .collect().flatMap(_.getSeq[Long](0)).toSeq
    val want = docs.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == want)

    // serialized text is identical to the single-block (global-window-
    // equivalent) formulation — blocks only add chunk breaks, never reorder
    // or rewrite rows
    val single = IngestionPipeline.chunkTable(docs, "doc_id", 500)
    def fullText(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("chunk_id").select("text").collect().map(_.getString(0)).mkString("\n")
    assert(fullText(chunks) == fullText(single))

    // single-block inputs take the lit(0) block path -> chunk ids dense from 0
    val firstId = single.orderBy("chunk_id").select("chunk_id").head.getLong(0)
    assert(firstId == 0L)
  }

  test("two-level chunking invariants hold for randomized inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { trial =>
      val n = rnd.nextInt(400) + 50
      val budget = rnd.nextInt(300) + 60
      val block = rnd.nextInt(60) + 8
      val rows = (0 until n).map(i => (i.toLong, "x" * (rnd.nextInt(80) + 1)))
        .toDF("id", "payload")
      val chunks = IngestionPipeline.chunkTable(rows, "id", budget,
        rowsPerBlock = block).orderBy("chunk_id").collect()
      // coverage in order, chunk ids strictly increasing
      val ids = chunks.flatMap(_.getSeq[Long](2))
      assert(ids.toSeq == (0L until n).toSeq,
        s"trial $trial (n=$n budget=$budget block=$block): bad coverage")
      val cids = chunks.map(_.getLong(0)).toSeq
      assert(cids == cids.sorted && cids.distinct == cids)
      // row_indices and text lines stay aligned
      chunks.foreach { r =>
        assert(r.getString(1).split("\n", -1).length == r.getSeq[Long](2).size)
      }
    }
  }

  private def stageCsv(dir: String, name: String, rows: Seq[String]): String = {
    val d = new java.io.File(dir); d.mkdirs()
    val f = new java.io.File(d, name)
    java.nio.file.Files.writeString(f.toPath, rows.mkString("\n"))
    f.getPath
  }

  test("per-file failure isolation: a poisoned workbook degrades, the batch continues") {
    val out = "target/pipeline_degrade_mix"
    graft.ops.VectorOps.deleteRecursively(new java.io.File(out))
    // a structurally-broken xlsx (not a zip at all) between two good inputs
    val poison = stageCsv(s"$out/in", "poison.xlsx", Seq("this is not a zip"))
    val good = stageCsv(s"$out/in", "good_rows.csv",
      Seq("id,seg,bal", "1,BUILDING,10.5", "2,AUTO,20.25", "3,BUILDING,30.0"))

    val loanXlsx = XlsxFixtures.loanWorkbook(s"$out/in/loan.xlsx")
    val res = IngestionPipeline.run(spark, Seq(loanXlsx, poison, good), out,
      sessionId = "mixsess", resume = false)

    // the reference contract: two tables produced, one failure RECORDED
    assert(res.files.map(_.table).sorted == Seq("good_rows", "loan_data"))
    assert(res.failed.map(_.input) == Seq(poison))
    assert(res.failed.head.error.nonEmpty)

    // envelope: real counts, failed path listed, success stays true
    val env = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(res.envelopeJson)
    assert(env.get("success").asBoolean)
    val summary = env.get("processing_summary")
    assert(summary.get("total_files_processed").asInt == 2)
    assert(summary.get("successful_files").asInt == 2)
    assert(summary.get("failed_files").asInt == 1)
    assert(summary.get("vector_ingestion_status").asText == "completed")
    assert(env.get("failed_files").size == 1 &&
      env.get("failed_files").get(0).asText == poison)
    assert(env.get("catalog").size == 2)
    // catalog.json on disk carries the SAME envelope (the reference writes
    // its final_json to output_json_path)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/catalog.json")) == res.envelopeJson)
  }

  test("per-file failure isolation without a workbook fixture: csv, poison, csv") {
    val out = "target/pipeline_degrade_csv"
    graft.ops.VectorOps.deleteRecursively(new java.io.File(out))
    val first = stageCsv(s"$out/in", "first.csv", Seq("id,seg", "1,A", "2,B"))
    val poison = stageCsv(s"$out/in", "poison.xlsx", Seq("this is not a zip"))
    val last = stageCsv(s"$out/in", "last.csv", Seq("id,bal", "1,10.5", "2,20.25", "3,30.0"))

    val res = IngestionPipeline.run(spark, Seq(first, poison, last), out, resume = false)

    assert(res.files.map(f => (f.table, f.rows)) == Seq(("first", 2L), ("last", 3L)))
    assert(res.failed.map(_.input) == Seq(poison) && res.failed.head.error.nonEmpty)
    val env = new com.fasterxml.jackson.databind.ObjectMapper().readTree(res.envelopeJson)
    assert(env.get("success").asBoolean)
    assert(env.get("processing_summary").get("failed_files").asInt == 1)
    assert(env.get("catalog").size == 2)
  }

  /** Five small delimited/JSON inputs with distinct stems. */
  private def stageMixed(dir: String): Seq[String] = {
    def rows(n: Int, f: Int => String) = (0 until n).map(f)
    Seq(
      stageCsv(dir, "alpha.csv", "id,name,score" +: rows(120, i => s"$i,n$i,${i * 0.5}")),
      stageCsv(dir, "Beta Set.tsv", "Key\tLabel" +: rows(80, i => s"$i\tl${i % 7}")),
      stageCsv(dir, "gamma.json", Seq(rows(60, i => s"""{"g": $i, "t": "x$i"}""")
        .mkString("[", ",\n", "]"))),
      stageCsv(dir, "delta.csv", "d,flag" +: rows(200, i => s"$i,${i % 2 == 0}")),
      stageCsv(dir, "eps.tsv", "e\tv" +: rows(40, i => s"$i\t${i * i}")))
  }

  private def sortedRows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq.sorted

  test("concurrent lanes: one run equals the single-input runs, in input order") {
    val out = "target/pipeline_lanes"
    graft.ops.VectorOps.deleteRecursively(new java.io.File(out))
    val inputs = stageMixed(s"$out/in")
    val all = IngestionPipeline.run(spark, inputs, s"$out/all", resume = false)
    assert(all.failed.isEmpty, s"unexpected failures: ${all.failed}")
    assert(all.files.map(_.input) == inputs)

    val singles = inputs.zipWithIndex.map { case (in, i) =>
      val dir = s"$out/one_$i"
      val r = IngestionPipeline.run(spark, Seq(in), dir, resume = false)
      assert(r.files.size == 1 && r.failed.isEmpty)
      (dir, r)
    }
    assert(all.files.map(_.rows) == singles.map(_._2.files.head.rows))
    // same catalog entries, byte for byte once the out dir is swapped
    assert(all.catalogJson == singles.map { case (dir, r) =>
      r.catalogJson.stripPrefix("[").stripSuffix("]").replace(s"$dir/", s"$out/all/")
    }.mkString("[", ",", "]"))
    singles.foreach { case (dir, r) =>
      val table = r.files.head.table
      assert(sortedRows(s"$out/all/parquet_files/$table.parquet") ==
        sortedRows(r.files.head.parquetPath), table)
      assert(sortedRows(s"$out/all/collections/data_source_$table.parquet") ==
        sortedRows(s"$dir/collections/data_source_$table.parquet"), table)
    }
  }

  test("stageSink calls never overlap") {
    val out = "target/pipeline_sink"
    graft.ops.VectorOps.deleteRecursively(new java.io.File(out))
    val inside = new java.util.concurrent.atomic.AtomicInteger()
    val overlaps = new java.util.concurrent.atomic.AtomicInteger()
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val res = IngestionPipeline.run(spark, stageMixed(s"$out/in"), out, resume = false,
      stageSink = (_, _) => {
        if (inside.incrementAndGet() > 1) overlaps.incrementAndGet()
        calls.incrementAndGet()
        Thread.sleep(20) // widen the window another lane's call could hit
        inside.decrementAndGet()
      })
    assert(res.failed.isEmpty && res.files.size == 5)
    assert(calls.get == 20) // four stages per single-table input
    assert(overlaps.get == 0)
  }

  test("same-stem inputs run in input order and the last one wins") {
    val out = "target/pipeline_dup"
    graft.ops.VectorOps.deleteRecursively(new java.io.File(out))
    val small = stageCsv(s"$out/in", "dup.csv", "k,v" +: (1 to 3).map(i => s"$i,a$i"))
    val other = stageCsv(s"$out/in", "other.csv", Seq("k", "1"))
    val big = stageCsv(s"$out/in", "dup.tsv", "k\tv" +: (1 to 5).map(i => s"$i\tb$i"))
    val res = IngestionPipeline.run(spark, Seq(small, other, big), out, resume = false)
    assert(res.files.map(f => (f.input, f.table, f.rows)) ==
      Seq((small, "dup", 3L), (other, "other", 1L), (big, "dup", 5L)))
    assert(sortedRows(s"$out/parquet_files/dup.parquet") ==
      (1 to 5).map(i => s"[$i,b$i]"))
    val lines = spark.read.parquet(s"$out/collections/data_source_dup.parquet")
      .collect().flatMap(_.getAs[String]("text").split("\n")).toSeq
    assert(lines.size == 5 && lines.forall(_.contains("v:b")), lines)
  }

  test("lane groups: same stems and workbook sheet prefixes share a lane") {
    val groups = IngestionPipeline.laneGroups(Seq("a/x.csv", "loan_data.csv",
      "b/X.tsv", "y.json", "file:///in/loan.xlsx", "z.csv", "loan_data_2.csv"))
    assert(groups == Seq(Seq(0, 2), Seq(1, 4, 6), Seq(3), Seq(5)))
    // URLs are keyed by the file fetch writes, query stripped
    assert(IngestionPipeline.laneGroups(Seq("https://h/loan.xlsx?sig=1",
      "loan_data.csv", "https://h/d.csv?v=1.0", "https://h/d.tsv?v=2.0", "e.csv")) ==
      Seq(Seq(0, 1), Seq(2, 3), Seq(4)))
    // a workbook with an empty key writes bare `<sheet>` tables
    assert(IngestionPipeline.laneGroups(Seq("a.csv", "-.xlsx", "b.csv")) == Seq(Seq(0, 1, 2)))
    // unnameable inputs still get a lane; they fail in fetch, inside run
    assert(IngestionPipeline.laneGroups(Seq("/", "https://h/a b.csv")).flatten == Seq(0, 1))
  }

  test("an interrupt in a lane propagates out of run and leaves no lane thread") {
    import scala.jdk.CollectionConverters._
    val out = "target/pipeline_interrupt"
    graft.ops.VectorOps.deleteRecursively(new java.io.File(out))
    val inputs = stageMixed(s"$out/in")
    val task = new java.util.concurrent.FutureTask[IngestionPipeline.PipelineResult](() =>
      IngestionPipeline.run(spark, inputs, out, resume = false, stageSink = (name, _) =>
        if (name == "read_clean_write") throw new InterruptedException("stop")))
    new Thread(task, "pipeline-interrupt-caller").start()
    val err = intercept[java.util.concurrent.ExecutionException](
      task.get(180, java.util.concurrent.TimeUnit.SECONDS))
    assert(err.getCause.isInstanceOf[InterruptedException], err.getCause)
    val lanes = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-ingest-") && t.isAlive)
    assert(lanes.isEmpty, lanes.map(_.getName))
  }

  test("all inputs failing yields the reference error envelope byte-for-byte") {
    val out = "target/pipeline_degrade"
    graft.ops.VectorOps.deleteRecursively(new java.io.File(out))
    val poison = stageCsv(out, "poison.xlsx", Seq("still not a zip"))
    assert(poison == "target/pipeline_degrade/poison.xlsx")

    val res = IngestionPipeline.run(spark, Seq(poison), out,
      sessionId = "degradesess", resume = false)
    assert(res.files.isEmpty && res.failed.size == 1)
    val golden = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "src/test/resources/error_envelope.golden.json")).trim
    assert(res.envelopeJson == golden,
      s"error envelope drifted.\nACTUAL:\n${res.envelopeJson}\nGOLDEN:\n$golden")
  }

  test("resume: completed inputs are skipped without re-reading them") {
    val out = "target/pipeline_resume"
    graft.ops.VectorOps.deleteRecursively(new java.io.File(out))
    val in = new java.io.File(s"$out/in"); in.mkdirs()
    val f1 = new java.io.File(XlsxFixtures.loanWorkbook(s"$out/in/wb.xlsx"))

    val r1 = IngestionPipeline.run(spark, Seq(f1.getPath), out)
    assert(r1.files.map(_.table) == Seq("wb_data") && r1.failed.isEmpty)
    val pqDir = new java.io.File(r1.files.head.parquetPath)
    def mtimes(d: java.io.File) = d.listFiles().map(f => f.getName -> f.lastModified).toMap
    val before = mtimes(pqDir)

    // overwrite the INPUT with same-size garbage at the same mtime: the
    // content fingerprint is unchanged, so resume must skip it — and if the
    // pipeline re-read the file, the garbage would fail the xlsx parser.
    val size = f1.length(); val mt = f1.lastModified()
    java.nio.file.Files.write(f1.toPath, Array.fill(size.toInt)('x'.toByte))
    assert(f1.setLastModified(mt))

    val f2 = stageCsv(s"$out/in", "extra.csv", Seq("k,v", "1,a", "2,b"))
    val r2 = IngestionPipeline.run(spark, Seq(f1.getPath, f2), out)
    assert(r2.failed.isEmpty, s"resume re-read a completed input: ${r2.failed}")
    assert(r2.files.map(_.table).sorted == Seq("extra", "wb_data"))
    assert(r2.files.find(_.table == "wb_data").get.rows == 1000)
    // outputs of the completed input were not rewritten
    assert(mtimes(pqDir) == before)
    // catalog entries replay from the marker — same stats as the clean run
    assert(r2.catalogJson.contains("\"table\":\"wb_data\"") &&
      r2.catalogJson.contains("\"row_count\":1000"))

    // without its marker the same input IS re-read — and the garbage fails,
    // which proves the marker (not luck) was doing the skipping
    val markers = new java.io.File(s"$out/markers").listFiles()
      .filter(_.getName.startsWith("wb_xlsx"))
    assert(markers.nonEmpty)
    markers.foreach(m => assert(m.delete()))
    val r3 = IngestionPipeline.run(spark, Seq(f1.getPath, f2), out)
    assert(r3.failed.map(_.input) == Seq(f1.getPath))
    assert(r3.files.map(_.table) == Seq("extra"))
  }

  private def catalogEntries(res: IngestionPipeline.PipelineResult): Seq[graft.ops.CatalogOps.TableEntry] = {
    import scala.jdk.CollectionConverters._
    val m = new com.fasterxml.jackson.databind.ObjectMapper
    m.readTree(res.catalogJson).elements().asScala
      .map(e => graft.ops.CatalogOps.entryFromJson(m.writeValueAsString(e))).toSeq
  }

  test("a header-only csv lands as an empty table with a zero-null profile") {
    val out = "target/pipeline_header_only"
    graft.ops.VectorOps.deleteRecursively(new java.io.File(out))
    val empty = stageCsv(s"$out/in", "empty.csv", Seq("id,name"))
    val one = stageCsv(s"$out/in", "one.csv", Seq("id,name", "1,a"))
    val res = IngestionPipeline.run(spark, Seq(empty, one), out, resume = false)
    assert(res.failed.isEmpty, s"unexpected failures: ${res.failed}")
    assert(res.files.map(f => (f.table, f.rows)) == Seq(("empty", 0L), ("one", 1L)))
    val entries = catalogEntries(res).map(e => e.logicalName -> e).toMap
    assert(entries("empty").rowCount == 0L)
    assert(entries("empty").columns.map(c => (c.name, c.nNulls, c.nDistinct)) ==
      Seq(("id", 0L, 0L), ("name", 0L, 0L)))
    assert(entries("one").rowCount == 1L && entries("one").columns.forall(_.nNulls == 0L))
    assert(spark.read.parquet(s"$out/collections/data_source_empty.parquet").count() == 0L)
  }

  test("the profile observed in the write equals an aggregate over the written parquet") {
    import spark.implicits._
    import graft.ops.ProfileOps
    val out = "target/pipeline_profile"
    graft.ops.VectorOps.deleteRecursively(new java.io.File(out))
    val in = s"$out/in"
    // nulls in two columns, repeats in every column but the key
    val rows = (0 until 40).map { i =>
      (i, if (i % 7 == 0) None else Some(s"n${i % 9}"),
        if (i % 5 == 0) None else Some(i % 11 * 0.25), i % 3 == 0, s"2024-01-${1 + i % 28}")
    }
    val header = Seq("id", "name", "score", "flag", "day")
    def field(v: Any): Any = v match { case None => null; case Some(x) => x; case x => x }
    val plain = rows.map(_.productIterator.map(field).toSeq)
    def delimited(sep: String) = header.mkString(sep) +:
      plain.map(_.map(v => if (v == null) "" else v.toString).mkString(sep))
    val json = plain.map(r => header.zip(r).filter(_._2 != null).map {
      case (k, v: String) => s""""$k": "$v""""
      case (k, v) => s""""$k": $v"""
    }.mkString("{", ", ", "}")).mkString("[", ",\n", "]")
    val inputs = Seq(stageCsv(in, "c.csv", delimited(",")),
      stageCsv(in, "t.tsv", delimited("\t")), stageCsv(in, "j.json", Seq(json)),
      s"$in/p.parquet", s"$in/x.xlsx")
    rows.toDF(header: _*).coalesce(1).write.parquet(inputs(3))
    XlsxFixtures.write(inputs(4), Seq("Rows" -> XlsxFixtures.sheetXml(header, plain)))
    val res = IngestionPipeline.run(spark, inputs, out, resume = false)
    assert(res.failed.isEmpty, s"unexpected failures: ${res.failed}")
    val entries = catalogEntries(res)
    assert(entries.map(_.logicalName) == Seq("c", "t", "j", "p", "x_rows"))
    entries.foreach { e =>
      // the separate profiling aggregate the pipeline ran before fusing it
      // into the write, over a fresh schema inference of the written table
      val written = spark.read.parquet(e.parquetPath)
      val fields = written.schema.fields.toSeq
      val aggs = count(lit(1)) +: fields.flatMap(f => Seq(
        sum(when(col(f.name).isNull, 1L).otherwise(0L)),
        approx_count_distinct(col(f.name).cast("string"), 0.05)))
      val row = written.agg(aggs.head, aggs.tail: _*).head()
      assert(e.rowCount == row.getLong(0) && e.rowCount == 40L, e.logicalName)
      assert(e.columns.map(c => (c.name, c.dataType, c.nNulls, c.nDistinct)) ==
        fields.zipWithIndex.map { case (f, i) =>
          (f.name, ProfileOps.duckTypeName(f.dataType), row.getLong(1 + 2 * i), row.getLong(2 + 2 * i))
        }, e.logicalName)
      // the seeded re-read schema is the one inference returns
      assert(graft.ops.Tables.read(spark, e.parquetPath).schema == written.schema, e.logicalName)
    }
  }

  test("ingesting a single-block csv runs no schema job and, after the write, only the chunk collection") {
    val out = "target/pipeline_jobs"
    graft.ops.VectorOps.deleteRecursively(new java.io.File(out))
    val csv = stageCsv(s"$out/in", "few.csv", "k,v" +: (1 to 50).map(i => s"$i,v${i % 4}"))
    val (res, jobs) = withJobs(IngestionPipeline.run(spark, Seq(csv), out, resume = false))
    assert(res.failed.isEmpty && res.files.map(_.rows) == Seq(50L))
    assert(!jobs.exists(_.startsWith("parquet at Tables.scala")), jobs)
    val write = jobs.lastIndexWhere(_.startsWith("parquet at IngestOps.scala"))
    assert(write >= 0, jobs)
    // the same chunk collection, written on its own, starts the same jobs
    val pq = res.files.head.parquetPath
    val (_, chunkJobs) = withJobs(IngestionPipeline.writeCollection(
      IngestionPipeline.chunkTable(graft.ops.Tables.read(spark, pq), "k", 1000, rowHint = Some(50L)),
      "few", s"$out/again"))
    assert(chunkJobs.nonEmpty && jobs.drop(write + 1) == chunkJobs, jobs)
  }

  test("a single-block chunkTable plans one shuffle and no broadcast") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val docs = graft.ops.Tables.t(spark, sf, "documents")
    val plan = IngestionPipeline.chunkTable(docs, "doc_id", 500).queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    assert(helper.collect(plan) { case e: ShuffleExchangeExec => e }.size == 1, plan)
    assert(helper.collect(plan) { case e: BroadcastExchangeExec => e }.isEmpty, plan)
  }
}
