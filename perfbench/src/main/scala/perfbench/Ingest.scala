package perfbench

import graft.ops.CatalogOps
import graft.pipeline.IngestionPipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The write path of the `ask` workload's set-up: seeded input files go
  * through one `IngestionPipeline.run(..., resume = false)` call (sources
  * -> zstd parquet -> profile -> chunk and embed -> collection), and the
  * catalog it returns is the one the questions are asked against.
  *
  * One input per table the questions need, one per format (CSV, TSV, JSON,
  * xlsx, parquet), 25 to 30k rows. The seed picks each input's row sample
  * (95-100 % of its share of the source table) and its messy header
  * spellings, so two seeds ingest the same amount of work but never the
  * same bytes. */
object Ingest {

  /** `rows` is what the file holds: the benchmark's ground truth for the
    * pipeline's row counts and for the answers to the questions. */
  final case class Input(path: String, table: String, format: String, rows: DataFrame,
      nRows: Long, bytes: Long)

  /** (table, format, share of the table's rows) */
  private val slots = Seq(("lineitem", "csv", 0.5), ("orders", "tsv", 1.0),
    ("customer", "json", 1.0), ("part", "xlsx", 1.0), ("nation", "parquet", 1.0),
    ("documents", "parquet", 1.0))

  /** Header spellings an export might carry; each cleans back to the
    * column's own name, which the question templates use. */
  private val styles: Seq[String => String] = Seq(
    c => c.toUpperCase + " ",
    c => " " + c.split("_").map(_.capitalize).mkString(" ") + ".",
    c => c.replace("_", "-"),
    c => c.replace("_", " ").toUpperCase)

  def generate(spark: SparkSession, sf: String, dir: String, seed: Long): Seq[Input] = {
    val r = new Random(seed * 7919L)
    new File(dir).mkdirs()
    slots.zipWithIndex.map { case ((table, format, share), slot) =>
      val src = graft.ops.Tables.t(spark, sf, table)
      val keep = ((950 + r.nextInt(50)) * share).toInt
      val sampled = src.where(pmod(xxhash64((lit(seed) +: lit(slot) +:
        src.columns.toSeq.map(col)): _*), lit(1000)) < keep)
      // timestamps leave as text, as a spreadsheet or CSV export has them
      val plain = sampled.select(sampled.schema.fields.toSeq.map { f =>
        if (f.dataType == TimestampType) date_format(col(f.name), "yyyy-MM-dd HH:mm:ss").as(f.name)
        else col(f.name)
      }: _*)
      val messy = plain.columns.toSeq.map(c => styles(r.nextInt(styles.size))(c))
      val rows = plain.collect()
      val dst = new File(dir, s"$table.$format")
      format match {
        case "csv" => writeDelimited(dst, ",", messy, rows.toSeq)
        case "tsv" => writeDelimited(dst, "\t", messy, rows.toSeq)
        case "json" =>
          Files.writeString(dst.toPath,
            plain.toDF(messy: _*).toJSON.collect().mkString("[\n", ",\n", "\n]"))
        case "xlsx" => Xlsx.write(dst.getPath, table, messy, rows.toSeq.map(_.toSeq))
        case "parquet" =>
          val tmp = new File(dir, s"_tmp_$table")
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), plain.schema).toDF(messy: _*)
            .coalesce(1).write.parquet(tmp.getPath)
          val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no parquet part written in $tmp"))
          Files.move(part.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
          Main.deleteTree(tmp)
      }
      Input(dst.getPath, table, format, sampled.cache(), rows.length.toLong, dst.length())
    }
  }

  /** A header line and one line per row, fields quoted where needed. */
  private def writeDelimited(dst: File, sep: String, header: Seq[String], rows: Seq[Row]): Unit = {
    def field(v: Any): String = v match {
      case null => ""
      case s: String if s.exists(c => c == '"' || c == '\n' || sep.contains(c)) =>
        "\"" + s.replace("\"", "\"\"") + "\""
      case other => other.toString
    }
    val w = Files.newBufferedWriter(dst.toPath)
    try (header +: rows.map(_.toSeq)).foreach { r => w.write(r.map(field).mkString(sep)); w.newLine() }
    finally w.close()
  }

  /** What one ingest produced and how long each part of it took. */
  final case class Run(res: IngestionPipeline.PipelineResult, outDir: String, wallS: Double,
      inputS: Seq[Double], stages: Map[String, Double]) {
    def catalog: Seq[CatalogOps.TableEntry] = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper
      m.readTree(res.catalogJson).elements().asScala
        .map(e => CatalogOps.entryFromJson(m.writeValueAsString(e))).toSeq
    }
  }

  /** Ingest every input in one pipeline call. Per-input latency is split
    * from the ordered `stageSink` callbacks: an input starts where its
    * `fetch` stage starts and ends where the next input's starts. */
  def run(ctx: Ctx, inputs: Seq[Input], outDir: String): Run = {
    val stages = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val starts = mutable.ArrayBuffer.empty[Long]
    var end = 0L
    val (res, ms) = ctx.trace.operation(ctx.traced, "ingest.run", "ingest") {
      val r = IngestionPipeline.run(ctx.spark, inputs.map(_.path), outDir, resume = false,
        stageSink = (name, s) => {
          val now = System.nanoTime()
          if (name == "fetch") starts += now - (s * 1e9).toLong
          stages(name) += s
          val req = inputs.lift(starts.size - 1).map(i => new File(i.path).getName).getOrElse("")
          ctx.trace.mark(s"ingest.$name", now - (s * 1e9).toLong, now, req)
        })
      end = System.nanoTime()
      r
    }
    val bounds = starts :+ end
    Run(res, outDir, ms / 1e3,
      bounds.toSeq.sliding(2).collect { case Seq(a: Long, b: Long) => (b - a) / 1e9 }.toSeq, stages.toMap)
  }

  /** Why each input's outputs are wrong, keyed by input path; inputs that
    * check out are absent. Rows in must equal rows out per table, the
    * catalog must count them right, and the chunks must cover every row
    * exactly once. */
  def check(spark: SparkSession, run: Run, inputs: Seq[Input]): Map[String, String] = {
    val bad = mutable.LinkedHashMap.empty[String, String]
    run.res.failed.foreach(f => bad(f.input) = s"failed: ${f.error}")
    val catRows = run.catalog.map(e => e.logicalName -> e.rowCount).toMap
    inputs.filterNot(i => bad.contains(i.path)).foreach { in =>
      val why = run.res.files.filter(_.input == in.path) match {
        case Seq(fr) =>
          val pq = spark.read.parquet(fr.parquetPath)
          val coll = spark.read.parquet(s"${run.outDir}/collections/data_source_${fr.table}.parquet")
          // chunks hold row keys (the table's first column); every key must
          // appear in the chunks exactly as often as in the table
          val covered = coll.select(explode(col("row_indices")).as("k"))
            .select(col("k").cast("string").as("k")).groupBy("k").agg(count(lit(1)).as("c"))
          val want = pq.select(col(pq.columns.head).cast("string").as("k"))
            .groupBy("k").agg(count(lit(1)).as("w"))
          val Row(pqRows: Long, offKeys: Long) = covered.join(want, Seq("k"), "full_outer")
            .agg(coalesce(sum(col("w")), lit(0L)),
              count(when(!col("c").eqNullSafe(col("w")), lit(1)))).head()
          if (fr.rows != in.nRows) Some(s"reported ${fr.rows} rows, input has ${in.nRows}")
          else if (pqRows != in.nRows) Some(s"parquet holds $pqRows rows, input has ${in.nRows}")
          else if (!catRows.get(fr.table).contains(in.nRows))
            Some(s"catalog counts ${catRows.get(fr.table)} rows, input has ${in.nRows}")
          else if (offKeys != 0) Some(s"chunks cover $offKeys row keys a wrong number of times")
          else None
        case other => Some(s"produced ${other.size} tables")
      }
      why.foreach(w => bad(in.path) = w)
    }
    bad.toMap
  }

  /** Raw figures for the ingest metrics, and the per-layer ones of a
    * traced run (stage seconds are per input). */
  def report(ctx: Ctx, run: Run, inputs: Seq[Input], out: Outcome): Unit = {
    val dir = new File(run.outDir)
    val pqBytes = Main.treeBytes(new File(dir, "parquet_files")).toDouble
    val collBytes = Main.treeBytes(new File(dir, "collections")).toDouble
    val inBytes = inputs.map(_.bytes).sum.toDouble
    out.extra ++= Seq("ingest_rows" -> inputs.map(_.nRows).sum, "ingest_wall_s" -> run.wallS,
      "ingest_input_s" -> run.inputS, "ingest_input_bytes" -> inBytes,
      "ingest_output_bytes" -> (pqBytes + collBytes))
    if (ctx.traced) {
      val n = inputs.size.toDouble
      val chunks = run.res.files.map(f =>
        ctx.spark.read.parquet(s"${run.outDir}/collections/data_source_${f.table}.parquet").count()).sum
      val st = run.stages.withDefaultValue(0.0)
      out.layers ++= Seq(
        "sources.read_schema_s" -> st("read_schema") / n,
        "ingestops.write_s" -> st("read_clean_write") / n,
        "catalog.profile_s" -> st("profile") / n,
        "collection.chunk_embed_s" -> st("chunk_collection") / n,
        "ingest.fetch_s" -> st("fetch") / n,
        "ingest.gap_s" -> (run.wallS - run.stages.values.sum) / n,
        "ingest.input_bytes" -> inBytes / n,
        "ingest.parquet_bytes" -> pqBytes / n,
        "ingest.collection_bytes" -> collBytes / n,
        "ingest.chunks" -> chunks / n,
        "ingest.rows" -> inputs.map(_.nRows).sum / n,
        "ingest.failed_inputs" -> run.res.failed.size.toDouble)
    }
  }
}
