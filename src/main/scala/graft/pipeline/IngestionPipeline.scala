package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType
import graft.ops.{CatalogOps, CleanColumns, IngestOps, ProfileOps, Tables}
import graft.sources.ExcelSource

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException,
  ExecutorCompletionService, Executors}
import scala.util.control.NonFatal

/** The end-to-end ingestion pipeline — the deterministic Spark rebuild of the
  * reference's `run_ingestion_pipeline` (`ingestion_pipeline_langgraph.py:
  * 1231-1306`): fetch → format dispatch → column cleaning → zstd parquet
  * (with the catalog profile observed in the same job) → row chunking →
  * vector-store sink. Each table costs one write job plus one chunk
  * collection job. As in the reference's `process_files_dispatcher`
  * (`:688-738`, file pool at `:703`), inputs run concurrently on up to four
  * lanes; inputs whose outputs could share a path run one after another on
  * one lane, in input order, and results come back in input order, so the
  * outputs match a one-at-a-time run. The LangGraph state machine itself
  * is orchestration sugar, not semantics (SURVEY §3.2).
  */
object IngestionPipeline {

  case class FileResult(input: String, table: String, parquetPath: String, rows: Long)
  /** One failed input (the reference records the failing `file_path`,
    * `process_and_convert_file_wrapper` `ingestion_pipeline_langgraph.py:
    * 640-685`; the error detail is ours — the envelope renders paths only,
    * matching the reference's `failed_files` list shape). */
  case class FailedFile(input: String, error: String)
  case class PipelineResult(files: Seq[FileResult], failed: Seq[FailedFile],
      catalogJson: String, envelopeJson: String)

  /** S6: URL fetch — streams `http(s)://` or `file://` sources to a local
    * temp file (`download_file_from_url`,
    * `ingestion_pipeline_langgraph.py:138-155`); plain paths pass through. */
  def fetch(url: String, workDir: String): String =
    if (url.startsWith("http://") || url.startsWith("https://"))
      // S6: the real HTTP path — streamed GET, redirects, raise-for-status,
      // transient retry (sources/UrlSource; NetIngestSpec)
      graft.sources.UrlSource.download(url, workDir)
    else if (url.contains("://")) {
      val dest = Paths.get(workDir, localName(url))
      Files.createDirectories(dest.getParent)
      val in = new java.net.URI(url).toURL.openStream()
      try Files.copy(in, dest, StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      dest.toString
    } else url

  /** The name of the file an input is read from: the one `fetch` writes
    * under its work dir for a URL (query stripped for `http(s)://`), the
    * last path segment of a plain path. Total: an input too malformed to
    * name fails later, in `fetch`, where `run` records it. */
  private def localName(url: String): String = {
    val seg = url.split("/").lastOption.getOrElse("")
    if (url.startsWith("http://") || url.startsWith("https://"))
      scala.util.Try(graft.sources.UrlSource.fileName(new java.net.URI(url)))
        .getOrElse(seg)
    else seg
  }

  /** The file name of `path` without its extension. */
  private def stem(path: String): String =
    path.split("/").last.replaceAll("\\.[^.]+$", "")

  private def isWorkbook(path: String): Boolean = {
    val lower = path.toLowerCase
    lower.endsWith(".xlsx") || lower.endsWith(".xls")
  }

  /** One input file → one or more cleaned tables (xlsx: one per non-empty
    * sheet, named `<base>_<sheet>`; the reference's naming scheme,
    * `duckdb_util.py:302-306`). */
  def readTables(spark: SparkSession, path: String): Seq[(String, DataFrame)] = {
    val base = stem(path)
    if (isWorkbook(path))
      // workbook order preserved (readXlsx returns an ordered Seq)
      ExcelSource.readXlsx(spark, path).map { case (sheet, df) =>
        (CleanColumns.cleanName(s"${base}_$sheet"), df)
      }
    else Seq((CleanColumns.cleanName(base), IngestOps.readAny(spark, path)))
  }

  /** Serialize every row like the reference chunker
    * (`chroma_ingestion_util.py:106-113`) and pack into char-budget chunks
    * (running-sum bucketing over the given order column — the scalable
    * formulation; see `graft.ops.TextOps.qChunkRows`).
    *
    * Two-level chunking, so NO window ever sees the whole table in one task:
    *   1. rows are range-split into order-contiguous blocks of at most
    *      `rowsPerBlock` rows (`repartitionByRange`, so block i holds strictly
    *      smaller order keys than block i+1);
    *   2. the char-budget running sum runs per block
    *      (`Window.partitionBy(block)`) — bounded task size by construction;
    *   3. rows are grouped into chunks on `(block, chunk_in_block)`: the
    *      window already hash-partitioned them by block, so the grouping
    *      adds no exchange;
    *   4. with several blocks, per-block chunk counts (one row per block —
    *      a tiny frame) are prefix-summed into block offsets, and `chunk_id
    *      = offset + chunk_in_block` keeps ids globally ordered. A table
    *      that fits one block needs no offset: `chunk_id = chunk_in_block`,
    *      one shuffle and no broadcast.
    * A block boundary forces a chunk break; with the default block size that
    * only differs from a single global running sum on tables of 65k+ rows,
    * where chunk layout is an artifact anyway (coverage and row order are
    * invariant — PipelineSpec asserts both). Inputs that fit one block are
    * bit-identical to the single-window formulation. */
  def chunkTable(df: DataFrame, orderCol: String, budget: Int,
      rowsPerBlock: Int = 65536, rowHint: Option[Long] = None): DataFrame = {
    val cols = df.columns.toSeq
    val body = cols.map(c =>
      concat(lit(s"$c:"), coalesce(col(c).cast("string"), lit("NULL"))))
    val rowText = concat(lit("[index "), col(orderCol), lit("] "),
      concat_ws(" | ", body: _*))
    // rowHint: callers that already counted the table (the pipeline profiles
    // it inside its parquet write) pass the count in, so block sizing
    // doesn't cost an extra full pass per ingested table
    val total = rowHint.getOrElse(df.count())
    val nBlocks = math.max(1L, (total + rowsPerBlock - 1L) / rowsPerBlock).toInt
    val rows = df.select(col(orderCol).as("__idx"), rowText.as("row_text"))
      .withColumn("len", length(col("row_text")).cast("long"))
    // works for any orderable key (including string ids): blocks are range
    // partitions of the order column, not arithmetic on its value
    val blocked =
      if (nBlocks == 1) rows.withColumn("block", lit(0L))
      else rows.repartitionByRange(nBlocks, col("__idx"))
        .withColumn("block", spark_partition_id().cast("long"))
    val wRun = Window.partitionBy("block").orderBy("__idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunks = blocked.withColumn("chunk_in_block",
        floor((sum(col("len")).over(wRun) - col("len")) / lit(budget.toDouble))
          .cast("long"))
      .groupBy("block", "chunk_in_block")
      .agg(array_sort(collect_list(struct(col("__idx"), col("row_text"))))
        .as("sorted_rows"),
        count(lit(1)).as("n_rows"))
    val numbered =
      if (nBlocks == 1) chunks.withColumn("chunk_id", col("chunk_in_block"))
      else {
        // block → first global chunk id; one row per block, so the
        // unpartitioned prefix-sum window is over ≤ nBlocks rows, never the
        // data
        val offsets = chunks.groupBy("block")
          .agg((max(col("chunk_in_block")) + 1L).as("n_chunks"))
          .withColumn("offset",
            coalesce(sum(col("n_chunks")).over(Window.orderBy("block")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("block", "offset")
        chunks.join(broadcast(offsets), Seq("block"))
          .withColumn("chunk_id", col("offset") + col("chunk_in_block"))
      }
    // text lines and row_indices are derived from the SAME sorted array so
    // line i always corresponds to row_indices[i] (collect_list alone is
    // partition-order nondeterministic)
    numbered.select(col("chunk_id"),
      array_join(transform(col("sorted_rows"), x => x.getField("row_text")), "\n")
        .as("text"),
      transform(col("sorted_rows"), x => x.getField("__idx")).as("row_indices"),
      col("n_rows"))
  }

  /** V2 seam: the embedding kernel is pluggable; the default is a STUB — a
    * deterministic hash-derived vector (the real service call is a network
    * dependency the reference satisfies with Azure ada-002,
    * `chroma_ingestion_util.py:147-160`; this environment has no network).
    * Plumbing (batching, schema `array<float>`) is real. */
  def stubEmbed(dim: Int)(textCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(dim - 1)), i =>
      (pmod(xxhash64(textCol, i), lit(1000L)).cast("double") / 500.0 - 1.0)
        .cast("float"))

  /** S12: vector-store sink — one "collection" per table
    * (`data_source_<base>`, `chroma_ingestion_util.py:190-205`), written as
    * a parquet table of chunks + embeddings + metadata, overwrite =
    * delete-then-recreate freshness (`:267-327`). */
  def writeCollection(chunks: DataFrame, table: String, outDir: String, dim: Int = 64,
      embedder: Option[Embedder] = None): String = {
    val path = s"$outDir/collections/data_source_$table.parquet"
    // V2 seam: a bound embedder routes every chunk batch through the real
    // executor-side HTTP path (Embedder.embedColumn); the default stays the
    // deterministic stub so collections are hermetic and oracle-replayable
    val embedded = embedder match {
      case Some(e) => Embedder.embedColumn(chunks, "text", e)
      case None => chunks.withColumn("embedding", stubEmbed(dim)(col("text")))
    }
    embedded
      .withColumn("source_table", lit(table))
      .write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(path)
    path
  }

  /** The catalog profile of a table as observed metrics of its parquet
    * write (`Dataset.observe`), so profiling costs no job of its own: row
    * count + per-column null/distinct stats (HLL++ sketches, not exact
    * countDistinct — see CatalogOps.profileTable for the 100-TB argument).
    * The count also sizes chunkTable's blocks. */
  private def profiled(df: DataFrame, profile: Observation): DataFrame = {
    val metrics = df.schema.fields.toSeq.zipWithIndex.flatMap { case (fld, i) =>
      // coalesce: sum over ZERO rows is NULL (a header-only input)
      Seq(coalesce(sum(when(col(fld.name).isNull, 1L).otherwise(0L)), lit(0L)).as(s"nnull_$i"),
        // rsd 0.05 — see CatalogOps.profileTable: precision 0.01 costs
        // 20-50 s of quadratic Catalyst planning per wide table
        approx_count_distinct(col(fld.name).cast("string"), 0.05).as(s"ndist_$i"))
    }
    df.observe(profile, count(lit(1)).as("rows"), metrics: _*)
  }

  /** The catalog entry of a table written from a [[profiled]] frame with
    * schema `schema`; call it after the write has finished. */
  private def profileEntry(profile: Observation, schema: StructType, table: String,
      parquetPath: String): CatalogOps.TableEntry = {
    val m = profile.get
    def long(name: String) = m(name).asInstanceOf[Long]
    CatalogOps.TableEntry(table, parquetPath, long("rows"),
      schema.fields.toSeq.zipWithIndex.map { case (fld, i) =>
        CatalogOps.ColumnMeta(fld.name, ProfileOps.duckTypeName(fld.dataType),
          long(s"nnull_$i"), long(s"ndist_$i"))
      })
  }

  // ---- resume markers ------------------------------------------------
  // The reference checkpoints pipeline state (`MemorySaver`,
  // `ingestion_pipeline_langgraph.py:1222-1223`) so a resumed graph skips
  // completed nodes. The Spark analog: after ALL outputs of one input file
  // (parquet tables + collections) are fully written, an atomic per-input
  // marker records the input's content fingerprint plus every produced
  // table (path, rows, catalog entry). A re-run skips inputs whose marker
  // fingerprint still matches and whose outputs exist — a killed 100-TB
  // backfill resumes from the last completed file instead of from zero,
  // and completed inputs are never re-read (the marker even replays the
  // catalog entry, so no re-profiling pass either). A kill mid-file leaves
  // partial outputs WITHOUT a marker; the re-run overwrites them.

  private def markerFile(outDir: String, url: String): java.io.File = {
    val stem = CleanColumns.cleanName(url.split("/").last.takeRight(64))
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(url.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
    new java.io.File(s"$outDir/markers", s"${stem}_$h.json")
  }

  private def writeMarker(marker: java.io.File, url: String, fp: String,
      done: Seq[(FileResult, CatalogOps.TableEntry)]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val root = mapper.createObjectNode()
    root.put("input", url)
    root.put("fp", fp)
    val arr = root.putArray("files")
    done.foreach { case (fr, te) =>
      val n = arr.addObject()
      n.put("table", fr.table)
      n.put("parquet", fr.parquetPath)
      n.put("rows", fr.rows)
      // explicit type param: set's generic return would otherwise be
      // inferred from an ascription and CCE at runtime
      n.set[com.fasterxml.jackson.databind.node.ObjectNode](
        "entry", mapper.readTree(te.toJson))
    }
    marker.getParentFile.mkdirs()
    val tmp = new java.io.File(marker.getParentFile, marker.getName + ".tmp")
    Files.writeString(tmp.toPath, mapper.writeValueAsString(root))
    Files.move(tmp.toPath, marker.toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** A marker is honored only if its fingerprint matches the CURRENT input
    * content and every recorded output still exists — a changed input or a
    * vanished output falls through to reprocessing. */
  private def readMarker(marker: java.io.File, url: String, fp: String,
      outDir: String): Option[Seq[(FileResult, CatalogOps.TableEntry)]] =
    if (!marker.exists()) None
    else scala.util.Try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper
      val root = mapper.readTree(Files.readString(marker.toPath))
      require(root.get("fp").asText == fp, "input content changed")
      val arr = root.get("files")
      (0 until arr.size).map { i =>
        val n = arr.get(i)
        val table = n.get("table").asText
        val pq = n.get("parquet").asText
        require(new java.io.File(pq).exists(), s"missing parquet $pq")
        require(new java.io.File(
          s"$outDir/collections/data_source_$table.parquet").exists(),
          s"missing collection for $table")
        (FileResult(url, table, pq, n.get("rows").asLong),
          CatalogOps.entryFromJson(mapper.writeValueAsString(n.get("entry"))))
      }
    }.toOption

  /** Process ONE input file end-to-end (fetch → tables → parquet with the
    * catalog profile observed in the write → chunk collections), honoring a
    * matching resume marker. Stages, as reported to `stageSink`: `fetch`,
    * `read_schema`, then per table `read_clean_write` and
    * `chunk_collection`; there is no `profile` stage. Throws on any
    * failure — `run` owns the per-file degrade. */
  private def processOne(spark: SparkSession, url: String, outDir: String,
      chunkBudget: Int, resume: Boolean,
      stageSink: (String, Double) => Unit = (_, _) => ())
      : Seq[(FileResult, CatalogOps.TableEntry)] = {
    // stage boundaries follow the pipeline's ACTIONS, because Spark fuses
    // the lazy read→clean chain into the parquet write job: fetch and
    // read_schema (CSV/xlsx schema work) are eager, read_clean_write is
    // one job, chunk_collection one more. BenchIngest aggregates these per
    // mult level.
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      stageSink(name, (System.nanoTime() - t0) / 1e9)
      r
    }
    val local = timed("fetch")(fetch(url, s"$outDir/downloads"))
    val localFile = new java.io.File(local)
    if (!localFile.exists())
      throw new java.io.FileNotFoundException(s"Local file not found: $local")
    val fp = graft.ops.ArtifactStore.fingerprint(localFile, s"ingest:v1:$chunkBudget")
    val marker = markerFile(outDir, url)
    val resumed = if (resume) readMarker(marker, url, fp, outDir) else None
    resumed.getOrElse {
      val done = timed("read_schema")(readTables(spark, local)).map { case (table, df) =>
        val pq = s"$outDir/parquet_files/$table.parquet"
        val profile = Observation()
        timed("read_clean_write")(IngestOps.writeParquetZstd(profiled(df, profile), pq))
        val entry = profileEntry(profile, df.schema, table, pq)
        // the written schema, so the re-read starts no schema-inference job
        Tables.seed(pq, df.schema)
        val persisted = Tables.read(spark, pq)
        val chunks = chunkTable(persisted, persisted.columns.head, chunkBudget,
          rowHint = Some(entry.rowCount))
        timed("chunk_collection")(writeCollection(chunks, table, outDir))
        (FileResult(url, table, pq, entry.rowCount), entry)
      }
      if (resume) writeMarker(marker, url, fp, done)
      done
    }
  }

  /** The reference's file pool width: `process_files_dispatcher` runs
    * inputs on `ThreadPoolExecutor(max_workers=min(len(files), 4))`
    * (`ingestion_pipeline_langgraph.py:703`). */
  private val MaxLanes = 4

  /** Input indices grouped by the output paths they could share, each
    * group in input order, groups ordered by their first input. An input
    * writes `<key>.parquet` (key = cleaned stem of its `localName`, which
    * also names its download) and a workbook writes `<key>_<sheet>.parquet`
    * (`<sheet>.parquet` for an empty key), so two inputs clash when their
    * keys are equal or one is a workbook whose key plus `_` prefixes the
    * other's or is empty. */
  private[graft] def laneGroups(inputs: Seq[String]): Seq[Seq[Int]] = {
    val names = inputs.map(localName)
    val keys = names.map(n => CleanColumns.cleanName(stem(n)))
    def covers(a: Int, b: Int) = isWorkbook(names(a)) &&
      (keys(a).isEmpty || keys(b).startsWith(keys(a) + "_"))
    def clash(a: Int, b: Int) = keys(a) == keys(b) || covers(a, b) || covers(b, a)
    inputs.indices.foldLeft(Vector.empty[Vector[Int]]) { (groups, i) =>
      val (hit, rest) = groups.partition(_.exists(clash(_, i)))
      (rest :+ (hit.flatten.sorted :+ i)).sortBy(_.head)
    }
  }

  /** Full run: inputs → parquet tables + catalog envelope + chunk
    * collections, with the reference's per-file degrade contract: a corrupt
    * or unreadable input is recorded in `failed` and the batch CONTINUES
    * (`process_and_convert_file_wrapper` catches per-file exceptions and
    * returns the failing path, `ingestion_pipeline_langgraph.py:640-685`).
    * The output document is the reference envelope with REAL
    * successful/failed counts; when no input survives, it is the
    * `error_handler_node` envelope (`:1147-1186`) — success=false, zero
    * counts, `vector_ingestion_status:"not_started"`, the canonical error
    * string. `resume=true` (default) also makes the run idempotent via
    * per-input markers (see above).
    *
    * Inputs run concurrently on up to four lanes, the reference's file pool
    * width (`:703`), on daemon threads `graft-ingest-<n>` created per call,
    * so they inherit the caller's Spark local properties and active
    * session. Inputs that could write the same output path (see
    * `laneGroups`) run one after another on one lane, in input order, so
    * the last one wins as in a sequential run. `files`, `failed`, the
    * catalog and the envelope list inputs in input order. A non-fatal
    * failure degrades its input to a `FailedFile`; any other throwable
    * (an interrupt included) cancels the other lanes and propagates.
    *
    * @param stageSink receives `(stage, seconds)` per stage of each input.
    *   It is called from the lane threads, one call at a time (`run` holds
    *   one lock around every call), so a plain mutable accumulator is
    *   safe; stage seconds of overlapping inputs overlap in wall time. */
  def run(spark: SparkSession, inputs: Seq[String], outDir: String,
      chunkBudget: Int = 1000, sessionId: String = "graft",
      timestamp: String = "", resume: Boolean = true,
      stageSink: (String, Double) => Unit = (_, _) => ()): PipelineResult = {
    require(inputs.nonEmpty, "No input files provided") // validate_inputs_node
    Files.createDirectories(Paths.get(s"$outDir/parquet_files"))
    val sinkLock = new Object
    val sink: (String, Double) => Unit = (name, s) => sinkLock.synchronized(stageSink(name, s))
    val outcomes =
      new Array[Either[FailedFile, Seq[(FileResult, CatalogOps.TableEntry)]]](inputs.size)
    val groups = laneGroups(inputs)
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(math.min(groups.size, MaxLanes), { (r: Runnable) =>
      val t = new Thread(r, s"graft-ingest-${threads.size + 1}")
      t.setDaemon(true)
      threads.add(t)
      t
    })
    try {
      val lanes = new ExecutorCompletionService[Unit](pool)
      groups.foreach(g => lanes.submit(() => g.foreach { i =>
        // a lane cancelled between inputs stops, even if a Spark call
        // swallowed the interrupt
        if (pool.isShutdown) throw new InterruptedException("ingest cancelled")
        val url = inputs(i)
        outcomes(i) =
          try Right(processOne(spark, url, outDir, chunkBudget, resume, sink))
          catch {
            case NonFatal(e) =>
              Left(FailedFile(url, s"${e.getClass.getSimpleName}: " +
                Option(e.getMessage).getOrElse("")))
          }
      }))
      groups.foreach { _ =>
        try lanes.take().get()
        catch { case e: ExecutionException => throw e.getCause }
      }
    } finally {
      pool.shutdownNow()
      // join, not awaitTermination: a pool reports terminated while its
      // last worker thread is still alive
      threads.forEach(_.join())
    }
    val done = outcomes.toSeq.collect { case Right(d) => d }.flatten
    val failed = outcomes.toSeq.collect { case Left(f) => f }
    val files = done.map(_._1)
    val catalogJson = done.map(_._2.toJson).mkString("[", ",", "]")
    val env =
      if (files.isEmpty)
        CatalogOps.envelope(Nil, failed.map(_.input), 0, "not_started",
          sessionId, timestamp,
          Some("No Parquet files were successfully created."))
      else {
        val entriesFull = done.map(_._2).zipWithIndex.map { case (te, i) =>
          te.toCatalogEntryJson(i, sessionId, timestamp = timestamp)
        }
        CatalogOps.envelope(entriesFull, failed.map(_.input), files.size,
          "completed", sessionId, timestamp)
      }
    Files.writeString(Paths.get(s"$outDir/catalog.json"), env)
    PipelineResult(files, failed, catalogJson, env)
  }
}
