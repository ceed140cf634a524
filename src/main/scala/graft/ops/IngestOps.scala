package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** Ingestion operators: format dispatch, CSV/TSV/JSON → zstd parquet
  * conversion, column cleaning on ingest. The reference converts with chunked
  * pandas + DuckDB COPY (`ingestion_pipeline_langgraph.py:175-339`,
  * `duckdb_util.py:315-317`); here a distributed scan replaces chunking and
  * `df.write.option("compression","zstd").parquet` replaces COPY.
  */
object IngestOps {

  /** S7: extension → reader dispatch (`ingestion_pipeline_langgraph.py:158-172`). */
  def readAny(spark: SparkSession, path: String): DataFrame = {
    val lower = path.toLowerCase
    val raw =
      if (lower.endsWith(".csv"))
        spark.read.option("header", "true").option("inferSchema", "true").csv(path)
      else if (lower.endsWith(".tsv"))
        spark.read.option("header", "true").option("inferSchema", "true")
          .option("sep", "\t").csv(path)
      else if (lower.endsWith(".json"))
        spark.read.option("multiLine", "true").json(path)
      else if (lower.endsWith(".parquet"))
        spark.read.parquet(path) // an outside input, read once: no schema to reuse
      else if (lower.endsWith(".orc"))
        spark.read.orc(path)
      else if (lower.endsWith(".xlsx"))
        // first non-empty sheet in WORKBOOK order (readXlsx returns an
        // ordered Seq); per-sheet tables via ExcelSource.readXlsx, which
        // also sniffs mislabeled OLE2 content and delegates to XlsSource
        firstSheet(graft.sources.ExcelSource.readXlsx(spark, path), path)
      else if (lower.endsWith(".xls"))
        // legacy 97-2003 workbook: BIFF8 records in an OLE2 container
        firstSheet(graft.sources.XlsSource.readXls(spark, path), path)
      else sys.error(s"unsupported format: $path")
    CleanColumns(raw)
  }

  /** An all-empty workbook gets an actionable error, not `.head` of Nil. */
  private def firstSheet(sheets: Seq[(String, DataFrame)], path: String): DataFrame =
    sheets.headOption.map(_._2).getOrElse(sys.error(
      s"$path has no non-empty sheet (every sheet is blank or header-only)"))

  /** S8: zstd parquet sink (reference: COPY … COMPRESSION ZSTD,
    * ROW_GROUP_SIZE 100000 — `duckdb_util.py:315-317`). */
  def writeParquetZstd(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(path)

  /** S8 (incremental): append into an existing parquet table — the Spark
    * analog of the reference's chunked `INSERT INTO '<file>.parquet'` load
    * (`ingestion_pipeline_langgraph.py:206`): each incremental batch lands
    * as new part files in the same directory, no rewrite of existing data. */
  def appendParquetZstd(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).option("compression", "zstd").parquet(path)

  /** S2+S8+S10: CSV round-trip — export a table to CSV, re-ingest with schema
    * inference + name cleaning, write zstd parquet, re-read, aggregate.
    * The aggregate must equal the same aggregate over the original table. */
  def qIngestCsvRoundtrip(s: SparkSession, sf: String): DataFrame = {
    val work = "target/tmp_ingest"
    t(s, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(s"$work/orders_csv")
    // readAny keys off file extension; for a directory of part files read
    // the csv source explicitly with the same options + cleaning:
    val csvBack = CleanColumns(
      s.read.option("header", "true").option("inferSchema", "true")
        .csv(s"$work/orders_csv"))
    writeParquetZstd(csvBack, s"$work/orders_pq")
    read(s, s"$work/orders_pq").agg(
      count(lit(1)).as("n_rows"),
      sum(col("o_orderkey").cast("long")).as("sum_key"),
      dsum(col("o_totalprice"), 2).as("sum_price"),
      countDistinct(col("o_orderstatus")).as("n_status"))
  }

  /** S3: TSV round-trip — same contract as the CSV path with tab separator
    * (`ingestion_pipeline_langgraph.py:233-288`). */
  def qIngestTsvRoundtrip(s: SparkSession, sf: String): DataFrame = {
    val work = "target/tmp_ingest_tsv"
    t(s, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode(SaveMode.Overwrite).option("header", "true")
      .option("sep", "\t").csv(s"$work/orders_tsv")
    val back = CleanColumns(
      s.read.option("header", "true").option("inferSchema", "true")
        .option("sep", "\t").csv(s"$work/orders_tsv"))
    writeParquetZstd(back, s"$work/orders_pq")
    read(s, s"$work/orders_pq").agg(
      count(lit(1)).as("n_rows"),
      sum(col("o_orderkey").cast("long")).as("sum_key"),
      dsum(col("o_totalprice"), 2).as("sum_price"),
      countDistinct(col("o_orderstatus")).as("n_status"))
  }

  /** S4: JSON round-trip — export to JSON lines, re-ingest with inference
    * (`ingestion_pipeline_langgraph.py:291-329`), zstd parquet, aggregate. */
  def qIngestJsonRoundtrip(s: SparkSession, sf: String): DataFrame = {
    val work = "target/tmp_ingest_json"
    val out = t(s, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    out.write.mode(SaveMode.Overwrite).json(s"$work/orders_json")
    // explicit schema: inference would see an EMPTY schema when the table
    // has no rows (a JSON dir with no data files) and fail the parquet
    // write; on non-empty data it matches what inference produces
    val back = CleanColumns(s.read.schema(out.schema).json(s"$work/orders_json"))
    writeParquetZstd(back, s"$work/orders_pq")
    read(s, s"$work/orders_pq").agg(
      count(lit(1)).as("n_rows"),
      sum(col("o_orderkey").cast("long")).as("sum_key"),
      dsum(col("o_totalprice"), 2).as("sum_price"),
      countDistinct(col("o_orderstatus")).as("n_status"))
  }

  /** S13: ORC round-trip — the OTHER columnar interchange format Spark
    * ships natively (a warehouse migrating Hive/ORC data into this
    * pipeline hands over .orc directories). Export orders to zstd ORC,
    * re-ingest through the same cleaning path, land as zstd parquet,
    * aggregate; the aggregate must equal the same aggregate over the
    * original table — proving types (decimal-ish doubles, strings, longs)
    * survive the ORC writer/reader pair. Unlike the text formats there is
    * no schema inference step: ORC carries its schema, so the contract is
    * type fidelity, not parsing. */
  def qIngestOrcRoundtrip(s: SparkSession, sf: String): DataFrame = {
    val work = "target/tmp_ingest_orc"
    val src = t(s, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    src.write.mode(SaveMode.Overwrite).option("compression", "zstd")
      .orc(s"$work/orders_orc")
    // explicit schema for the same reason as the JSON path: an EMPTY table
    // writes a directory with no data files, leaving inference nothing to
    // read (type fidelity through the schema-carrying ORC reader is proven
    // by OpsSpec's readAny dispatch test on real files)
    val back = CleanColumns(s.read.schema(src.schema).orc(s"$work/orders_orc"))
    writeParquetZstd(back, s"$work/orders_pq")
    read(s, s"$work/orders_pq").agg(
      count(lit(1)).as("n_rows"),
      sum(col("o_orderkey").cast("long")).as("sum_key"),
      dsum(col("o_totalprice"), 2).as("sum_price"),
      countDistinct(col("o_orderstatus")).as("n_status"))
  }

  /** Hive-partitioned zstd parquet sink with bounded file sizes: repartition
    * on the partition columns so each output directory is written by the
    * tasks owning that key (instead of every task writing a sliver into
    * every partition — the small-file explosion), and cap rows per file so a
    * skewed partition splits into multiple right-sized files rather than one
    * giant one. At 100 TB, partition-pruned reads (`WHERE lang = 'en'` skips
    * whole directories) are the point of this layout. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      maxRecordsPerFile: Long): Unit =
    df.repartition(partitionCols.map(col): _*)
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Schema-evolution read: merge the footers of every part file instead
    * of trusting the first one, so a directory whose later appends added
    * columns reads as the union schema (older files surface NULL for the
    * new columns). Off by default in Spark because footer-merging costs a
    * pass over file metadata — turn it on per read for append-mode tables,
    * not globally. */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path) // not Tables.read: merges every footer

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(totalBytes / targetFileBytes) files. Streaming and incremental
    * appends accumulate kilobyte part-files; at scale the fix is a periodic
    * rewrite sized from the actual on-disk footprint (listed via the
    * FileSystem API — no data scan), not a guessed partition count. Returns
    * the output file count. Writes to a separate directory: Spark cannot
    * overwrite a path it is reading. */
  def compactParquet(spark: SparkSession, srcDir: String, dstDir: String,
      targetFileBytes: Long): Int = {
    val p = new org.apache.hadoop.fs.Path(srcDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    read(spark, srcDir)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).option("compression", "zstd").parquet(dstDir)
    nFiles
  }

  /** Partitioned-layout round-trip: write documents Hive-partitioned by
    * lang, read the layout back, aggregate per partition. Equality with the
    * direct aggregate proves partition values survive the directory-encoding
    * round trip (partition columns are read from paths, not data pages).
    * The work dir is keyed by sf AND a per-process token: the bench and
    * correctness harnesses run concurrently, and SaveMode.Overwrite on a
    * shared fixed path would let one read the other's half-overwritten
    * layout. */
  def qPartitionedRoundtrip(s: SparkSession, sf: String): DataFrame = {
    // pid-keyed work dirs would otherwise accumulate one full partitioned
    // copy of the table per JVM forever: reap siblings whose owning process
    // is gone (a live pid — even a recycled one — keeps its dir, which only
    // delays cleanup to the next run)
    Option(new java.io.File("target/tmp_part_docs").listFiles()).foreach(_.foreach { f =>
      val ownerDead = f.getName.split("_").lastOption.flatMap(_.toLongOption)
        .exists(p => !java.lang.ProcessHandle.of(p).isPresent)
      if (ownerDead) VectorOps.deleteRecursively(f)
    })
    // "sf" prefix: a _-leading dir name is hidden to Spark's path filter
    val work = s"target/tmp_part_docs/sf${sf.replaceAll("[^A-Za-z0-9._-]", "_")}" +
      s"_${java.lang.ProcessHandle.current.pid}"
    val docs = t(s, sf, "documents")
    writePartitioned(docs, work, Seq("lang"), maxRecordsPerFile = 100000)
    // explicit schema (incl. the partition column), not Tables.read: an
    // empty table writes no partition dirs, so inference has nothing to read
    s.read.schema(docs.schema).parquet(work)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")
  }

  /** S10: column-name cleaning applied to messy aliases
    * (`duckdb_util.py:29-61`) — "Order Key"→order_key,
    * "Total-Price($)"→total_price, "STATUS"/" status "→status, status_1. */
  def qCleanColumns(s: SparkSession, sf: String): DataFrame = {
    val messy = t(s, sf, "orders").select(
      col("o_orderkey").as("Order Key"),
      col("o_totalprice").as("Total-Price($)"),
      col("o_orderstatus").as("STATUS"),
      col("o_orderpriority").as(" status "))
    CleanColumns(messy).orderBy("order_key")
  }
}
