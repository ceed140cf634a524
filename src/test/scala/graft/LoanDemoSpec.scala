package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.IngestionPipeline

/** Golden demo-parity harness: the reference's own demo flow
  * (`tester.py:426-453` — convert loan.xlsx → extract schema → count,
  * `extract_schema_with_summary` at `tester.py:135-175`) run end-to-end
  * through IngestionPipeline against the REAL workbook the reference
  * ships. The goldens below were extracted from the workbook's raw
  * sheet XML (zip + inline-string cells), NOT from any Excel reader —
  * so the StAX reader, column cleaning, type inference, parquet writer
  * and catalog profiler are all checked against independent ground
  * truth in one pass. */
class LoanDemoSpec extends SparkTestBase {

  test("demo flow convert -> schema -> count matches raw-XML goldens") {
    assumeReferenceLoanXlsx()
    val out = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "loan_demo").toString
    val res = IngestionPipeline.run(spark, Seq(referenceLoanXlsx), out)

    // CONVERT: the single sheet "Data" -> one table under the reference's
    // {base}_{sheet} naming (duckdb_util.py:302-306), 1000 data rows
    assert(res.files.map(f => (f.table, f.rows)) == Seq(("loan_data", 1000L)))

    val df = spark.read.parquet(res.files.head.parquetPath)

    // SCHEMA: cleaned names in workbook column order…
    assert(df.columns.toSeq == Seq("loan_application_id", "applicant_name",
      "loan_amount_requested", "loan_type", "applicant_income",
      "credit_score", "loan_status", "repayment_schedule", "interest_rate",
      "loan_term", "collateral", "application_date", "approved_amount",
      "repayment_start_date", "is_employed", "monthly_payment"))
    // …with pandas-equivalent inferred types: integral numerics BIGINT,
    // decimals DOUBLE, text (incl. the ISO date strings this workbook
    // stores as inline strings) VARCHAR
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("loan_application_id") == StringType)
    assert(types("loan_amount_requested") == DoubleType)
    assert(types("approved_amount") == DoubleType)
    assert(types("credit_score") == LongType)
    assert(types("loan_term") == LongType)
    assert(types("is_employed") == BooleanType) // t="b" cells, pandas bool
    assert(types("application_date") == StringType)

    // COUNT + content goldens (decimal sums are exact, order-independent)
    assert(df.count() == 1000)
    def dsum(c: String) = df.agg(sum(col(c).cast("decimal(18,2)")))
      .head.getDecimal(0).stripTrailingZeros
    assert(dsum("loan_amount_requested") ==
      new java.math.BigDecimal("27782644.5").stripTrailingZeros)
    assert(dsum("applicant_income") ==
      new java.math.BigDecimal("75772862.97").stripTrailingZeros)
    assert(dsum("approved_amount") ==
      new java.math.BigDecimal("13267737.25").stripTrailingZeros)
    assert(df.agg(sum("credit_score")).head.getLong(0) == 571472L)
    assert(df.agg(sum("loan_term")).head.getLong(0) == 36588L)
    assert(df.filter(col("approved_amount").isNull).count() == 500)
    assert(df.filter(col("repayment_start_date").isNull ||
      col("repayment_start_date") === "").count() == 497)
    assert(df.filter(col("collateral").isNull ||
      col("collateral") === "").count() == 522)
    assert(df.select("loan_application_id").distinct().count() == 1000)
    assert(df.filter(col("is_employed") === true).count() == 487)
    val status = df.groupBy("loan_status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(status == Map("Denied" -> 256L, "Approved" -> 251L,
      "Pending" -> 249L, "In Review" -> 244L))

    // SCHEMA step of the demo: the catalog entry carries
    // columns + row_count + column_count (extract_schema_with_summary's
    // deterministic output), and its per-column null profile agrees with
    // the raw XML — the profiler is checked against ground truth too
    import spark.implicits._
    val cat = spark.read.option("multiLine", "true")
      .json(Seq(res.catalogJson).toDS)
    val loanRow = cat.filter(col("table") === "loan_data")
    assert(loanRow.select("row_count").head.getLong(0) == 1000L)
    val colStats = loanRow.selectExpr("explode(columns) AS c")
      .select("c.name", "c.n_nulls").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(colStats.size == 16)
    assert(colStats("approved_amount") == 500L)
    assert(colStats("loan_amount_requested") == 0L)
  }
}
