package graft

import graft.ops.CatalogOps
import graft.pipeline.IngestionPipeline

/** Golden pin of the FULL reference-shape catalog entry for the loan.xlsx
  * workbook (`ingestion_pipeline_langgraph.py:1011-1080`): byte-for-byte
  * against a checked-in golden, so any drift in field order, field
  * spelling, arithmetic-derived metadata (node/edge/chunk counts), or the
  * profiler's stats is caught — not just structural parseability
  * (CatalogPlannerSpec) but the exact serialized document. Every pinned
  * field is deterministic: the ingest dir is fixed, sessionId/timestamp
  * are constants, and the profiler's HLL++ sketches are hash-based. */
class LoanCatalogGoldenSpec extends SparkTestBase {

  test("loan.xlsx full catalog entry matches the checked-in golden byte-for-byte") {
    assumeReferenceLoanXlsx()
    val out = "target/loan_golden"
    graft.ops.VectorOps.deleteRecursively(new java.io.File(out))
    val res = IngestionPipeline.run(spark, Seq(referenceLoanXlsx), out)
    assert(res.files.map(_.table) == Seq("loan_data"))
    val entry = CatalogOps
      .profileTable(spark, s"$out/parquet_files", "loan_data")
      .toCatalogEntryJson(0, "goldsess1", timestamp = "")
    val goldenPath = java.nio.file.Paths.get(
      "src/test/resources/loan_catalog_entry.golden.json")
    assert(java.nio.file.Files.exists(goldenPath),
      s"golden missing; actual entry:\n$entry")
    val golden = java.nio.file.Files.readString(goldenPath).trim
    assert(entry == golden,
      s"catalog entry drifted from golden.\nACTUAL:\n$entry\nGOLDEN:\n$golden")
  }
}
