package perfbench

import graft.SparkEntry
import graft.ops.{Tables, VectorOps}
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.catalyst.InternalRow

import scala.util.Random

/** Scan-, shuffle- and kernel-bound work: one pass over thirteen headline
  * queries in a seeded order, each forced through `queryExecution.toRdd`
  * like `graft.Bench`, with the persisted IVF index `q_ivf_topk_batch`
  * probes built in set-up. One query per `ops` module family but the
  * lexical and product-quantization indexes (their artifacts add 6-12 s
  * of set-up to every run), plus the `functions`
  * kernels, `plans.StatsPruneRule` and `ArtifactStore`; `q_regex_funcs` is
  * one of the unexplained risers of the headline bench.
  *
  * Each query's time is split into construct (the code that assembles the
  * DataFrame, eager collects included), plan (`executedPlan`) and execute.
  * The forced rows are kept, so the output check compares exactly the rows
  * that were timed with the query's DuckDB oracle, after the clock. A traced run
  * makes two passes and traces each query in one of them, so every query
  * also has an untraced time to measure tracing cost against. */
object OpsWorkload {

  val queries: Seq[String] = Seq("q_agg_groupby", "q_ntile",
    "q_ivf_topk_batch", "q_fuzzy_join",
    "q_dedup_spans", "q_minhash_neardup", "q_session_window", "q_asof_join_blocked",
    "q_cm_join_est", "q_planned_skew_join", "q_regex_funcs", "q_upsert_merge",
    "q_pruned_scan_rule")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sf = ctx.sf
    val out = new Outcome
    val (_, ensureS) = Main.timeS {
      VectorOps.ensureTrainedIvf(spark, sf,
        nlist = VectorOps.adaptiveNlist(Tables.t(spark, sf, "embeddings").count()))
    }
    out.setupS += ensureS
    Main.phase("set-up done")

    val order = new Random(ctx.seed).shuffle(queries)
    final case class Timed(q: String, constructS: Double, planS: Double, execS: Double,
        traced: Boolean, df: org.apache.spark.sql.DataFrame, rows: Array[InternalRow]) {
      def totalS: Double = constructS + planS + execS
    }
    def pass(tracedAt: Int => Boolean): Seq[Timed] = order.zipWithIndex.map { case (q, i) =>
      val traced = tracedAt(i)
      var parts = (0.0, 0.0, 0.0)
      val ((df, rows), _) = ctx.trace.operation(traced, "ops.query", q) {
        val (df, c) = Main.timeS(ctx.trace.span("ops.construct", q)(SparkEntry.queries(q)(spark, sf)))
        val (_, p) = Main.timeS(ctx.trace.span("ops.plan", q)(df.queryExecution.executedPlan))
        val (rows, e) = Main.timeS(ctx.trace.span("ops.execute", q)(
          df.queryExecution.toRdd.map(_.copy()).collect()))
        parts = (c, p, e)
        (df, rows)
      }
      Timed(q, parts._1, parts._2, parts._3, traced, df, rows)
    }
    val first = pass(ctx.tracedOp)
    val timed = if (ctx.traced) first ++ pass(i => ctx.tracedOp(i + 1)) else first
    timed.foreach(t => out.samples += Sample(t.q, t.totalS * 1e3, ok = true, t.traced))

    Main.phase(s"measured ${timed.size} queries")
    // the forced rows go to parquet for the DuckDB oracle, after the clock
    val dir = new java.io.File("ops_results")
    first.foreach { t =>
      PerfbenchBridge.frameOf(t.df, t.rows.toSeq).coalesce(1).write
        .parquet(new java.io.File(dir, t.q).getPath)
    }
    out.extra ++= Seq("results_dir" -> dir.getAbsolutePath, "sf_dir" -> sf,
      "oracle" -> queries.map(q => q -> SparkEntry.oracleSql(q)))

    if (ctx.traced) {
      out.layers += "artifact.ensure_s" -> ensureS
      timed.filter(_.traced).sortBy(_.q).foreach { t =>
        out.layers ++= Seq(s"ops.${t.q}.s" -> t.totalS, s"ops.${t.q}.plan_s" -> (t.constructS + t.planS),
          s"ops.${t.q}.shuffle_write_bytes" -> ctx.trace.counters(s"req:${t.q}:shuffle_write_bytes"))
      }
    }
    out
  }
}
