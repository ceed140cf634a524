package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main: times the headline queries over SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Failed queries are recorded as -1.0 and excluded
  * from the total (they are failures, not timings). */
object Bench {

  /** Headline subset — the expensive/representative operators, flagged
    * in `SparkEntry.specs`; the full registry is exercised by Verify,
    * correctness is not re-checked here. */
  val headline: Seq[String] = SparkEntry.specs.filter(_.headline).map(_.name)

  /** Force FULL materialization. A plain `df.count()` re-plans and lets
    * Catalyst prune unconsumed projections (and whole Window nodes), so a
    * timing could silently skip most of the query's work; executing the
    * already-optimized physical plan via `toRdd` computes every column. */
  private def force(df: org.apache.spark.sql.DataFrame): Unit = {
    df.queryExecution.toRdd.count(): Unit
  }

  /** DRIFT SENTINEL: a constant-plan, IO-free probe of the box itself.
    * Quiet-bench totals have drifted ~15% between two passes of IDENTICAL
    * code within one session (SCALE.md r13/r14) — an environmental tax,
    * not a regression — and every cross-round comparison has needed a
    * paragraph of provenance prose. The sentinel makes that drift a
    * NUMBER: the same CPU-bound aggregation (xxhash64 + keyed sum over a
    * cached 10M-row range — one shuffle, zero IO, plan independent of sf
    * and mult) is timed at bench start, middle, and end, and written into
    * every artifact. Cross-round per-query comparisons divide by the
    * sentinel ratio first; within-run drift is end/start. */
  private final class Sentinel(spark: SparkSession) {
    import org.apache.spark.sql.functions._
    private val base = spark.range(0, 10L * 1000 * 1000).toDF("id").cache()
    force(base) // materialize the cache; sentinel runs never touch IO
    private def probe(): Unit = force(
      base.groupBy(pmod(col("id"), lit(1024)).as("g"))
        // pmod bounds each term (raw 64-bit hashes overflow an ANSI sum)
        .agg(sum(pmod(xxhash64(col("id")), lit(1000000L))).as("h"),
          count(lit(1)).as("n")))
    probe() // untimed JIT/codegen warm of the sentinel's own plan
    def time(): Double = {
      System.gc()
      val t0 = System.nanoTime()
      probe()
      (System.nanoTime() - t0) / 1e9
    }
  }

  def main(args: Array[String]): Unit = {
    val sfBase = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // partitions = cores on this single box: measured r16 — raising them
    // with mult (128 reducers at x16) only added task overhead; the
    // override exists for partition-sizing studies
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the one-JSON-line output contract must not be
    // polluted — localCheckpoint-unpersist WARNs were trailing the JSON
    // line in captured output and breaking the driver's parse
    spark.sparkContext.setLogLevel("ERROR")
    // larger-scale mode: SPARK_GRAFT_BENCH_MULT=N benches an N×-replicated
    // key-offset copy of the sf dir (see BenchScale) — at sf0.1 the
    // run-to-run spread exceeds real per-round signal on expensive queries;
    // default 1 keeps driver numbers comparable across rounds
    val mult = sys.env.getOrElse("SPARK_GRAFT_BENCH_MULT", "1").toInt
    val sfDir = if (mult > 1) BenchScale.ensureScaled(spark, sfBase, mult)
      else sfBase
    // micro-bench filter: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times only the
    // named queries (for before/after optimization measurements); the
    // durable artifact write is suppressed so a partial run can never
    // masquerade as round evidence
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val run = only.map(o => headline.filter(o)).getOrElse(headline)
    // JVM/codegen warmup: run every headline query once at the smallest SF so
    // the timed runs measure execution, not plan compilation (the generated
    // code is shape-keyed, so the codegen cache carries over across SF dirs).
    val warmSf = "/root/testdata/sf0.001"
    run.foreach { name =>
      try force(SparkEntry.queries(name)(spark, warmSf))
      catch { case NonFatal(_) => () }
    }

    // median of N runs per query: a single run moved 41% between identical
    // snapshots (r2 vs r3), which would drown any real regression — the
    // median is robust to GC/scheduler spikes, and the spread is reported
    // so a noisy measurement is visible instead of silently trusted. The
    // min is reported too: it is the stable "how fast CAN this plan go"
    // estimator, immune to one-sided noise (GC, scheduler) by construction.
    //
    // Runs are INTERLEAVED round-robin across queries (pass 1 of every
    // query, then pass 2, …), with one GC between passes: back-to-back
    // repeats of the same query hand its whole sample to a single GC/JIT
    // episode, which is exactly how a 12 s spread landed on a 3 s query.
    val runsPerQuery = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    def timedOne(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        force(SparkEntry.queries(name)(spark, sfDir))
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
      }
    }
    // build the persisted index artifacts for the BENCHED sfDir explicitly
    // before any timed pass: the sf0.001 warmup above built artifacts for a
    // DIFFERENT fingerprint key, and with SPARK_GRAFT_BENCH_RUNS=1 a cold
    // artifact would fold its one-time build into the first probe timing —
    // probe queries must measure probes on any run, not index construction.
    // A failed build therefore stops the bench instead of being retried
    // (and timed) inside the first probe.
    import graft.ops.{BpeOps, PqOps, SearchOps, Tables, VectorOps}
    val artifacts: Seq[(String, () => String)] = Seq(
      "lex_index" -> (() => SearchOps.ensureLexIndex(spark, sfDir)),
      "ivf_centroids" -> (() => VectorOps.ensureCentroids(spark, sfDir)),
      "ivf_trained" -> (() => VectorOps.ensureTrainedIvf(spark, sfDir)),
      // q_ivf_topk_batch probes a corpus-sized-nlist trained index (nlist =
      // sqrt N) — a different fingerprint than the default-nlist artifact
      "ivf_trained_batch" -> (() => VectorOps.ensureTrainedIvf(spark, sfDir,
        nlist = VectorOps.adaptiveNlist(Tables.t(spark, sfDir, "embeddings").count()))),
      "pq" -> (() => PqOps.ensurePq(spark, sfDir)),
      "sq8_codes" -> (() => VectorOps.ensureSq8(spark, sfDir)),
      "bpe_tokenizer" -> (() => BpeOps.ensureBpe(spark, sfDir)),
      "bigram_lm" -> (() => SearchOps.ensureBigramLm(spark, sfDir)))
    artifacts.foreach { case (name, ensure) =>
      try ensure(): Unit
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] artifact $name FAILED: ${e.getMessage}")
        throw e
      }
    }
    // untimed warmup pass at the TARGET sf: first-touch page cache, JIT at
    // the real data shapes — doubles as the round-robin's pass 0
    run.foreach { name =>
      try force(SparkEntry.queries(name)(spark, sfDir))
      catch { case NonFatal(_) => () }
    }
    val sentinel = new Sentinel(spark)
    val sentinelStart = sentinel.time()
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    def passes(names: Seq[String], n: Int): Unit = (1 to n).foreach { _ =>
      System.gc()
      names.foreach(name => timedOne(name).foreach(t => samples(name) :+= t))
    }
    passes(run, runsPerQuery / 2 + runsPerQuery % 2)
    val sentinelMid = sentinel.time()
    passes(run, runsPerQuery / 2)
    // adaptive re-sampling: queries whose spread exceeds 30% of their
    // median are noise-dominated — give them (and only them) a second
    // interleaved block of passes before trusting the stats
    val noisy = run.filter { name =>
      val s = samples(name).sorted
      s.nonEmpty && s.last - s.head > math.max(0.2, 0.3 * s(s.size / 2))
    }
    passes(noisy, runsPerQuery)
    val sentinelEnd = sentinel.time()
    val results = run.map { name =>
      val sorted = samples(name).sorted
      if (sorted.isEmpty) (name, -1.0, -1.0, -1.0, 0)
      else (name, sorted(sorted.size / 2), sorted.head,
        sorted.last - sorted.head, sorted.size)
    }
    def jmap(f: ((String, Double, Double, Double, Int)) => Double) =
      results.map(r => "\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    val total = results.collect { case (_, med, _, _, _) if med >= 0 => med }.sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${jmap(_._2)},"min":${jmap(_._3)},"spread":${jmap(_._4)},""" +
      s""""runs":${results.map(r => "\"" + r._1 + "\":" + r._5)
        .mkString("{", ",", "}")},""" +
      f""""sentinel":{"start":$sentinelStart%.3f,"mid":$sentinelMid%.3f,""" +
      f""""end":$sentinelEnd%.3f},""" +
      s""""runs_per_query":$runsPerQuery,"mult":$mult,"sf":"$sfDir"}"""
    // durable copy of the full per-query stats: the one-line stdout JSON
    // has outgrown tail-capture windows twice (r7, r8), losing per-query
    // medians for round-over-round comparison — the on-disk artifact
    // survives regardless of how much of stdout the harness keeps
    val sfName = new java.io.File(sfBase).getName +
      (if (mult > 1) s"_x$mult" else "")
    if (only.isEmpty)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"BENCH_DRIVER_$sfName.json"),
        json.getBytes("UTF-8")): Unit
    // stop FIRST: executor/shutdown log lines must never trail the JSON
    // lines, they have to be the last things on stdout
    spark.stop()
    println(json)
    // compact totals line LAST: the full per-query line above outgrew the
    // driver's tail-capture window at 33+ queries, truncating the totals —
    // a short trailing summary line always survives a tail capture
    val nOk = results.count(_._2 >= 0)
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""n_queries":${run.size},"n_ok":$nOk,""" +
      f""""sentinel":{"start":$sentinelStart%.3f,"mid":$sentinelMid%.3f,""" +
      f""""end":$sentinelEnd%.3f},""" +
      s""""runs_per_query":$runsPerQuery,"mult":$mult,"sf":"$sfDir"}""")
  }
}
