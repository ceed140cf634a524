package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One timed operation: an ingested input, an asked question or a forced
  * query. `cls` is its class within the workload (input format, question
  * class, query name); `ok` is false when it failed or its output was
  * wrong. */
final case class Sample(cls: String, ms: Double, ok: Boolean, traced: Boolean)

/** What a workload hands back; `Main` writes it out as JSON. */
final class Outcome {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Ingested inputs, when the workload has any: operations too, though
    * their latency is reported apart from the measured loop's. */
  val inputs = mutable.ArrayBuffer.empty[Sample]
  /** One line per failed or wrong operation; `known` holds the ones the
    * program is known to get wrong, which do not make the run incorrect. */
  val failures = mutable.ArrayBuffer.empty[String]
  val known = mutable.ArrayBuffer.empty[String]
  /** Workload-specific raw figures the result script turns into metrics. */
  val extra = mutable.LinkedHashMap.empty[String, Any]
  /** Per-layer metrics of a traced run. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    traced: Boolean, data: String, small: Boolean, plantWrong: Boolean,
    trace: Trace, cores: Int) {
  /** The scale-factor directory every workload reads its tables from. */
  def sf: String = s"$data/${if (small) "sf0.001" else "sf0.01"}"
  /** In a traced run every other operation is traced, so the run also
    * measures what tracing costs. */
  def tracedOp(i: Int): Boolean = traced && i % 2 == 0
}

/** Benchmark process: one workload, one seed, one fresh JVM, run from a
  * working directory the caller has emptied (artifact roots are relative to
  * it). Writes the raw outcome as JSON; `run.py` derives the metrics and
  * runs the DuckDB output check.
  *
  * Usage: perfbench.Main --workload ask|operators --seed N
  *   --seconds S --trace 0|1 --data <testdata root> --out <result.json>
  *   [--small] [--plant-wrong] */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val flags = args.toSet
    val workload = kv("--workload")
    val cores = Runtime.getRuntime.availableProcessors()
    val traced = kv("--trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File("spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File("spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, kv("--seed").toLong, kv("--seconds").toDouble,
      traced, kv("--data"), flags("--small"), flags("--plant-wrong"),
      new Trace(spark.sparkContext), cores)
    require(new java.io.File(ctx.sf).isDirectory, s"no table directory ${ctx.sf}")

    phase("session up")
    val sentinel = new Sentinel(spark)
    val sentinelStart = sentinel.time()
    phase("sentinel start")
    val out = workload match {
      case "ask" => AskWorkload.run(ctx)
      case "operators" => OpsWorkload.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    phase("workload done")
    val sentinelEnd = sentinel.time()
    sentinel.release()
    val heapMb = heapAfterGcMb()
    if (ctx.traced) {
      out.layers ++= ctx.trace.engineLayers(cores)
      ctx.trace.write(java.nio.file.Paths.get("spans.jsonl"))
    }
    val json = Json.render(Seq(
      "workload" -> workload, "setup_s" -> out.setupS.toSeq,
      "samples" -> out.samples.toSeq.map(s => Seq("cls" -> s.cls,
        "ms" -> s.ms, "ok" -> s.ok, "traced" -> s.traced)),
      "inputs" -> out.inputs.toSeq.map(s => Seq("cls" -> s.cls, "ms" -> s.ms, "ok" -> s.ok)),
      "failures" -> out.failures.toSeq, "known_failures" -> out.known.toSeq,
      "extra" -> out.extra.toSeq,
      "layers" -> out.layers.toSeq, "heap_after_gc_mb" -> heapMb,
      "box.sentinel_start_s" -> sentinelStart, "box.sentinel_end_s" -> sentinelEnd))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(kv("--out")), json)
    spark.stop()
    phase("stopped")
  }

  private def heapAfterGcMb(): Double = {
    System.gc(); System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private val jvmStart = System.nanoTime()
  /** Phase marks in the JVM log, for reading where a run's time went. */
  def phase(msg: String): Unit =
    System.err.println(f"[phase] ${(System.nanoTime() - jvmStart) / 1e9}%7.2f s  $msg")

  def timeS[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else f.length()
}

/** The box sentinel: a constant-plan, IO-free aggregation over a cached
  * range, timed at run start and end, so box drift and program change can
  * be told apart (the same probe as `graft.Bench`'s sentinel, on a smaller
  * range). */
final class Sentinel(spark: SparkSession) {
  import org.apache.spark.sql.functions._
  private val base = spark.range(0, 250L * 1000).toDF("id").cache()
  base.queryExecution.toRdd.count()
  private def probe(): Unit = base.groupBy(pmod(col("id"), lit(1024)).as("g"))
    .agg(sum(pmod(xxhash64(col("id")), lit(1000000L))).as("h"), count(lit(1)).as("n"))
    .queryExecution.toRdd.count(): Unit
  probe()
  def time(): Double = {
    System.gc()
    Main.timeS(probe())._2
  }
  def release(): Unit = base.unpersist(blocking = true): Unit
}

/** Minimal JSON renderer for the outcome file and the span file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => render(m.toSeq)
    case kvs: Seq[_] if kvs.nonEmpty && kvs.forall {
        case (_: String, _) => true
        case _ => false
      } =>
      kvs.map { case (k: String, x) => s"${quote(k)}:${render(x)}" case _ => "" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
