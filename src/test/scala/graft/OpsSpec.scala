package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.ops._

/** Spark-level operator specs over tiny in-memory data + sf0.001 testdata. */
class OpsSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  test("cosine: identical vectors score 1, orthogonal score 0, range is [-1,1]") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (1 to 30).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("id", "v")
    val self = df.select(Tables.cosine(col("v"), col("v")).as("c")).collect()
    self.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
    val pairs = df.as("a").crossJoin(df.as("b"))
      .select(Tables.cosine(col("a.v"), col("b.v")).as("c")).collect()
    pairs.foreach(r => assert(r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9))
    val ortho = Seq((Array(1f, 0f), Array(0f, 1f))).toDF("a", "b")
      .select(Tables.cosine(col("a"), col("b"))).head.getDouble(0)
    assert(math.abs(ortho) < 1e-12)
  }

  test("cosineFast (codegen expression) is bit-identical to the HOF cosine") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vecs = (1 to 200).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("id", "v")
    val q = vecs(17)._2
    val both = df.select(
      Tables.cosine(col("v"), lit(q)).as("hof"),
      Tables.cosineFast(col("v"), lit(q)).as("fused")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"ulp mismatch: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("CosineSimilarityLong is bit-identical to the HOF long-array cosine") {
    import spark.implicits._
    import org.apache.spark.sql.GraftColumnBridge
    val rnd = new scala.util.Random(31)
    // micro-int scale values incl. sums past 2^24 (where a float kernel
    // would diverge — the reason this kernel exists)
    val vecs = (1 to 200).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextLong() % 5000000000L)))
    val df = vecs.toDF("id", "v")
    val q = vecs(17)._2
    def hofDot = aggregate(
      zip_with(col("v"), lit(q), (a, b) => a.cast("double") * b.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    def norm2(c: org.apache.spark.sql.Column) =
      aggregate(transform(c, x => x.cast("double") * x.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val fused = GraftColumnBridge.column(graft.functions.CosineSimilarityLong(
      GraftColumnBridge.expression(col("v")),
      GraftColumnBridge.expression(lit(q))))
    val both = df.select(
      (hofDot / (sqrt(norm2(col("v"))) * sqrt(norm2(lit(q))))).as("hof"),
      fused.as("fast")).collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"ulp mismatch: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
    // length mismatch must yield NULL, matching zip_with's null poisoning
    val mism = df.select(GraftColumnBridge.column(
      graft.functions.CosineSimilarityLong(
        GraftColumnBridge.expression(col("v")),
        GraftColumnBridge.expression(lit(Array(1L, 2L))))).as("c")).collect()
    mism.foreach(r => assert(r.isNullAt(0)))
  }

  test("unionByName null-fills missing columns on both sides") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("id", "only_a")
    val b = Seq((2, 9.5)).toDF("id", "only_b")
    val u = a.unionByName(b, allowMissingColumns = true).orderBy("id")
    val rows = u.collect()
    assert(u.columns.toSeq == Seq("id", "only_a", "only_b"))
    assert(rows(0).getString(1) == "x" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) == 9.5)
  }

  test("simhash: identical docs hash identically, disjoint docs differ") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark table scan join filter agg"),
      (2L, "spark table scan join filter agg"),
      (3L, "zebra yak xylophone walrus vulture")).toDF("doc_id", "text")
    val out = TextOps.simhash(df, "text").orderBy("doc_id").collect()
    assert(out(0).getLong(1) == out(1).getLong(1))
    assert(out(0).getLong(1) != out(2).getLong(1))
  }

  test("minhash LSH finds exact-duplicate documents as jaccard-1 pairs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, base), (2L, base),                      // exact dup pair
      (3L, "completely different words forming another document body here"),
      (4L, base + " with a small tail change"))    // near dup of 1/2
    .toDF("doc_id", "text")
    val shingled = DedupOps.withShingles(df)
    val sigs = DedupOps.minhashSignatures(shingled, k = 32)
    val cands = DedupOps.minhashCandidates(sigs, k = 32, bands = 8)
    val jac = DedupOps.jaccardForPairs(shingled, cands).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the exact-dup pair must be found with jaccard 1.0 (minhash sigs equal
    // => same buckets in every band)
    val key = jac.keys.find(k => Set(k._1, k._2) == Set(1L, 2L))
    assert(key.isDefined, s"dup pair not among candidates: ${jac.keys}")
    assert(jac(key.get) == 1.0)
    // doc 3 shares no shingles with 1: if it appears as a candidate its
    // jaccard must be 0 and it must not pair with jaccard >= 0.4
    jac.foreach { case ((a, b), j) =>
      if (Set(a, b).contains(3L)) assert(j == 0.0)
    }
  }

  test("minhash neardup recall vs the exact pipeline, with miss diagnostics") {
    // qMinhashNeardup's driver oracle asserts output == qNgramJaccardPairs;
    // banding recall is probabilistic by design (sized so a miss is
    // ~1.5e-7 per pair at the corpus' measured J >= 0.889 — see the
    // operator scaladoc). This spec measures the same recall and, on a
    // miss, REPORTS the pair list with per-pair Jaccard so a band-luck
    // event is distinguishable from a real regression at a glance.
    val sfDir = "/root/testdata/sf0.01"
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("jaccard_e6")).toMap
    val exact = pairSet(DedupOps.qNgramJaccardPairs(spark, sfDir))
    val lsh = pairSet(DedupOps.qMinhashNeardup(spark, sfDir))
    val missed = exact.keySet -- lsh.keySet
    assert(missed.isEmpty,
      s"LSH banding missed ${missed.size}/${exact.size} exact pairs " +
        missed.toSeq.sorted.map(p => s"$p j_e6=${exact(p)}").mkString("[", ", ", "]") +
        " — if every missed pair has jaccard_e6 near the 400000 threshold " +
        "this is band-luck (re-derive the k/bands sizing); otherwise a " +
        "candidate-generation regression")
    assert(lsh == exact, "precision: LSH output must equal the exact pair set")
  }

  test("prefix + length + positional filters are lossless vs brute-force all-pairs") {
    import spark.implicits._
    // engineered corpus: exact dups, near-clones at graded overlap (some
    // straddling the 0.4 boundary), plus seeded-random docs over a small
    // vocabulary so many pairs share SOME shingles — the regime where an
    // unsound filter would actually drop a pair
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rnd = new scala.util.Random(41)
    val randomDocs = (1 to 30).map { i =>
      val n = 5 + rnd.nextInt(10)
      (i.toLong, "s", (1 to n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val clones = (0 to 8).map { k => // k tail words replaced: overlap slides through t
      (100L + k, "s",
        base.split(" ").dropRight(k).mkString(" ") + " " + ("nu " * k).trim)
    }
    val docs = (randomDocs ++ clones :+ ((200L, "s", base))).toDF("doc_id", "source", "text")
    val shingles = DedupOps.withShingles(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val ids = shingles.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      inter = (shingles(a) & shingles(b)).size.toDouble
      uni = (shingles(a) | shingles(b)).size
      if uni > 0 && inter / uni >= 0.4
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "test corpus produced no qualifying pairs")
    val cands = DedupOps.candidatePairs(DedupOps.withShingles(docs, "source"), 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = expected -- cands
    assert(missed.isEmpty,
      s"filters dropped qualifying pairs: $missed (of ${expected.size} expected)")
  }

  test("fuzzy join: deletion-neighborhood blocking is lossless vs brute force") {
    import spark.implicits._
    // adversarial short strings: empty, single chars, substitutions,
    // insertions/deletions at every position, plus seeded-random noise
    val rnd = new scala.util.Random(71)
    val alphabet = "abc"
    val base = Seq("", "a", "b", "ab", "ba", "abc", "abcd", "acd", "abd",
      "aabc", "abca", "xbc", "axc", "abx")
    val noise = (1 to 40).map(_ =>
      (1 to (1 + rnd.nextInt(5))).map(_ => alphabet(rnd.nextInt(3))).mkString)
    val names = (base ++ noise).distinct
    val df = names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("id", "name")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      i <- names.indices; j <- names.indices if i < j
      if lev(names(i), names(j)) <= 1
    } yield (i.toLong, j.toLong)).toSet
    assert(expected.nonEmpty)
    val got = FuzzyOps.fuzzyPairs(df)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"missed=${expected -- got} extra=${got -- expected}")
  }

  test("frequency-ordered prefixes shrink the hottest (source,key) bucket") {
    val docs = Tables.t(spark, sf, "documents")
    val base = DedupOps.withShingles(docs)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    // lexicographic baseline: the naive prefix explode (first plen keys of
    // each value-sorted array) — the ordering prefixKeys replaced
    val plen = (size(col("sh")) - ceil(size(col("sh")) * lit(0.4)) + 1)
      .cast("int")
    val lexMax = base.withColumn("sh", array_sort(col("sh")))
      .select(col("source"), explode(slice(col("sh"), lit(1), plen)).as("key"))
      .groupBy("source", "key").count()
      .agg(max("count")).head.getLong(0)
    val freqMax = DedupOps.prefixKeys(base, 0.4)
      .groupBy("source", "key").count()
      .agg(max("count")).head.getLong(0)
    // PPJoin's point: rare shingles fill the prefixes, so the worst bucket
    // (= the biggest single join task) must not grow — and should shrink
    info(s"max (source,key) prefix bucket: lex=$lexMax freq=$freqMax")
    assert(freqMax <= lexMax)
  }

  test("multimodal: sniffFormat detects magic bytes; decodeFeatures is deterministic") {
    assert(MultimodalOps.sniffFormat(Array(0xff.toByte, 0xd8.toByte, 0xff.toByte)) == "jpeg")
    assert(MultimodalOps.sniffFormat(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)) == "png")
    assert(MultimodalOps.sniffFormat("RIFFxxxx".getBytes) == "riff")
    assert(MultimodalOps.sniffFormat("plain".getBytes) == "unknown")

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType)))
    val rows = Seq(Row(1L, "RIFF1234".getBytes), Row(2L, Array[Byte](0xff.toByte, 0xd8.toByte, 1, 2)))
    val df = spark.createDataFrame(rows.asJava, schema)
    val out1 = MultimodalOps.decodeFeatures(df).orderBy("doc_id").collect()
    val out2 = MultimodalOps.decodeFeatures(df).orderBy("doc_id").collect()
    assert(out1.toSeq == out2.toSeq)
    assert(out1(0).getString(2) == "riff" && out1(0).getLong(1) == 8L)
    assert(out1(1).getString(2) == "jpeg")
    assert(out1(0).getSeq[Float](3).length == MultimodalOps.featureDim)
  }

  test("classifyLang: shuffle-join path (broadcast disabled) matches the broadcast path") {
    import spark.implicits._
    val langWords = Map(
      "aa" -> Seq("apfel", "birne", "kirsche", "traube"),
      "bb" -> Seq("apple", "pear", "cherry", "grape"))
    val rnd = new scala.util.Random(17)
    val train = (1 to 60).map { i =>
      val lang = Seq("aa", "bb")(i % 2)
      (i.toLong, lang, (1 to 10).map(_ => langWords(lang)(rnd.nextInt(4))).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val test = (61 to 80).map { i =>
      val lang = Seq("aa", "bb")(i % 2)
      (i.toLong, lang, (1 to 10).map(_ => langWords(lang)(rnd.nextInt(4))).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    // pad the profile table with junk vocabulary so it is "oversized"
    // relative to a disabled broadcast threshold — the join must then run
    // as a token-keyed shuffle join with identical output
    val junk = (1 to 5000).map(i => ("zz", s"junktok$i", -20000000L, -21000000L))
      .toDF("lang", "tok", "logp_e6", "unseen_logp_e6")
    val profiles = TextOps.trainLangProfiles(train).unionByName(junk)
    def run() = TextOps.classifyLang(test, profiles)
      .orderBy("doc_id").collect().toSeq
    val viaBroadcast = run()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = TextOps.classifyLang(test, profiles)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"broadcast still forced with threshold disabled:\n$plan")
      assert(run() == viaBroadcast)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("naive-Bayes lang-id is exact on separable vocabularies") {
    import spark.implicits._
    val langWords = Map(
      "aa" -> Seq("apfel", "birne", "kirsche", "traube"),
      "bb" -> Seq("apple", "pear", "cherry", "grape"),
      "cc" -> Seq("pomme", "poire", "cerise", "raisin"))
    val rnd = new scala.util.Random(5)
    val docs = (1 to 120).map { i =>
      val lang = Seq("aa", "bb", "cc")(i % 3)
      val words = (1 to 12).map(_ => langWords(lang)(rnd.nextInt(4)))
      (i.toLong, words.mkString(" "), lang)
    }.toDF("doc_id", "text", "lang")
    val train = docs.filter($"doc_id" % 4 =!= 0)
    val test = docs.filter($"doc_id" % 4 === 0)
    val pred = TextOps.classifyLang(test, TextOps.trainLangProfiles(train))
      .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
    assert(pred.count() == test.count())
    assert(pred.filter($"pred_lang" =!= $"lang").count() == 0)
  }

  test("profile counts nulls and distincts correctly") {
    import spark.implicits._
    val df = Seq((1, Some("a")), (2, None), (3, Some("a")), (4, None))
      .toDF("id", "v")
    val p = ProfileOps.profile(df, Seq("id", "v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(p("id") == (0L, 4L))
    assert(p("v") == (2L, 1L))
  }

  test("xlsx-free ingest: csv/tsv/json dispatch reads and cleans names") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ingest_spec").toString
    Seq((1, "x", 2.5), (2, "y", 3.5)).toDF("Order Key", "STATUS", "Total-Price($)")
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(s"$dir/c")
    val csvFile = new java.io.File(s"$dir/c").listFiles()
      .find(_.getName.endsWith(".csv")).get.getAbsolutePath
    val back = IngestOps.readAny(spark, csvFile)
    assert(back.columns.toSeq == Seq("order_key", "status", "total_price"))
    assert(back.count() == 2)
  }

  test("orc dispatch: readAny reads .orc with types and cleaned names intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ingest_orc").toString
    Seq((1L, "x", 2.5), (2L, "y", 3.5)).toDF("Order Key", "STATUS", "Total-Price($)")
      .coalesce(1).write.mode("overwrite").orc(s"$dir/o")
    val orcFile = new java.io.File(s"$dir/o").listFiles()
      .find(_.getName.endsWith(".orc")).get.getAbsolutePath
    val back = IngestOps.readAny(spark, orcFile)
    assert(back.columns.toSeq == Seq("order_key", "status", "total_price"))
    // ORC carries its schema — types survive without inference
    assert(back.schema("order_key").dataType.typeName == "long")
    assert(back.schema("total_price").dataType.typeName == "double")
    assert(back.orderBy("order_key").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("append-mode parquet sink accumulates batches (reference INSERT-INTO parity)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "append_spec").toString
    val path = s"$dir/t.parquet"
    IngestOps.writeParquetZstd(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    IngestOps.appendParquetZstd(Seq((3L, "c")).toDF("k", "v"), path)
    val back = spark.read.parquet(path).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(back == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    IngestOps.appendParquetZstd(Seq((4L, "d")).toDF("k", "v"), path)
    assert(spark.read.parquet(path).count() == 4)
    // overwrite resets — append and overwrite stay distinct contracts
    IngestOps.writeParquetZstd(Seq((9L, "z")).toDF("k", "v"), path)
    assert(spark.read.parquet(path).count() == 1)
  }

  test("Tables.read re-infers a rewritten dataset and reuses an unchanged one's schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "tables_read").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("k", "v").write.parquet(path)
    assert(Tables.read(spark, path).columns.toSeq == Seq("k", "v"))
    // same path, different column set: the cached schema must not be served
    Seq((2L, 0.5, true)).toDF("k", "score", "flag").write.mode("overwrite").parquet(path)
    assert(Tables.read(spark, path).columns.toSeq == Seq("k", "score", "flag"))
    val (again, jobs) = withJobs(Tables.read(spark, path))
    assert(jobs.isEmpty, s"re-reading an unchanged dataset ran jobs: $jobs")
    assert(again.collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq ==
      Seq((2L, 0.5, true)))
  }

  test("events table reads ns timestamps as usable timestamps") {
    val e = Tables.events(spark, sf)
    assert(e.schema("ts").dataType.typeName.startsWith("timestamp"))
    assert(e.count() > 0)
    val hours = e.select(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH").as("h"))
      .distinct().count()
    assert(hours > 1)
  }

  test("chunk query covers every document exactly once") {
    val chunks = TextOps.qChunkRows(spark, sf)
    val docs = Tables.t(spark, sf, "documents").count()
    val covered = chunks.agg(sum("n_rows")).head.getLong(0)
    assert(covered == docs)
  }
}
