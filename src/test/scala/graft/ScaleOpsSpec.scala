package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{ArtifactStore, SkewOps, Tables, VectorOps}

/** Scale-pattern specs: SQL extension registration, salted aggregation
  * equivalence, IVF probing recall. */
class ScaleOpsSpec extends SparkTestBase {

  test("GraftExtensions registers graft_cosine and word_shingles for spark.sql") {
    // getOrCreate would hand back the shared extension-less session; force a
    // fresh one (same SparkContext) with the extensions applied, restore after
    val prev = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = try SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
    val cos = s2.sql(
      "SELECT graft_cosine(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(1.0 as float), cast(0.0 as float))) AS c").head.getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val sh = s2.sql("SELECT word_shingles('a b c d', 3) AS s")
      .head.getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val sh2 = s2.sql("SELECT word_shingles('one two three four') AS s")
      .head.getSeq[String](0)
    assert(sh2 == Seq("one two three", "two three four"))
  }

  test("salted count+sum equals plain groupBy on a skewed frame") {
    import spark.implicits._
    // hot key: 10k rows on one key, a handful elsewhere
    val hot = (1 to 10000).map(i => ("hot", i.toDouble / 100))
    val cold = (1 to 50).map(i => (s"k$i", i.toDouble))
    val df = (hot ++ cold).toDF("k", "v")
    val got = SkewOps.saltedCountSum(df, Seq("k"), "v", salts = 8)
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = df.groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("skew profile: totals reconcile with the raw table, stats ordered") {
    val ev = Tables.events(spark, sf)
    val row = graft.ops.SkewOps.qSkewProfile(spark, sf).head()
    assert(row.getAs[Long]("n_rows") == ev.count())
    assert(row.getAs[Long]("n_keys") == ev.select("user_id").distinct().count())
    val p50 = row.getAs[Long]("p50_e6"); val p99 = row.getAs[Long]("p99_e6")
    val mx = row.getAs[Long]("max_n")
    assert(p50 <= p99 && p99 <= mx * 1000000L,
      s"percentiles out of order: p50=$p50 p99=$p99 max=$mx")
    assert(row.getAs[Long]("hot_pct_of_mean") >= 100L,
      "the hottest key cannot sit below the mean")
  }

  test("salted join equals the plain equi-join on a skewed frame") {
    import spark.implicits._
    // one hot key carrying most probe rows, many cold keys
    val probe = ((1 to 5000).map(i => ("hot", i.toDouble)) ++
      (1 to 200).map(i => (s"k${i % 40}", i.toDouble))).toDF("k", "v")
    val build = (Seq("hot") ++ (0 until 40).map(i => s"k$i"))
      .map(k => (k, s"dim_$k")).toDF("k", "attr")
    val got = SkewOps.saltedJoin(probe, build, "k", saltOn = "v", salts = 8)
    val want = probe.join(build, "k")
    assert(got.count() == want.count())
    assert(got.select("k", "v", "attr").exceptAll(want.select("k", "v", "attr")).isEmpty)
    assert(want.select("k", "v", "attr").exceptAll(got.select("k", "v", "attr")).isEmpty)
  }

  test("planned skew join: measurements drive salt at sf0.01 and broadcast " +
    "at sf0.001, the decided shape engages, and routing is invisible") {
    val sf01 = "/root/testdata/sf0.01"
    // sf0.01: build (1500) > broadcast cap, est join >= bar, hot key ~30x
    // the mean -> salt, and the physical plan must carry the salted shape
    val salted = SkewOps.qPlannedSkewJoin(spark, sf01)
    val sRows = salted.collect()
    assert(sRows.nonEmpty && sRows.forall(_.getAs[String]("decision") == "salt"),
      s"expected salt decision at sf0.01: ${sRows.toSeq}")
    val sp = salted.queryExecution.executedPlan.toString
    assert(sp.contains("__salt"), s"salted join keys missing from plan:\n$sp")
    assert(sp.contains("Generate") || sp.toLowerCase.contains("explode"),
      s"build side must replicate per salt:\n$sp")
    // sf0.001: 150-row build -> broadcast, and the plan must broadcast
    val bc = SkewOps.qPlannedSkewJoin(spark, sf)
    assert(bc.collect().forall(_.getAs[String]("decision") == "broadcast"))
    assert(bc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // routing invisible: the salted aggregate equals the plain equi-join
    val ev = Tables.events(spark, sf01).select(
      when(col("event_type") === "view", lit(0L))
        .otherwise(col("user_id")).as("c_custkey"), col("value"))
    val plain = ev
      .join(Tables.t(spark, sf01, "customer")
        .select(col("c_custkey"), col("c_mktsegment")), Seq("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), Tables.dsum(col("value"), 6).as("sum_value"))
    val got = salted.select("c_mktsegment", "n_events", "sum_value")
    assert(got.exceptAll(plain).isEmpty && plain.exceptAll(got).isEmpty,
      "salted routing changed the join result")
  }

  test("planned skew join: one measurement read in at most 17 jobs, no " +
    "localCheckpoint, measurements equal three separate reads") {
    // the three measurements read one at a time, as separate actions
    def separately(d: String): Seq[Long] = {
      val ev = Tables.events(spark, d).select(when(col("event_type") === "view",
        lit(0L)).otherwise(col("user_id")).as("k"))
        .groupBy("k").agg(count(lit(1)).as("wn"))
      val cust = Tables.t(spark, d, "customer").select(col("c_custkey").as("k"))
        .groupBy("k").agg(count(lit(1)).as("wn"))
      def one(df: org.apache.spark.sql.DataFrame): Long =
        Option(df.head().get(0)).fold(0L)(_.asInstanceOf[Long])
      Seq(one(cust.agg(sum(col("wn")))),
        one(graft.ops.SketchOps.cmJoinEstimate(ev, cust)),
        one(ev.agg(expr("(max(wn) * 100 * count(1)) div sum(wn)"))))
    }
    Seq(sf -> "broadcast", sf01 -> "salt").foreach { case (d, decision) =>
      val got = SkewOps.qPlannedSkewJoin(spark, d)
        .select("decision", "build_rows", "est_join_rows", "hot_pct_of_mean")
        .distinct().collect().toSeq
      assert(got.size == 1, got)
      assert(got.head.getString(0) == decision, got)
      assert((1 to 3).map(got.head.getLong) == separately(d), s"$d: $got")
    }
    // warm (above): schema reads of a first construction are not the
    // query's jobs
    val (_, jobs) = withJobStages(SkewOps.qPlannedSkewJoin(spark, sf01).collect())
    val names = jobs.map(_.map(_.name))
    assert(jobs.size <= 17, names)
    assert(!names.flatten.exists(_.startsWith("localCheckpoint")), names)
  }

  test("planned skew agg: the profile drives salted at sf0.01 and plain at " +
    "sf0.001, the two-level __salt aggregate engages, routing invisible") {
    val sf01 = "/root/testdata/sf0.01"
    // sf0.01: 10k rows >= bar and hot key ~30x the mean -> salted, and the
    // executed plan must carry the two-phase (key, salt) aggregate
    val salted = SkewOps.qPlannedSkewAgg(spark, sf01)
    val sRows = salted.collect()
    assert(sRows.nonEmpty && sRows.forall(_.getAs[String]("decision") == "salted"),
      s"expected salted decision at sf0.01: ${sRows.toSeq}")
    val sp = salted.queryExecution.executedPlan.toString
    assert(sp.contains("__salt"), s"salted agg keys missing from plan:\n$sp")
    // sf0.001: 1000 rows < bar -> plain one-phase groupBy, no salt column
    val plainSmall = SkewOps.qPlannedSkewAgg(spark, sf)
    assert(plainSmall.collect().forall(_.getAs[String]("decision") == "plain"))
    assert(!plainSmall.queryExecution.executedPlan.toString.contains("__salt"))
    // routing invisible: the salted top-10 equals the plain groupBy top-10
    val ev = Tables.events(spark, sf01).select(
      when(col("event_type") === "view", lit(0L))
        .otherwise(col("user_id")).as("uid"), col("value"))
    val plain = ev.groupBy("uid")
      .agg(count(lit(1)).as("n"), Tables.dsum(col("value"), 6).as("sum_value"))
      .orderBy(col("n").desc, col("uid").asc).limit(10)
    val gotA = salted.select("uid", "n", "sum_value")
    assert(gotA.exceptAll(plain).isEmpty && plain.exceptAll(gotA).isEmpty,
      "salted routing changed the aggregate result")
  }

  test("IVF top-k finds the true best hit and achieves high top-10 recall") {
    val e = Tables.t(spark, "/root/testdata/sf0.01", "embeddings")
    val brute = VectorOps.qCosineTopk(spark, "/root/testdata/sf0.01")
      .collect().map(_.getLong(0)).toSeq
    val ivf = VectorOps.qIvfTopk(spark, "/root/testdata/sf0.01")
      .collect().map(_.getLong(0)).toSeq
    assert(ivf.head == brute.head, "IVF must find the exact self-match")
    val recall = (brute.toSet & ivf.toSet).size.toDouble / brute.size
    assert(recall >= 0.5, s"top-10 recall too low: $recall (ivf=$ivf brute=$brute)")
    // index lifecycle: the query path reads the PERSISTED centroid artifact —
    // no per-query centroid rebuild (no posexplode/avg over the full table)
    val plan = VectorOps.qIvfTopk(spark, "/root/testdata/sf0.01")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("ivf_centroids"), s"centroids not read from artifact:\n$plan")
    assert(!plan.toLowerCase.contains("posexplode"),
      s"query path rebuilds centroids:\n$plan")
  }

  test("SQ8: exact self-match, high top-10 recall vs brute force, codes in range") {
    val sfDir = "/root/testdata/sf0.01"
    val brute = VectorOps.qCosineTopk(spark, sfDir)
      .collect().map(_.getLong(0)).toSeq
    val sq = VectorOps.qSq8Topk(spark, sfDir).collect()
    val sqIds = sq.map(_.getLong(0)).toSeq
    assert(sqIds.head == brute.head, "SQ8 must find the exact self-match")
    val recall = (brute.toSet & sqIds.toSet).size.toDouble / brute.size
    assert(recall >= 0.8, s"SQ8 top-10 recall too low: $recall")
    // re-ranked scores are the EXACT micro-int cosines — for every id both
    // lists share, the score must be identical to the brute-force path
    val bruteScores = VectorOps.qCosineTopk(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("score_e6")).toMap
    sq.foreach { r =>
      bruteScores.get(r.getLong(0)).foreach { s =>
        assert(r.getAs[Long]("score_e6") == s,
          s"re-rank score drifted for vec ${r.getLong(0)}")
      }
    }
  }

  test("batch IVF kNN equals the single-query probe for each query") {
    val sfDir = "/root/testdata/sf0.01"
    val e = Tables.t(spark, sfDir, "embeddings")
    val centroids = spark.read.parquet(VectorOps.ensureCentroids(spark, sfDir))
    val qids = Seq(0L, 170L, 423L) // embeddings at sf0.01 span vec_id 0..499
    val queries = e.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val batch = VectorOps.ivfTopkBatch(centroids, e, queries, nprobe = 3, k = 10)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(r => (-r.getLong(2), r.getLong(1)))
          .map(r => (r.getLong(1), r.getLong(2))).toSeq
      }
    for (q <- qids) {
      val qv = e.filter(col("vec_id") === q).select(col("embedding").as("qv"))
      val single = VectorOps.ivfTopk(centroids, e, qv, nprobe = 3, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(batch(q) == single, s"query $q: batch ${batch(q)} != single $single")
    }
  }

  test("adaptive-nlist batch IVF equals single-query probes on the same trained index") {
    // q_ivf_topk_batch routes through the TRAINED index at nlist = sqrt(N)
    // (the r11 fixed-nlist path went superlinear at 16x); the batch
    // formulation must still be pointwise identical to the single-query
    // probe against the same centroids + assignment
    val sfDir = "/root/testdata/sf0.01"
    val e = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val nlist = VectorOps.adaptiveNlist(e.count())
    assert(nlist == 22, s"sqrt(500) should clamp-free to 22, got $nlist")
    val dir = VectorOps.ensureTrainedIvf(spark, sfDir, nlist = nlist)
    val centroids = spark.read.parquet(s"$dir/centroids")
    val el = e.join(spark.read.parquet(s"$dir/assign"), "vec_id")
    val batch = VectorOps.qIvfTopkBatch(spark, sfDir).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.map(r => (r.getLong(1), r.getLong(2))).sortBy(p => (-p._2, p._1)).toSeq
      }
    assert(batch.keySet == (0L until 500L by 100L).toSet, s"query set: ${batch.keySet}")
    for (q <- batch.keySet) {
      val qv = e.filter(col("vec_id") === q).select(col("embedding").as("qv"))
      val single = VectorOps.ivfTopk(centroids, el, qv, nprobe = 3, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(batch(q) == single, s"query $q: batch ${batch(q)} != single $single")
    }
  }

  test("adaptive band bits: oracle SFs pin the 8-bit layout; extended bits index validly and find exact dups") {
    import spark.implicits._
    // the static DuckDB oracle replays the 32-bit (per=8) layout — every
    // oracle-checked scale must resolve to it, and larger corpora must
    // grow the bucket count (the fixed-resolution path measured 6.1x time
    // for 16x data on q_semantic_dedup)
    assert(VectorOps.adaptiveBandBits(500) == 8)
    assert(VectorOps.adaptiveBandBits(6000) == 8)
    assert(VectorOps.adaptiveBandBits(24000) == 10)
    assert(VectorOps.adaptiveBandBits(96000) == 12)
    assert(VectorOps.adaptiveBandBits(Long.MaxValue) == 15)
    // every usable comparison bit addresses a distinct in-range coordinate
    // pair of the 64-dim embedding
    val idx = (0 until 60).map(VectorOps.cmpIdx)
    assert(idx.forall { case (x, y) => x >= 1 && y >= 1 && x <= 64 && y <= 64 && x != y })
    assert(idx.distinct.size == idx.size, "duplicate comparison pairs")
    // identical vectors agree on EVERY comparison bit, so exact-duplicate
    // recall is 1.0 at ANY resolution — run the pipeline at the 16x-scale
    // geometry (per=12) over a frame with planted duplicate pairs
    val base = (0 until 40).map { i =>
      (0 until 64).map(d => math.sin(i * 64 + d + 1).toFloat).toArray
    }
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, i.toLong % 5, v) } ++
      base.take(6).zipWithIndex.map { case (v, i) => (100L + i, i.toLong % 5, v) }
    val e = rows.toDF("vec_id", "label", "embedding")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<float>").as("embedding"))
    val pairs = VectorOps.embedNeardupPairs(e, bands = 4, per = 12)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    (0 until 6).foreach { i =>
      assert(pairs.contains((i.toLong, 100L + i)),
        s"exact duplicate ($i, ${100 + i}) missed at per=12")
    }
    // the seeded-LSH face scales the same way: oracle SFs pin the 16-bit
    // layout, and identical vectors collide in every band at any width
    assert(VectorOps.adaptiveLshBits(500) == 4)
    assert(VectorOps.adaptiveLshBits(6000) == 4)
    assert(VectorOps.adaptiveLshBits(96000) == 8)
    val lshPairs = VectorOps.lshCandidatePairs(e, bits = 32, bands = 4)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 6).foreach { i =>
      assert(lshPairs.contains((i.toLong, 100L + i)),
        s"exact duplicate ($i, ${100 + i}) missed by 32-bit LSH")
    }
  }

  test("interrupted or stale centroid artifacts are rebuilt, not trusted") {
    val sfDir = "/root/testdata/sf0.01"
    val dir = new java.io.File(VectorOps.ensureCentroids(spark, sfDir))
    // the source fingerprint is part of the directory name: regenerated
    // source data maps to a NEW write-once dir, never a mutation of this one
    assert(dir.getName.matches("sf.*_[0-9a-f]{8}"), dir.getName)
    assert(new java.io.File(dir, ArtifactStore.Marker).exists())
    val other = new java.io.File(VectorOps.ensureCentroids(spark, "/root/testdata/sf0.001"))
    assert(other.getName != dir.getName,
      "different source data must key a different artifact dir")

    // simulate a killed writer: part files present but no commit marker —
    // a bare directory-existence check would read this as-is
    new java.io.File(dir, ArtifactStore.Marker).delete()
    val rebuilt = new java.io.File(VectorOps.ensureCentroids(spark, sfDir))
    assert(rebuilt.getName == dir.getName)
    assert(new java.io.File(rebuilt, ArtifactStore.Marker).exists(),
      "partial artifact was trusted instead of rebuilt")
    assert(VectorOps.qIvfTopk(spark, sfDir).count() == 10)
  }

  test("a failing artifact build leaves no tmp dir and no committed dir") {
    val kind = "failing_build_spec"
    val name = s"sf_${java.util.UUID.randomUUID}"
    val base = new java.io.File("target", kind)
    def leftovers = Option(base.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(name))
    val err = intercept[IllegalStateException] {
      ArtifactStore.ensure(kind, name) { tmp =>
        spark.range(3).write.parquet(tmp.toString)
        throw new IllegalStateException("build failed")
      }
    }
    assert(err.getMessage == "build failed")
    assert(leftovers.isEmpty, s"failed build left ${leftovers.mkString(", ")}")
    // the next ensure builds from absent and commits
    val dir = ArtifactStore.ensure(kind, name)(tmp =>
      spark.range(3).write.parquet(tmp.toString))
    assert(ArtifactStore.isSealed(new java.io.File(dir)))
    assert(spark.read.parquet(dir).count() == 3)
    assert(leftovers.map(_.getName) == Seq(name))
    VectorOps.deleteRecursively(new java.io.File(dir))
  }

  test("trained IVF: consistent routing, exact at full probe, real recall") {
    val sfDir = "/root/testdata/sf0.01"
    val dir = VectorOps.ensureTrainedIvf(spark, sfDir)
    val centroids = spark.read.parquet(s"$dir/centroids")
    val assign = spark.read.parquet(s"$dir/assign")
    val e = Tables.t(spark, sfDir, "embeddings").select("vec_id", "embedding")
    // every vector routed exactly once, to a list that exists
    assert(assign.count() == e.count())
    assert(assign.select("vec_id").distinct().count() == e.count())
    val nlist = centroids.count()
    assert(nlist >= 2 && nlist <= 16, s"nlist=$nlist")
    assert(assign.join(centroids, Seq("label"), "left_anti").count() == 0)
    // the shipped assignment is argmax-consistent with the shipped
    // centroids (trainIvf recomputes it against the FINAL centroids)
    val re = VectorOps.assignLists(e, centroids)
    assert(assign.join(re, Seq("vec_id", "label"), "left_semi").count() ==
      e.count(), "assignment drifted from the shipped centroids")
    // probing EVERY list degenerates to exact brute-force top-k
    val ej = e.join(assign, "vec_id")
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val full = VectorOps.ivfTopk(centroids, ej, qv, nprobe = nlist.toInt, k = 10)
      .collect().map(_.getLong(0)).toSeq
    val brute = VectorOps.qCosineTopk(spark, sfDir).collect().map(_.getLong(0)).toSeq
    assert(full == brute, s"full probe must be exact: $full != $brute")
    // partial probe: self-match found
    val ivf = VectorOps.qIvfTrainedTopk(spark, sfDir).collect().map(_.getLong(0)).toSeq
    assert(ivf.head == brute.head, "trained IVF must find the exact self-match")
    // recall floor over an AGGREGATE of 25 queries — a single query's
    // recall@10 on this near-uniform synthetic corpus swings 0.2-0.8 with
    // seed placement (measured across init salts r14), so a one-query
    // floor is a coin flip, not a property. Mean recall at nprobe=3/16
    // measured 0.50 — 2.7× the 0.1875 probed-fraction random baseline;
    // 0.35 is the regression floor.
    val recalls = (0L until 500L by 20L).map { q =>
      val qvq = e.filter(col("vec_id") === q).select(col("embedding").as("qv"))
      val bq = e.crossJoin(broadcast(qvq))
        .select(col("vec_id"),
          round(Tables.cosineFast(col("embedding"), col("qv")) * 1000000, 0)
            .cast("long").as("s"))
        .orderBy(col("s").desc, col("vec_id").asc).limit(10)
        .collect().map(_.getLong(0)).toSet
      val gq = VectorOps.ivfTopk(centroids, ej, qvq, nprobe = 3, k = 10)
        .collect().map(_.getLong(0)).toSet
      (bq & gq).size.toDouble / bq.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.35,
      s"mean top-10 recall over ${recalls.size} queries too low: $mean " +
        s"(probed-fraction baseline 0.1875)")
    // secondary guard (ADVICE r14): the 0.35 mean floor sits close to the
    // 0.1875 probed-fraction random baseline, so also require the upper
    // tail a working index always has — a RANDOM shortlist at nprobe=3/16
    // puts per-query recall in a Binomial(10, 0.1875)/10 band where
    // recall >= 0.5 has probability ~2%, i.e. >= 5 of 25 such queries is
    // a ~1e-6 event for a broken index but the common case (measured:
    // ~half the queries) for a trained one
    val strong = recalls.count(_ >= 0.5)
    assert(strong >= 5,
      s"only $strong/${recalls.size} queries reached recall 0.5 — index " +
        "no better than the random-shortlist baseline despite the mean floor")
  }

  test("IVF append: frozen centroids + delta assignment == from-scratch; exact at full probe") {
    val sfDir = "/root/testdata/sf0.01"
    val e = Tables.t(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val cut = e.agg(avg(col("vec_id"))).head.getDouble(0)
    val base = e.filter(col("vec_id") < cut)
    val delta = e.filter(col("vec_id") >= cut)
    val tmp = java.nio.file.Files.createTempDirectory("ivf_append").toString
    // trained artifact over the BASE half only
    val (centroids, baseAssign) = VectorOps.trainIvf(base, nlist = 8, iters = 2)
    baseAssign.write.parquet(s"$tmp/base/assign")
    centroids.write.parquet(s"$tmp/base/centroids")
    VectorOps.appendTrainedIvf(spark, s"$tmp/base", delta, s"$tmp/appended")
    assert(new java.io.File(s"$tmp/appended", "_GRAFT_OK").exists())
    val cFrozen = spark.read.parquet(s"$tmp/appended/centroids")
    val merged = spark.read.parquet(s"$tmp/appended/assign")
    // centroids frozen: same (label, centroid) set
    assert(cFrozen.collect().toSet ==
      spark.read.parquet(s"$tmp/base/centroids").collect().toSet)
    // append == pointwise from-scratch assignment against the same centroids
    val scratch = VectorOps.assignLists(e, cFrozen)
    assert(merged.count() == e.count())
    assert(merged.join(scratch, Seq("vec_id", "label"), "left_semi").count() ==
      e.count(), "appended assignment drifted from a from-scratch assignment")
    // full probe over the appended artifact == exact brute force on base+delta
    val ej = e.join(merged, "vec_id")
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val full = VectorOps.ivfTopk(cFrozen, ej, qv,
        nprobe = cFrozen.count().toInt, k = 10)
      .collect().map(_.getLong(0)).toSeq
    val brute = VectorOps.qCosineTopk(spark, sfDir).collect().map(_.getLong(0)).toSeq
    assert(full == brute, s"appended full probe must be exact: $full != $brute")
  }

  test("racing centroid builders never leave a reader without an artifact") {
    // bench + correctness harness DO run concurrently against the same
    // artifact dir; a losing builder must never delete the winner's
    // committed artifact (it would 404 a reader mid-read). Hammer the
    // build-from-absent path from several threads, reading immediately
    // after each build — pre-fix this intermittently threw
    // FileNotFoundException when the loser's delete landed post-commit.
    val sfDir = "/root/testdata/sf0.001"
    val dir = new java.io.File(VectorOps.ensureCentroids(spark, sfDir))
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(4)
    try {
      (1 to 3).foreach { _ =>
        VectorOps.deleteRecursively(dir) // next round rebuilds from absent
        val start = new CountDownLatch(1)
        val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
        val tasks = (1 to 4).map { _ =>
          pool.submit(new Runnable {
            def run(): Unit = {
              start.await()
              try {
                val d = VectorOps.ensureCentroids(spark, sfDir)
                assert(new java.io.File(d, ArtifactStore.Marker).exists())
                assert(spark.read.parquet(d).count() > 0)
              } catch { case t: Throwable => failures.add(t): Unit }
            }
          })
        }
        start.countDown()
        tasks.foreach(_.get(120, TimeUnit.SECONDS))
        assert(failures.isEmpty, s"racing builder broke a reader: ${failures.peek}")
      }
    } finally pool.shutdownNow(): Unit
  }
}
