package graft

import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Similarity, TextStats}

/** Semantics tests for the training-data-pipeline operators on planted
  * inputs (the synthetic TESTDATA has no real near-duplicates, so the
  * fuzzy-dedup behavior is asserted here on constructed corpora).
  */
class ExtSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    // near-dup of 1: one word changed
    (2L, "the quick brown fox jumps over the lazy cat near the river bank"),
    // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank"),
    // unrelated
    (4L, "completely different content about spark query engines and joins"),
    (5L, "another unrelated document mentioning vectors and embeddings"),
  ).toDF("doc_id", "text")

  test("exact dedup groups by content hash") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 4)
    assert(g.filter($"n_copies" === 2).select("keep_id").as[Long].head() == 1L)
  }

  test("minhash LSH finds the planted near-dup pair and the exact pair") {
    val dups = Dedup.minhashNearDups(docs, "doc_id", "text",
      n = 3, k = 8, bands = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(dups.contains((1L, 3L))) // exact dup: jaccard 1.0
    assert(dups.contains((1L, 2L)) || dups.contains((2L, 3L)))
    assert(!dups.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash near-dups: low hamming for near-dups only") {
    // SimHash needs enough tokens for majority votes to be stable; use
    // ~60-token docs with a single-word edit.
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val edited = base.replace("token30", "changed")
    val longDocs = Seq((1L, base), (2L, edited), (3L, base),
      (4L, (100 to 160).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val sigs = longDocs
      .select($"doc_id", Dedup.simhash64($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) == 0) // identical text
    assert(hamming(sigs(1L), sigs(2L)) < 16) // one-word edit → few bits
    assert(hamming(sigs(1L), sigs(4L)) > 16) // unrelated → far
    val pairs = Dedup.simhashNearDups(longDocs, "doc_id", "text",
      maxHamming = 15)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash dataset form equals the Column form") {
    val docsDf = Tables.documents(spark, sf0001).limit(50)
    val viaDs = Dedup.simhashSignatures(docsDf, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val viaCol = docsDf
      .select($"doc_id", Dedup.simhash64($"text"))
      .as[(Long, Long)].collect().toMap
    assert(viaDs == viaCol)
  }

  test("signatures are partitioning-invariant (determinism at scale)") {
    val docsDf = Tables.documents(spark, sf0001).limit(100)
    def mh(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(df, "doc_id", "text", 3, 4, portable = true)
        .collect().map(_.toSeq).toSet
    def sh(df: org.apache.spark.sql.DataFrame) =
      Dedup.simhashSignatures(df, "doc_id", "text")
        .collect().map(_.toSeq).toSet
    assert(mh(docsDf.repartition(1)) == mh(docsDf.repartition(7)))
    assert(sh(docsDf.repartition(1)) == sh(docsDf.repartition(7)))
  }

  test("blocked simhash LSH pair set equals brute force (both families)") {
    // 2-of-(m+2) block pigeonholing is lossless for hamming <= m: the
    // candidate join must yield EXACTLY the brute-force pair set.
    val docsDf = Tables.documents(spark, sf0001).limit(200)
    for (portable <- Seq(false, true)) {
      val sigs =
        (if (portable) Dedup.simhashSignaturesPortable(docsDf, "doc_id", "text")
         else Dedup.simhashSignatures(docsDf, "doc_id", "text"))
          .as[(Long, Long)].collect().sortBy(_._1)
      val brute = (for {
        i <- sigs.indices; j <- (i + 1) until sigs.length
        h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
        if h <= 3
      } yield (sigs(i)._1, sigs(j)._1, h)).toSet
      val lsh = Dedup.simhashNearDups(docsDf, "doc_id", "text",
        maxHamming = 3, portable = portable)
        .as[(Long, Long, Int)].collect().toSet
      assert(lsh == brute, s"portable=$portable")
    }
  }

  test("minhash/simhash pair kernels agree with the generic-id fallback") {
    // string ids route through the higher-order-function fallback; the
    // pair sets must match the long-id kernel path on the same corpus
    val longIds = docs
    val strIds = docs.select(concat(lit("d"), $"doc_id").as("doc_id"), $"text")
    val viaKernel = Dedup.minhashNearDups(longIds, "doc_id", "text",
      n = 3, k = 8, bands = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      .map((p: (Long, Long)) => (s"d${p._1}", s"d${p._2}"))
    val viaFallback = Dedup.minhashNearDups(strIds, "doc_id", "text",
      n = 3, k = 8, bands = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(viaFallback == viaKernel)
    val simKernel = Dedup.simhashNearDups(longIds, "doc_id", "text",
      maxHamming = 20)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      .map((p: (Long, Long)) => (s"d${p._1}", s"d${p._2}"))
    val simFallback = Dedup.simhashNearDups(strIds, "doc_id", "text",
      maxHamming = 20)
      .select("id_a", "id_b").as[(String, String)].collect().toSet
    assert(simFallback == simKernel)
  }

  test("jaccard verify is symmetric and bounded") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.verifyJaccard(docs, pairs, "doc_id", "text", 3, 0.0)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    assert(j.forall(p => p._3 >= 0.0 && p._3 <= 1.0))
    val m = j.map(p => (p._1, p._2) -> p._3).toMap
    assert(m((1L, 3L)) == 1.0) // exact dup
    assert(m((1L, 2L)) == m((2L, 3L))) // same one-word edit distance
  }

  test("dedup clusters: min-label propagation = transitive closure") {
    // chain 1-2-3, chain 10-11, triangle 20-21-22 (+ redundant edge),
    // isolated pair 30-31
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (21L, 22L), (20L, 22L), (30L, 31L)).toDF("id_a", "id_b")
    // both the local union-find (default) and the distributed loop
    // (threshold 0) must produce the closure labels
    for (thr <- Seq(2000000, 0)) {
      val got = Dedup.dedupClusters(pairs, localEdgeThreshold = thr)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 10L, 11L -> 10L,
        20L -> 20L, 21L -> 20L, 22L -> 20L,
        30L -> 30L, 31L -> 30L), s"threshold=$thr")
      // keep-one-per-cluster survivor rule
      val keep = Dedup.dedupClusters(pairs, localEdgeThreshold = thr)
        .filter($"id" === $"cluster").select("id").as[Long].collect().toSet
      assert(keep == Set(1L, 10L, 20L, 30L))
      // long path exercises multiple propagation rounds
      val path = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val pathClusters = Dedup.dedupClusters(path, localEdgeThreshold = thr)
        .select("cluster").distinct().as[Long].collect().toSeq
      assert(pathClusters == Seq(1L))
    }
  }

  test("tf-idf top terms: rare terms outrank common ones, ties on term") {
    val corpus = Seq(
      (1L, "common common rare1"),
      (2L, "common zebra"),
      (3L, "common alpha")).toDF("doc_id", "text")
    val top = TextStats.tfIdfTopK(corpus, "doc_id", "text", 2)
      .orderBy("doc_id", "rank")
      .as[(Long, Int, String, Double)].collect().toSeq
    // doc 1: rare1 (1*3/1=3) beats common (2*3/3=2)
    assert(top.filter(_._1 == 1L).map(_._3) == Seq("rare1", "common"))
    // doc 2: zebra (3) beats common (1)
    assert(top.filter(_._1 == 2L).map(_._3) == Seq("zebra", "common"))
    assert(top.filter(_._1 == 1L).map(_._4) == Seq(3.0, 2.0))
  }

  test("dedup clusters: bounded driver chatter (jobs, not per-round probes)") {
    // 40-node path — the worst propagation topology for its size. The
    // geometric probe schedule must keep the TOTAL job count bounded:
    // ~1 checkpoint job per round (+AQE stages), probes only at rounds
    // 2,4,8,... A regression to per-round convergence counts or to a
    // blind log2(n)-node budget shows up as a job-count jump.
    val path = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val clusters = Dedup.dedupClusters(path, localEdgeThreshold = 0)
      assert(clusters.select("cluster").distinct().as[Long]
        .collect().toSeq == Seq(1L))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs <= 60, s"dedupClusters scheduled $jobs jobs on a 40-node path")
  }

  test("star-contraction CC equals min-label propagation on random graphs") {
    // seeded randomized property check: both algorithms must produce the
    // identical (id -> component-min) map on arbitrary topologies
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 8) {
      val n = 2 + rnd.nextInt(28)
      val m = 1 + rnd.nextInt(50)
      val pairs = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      if (pairs.nonEmpty) {
        val df = pairs.toDF("id_a", "id_b")
        // threshold 0 forces the distributed loops; default takes the
        // driver-side union-find — all three must agree
        val viaProp = Dedup.dedupClusters(df, localEdgeThreshold = 0)
          .as[(Long, Long)].collect().toMap
        val viaStar = Dedup.dedupClustersStar(df, localEdgeThreshold = 0)
          .as[(Long, Long)].collect().toMap
        val viaLocal = Dedup.dedupClusters(df)
          .as[(Long, Long)].collect().toMap
        assert(viaStar == viaProp, s"trial $trial: $pairs")
        assert(viaLocal == viaProp, s"trial $trial (local): $pairs")
      }
    }
  }

  test("star-contraction CC: skewed long-chain graph, bounded rounds") {
    // one 60-node chain + a 30-spoke hub — the skew shape that punishes
    // frontier-based propagation. Must converge (no maxIter throw) with
    // bounded driver chatter, and label everything with the component min.
    val chain = (1L until 60L).map(i => (i, i + 1))
    val hub = (1L to 30L).map(i => (100L, 100L + i))
    val df = (chain ++ hub).toDF("id_a", "id_b")
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val got = try Dedup.dedupClustersStar(df, localEdgeThreshold = 0)
      .as[(Long, Long)].collect().toMap
    finally spark.sparkContext.removeSparkListener(listener)
    assert((1L to 60L).forall(got(_) == 1L))
    assert((100L to 130L).forall(got(_) == 100L))
    // ~7 contraction rounds x ~11 AQE stage-jobs each; the bound guards
    // against gross regressions (per-round probing, extra materializations)
    assert(jobs <= 110, s"dedupClustersStar scheduled $jobs jobs")
  }

  test("tf-idf broadcast and shuffle join branches are equivalent") {
    val docsDf = Tables.documents(spark, sf0001).limit(100)
    def run(b: Option[Boolean]) =
      TextStats.tfIdfTopK(docsDf, "doc_id", "text", 3, b)
        .orderBy("doc_id", "rank").collect().map(_.toSeq).toSeq
    val viaBroadcast = run(Some(true))
    assert(run(Some(false)) == viaBroadcast)
    assert(run(None) == viaBroadcast)
  }

  test("hash split: deterministic, disjoint, partitioning-invariant") {
    import graft.ext.Sampling
    val docsDf = Tables.documents(spark, sf0001).limit(300)
    val fr = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    def assign(df: org.apache.spark.sql.DataFrame) =
      Sampling.withHashSplit(df, "doc_id", fr)
        .select("doc_id", "split").as[(Long, String)].collect().toMap
    val a = assign(docsDf.repartition(1))
    val b = assign(docsDf.repartition(7))
    assert(a == b) // same assignment under any partitioning
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    // every row assigned exactly once (disjoint+exhaustive by construction)
    assert(a.size == 300)
    // fractions roughly respected (md5 is uniform; 300 rows, loose bands)
    val n = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(n("train") > 200 && n("train") < 280, n.toString)
    // weights normalize: (8,1,1) must equal (0.8,0.1,0.1)
    val c = Sampling.withHashSplit(docsDf, "doc_id",
      Seq(("train", 8.0), ("val", 1.0), ("test", 1.0)))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(c == a)
  }

  test("packByTokens: per-shard concat-and-chunk binning") {
    import graft.ext.Sampling
    // one shard (nShards=1) for hand-checkable packing at window 10:
    // docs of 4,4,4 tokens -> offsets 0,4,8 (doc 3 spans into bin 1)
    val df = Seq((0L, 4L), (1L, 4L), (2L, 4L), (3L, 7L))
      .toDF("doc_id", "n_tok")
    val got = Sampling.packByTokens(df, "doc_id", "n_tok", 10, 1)
      .orderBy("doc_id")
      .select("doc_id", "shard", "bin", "offset")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 0L, 0L), (1L, 0L, 0L, 4L), (2L, 0L, 0L, 8L),
      (3L, 0L, 1L, 2L)))
    // sharded: running sums independent per shard
    val sharded = Sampling.packByTokens(df, "doc_id", "n_tok", 10, 2)
      .orderBy("doc_id")
      .select("doc_id", "shard", "offset").as[(Long, Long, Long)]
      .collect().toSeq
    assert(sharded == Seq((0L, 0L, 0L), (1L, 1L, 0L), (2L, 0L, 4L),
      (3L, 1L, 4L)))
  }

  test("stratified sample: per-group rates, deterministic kept set") {
    import graft.ext.Sampling
    val docsDf = Tables.documents(spark, sf0001).limit(300)
    def kept(df: org.apache.spark.sql.DataFrame) =
      Sampling.stratifiedSample(df, "doc_id", "lang",
        Map("en" -> 0.5, "es" -> 0.0))
        .select("doc_id").as[Long].collect().toSet
    val a = kept(docsDf.repartition(1))
    assert(a == kept(docsDf.repartition(5))) // partitioning-invariant
    val byLang = docsDf.select("doc_id", "lang")
      .as[(Long, String)].collect().toMap
    // rate 0 drops everything in the group; unlisted groups keep all
    assert(!a.exists(id => byLang(id) == "es"))
    val allEn = byLang.count(_._2 == "en")
    val keptEn = a.count(id => byLang(id) == "en")
    assert(keptEn > 0 && keptEn < allEn)
    val unlisted = byLang.filter(kv => kv._2 != "en" && kv._2 != "es").keySet
    assert(unlisted.subsetOf(a))
  }

  test("quota per group keeps top-N by total order") {
    import graft.ext.Sampling
    val df = Seq(
      (1L, "en", 0.9), (2L, "en", 0.8), (3L, "en", 0.7), (4L, "en", 0.6),
      (5L, "es", 0.5), (6L, "es", 0.5), (7L, "es", 0.5), (8L, "es", 0.4),
      (9L, "de", 0.3)).toDF("doc_id", "lang", "quality")
    val kept = Sampling.quotaPerGroup(df, Seq("lang"),
      Seq($"quality".desc, $"doc_id".asc), 2)
      .select("doc_id").as[Long].collect().toSet
    // en: top-2 by quality; es: tie on 0.5 broken by doc_id; de: all (< quota)
    assert(kept == Set(1L, 2L, 5L, 6L, 9L))
  }

  test("repetition score: duplicated n-gram fraction") {
    val got = Seq(
      "a b a b a b",        // bigrams: ab,ba,ab,ba,ab → 5 total, 2 distinct
      "all distinct words here now",
      "x y").toDF("t")
      .select(TextStats.repetitionScore($"t", 2).as("r"))
      .as[Double].collect()
    assert(got(0) == 3.0 / 5.0)
    assert(got(1) == 0.0)
    assert(got(2) == 0.0) // short-text fallback: one 'x y' shingle
  }

  test("shingles: word n-grams with short-text fallback") {
    val sh = Seq("a b c d", "x y").toDF("t")
      .select(Dedup.shingles($"t", 3)).as[Seq[String]].collect()
    assert(sh(0) == Seq("a b c", "b c d"))
    assert(sh(1) == Seq("x y"))
  }

  test("cosine + brute top-k + lsh top-k agreement") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),  // closest
      (2L, Array(0.5f, 0.5f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // orthogonal
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f)), // opposite
    ).toDF("vec_id", "embedding")
    val cos = Seq((Array(1.0f, 0f), Array(1.0f, 0f))).toDF("a", "b")
      .select(Similarity.cosine($"a", $"b")).as[Double].head()
    assert(math.abs(cos - 1.0) < 1e-12)
    val topk = Similarity.bruteTopK(vecs, "vec_id", "embedding", 0L, 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(topk == Seq(1L, 2L, 3L))
    // exact search on the real embeddings: lsh with full probe == brute
    val emb = Tables.embeddings(spark, sf0001).limit(100).cache()
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", 0L, 5)
      .select("vec_id").as[Long].collect().toSeq
    val lshFull = Similarity.lshTopK(emb, "vec_id", "embedding", 0L, 5,
      nBits = 8, probeHamming = 8) // probe everything → exact
    assert(lshFull.select("vec_id").as[Long].collect().toSeq == brute)
    // restricted probe: valid (<=k, unique) approximate result
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding", 0L, 5,
      nBits = 8, probeHamming = 2).select("vec_id").as[Long].collect().toSeq
    assert(lsh.size <= 5 && lsh.distinct.size == lsh.size)
  }

  test("ANN at rest: bucket-partitioned layout prunes partitions") {
    val emb = Tables.embeddings(spark, sf0001).limit(200).cache()
    val path = java.nio.file.Files
      .createTempDirectory("graft_ann").toString + "/emb"
    Similarity.writeBucketed(emb, "embedding", path, nBits = 8)
    val atRest = Similarity.lshTopKAtRest(spark, path, "vec_id",
      "embedding", queryId = 0L, k = 5, nBits = 8, probeHamming = 2)
    // the probe IN-list must land in the scan's PartitionFilters —
    // directory pruning, not a post-scan filter
    val plan = atRest.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"no bucket PartitionFilters in:\n$plan")
    // same results as the in-memory multi-probe path
    val inMem = Similarity.lshTopK(emb, "vec_id", "embedding", 0L, 5,
      nBits = 8, probeHamming = 2)
      .as[(Long, Double)].collect().toSeq
    assert(atRest.as[(Long, Double)].collect().toSeq == inMem)
  }

  test("z-order: bit interleave is exact; files are local in BOTH dims") {
    import graft.ext.Layout
    // hand-checked interleave: a=3 (bits 0,1 → z 0,2 = 5), b=1 (bit 0 →
    // z 1 = 2) → 7; a=0,b=3 → z bits 1,3 = 10
    val z = Seq((3L, 1L), (0L, 3L)).toDF("a", "b")
      .select(Layout.zValue($"a", $"b", 4)).as[Long].collect().toSeq
    assert(z == Seq(7L, 10L))
    // layout property on a uniform 2-d grid: every written file must be
    // narrow in BOTH columns — a single-column sort cannot deliver that
    // for the trailing column
    val grid = spark.range(1024).select(
      (pmod($"id" * 7919, lit(1024))).as("a"),
      (pmod($"id" * 104729, lit(1024))).as("b"))
    val path = java.nio.file.Files
      .createTempDirectory("graft_zorder").toString + "/grid"
    Layout.zorderWrite(grid, "a", "b", bits = 10, nFiles = 16, path = path)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    assert(files.size > 4, s"expected many files, got ${files.size}")
    val spans = files.map { f =>
      spark.read.parquet(f).agg(max("a") - min("a"), max("b") - min("b"))
        .as[(Long, Long)].head()
    }
    val avgA = spans.map(_._1).sum.toDouble / spans.size
    val avgB = spans.map(_._2).sum.toDouble / spans.size
    // global span is 1023 in each dim; 16 z-range files on a uniform
    // grid are ~256-wide rectangles — assert the weaker "under half"
    assert(avgA < 512.0, s"a not clustered: avg span $avgA of 1023")
    assert(avgB < 512.0, s"b not clustered: avg span $avgB of 1023")
  }

  test("keepCanonical: one survivor per cluster, singletons untouched") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // clusters: {1,2,3} (chain), {4,5}; 9 unclustered
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .as[Long].collect().toSeq.sorted
    assert(kept == Seq(1L, 4L, 9L))
    val plan = Dedup.keepCanonical(docs, "doc_id", pairs)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"),
      s"delete set not broadcast anti-joined:\n$plan")
  }

  test("chunking: overlapping token windows, partial tail kept") {
    val chunks = Seq("t1 t2 t3 t4 t5 t6 t7", "solo", "")
      .toDF("text")
      .select(TextStats.chunkTokens($"text", 3, 2))
      .as[Seq[String]].collect().toSeq
    // no subsumed tail: a 4th chunk "t7" would be a strict subset of
    // "t5 t6 t7" — duplicate retrieval units
    assert(chunks(0) == Seq("t1 t2 t3", "t3 t4 t5", "t5 t6 t7"))
    assert(chunks(1) == Seq("solo"))
    assert(chunks(2) == Seq("")) // every doc yields at least one chunk
    // no token is dropped: chunks at stride offsets reconstruct the doc
    val doc = (1 to 107).map(i => s"w$i").mkString(" ")
    val back = Seq(doc).toDF("text")
      .select(TextStats.chunkTokens($"text", 30, 20))
      .as[Seq[String]].head()
      .zipWithIndex
      .flatMap { case (c, i) => c.split(" ").drop(if (i == 0) 0 else 10) }
    assert(back == (1 to 107).map(i => s"w$i"))
  }

  test("KMV sketch: exact under k, dup-proof, partitioning-invariant") {
    import graft.ext.Sketches
    // exact branch: fewer distinct values than k
    val small = Seq("a", "b", "c", "a", "b").toDF("v")
      .withColumn("g", lit("x"))
    val est = Sketches.kmvDistinct(small, "g", $"v", 8)
      .select("est_distinct").as[Double].head()
    assert(est == 3.0)
    // duplicates never change the sketch (the no-distinct-shuffle claim)
    val once = Seq.tabulate(100)(i => s"v$i").toDF("v")
      .withColumn("g", lit("x"))
    val e1 = Sketches.kmvDistinct(once, "g", $"v", 16)
      .select("est_distinct").as[Double].head()
    val e3 = Sketches.kmvDistinct(once.union(once).union(once), "g", $"v", 16)
      .select("est_distinct").as[Double].head()
    assert(e1 == e3)
    // merge is order/partitioning-independent, and the estimate is sane
    val p7 = Sketches.kmvDistinct(once.repartition(7), "g", $"v", 16)
      .select("est_distinct").as[Double].head()
    assert(p7 == e1)
    assert(math.abs(e1 - 100.0) / 100.0 < 0.5, s"estimate $e1 vs true 100")
    // nulls are ignored (approx_count_distinct semantics), not fatal
    val withNulls = Seq(Some("a"), None, Some("b"), None).toDF("v")
      .withColumn("g", lit("x"))
    val en = Sketches.kmvDistinct(withNulls, "g", $"v", 8)
      .select("est_distinct").as[Double].head()
    assert(en == 2.0)
  }

  test("IVF: cell assignment is nearest-centroid with lowest-index ties") {
    val cents = Seq(
      Array(1.0f, 0.0f, 0.0f, 0.0f),
      Array(0.0f, 1.0f, 0.0f, 0.0f),
      Array(0.0f, 1.0f, 0.0f, 0.0f), // duplicate of 1 → ties pick 1
    )
    val vecs = Seq(
      (0L, Array(0.9f, 0.1f, 0f, 0f)),  // → cell 0
      (1L, Array(0.1f, 0.9f, 0f, 0f)),  // → cell 1 (ties with 2)
      (2L, Array(0.0f, 1.0f, 0f, 0f)),  // exact hit, ties with 2 → 1
    ).toDF("vec_id", "embedding")
    val cells = vecs.select($"vec_id",
      Similarity.ivfCell($"embedding", cents).as("cell"))
      .as[(Long, Int)].collect().toMap
    assert(cells == Map(0L -> 0, 1L -> 1, 2L -> 1))
  }

  test("IVF: full probe == brute; restricted probe valid; driver fold == kernel") {
    val emb = Tables.embeddings(spark, sf0001).limit(100).cache()
    val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
    assert(cents.size == 8 && cents.forall(_.length == cents.head.length))
    val brute = Similarity.bruteTopK(emb, "vec_id", "embedding", 0L, 5)
      .select("vec_id").as[Long].collect().toSeq
    // probing every cell degrades IVF to exact search
    val full = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 5,
      cents, nProbe = 8).select("vec_id").as[Long].collect().toSeq
    assert(full == brute)
    // restricted probe: <=k unique ids, scores truncated-cosine in [-1,1]
    val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 5,
      cents, nProbe = 2).as[(Long, Double)].collect().toSeq
    assert(approx.size <= 5 && approx.map(_._1).distinct.size == approx.size)
    assert(approx.forall { case (_, s) => s >= -1.0 && s <= 1.0 })
    // seqDot (driver twin) is bit-identical to the VecDot kernel
    val a = cents(0); val b = cents(1)
    val planSide = Seq((a, b)).toDF("a", "b")
      .select(Similarity.dot($"a", $"b")).as[Double].head()
    assert(java.lang.Double.doubleToLongBits(planSide) ==
      java.lang.Double.doubleToLongBits(Similarity.seqDot(a, b)))
  }

  test("PQ: codes in range, seed vectors reconstruct exactly") {
    val emb = Tables.embeddings(spark, sf0001).limit(100).cache()
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding", 8, 16)
    assert(cbs.size == 8 && cbs.forall(_.size == 16) &&
      cbs.forall(_.forall(_.length == 8)))
    val enc = emb.select($"vec_id", $"embedding",
      Similarity.pqEncode($"embedding", cbs).as("codes"))
    val rows = enc.select($"vec_id", $"codes",
      Similarity.cosine($"embedding",
        Similarity.pqReconstruct($"codes", cbs)).as("rc"))
      .as[(Long, Seq[Int], Double)].collect()
    assert(rows.forall(_._2.size == 8))
    assert(rows.forall(_._2.forall(c => c >= 0 && c < 16)))
    // every codebook entry IS a seed subvector, so the 16 seed vectors
    // (smallest ids) must encode to themselves and reconstruct exactly
    val seedIds = emb.orderBy($"vec_id").limit(16)
      .select($"vec_id").as[Long].collect().toSet
    rows.filter(r => seedIds.contains(r._1)).foreach { case (id, _, rc) =>
      assert(math.abs(rc - 1.0) < 1e-12, s"seed $id recon cosine $rc")
    }
    // non-seed reconstructions are lossy but must stay valid cosines
    assert(rows.forall { case (_, _, rc) => rc >= -1.0 && rc <= 1.0 + 1e-12 })
  }

  test("IVF-PQ: full probe == brute over reconstructions; probe valid") {
    val emb = Tables.embeddings(spark, sf0001).limit(100).cache()
    val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding", 8, 16)
    val got = Similarity.ivfPqTopK(emb, "vec_id", "embedding", 0L, 5,
      cents, cbs, nProbe = 8).as[(Long, Double)].collect().toSeq
    // reference: exact top-k of the asymmetric score over ALL rows
    val qVec = emb.filter($"vec_id" === 0L).select($"embedding")
      .head().getSeq[Float](0).toArray
    val qNrm = math.sqrt(Similarity.seqDot(qVec, qVec))
    val ref = emb.filter($"vec_id" =!= 0L)
      .withColumn("recon", Similarity.pqReconstruct(
        Similarity.pqEncode($"embedding", cbs), cbs))
      .withColumn("score", Similarity.trunc(
        Similarity.dot($"recon", lit(qVec)) /
          (Similarity.l2norm($"recon") * lit(qNrm)), 6))
      .orderBy($"score".desc, $"vec_id".asc).limit(5)
      .select($"vec_id", $"score").as[(Long, Double)].collect().toSeq
    assert(got == ref)
    // restricted probe: valid approximate result
    val approx = Similarity.ivfPqTopK(emb, "vec_id", "embedding", 0L, 5,
      cents, cbs, nProbe = 2).as[(Long, Double)].collect().toSeq
    assert(approx.size <= 5 && approx.map(_._1).distinct.size == approx.size)
    assert(approx.forall { case (_, s) => s >= -1.0 && s <= 1.0 + 1e-12 })
  }

  test("int8 quantization: bounded error, zero-vector safe, 4x smaller") {
    val vecs = Seq(
      (1L, Array(1.0f, -2.0f, 63.5f, -127.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // zero vector: scale 1, q 0
      (3L, Array(0.001f, -0.002f, 0.0005f, 0.0f))
    ).toDF("vec_id", "embedding")
    val rt = vecs.select($"vec_id",
      Similarity.quantizeInt8($"embedding").as("qs"), $"embedding")
    val rows = rt.select($"vec_id", $"qs.scale", $"qs.q",
      Similarity.dequantInt8($"qs").as("dq"), $"embedding")
      .as[(Long, Double, Seq[Int], Seq[Float], Seq[Float])]
      .collect().sortBy(_._1)
    rows.foreach { case (_, scale, q, dq, orig) =>
      assert(q.forall(v => v >= -127 && v <= 127))
      // reconstruction error bounded by half a quantization step
      dq.zip(orig).foreach { case (d, o) =>
        assert(math.abs(d - o) <= scale / 2 + 1e-9)
      }
    }
    val (_, zScale, zQ, _, _) = rows(1)
    assert(zScale == 1.0 && zQ.forall(_ == 0))
    // extreme magnitudes map to the code range ends
    assert(rows(0)._3.last == -127)
  }

  test("cosine pair kernel agrees with the generic-id fallback") {
    val emb = Tables.embeddings(spark, sf0001).limit(150)
    val viaKernel = graft.ext.Dedup.embeddingNearDups(
      emb, "vec_id", "embedding", threshold = 0.3, nBits = 4)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect().toSet
      .map((p: (Long, Long, Double)) => (s"v${p._1}", s"v${p._2}", p._3))
    val strIds = emb.select(concat(lit("v"), $"vec_id").as("vec_id"),
      $"embedding")
    val viaFallback = graft.ext.Dedup.embeddingNearDups(
      strIds, "vec_id", "embedding", threshold = 0.3, nBits = 4)
      .select("id_a", "id_b", "cosine")
      .as[(String, String, Double)].collect().toSet
    // cosines must be BIT-identical (same fold); ids may pair-order
    // differently under string vs numeric comparison, so normalize
    def norm(s: Set[(String, String, Double)]) =
      s.map { case (a, b, c) => (Set(a, b), c) }
    assert(norm(viaFallback) == norm(viaKernel))
  }

  test("embedding near-dups finds planted duplicate vector") {
    val vecs = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f)),   // exact dup
      (2L, Array(1.01f, 2.0f, 3.0f)),  // near dup
      (3L, Array(-3.0f, 1.0f, -2.0f)),
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(vecs, "vec_id", "embedding",
      threshold = 0.999, nBits = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("language id on real-language sentences") {
    val got = Seq(
      ("the cat is on the mat and it is happy", "en"),
      ("el perro de la casa que ladra por las noches", "es"),
      ("der Hund ist nicht ein Freund und das ist gut", "de"),
      ("le chat est dans la maison et les oiseaux", "fr"),
      ("这是一个中文句子", "zh"),
      ("xyzzy plugh", "und"),
    ).toDF("text", "expected")
      .select(TextStats.langId($"text").as("got"), $"expected")
      .as[(String, String)].collect()
    got.foreach { case (g, e) => assert(g == e, s"expected $e got $g") }
  }

  test("withLangId (dataset form) agrees with the langId column form") {
    val df = Seq(
      (1L, "the cat is on the mat and it is happy"),
      (2L, "el perro de la casa que ladra por las noches"),
      (3L, "der Hund ist nicht ein Freund und das ist gut"),
      (4L, "le chat est dans la maison et les oiseaux"),
      (5L, "这是一个中文句子"),
      (6L, "xyzzy plugh"),
    ).toDF("doc_id", "text")
    val viaDs = TextStats.withLangId(df, "doc_id", "text")
      .select("doc_id", "lang_guess").as[(Long, String)].collect().toMap
    val viaCol = df.select($"doc_id", TextStats.langId($"text"))
      .as[(Long, String)].collect().toMap
    assert(viaDs == viaCol)
    assert(viaDs(5L) == "zh" && viaDs(6L) == "und")
  }

  test("fingerprint is order-sensitive; token counts sane") {
    val fp = Seq("a b c", "c b a", "a b c").toDF("t")
      .select(TextStats.fingerprint($"t")).as[Long].collect()
    assert(fp(0) == fp(2) && fp(0) != fp(1))
    val tc = Seq("hello world, it's 42 degrees").toDF("t")
      .select(TextStats.tokenCount($"t"), TextStats.bpeishTokens($"t"))
      .as[(Int, Int)].head()
    assert(tc._1 == 5)
    assert(tc._2 == 8) // hello world , it ' s 42 degrees
  }

  test("pii redaction: emails, urls, digit runs") {
    val got = Seq(
      "contact me at jane.doe+spam@example.co.uk for details",
      "see https://example.com/a?b=c#d and http://x.io",
      "call +1 (555) 123-4567 or 5551234567 now",
      "year 2024 stays, pi 3.14 stays, zip 12345 stays",
      "plain text untouched").toDF("t")
      .select(TextStats.redactPii($"t")).as[String].collect()
    assert(got(0) == "contact me at <EMAIL> for details")
    assert(got(1) == "see <URL> and <URL>")
    assert(got(2) == "call +<NUM> or <NUM> now")
    // short digit groups are not phone-shaped and survive
    assert(got(3) == "year 2024 stays, pi 3.14 stays, zip 12345 stays")
    assert(got(4) == "plain text untouched")
  }

  test("quality score ranges and ranking") {
    val q = Seq(
      ("a a a a a a a a a a", "rep"), // repetitive → low uniq ratio
      ("the weather today is pleasant and mildly warm with light winds", "good"),
    ).toDF("text", "tag")
      .select($"tag", TextStats.qualityScore($"text").as("q"))
      .as[(String, Double)].collect().toMap
    assert(q("rep") < q("good"))
    assert(q.values.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("knnJoin: full probe == brute-force kNN graph; no cartesian") {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, sf0001).limit(60).cache()
    val cents = Similarity.seedCentroids(emb, "vec_id", "embedding", 8)
    val knn = Similarity.knnJoin(emb, "vec_id", "embedding", 3, cents,
      nProbe = 8)
    // brute force over the cross product, same score/tie discipline
    val l = emb.select($"vec_id".as("q_id"), $"embedding".as("qv"))
    val r = emb.select($"vec_id".as("n_id"), $"embedding".as("nv"))
    val w = Window.partitionBy("q_id")
      .orderBy($"score".desc, $"n_id".asc)
    val brute = l.crossJoin(r).filter($"q_id" =!= $"n_id")
      .select($"q_id", $"n_id",
        Similarity.trunc(Similarity.cosine($"qv", $"nv"), 6).as("score"))
      .withColumn("rank", row_number().over(w)).filter($"rank" <= 3)
      .select($"q_id", $"rank", $"n_id", $"score")
    val got = knn.as[(Long, Int, Long, Double)].collect().toSet
    val exp = brute.as[(Long, Int, Long, Double)].collect().toSet
    assert(got == exp)
    // restricted probe: at most k unique neighbors per query, pairs
    // unique, and the plan blocks on the cell equi-join — no cartesian
    val approx = Similarity.knnJoin(emb, "vec_id", "embedding", 3, cents,
      nProbe = 2)
    val plan = approx.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    val rows = approx.as[(Long, Int, Long, Double)].collect().toSeq
    assert(rows.groupBy(_._1).values.forall(g =>
      g.size <= 3 && g.map(_._3).distinct.size == g.size))
  }

  test("bpeMerges: hand-computed merges, ties lexicographic, greedy overlap") {
    // word counts: low x3, lower x1, newest x2
    val corpus = Seq("low low lower", "low newest newest").toDF("text")
    val got = TextStats.bpeMerges(corpus, "text", 3)
      .as[(Int, String, String, Long)].collect().toSeq
    // r1: (l,o)=4 ties (o,w)=4, lex pick; r2: (lo,w)=4; r3: four pairs
    // tie at 2, (e,s) wins lexicographically
    assert(got == Seq(
      (1, "l", "o", 4L), (2, "lo", "w", 4L), (3, "e", "s", 2L)))
    // greedy left-to-right: "aaaa" merges twice in round 1's replace,
    // so round 2's best pair is (aa,aa)
    val over = TextStats.bpeMerges(Seq("aaaa").toDF("text"), "text", 2)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(over == Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
  }

  test("StringIntersectSize kernel == size(array_intersect)") {
    val rnd = new scala.util.Random(83)
    val rows = Seq.fill(200) {
      def set() = rnd.shuffle((0 until 60).toList).take(rnd.nextInt(50))
        .map(i => s"tok$i").distinct
      (set(), set())
    } :+ ((Nil: List[String], List("a"))) :+ ((List("a"), Nil: List[String]))
    val df = rows.toDF("a", "b")
    val diff = df.select(
      graft.functions.PairFunctions.stringIntersectSize($"a", $"b").as("k"),
      size(array_intersect($"a", $"b")).as("e"))
      .filter($"k" =!= $"e").count()
    assert(diff == 0)
  }

  test("shuffleShards: dense positions, deterministic, partition-invariant") {
    import graft.ext.Sampling
    val docs = Tables.documents(spark, sf0001).limit(200).cache()
    val out = Sampling.shuffleShards(docs, "doc_id", 4)
      .select($"doc_id", $"shard", $"pos")
      .as[(Long, Int, Int)].collect().toSeq
    assert(out.size == 200)
    // every shard's positions are exactly 1..n (dense, no gaps/ties)
    out.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).sorted == (1 to g.size).toList)
    }
    // same permutation regardless of input partitioning
    val re = Sampling.shuffleShards(docs.repartition(7), "doc_id", 4)
      .select($"doc_id", $"shard", $"pos")
      .as[(Long, Int, Int)].collect().toSeq
    assert(re.toSet == out.toSet)
  }
}
