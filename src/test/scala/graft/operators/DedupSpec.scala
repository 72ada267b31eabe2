package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class DedupSpec extends AnyFunSuite with SparkTestBase {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("minhash LSH finds exact and near duplicates, skips distinct docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2" // jac ≈ 0.90
    val distinct = (1 to 40).map(i => s"z$i").mkString(" ")
    val df = docs(1L -> base, 2L -> base, 3L -> nearDup, 4L -> distinct)
    val pairs = Dedup.verifiedPairs(df, "doc_id", "text", 0.85)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // distinct doc clean
  }

  test("simhash: identical docs distance 0; small perturbations nearby; found by bucketing") {
    val words = (1 to 60).map(i => s"token$i")
    val a = Dedup.simHash(words)
    val b = Dedup.simHash(words)
    assert(a == b)
    val perturbed = Dedup.simHash(words.drop(1)) // one word removed
    assert(java.lang.Long.bitCount(a ^ perturbed) <= 3)

    val df = docs(
      1L -> words.mkString(" "),
      2L -> words.drop(1).mkString(" "),
      3L -> (1 to 60).map(i => s"other$i").mkString(" "))
    val pairs = Dedup.simHashPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("md5 simhash column program is bit-identical to the scala reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    // varied docs: unicode, single word, empty string, repeated words
    val texts = Seq("", "one", "héllo wörld ünïcode",
      "a a a b b c", (1 to 80).map(_ => s"w${rnd.nextInt(50)}").mkString(" ")) ++
      (1 to 40).map(_ => (1 to rnd.nextInt(60) + 1)
        .map(_ => s"tok${rnd.nextInt(200)}").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Dedup.md5SimHashById(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = texts.zipWithIndex.map { case (t, i) =>
      i.toLong -> Dedup.simHash(
        t.trim.split(" ", -1).distinct.toSeq, Dedup.md5WordHash)
    }.toMap
    assert(got == want)
    // and the plan is UDF-free
    val plan = Dedup.md5SimHashById(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
  }

  test("group-scoped minhash dedup pairs only within a group") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    // identical docs split across two sources: only same-source pairs
    val df = Seq(
      (1L, "src_a", base), (2L, "src_a", base),
      (3L, "src_b", base), (4L, "src_b", base), (5L, "src_b", base))
      .toDF("doc_id", "source", "text")
    val pairs = Dedup.verifiedPairs(df, "doc_id", "text", 0.9, groupCols = Seq("source"))
      .select("id_a", "id_b", "source").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(pairs == Set(
      (1L, 2L, "src_a"),
      (3L, 4L, "src_b"), (3L, 5L, "src_b"), (4L, 5L, "src_b")))
  }

  test("duplicate clusters: min-id label over chained pairs, independent of layout") {
    import spark.implicits._
    // components: {1,2,3,4} (a chain, diameter 3 — forces multiple
    // propagation rounds), {10,11}, isolated pairs absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    for (n <- Seq(1, 4)) {
      val got = Dedup.duplicateClusters(pairs.repartition(n))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    }
  }

  test("duplicate clusters: local union-find path == distributed loop") {
    import spark.implicits._
    // chain (multi-round diameter), clique, isolated pair — on LONG ids
    val pairs = Seq((7L, 3L), (3L, 9L), (9L, 1L), (1L, 5L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L))
      .toDF("id_a", "id_b")
    def run(cap: Long = 2000000L): Map[Long, Long] =
      Dedup.duplicateClusters(pairs, localEdgeCap = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLocal = run() // default cap >> 8 edges: local path
    val viaDistributed = run(cap = 0)
    assert(viaLocal == viaDistributed)
    assert(viaLocal(5L) == 1L && viaLocal(7L) == 1L && viaLocal(22L) == 20L
      && viaLocal(31L) == 30L)
    // STRING ids take the local path too and label with the min string
    val spairs = Seq(("b", "c"), ("c", "a"), ("x", "y")).toDF("id_a", "id_b")
    val sGot = Dedup.duplicateClusters(spairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val sWant = Dedup.duplicateClusters(spairs, localEdgeCap = 0)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sGot == sWant && sGot == Map(
      "a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    // an over-cap graph routes to the distributed loop (cap = 2 edges)
    val big = run(cap = 2)
    assert(big == viaLocal)
  }

  test("duplicate clusters: local path matches distributed on non-BMP string ids") {
    import spark.implicits._
    // U+FFFF sorts BELOW U+1F600 in UTF-8 byte order (Spark's binary
    // string comparison: EF BF BF < F0 9F 98 80) but ABOVE it in Java's
    // UTF-16 code-unit order (FFFF > D83D) — the exact divergence the
    // local path must not reintroduce
    val hi = "￿"
    val emoji = "😀" // 😀 U+1F600
    // the {emoji, U+FFFF} component has NO ASCII member, so its min
    // differs between the two orderings — the discriminating case
    val spairs = Seq((emoji, hi), ("aa", "ab")).toDF("id_a", "id_b")
    def run(cap: Long = 2000000L): Map[String, String] =
      Dedup.duplicateClusters(spairs, localEdgeCap = cap)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaLocal = run()
    val viaDistributed = run(cap = 0)
    assert(viaLocal == viaDistributed)
    assert(viaLocal(emoji) == hi && viaLocal(hi) == hi && viaLocal("ab") == "aa")
  }

  test("duplicate clusters: null-id pairs drop out on both paths") {
    import spark.implicits._
    val pairs = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), None))
      .toDF("id_a", "id_b")
    def run(cap: Long = 2000000L): Map[Long, Long] =
      Dedup.duplicateClusters(pairs, localEdgeCap = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLocal = run()
    val viaDistributed = run(cap = 0)
    assert(viaLocal == Map(1L -> 1L, 2L -> 1L))
    assert(viaDistributed == viaLocal)
  }

  test("deltaPairs finds delta-vs-corpus near-dups only") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "the quick brown fox jumps over the lazy dog tonight again"), // corpus-internal dup of 1
      (3L, "completely different words live in this other document here")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight again"), // dup of 1 and 2
      (101L, "nothing matches this fresh arrival in any way at all"),
      (102L, "nothing matches this fresh arrival in any way at all") // delta-internal dup
    ).toDF("doc_id", "text")
    val pairs = Dedup.deltaPairs(delta, corpus, "doc_id", "text", 0.9)
      .select("id_delta", "id_corpus").as[(Long, Long)].collect().toSet
    // only delta↔corpus edges: the corpus-internal (1,2) and
    // delta-internal (101,102) pairs must not appear
    assert(pairs == Set((100L, 1L), (100L, 2L)), pairs.toString)
  }

  test("keepCanonical retains cluster minimum + unclustered docs") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val docs = Seq(1L, 2L, 3L, 7L, 10L, 11L).toDF("doc_id")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(kept == Set(1L, 7L, 10L)) // cluster reps 1 and 10, untouched 7
  }

  test("embedding near-dup: planted high-cosine pairs found, orthogonal vectors not") {
    import spark.implicits._
    val dim = 32
    val rnd = new scala.util.Random(17)
    def randomVec() = Seq.fill(dim)(rnd.nextGaussian())
    def perturb(v: Seq[Double]) = v.map(x => x + rnd.nextGaussian() * 0.05)
    // 30 base vectors; ids 1000+i are slight perturbations (cos ≈ 0.996)
    val bases = (0 until 30).map(i => (i.toLong, randomVec()))
    val dups = bases.map { case (i, v) => (1000L + i, perturb(v)) }
    val df = (bases ++ dups).toDF("vec_id", "v")
    // 16×4 banding: recall ≈ 1 − 3·10⁻⁸ at cos 0.95
    val pairs = Dedup.embeddingNearDupPairs(df, "vec_id", "v", dim, threshold = 0.95,
        bands = 16, bitsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted pair found, nothing else (random gaussians are
    // near-orthogonal at dim 32 — cos far below 0.95)
    assert(pairs == (0 until 30).map(i => (i.toLong, 1000L + i)).toSet)
  }

  test("verify joins never broadcast the corpus relation") {
    // explicit broadcast() hints override autoBroadcastJoinThreshold, so
    // with the threshold disabled any BroadcastExchange in the plan can
    // only come from a corpus-sized hint left in the operator — the
    // scale-killer this asserts against (mirrors BucketingSpec's style)
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = (1L to 50L).map(i => (i, (1 to 30).map(j => s"w${i % 5}_$j").mkString(" ")))
        .toDF("doc_id", "text")
      val signed = Dedup.withSignature(df, "text")
      val jacPlan = Dedup.exactVerify(signed, Dedup.candidatePairs(signed, "doc_id"),
        "doc_id", 0.8).queryExecution.executedPlan.toString
      assert(!jacPlan.contains("BroadcastExchange"), jacPlan)

      val vecs = (1L to 50L).map(i => (i, Seq.fill(8)(i.toDouble))).toDF("vec_id", "v")
      val cands = vecs.select(col("vec_id").as("id_a"))
        .crossJoin(vecs.select(col("vec_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      val cosPlan = Dedup.exactCosineVerify(vecs, cands, "vec_id", "v", 0.9)
        .queryExecution.executedPlan.toString
      assert(!cosPlan.contains("BroadcastExchange"), cosPlan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("semDedup keeps the low-centroid-similarity member of each duplicate pair") {
    import spark.implicits._
    // cluster 0: a duplicate pair (cos = 0.96) plus an orthogonal
    // outlier that pulls the centroid; cluster 1: no duplicates
    val rows = Seq(
      (1L, 0, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, 0, Seq(0.96, 0.28, 0.0, 0.0)), // unit vector, cos(1,2) = 0.96
      (3L, 0, Seq(0.0, 1.0, 0.0, 0.0)), // outlier, no partner
      (4L, 1, Seq(0.0, 0.0, 1.0, 0.0)),
      (5L, 1, Seq(0.0, 0.0, 0.0, 1.0)))
    val df = rows.toDF("vec_id", "cl", "v")
    val kept = Dedup.semDedup(df, "vec_id", "v", "cl", threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    // centroid of cluster 0 ≈ (0.653, 0.427, 0, 0): csim(id2) ≈ 0.957
    // vs csim(id1) ≈ 0.837 — id 2 sits nearer the cluster core, so the
    // keep-low-centroid-similarity policy drops id 2
    assert(kept == Set(1L, 3L, 4L, 5L))

    // exact duplicates (×2 scaling): centroid similarity ties
    // bit-exactly, the tie-break keeps the smaller id
    val tied = Seq(
      (10L, 0, Seq(0.3, 0.4, 0.5, 0.1)),
      (11L, 0, Seq(0.6, 0.8, 1.0, 0.2)),
      (12L, 0, Seq(-1.0, 0.2, 0.1, 0.9))).toDF("vec_id", "cl", "v")
    val keptTied = Dedup.semDedup(tied, "vec_id", "v", "cl", threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(keptTied == Set(10L, 12L))

    // duplicates in DIFFERENT clusters are never compared
    val crossCluster = Seq(
      (20L, 0, Seq(1.0, 0.0, 0.0, 0.0)),
      (21L, 1, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "cl", "v")
    assert(Dedup.semDedup(crossCluster, "vec_id", "v", "cl", 0.95).count() == 2)
  }

  test("semDedup keep policies flip the per-pair decision") {
    import spark.implicits._
    // cluster 0: duplicate pair (1, 2) with csim(2) > csim(1) (see the
    // keep-low test above), plus outlier 3
    val rows = Seq(
      (1L, 0, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, 0, Seq(0.96, 0.28, 0.0, 0.0)),
      (3L, 0, Seq(0.0, 1.0, 0.0, 0.0)))
    val df = rows.toDF("vec_id", "cl", "v")
    // keep-high drops the LOW-csim member: id 1 goes, id 2 stays
    val keptHigh = Dedup.semDedup(df, "vec_id", "v", "cl", 0.95,
      keep = Dedup.SemKeep.High).select("vec_id").as[Long].collect().toSet
    assert(keptHigh == Set(2L, 3L))
    // keep-random drops the larger-xxhash64 member, deterministically
    val hashes = df.select(col("vec_id"), xxhash64(col("vec_id")).as("h"))
      .as[(Long, Long)].collect().toMap
    val expectedDrop = if (hashes(1L) > hashes(2L)) 1L else 2L
    val keptRnd = Dedup.semDedup(df, "vec_id", "v", "cl", 0.95,
      keep = Dedup.SemKeep.Random).select("vec_id").as[Long].collect().toSet
    assert(keptRnd == Set(1L, 2L, 3L) - expectedDrop)
    // and it is stable across runs
    val keptRnd2 = Dedup.semDedup(df, "vec_id", "v", "cl", 0.95,
      keep = Dedup.SemKeep.Random).select("vec_id").as[Long].collect().toSet
    assert(keptRnd2 == keptRnd)
  }

  test("semDedup rejects an oversized cluster loudly (default policy)") {
    import spark.implicits._
    // one planted giant cluster: 40 rows against a cap of 10 — the
    // degenerate pocket (bit-identical vectors) a mis-chosen k produces
    val giant = (1L to 40L).map(i => (i, 0, Seq(0.6, 0.8, 0.0)))
    // pairwise cos = cos(0.5·Δi) ≤ cos(0.5) ≈ 0.878 < 0.95 — no dups
    val ok = (100L to 104L).map(i => (i, 1,
      Seq(math.cos(0.5 * (i - 100)), math.sin(0.5 * (i - 100)), 0.0)))
    val df = (giant ++ ok).toDF("vec_id", "cl", "v")
    val ex = intercept[IllegalStateException] {
      Dedup.semDedup(df, "vec_id", "v", "cl", 0.95, maxClusterSize = 10)
    }
    assert(ex.getMessage.contains("40 rows"), ex.getMessage)
    assert(ex.getMessage.contains("maxClusterSize=10"), ex.getMessage)
    // bounded clusters under the same cap pass untouched
    assert(Dedup.semDedup(df.filter(col("cl") === 1), "vec_id", "v", "cl", 0.95,
      maxClusterSize = 10).count() == 5)
  }

  test("semDedup salt-split bounds pair fan-in inside a giant cluster") {
    import spark.implicits._
    // 40 bit-identical vectors, cap 10 → 4 id-hash salt buckets. All
    // pairs tie on csim, so each salt bucket keeps exactly its smallest
    // id: >1 survivor proves pairs were scoped per sub-bucket (the
    // unsplit join would leave exactly one), and the survivor set must
    // equal the per-bucket minima computed independently here.
    val df = (1L to 40L).map(i => (i, 0, Seq(0.6, 0.8, 0.0))).toDF("vec_id", "cl", "v")
    val kept = Dedup.semDedup(df, "vec_id", "v", "cl", 0.95,
      maxClusterSize = 10, oversized = Dedup.OversizedClusters.SaltSplit)
      .select("vec_id").as[Long].collect().toSet
    val expected = df
      .select(col("vec_id"), pmod(xxhash64(col("vec_id")), lit(4L)).as("salt"))
      .groupBy("salt").agg(min("vec_id").as("vec_id"))
      .select("vec_id").as[Long].collect().toSet
    assert(kept == expected, s"kept=$kept expected=$expected")
    assert(kept.size > 1)
    // a bounded cluster under SaltSplit is untouched (single salt
    // bucket ⇒ semantics identical to the unsplit path)
    val small = (1L to 5L).map(i => (i, 0, Seq(0.6, 0.8, 0.0))).toDF("vec_id", "cl", "v")
    val keptSmall = Dedup.semDedup(small, "vec_id", "v", "cl", 0.95,
      maxClusterSize = 10, oversized = Dedup.OversizedClusters.SaltSplit)
      .select("vec_id").as[Long].collect().toSet
    assert(keptSmall == Set(1L))
  }

  test("keepBestLabeled keeps the highest-quality cluster member, min-id on ties") {
    import spark.implicits._
    // clusters: {1,2,3} and {10,11}; 4 and 5 unclustered
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster")
    val docs = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 9.0), // 2 and 3 tie at 9.0 → keep 2
      (10L, 1.0), (11L, 7.0),          // keep 11 (higher quality than canonical 10)
      (4L, 0.0), (5L, 100.0))          // unclustered: always kept
      .toDF("doc_id", "q")
    val kept = Dedup.keepBestLabeled(docs, "doc_id", "q", clusters)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 11L, 4L, 5L), kept)
    // min-id canonical gives a DIFFERENT set — the policy is real
    val canonical = Dedup.keepCanonicalLabeled(docs, "doc_id", clusters)
      .select("doc_id").as[Long].collect().toSet
    assert(canonical == Set(1L, 10L, 4L, 5L), canonical)
  }

  test("softWeights downweights by multiplicity; singletons keep full weight") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster")
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 4L, 5L).toDF("doc_id")
    val w = Dedup.softWeights(docs, "doc_id", clusters)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_size"), r.getAs[Long]("weight_x1e6"))).toMap
    assert(w.size === 7) // every document KEPT — that's the point
    assert(w(1L) === ((3L, 333333L)) && w(2L) === ((3L, 333333L)))
    assert(w(10L) === ((2L, 500000L)) && w(11L) === ((2L, 500000L)))
    assert(w(4L) === ((1L, 1000000L)) && w(5L) === ((1L, 1000000L)))
    // effective corpus = 3·(1/3) + 2·(1/2) + 2·1 = 4 documents
    val eff = Dedup.softWeights(docs, "doc_id", clusters)
      .agg(org.apache.spark.sql.functions.sum("weight_x1e6")).head().getLong(0)
    assert(eff === 3999999L) // 3·333333 + 2·500000 + 2·1000000
  }

  test("drain-and-release cycle leaves zero cached blocks (handOff contract)") {
    import spark.implicits._
    // clean slate: earlier tests in this suite may have left caller-
    // owned caches behind (they exercise results, not release)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h"),
      (3L, "x y z w q r s")).toDF("doc_id", "text")
    val pairs = Dedup.verifiedPairs(docs, "doc_id", "text", 0.5)
    pairs.collect()
    pairs.unpersist(blocking = true)
    val delta = Dedup.deltaPairs(docs, docs, "doc_id", "text", 0.5)
    delta.collect()
    delta.unpersist(blocking = true)
    val vecs = Seq((1L, 0, Seq(1.0, 0.0)), (2L, 0, Seq(1.0, 0.001)),
      (3L, 1, Seq(0.0, 1.0))).toDF("vec_id", "cl", "v")
    val kept = Dedup.semDedup(vecs, "vec_id", "v", "cl", 0.99)
    kept.collect()
    kept.unpersist(blocking = true)
    val signed = Dedup.withSignature(docs, "text")
    val cands = Dedup.cappedCandidatePairs(signed, "doc_id", 2)
    Dedup.exactVerify(signed, cands, "doc_id", 0.5).collect()
    cands.unpersist(blocking = true)
    val leftover = spark.sparkContext.getPersistentRDDs
    assert(leftover.isEmpty, leftover.values.map(_.toString).toSeq)
  }

  test("keepBestLabeled: a null-score member cannot beat a scored one") {
    import spark.implicits._
    // null sorts before every value in a struct compare, so without the
    // +Inf mapping the null-score member would win the per-cluster min
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster")
    val docs = Seq(
      (1L, Some(5.0)), (2L, None), (3L, Some(4.0)), // scored 1 beats null 2
      (10L, None), (11L, None),                     // all-null → min id 10
      (4L, Some(0.0)))                              // unclustered: kept
      .toDF("doc_id", "q")
    val kept = Dedup.keepBestLabeled(docs, "doc_id", "q", clusters)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 4L), kept)
  }

  test("semDedup broadcasts only the centroid relation, never the corpus") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      import spark.implicits._
      val df = (1L to 500L)
        .map(i => (i, (i % 7).toInt, Seq.tabulate(8)(d => ((i * 31 + d * 7) % 13).toDouble + 0.1)))
        .toDF("vec_id", "cl", "v")
      val plan = Dedup.semDedup(df, "vec_id", "v", "cl", 0.999)
        .queryExecution.executedPlan.toString
      // with the auto-broadcast threshold disabled, both corpus-sized
      // joins must be sort-merge: the cluster-keyed pair self-join and
      // the surviving-set anti-join (a BroadcastExchange on either
      // would mean the corpus was broadcast; the only broadcast in the
      // plan is the explicit k-row centroid relation)
      assert("""SortMergeJoin \[_cl#\d+\], \[_cl#\d+\], Inner""".r
        .findFirstIn(plan).isDefined, plan)
      assert(""", LeftAnti""".r.findFirstIn(plan).isDefined, plan)
      assert(!plan.contains("CartesianProduct"), plan)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("capped candidate pairs: giant clique collapses to star+chain, clusters survive") {
    // 12-doc exact-duplicate clique + 2 small near-dups + 1 distinct
    val clique = (1 to 30).map(i => s"c$i").mkString(" ")
    val pairTxt = (1 to 30).map(i => s"p$i").mkString(" ")
    val rows = (1L to 12L).map(_ -> clique) ++
      Seq(20L -> pairTxt, 21L -> pairTxt,
        30L -> (1 to 30).map(i => s"z$i").mkString(" "))
    val signed = Dedup.withSignature(docs(rows: _*), "text").persist()
    try {
      val uncapped = Dedup.candidatePairs(signed, "doc_id")
      val capped = Dedup.cappedCandidatePairs(signed, "doc_id", cap = 5)
      val unc = uncapped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val cap = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // uncapped enumerates the full clique: 12*11/2 = 66 clique pairs
      assert(unc.count(p => p._1 <= 12 && p._2 <= 12) == 66)
      // capped: star around the min id (11 edges) + the sorted-
      // neighborhood chain — identical docs share one signature, so
      // the (sig, id) order is id order and the chain is (i, i+1) for
      // i=1..11; the union dedupes the shared (1,2) edge → 21 edges,
      // O(fanin) not O(fanin²)
      assert(cap.count(p => p._1 <= 12 && p._2 <= 12) == 21)
      assert((1L to 12L).forall(i => i == 1L || cap.contains((1L, i))))
      assert((1L to 11L).forall(i => cap.contains((i, i + 1))))
      // small buckets unaffected: the 2-doc dup pair survives verbatim
      assert(cap.contains((20L, 21L)))
      assert(!cap.exists(p => p._1 == 30L || p._2 == 30L))
      // downstream clustering: star edges verify (jac = 1) and the
      // clique still collapses into ONE component with min-id label
      val verified = Dedup.exactVerify(signed, capped, "doc_id", 0.9)
      val clusters = Dedup.duplicateClusters(verified)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 12L).forall(clusters(_) == 1L))
      assert(clusters(20L) == 20L && clusters(21L) == 20L)
    } finally signed.unpersist(blocking = false)
  }

  test("capped chain edges keep a mutation CHAIN connected; halving converges past 20 hops") {
    // sliding-window docs: doc i = words i..i+59, so jac(i, i+k) =
    // (60-k)/(60+k) — near-dup for k <= 3, NOT for larger k. The
    // component is a chain (diameter ~30 for 90 docs), the shape where
    // a star-only cap loses connectivity (doc 80 is nothing like doc
    // 1) and where plain min-label propagation would need ~30 rounds
    // (> the 20-round budget) — this test fails without BOTH the chain
    // edges and the pointer-halving.
    import spark.implicits._
    val words = (1 to 150).map(i => f"w$i%03d")
    val rows = (1L to 90L).map(i =>
      i -> words.slice(i.toInt - 1, i.toInt + 59).mkString(" "))
    val signed = Dedup.withSignature(rows.toDF("doc_id", "text"), "text").persist()
    try {
      val capped = Dedup.cappedCandidatePairs(signed, "doc_id", cap = 4)
      val verified = Dedup.exactVerify(signed, capped, "doc_id", 0.9)
      val clusters = Dedup.duplicateClusters(verified)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(clusters.size == 90, "every chain doc must cluster")
      assert((1L to 90L).forall(clusters(_) == 1L),
        s"chain split: ${clusters.values.toSet.size} components " +
          s"(labels ${clusters.values.toSet.toSeq.sorted.take(5)}…)")
    } finally signed.unpersist(blocking = false)
  }

  test("band-bucket census: fan-in counts duplicates, bounds the candidate join") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"z$i").mkString(" ")
    val df = docs(1L -> base, 2L -> base, 3L -> base, 4L -> other)
    val signed = Dedup.withSignature(df, "text")
    val census = Dedup.bandBucketCensus(signed, "doc_id").collect()
    // 3 exact copies share all 16 band buckets at fan-in 3; the distinct
    // doc lands alone (its signature differs in every band w.h.p.)
    assert(census.map(_.getLong(2)).max == 3L)
    assert(census.count(_.getLong(2) == 3L) == Dedup.Bands)
    // Σ C(fanin, 2) bounds the (distinct) candidate-pair volume
    val bound = census.map(r => { val f = r.getLong(2); f * (f - 1) / 2 }).sum
    val pairs = Dedup.candidatePairs(signed, "doc_id").count()
    assert(pairs <= bound && pairs == 3L) // (1,2),(1,3),(2,3)
  }

  test("band-bucket census: groupCols scope the fan-in per group") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, "a", base), (2L, "a", base), (3L, "b", base))
      .toDF("doc_id", "src", "text")
    val census = Dedup.bandBucketCensus(
      Dedup.withSignature(df, "text"), "doc_id", Seq("src")).collect()
    // identical text, but group "b" must never share a census row with
    // group "a": per-group fan-ins are 2 and 1
    val bySrc = census.groupBy(_.getString(2)).view
      .mapValues(_.map(_.getLong(3)).max).toMap
    assert(bySrc == Map("a" -> 2L, "b" -> 1L))
  }

  test("decode stub is deterministic and entropy-sane") {
    val bytes = "hello world hello world".getBytes("UTF-8")
    val (e1, f1, n1) = Multimodal.decodeStub(bytes)
    val (e2, _, _) = Multimodal.decodeStub(bytes)
    assert(e1 == e2 && e1 > 0 && e1 <= 8.0)
    assert(n1 == (bytes.length + 15) / 16)
    assert(f1 > 0)
    assert(Multimodal.decodeStub(Array.empty[Byte]) == ((0.0, 0.0, 0)))
  }
}
