package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSession

/** Near-duplicate detection at corpus scale.
  *
  * MinHash + LSH band join: per document, a k-value minhash signature
  * over its word set (xxhash64 base hash + k affine permutations mod a
  * Mersenne prime — ALL pure column expressions, whole-stage
  * codegen'd, no UDFs); signatures split into b bands of r values;
  * documents sharing any band bucket become candidate pairs; the tiny
  * candidate set is then EXACTLY verified with set Jaccard.
  *
  * Scale shape: one narrow scan computes signatures; the only shuffle
  * is the band-bucket self-join whose fan-in is bounded by bucket
  * size, so the O(n²) all-pairs comparison never materializes. With
  * b=16, r=4 the detection probability at j=0.9 is
  * 1 − (1 − 0.9⁴)¹⁶ ≈ 1 − 3·10⁻⁸ — LSH is a candidate
  * generator, not an approximation, because of the exact verify step.
  */
object Dedup {

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands
  // 31-bit base hashes with 30-bit affine coefficients keep a·h + b
  // under 2^62 — no long overflow under ANSI mode
  private val MersennePrime = (1L << 31) - 1

  /** deterministic affine permutation parameters (30-bit). */
  private def perms(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (0 until NumHashes).map(_ =>
      ((rnd.nextLong() & 0x3fffffffL) + 1, rnd.nextLong() & 0x3fffffffL))
  }

  /** THE word-set convention (single-space split of trimmed text,
    * xxhash64 per word, distinct): shared by the LSH pipeline and
    * [[SetJoin]] so the two similarity-join algorithms stay
    * bit-identical on tokenization — the cross-validation gates
    * (q_dedup_minhash vs q_set_join_exact against one oracle) depend
    * on this being ONE definition, not two copies.
    */
  def wordSet(text: Column): Column =
    array_distinct(transform(split(trim(text), " "), w => xxhash64(w)))

  /** Adds `wset` (distinct 64-bit word hashes — long set ops are ~10×
    * cheaper than string set ops in the verify join, and 64-bit
    * collisions are negligible even at web-corpus vocabulary) and
    * `sig` (minhashes over the 31-bit-folded hashes; fold collisions
    * only affect LSH candidate quality, never verification).
    */
  def withSignature(df: DataFrame, textCol: String, seed: Long = 1234L): DataFrame = {
    // NULL text is dropped up front: it propagates to a null wset and
    // signature, every such doc then lands in the SAME band buckets
    // (concat_ws skips nulls), and m null docs would inflate the band
    // join by m² candidate pairs that the verify discards anyway (jac
    // is null) — pure blowup, no output. Empty-STRING docs stay: their
    // singleton word sets make them genuine jaccard-1 duplicates of
    // each other, which is what the all-pairs semantics say.
    val base = df
      .filter(col(textCol).isNotNull)
      .withColumn("wset", wordSet(col(textCol)))
      .withColumn("_h31", transform(col("wset"), h => pmod(h, lit(MersennePrime))))
    // minhash values fit in 31 bits, but narrowing the signature to
    // array<int> measured WORSE here (same box, back-to-back isolated
    // bench: setup 11.6→12.4 s, capped gate 7.4→8.6 s): the 64 extra
    // cast expressions per row cost more than the halved sig bytes
    // save at fixture scale. Left at long.
    val sig = array(perms(seed).map { case (a, b) =>
      array_min(transform(col("_h31"), h => pmod(h * a + b, lit(MersennePrime))))
    }: _*)
    base.withColumn("sig", sig).drop("_h31")
  }

  /** band index → bucket key for the LSH join. */
  private[graft] def bandKeys: Column = array((0 until Bands).map { b =>
    struct(lit(b).as("band"),
      xxhash64(concat_ws(":", (0 until RowsPerBand).map(r =>
        col("sig").getItem(b * RowsPerBand + r)): _*)).as("bucket"))
  }: _*)

  /** Candidate id pairs from shared band buckets (id_a < id_b).
    *
    * `groupCols` scope the dedup: the band join is keyed on
    * (band, bucket, groupCols...), so only same-group documents can
    * ever pair — smaller buckets AND no post-hoc filtering of
    * cross-group candidates (e.g. per-source dedup of a web corpus).
    * Group columns are carried through to the output.
    *
    * The cross-band duplicate collisions (a near-dup pair collides in
    * ~b·j^r ≈ 10 of 16 bands at j = 0.9) are collapsed by the narrow
    * (id_a, id_b) `distinct`. Measured alternative for the record: a
    * "first-shared-band" filter (carry both docs' band-key arrays
    * through the join, keep a collision only at the first agreeing
    * band) removes that shuffle but runs ~7× SLOWER here — the
    * higher-order-function filter breaks whole-stage codegen and the
    * 16-struct arrays inflate every buffered join row, which dwarfs
    * the 16-byte-row distinct it saves.
    */
  def candidatePairs(signed: DataFrame, idCol: String,
      groupCols: Seq[String] = Nil): DataFrame = {
    val gcols = groupCols.map(col)
    val exploded = signed
      .select(col(idCol) +: gcols :+ explode(bandKeys).as("bk"): _*)
      .select(col(idCol) +: gcols :+ col("bk.band") :+ col("bk.bucket"): _*)
    val a = exploded.select(col(idCol).as("id_a") +: gcols :+ col("band") :+ col("bucket"): _*)
    val b = exploded.select(col(idCol).as("id_b") +: gcols :+ col("band") :+ col("bucket"): _*)
    a.join(b, Seq("band", "bucket") ++ groupCols)
      .filter(col("id_a") < col("id_b"))
      .select("id_a" +: "id_b" +: groupCols map col: _*).distinct()
  }

  /** [[candidatePairs]] with a per-bucket fan-in cap — the production
    * mitigation for GIANT duplicate cliques (measured on this corpus:
    * ~1000-doc templated cliques make the uncapped candidate join emit
    * 9.1M pairs from 5k docs; at 10× corpus that's ~100× pairs —
    * quadratic in clique size, linear only in corpus size).
    *
    * Buckets at or under `cap` self-join exactly as before. A bucket
    * OVER the cap emits O(fanin) edges instead of O(fanin²):
    *   - a STAR: every member paired with the bucket's minimum id —
    *     collapses a true clique (every star edge verifies) into one
    *     component in a single hop;
    *   - a CHAIN: consecutive members in (signature, id) sort order —
    *     the sorted-neighborhood repair for components that are NOT
    *     cliques (gradual template mutation: doc k resembles doc k±1
    *     but not the bucket's min, so its star edge fails
    *     verification; signature sort places such near-neighbours
    *     adjacent, and the chain edge survives).
    * Downstream clustering needs CONNECTIVITY, not pair completeness
    * (duplicateClusters' halving handles the chain diameter), and
    * removal/keep-best operate on the clusters. The cluster-level
    * agreement with the uncapped path is differential-tested per run
    * by the `q_dedup_capped` gate (exact refinement always holds —
    * capped candidates are a SUBSET of uncapped candidates, so capped
    * clusters can only split, never merge across, uncapped ones — and
    * the measured split loss on the fixture corpus is ~1% of clustered
    * docs at cap = maxFanin/2). What is lost: the exhaustive pair LIST
    * inside oversized buckets. Callers that need the full pair census
    * (e.g. the all-pairs oracle gates) use the uncapped path.
    *
    * Cost shape: the sizing window shuffles only (id, band, bucket)
    * rows; signatures join back against the OVERSIZED subset alone, so
    * the wide (64-long) rows ride a shuffle bounded by the
    * pathological buckets, never the whole exploded relation. The
    * sized relation is PINNED for the build: four branches consume it
    * (both sides of the small-bucket self-join, the star filter, the
    * chain filter), and without the pin each branch re-ran the explode
    * + sizing window from the scan — 5 Window nodes in the executed
    * chain, measured ~2 s of pure recompute per gate pass at sf0.1.
    *
    * Returns a PERSISTED, materialized frame — the caller owns the
    * cache ([[Caching.handOff]] contract): `.unpersist()` when done in
    * a long-lived session.
    */
  def cappedCandidatePairs(signed: DataFrame, idCol: String, cap: Long,
      groupCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cap >= 2, s"cap must be >= 2, got $cap")
    val gcols = groupCols.map(col)
    val exploded = signed
      .select(col(idCol) +: gcols :+ explode(bandKeys).as("bk"): _*)
      .select(col(idCol) +: gcols :+ col("bk.band") :+ col("bk.bucket"): _*)
    val w = Window.partitionBy(col("band") +: col("bucket") +: gcols: _*)
    val sized = exploded
      .withColumn("_sz", count(lit(1)).over(w))
      .withColumn("_ctr", min(col(idCol)).over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val small = sized.filter(col("_sz") <= cap).drop("_sz", "_ctr")
      val a = small.select(col(idCol).as("id_a") +: gcols :+ col("band") :+ col("bucket"): _*)
      val b = small.select(col(idCol).as("id_b") +: gcols :+ col("band") :+ col("bucket"): _*)
      val smallPairs = a.join(b, Seq("band", "bucket") ++ groupCols)
        .filter(col("id_a") < col("id_b"))
        .select("id_a" +: "id_b" +: groupCols map col: _*)
      val big = sized.filter(col("_sz") > cap)
      // star: center = bucket min id, so id_a < id_b holds by construction
      val starPairs = big.filter(col(idCol) =!= col("_ctr"))
        .select(col("_ctr").as("id_a") +: col(idCol).as("id_b") +: gcols: _*)
      // chain: consecutive members in (sig, id) order — signatures join
      // back against the oversized rows only (see cost shape above)
      val wOrd = Window.partitionBy(col("band") +: col("bucket") +: gcols: _*)
        .orderBy(col("sig"), col(idCol))
      val chainPairs = big.drop("_sz", "_ctr")
        .join(signed.select(col(idCol), col("sig")), Seq(idCol))
        .withColumn("_prev", lag(col(idCol), 1).over(wOrd))
        .filter(col("_prev").isNotNull)
        .select(least(col("_prev"), col(idCol)).as("id_a") +:
          greatest(col("_prev"), col(idCol)).as("id_b") +: gcols: _*)
      Caching.handOff(
        smallPairs.unionByName(starPairs).unionByName(chainPairs).distinct())
    } finally { sized.unpersist(blocking = false); () }
  }

  /** Diagnostic census of the LSH band buckets: one row per
    * (band, bucket[, groupCols…]) with its fan-in (documents landing
    * in that bucket). The per-band candidate-join volume is exactly
    * Σ fanin·(fanin−1)/2 over this relation, so the census is the
    * operational monitor for the "bucket-bounded, never all-pairs"
    * scale contract: a bucket whose fan-in approaches the corpus size
    * means degenerate signatures (e.g. empty documents) and a
    * quadratic join ahead — alert BEFORE running the join. One
    * explode + one map-side-combined count; no joins, no collect.
    */
  def bandBucketCensus(signed: DataFrame, idCol: String,
      groupCols: Seq[String] = Nil): DataFrame = {
    val gcols = groupCols.map(col)
    signed
      .select(col(idCol) +: gcols :+ explode(bandKeys).as("bk"): _*)
      .groupBy(col("bk.band").as("band") +: col("bk.bucket").as("bucket") +: gcols: _*)
      .agg(count(lit(1)).as("fanin"))
  }

  /** Exact Jaccard verification of candidate pairs against word sets —
    * shared by the symmetric ([[exactVerify]]) and incremental
    * ([[deltaPairsSigned]]) paths. Each side's word set joins on its
    * id key; `jac = |a ∩ b| / |a ∪ b|` keeps pairs at or above
    * `threshold`. Exact by construction: every candidate is verified
    * by set intersection, with no signature pre-filter.
    *
    * Both lookups are plain equi-joins on id: Spark hash-partitions
    * the candidates and the (id → wset) relation on the same key, so
    * the verify scales with the corpus instead of requiring the whole
    * corpus's word sets to fit in one executor's memory (a broadcast
    * here is a scale-killer — the "small" side IS the corpus). Each
    * join carries only the id keys, the carried columns and one word
    * set per side. Each signed relation is read once per side, so
    * callers keep it persisted or materialized (the production shape).
    */
  private def verifyExact(cands: DataFrame,
      left: DataFrame, leftIdIn: String, leftKey: String,
      right: DataFrame, rightIdIn: String, rightKey: String,
      threshold: Double, carryCols: Seq[String] = Nil): DataFrame =
    cands.select(col(leftKey) +: col(rightKey) +: carryCols.map(col): _*)
      .join(left.select(col(leftIdIn).as(leftKey), col("wset").as("set_a")),
        Seq(leftKey))
      .join(right.select(col(rightIdIn).as(rightKey), col("wset").as("set_b")),
        Seq(rightKey))
      .withColumn("n_common", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jac", col("n_common").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("n_common")))
      .filter(col("jac") >= threshold)
      .select(col(leftKey) +: col(rightKey) +: col("jac") +: carryCols.map(col): _*)

  def exactVerify(signed: DataFrame, cands: DataFrame, idCol: String,
      threshold: Double, carryCols: Seq[String] = Nil): DataFrame =
    verifyExact(cands, signed, idCol, "id_a", signed, idCol, "id_b",
      threshold, carryCols)

  /** Exact Jaccard verification of candidates against word sets.
    * `groupCols` scope the dedup to same-group pairs (see
    * candidatePairs) and appear in the output.
    */
  def verifiedPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, seed: Long = 1234L,
      groupCols: Seq[String] = Nil): DataFrame = {
    val signed = withSignature(df, textCol, seed).persist()
    try verifiedPairsSigned(signed, idCol, threshold, groupCols)
    finally signed.unpersist(blocking = false)
  }

  /** verifiedPairs over an ALREADY-signed relation (idCol, wset, sig)
    * — the production shape: signatures are materialized once at
    * ingest (a table) and every near-dup consumer reads them instead
    * of re-shingling the corpus.
    */
  def verifiedPairsSigned(signed: DataFrame, idCol: String, threshold: Double,
      groupCols: Seq[String] = Nil): DataFrame = {
    val out = exactVerify(signed, candidatePairs(signed, idCol, groupCols),
      idCol, threshold, carryCols = groupCols)
    // materialize eagerly so any upstream signature cache can be
    // released; the (bounded) pair set is what stays cached — the
    // caller owns it (Caching.handOff contract)
    Caching.handOff(out)
  }

  // ---- duplicate clusters (connected components) -------------------------

  /** Collapse a near-dup PAIR list into duplicate CLUSTERS: every id
    * is labeled with the MINIMUM id reachable from it — the cluster's
    * canonical representative (keep that one, drop the rest).
    *
    * Min-label propagation WITH pointer halving: each round joins the
    * symmetric edge list against current labels, takes the elementwise
    * min, then follows the resulting label one hop through the label
    * table (labels are node ids, so label(label(x)) is a reachable,
    * smaller-or-equal representative — the path-halving step of
    * MapReduce connected components). Convergence needs O(log
    * diameter) rounds: clique-like dup clusters finish in 2-3 as
    * before, and CHAIN-shaped components (gradual template mutation —
    * real at corpus scale, and exactly what the capped candidate
    * path's chain edges produce) finish in ~log₂(len) instead of one
    * shuffle per link. The per-round plan is all hash-partitioned
    * joins/aggs that scale with the pair list, never O(n²). Iteration
    * stops as soon as a round changes nothing (checked by count, cheap
    * against the persisted labels).
    *
    * Returns (id, cluster) for every id that appears in `pairs`. On
    * the distributed path the returned frame reads the FINAL label
    * snapshot from executor storage (one pinned RDD); Spark's
    * ContextCleaner unpersists it automatically once the caller drops
    * the last reference — the intermediate rounds' snapshots are
    * released eagerly inside the loop. Pair graphs under the local cap
    * (see below) are union-found in-process instead — same labels,
    * none of the per-round fixed cost.
    */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 20,
      localEdgeCap: Long = 2000000L): DataFrame = {
    // SIZE-GATED LOCAL PATH: the iterative loop pays O(log diameter)
    // rounds of driver planning + 5 exchanges each — a fixed cost that
    // dwarfs the actual work when the pair graph is small (measured on
    // this box: 11.9 s for the 965k-edge fixture graph whose per-round
    // joins total < 2 s). A pair list that fits one process is the
    // SAME size contract as a broadcast-join build side, so below
    // `localEdgeCap` (default 2M edges ≈ 32 MB of ids, 0 disables) the
    // components are union-found locally — bit-identical labels (min
    // reachable id, verified by DedupSpec against the distributed
    // path), one bounded collect via limit(cap+1) so an over-cap graph
    // costs one aborted partial scan, never an unbounded driver pull.
    // At lake scale the graph exceeds the cap and the distributed loop
    // below runs unchanged.
    // null-id pairs are dropped on BOTH paths: the distributed loop's
    // equi-joins never match them anyway, so filtering up front makes
    // the local path's semantics identical instead of hard-failing on
    // an edge the distributed path would silently ignore
    val cleanPairs = pairs.filter(col(idA).isNotNull && col(idB).isNotNull)
    val idType = pairs.schema(idA).dataType
    val localable = localEdgeCap > 0 && idType == pairs.schema(idB).dataType &&
      (idType == org.apache.spark.sql.types.LongType ||
        idType == org.apache.spark.sql.types.IntegerType ||
        idType == org.apache.spark.sql.types.StringType)
    // clamp before the Int conversion: a cap above Int.MaxValue-1 must
    // mean "collect up to the probe bound", not overflow into a
    // negative limit
    val probe = math.min(localEdgeCap, Int.MaxValue - 1L).toInt + 1
    val localEdges = if (!localable) null
      else cleanPairs.select(col(idA), col(idB)).limit(probe).collect()
    if (localEdges != null && localEdges.length < probe)
      localClusters(pairs.sparkSession, localEdges, idType)
    else distributedClusters(cleanPairs, idA, idB, maxIter)
  }

  /** Local union-find over a bounded edge list: roots are kept at the
    * component MINIMUM (union attaches the larger root under the
    * smaller), so the final root of every node IS the min reachable id
    * — exactly the distributed loop's label. Output order is sorted by
    * id for determinism; the frame is parallelized so downstream joins
    * see normal partitioning.
    */
  private def localClusters(spark: org.apache.spark.sql.SparkSession,
      edges: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    // StringType compares in UTF-8 BYTE order (UTF8String.compareTo),
    // matching the distributed loop's least()/min over Spark's binary
    // string ordering — java.lang.String's UTF-16 code-unit order
    // diverges on supplementary-plane ids (e.g. emoji in corpus keys)
    val ord: Ordering[Any] = (idType match {
      case org.apache.spark.sql.types.LongType => Ordering.Long
      case org.apache.spark.sql.types.IntegerType => Ordering.Int
      case _ => new Ordering[String] {
        def compare(a: String, b: String): Int =
          org.apache.spark.unsafe.types.UTF8String.fromString(a)
            .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
      }
    }).asInstanceOf[Ordering[Any]]
    val index = new java.util.HashMap[Any, Integer](edges.length * 2)
    val values = new scala.collection.mutable.ArrayBuffer[Any](edges.length)
    def idx(v: Any): Int = {
      val got = index.get(v)
      if (got ne null) got.intValue
      else { index.put(v, Integer.valueOf(values.length)); values += v; values.length - 1 }
    }
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { r =>
      // nulls were filtered by the caller (duplicateClusters)
      val a = idx(r.get(0)); val b = idx(r.get(1))
      while (parent.length < values.length) parent += parent.length
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // keep the smaller VALUE as the root
        if (ord.lt(values(ra), values(rb))) parent(rb) = ra
        else parent(ra) = rb
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster", idType, nullable = false)))
    val rows = values.indices.map { i =>
      org.apache.spark.sql.Row(values(i), values(find(i)))
    }.sortBy(_.get(0))(ord)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows,
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          rows.length / 10000 + 1))),
      schema)
  }

  private def distributedClusters(pairs: DataFrame, idA: String,
      idB: String, maxIter: Int): DataFrame =
    // The loop re-plans the SAME static join/agg shape every round;
    // under AQE each round additionally pays stage-by-stage driver
    // re-optimization that buys nothing here (edges pre-partitioned,
    // labels' width fixed) — measured 20.2 s → 11.9 s on the 965k-pair
    // fixture graph with identical labels. So the loop runs on a clone
    // of the caller's session with AQE off, and the labels it returns
    // are handed back on the caller's session.
    graft.Sessions.isolated(pairs.sparkSession, "spark.sql.adaptive.enabled" -> "false") { spark =>
      val labels = propagateLabels(GraftSession.rebind(pairs, spark), idA, idB, maxIter)
      GraftSession.rebind(labels, pairs.sparkSession)
    }

  private def propagateLabels(pairs: DataFrame, idA: String,
      idB: String, maxIter: Int): DataFrame = {
    // Pre-partition AND pre-sort the (large) edge list on the join key
    // once: the cached plan's partitioning/ordering survive into every
    // round's join, so the edge side of the propagation join never
    // re-shuffles or re-sorts — each round moves only label-sized data.
    // (labels come out of localCheckpoint with unknown stats, so
    // without this the planner would sort-merge the FULL edge list
    // from scratch every iteration.)
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
      .union(pairs.select(col(idB).as("src"), col(idA).as("dst")))
      .distinct()
      .repartition(col("src"))
      .sortWithinPartitions("src")
      .persist()
    // Per-round lineage cut: `next` references the previous labels
    // twice, so without truncation the logical plan doubles every
    // iteration and the driver drowns in plan analysis long before
    // executors do any work. The cut pins the round's label RDD and
    // rebuilds a leaf DataFrame over it — NOT localCheckpoint, whose
    // pinned blocks Dataset.unpersist cannot release (it only consults
    // the CacheManager): with the explicit RDD handle the previous
    // snapshot is truly freed each round, so at most two label
    // snapshots are ever pinned even on a deep chain-shaped graph.
    val spark = pairs.sparkSession
    def pin(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
      val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (spark.createDataFrame(rdd, df.schema), rdd)
    }
    var (labels, labelsRdd) = pin(edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // min neighbor label per node, elementwise min with own label,
      // and the convergence flag — all in ONE pass over the edges (no
      // separate old-vs-new diff join).
      val nbrMin = edges.join(labels, edges("src") === labels("id"))
        .groupBy(col("dst").as("id")).agg(min("cluster").as("_nbr"))
      // POINTER HALVING on top of the propagation: a label is itself a
      // node id, so following it one hop (cluster ← label(cluster),
      // against the PREVIOUS snapshot — still a reachable id, still
      // monotone) contracts label chains geometrically. Plain min-label
      // propagation needs O(diameter) rounds — fine for clique-like dup
      // clusters (diameter 2-3) but a scale-killer on CHAIN-shaped
      // components (gradual template drift: a 200-doc mutation chain is
      // 200 shuffles); with the hop it is O(log diameter). One extra
      // label-sized join per round against the pinned snapshot.
      val prev = labels.select(col("id").as("_pid"), col("cluster").as("_plbl"))
      val (next, nextRdd) = pin(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("cluster").as("_old"),
          least(col("cluster"), coalesce(col("_nbr"), col("cluster"))).as("_prop"))
        .join(prev, col("_prop") === col("_pid"), "left")
        .select(col("id"),
          least(col("_prop"), coalesce(col("_plbl"), col("_prop"))).as("cluster"),
          (least(col("_prop"), coalesce(col("_plbl"), col("_prop"))) < col("_old"))
            .as("_changed")))
      val changed = next.filter(col("_changed")).limit(1).count()
      // the previous snapshot is no longer referenced — release it
      labelsRdd.unpersist(blocking = false)
      labels = next.select("id", "cluster")
      labelsRdd = nextRdd
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"duplicateClusters: not converged after $maxIter rounds — a component " +
          s"with diameter > $maxIter is still split; raise maxIter for chain-shaped graphs")
    edges.unpersist(blocking = false)
    labels
  }

  /** Incremental dedup: near-dup pairs between a NEW batch and the
    * EXISTING corpus only — the production mode at lake scale, where
    * re-pairing the corpus against itself for every arriving batch
    * would be quadratic in deliveries. The band join is asymmetric
    * (delta side ⋈ corpus side), so corpus-internal pairs are never
    * generated at all, and the per-bucket work is |delta ∩ bucket| ·
    * |corpus ∩ bucket| instead of the full bucket square.
    *
    * Returns (id_delta, id_corpus, jac) for pairs with Jaccard ≥
    * threshold. Both inputs must carry `idCol` + `textCol`; ids may
    * overlap between the two relations (they are distinct keyspaces in
    * the output).
    */
  def deltaPairs(delta: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, threshold: Double, seed: Long = 1234L): DataFrame = {
    val sd = withSignature(delta, textCol, seed).persist()
    val sc = withSignature(corpus, textCol, seed).persist()
    try deltaPairsSigned(sd, sc, idCol, threshold)
    finally {
      sd.unpersist(blocking = false)
      sc.unpersist(blocking = false)
    }
  }

  /** deltaPairs over ALREADY-signed relations — pairs with
    * `verifiedPairsSigned`: a materialized signature table serves both
    * the symmetric and the incremental dedup without re-shingling.
    * Returns a persisted frame; the CALLER owns that cache
    * (Caching.handOff contract) — `.unpersist()` when done.
    */
  def deltaPairsSigned(sd: DataFrame, sc: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    val a = sd.select(col(idCol).as("id_delta"), explode(bandKeys).as("bk"))
      .select(col("id_delta"), col("bk.band"), col("bk.bucket"))
    val b = sc.select(col(idCol).as("id_corpus"), explode(bandKeys).as("bk"))
      .select(col("id_corpus"), col("bk.band"), col("bk.bucket"))
    val cands = a.join(b, Seq("band", "bucket"))
      .select("id_delta", "id_corpus").distinct()
    Caching.handOff(verifyExact(cands, sd, idCol, "id_delta",
      sc, idCol, "id_corpus", threshold))
  }

  /** The removal step over a PRE-COMPUTED cluster assignment
    * (id, cluster) — the lake-production shape: the label table is
    * materialized once (it IS the dedup product) and removal,
    * reporting, and audits all consume it instead of re-running the
    * propagation. One anti-join of the corpus against the
    * non-canonical label rows — both sides hash-partitioned on id.
    */
  def keepCanonicalLabeled(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    val drop = clusters.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** SOFT dedup over a pre-computed cluster assignment: instead of
    * dropping duplicates, every document is kept and DOWNWEIGHTED by
    * its duplicate multiplicity — `weight_x1e6` = 1e6 div
    * cluster_size (unclustered documents weigh 1e6) — so a training
    * loader samples each CONTENT equally no matter how many copies
    * the crawl carried. The drop-vs-downweight choice is the modern
    * dedup tradeoff: hard removal loses the natural frequency signal
    * entirely, soft weighting preserves it at tunable strength; this
    * is the weight-1/n endpoint, and Σ weight_x1e6 is the effective
    * (deduplicated) corpus size ×1e6 — exact integers throughout.
    *
    * Scale shape: one cluster-keyed agg over the (id, cluster) label
    * relation + one id-keyed left join back — both hash-partitioned,
    * no corpus self-join, reusing the materialized dedup product like
    * [[keepCanonicalLabeled]].
    */
  def softWeights(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    val sizes = clusters
      .join(clusters.groupBy("cluster").agg(count(lit(1)).as("_sz")),
        Seq("cluster"))
      .select(col("id").as(idCol), col("_sz"))
    df.join(sizes, Seq(idCol), "left")
      .withColumn("cluster_size", coalesce(col("_sz"), lit(1L)))
      .withColumn("weight_x1e6", expr("1000000 div cluster_size"))
      .drop("_sz")
  }

  /** Removal straight from the pair graph: label-propagates first,
    * then keeps each cluster's canonical (minimum-id) representative
    * plus every unclustered document.
    */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    val drop = duplicateClusters(pairs, idA, idB)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** QUALITY-ranked removal: keep each duplicate cluster's
    * highest-`scoreCol` member (score tie → smaller id, fully
    * deterministic) plus every unclustered document — what curation
    * actually wants when a quality score exists: the min-id canonical
    * is arbitrary, while this keeps the best-written duplicate.
    *
    * Shape: clusters ⋈ corpus on id (both hash-partitioned on the
    * key), ONE per-cluster max-struct aggregation (cluster count
    * rows; (−score, id) packed so a single min picks the winner), and
    * a semi-join back — no window over the corpus, no driver state.
    */
  def keepBestLabeled(df: DataFrame, idCol: String, scoreCol: String,
      clusters: DataFrame): DataFrame = {
    val scored = df.select(col(idCol).as("id"),
      col(scoreCol).cast("double").as("_score"))
      .join(clusters, Seq("id")) // clustered rows only
    // winner per cluster = max (score, -id): struct min over
    // (-score, id) gives (highest score, then smallest id). A null
    // score would sort BEFORE every real value in the struct compare
    // (inverting "keep the best"), so it maps to +Inf: a null-score
    // member wins only when the whole cluster is unscored.
    val winners = scored
      .groupBy("cluster")
      .agg(min(struct(coalesce(-col("_score"), lit(Double.PositiveInfinity)).as("s"),
          col("id").as("i")))
        .getField("i").as("id"))
    // drop set = clustered ids minus the winners; one anti-join keeps
    // winners AND every unclustered document in a single pass
    val losers = clusters.select(col("id"))
      .join(winners.select(col("id")), Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ---- SimHash -----------------------------------------------------------

  /** Default word hash: XXH3-64 (fast, high quality). Named enum
    * members, not closures — see [[graft.core.WordHash]].
    */
  val xxh3WordHash: graft.core.WordHash = graft.core.WordHash.Xxh3

  /** MD5-nibble word hash — SQL-oracle-reproducible
    * ([[graft.core.WordHash.Md5]]).
    */
  val md5WordHash: graft.core.WordHash = graft.core.WordHash.Md5

  /** 64-bit SimHash over the word multiset: bit i of the fingerprint
    * is the sign of Σ_words (±1 by bit i of `wordHash(word)`, XXH3-64
    * by default). Hamming-near fingerprints ⇒ similar documents.
    * Bucketing on 16-bit chunks gives candidates for hamming ≤ 3
    * verification (any pair within distance 3 shares at least one of
    * 4 intact chunks).
    */
  def simHash(words: Seq[String], wordHash: graft.core.WordHash = xxh3WordHash): Long = {
    val v = new Array[Int](64)
    words.foreach { w =>
      val h = wordHash(w)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) v(i) += 1 else v(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (v(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** The md5 simhash as a UDF-free COLUMN PROGRAM, bit-for-bit equal
    * to `simHash(words, md5WordHash)` (spec-asserted). The word hash's
    * bit 4j+b is bit b of md5 hex char j, so parsing the REVERSED
    * 8-char hex halves yields exactly the lo/hi 32-bit words
    * (parse(reverse(s))[bit 4m+b] = char m's bit b).
    *
    * Shape: explode to (id, word), then ONE wide HashAggregate with 64
    * codegen'd bit-sums and the majority vote folded back into a
    * 64-bit fingerprint. The explode adds a shuffle on the id, but
    * map-side partial aggregation reduces it to one 64-long row per
    * (id, partition) — corpus-linear. The measured alternative (a
    * per-row `aggregate`/`zip_with` accumulator, no shuffle) is ~10×
    * SLOWER: higher-order functions don't enter whole-stage codegen,
    * so every word paid a 64-wide interpreted fold. Returns
    * (idCol, simhash).
    */
  def md5SimHashById(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df
      .filter(col(textCol).isNotNull)
      .select(col(idCol),
        explode(array_distinct(split(trim(col(textCol)), " "))).as("_w"))
    val m = md5(col("_w"))
    val lo = conv(reverse(substring(m, 1, 8)), 16, 10).cast("long")
    val hi = conv(reverse(substring(m, 9, 8)), 16, 10).cast("long")
    val bitSums = (0 until 64).map { i =>
      val half = if (i < 32) lo else hi
      sum(shiftrightunsigned(half, i % 32).bitwiseAND(lit(1L))).as(s"_b$i")
    }
    val fingerprint = (0 until 64)
      .map(i => when(col(s"_b$i") * 2 > col("_n"),
        shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    words.groupBy(col(idCol))
      .agg(count(lit(1)).as("_n"), bitSums: _*)
      .select(col(idCol), fingerprint.as("simhash"))
  }

  def withSimHash(df: DataFrame, textCol: String,
      wordHash: graft.core.WordHash = xxh3WordHash): DataFrame =
    // null-text guard kept: the expression is null-safe, but a null
    // text must contribute no signature row at all
    df.filter(col(textCol).isNotNull)
      .withColumn("simhash", graft.functions.CentroidExpressions.simHash(
        array_distinct(split(trim(col(textCol)), " ")), wordHash))

  // ---- embedding-cosine near-dup ----------------------------------------

  /** Random-hyperplane (sign-LSH) signature for embedding vectors:
    * bit i = sign(v · plane_i); P(bits agree) = 1 − θ/π. Candidates
    * from band buckets, then EXACT cosine verification — the
    * embedding analogue of the MinHash pipeline (same guarantee
    * shape: banding generates candidates, verification is exact).
    *
    * Band geometry trades recall for selectivity. The 8×8 DEFAULT
    * favors small buckets and is a partial-recall sweep setting
    * (at cos ≥ 0.95 each 8-bit band matches with p ≈ 0.88⁸ ≈ 0.36,
    * so recall ≈ 1 − (1 − 0.36)⁸ ≈ 0.97 — lower as cos → threshold).
    * For recall ≈ 1 at cos ≥ 0.95 pass bands = 16, bitsPerBand = 4.
    */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, seed: Long = 99L,
      bands: Int = 8, bitsPerBand: Int = 8): DataFrame = {
    require(bands * bitsPerBand <= 64)
    // band geometry trades recall for selectivity: 16×4 ⇒ recall ≈ 1
    // at cos ≥ 0.95; 8×8 ⇒ far smaller buckets for low-threshold
    // sweeps where partial recall is acceptable
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(64, dim)(rnd.nextGaussian())
    val signed = df.withColumn("_sig",
      graft.functions.CentroidExpressions.signLsh(col(vecCol), planes)).persist()
    try {
    val mask = (1L << bitsPerBand) - 1
    val chunks = array((0 until bands).map(c =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("_sig"), c * bitsPerBand).bitwiseAND(lit(mask)).as("key"))): _*)
    val exploded = signed.select(col(idCol), explode(chunks).as("ck"))
      .select(col(idCol), col("ck.chunk"), col("ck.key"))
    val a = exploded.select(col(idCol).as("id_a"), col("chunk"), col("key"))
    val b = exploded.select(col(idCol).as("id_b"), col("chunk"), col("key"))
    val cands = a.join(b, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val out = exactCosineVerify(signed, cands, idCol, vecCol, threshold)
    Caching.handOff(out)
    } finally signed.unpersist(blocking = false)
  }

  /** Exact cosine verification of candidate pairs — plain equi-joins
    * on id (NOT a broadcast of the vector relation: the "small" side
    * is the whole corpus's vectors, which must stay partitioned).
    */
  def exactCosineVerify(vectors: DataFrame, cands: DataFrame, idCol: String,
      vecCol: String, threshold: Double): DataFrame = {
    val vecs = vectors.select(col(idCol), col(vecCol))
    cands
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("v_a")), Seq("id_a"))
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("v_b")), Seq("id_b"))
      .withColumn("cos", Ann.cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  // ---- semantic dedup (SemDeDup) ----------------------------------------

  /** Which member of a semantic-duplicate pair survives. */
  sealed trait SemKeep extends Serializable
  object SemKeep {
    /** Paper default: drop the member MORE similar to its cluster
      * centroid (redundant core points go, informative outliers stay).
      */
    case object Low extends SemKeep
    /** Drop the member LESS similar to the centroid (keeps the
      * prototypical core — useful when curating for canonical examples).
      */
    case object High extends SemKeep
    /** Deterministic stand-in for the paper's keep-random baseline:
      * drop the member with the larger 64-bit id hash. Reproducible
      * across retries/layouts, uniform over the pair.
      */
    case object Random extends SemKeep
  }

  /** What to do with clusters larger than `maxClusterSize`. */
  sealed trait OversizedClusters extends Serializable
  object OversizedClusters {
    /** Fail loudly naming the offending cluster — oversized clusters
      * mean the clustering's k was mis-chosen and the Σ|cluster|² pair
      * contract is void; the fix belongs upstream.
      */
    case object Reject extends OversizedClusters
    /** Sub-split oversized clusters into ⌈size/maxClusterSize⌉ salt
      * buckets by id hash. Bucket sizes are multinomial, so the
      * per-task bound holds in EXPECTATION (E[bucket] = maxClusterSize
      * with tight concentration at curation scales), not as a hard
      * cap — an adversarial id set can still load one bucket past the
      * limit. The trade is recall: pairs across salt buckets of the
      * SAME oversized cluster are not compared (within such a cluster
      * recall ≈ 1/buckets). A safety valve for degenerate embedding
      * pockets, not the quality path — prefer re-clustering (and the
      * default `Reject` is the strict contract).
      */
    case object SaltSplit extends OversizedClusters
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): within each cluster of the
    * embedding space, documents whose pairwise cosine exceeds
    * `threshold` are semantic duplicates; of each duplicate pair the
    * member chosen by `keep` is dropped (default `SemKeep.Low`, the
    * paper's keep-low-centroid-similarity policy), centroid-similarity
    * ties broken toward keeping the smaller id. A document survives
    * iff it loses no pair.
    *
    * `clusterCol` is a caller-provided partition of the corpus (the
    * paper uses k-means — compose with `Ann.kmeansCentroids` +
    * `Ann.withCell`; any bounded-size clustering works). Scale shape:
    * centroids are one tiny k-row relation (broadcast back); the
    * pairwise comparison is scoped per cluster by an equi-join on the
    * cluster key, so the cost is Σ|cluster|² — the SemDeDup design
    * point — and the O(n²) all-pairs never materializes. No
    * driver-side corpus state: the per-cluster centroids stay a
    * (broadcast-sized) DataFrame.
    *
    * The Σ|cluster|² contract is ENFORCED, not assumed: any cluster
    * with more than `maxClusterSize` rows would make a single pair
    * task quadratic (one degenerate embedding pocket at corpus scale
    * is enough), so such clusters either fail loudly
    * (`OversizedClusters.Reject`, default — the hard guarantee) or
    * are salt-split into sub-buckets whose size is bounded in
    * expectation (`OversizedClusters.SaltSplit`, trading recall
    * inside the oversized cluster for boundedness; see its doc for
    * the multinomial caveat).
    *
    * Centroid similarity is rounded to `csimDecimals` before
    * comparison so the keep decision never hinges on sub-rounding
    * float noise in the centroid average.
    *
    * Returns the SURVIVING rows of `df`, all columns intact. The
    * result is persisted (it must be materialized before the internal
    * scored relation is released); the CALLER owns that cache — call
    * `.unpersist()` when done with it in long-lived sessions.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, threshold: Double,
      csimDecimals: Int = 4,
      keep: SemKeep = SemKeep.Low,
      maxClusterSize: Int = 100000,
      oversized: OversizedClusters = OversizedClusters.Reject): DataFrame = {
    require(maxClusterSize >= 2, s"maxClusterSize must be >= 2, got $maxClusterSize")
    // per-cluster centroid: (cluster, pos) mean, re-assembled into an
    // ordered array — k rows, corpus-independent. The per-position
    // row count doubles as the cluster size (one posexplode row per
    // vector element), so the size guard costs no extra scan.
    val cents = df
      .select(col(clusterCol).as("_cl"), posexplode(col(vecCol)).as(Seq("_p", "_x")))
      .groupBy("_cl", "_p").agg(avg("_x").as("_mx"), count(lit(1)).as("_n"))
      .groupBy("_cl")
      .agg(transform(array_sort(collect_list(struct(col("_p"), col("_mx")))),
        s => s.getField("_mx")).as("_cent"),
        max("_n").as("_sz"))
      .persist()
    try {
      if (oversized == OversizedClusters.Reject) {
        val bad = cents.filter(col("_sz") > maxClusterSize)
          .select("_cl", "_sz").orderBy(col("_sz").desc).take(1)
        if (bad.nonEmpty) throw new IllegalStateException(
          s"semDedup: cluster ${bad(0).get(0)} has ${bad(0).getLong(1)} rows " +
            s"(maxClusterSize=$maxClusterSize); pair fan-in is quadratic in " +
            "cluster size, so an oversized cluster voids the Sigma-cluster^2 " +
            "scale contract. Re-cluster with a larger k, raise maxClusterSize, " +
            "or pass oversized=OversizedClusters.SaltSplit to trade recall " +
            "for boundedness.")
      }
      val scored0 = df
        .select(col(idCol).as("_id"), col(clusterCol).as("_cl"), col(vecCol).as("_v"))
        .join(broadcast(cents), Seq("_cl"))
        .withColumn("_csim", round(Ann.cosine(col("_v"), col("_cent")), csimDecimals))
      // salt sub-split: ⌈size/max⌉ buckets per cluster (1 for every
      // bounded cluster — salt 0, semantics unchanged), id-hash keyed
      // so even a cluster of bit-identical vectors splits
      val (scored, pairKey) = oversized match {
        case OversizedClusters.SaltSplit =>
          (scored0
            .withColumn("_salt", pmod(xxhash64(col("_id")),
              greatest(lit(1L), ceil(col("_sz") / lit(maxClusterSize.toDouble)).cast("long"))))
            .select("_cl", "_salt", "_id", "_v", "_csim").persist(),
            Seq("_cl", "_salt"))
        case OversizedClusters.Reject =>
          (scored0.select("_cl", "_id", "_v", "_csim").persist(), Seq("_cl"))
      }
      try {
        val right = scored.select(
          (pairKey.map(col) :+ col("_id").as("_id_b") :+
            col("_v").as("_v_b") :+ col("_csim").as("_csim_b")): _*)
        val loser = keep match {
          case SemKeep.Low =>
            when(col("_csim_a") > col("_csim_b"), col("_id_a"))
              .when(col("_csim_b") > col("_csim_a"), col("_id_b"))
              .otherwise(col("_id_b")) // csim tie: keep the smaller id
          case SemKeep.High =>
            when(col("_csim_a") < col("_csim_b"), col("_id_a"))
              .when(col("_csim_b") < col("_csim_a"), col("_id_b"))
              .otherwise(col("_id_b"))
          case SemKeep.Random =>
            when(xxhash64(col("_id_a")) > xxhash64(col("_id_b")), col("_id_a"))
              .otherwise(col("_id_b"))
        }
        val losers = scored
          .select(
            (pairKey.map(col) :+ col("_id").as("_id_a") :+
              col("_v").as("_v_a") :+ col("_csim").as("_csim_a")): _*)
          .join(right, pairKey)
          .filter(col("_id_a") < col("_id_b"))
          .filter(Ann.cosine(col("_v_a"), col("_v_b")) >= threshold)
          .select(loser.as(idCol))
          .distinct()
        val kept = df.join(losers, Seq(idCol), "left_anti")
        // consume `scored` fully before releasing it
        Caching.handOff(kept)
      } finally { scored.unpersist(blocking = false); () }
    } finally { cents.unpersist(blocking = false); () }
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming (≤ 3
    * guaranteed complete via 4-chunk bucketing; pigeonhole).
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3,
      wordHash: graft.core.WordHash = xxh3WordHash): DataFrame = {
    require(maxHamming <= 3, "4-chunk bucketing only guarantees hamming <= 3")
    // the md5 hash is SQL-expressible, so its fingerprint computes as a
    // UDF-free codegen'd aggregate (and matches the DuckDB oracle)
    val hashed =
      if (wordHash == graft.core.WordHash.Md5) md5SimHashById(df, idCol, textCol)
      else withSimHash(df, textCol, wordHash).select(col(idCol), col("simhash"))
    val chunks = array((0 until 4).map(c =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*)
    val exploded = hashed.select(col(idCol), col("simhash"), explode(chunks).as("ck"))
      .select(col(idCol), col("simhash"), col("ck.chunk"), col("ck.key"))
    val a = exploded.select(col(idCol).as("id_a"), col("simhash").as("sh_a"), col("chunk"), col("key"))
    val b = exploded.select(col(idCol).as("id_b"), col("simhash").as("sh_b"), col("chunk"), col("key"))
    a.join(b, Seq("chunk", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b")).distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // ---- exact substring-level dedup --------------------------------------

  /** Exact SUBSTRING dedup ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022): the third dedup mode between
    * exact-document and near-duplicate. Every `minLen`-token window is
    * keyed by the md5 of its space-joined tokens; windows whose key
    * occurs ≥ `minCount` times CORPUS-WIDE (across documents or
    * repeated within one) are duplicated passages. Flagged window
    * positions are merged into maximal spans per document and the
    * spans are CUT — aggressive remove-all-occurrences policy (the
    * paper's ExactSubstr); compose with [[keepCanonical]] upstream
    * when a canonical copy should survive.
    *
    * Returns one row per input document:
    *   (id, kept text under `outCol`, n_tokens, n_removed, n_spans).
    * Documents shorter than `minLen` tokens pass through untouched.
    *
    * Scale shape (the suffix-array stand-in that fits a cluster): the
    * window relation is corpus-token-sized and shuffles ONCE on the
    * window key (count ≥ minCount is a map-side-combinable agg); the
    * flagged positions shuffle ONCE back onto the document key, where
    * collect_list is bounded by document length; span merging, masking
    * and text rebuild are per-row column programs (aggregate/filter/
    * transform — codegen, no UDF). No driver state, no corpus², and
    * the heavy window relation carries only (id, pos, 16-char 64-bit
    * key). Output text is whitespace-normalized (see [[tokenized]]).
    */
  def exactSubstringDedup(df: DataFrame, idCol: String, textCol: String,
      minLen: Int, minCount: Long = 2L, outCol: String = "kept_text"): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2 tokens, got $minLen")
    require(minCount >= 2, s"minCount must be >= 2 occurrences, got $minCount")
    val withW = tokenized(df, textCol)
    val wins = windowKeys(withW, idCol, minLen)
    val dupKeys = wins.groupBy("_h").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount).select("_h")
    cutFlagged(withW, idCol, wins.join(dupKeys, Seq("_h")), minLen, outCol)
  }

  /** Span-level DECONTAMINATION: cut from `df` every `minLen`-token
    * window that also appears anywhere in `reference` (an eval /
    * benchmark corpus), merged into maximal spans — the surgical
    * variant of [[graft.operators.Curation.decontaminate]], which
    * drops whole documents. Cutting only the contaminated passage
    * keeps the rest of an otherwise-clean document in the training
    * set, the standard practice when eval sets quote fragments of
    * common sources.
    *
    * Returns the same per-document shape as [[exactSubstringDedup]].
    * Scale shape: reference windows are a DISTINCT key relation (no
    * positions, no ids — eval sets are small next to the corpus, but
    * nothing here requires that); one equi-join on the window key +
    * one doc-keyed agg, everything else per-row column programs.
    */
  def cutSharedSubstrings(df: DataFrame, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String, minLen: Int,
      outCol: String = "kept_text"): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2 tokens, got $minLen")
    val withW = tokenized(df, textCol)
    val refKeys = windowKeys(
      tokenized(reference, refTextCol).select(lit(0L).as("_rid"), col("_words"), col("_n")),
      "_rid", minLen).select("_h").distinct()
    cutFlagged(withW, idCol,
      windowKeys(withW, idCol, minLen).join(refKeys, Seq("_h")), minLen, outCol)
  }

  /** Whitespace tokenization on `\s+` (any run of spaces/tabs/newlines
    * is ONE separator). Note the rebuilt `kept_text` re-joins tokens
    * with single spaces, so the operator's output is whitespace-
    * NORMALIZED relative to the input — a documented property, matching
    * how token-level dedup literature treats text.
    */
  private def tokenized(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("_words", graft.core.Text.whitespaceTokens(col(textCol)))
      .withColumn("_n", size(col("_words")))

  /** (id, _pos, _h): 64-bit window key — the first 16 hex chars of the
    * md5 of each minLen-token window's space-joined tokens, anchored at
    * every position. 64 bits (the repo's shingle convention, see
    * [[graft.operators.Curation]]) halve the corpus-token-sized window
    * relation's shuffle width vs full 32-hex md5; collision probability
    * at 10^12 windows is ~2.7e-8 per pair-of-equal-keys event class,
    * negligible next to the minCount>=2 duplication threshold.
    */
  private def windowKeys(withW: DataFrame, idCol: String, minLen: Int): DataFrame =
    withW.filter(col("_n") >= minLen)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, _n - $minLen), i -> substring(md5(concat_ws(' ', slice(_words, i + 1, $minLen))), 1, 16))"
      )).as(Seq("_pos", "_h")))

  /** Merge a document's flagged window positions into maximal [s, e]
    * token intervals and cut them from the text. `flagged` carries
    * (idCol, _pos); collect_list is bounded by document length.
    */
  private def cutFlagged(withW: DataFrame, idCol: String, flagged: DataFrame,
      minLen: Int, outCol: String): DataFrame = {
    val spans = flagged
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("_pos"))).as("_ps"))
      // fold sorted window starts into maximal [s, e] token intervals:
      // a window at p covers [p, p+minLen-1]; overlapping or adjacent
      // (p ≤ last.e + 1) windows extend the open interval
      .withColumn("_iv", expr(
        s"""aggregate(_ps,
           |  cast(array() as array<struct<s: int, e: int>>),
           |  (acc, p) -> CASE
           |    WHEN size(acc) > 0 AND p <= element_at(acc, -1).e + 1
           |    THEN concat(slice(acc, 1, size(acc) - 1),
           |                array(named_struct('s', element_at(acc, -1).s,
           |                                   'e', greatest(element_at(acc, -1).e, p + $minLen - 1))))
           |    ELSE concat(acc, array(named_struct('s', p, 'e', p + $minLen - 1)))
           |  END)""".stripMargin))
      .select(col(idCol), col("_iv"))
    withW.join(spans, Seq(idCol), "left")
      .withColumn("_kept", when(col("_iv").isNull, col("_words")).otherwise(
        expr("transform(filter(transform(_words, (w, i) -> named_struct('w', w, 'i', i)), " +
          "s -> NOT exists(_iv, v -> s.i >= v.s AND s.i <= v.e)), s -> s.w)")))
      .select(
        col(idCol),
        concat_ws(" ", col("_kept")).as(outCol),
        col("_n").as("n_tokens"),
        (col("_n") - size(col("_kept"))).as("n_removed"),
        coalesce(size(col("_iv")), lit(0)).as("n_spans"))
  }
}
