package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSession

import graft.operators.{Ann, CountMin, Dedup, Frequency, IvfIndex, Kmv, Multimodal, SketchRollup}

/** Gate queries for the scale extensions: MinHash-LSH / SimHash dedup,
  * IVF ANN, sketches, heavy hitters, multimodal binary plumbing —
  * every one DuckDB-oracled (LSH + exact verify ⇒ all-pairs Jaccard;
  * IVF at nprobe=C ⇒ exact top-k; simhash/byte stubs reproduced in
  * SQL bit-for-bit).
  */

object ExtOps {
  import Tables._

  // The verified near-dup pair graph at threshold 0.9 is the single
  // heaviest derivation in the suite AND the input to nine gates.
  // Materialize it to parquet once per (JVM, sfDir) — the production
  // shape (the pair list IS a table downstream jobs consume) — so the
  // clusters gate reads the pair relation instead of re-running the
  // whole LSH pipeline.
  private[graft] val pairsSetup = graft.SparkEntry.SetupTask("setup_dedup_pairs",
    Set("q_dedup_minhash", "q_dedup_clusters", "q_dedup_capped", "q_dedup_soft",
      "q_dedup_remove", "q_dedup_keep_best", "q_split_leakage", "q_dedup_delta",
      "q_jaccard_pairs"),
    (s, d, out) => {
      // The source table is ONE small parquet file (one row group), so
      // every scan gets exactly ONE input partition and the whole
      // signature computation + LSH band join + pair distinct would run
      // on a single core (measured: the pair-graph setup was 1-core
      // bound at 45M pre-distinct candidate rows). Fan out ONCE, scale-
      // adaptively (defaultParallelism = the session's core budget, not
      // a constant), before the heavy per-row work; the signed parquet
      // inherits the fan-out so every downstream consumer (capped/delta
      // gates) scans in parallel too. Signatures are per-row
      // deterministic hashes — partition layout cannot change any value.
      val docs = fanOut(documents(s, d).select("doc_id", "text"))
      // sign ONCE, materialize the signature table AND the verified
      // pair graph — the two relations a production lake would keep
      // (signatures at ingest; pairs as the dedup product). The delta
      // gate reads the signatures instead of re-shingling the corpus.
      val signed = Dedup.withSignature(docs, "text").persist()
      // AQE's stage-by-stage re-optimization costs ~3× on this build's
      // ~9-exchange plan whose trees carry the 16-band signature
      // expressions (measured 45.0 s → 14.5 s, identical output) — so
      // the build runs on an AQE-off clone of the session. AQE's skew
      // splitting of the verify joins is what a lake-scale run would
      // give up here; at fixture scale it has nothing to split.
      try graft.Sessions.isolated(s, "spark.sql.adaptive.enabled" -> "false") { r =>
        val rSigned = GraftSession.rebind(signed, r)
        rSigned.write.mode("overwrite").parquet(s"$out/signed")
        val pairs = Dedup.verifiedPairsSigned(rSigned, "doc_id", 0.9)
        pairs.write.mode("overwrite").parquet(s"$out/pairs")
        pairs.unpersist(blocking = false)
        // the cluster-assignment table is ALSO a materialized lake
        // product (the dedup result downstream removal/audit jobs
        // consume) — label-propagate once, not once per consumer
        Dedup.duplicateClusters(r.read.parquet(s"$out/pairs"))
          .write.mode("overwrite").parquet(s"$out/clusters")
      } finally signed.unpersist(blocking = false)
    })

  private[graft] def cachedVerifiedPairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${pairsSetup.dir(s, d)}/pairs")

  private[graft] def cachedClusters(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${pairsSetup.dir(s, d)}/clusters")

  private[queries] def cachedSigned(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${pairsSetup.dir(s, d)}/signed")

  /** The duplicate-cluster census ground truth, shared by the
    * uncapped (q_dedup_clusters) and capped (q_dedup_capped) gates:
    * all-pairs Jaccard ≥ 0.9 → connected components by recursive
    * min-label CTE → size census. One definition, so the two gates
    * can never drift onto diverging ground truths; `extraCols` carries
    * the capped gate's literal assertion columns.
    */
  private def clusterCensusSql(extraCols: String): String =
    s"""WITH pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS wset
       |        FROM documents) a
       |  JOIN (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS wset
       |        FROM documents) b
       |    ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)
       |          / (len(a.wset) + len(b.wset) - len(list_intersect(a.wset, b.wset))) >= 0.9
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs
       |), lab AS (
       |  WITH RECURSIVE walk(id, lbl) AS (
       |    SELECT src, src FROM edges
       |    UNION
       |    SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id
       |    WHERE w.lbl < e.dst
       |  )
       |  SELECT id, min(lbl) AS cluster FROM walk GROUP BY id
       |), sizes AS (
       |  SELECT cluster, count(*) AS sz FROM lab GROUP BY cluster
       |)
       |SELECT count(*) AS n_clusters,
       |       CAST(sum(sz) AS BIGINT) AS n_docs_clustered,
       |       CAST(max(sz) AS BIGINT) AS max_cluster$extraCols
       |FROM sizes""".stripMargin

  /** The q_cms_counts oracle — shared VERBATIM with the streaming
    * sketch parity gate (same ground truth, one definition).
    */
  private[queries] val CmsOracle: String =
    s"""WITH cnt AS (
             |  SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS exact_n
             |  FROM lineitem GROUP BY 1),
             |seeds AS (SELECT unnest([0, 1, 2, 3]) AS seed),
             |cms AS (
             |  SELECT seed,
             |         ${SharedOracles.bucketSql("'cms' || CAST(seed AS VARCHAR) || ':' || CAST(item AS VARCHAR)")} % 256 AS bucket,
             |         CAST(sum(exact_n) AS BIGINT) AS cnt
             |  FROM cnt, seeds GROUP BY 1, 2),
             |top AS (SELECT item, exact_n FROM cnt ORDER BY exact_n DESC, item ASC LIMIT 20),
             |probes AS (
             |  SELECT t.item, t.exact_n, s.seed,
             |         ${SharedOracles.bucketSql("'cms' || CAST(s.seed AS VARCHAR) || ':' || CAST(t.item AS VARCHAR)")} % 256 AS bucket
             |  FROM top t, seeds s),
             |est AS (
             |  SELECT p.item, p.exact_n, min(coalesce(c.cnt, 0)) AS est_n
             |  FROM probes p LEFT JOIN cms c ON p.seed = c.seed AND p.bucket = c.bucket
             |  GROUP BY 1, 2)
             |SELECT item, exact_n, CAST(est_n AS BIGINT) AS est_n,
             |       CAST(est_n - exact_n AS BIGINT) AS overcount,
             |       est_n >= exact_n AS never_under
             |FROM est ORDER BY exact_n DESC, item ASC""".stripMargin

  val queries: Seq[GateQuery] = Seq(

    // MinHash LSH candidates + exact verify == all-pairs Jaccard ≥ 0.9.
    GateQuery(
      "q_dedup_minhash",
      (s, d) => {
        cachedVerifiedPairs(s, d)
          // per-pair jac quantized to exact ×1e8 ints, then an integer
          // half-up average — no float sum in shuffle order
          .withColumn("_jx", round(col("jac") * 100000000).cast("long"))
          .agg(
            count(lit(1)).as("n_pairs"),
            expr("CAST((2 * sum(CAST(_jx AS DECIMAL(38,0))) + count(1) * 10000)" +
              " div (2 * count(1) * 10000) AS BIGINT)").as("avg_jac_x1e4"),
            countDistinct(col("id_a")).as("n_left_docs"))
      },
      Some(SharedOracles.allPairsJaccardCensus)),

    // Near-dup pairs collapsed into duplicate clusters (connected
    // components, min-id canonical representative). The DuckDB oracle
    // recomputes the same census from the all-pairs Jaccard graph with
    // a recursive min-label CTE.
    GateQuery(
      "q_dedup_clusters",
      (s, d) => {
        cachedClusters(s, d)
          .groupBy("cluster").agg(count(lit(1)).as("sz"))
          .agg(
            count(lit(1)).as("n_clusters"),
            sum("sz").cast("long").as("n_docs_clustered"),
            max("sz").cast("long").as("max_cluster"))
      },
      Some(clusterCensusSql(""))),

    // The PRODUCTION-scale candidate path: cappedCandidatePairs
    // replaces an oversized bucket's O(fanin²) self-join with O(fanin)
    // star + sorted-neighborhood chain edges — the giant-clique
    // mitigation every 100 TB dedup run needs. Differential evidence
    // against the uncapped ground truth, in-gate and loud:
    //   - REFINEMENT (provable, asserted exactly): capped candidates
    //     are a SUBSET of uncapped candidates, so no capped cluster
    //     may ever span two uncapped clusters — a violation is a bug,
    //     not data;
    //   - RECALL FLOOR (measured): capping can split a chain-shaped
    //     component whose intra-bucket pairs all fail both the star
    //     and chain heuristics — bit-identity is NOT achievable by any
    //     O(fanin) candidate subset on non-clique components — but the
    //     measured loss is ~1% of clustered docs at cap = maxFanin/2,
    //     and the gate fails loudly if coverage drops below 95%;
    //   - the cap provably ENGAGED (an over-cap bucket exists).
    // The hashed output is the uncapped census (the oracle's ground
    // truth, same SQL as q_dedup_clusters) plus the assertion flags.
    GateQuery(
      "q_dedup_capped",
      // AQE-off clone: this gate is a ~15-exchange diagnostic
      // pipeline over cap-bounded relations; the capped candidate path
      // structurally REMOVES the oversized-bucket skew (every bucket's
      // pair volume ≤ cap², star/chain are O(fanin)), so AQE's skew
      // splitting has nothing left to split and its stage-by-stage
      // re-planning is pure fixed cost (measured: gate 19.0 s → see
      // OPTIMIZATION_r13.md). The census it returns runs on the gate's
      // own session.
      (s, d) => {
        val result = graft.Sessions.isolated(s, "spark.sql.adaptive.enabled" -> "false") { r =>
          val signed = cachedSigned(r, d)
          val census = Dedup.bandBucketCensus(signed, "doc_id")
          val maxFanin = census.agg(max("fanin")).head().getLong(0)
          val cap = math.max(8L, maxFanin / 2)
          require(maxFanin > cap,
            s"q_dedup_capped: no over-cap bucket (max fan-in $maxFanin, " +
              s"cap $cap) — the star+chain path never engaged")
          // handOff-persisted (Caching contract): released as soon as
          // `capped` is materialized, which is all that reads it
          val cands = Dedup.cappedCandidatePairs(signed, "doc_id", cap)
          val verified = Dedup.exactVerify(signed, cands, "doc_id", 0.9)
          val capped = Dedup.duplicateClusters(verified).persist()
          val nCap = try capped.count() finally cands.unpersist(blocking = false)
          val uncapped = cachedClusters(r, d)
          val joined = capped.select(col("id"), col("cluster").as("_cc"))
            .join(uncapped.select(col("id"), col("cluster").as("_uc")), Seq("id"))
          val spanning = joined.groupBy("_cc")
            .agg(countDistinct("_uc").as("_k")).filter(col("_k") > 1).count()
          require(spanning == 0L,
            s"q_dedup_capped: $spanning capped cluster(s) span multiple " +
              "uncapped clusters — refinement violated (capped candidates " +
              "must be a subset of uncapped candidates)")
          val nUnc = uncapped.count()
          require(nCap * 100 >= nUnc * 95,
            s"q_dedup_capped: capped path clustered only $nCap of $nUnc " +
              "docs — recall floor (95%) breached")
          capped.unpersist(blocking = false)
          uncapped
            .groupBy("cluster").agg(count(lit(1)).as("sz"))
            .agg(
              count(lit(1)).as("n_clusters"),
              sum("sz").cast("long").as("n_docs_clustered"),
              max("sz").cast("long").as("max_cluster"))
            .withColumn("capped_refines", lit(true))
            .withColumn("cap_engaged", lit(true))
            .withColumn("recall_floor_held", lit(true))
        }
        GraftSession.rebind(result, s)
      },
      Some(clusterCensusSql(
        ",\n       TRUE AS capped_refines,\n       TRUE AS cap_engaged" +
          ",\n       TRUE AS recall_floor_held"))),

    // SOFT dedup: keep every document, downweight by duplicate
    // multiplicity (weight = 1e6 div cluster_size) -- the modern
    // drop-vs-downweight tradeoff's weight-1/n endpoint, consuming
    // the same materialized label table as removal. The census pins
    // the per-multiplicity populations, the weights, exact membership
    // via id checksums, and the effective (deduplicated) corpus size
    // as an exact integer.
    GateQuery(
      "q_dedup_soft",
      (s, d) => {
        val w = Dedup.softWeights(
          documents(s, d).select("doc_id"), "doc_id", cachedClusters(s, d))
        val bySize = w.groupBy("cluster_size")
          .agg(
            count(lit(1)).as("n_docs"),
            max("weight_x1e6").as("weight_x1e6"),
            sum(pmod(
              graft.operators.Curation.hashBucket(
                concat(lit("soft:"), col("doc_id").cast("string")))
                * col("doc_id"), lit(2147483648L)))
              .cast("long").as("id_checksum"))
        val eff = w.agg(sum("weight_x1e6").cast("long").as("effective_x1e6"))
        bySize.crossJoin(broadcast(eff)).orderBy("cluster_size")
      },
      Some(s"""WITH pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS wset
             |        FROM documents) a
             |  JOIN (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS wset
             |        FROM documents) b
             |    ON a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)
             |          / (len(a.wset) + len(b.wset) - len(list_intersect(a.wset, b.wset))) >= 0.9
             |), edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM pairs
             |  UNION
             |  SELECT id_b AS src, id_a AS dst FROM pairs
             |), lab AS (
             |  WITH RECURSIVE walk(id, lbl) AS (
             |    SELECT src, src FROM edges
             |    UNION
             |    SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id
             |    WHERE w.lbl < e.dst
             |  )
             |  SELECT id, min(lbl) AS cluster FROM walk GROUP BY id
             |),
             |sz AS (SELECT cluster, count(*) AS n FROM lab GROUP BY cluster),
             |w AS (
             |  SELECT d.doc_id,
             |         CAST(coalesce(sz.n, 1) AS BIGINT) AS cluster_size,
             |         CAST(1000000 // coalesce(sz.n, 1) AS BIGINT) AS weight_x1e6
             |  FROM documents d
             |  LEFT JOIN lab ON d.doc_id = lab.id
             |  LEFT JOIN sz ON lab.cluster = sz.cluster),
             |eff AS (SELECT CAST(sum(weight_x1e6) AS BIGINT) AS effective_x1e6 FROM w)
             |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_docs,
             |       CAST(max(weight_x1e6) AS BIGINT) AS weight_x1e6,
             |       CAST(sum((${SharedOracles.bucketSql("'soft:' || CAST(doc_id AS VARCHAR)")} * doc_id) % 2147483648) AS BIGINT) AS id_checksum,
             |       effective_x1e6
             |FROM w, eff
             |GROUP BY cluster_size, effective_x1e6
             |ORDER BY cluster_size""".stripMargin)),

    // Duplicate REMOVAL: keep each near-dup cluster's canonical
    // (min-id) member plus every unclustered doc. The census pins the
    // exact surviving set via an id checksum — one wrongly dropped or
    // kept doc shifts it.
    GateQuery(
      "q_dedup_remove",
      (s, d) => {
        val docs = documents(s, d).select("doc_id", "text")
        Dedup.keepCanonicalLabeled(docs, "doc_id", cachedClusters(s, d))
          .agg(
            count(lit(1)).as("n_kept"),
            sum(col("doc_id")).cast("long").as("kept_id_sum"))
      },
      Some("""WITH pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS wset
             |        FROM documents) a
             |  JOIN (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS wset
             |        FROM documents) b
             |    ON a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)
             |          / (len(a.wset) + len(b.wset) - len(list_intersect(a.wset, b.wset))) >= 0.9
             |), edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM pairs
             |  UNION
             |  SELECT id_b AS src, id_a AS dst FROM pairs
             |), lab AS (
             |  WITH RECURSIVE walk(id, lbl) AS (
             |    SELECT src, src FROM edges
             |    UNION
             |    SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id
             |    WHERE w.lbl < e.dst
             |  )
             |  SELECT id, min(lbl) AS cluster FROM walk GROUP BY id
             |), dropped AS (
             |  SELECT id FROM lab WHERE cluster < id
             |)
             |SELECT (SELECT count(*) FROM documents) - (SELECT count(*) FROM dropped) AS n_kept,
             |       CAST((SELECT sum(doc_id) FROM documents)
             |            - (SELECT coalesce(sum(id), 0) FROM dropped) AS BIGINT) AS kept_id_sum""".stripMargin)),

    // QUALITY-ranked removal: each near-dup cluster keeps its LONGEST
    // member (score = text length; tie → min doc_id) instead of the
    // arbitrary min-id canonical. The id checksum pins the exact
    // surviving set — a wrong winner in any cluster shifts it, so the
    // gate distinguishes this policy from q_dedup_remove's.
    GateQuery(
      "q_dedup_keep_best",
      (s, d) => {
        val docs = documents(s, d).select(
          col("doc_id"), col("text"), length(col("text")).as("quality"))
        Dedup.keepBestLabeled(docs, "doc_id", "quality", cachedClusters(s, d))
          .agg(
            count(lit(1)).as("n_kept"),
            sum(col("doc_id")).cast("long").as("kept_id_sum"))
      },
      Some("""WITH pairs AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
             |  FROM (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS wset
             |        FROM documents) a
             |  JOIN (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS wset
             |        FROM documents) b
             |    ON a.doc_id < b.doc_id
             |  WHERE CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)
             |          / (len(a.wset) + len(b.wset) - len(list_intersect(a.wset, b.wset))) >= 0.9
             |), edges AS (
             |  SELECT id_a AS src, id_b AS dst FROM pairs
             |  UNION
             |  SELECT id_b AS src, id_a AS dst FROM pairs
             |), lab AS (
             |  WITH RECURSIVE walk(id, lbl) AS (
             |    SELECT src, src FROM edges
             |    UNION
             |    SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id
             |    WHERE w.lbl < e.dst
             |  )
             |  SELECT id, min(lbl) AS cluster FROM walk GROUP BY id
             |), win AS (
             |  SELECT cluster, id FROM (
             |    SELECT l.cluster, l.id,
             |           row_number() OVER (PARTITION BY l.cluster
             |                              ORDER BY length(d.text) DESC, l.id ASC) AS rn
             |    FROM lab l JOIN documents d ON d.doc_id = l.id)
             |  WHERE rn = 1
             |), dropped AS (
             |  SELECT id FROM lab WHERE id NOT IN (SELECT id FROM win)
             |)
             |SELECT (SELECT count(*) FROM documents) - (SELECT count(*) FROM dropped) AS n_kept,
             |       CAST((SELECT sum(doc_id) FROM documents)
             |            - (SELECT coalesce(sum(id), 0) FROM dropped) AS BIGINT) AS kept_id_sum""".stripMargin)),

    // Exact SUBSTRING dedup (Lee et al. ExactSubstr): duplicated
    // ≥8-token windows are merged into maximal spans and cut from
    // every occurrence. Planted passages (12 tokens copied from every
    // doc_id % 10 = 3 document into a salted new doc) guarantee
    // nonzero spans; organic repeats count identically on both
    // engines because windows are keyed by md5 of the space-joined
    // tokens — bit-identical across Spark and DuckDB.
    GateQuery(
      "q_dedup_substring",
      (s, d) => {
        val docs = documents(s, d).select("doc_id", "source", "text")
        val w = docs.withColumn("_wd", split(trim(col("text")), " "))
        val planted = w.filter(col("doc_id") % 10 === 3 && size(col("_wd")) >= 20)
          .select(
            (col("doc_id") + 500000L).as("doc_id"),
            col("source"),
            concat_ws(" ",
              concat(lit("p"), col("doc_id"), lit("a")),
              concat(lit("p"), col("doc_id"), lit("b")),
              concat_ws(" ", slice(col("_wd"), 6, 12)),
              concat(lit("p"), col("doc_id"), lit("c"))).as("text"))
        val corpus = docs.unionByName(planted)
        Dedup.exactSubstringDedup(corpus, "doc_id", "text", minLen = 8)
          .join(corpus.select("doc_id", "source"), Seq("doc_id"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum((col("n_removed") > 0).cast("long")).as("n_affected"),
            sum("n_tokens").cast("long").as("total_tokens"),
            sum("n_removed").cast("long").as("tokens_removed"),
            sum("n_spans").cast("long").as("n_spans"))
          .orderBy("source")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, source, string_split(trim(text), ' ') AS words FROM documents
             |), planted AS (
             |  SELECT doc_id + 500000 AS doc_id, source,
             |         'p' || doc_id || 'a p' || doc_id || 'b ' ||
             |         array_to_string(words[6:17], ' ') || ' p' || doc_id || 'c' AS text
             |  FROM w WHERE doc_id % 10 = 3 AND len(words) >= 20
             |), corpus AS (
             |  SELECT doc_id, source, text FROM documents
             |  UNION ALL
             |  SELECT doc_id, source, text FROM planted
             |), cw AS (
             |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS words FROM corpus
             |), win AS (
             |  SELECT doc_id, words, unnest(range(len(words) - 7)) AS pos
             |  FROM cw WHERE len(words) >= 8
             |), keyed AS (
             |  SELECT doc_id, pos,
             |         substr(md5(array_to_string(words[CAST(pos + 1 AS INT):CAST(pos + 8 AS INT)], ' ')), 1, 16) AS h
             |  FROM win
             |), dup AS (
             |  SELECT h FROM keyed GROUP BY h HAVING count(*) >= 2
             |), flagged AS (
             |  SELECT doc_id, pos FROM keyed JOIN dup USING (h)
             |), ordered AS (
             |  SELECT doc_id, pos,
             |         max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
             |                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
             |  FROM flagged
             |), isl AS (
             |  SELECT doc_id, pos,
             |         sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
             |           OVER (PARTITION BY doc_id ORDER BY pos) AS g
             |  FROM ordered
             |), spans AS (
             |  SELECT doc_id, g, min(pos) AS s, max(pos) + 7 AS e
             |  FROM isl GROUP BY doc_id, g
             |), per_doc AS (
             |  SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS n_removed
             |  FROM spans GROUP BY doc_id
             |)
             |SELECT source, count(*) AS n_docs,
             |       CAST(sum(CASE WHEN n_removed > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
             |       CAST(sum(len(words)) AS BIGINT) AS total_tokens,
             |       CAST(coalesce(sum(n_removed), 0) AS BIGINT) AS tokens_removed,
             |       CAST(coalesce(sum(n_spans), 0) AS BIGINT) AS n_spans
             |FROM cw LEFT JOIN per_doc USING (doc_id)
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    // SimHash near-dups (hamming ≤ 3). The gate uses the md5-nibble
    // word hash (both engines expose md5) so DuckDB reproduces the
    // 64-bit fingerprints bit-for-bit and checks the full hamming
    // census; bucketing completeness (pigeonhole) makes the operator's
    // candidate set equal the all-pairs census the SQL computes.
    GateQuery(
      "q_dedup_simhash",
      (s, d) => {
        val docs = documents(s, d).select("doc_id", "text")
        Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3,
          wordHash = Dedup.md5WordHash)
          .agg(
            count(lit(1)).as("n_pairs"),
            // hamming is an exact integer — the mean is ONE half-up
            // integer division, no float sum
            expr("CAST((2 * sum(CAST(hamming AS DECIMAL(38,0))) * 10000 + count(1))" +
              " div (2 * count(1)) AS BIGINT)").as("avg_hamming_x1e4"))
      },
      Some("""WITH w AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS word
             |  FROM documents
             |), contrib AS (
             |  SELECT doc_id, bits.bit,
             |         CASE WHEN ((strpos('0123456789abcdef',
             |                            substring(md5(word), CAST(bits.bit // 4 AS INT) + 1, 1)) - 1)
             |                    >> CAST(bits.bit % 4 AS INT)) & 1 = 1
             |              THEN 1 ELSE -1 END AS c
             |  FROM w, (SELECT unnest(range(64)) AS bit) bits
             |), fp AS (
             |  SELECT doc_id,
             |         CAST(sum(CASE WHEN s > 0 AND bit < 32  THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS lo,
             |         CAST(sum(CASE WHEN s > 0 AND bit >= 32 THEN (CAST(1 AS BIGINT) << CAST(bit - 32 AS INT)) ELSE 0 END) AS BIGINT) AS hi
             |  FROM (SELECT doc_id, bit, sum(c) AS s FROM contrib GROUP BY doc_id, bit)
             |  GROUP BY doc_id
             |), pairs AS (
             |  SELECT bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS hamming
             |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
             |)
             |SELECT count(*) AS n_pairs,
             |       CAST((2 * sum(CAST(hamming AS HUGEINT)) * 10000 + count(*))
             |            // (2 * count(*)) AS BIGINT) AS avg_hamming_x1e4
             |FROM pairs WHERE hamming <= 3""".stripMargin)),

    // Embedding-cosine near-dup via sign-LSH + exact verify, against a
    // FULL all-pairs cosine oracle. The synthetic embeddings are
    // near-orthogonal (max organic pair cos ≈ 0.51), so the gate plants
    // a near-duplicate of every 10th vector — coordinate 0 bumped by
    // +0.2 on the unit-norm corpus puts each planted pair at cos ≈
    // 0.98 while every other pair stays ≤ 0.52. At threshold 0.95 with
    // the recall≈1 geometry (16 bands × 4 bits: per-pair miss ≈
    // (1 − 0.92⁴)¹⁶ ≈ 1e-9) the LSH + exact-verify output EQUALS the
    // all-pairs census, so the SQL is an exact-hash oracle; the
    // id checksum pins the exact pair membership.
    GateQuery(
      "q_dedup_embedding",
      (s, d) => {
        val base = fanOut(embeddings(s, d))  // 1-file scan feeds the simhash+verify chain (Tables.fanOut doc)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
        val dups = base.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"),
            concat(array(element_at(col("v"), 1) + lit(0.2)),
              slice(col("v"), 2, 63)).as("v"))
        val corpus = base.unionByName(dups)
        Dedup.embeddingNearDupPairs(corpus, "vec_id", "v", dim = 64,
          threshold = 0.95, bands = 16, bitsPerBand = 4)
          // per-pair cos quantized to exact ×1e8 ints (identical
          // doubles both engines — same fixed-order fold), then an
          // integer half-up average — no float sum in shuffle order
          .withColumn("_cx", round(col("cos") * 100000000).cast("long"))
          .agg(
            count(lit(1)).as("n_pairs"),
            expr("CAST((2 * sum(CAST(_cx AS DECIMAL(38,0))) + count(1) * 10000)" +
              " div (2 * count(1) * 10000) AS BIGINT)").as("avg_cos_x1e4"),
            sum(col("id_a") + col("id_b")).cast("long").as("id_checksum"))
      },
      Some("""WITH base AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings
             |), corpus AS (
             |  SELECT vec_id, v FROM base
             |  UNION ALL
             |  SELECT vec_id + 100000 AS vec_id,
             |         list_concat([v[1] + 0.2], v[2:64]) AS v
             |  FROM base WHERE vec_id % 10 = 0
             |), pairs AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |         list_sum(list_transform(list_zip(a.v, b.v),
             |                                 p -> struct_extract(p, 1) * struct_extract(p, 2)))
             |         / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
             |            * sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
             |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
             |)
             |SELECT count(*) AS n_pairs,
             |       CAST((2 * sum(CAST(round(cos * 100000000) AS HUGEINT)) + count(*) * 10000)
             |            // (2 * count(*) * 10000) AS BIGINT) AS avg_cos_x1e4,
             |       CAST(sum(id_a + id_b) AS BIGINT) AS id_checksum
             |FROM pairs WHERE cos >= 0.95""".stripMargin)),

    // SemDeDup semantic dedup: cluster-scoped (label-keyed here; any
    // bounded clustering composes) exact-cosine pruning, dropping the
    // higher-centroid-similarity member of each duplicate pair. Two
    // planted duplicate kinds exercise both decision branches:
    // ×2-scaled copies (cosine is scale-invariant and power-of-two
    // scaling is IEEE-exact, so centroid similarity TIES bit-exactly
    // → id tie-break) and first-coordinate-perturbed copies (csim
    // gap ≥ 0.0105 at sf0.01, two orders above the round-4 grid →
    // the ordering branch, engine-safe). Per-label census + id
    // checksum pins the exact surviving set.
    GateQuery(
      "q_dedup_semantic",
      (s, d) => {
        val base = embeddings(s, d)  // fanOut measured 2.5x WORSE here: 3-branch union re-exchanges each branch
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
        val scaled = base.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("label"),
            transform(col("v"), x => x * lit(2.0)).as("v"))
        val perturbed = base.filter(col("vec_id") % 10 === 5)
          .select((col("vec_id") + 200000L).as("vec_id"), col("label"),
            concat(array(element_at(col("v"), 1) + lit(0.2)),
              slice(col("v"), 2, 63)).as("v"))
        val corpus = base.unionByName(scaled).unionByName(perturbed)
        Dedup.semDedup(corpus, "vec_id", "v", "label", threshold = 0.95)
          .groupBy("label")
          .agg(
            count(lit(1)).as("n_kept"),
            sum(col("vec_id")).cast("long").as("kept_id_sum"))
          .orderBy("label")
      },
      Some("""WITH base AS (
             |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings
             |), corpus AS (
             |  SELECT vec_id, label, v FROM base
             |  UNION ALL
             |  SELECT vec_id + 100000 AS vec_id, label,
             |         list_transform(v, x -> x * 2.0) AS v
             |  FROM base WHERE vec_id % 10 = 0
             |  UNION ALL
             |  SELECT vec_id + 200000 AS vec_id, label,
             |         list_concat([v[1] + 0.2], v[2:64]) AS v
             |  FROM base WHERE vec_id % 10 = 5
             |), cent AS (
             |  SELECT label, p, avg(x) AS mx FROM (
             |    SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS p
             |    FROM corpus)
             |  GROUP BY label, p
             |), cl AS (
             |  SELECT label, list(mx ORDER BY p) AS c FROM cent GROUP BY label
             |), scored AS (
             |  SELECT vec_id, s.label, s.v,
             |         round(
             |           list_sum(list_transform(list_zip(s.v, cl.c),
             |                                   p -> struct_extract(p, 1) * struct_extract(p, 2)))
             |           / (sqrt(list_sum(list_transform(s.v, x -> x * x)))
             |              * sqrt(list_sum(list_transform(cl.c, x -> x * x)))), 4) AS csim
             |  FROM corpus s JOIN cl USING (label)
             |), pairs AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |         a.csim AS csim_a, b.csim AS csim_b
             |  FROM scored a JOIN scored b
             |    ON a.label = b.label AND a.vec_id < b.vec_id
             |  WHERE list_sum(list_transform(list_zip(a.v, b.v),
             |                                p -> struct_extract(p, 1) * struct_extract(p, 2)))
             |        / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
             |           * sqrt(list_sum(list_transform(b.v, x -> x * x)))) >= 0.95
             |), dropped AS (
             |  SELECT DISTINCT CASE WHEN csim_a > csim_b THEN id_a
             |                       WHEN csim_b > csim_a THEN id_b
             |                       ELSE id_b END AS id
             |  FROM pairs
             |)
             |SELECT label, count(*) AS n_kept,
             |       CAST(sum(vec_id) AS BIGINT) AS kept_id_sum
             |FROM corpus
             |WHERE vec_id NOT IN (SELECT id FROM dropped)
             |GROUP BY label
             |ORDER BY label""".stripMargin)),

    // SemDeDup with the keep-HIGH-centroid-similarity policy (keep the
    // prototypical core member, drop the outlier of each duplicate
    // pair) — same planted corpus as q_dedup_semantic, so the two
    // gates together pin that the policy parameter actually flips the
    // per-pair decision (the perturbed duplicates flip; the ×2-scaled
    // ties don't).
    GateQuery(
      "q_dedup_semantic_keephigh",
      (s, d) => {
        val base = embeddings(s, d)  // fanOut measured 2.5x WORSE here: 3-branch union re-exchanges each branch
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
        val scaled = base.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("label"),
            transform(col("v"), x => x * lit(2.0)).as("v"))
        val perturbed = base.filter(col("vec_id") % 10 === 5)
          .select((col("vec_id") + 200000L).as("vec_id"), col("label"),
            concat(array(element_at(col("v"), 1) + lit(0.2)),
              slice(col("v"), 2, 63)).as("v"))
        val corpus = base.unionByName(scaled).unionByName(perturbed)
        Dedup.semDedup(corpus, "vec_id", "v", "label", threshold = 0.95,
          keep = Dedup.SemKeep.High)
          .groupBy("label")
          .agg(
            count(lit(1)).as("n_kept"),
            sum(col("vec_id")).cast("long").as("kept_id_sum"))
          .orderBy("label")
      },
      Some("""WITH base AS (
             |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings
             |), corpus AS (
             |  SELECT vec_id, label, v FROM base
             |  UNION ALL
             |  SELECT vec_id + 100000 AS vec_id, label,
             |         list_transform(v, x -> x * 2.0) AS v
             |  FROM base WHERE vec_id % 10 = 0
             |  UNION ALL
             |  SELECT vec_id + 200000 AS vec_id, label,
             |         list_concat([v[1] + 0.2], v[2:64]) AS v
             |  FROM base WHERE vec_id % 10 = 5
             |), cent AS (
             |  SELECT label, p, avg(x) AS mx FROM (
             |    SELECT label, unnest(v) AS x, generate_subscripts(v, 1) AS p
             |    FROM corpus)
             |  GROUP BY label, p
             |), cl AS (
             |  SELECT label, list(mx ORDER BY p) AS c FROM cent GROUP BY label
             |), scored AS (
             |  SELECT vec_id, s.label, s.v,
             |         round(
             |           list_sum(list_transform(list_zip(s.v, cl.c),
             |                                   p -> struct_extract(p, 1) * struct_extract(p, 2)))
             |           / (sqrt(list_sum(list_transform(s.v, x -> x * x)))
             |              * sqrt(list_sum(list_transform(cl.c, x -> x * x)))), 4) AS csim
             |  FROM corpus s JOIN cl USING (label)
             |), pairs AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |         a.csim AS csim_a, b.csim AS csim_b
             |  FROM scored a JOIN scored b
             |    ON a.label = b.label AND a.vec_id < b.vec_id
             |  WHERE list_sum(list_transform(list_zip(a.v, b.v),
             |                                p -> struct_extract(p, 1) * struct_extract(p, 2)))
             |        / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
             |           * sqrt(list_sum(list_transform(b.v, x -> x * x)))) >= 0.95
             |), dropped AS (
             |  SELECT DISTINCT CASE WHEN csim_a < csim_b THEN id_a
             |                       WHEN csim_b < csim_a THEN id_b
             |                       ELSE id_b END AS id
             |  FROM pairs
             |)
             |SELECT label, count(*) AS n_kept,
             |       CAST(sum(vec_id) AS BIGINT) AS kept_id_sum
             |FROM corpus
             |WHERE vec_id NOT IN (SELECT id FROM dropped)
             |GROUP BY label
             |ORDER BY label""".stripMargin)),

    // IVF ANN with nprobe = C (exhaustive ⇒ must equal brute force).
    GateQuery(
      "q_ann_ivf",
      (s, d) => {
        val emb = embeddings(s, d)
          .withColumn("v", transform(col("embedding"), x => x.cast("double")))
        val query = emb.filter(col("vec_id") === 0)
          .select("v").collect().head.getSeq[Double](0)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val cents = Ann.centroids(corpus, "v", "vec_id", 8)
        Ann.topK(corpus, "v", "vec_id", query, 10, cents, nprobe = 8)
          .select("vec_id", "label", "cos")
      },
      Some(SharedOracles.exactTop10Cos)),

    // Same search through the MATERIALIZED index: build the
    // cell-partitioned table once, probe all cells (nprobe = C ⇒
    // exact, same oracle as q_ann_ivf). Partition pruning itself is
    // plan-asserted in IvfIndexSpec.
    GateQuery(
      "q_ann_ivf_index",
      (s, d) => {
        val emb = embeddings(s, d)
          .withColumn("v", transform(col("embedding"), x => x.cast("double")))
        val query = emb.filter(col("vec_id") === 0)
          .select("v").collect().head.getSeq[Double](0)
        val corpus = emb.filter(col("vec_id") =!= 0)
        // per-JVM scratch (GateArtifacts.fresh): emptied each pass,
        // unique across processes so concurrent runs can't race each other
        val dir = graft.pipeline.GateArtifacts.fresh("ivf_gate")
        val idx = IvfIndex.build(corpus, "v", "vec_id", dir, numCells = 8, seed = 5L)
        IvfIndex.topK(s, idx, "v", "vec_id", query, 10, nprobe = 8)
          .select("vec_id", "label", "cos")
      },
      Some(SharedOracles.exactTop10Cos)),

    // Incremental index maintenance: build the IVF index on half the
    // corpus, APPEND the other half (frozen quantizer — the daily
    // embedding-delta production path), then query exhaustively
    // (nprobe = C ⇒ exact). The result must equal brute force over
    // the WHOLE corpus — one appended row lost, misassigned, or
    // double-written and the top-10 census breaks.
    GateQuery(
      "q_ann_ivf_append",
      (s, d) => {
        val emb = embeddings(s, d)
          .withColumn("v", transform(col("embedding"), x => x.cast("double")))
        val query = emb.filter(col("vec_id") === 0)
          .select("v").collect().head.getSeq[Double](0)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val dir = graft.pipeline.GateArtifacts.fresh("ivf_append_gate")
        val idx = IvfIndex.build(corpus.filter(col("vec_id") % 2 === 1),
          "v", "vec_id", dir, numCells = 8, seed = 5L)
        IvfIndex.append(idx, corpus.filter(col("vec_id") % 2 === 0), "v")
        IvfIndex.topK(s, idx, "v", "vec_id", query, 10, nprobe = 8)
          .select("vec_id", "label", "cos")
      },
      Some(SharedOracles.exactTop10Cos)),

    // k-NN JOIN: 5 query vectors × rest-of-corpus, top-3 each, through
    // the MATERIALIZED IVF index (partition-pruned cell table — the
    // batch production shape) at nprobe = C (exhaustive ⇒ exact, so
    // the brute-force SQL cross join is the oracle).
    GateQuery(
      "q_knn_join",
      (s, d) => {
        val emb = embeddings(s, d)
          .withColumn("v", transform(col("embedding"), x => x.cast("double")))
        val queries = emb.filter(col("vec_id") < 5)
        val corpus = emb.filter(col("vec_id") >= 5)
        val dir = graft.pipeline.GateArtifacts.fresh("ivf_knn_gate")
        val idx = IvfIndex.build(corpus, "v", "vec_id", dir, numCells = 8, seed = 5L)
        IvfIndex.topKJoin(s, idx, queries, "v", "vec_id", "vec_id", 3, nprobe = 8)
          .orderBy("query_id", "rank")
      },
      Some("""WITH q AS (
             |  SELECT vec_id AS query_id,
             |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
             |  FROM embeddings WHERE vec_id < 5
             |), c AS (
             |  SELECT vec_id,
             |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
             |  FROM embeddings WHERE vec_id >= 5
             |), s AS (
             |  SELECT query_id, vec_id,
             |         round(
             |           list_sum(list_transform(list_zip(qv, cv),
             |                                   p -> struct_extract(p, 1) * struct_extract(p, 2)))
             |           / (sqrt(list_sum(list_transform(qv, x -> x * x)))
             |              * sqrt(list_sum(list_transform(cv, x -> x * x)))), 4) AS cos
             |  FROM q, c
             |), r AS (
             |  SELECT query_id, vec_id, cos,
             |         row_number() OVER (PARTITION BY query_id
             |                            ORDER BY cos DESC, vec_id ASC) AS rank
             |  FROM s
             |)
             |SELECT query_id, vec_id, cos, rank
             |FROM r WHERE rank <= 3
             |ORDER BY query_id, rank""".stripMargin)),

    // Binary-column metadata plumbing (oracle on byte lengths).
    GateQuery(
      "q_multimodal_meta",
      (s, d) => {
        val docs = documents(s, d)
        val media = Multimodal.withBinaryColumn(docs, "text", "doc_id",
          carryCols = Seq("source"))
        media.groupBy("source")
          .agg(
            sum(col("media_meta.n_bytes")).cast("long").as("sum_bytes"),
            count(lit(1)).as("n_docs"))
          .orderBy("source")
      },
      Some("""SELECT source,
             |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
             |       count(*) AS n_docs
             |FROM documents
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    // Stubbed resize (nearest-neighbor byte downsample to 32 samples)
    // over binary batches — the image-resize analogue with the real
    // batching/schema plumbing; out(i) = bytes((i·n)/32) is pure byte
    // algebra, so DuckDB recomputes every resized sample from
    // hex(encode(text)) and the census pins them all.
    GateQuery(
      "q_multimodal_resize",
      (s, d) => {
        val media = Multimodal.withBinaryColumn(documents(s, d), "text", "doc_id")
        Multimodal.resize(media, outLen = 32).toDF()
          .where(col("n_bytes") > 0) // empty payloads excluded on both sides
          // per-doc mean quantized to exact ×1e8 ints, then an integer
          // half-up average — no float sum in shuffle order
          .withColumn("_mx", round(col("resized_mean") * 100000000).cast("long"))
          .agg(
            count(lit(1)).as("n_media"),
            expr("CAST((2 * sum(CAST(_mx AS DECIMAL(38,0))) + count(1) * 10000)" +
              " div (2 * count(1) * 10000) AS BIGINT)").as("avg_resized_mean_x1e4"),
            sum(expr("aggregate(resized, 0L, (acc, x) -> acc + x)"))
              .as("total_resized"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, upper(hex(encode(text))) AS hx,
             |         octet_length(encode(text)) AS n
             |  FROM documents
             |), idx AS (
             |  SELECT doc_id, hx, n, unnest(range(32)) AS i FROM d WHERE n > 0
             |), rb AS (
             |  SELECT doc_id,
             |         (strpos('0123456789ABCDEF', substring(hx, CAST(2 * ((i * n) // 32) + 1 AS INT), 1)) - 1) * 16 +
             |         (strpos('0123456789ABCDEF', substring(hx, CAST(2 * ((i * n) // 32) + 2 AS INT), 1)) - 1) AS b
             |  FROM idx
             |), per AS (
             |  SELECT doc_id, avg(CAST(b AS DOUBLE)) AS m, CAST(sum(b) AS BIGINT) AS s
             |  FROM rb GROUP BY doc_id
             |)
             |SELECT count(*) AS n_media,
             |       CAST((2 * sum(CAST(round(m * 100000000) AS HUGEINT)) + count(*) * 10000)
             |            // (2 * count(*) * 10000) AS BIGINT) AS avg_resized_mean_x1e4,
             |       CAST(sum(s) AS BIGINT) AS total_resized
             |FROM per""".stripMargin)),

    // Uniform frame SAMPLING over binary "video" payloads — the k-row
    // fan-out plumbing (typed flatMap, integer offsets spread across
    // the stream) a real video stack would feed codec frames through.
    // Offsets and frame byte-sums are pure integer algebra, so DuckDB
    // recomputes every sampled frame from hex(encode(text)) and the
    // census pins the full (doc, frame, sum) relation.
    GateQuery(
      "q_multimodal_frames",
      (s, d) => {
        val media = Multimodal.withBinaryColumn(documents(s, d), "text", "doc_id")
        Multimodal.sampleFrames(media, frameLen = 64, k = 8).toDF()
          .agg(
            countDistinct("id").as("n_docs"),
            count(lit(1)).as("n_frames"),
            sum("frame_sum").cast("long").as("total_frame_sum"),
            sum(graft.operators.Curation.hashBucket(concat_ws(":",
              col("id"), col("frame_idx"), col("frame_sum"))))
              .cast("long").as("frame_checksum"))
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, upper(hex(encode(text))) AS hx,
              |         octet_length(encode(text)) AS n
              |  FROM documents),
              |f AS (
              |  SELECT doc_id, n, hx, unnest(range(8)) AS j
              |  FROM d WHERE n >= 64),
              |o AS (
              |  SELECT doc_id, CAST(j AS BIGINT) AS j,
              |         (CAST(j AS BIGINT) * (n - 64)) // 7 AS off, hx
              |  FROM f),
              |s AS (
              |  SELECT doc_id, j, off,
              |         list_sum(list_transform(range(64),
              |           b -> CAST('0x' || substr(hx, CAST((off + b) * 2 + 1 AS INT), 2) AS BIGINT))) AS fsum
              |  FROM o)
              |SELECT count(DISTINCT doc_id) AS n_docs, count(*) AS n_frames,
              |       CAST(sum(fsum) AS BIGINT) AS total_frame_sum,
              |       CAST(sum(${SharedOracles.bucketSql(
                 "CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':' || CAST(fsum AS VARCHAR)")}) AS BIGINT) AS frame_checksum
              |FROM s""".stripMargin)),

    // Stubbed decode + feature extraction over binary batches. The
    // stub's pseudo-features (byte-histogram entropy, every-16th-byte
    // frame samples) are pure byte algebra, so DuckDB recomputes them
    // from hex(encode(text)) and checks the full aggregate.
    GateQuery(
      "q_multimodal_decode",
      (s, d) => {
        val docs = documents(s, d)
        val media = Multimodal.withBinaryColumn(docs, "text", "doc_id")
        Multimodal.extractFeatures(media).toDF()
          // per-doc features quantized to exact ×1e8 ints, then
          // integer half-up averages (inner per-doc log2 terms stay
          // the documented accepted libm class)
          .withColumn("_ex", round(col("entropy") * 100000000).cast("long"))
          .withColumn("_fx", round(col("frame_mean") * 100000000).cast("long"))
          .agg(
            count(lit(1)).as("n_media"),
            expr("CAST((2 * sum(CAST(_ex AS DECIMAL(38,0))) + count(1) * 10000)" +
              " div (2 * count(1) * 10000) AS BIGINT)").as("avg_entropy_x1e4"),
            expr("CAST((2 * sum(CAST(_fx AS DECIMAL(38,0))) + count(1) * 10000)" +
              " div (2 * count(1) * 10000) AS BIGINT)").as("avg_frame_mean_x1e4"),
            sum("n_frames").as("total_frames"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, upper(hex(encode(text))) AS hx,
             |         octet_length(encode(text)) AS n
             |  FROM documents
             |), byt AS (
             |  SELECT doc_id, n, hx, unnest(range(n)) AS i FROM d
             |), bv AS (
             |  SELECT doc_id, n, i,
             |         (strpos('0123456789ABCDEF', substring(hx, CAST(2 * i + 1 AS INT), 1)) - 1) * 16 +
             |         (strpos('0123456789ABCDEF', substring(hx, CAST(2 * i + 2 AS INT), 1)) - 1) AS b
             |  FROM byt
             |), ent AS (
             |  SELECT doc_id,
             |         -sum((c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))) AS entropy
             |  FROM (SELECT doc_id, n, b, CAST(count(*) AS DOUBLE) AS c
             |        FROM bv GROUP BY doc_id, n, b)
             |  GROUP BY doc_id
             |), fr AS (
             |  SELECT doc_id, avg(CAST(b AS DOUBLE)) AS frame_mean, count(*) AS n_frames
             |  FROM bv WHERE i % 16 = 0 GROUP BY doc_id
             |)
             |SELECT count(*) AS n_media,
             |       CAST((2 * sum(CAST(round(coalesce(ent.entropy, 0) * 100000000) AS HUGEINT))
             |             + count(*) * 10000)
             |            // (2 * count(*) * 10000) AS BIGINT) AS avg_entropy_x1e4,
             |       CAST((2 * sum(CAST(round(coalesce(fr.frame_mean, 0) * 100000000) AS HUGEINT))
             |             + count(*) * 10000)
             |            // (2 * count(*) * 10000) AS BIGINT) AS avg_frame_mean_x1e4,
             |       CAST(sum(coalesce(fr.n_frames, 0)) AS BIGINT) AS total_frames
             |FROM d LEFT JOIN ent USING (doc_id) LEFT JOIN fr USING (doc_id)""".stripMargin)),

    // Decode-status census over a corpus with PLANTED payload classes:
    // doc_id % 50 picks rows whose bytes are replaced by a real tiny
    // PNG (7 → decoded), a header-only decompression bomb declaring
    // 10^10 pixels (13 → oversize), and PNG-magic garbage
    // (21 → corrupt); everything else keeps its UTF-8 text bytes
    // (→ non_image). The statuses come from the REAL ImageIO
    // sniff/header/decode path on the Spark side, while the oracle
    // independently predicts each planted class from the modulo rule —
    // so a misclassification (bomb decoded, PNG declined, text
    // sniffed) breaks the hash. Planted byte lengths are inlined
    // constants derived from the same in-JVM arrays the plant uses.
    GateQuery(
      "q_multimodal_status",
      (s, d) => {
        val media = Multimodal.withBinaryColumn(documents(s, d), "text", "doc_id")
          .withColumn("bytes",
            when(col("id") % 50 === 7, lit(Multimodal.tinyPngBytes))
              .when(col("id") % 50 === 13, lit(Multimodal.pngDeclaring(100000, 100000)))
              .when(col("id") % 50 === 21, lit(Multimodal.corruptPngBytes))
              .otherwise(col("bytes")))
        Multimodal.resize(media, outLen = 8).toDF()
          .groupBy("decode_status")
          .agg(
            count(lit(1)).as("n_media"),
            sum("n_bytes").cast("long").as("total_bytes"))
          .orderBy("decode_status")
      },
      Some(s"""SELECT CASE WHEN doc_id % 50 = 7 THEN 'decoded'
              |            WHEN doc_id % 50 = 13 THEN 'oversize'
              |            WHEN doc_id % 50 = 21 THEN 'corrupt'
              |            ELSE 'non_image' END AS decode_status,
              |       count(*) AS n_media,
              |       CAST(sum(CASE WHEN doc_id % 50 = 7 THEN ${graft.operators.Multimodal.tinyPngBytes.length}
              |                     WHEN doc_id % 50 = 13 THEN ${graft.operators.Multimodal.pngDeclaring(100000, 100000).length}
              |                     WHEN doc_id % 50 = 21 THEN ${graft.operators.Multimodal.corruptPngBytes.length}
              |                     ELSE octet_length(encode(text)) END) AS BIGINT) AS total_bytes
              |FROM documents
              |GROUP BY 1
              |ORDER BY 1""".stripMargin)),

    // HLL++ sketch census: exact per-group distincts (oracled) plus an
    // in-plan guard that the approx sketch lands within 5% of exact —
    // the oracle's literal TRUE fails the gate if the sketch drifts.
    GateQuery(
      "q_approx_distinct",
      (s, d) =>
        events(s, d)
          .groupBy("event_type")
          .agg(
            countDistinct(col("user_id")).as("n_exact"),
            approx_count_distinct(col("user_id")).as("_apx"))
          .select(col("event_type"), col("n_exact"),
            (abs(col("_apx") - col("n_exact")) <=
              col("n_exact") * 0.05).as("hll_ok"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_exact,
             |       TRUE AS hll_ok
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // Quantile sketch census: exact interpolated percentiles (oracled
    // vs quantile_cont) plus the approx-sketch drift guard (≤ 1%).
    GateQuery(
      "q_approx_quantile",
      (s, d) =>
        events(s, d)
          .agg(
            expr("percentile(value, array(0.5, 0.9, 0.99))").as("_ex"),
            expr("percentile_approx(value, array(0.5, 0.9, 0.99), 10000)").as("_ap"))
          .select(
            // integer-units (×1e4 long), see q_dedup_embedding
            round(element_at(col("_ex"), 1) * 10000).cast("long").as("p50_x1e4"),
            round(element_at(col("_ex"), 2) * 10000).cast("long").as("p90_x1e4"),
            round(element_at(col("_ex"), 3) * 10000).cast("long").as("p99_x1e4"),
            (abs(element_at(col("_ap"), 1) - element_at(col("_ex"), 1)) <=
              abs(element_at(col("_ex"), 1)) * 0.01 + 0.001).as("apx_ok_p50"),
            (abs(element_at(col("_ap"), 3) - element_at(col("_ex"), 3)) <=
              abs(element_at(col("_ex"), 3)) * 0.01 + 0.001).as("apx_ok_p99")),
      Some("""SELECT CAST(round(quantile_cont(value, 0.5) * 10000) AS BIGINT) AS p50_x1e4,
             |       CAST(round(quantile_cont(value, 0.9) * 10000) AS BIGINT) AS p90_x1e4,
             |       CAST(round(quantile_cont(value, 0.99) * 10000) AS BIGINT) AS p99_x1e4,
             |       TRUE AS apx_ok_p50, TRUE AS apx_ok_p99
             |FROM events""".stripMargin)),

    // Two-pass Misra–Gries heavy hitters: the sketch pass keeps ≤ k
    // counters per partition (bounded state at any cardinality), the
    // exact re-count of candidates makes the result identical to
    // GROUP BY ... HAVING count·(k+1) > n — which IS the oracle. At
    // k=200 the n/201 cut lands between the busiest and quietest
    // users, so the gate pins a non-trivial selection.
    GateQuery(
      "q_heavy_hitters",
      (s, d) =>
        Frequency.heavyHitters(events(s, d), "user_id", k = 200)
          .orderBy("item"),
      Some("""SELECT CAST(user_id AS VARCHAR) AS item, count(*) AS cnt
             |FROM events
             |WHERE user_id IS NOT NULL
             |GROUP BY 1
             |HAVING count(*) * 201 > (SELECT count(user_id) FROM events)
             |ORDER BY item""".stripMargin)),

    // Per-group heavy hitters: top tokens per document source, k=25 <
    // the per-source vocabulary so the MG sketch genuinely prunes, and
    // the n_g/(k+1) cut (~4%) lands mid-distribution — a non-trivial
    // per-group selection with zero driver state (candidates stay a
    // distributed relation; see Frequency.heavyHittersByGroup).
    GateQuery(
      "q_heavy_hitters_grouped",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("source"),
            explode(split(trim(col("text")), " ")).as("tok"))
        Frequency.heavyHittersByGroup(toks, Seq("source"), "tok", k = 25)
          .orderBy("source", "item")
      },
      Some("""WITH toks AS (
             |  SELECT source, unnest(string_split(trim(text), ' ')) AS item
             |  FROM documents
             |), c AS (
             |  SELECT source, item, count(*) AS cnt FROM toks GROUP BY 1, 2
             |), n AS (
             |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1
             |)
             |SELECT c.source, c.item, c.cnt
             |FROM c JOIN n ON c.source = n.source
             |WHERE c.cnt * 26 > n.n
             |ORDER BY c.source, c.item""".stripMargin)),

    // Sketch-as-table rollup: per-(event_type, day) HLL unit sketches
    // merged across days answer the per-type distinct-user census
    // without rescanning raw events — the incremental-rollup shape a
    // 100 TB metrics store needs. The oracle pins the exact census;
    // the in-plan guard fails the gate if the merged-sketch estimate
    // drifts >5% from it.
    GateQuery(
      "q_hll_rollup",
      (s, d) => {
        val ev = events(s, d)
        val units = SketchRollup.buildUnits(
          ev.withColumn("day", to_date(col("ts"))),
          Seq("event_type", "day"), "user_id")
        val merged = SketchRollup.distinctOverSlice(units, Seq("event_type"))
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact"),
            count(lit(1)).as("n_rows"))
        exact
          .join(merged.select(col("event_type"), col("distinct_est")),
            Seq("event_type"))
          .select(col("event_type"), col("n_exact"), col("n_rows"),
            (abs(col("distinct_est") - col("n_exact")) <=
              col("n_exact") * 0.05).as("sketch_ok"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_exact,
             |       count(*) AS n_rows, TRUE AS sketch_ok
             |FROM events
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // Quantile-sketch-as-table rollup: per-(event_type, day) bottom-k
    // (KMV) unit samples merged across days answer per-type percentile
    // queries without rescanning raw events — the order-statistics
    // sibling of q_hll_rollup. The sample is content-derived (md5
    // bucket, event_id tiebreak), so the DuckDB oracle re-derives the
    // IDENTICAL sample relationally and the estimates hash-match
    // exactly; the in-plan guards pin the estimates within a bound of the
    // exact percentiles (15%, ~2x the measured worst drift at k=512;
    // oracle literal TRUE fails the gate on drift).
    GateQuery(
      "q_quantile_rollup",
      (s, d) => {
        val k = 512
        val ev = events(s, d).select(
          col("event_type"), to_date(col("ts")).as("day"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        val units = Kmv.buildUnits(ev, Seq("event_type", "day"), "event_id", "cents", k)
        val merged = Kmv.mergeOverSlice(units, Seq("event_type"), k)
          .select(col("event_type"), col("n_rows"),
            Kmv.sampleQuantile(col("sample"), 0.5).as("p50_est_x100"),
            Kmv.sampleQuantile(col("sample"), 0.9).as("p90_est_x100"))
        val exact = ev.groupBy("event_type")
          .agg(expr("percentile(cents, array(0.5, 0.9))").as("_ex"))
        merged.join(exact, Seq("event_type"))
          .select(col("event_type"), col("n_rows"),
            col("p50_est_x100"), col("p90_est_x100"),
            (abs(col("p50_est_x100") - element_at(col("_ex"), 1)) <=
              element_at(col("_ex"), 1) * 0.15).as("p50_ok"),
            (abs(col("p90_est_x100") - element_at(col("_ex"), 2)) <=
              element_at(col("_ex"), 2) * 0.15).as("p90_ok"))
          .orderBy("event_type")
      },
      Some(s"""WITH ev AS (
              |  SELECT event_type, CAST(ts AS DATE) AS day, event_id,
              |         CAST(round(value * 100) AS BIGINT) AS cents,
              |         ${SharedOracles.bucketSql("'kmv:' || CAST(event_id AS VARCHAR)")} AS h
              |  -- mirror Kmv.buildUnits: null id/value rows never enter the
              |  -- sample OR the n_rows census on the Spark side
              |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
              |u AS (
              |  SELECT *, row_number() OVER (PARTITION BY event_type, day
              |                               ORDER BY h, event_id) AS rk
              |  FROM ev),
              |s AS (
              |  SELECT event_type, event_id, h, cents,
              |         row_number() OVER (PARTITION BY event_type
              |                            ORDER BY h, event_id) AS rk2
              |  FROM u WHERE rk <= 512),
              |samp AS (SELECT event_type, cents FROM s WHERE rk2 <= 512),
              |sl AS (SELECT event_type, count(*) AS slen FROM samp GROUP BY 1),
              |ordered AS (
              |  SELECT event_type, cents,
              |         row_number() OVER (PARTITION BY event_type ORDER BY cents) AS vr
              |  FROM samp),
              |est AS (
              |  SELECT o.event_type,
              |         max(CASE WHEN vr = greatest(1, CAST(ceil(0.5 * slen) AS BIGINT))
              |                  THEN cents END) AS p50,
              |         max(CASE WHEN vr = greatest(1, CAST(ceil(0.9 * slen) AS BIGINT))
              |                  THEN cents END) AS p90
              |  FROM ordered o JOIN sl USING (event_type) GROUP BY 1),
              |n AS (SELECT event_type, count(*) AS n_rows FROM ev GROUP BY 1)
              |SELECT event_type, n_rows, p50 AS p50_est_x100, p90 AS p90_est_x100,
              |       TRUE AS p50_ok, TRUE AS p90_ok
              |FROM est JOIN n USING (event_type)
              |ORDER BY event_type""".stripMargin)),

    // Count-Min point-frequency estimates, cross-checked against the
    // exact census: the sketch is built (weighted) over the partkey
    // count relation -- CMS is linear, so this equals building over
    // raw occurrences -- and probed for the exact top-20 part keys.
    // The md5-prefix bucket (SharedOracles.bucketSql twin) makes both
    // engines' sketches CELL-IDENTICAL, so est/overcount hash-match
    // exactly, and the never_under column pins the one-sided-error
    // guarantee on real data (2000 distinct keys into width 256 means
    // ~8 keys per cell -- the overcounts are real collisions, not a
    // rigged zero; the documents vocabulary is only 31 tokens, which
    // is why the fixture is lineitem).
    GateQuery(
      "q_cms_counts",
      (s, d) => {
        val cnt = lineitem(s, d)
          .groupBy(col("l_partkey").as("item"))
          .agg(count(lit(1)).as("exact_n"))
        val sketch = CountMin.build(cnt, "item", depth = 4, width = 256,
          weightCol = Some("exact_n"))
        val top = cnt.orderBy(desc("exact_n"), asc("item")).limit(20)
        CountMin.estimate(sketch, top, "item", depth = 4, width = 256)
          .join(top, Seq("item"))
          .select(col("item"), col("exact_n"), col("est_n"),
            (col("est_n") - col("exact_n")).as("overcount"),
            (col("est_n") >= col("exact_n")).as("never_under"))
          .orderBy(desc("exact_n"), asc("item"))
      },
      Some(CmsOracle)),
  )
}
