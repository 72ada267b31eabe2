package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-column operators over the `embeddings` table: norms,
  * brute-force cosine top-k (the exact ANN baseline), sign-LSH
  * bucketing (the scale path), centroid reduction. Vector math uses
  * higher-order array functions (`transform`/`zip_with`/`aggregate`)
  * — codegen'd, no UDFs, executes element-wise inside the row, so a
  * 100 TB scan stays a single narrow stage.
  *
  * Floats are cast to double BEFORE multiplication on both engines so
  * products are bit-identical; folds run in list order on both.
  */
object VectorOps {
  import Tables._

  /** Σ x²  over an array<double> column. */
  private def sumSq(v: Column): Column =
    aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x)

  /** dot product — delegates to Ann so the fold the oracles are
    * bit-matched against exists in exactly one place.
    */
  private def dot(a: Column, b: Column): Column =
    graft.operators.Ann.dot(a, b)

  private[queries] def withVec(df: DataFrame): DataFrame =
    df.withColumn("v", transform(col("embedding"), x => x.cast("double")))

  private val sqlNormSq =
    "list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

  /** 3-bit sign-LSH bucket — the ONE derivation shared by the bucket
    * census gate (q_ann_buckets) and the recall harness
    * (q_ann_recall), Spark and oracle sides alike, so widening the
    * bucket cannot silently fork the gates into two diverging
    * definitions that both keep passing.
    */
  private[queries] def signBucket3(v: Column): Column =
    when(element_at(v, 1) > 0, 4).otherwise(0) +
      when(element_at(v, 2) > 0, 2).otherwise(0) +
      when(element_at(v, 3) > 0, 1).otherwise(0)

  private[queries] def signBucket3Sql(arr: String): String =
    s"(CASE WHEN $arr[1] > 0 THEN 4 ELSE 0 END" +
      s" + CASE WHEN $arr[2] > 0 THEN 2 ELSE 0 END" +
      s" + CASE WHEN $arr[3] > 0 THEN 1 ELSE 0 END)"

  val queries: Seq[GateQuery] = Seq(

    // L2-norm distribution per label.
    GateQuery(
      "q_vec_norms",
      (s, d) =>
        withVec(embeddings(s, d))
          .withColumn("nrm", sqrt(sumSq(col("v"))))
          .groupBy("label")
          .agg(
            // integer-units (×1e4 long), never round(x, d) doubles —
            // the cross-engine decimal-round flake class
            round(avg("nrm") * 10000).cast("long").as("avg_norm_x1e4"),
            round(min("nrm") * 10000).cast("long").as("min_norm_x1e4"),
            round(max("nrm") * 10000).cast("long").as("max_norm_x1e4"),
            count(lit(1)).as("n"))
          .orderBy("label"),
      Some(s"""SELECT label, CAST(round(avg(nrm) * 10000) AS BIGINT) AS avg_norm_x1e4,
              |       CAST(round(min(nrm) * 10000) AS BIGINT) AS min_norm_x1e4,
              |       CAST(round(max(nrm) * 10000) AS BIGINT) AS max_norm_x1e4, count(*) AS n
              |FROM (SELECT label, sqrt($sqlNormSq) AS nrm FROM embeddings)
              |GROUP BY label
              |ORDER BY label""".stripMargin)),

    // Brute-force cosine top-k against one query vector (exact ANN baseline).
    GateQuery(
      "q_knn_cosine",
      (s, d) => {
        val emb = withVec(embeddings(s, d))
        val qv = broadcast(
          emb.filter(col("vec_id") === 0).select(col("v").as("qv")))
        emb.filter(col("vec_id") =!= 0)
          .crossJoin(qv)
          .withColumn("cos_x1e4",
            round(dot(col("v"), col("qv")) /
              (sqrt(sumSq(col("v"))) * sqrt(sumSq(col("qv")))) * 10000)
              .cast("long"))
          .select("vec_id", "label", "cos_x1e4")
          .orderBy(desc("cos_x1e4"), asc("vec_id"))
          .limit(10)
      },
      Some("""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
             |           FROM embeddings WHERE vec_id = 0)
             |SELECT vec_id, label,
             |       CAST(round(
             |         list_sum(list_transform(list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)), q.qv),
             |                                 p -> struct_extract(p, 1) * struct_extract(p, 2)))
             |         / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |            * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) * 10000) AS BIGINT) AS cos_x1e4
             |FROM embeddings, q
             |WHERE vec_id <> 0
             |ORDER BY cos_x1e4 DESC, vec_id ASC
             |LIMIT 10""".stripMargin)),

    // Sign-LSH bucketing: the ANN scale path (bucket → search in-bucket).
    GateQuery(
      "q_ann_buckets",
      (s, d) =>
        withVec(embeddings(s, d))
          .withColumn("bucket", signBucket3(col("v")))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("n"),
            round(avg(sqrt(sumSq(col("v")))) * 10000).cast("long").as("avg_norm_x1e4"),
            countDistinct(col("label")).as("n_labels"))
          .orderBy("bucket"),
      Some(s"""SELECT ${signBucket3Sql("embedding")} AS bucket,
              |       count(*) AS n,
              |       CAST(round(avg(sqrt($sqlNormSq)) * 10000) AS BIGINT) AS avg_norm_x1e4,
              |       count(DISTINCT label) AS n_labels
              |FROM embeddings
              |GROUP BY bucket
              |ORDER BY bucket""".stripMargin)),

    // Per-label centroid via posexplode + two-level aggregation.
    GateQuery(
      "q_centroids",
      (s, d) =>
        withVec(embeddings(s, d))
          .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("label", "pos")
          .agg(avg("x").as("mean_x"))
          .groupBy("label")
          .agg(
            round(sqrt(sum(col("mean_x") * col("mean_x"))) * 10000)
              .cast("long").as("centroid_norm_x1e4"),
            count(lit(1)).as("n_dims"))
          .orderBy("label"),
      Some("""SELECT label, CAST(round(sqrt(sum(mean_x * mean_x)) * 10000) AS BIGINT) AS centroid_norm_x1e4,
             |       count(*) AS n_dims
             |FROM (
             |  SELECT label, pos, avg(x) AS mean_x
             |  FROM (SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
             |               generate_subscripts(embedding, 1) AS pos
             |        FROM embeddings)
             |  GROUP BY label, pos)
             |GROUP BY label
             |ORDER BY label""".stripMargin)),

    // Weighted mean pooling (the chunk→document embedding aggregation;
    // Ann.meanPool): one vector per label, weighted by a deterministic
    // per-row weight — the census pins the pooled vector's norm, which
    // is sensitive to any mis-weighted, dropped, or misaligned element.
    GateQuery(
      "q_embed_pool",
      (s, d) =>
        graft.operators.Ann.meanPool(withVec(embeddings(s, d)), "label", "v",
            weight = (col("vec_id") % 3 + 1).cast("double"))
          .select(col("label"),
            round(sqrt(aggregate(transform(col("pooled"), x => x * x),
              lit(0.0), (a, x) => a + x)) * 10000).cast("long").as("pooled_norm_x1e4"),
            size(col("pooled")).cast("long").as("n_dims"))
          .orderBy("label"),
      Some("""SELECT label, CAST(round(sqrt(sum(mx * mx)) * 10000) AS BIGINT) AS pooled_norm_x1e4,
             |       CAST(count(*) AS BIGINT) AS n_dims
             |FROM (
             |  SELECT label, pos, sum(x * w) / sum(w) AS mx
             |  FROM (SELECT label, CAST(vec_id % 3 + 1 AS DOUBLE) AS w,
             |               CAST(unnest(embedding) AS DOUBLE) AS x,
             |               generate_subscripts(embedding, 1) AS pos
             |        FROM embeddings)
             |  GROUP BY label, pos)
             |GROUP BY label
             |ORDER BY label""".stripMargin)),

    // Embedding-space drift monitor (Drift.embeddingShift): per-label
    // centroid cosine + norm ratio between the even/odd vec_id halves,
    // with TWO planted drift modes — label 3 gets a +5.0 bump on dim 1
    // (direction shift: cosine drops) and label 5 is scaled ×3
    // (invisible to cosine, loud in the norm ratio) — so the gate
    // pins that each signal catches exactly its drift mode.
    GateQuery(
      "q_drift_embedding",
      (s, d) => {
        val emb = withVec(embeddings(s, d))
        val ref = emb.filter(col("vec_id") % 2 === 0).select(col("label"), col("v"))
        val cur = emb.filter(col("vec_id") % 2 === 1)
          .select(col("label"),
            when(col("label") === 3,
              // open-ended tail slice (size-derived, like the oracle's
              // v[2:]) — a hardcoded length would silently truncate if
              // the testdata regenerates with a different embedding dim
              concat(array(element_at(col("v"), 1) + lit(5.0)),
                slice(col("v"), lit(2), size(col("v")) - 1)))
            .when(col("label") === 5, transform(col("v"), x => x * 3.0))
            .otherwise(col("v")).as("v"))
        graft.operators.Drift.embeddingShift(ref, cur, "label", "v")
          .select(col("label"), col("n_ref"), col("n_cur"),
            // single scaled-integer quantization of the operator's
            // full-precision doubles
            round(col("centroid_cos") * 1000000).cast("long").as("centroid_cos_x1e6"),
            round(col("norm_ratio") * 1000000).cast("long").as("norm_ratio_x1e6"))
      },
      Some("""WITH e AS (
             |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings
             |), refc AS (
             |  SELECT label, list(mx ORDER BY pos) AS c FROM (
             |    SELECT label, pos, avg(x) AS mx
             |    FROM (SELECT label, CAST(unnest(v) AS DOUBLE) AS x,
             |                 generate_subscripts(v, 1) AS pos
             |          FROM e WHERE vec_id % 2 = 0)
             |    GROUP BY label, pos)
             |  GROUP BY label
             |), curv AS (
             |  SELECT label,
             |         CASE WHEN label = 3 THEN list_concat([v[1] + 5.0], v[2:])
             |              WHEN label = 5 THEN list_transform(v, x -> x * 3.0)
             |              ELSE v END AS v
             |  FROM e WHERE vec_id % 2 = 1
             |), curc AS (
             |  SELECT label, list(mx ORDER BY pos) AS c FROM (
             |    SELECT label, pos, avg(x) AS mx
             |    FROM (SELECT label, CAST(unnest(v) AS DOUBLE) AS x,
             |                 generate_subscripts(v, 1) AS pos
             |          FROM curv)
             |    GROUP BY label, pos)
             |  GROUP BY label
             |), n AS (
             |  SELECT label,
             |         CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             |         CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
             |  FROM e GROUP BY label
             |)
             |SELECT n.label, n.n_ref, n.n_cur,
             |       CAST(round(
             |         list_sum(list_transform(list_zip(refc.c, curc.c),
             |                                 p -> struct_extract(p, 1) * struct_extract(p, 2)))
             |         / (sqrt(list_sum(list_transform(refc.c, x -> x * x)))
             |            * sqrt(list_sum(list_transform(curc.c, x -> x * x)))) * 1000000) AS BIGINT)
             |         AS centroid_cos_x1e6,
             |       CAST(round(
             |         sqrt(list_sum(list_transform(curc.c, x -> x * x)))
             |         / sqrt(list_sum(list_transform(refc.c, x -> x * x))) * 1000000) AS BIGINT)
             |         AS norm_ratio_x1e6
             |FROM n JOIN refc ON n.label = refc.label
             |       JOIN curc ON n.label = curc.label
             |ORDER BY n.label""".stripMargin)),

    // END-TO-END drift monitoring: the full production loop in one
    // gate — build an IVF index on the base corpus (vec_id % 3 = 0),
    // append a DRIFTED batch (the rest, with a +10.0 direction bump on
    // dim 1), and require that BOTH independent monitors fire
    // together: the index's sidecar ledger (appended fraction 2/3 +
    // assignment-quality PSI against the build-time baseline →
    // needsRecluster) and the corpus-level embedding-shift alert
    // (base-vs-appended centroid cosine collapses). The ledger
    // internals are not SQL-expressible (they depend on the k-means
    // quantizer), so they stay in-gate as loud requires — the oracle
    // recomputes the embedding-shift census exactly and pins the two
    // alert booleans as literal TRUEs (same convention as
    // q_approx_distinct): a monitor that fails to fire breaks the
    // hash.
    GateQuery(
      "q_drift_monitor",
      (s, d) => {
        import s.implicits._
        val emb = withVec(embeddings(s, d))
        val base = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"), col("v"))
        val drifted = emb.filter(col("vec_id") % 3 =!= 0)
          .select(col("vec_id"),
            concat(array(element_at(col("v"), 1) + lit(10.0)),
              slice(col("v"), lit(2), size(col("v")) - 1)).as("v"))
        val idx = graft.operators.IvfIndex.build(
          base, "v", "vec_id", graft.pipeline.GateArtifacts.fresh("drift_monitor_gate"),
          numCells = 8, seed = 5L)
        graft.operators.IvfIndex.append(idx, drifted, "v")
        val report = graft.operators.IvfIndex.driftReport(idx).getOrElse(
          sys.error("q_drift_monitor: grown index lost its drift ledger"))
        require(report.needsRecluster,
          s"q_drift_monitor: planted drift must trip the ledger, got $report")
        val shift = graft.operators.Drift.embeddingShift(
            base.withColumn("g", lit("all")),
            drifted.withColumn("g", lit("all")), "g", "v")
          .collect().head
        val cos = shift.getAs[Double]("centroid_cos")
        val shiftAlert = cos < 0.9
        require(shiftAlert,
          s"q_drift_monitor: planted drift must trip the embedding-shift alert, cos=$cos")
        Seq((
          shift.getAs[Long]("n_ref"), shift.getAs[Long]("n_cur"),
          math.round(cos * 1000000),
          math.round(shift.getAs[Double]("norm_ratio") * 1000000),
          report.needsRecluster, shiftAlert))
          .toDF("n_ref", "n_cur", "centroid_cos_x1e6", "norm_ratio_x1e6",
            "needs_recluster", "shift_alert")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings
             |), refc AS (
             |  SELECT list(mx ORDER BY pos) AS c FROM (
             |    SELECT pos, avg(x) AS mx
             |    FROM (SELECT CAST(unnest(v) AS DOUBLE) AS x,
             |                 generate_subscripts(v, 1) AS pos
             |          FROM e WHERE vec_id % 3 = 0)
             |    GROUP BY pos)
             |), curv AS (
             |  SELECT list_concat([v[1] + 10.0], v[2:]) AS v
             |  FROM e WHERE vec_id % 3 <> 0
             |), curc AS (
             |  SELECT list(mx ORDER BY pos) AS c FROM (
             |    SELECT pos, avg(x) AS mx
             |    FROM (SELECT CAST(unnest(v) AS DOUBLE) AS x,
             |                 generate_subscripts(v, 1) AS pos
             |          FROM curv)
             |    GROUP BY pos)
             |)
             |SELECT
             |  (SELECT CAST(count(*) AS BIGINT) FROM e WHERE vec_id % 3 = 0) AS n_ref,
             |  (SELECT CAST(count(*) AS BIGINT) FROM e WHERE vec_id % 3 <> 0) AS n_cur,
             |  CAST(round(
             |    list_sum(list_transform(list_zip(refc.c, curc.c),
             |                            p -> struct_extract(p, 1) * struct_extract(p, 2)))
             |    / (sqrt(list_sum(list_transform(refc.c, x -> x * x)))
             |       * sqrt(list_sum(list_transform(curc.c, x -> x * x)))) * 1000000) AS BIGINT)
             |    AS centroid_cos_x1e6,
             |  CAST(round(
             |    sqrt(list_sum(list_transform(curc.c, x -> x * x)))
             |    / sqrt(list_sum(list_transform(refc.c, x -> x * x))) * 1000000) AS BIGINT)
             |    AS norm_ratio_x1e6,
             |  TRUE AS needs_recluster,
             |  TRUE AS shift_alert
             |FROM refc, curc""".stripMargin)),

    // End-to-end RAG-prep funnel: chunk → (deterministic chunk→vector
    // assignment, the model-inference stand-in) → chunk-length-weighted
    // mean-pool per doc → IVF index build → exact k-NN join through the
    // index (nprobe = C). Every stage is oracled alone elsewhere
    // (q_chunk, q_embed_pool, q_ann_ivf*, q_knn_join); THIS gate pins
    // the handoffs — chunk ids → pooled vectors → index rows → join
    // results — where integration bugs live. The census row is fully
    // DuckDB-recomputable: n_index comes from reading the WRITTEN index
    // cells table back while the oracle recomputes the pooled count, so
    // a row lost anywhere in the chain breaks the match.
    GateQuery(
      "q_rag_funnel",
      (s, d) => {
        val docs = fanOut(documents(s, d))  // 1-file scan feeds chunking (Tables.fanOut doc)
        val emb = withVec(embeddings(s, d))
        // measured-left: folding this count into the pipeline as a
        // broadcast 1-row aggregate (one less driver job) ran 1-2 s
        // WORSE isolated — the broadcast wait serializes ahead of the
        // chunk stage; the scalar count is cheaper
        val nEmb = emb.count()
        val chunks = graft.operators.Curation
          .chunkDocuments(docs.select("doc_id", "text"), "text", size = 200, overlap = 50)
        val withVecs = chunks
          .withColumn("vec_id", (col("doc_id") * 7 + col("chunk_idx")) % nEmb)
          .join(emb.select(col("vec_id"), col("v")), Seq("vec_id"))
        val pooled = graft.operators.Ann
          .meanPool(withVecs, "doc_id", "v", weight = length(col("chunk")).cast("double"))
          .select(col("doc_id"), col("pooled").as("v"))
          .persist() // feeds index build, queries, and the census
        try {
          // a stable per-sfDir artifact slot, rebuilt per invocation —
          // NOT a fresh temp dir, which leaked a full IVF index per
          // run (×3 bench repeats + verify) until the JVM exited
          val slot = graft.pipeline.GateArtifacts.buildSlot(d, "rag_idx") { stage =>
            graft.operators.IvfIndex.build(
              pooled, "v", "doc_id", s"$stage/idx", numCells = 4, seed = 11L)
            ()
          }
          val dir = s"$slot/idx"
          val idx = graft.operators.IvfIndex.load(s, dir)
          val nIndex = s.read.parquet(s"$dir/cells").count()
          val knn = graft.operators.IvfIndex.topKJoin(
            s, idx, pooled.filter(col("doc_id") < 5), "v", "doc_id", "doc_id",
            k = 3, nprobe = 4)
          // census collected EAGERLY so `pooled` can be unpersisted on
          // exit (a lazy result would recompute the funnel on write)
          val kr = knn.agg(
            count(lit(1)),
            sum("rank").cast("long"),
            // integer 1e-4 units: each cos is round-4 quantized, so the
            // sum is a decimal multiple of 0.0001 up to ~1e-12 float
            // error — a decimal round at ANY fixed precision can land
            // exactly on a half-way boundary and split the engines
            // (11.0815 did, HALF_UP vs binary-repr), while
            // nearest-integer after ×10⁴ cannot
            round(sum("cos") * 10000).cast("long")).collect().head
          import s.implicits._
          // n_docs counts the RAW scan — counting the fanned-out frame
          // would pay the round-robin exchange just to count rows
          Seq((documents(s, d).count(), chunks.count(), pooled.count(), nIndex,
            kr.getLong(0), kr.getLong(1), kr.getLong(2)))
            .toDF("n_docs", "n_chunks", "n_pooled", "n_index",
              "n_knn", "knn_rank_sum", "knn_cos_sum")
        } finally { pooled.unpersist(blocking = false); () }
      },
      Some("""WITH d AS (
             |  SELECT doc_id, text, length(text) AS len FROM documents
             |  WHERE text IS NOT NULL AND length(text) >= 1
             |), ch AS (
             |  SELECT doc_id,
             |         CAST(unnest(range(greatest(CAST(ceil(CAST(len - 200 AS DOUBLE) / 150) AS BIGINT) + 1, 1))) AS BIGINT) AS ci,
             |         text
             |  FROM d
             |), cw AS (
             |  SELECT doc_id, ci, length(substring(text, CAST(ci AS INT) * 150 + 1, 200)) AS wlen
             |  FROM ch
             |), cv AS (
             |  SELECT cw.doc_id, CAST(cw.wlen AS DOUBLE) AS w, e.embedding
             |  FROM cw JOIN embeddings e
             |    ON e.vec_id = (cw.doc_id * 7 + cw.ci) % (SELECT count(*) FROM embeddings)
             |), ex AS (
             |  SELECT doc_id, w, CAST(unnest(embedding) AS DOUBLE) AS x,
             |         generate_subscripts(embedding, 1) AS pos
             |  FROM cv
             |), pooled AS (
             |  SELECT doc_id, list(mx ORDER BY pos) AS pv
             |  FROM (SELECT doc_id, pos, sum(x * w) / sum(w) AS mx
             |        FROM ex GROUP BY doc_id, pos)
             |  GROUP BY doc_id
             |), pairs AS (
             |  SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
             |         round(
             |           list_sum(list_transform(list_zip(q.pv, c.pv),
             |                                   p -> struct_extract(p, 1) * struct_extract(p, 2)))
             |           / (sqrt(list_sum(list_transform(q.pv, x -> x * x)))
             |              * sqrt(list_sum(list_transform(c.pv, x -> x * x)))), 4) AS cos
             |  FROM pooled q, pooled c WHERE q.doc_id < 5
             |), topk AS (
             |  SELECT query_id, cos,
             |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id ASC) AS rnk
             |  FROM pairs QUALIFY rnk <= 3
             |)
             |SELECT (SELECT count(*) FROM documents) AS n_docs,
             |       (SELECT count(*) FROM ch) AS n_chunks,
             |       (SELECT count(*) FROM pooled) AS n_pooled,
             |       (SELECT count(*) FROM pooled) AS n_index,
             |       (SELECT count(*) FROM topk) AS n_knn,
             |       (SELECT CAST(sum(rnk) AS BIGINT) FROM topk) AS knn_rank_sum,
             |       (SELECT CAST(round(sum(cos) * 10000) AS BIGINT) FROM topk) AS knn_cos_sum""".stripMargin)),

    // ANN QUALITY EVALUATION: recall@10 of the sign-LSH bucketed
    // retrieval vs the exact ground truth — the measurement a real
    // user of the approximate path needs (the other ANN gates pin
    // nprobe = C exactness; this one MEASURES what pruning costs).
    // The bucket is the engine-safe 3-bit sign derivation
    // (q_ann_buckets'), NOT a float-argmax cell assignment that a
    // 1-ulp cosine difference could flip between engines; ranking is
    // by the ×1e4 INTEGER cosine (id tiebreak) on both sides, so both
    // top-10 sets are deterministic and identical across engines.
    // The query sample is ABSOLUTELY bounded (vec_id < 50 — the
    // hard-negatives lesson: an eval harness samples a fixed list,
    // never a corpus fraction), so the scored relation stays linear
    // in the corpus; per-query windows are the documented eval-
    // harness exception (bounded query count × corpus).
    GateQuery(
      "q_ann_recall",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = withVec(embeddings(s, d))
        val q = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            signBucket3(col("v")).as("qb"))
        val c = e.select(col("vec_id").as("cid"), col("v").as("cv"),
          signBucket3(col("v")).as("cb"))
        val scored = broadcast(q).join(c, col("qid") =!= col("cid"))
          .withColumn("cos_x1e4",
            round(graft.operators.Ann.cosine(col("qv"), col("cv")) * 10000)
              .cast("long"))
          .select("qid", "cid", "qb", "cb", "cos_x1e4")
          .persist()
        try {
          def top10(df: DataFrame) =
            df.withColumn("_r", row_number().over(
              Window.partitionBy("qid")
                .orderBy(desc("cos_x1e4"), asc("cid"))))
              .filter(col("_r") <= 10)
          val exact = top10(scored)
            .select(col("qid"), col("cid"), col("_r").as("_re"))
          // the approx rank is never consulted downstream — overlap
          // membership and hit@1 read only the EXACT rank
          val approx = top10(scored.filter(col("qb") === col("cb")))
            .select("qid", "cid")
          val overlap = exact.join(approx, Seq("qid", "cid"))
          val perQ = exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
            .join(overlap.groupBy("qid").agg(
              count(lit(1)).as("n_overlap"),
              sum(when(col("_re") === 1, 1L).otherwise(0L)).as("hit1")),
              Seq("qid"), "left")
            .select(col("qid"), col("n_exact"),
              coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
              coalesce(col("hit1"), lit(0L)).as("hit1"))
          // ONE aggregate row, collected EAGERLY while `scored` is
          // cached — returning the lazy frame would evaluate after the
          // finally unpersists, recomputing the 50×N cosine scan for
          // every downstream branch (the q_rag_funnel lesson)
          val r = perQ.agg(
            count(lit(1)).as("n_queries"),
            sum("n_exact").cast("long").as("n_exact_total"),
            sum("n_overlap").cast("long").as("n_overlap_total"),
            expr("CAST((CAST(sum(n_overlap) AS DECIMAL(38,0)) * 1000000)" +
              " div sum(n_exact) AS BIGINT)").as("recall_ppm"),
            sum("hit1").cast("long").as("n_hit_at_1"),
            min("n_overlap").cast("long").as("min_overlap"))
            .collect().head
          import s.implicits._
          Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5)))
            .toDF("n_queries", "n_exact_total", "n_overlap_total",
              "recall_ppm", "n_hit_at_1", "min_overlap")
        } finally { scored.unpersist(blocking = false); () }
      },
      Some(s"""WITH e AS (
              |  SELECT vec_id,
              |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
              |         ${signBucket3Sql("embedding")} AS b
              |  FROM embeddings),
              |scored AS (
              |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.b AS qb, c.b AS cb,
              |         CAST(round(
              |           list_sum(list_transform(list_zip(q.v, c.v),
              |                                   p -> struct_extract(p, 1) * struct_extract(p, 2)))
              |           / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
              |              * sqrt(list_sum(list_transform(c.v, x -> x * x)))) * 10000)
              |           AS BIGINT) AS cos_x1e4
              |  FROM e q JOIN e c ON q.vec_id < 50 AND q.vec_id <> c.vec_id),
              |ex AS (SELECT qid, cid, r FROM (
              |         SELECT qid, cid,
              |                row_number() OVER (PARTITION BY qid
              |                                   ORDER BY cos_x1e4 DESC, cid) AS r
              |         FROM scored) WHERE r <= 10),
              |ap AS (SELECT qid, cid FROM (
              |         SELECT qid, cid,
              |                row_number() OVER (PARTITION BY qid
              |                                   ORDER BY cos_x1e4 DESC, cid) AS r
              |         FROM scored WHERE qb = cb) WHERE r <= 10),
              |ov AS (SELECT ex.qid, ex.cid, ex.r
              |       FROM ex JOIN ap ON ex.qid = ap.qid AND ex.cid = ap.cid),
              |perq AS (
              |  SELECT g.qid, g.n_exact,
              |         coalesce(o.n_overlap, 0) AS n_overlap,
              |         coalesce(o.hit1, 0) AS hit1
              |  FROM (SELECT qid, count(*) AS n_exact FROM ex GROUP BY qid) g
              |  LEFT JOIN (SELECT qid, count(*) AS n_overlap,
              |                    sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS hit1
              |             FROM ov GROUP BY qid) o ON g.qid = o.qid)
              |SELECT count(*) AS n_queries,
              |       CAST(sum(n_exact) AS BIGINT) AS n_exact_total,
              |       CAST(sum(n_overlap) AS BIGINT) AS n_overlap_total,
              |       CAST((CAST(sum(n_overlap) AS HUGEINT) * 1000000)
              |            // sum(n_exact) AS BIGINT) AS recall_ppm,
              |       CAST(sum(hit1) AS BIGINT) AS n_hit_at_1,
              |       CAST(min(n_overlap) AS BIGINT) AS min_overlap
              |FROM perq""".stripMargin)),
  )
}
