package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators.{Curation, Fuzzy, Graph}

/** Gate queries for the data-mining extension family: exact
  * edit-distance linkage (FastSS deletion neighborhoods), graph
  * triangle/wedge census over a co-occurrence graph, PMI collocation
  * detection, catalog text normalization, contrastive hard-negative
  * mining, and rolling window-frame features. Float quantization
  * follows the house rules: integer-unit projections (×10^d longs),
  * exact-integer ordering keys wherever a float could tie.
  */
object MiningOps {
  import Tables._

  // must precede `queries` (object vals initialize in declaration order)
  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is")
  private val stopListSql = stopwords.map(w => s"'$w'").mkString(", ")

  /** The dirty/clean linkage corpus: catalog strings made unique-ish
    * by appending the size, and a deterministic one-character deletion
    * at position p_partkey % length — the classic typo'd-feed shape.
    */
  private val fuzzyBaseSql =
    """base AS (SELECT p_partkey AS id,
      |                p_name || ' ' || CAST(p_size AS VARCHAR) AS str
      |         FROM part),
      |dirty AS (SELECT id,
      |                 substring(str, 1, CAST(id % length(str) AS INT)) ||
      |                 substring(str, CAST(id % length(str) AS INT) + 2,
      |                           2147483647) AS str
      |          FROM base)""".stripMargin

  /** The Scala twin of [[fuzzyBaseSql]] — ONE derivation of the
    * clean-catalog/typo'd-feed linkage corpus, shared by the fuzzy
    * join gate and the entity-resolution funnel (parallel edits to
    * the corpus would silently make the two gates test different
    * data).
    */
  private def fuzzyCorpus(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val base = part(s, d).select(col("p_partkey").as("id"),
      concat(col("p_name"), lit(" "),
        col("p_size").cast("string")).as("str"))
    val dirty = base.select(col("id"),
      expr("""concat(substring(str, 1, CAST(id % length(str) AS INT)),
             |       substring(str, CAST(id % length(str) AS INT) + 2,
             |                 2147483647))""".stripMargin
        .replaceAll("\\s+", " ")).as("str"))
    (base, dirty)
  }

  /** The lev<=1 match relation over the linkage corpus is derived by
    * TWO gates (q_fuzzy_join_edit censuses it; q_entity_resolution
    * clusters it) — materialize it to parquet once per (JVM, sfDir): the
    * match table IS the lake product downstream linkage jobs consume,
    * and the second consumer reads it instead of re-running the FastSS
    * join.
    */
  private def cachedMatches(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val out = graft.pipeline.GateArtifacts.once(s"fuzzy_matches|$d") { dir =>
      val (base, dirty) = fuzzyCorpus(s, d)
      Fuzzy.editJoin(dirty, "id", "str", base, "id", "str", k = 1)
        .write.mode("overwrite").parquet(s"$dir/matches")
    }
    s.read.parquet(s"$out/matches")
  }

  val queries: Seq[GateQuery] = Seq(

    // EXACT edit-distance linkage (lev <= 1) of a typo'd feed against
    // the clean catalog via FastSS deletion neighborhoods: zero false
    // negatives by construction, verified with the codegen'd
    // levenshtein on candidates only. The oracle is the all-pairs
    // cross join — the ground truth the blocked join must reproduce
    // pair-for-pair (pinned by the id-pair checksum, not just counts).
    GateQuery(
      "q_fuzzy_join_edit",
      (s, d) => {
        cachedMatches(s, d)
          .agg(
            count(lit(1)).as("n_pairs"),
            countDistinct(col("idL")).as("n_matched"),
            sum(when(col("idL") === col("idR"), 1L).otherwise(0L))
              .cast("long").as("n_self"),
            sum(pmod(col("idL") * 1000003L + col("idR") * 31L + col("dist"),
              lit(1000000007L))).cast("long").as("pair_checksum"))
      },
      Some(s"""WITH $fuzzyBaseSql,
              |pairs AS (
              |  SELECT d.id AS idL, c.id AS idR, levenshtein(d.str, c.str) AS dist
              |  FROM dirty d JOIN base c
              |    ON abs(length(d.str) - length(c.str)) <= 1
              |  WHERE levenshtein(d.str, c.str) <= 1)
              |SELECT count(*) AS n_pairs,
              |       count(DISTINCT idL) AS n_matched,
              |       CAST(sum(CASE WHEN idL = idR THEN 1 ELSE 0 END) AS BIGINT) AS n_self,
              |       CAST(sum((idL * 1000003 + idR * 31 + dist) % 1000000007) AS BIGINT) AS pair_checksum
              |FROM pairs""".stripMargin)),

    // Triangle + wedge census over the co-purchase graph (parts
    // sharing an order): degree-ordered orientation bounds wedge
    // fan-in by O(sqrt(m)) per node; the oracle counts the same
    // triangles from the canonical orientation — orientation
    // invariance IS the cross-check. All four outputs are exact longs.
    GateQuery(
      "q_triangle_count",
      (s, d) => {
        val edges = Graph.cooccurrenceEdges(
          lineitem(s, d).select("l_orderkey", "l_partkey"),
          "l_orderkey", "l_partkey")
        Graph.triangleCensus(edges, "a", "b")
      },
      Some("""WITH items AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
             |               FROM lineitem),
             |e AS (SELECT a.i AS a, b.i AS b FROM items a
             |      JOIN items b ON a.g = b.g WHERE a.i < b.i
             |      GROUP BY a.i, b.i),
             |deg AS (SELECT n, count(*) AS d FROM
             |        (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
             |        GROUP BY n)
             |SELECT (SELECT count(*) FROM deg) AS n_nodes,
             |       (SELECT count(*) FROM e) AS n_edges,
             |       (SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT)
             |        FROM deg) AS n_wedges,
             |       (SELECT count(*) FROM e e1
             |        JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
             |        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles"""
        .stripMargin)),

    // PMI collocations (phrase detection a la word2vec preprocessing):
    // bigram/unigram count relations meet in two vocabulary-keyed
    // joins; corpus totals are 1-row aggregates of the already-small
    // count relations (never a second corpus scan). ORDERING is by the
    // exact integer count (bigram tiebreak) so no float ever decides
    // the top-20 membership; the PMI value itself is a ×1e3 integer
    // unit whose ln input is built from the same correctly-rounded
    // double divisions on both engines.
    GateQuery(
      "q_pmi_bigrams",
      (s, d) => {
        val w = documents(s, d).select(split(trim(col("text")), " ").as("w"))
        val uni = w.select(explode(col("w")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cu"))
        val bi = w.filter(size(col("w")) >= 2)
          .select(explode(expr(
            """transform(sequence(1, size(w) - 1),
              |          i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"""
              .stripMargin.replaceAll("\\s+", " "))).as("bigram"))
          .groupBy("bigram").agg(count(lit(1)).as("n"))
        val nUni = uni.agg(sum("cu").cast("double")).head().getDouble(0)
        val nBi = bi.agg(sum("n").cast("double")).head().getDouble(0)
        val u1 = uni.select(col("tok").as("t1"), col("cu").as("c1"))
        val u2 = uni.select(col("tok").as("t2"), col("cu").as("c2"))
        bi.filter(col("n") >= 5)
          .withColumn("t1", split(col("bigram"), " ").getItem(0))
          .withColumn("t2", split(col("bigram"), " ").getItem(1))
          .join(u1, "t1").join(u2, "t2")
          .withColumn("pmi_x1e3",
            round(log(
              (col("n").cast("double") / nBi) /
                ((col("c1").cast("double") / nUni) *
                  (col("c2").cast("double") / nUni))) * 1000)
              .cast("long"))
          .select("bigram", "n", "pmi_x1e3")
          .orderBy(desc("n"), asc("bigram"))
          .limit(20)
      },
      Some("""WITH w AS (SELECT string_split(trim(text), ' ') AS w FROM documents),
             |uni AS (SELECT unnest(w) AS tok FROM w),
             |ucnt AS (SELECT tok, count(*) AS cu FROM uni GROUP BY tok),
             |nu AS (SELECT CAST(sum(cu) AS DOUBLE) AS nu FROM ucnt),
             |bi AS (SELECT unnest(list_transform(range(1, len(w)),
             |                                    i -> w[i] || ' ' || w[i + 1])) AS bigram
             |       FROM w WHERE len(w) >= 2),
             |bcnt AS (SELECT bigram, count(*) AS n FROM bi GROUP BY bigram),
             |nb AS (SELECT CAST(sum(n) AS DOUBLE) AS nb FROM bcnt),
             |sel AS (SELECT b.bigram, b.n, u1.cu AS c1, u2.cu AS c2
             |        FROM bcnt b
             |        JOIN ucnt u1 ON string_split(b.bigram, ' ')[1] = u1.tok
             |        JOIN ucnt u2 ON string_split(b.bigram, ' ')[2] = u2.tok
             |        WHERE b.n >= 5)
             |SELECT bigram, n,
             |       CAST(round(ln((CAST(n AS DOUBLE) / (SELECT nb FROM nb)) /
             |                     ((CAST(c1 AS DOUBLE) / (SELECT nu FROM nu)) *
             |                      (CAST(c2 AS DOUBLE) / (SELECT nu FROM nu)))) * 1000)
             |            AS BIGINT) AS pmi_x1e3
             |FROM sel ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin)),

    // Catalog text normalization (lowercase, punctuation -> space,
    // whitespace squeeze, trim) — the canonicalization step every
    // scraped-metadata pipeline runs before linkage/dedup. Pure narrow
    // column program (one scan, no shuffle except the census agg); the
    // per-row md5-bucket checksum pins the exact normalized CONTENT,
    // not just counts.
    GateQuery(
      "q_normalize_text",
      (s, d) => {
        val raw = concat_ws(" ", col("p_brand"), col("p_type"), col("p_name"))
        part(s, d)
          .select(col("p_partkey").as("id"), raw.as("raw"))
          .withColumn("norm",
            trim(regexp_replace(
              regexp_replace(lower(col("raw")), "[^a-z0-9 ]+", " "),
              " +", " ")))
          .agg(
            count(lit(1)).as("n_rows"),
            sum(when(col("norm") =!= col("raw"), 1L).otherwise(0L))
              .cast("long").as("n_changed"),
            sum(length(col("raw")) - length(col("norm")))
              .cast("long").as("len_delta"),
            sum(Curation.hashBucket(
              concat(col("id").cast("string"), lit(":"), col("norm"))))
              .cast("long").as("norm_checksum"))
      },
      Some(s"""WITH n AS (
              |  SELECT p_partkey AS id,
              |         p_brand || ' ' || p_type || ' ' || p_name AS raw,
              |         trim(regexp_replace(regexp_replace(
              |           lower(p_brand || ' ' || p_type || ' ' || p_name),
              |           '[^a-z0-9 ]+', ' ', 'g'), ' +', ' ', 'g')) AS norm
              |  FROM part)
              |SELECT count(*) AS n_rows,
              |       CAST(sum(CASE WHEN norm <> raw THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
              |       CAST(sum(length(raw) - length(norm)) AS BIGINT) AS len_delta,
              |       CAST(sum(${SharedOracles.bucketSql("CAST(id AS VARCHAR) || ':' || norm")}) AS BIGINT) AS norm_checksum
              |FROM n""".stripMargin)),

    // Contrastive hard-negative mining: for each sampled anchor, the 3
    // most-similar vectors with a DIFFERENT label. The anchor set is
    // the bounded small side (broadcast nested-loop on the label
    // inequality); rank runs per-anchor (never a single global
    // window). Ordering ties break on the ×1e4 integer cosine then
    // neg_id, so rank membership is engine-exact.
    GateQuery(
      "q_hard_negatives",
      (s, d) => {
        val e = fanOut(embeddings(s, d)).withColumn("v",  // 1-file scan feeds anchors-x-corpus cosines (Tables.fanOut doc)
          transform(col("embedding"), x => x.cast("double")))
        def sumSq(v: org.apache.spark.sql.Column) =
          aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x)
        // ABSOLUTELY bounded anchor set (id < 700, not a corpus
        // fraction): anchors are a fixed input list, so the
        // anchors×corpus scan stays LINEAR in the corpus — the x10
        // stress replay measured the fractional version (% 7 alone)
        // going quadratic, 17.8× at 10× data
        val anchors = broadcast(
          e.filter(col("vec_id") % 7 === 0 && col("vec_id") < 700)
            .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
              col("v").as("av")))
        val scored = e
          .select(col("vec_id").as("neg_id"), col("label").as("neg_label"),
            col("v"))
          .join(anchors, col("neg_label") =!= col("a_label"))
          .withColumn("cos_x1e4",
            round(graft.operators.Ann.dot(col("v"), col("av")) /
              (sqrt(sumSq(col("v"))) * sqrt(sumSq(col("av")))) * 10000)
              .cast("long"))
        // two-stage top-3: per-(anchor, 64-way salt) partials cut each
        // window partition to ~1/64 of the per-anchor candidate list
        // (still linear in the corpus — the LINEARITY of this operator
        // comes from the bounded anchor list above, the salt only
        // spreads the rank work across tasks); the final rank is the
        // truly bounded one, ≤ 64·3 survivors per anchor. Identical
        // result to the global window (a global top-3 element is
        // always top-3 within its salt partition).
        val w1 = Window.partitionBy("anchor_id", "_salt")
          .orderBy(desc("cos_x1e4"), asc("neg_id"))
        val w2 = Window.partitionBy("anchor_id")
          .orderBy(desc("cos_x1e4"), asc("neg_id"))
        scored
          .withColumn("_salt", pmod(col("neg_id"), lit(64)))
          .withColumn("_r1", row_number().over(w1))
          .filter(col("_r1") <= 3)
          .withColumn("rnk", row_number().over(w2).cast("long"))
          .filter(col("rnk") <= 3)
          .select("anchor_id", "rnk", "neg_id", "neg_label", "cos_x1e4")
      },
      Some("""WITH e AS (SELECT vec_id, label,
             |                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |           FROM embeddings),
             |a AS (SELECT vec_id AS anchor_id, label AS a_label, v AS av
             |      FROM e WHERE vec_id % 7 = 0 AND vec_id < 700),
             |p AS (SELECT a.anchor_id, c.vec_id AS neg_id, c.label AS neg_label,
             |             CAST(round(
             |               list_sum(list_transform(list_zip(c.v, a.av),
             |                                       p -> struct_extract(p, 1) * struct_extract(p, 2)))
             |               / (sqrt(list_sum(list_transform(c.v, x -> x * x)))
             |                  * sqrt(list_sum(list_transform(a.av, x -> x * x)))) * 10000)
             |             AS BIGINT) AS cos_x1e4
             |      FROM a JOIN e c ON c.label <> a.a_label),
             |r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
             |                                   ORDER BY cos_x1e4 DESC, neg_id ASC) AS rnk
             |      FROM p)
             |SELECT anchor_id, rnk, neg_id, neg_label, cos_x1e4
             |FROM r WHERE rnk <= 3""".stripMargin)),

    // Rolling window-frame features (trailing-4 sums per user
    // timeline) — the ROWS BETWEEN frame the lag/rank gates don't
    // cover. Money stays in exact integer cents end to end; the frame
    // order (ts, event_id) is total, so every rolling sum is
    // engine-exact.
    GateQuery(
      "q_rolling_stats",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id")).rowsBetween(-3, 0)
        events(s, d)
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .withColumn("roll", sum("cents").over(w))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_events"),
            sum("roll").cast("long").as("sum_roll_cents"),
            max("roll").as("max_roll_cents"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (SELECT user_id, event_id, ts,
             |                   CAST(round(value * 100) AS BIGINT) AS cents
             |            FROM events),
             |r AS (SELECT user_id,
             |             sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll
             |      FROM ev)
             |SELECT user_id, count(*) AS n_events,
             |       CAST(sum(roll) AS BIGINT) AS sum_roll_cents,
             |       CAST(max(roll) AS BIGINT) AS max_roll_cents
             |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // DPO/RLHF preference-pair construction: per prompt group, pair
    // the best- and worst-scoring responses. The (score, id) argmax is
    // packed into ONE long (score · 2^23 + id) so chosen/rejected are
    // plain min/max aggregates — no engine-specific struct-ordering or
    // arg_max tie semantics anywhere; ties are impossible because the
    // id occupies the low bits. One shuffle on the group key.
    GateQuery(
      "q_preference_pairs",
      (s, d) => {
        val scored = documents(s, d)
          .withColumn("words", split(trim(col("text")), " "))
          .withColumn("score",
            expr(s"(size(filter(words, w -> w IN ($stopListSql))) * 1000000L)" +
              " div size(words)"))
          .withColumn("pack", col("score") * lit(1L << 23) + col("doc_id"))
        scored
          .groupBy(expr("doc_id div 16").as("grp"))
          .agg(
            count(lit(1)).as("n"),
            max("pack").as("_c"),
            min("pack").as("_r"))
          .filter(col("n") >= 2)
          .select(
            col("grp"), col("n"),
            pmod(col("_c"), lit(1L << 23)).as("chosen_id"),
            pmod(col("_r"), lit(1L << 23)).as("rejected_id"),
            (expr("_c div 8388608") - expr("_r div 8388608"))
              .as("margin_x1e6"))
          .orderBy("grp")
      },
      Some(s"""WITH scored AS (
              |  SELECT doc_id,
              |         (CAST(len(list_filter(string_split(trim(text), ' '),
              |                               w -> w IN ($stopListSql))) AS BIGINT)
              |          * 1000000) // len(string_split(trim(text), ' ')) AS score
              |  FROM documents),
              |packed AS (SELECT doc_id, score,
              |                  score * 8388608 + doc_id AS pack
              |           FROM scored),
              |g AS (SELECT doc_id // 16 AS grp, count(*) AS n,
              |             max(pack) AS c, min(pack) AS r
              |      FROM packed GROUP BY doc_id // 16)
              |SELECT grp, n,
              |       CAST(c % 8388608 AS BIGINT) AS chosen_id,
              |       CAST(r % 8388608 AS BIGINT) AS rejected_id,
              |       CAST(c // 8388608 - r // 8388608 AS BIGINT) AS margin_x1e6
              |FROM g WHERE n >= 2 ORDER BY grp""".stripMargin)),

    // Stratified k-fold assignment: fold membership is a content
    // hash, not RNG state — retry-stable, layout-independent,
    // reproducible in any engine with md5. Census per (fold, lang)
    // pins both the sizes (balance) and the exact membership (id
    // checksum); the sampled relation itself never shuffles.
    GateQuery(
      "q_kfold_split",
      (s, d) =>
        documents(s, d)
          // THE shared split definition (SharedOracles.foldCol) — the
          // same one q_split_leakage audits
          .withColumn("fold", SharedOracles.foldCol(col("doc_id")))
          .groupBy("fold", "lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_chars").cast("long").as("n_chars"),
            sum(Curation.hashBucket(col("doc_id").cast("string")))
              .cast("long").as("id_checksum"))
          .orderBy("fold", "lang"),
      Some(s"""SELECT ${SharedOracles.foldSql("doc_id")} AS fold,
              |       lang, count(*) AS n_docs,
              |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
              |       CAST(sum(${SharedOracles.bucketSql("CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS id_checksum
              |FROM documents
              |GROUP BY 1, 2 ORDER BY fold, lang""".stripMargin)),

    // Off-policy evaluation (IPS / self-normalized IPS) for the
    // decision-log domain: per action, the importance-weighted value
    // estimate under a synthetic-but-deterministic behavior propensity
    // p = k/10, k = 1 + md5bucket % 9. The weight 1/p ships as the
    // EXACT integer 25200/k (2520 = lcm(1..9) scaling), so every sum
    // is long arithmetic — no cross-partition double accumulation
    // anywhere, bit-identical across engines and layouts. One partial+
    // final agg; the SNIPS ratio is exact integer division at the end.
    GateQuery(
      "q_offpolicy_ips",
      (s, d) =>
        events(s, d)
          .withColumn("cents", round(col("value") * 100).cast("long"))
          .withColumn("k",
            pmod(Curation.hashBucket(
              concat(lit("prop:"), col("event_id").cast("string"))), lit(9)) + 1)
          .withColumn("w_x2520", expr("25200L div k"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum("w_x2520").cast("long").as("sum_w_x2520"),
            sum(col("cents") * col("w_x2520")).cast("long")
              .as("ips_sum_x2520c"))
          .withColumn("snips_x1e4",
            expr("(ips_sum_x2520c * 10000L) div sum_w_x2520"))
          .orderBy("event_type"),
      Some(s"""WITH ev AS (
              |  SELECT event_type,
              |         CAST(round(value * 100) AS BIGINT) AS cents,
              |         25200 // (${SharedOracles.bucketSql("'prop:' || CAST(event_id AS VARCHAR)")} % 9 + 1) AS w
              |  FROM events)
              |SELECT event_type, count(*) AS n,
              |       CAST(sum(w) AS BIGINT) AS sum_w_x2520,
              |       CAST(sum(cents * w) AS BIGINT) AS ips_sum_x2520c,
              |       CAST((CAST(sum(cents * w) AS BIGINT) * 10000) // CAST(sum(w) AS BIGINT) AS BIGINT) AS snips_x1e4
              |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Entity-resolution FUNNEL: the full record-linkage chain composed
    // — blocked fuzzy match (FastSS, zero false negatives) → duplicate
    // clusters (min-label propagation over the match graph; base and
    // feed rows become distinct nodes 2·id / 2·id+1) → canonical
    // survivor per cluster (longest string, id tiebreak). Like
    // q_curation_funnel/q_rag_funnel, this gate pins the HANDOFFS
    // between families where integration bugs live; the oracle
    // re-derives every stage independently (all-pairs levenshtein,
    // recursive min-label CTE, window survivor) and the census pins
    // exact node→cluster and cluster→survivor membership via
    // checksums, not just counts.
    GateQuery(
      "q_entity_resolution",
      (s, d) => {
        val (base, dirty) = fuzzyCorpus(s, d)
        val matches = cachedMatches(s, d).persist()
        try {
          val pairs = matches.select(
            (col("idL") * 2 + 1).as("id_a"),
            (col("idR") * 2).as("id_b")).distinct()
          val clusters = graft.operators.Dedup.duplicateClusters(pairs)
          val nodes = base.select((col("id") * 2).as("node"), col("str"))
            .unionByName(dirty.select((col("id") * 2 + 1).as("node"), col("str")))
          val labeled = clusters
            .join(nodes, col("id") === col("node")).drop("node")
            .persist()
          try {
            val surv = labeled.withColumn("_r",
              row_number().over(Window.partitionBy("cluster")
                .orderBy(length(col("str")).desc, col("id").asc)))
              .filter(col("_r") === 1)
            val bucket = (c: org.apache.spark.sql.Column) =>
              graft.operators.Curation.hashBucket(c)
            labeled.agg(
              count(lit(1)).as("n_nodes"),
              countDistinct("cluster").as("n_clusters"),
              sum(bucket(concat_ws(":", col("id"), col("cluster"))))
                .cast("long").as("map_checksum"))
              .crossJoin(labeled.groupBy("cluster").agg(count(lit(1)).as("sz"))
                .agg(max("sz").cast("long").as("max_cluster")))
              .crossJoin(surv.agg(
                sum(bucket(concat_ws(">", col("cluster"), col("id"))))
                  .cast("long").as("surv_checksum"),
                sum(when(pmod(col("id"), lit(2)) === 1, 1L).otherwise(0L))
                  .cast("long").as("n_surv_dirty")))
              .crossJoin(matches.agg(
                countDistinct("idL").as("n_matched_dirty")))
              .crossJoin(dirty.agg(count(lit(1)).as("_n_dirty")))
              .withColumn("n_unmatched_dirty",
                col("_n_dirty") - col("n_matched_dirty"))
              .select("n_nodes", "n_clusters", "max_cluster",
                "n_matched_dirty", "n_unmatched_dirty", "n_surv_dirty",
                "map_checksum", "surv_checksum")
          } finally { labeled.unpersist(blocking = false); () }
        } finally { matches.unpersist(blocking = false); () }
      },
      Some(s"""WITH $fuzzyBaseSql,
              |m AS (SELECT d.id AS idl, c.id AS idr
              |      FROM dirty d JOIN base c
              |        ON abs(length(d.str) - length(c.str)) <= 1
              |      WHERE levenshtein(d.str, c.str) <= 1),
              |pairs AS (SELECT DISTINCT idl * 2 + 1 AS id_a, idr * 2 AS id_b FROM m),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
              |          UNION SELECT id_b, id_a FROM pairs),
              |lab AS (
              |  WITH RECURSIVE walk(id, lbl) AS (
              |    SELECT src, src FROM edges
              |    UNION
              |    SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id
              |    WHERE w.lbl < e.dst
              |  )
              |  SELECT id, min(lbl) AS cluster FROM walk GROUP BY id
              |),
              |nodes AS (SELECT id * 2 AS node, str FROM base
              |          UNION ALL SELECT id * 2 + 1, str FROM dirty),
              |labeled AS (SELECT l.id, l.cluster, n.str
              |            FROM lab l JOIN nodes n ON n.node = l.id),
              |surv AS (SELECT cluster, id AS surv_id FROM (
              |           SELECT cluster, id,
              |                  row_number() OVER (PARTITION BY cluster
              |                                     ORDER BY length(str) DESC, id) AS r
              |           FROM labeled) WHERE r = 1),
              |sizes AS (SELECT cluster, count(*) AS sz FROM labeled GROUP BY cluster)
              |SELECT
              |  (SELECT count(*) FROM labeled) AS n_nodes,
              |  (SELECT count(*) FROM sizes) AS n_clusters,
              |  (SELECT CAST(max(sz) AS BIGINT) FROM sizes) AS max_cluster,
              |  (SELECT count(DISTINCT idl) FROM m) AS n_matched_dirty,
              |  (SELECT count(*) FROM dirty) - (SELECT count(DISTINCT idl) FROM m) AS n_unmatched_dirty,
              |  (SELECT CAST(sum(CASE WHEN surv_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) FROM surv) AS n_surv_dirty,
              |  (SELECT CAST(sum(${SharedOracles.bucketSql("CAST(id AS VARCHAR) || ':' || CAST(cluster AS VARCHAR)")}) AS BIGINT) FROM labeled) AS map_checksum,
              |  (SELECT CAST(sum(${SharedOracles.bucketSql("CAST(cluster AS VARCHAR) || '>' || CAST(surv_id AS VARCHAR)")}) AS BIGINT) FROM surv) AS surv_checksum""".stripMargin)))
}
