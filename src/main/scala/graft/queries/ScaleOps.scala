package graft.queries

import org.apache.spark.sql.functions._

import org.apache.spark.sql.SparkSession

import graft.operators.{Bucketed, Curation, Drift, Graph, SetJoin, Skew}

/** Gate queries for the explicit scale-technique operators: salted
  * skew mitigation (result-identical to the plain plan — the oracle IS
  * the plain plan), CCNet-style boilerplate stripping, and the
  * integer-scaled PageRank power iteration (bit-identical across
  * engines because every step is long arithmetic — no FP
  * accumulation-order drift to quantize away).
  */
object ScaleOps {
  import Tables._

  private val PrScale = 1000000000L
  private val PrDamp = 85L

  /** Unrolled integer PageRank oracle: 5 chained (contrib, rank) CTE
    * pairs mirroring Graph.pageRankInt's long math exactly (`//` on
    * positive longs == Spark `div`).
    */
  private val pageRankSql: String = {
    val iters = (1 to 5).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst AS node, sum(($prev.r * e.w) // e.outw) AS cs
         |  FROM e JOIN $prev ON $prev.node = e.src GROUP BY e.dst),
         |r$i AS (
         |  SELECT nodes.node,
         |         ((100 - $PrDamp) * CAST($PrScale AS BIGINT)) // (100 * (SELECT n FROM nn))
         |           + ($PrDamp * coalesce(c$i.cs, 0)) // 100 AS r
         |  FROM nodes LEFT JOIN c$i USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT event_type AS src,
       |         lead(event_type) OVER (PARTITION BY user_id
       |                                ORDER BY ts, event_id) AS dst
       |  FROM events),
       |e0 AS (SELECT src, dst, count(*) AS w FROM ev
       |       WHERE dst IS NOT NULL GROUP BY src, dst),
       |nodes AS (SELECT DISTINCT node FROM
       |          (SELECT src AS node FROM e0 UNION SELECT dst FROM e0)),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |od AS (SELECT src, sum(w) AS outw FROM e0 GROUP BY src),
       |e AS (SELECT e0.src, e0.dst, e0.w, od.outw FROM e0 JOIN od USING (src)),
       |r0 AS (SELECT node, CAST($PrScale AS BIGINT) // (SELECT n FROM nn) AS r FROM nodes),
       |$iters
       |SELECT node AS event_type, CAST(r AS BIGINT) AS rank_x1e9
       |FROM r5 ORDER BY event_type""".stripMargin
  }

  // Bucketed copies of lineitem/orders, written ONCE per (JVM, sfDir)
  // — the production shape: the bucketed LAYOUT is a table property
  // paid at write time, amortized over every later co-located join.
  private def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val li = s"graft_bkt_lineitem_$hex"
    val ord = s"graft_bkt_orders_$hex"
    graft.pipeline.GateArtifacts.once(s"bucketed|$d") { root =>
      Bucketed.writeBucketed(
        Tables.lineitem(s, d).select(col("l_orderkey").as("okey"),
          col("l_extendedprice")), s"$root/li", li, "okey", 8)
      Bucketed.writeBucketed(
        Tables.orders(s, d).select(col("o_orderkey").as("okey"),
          col("o_orderpriority")), s"$root/ord", ord, "okey", 8)
    }
    (li, ord)
  }

  val queries: Seq[GateQuery] = Seq(

    // Co-located join over same-spec bucketed tables: zero exchanges on
    // either join side (plan-asserted in BucketedSpec) — the layout
    // pays the shuffle once at write. Oracle = the plain join, proving
    // the bucketed read path loses no rows and the per-bucket merge is
    // exact.
    GateQuery(
      "q_bucketed_join",
      (s, d) => {
        val (li, ord) = bucketedTables(s, d)
        Bucketed.coLocatedJoin(s, li, ord, "okey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(expr("CAST(round(l_extendedprice * 100) AS LONG)"))
              .as("sum_price_x100"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o.o_orderpriority, count(*) AS n_items,
             |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_x100
             |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin)),

    // Salted two-phase aggregation over the hot event-type keys: the
    // oracle is the PLAIN group-by — the gate proves the salted plan
    // (content-hash salt, partial-on-(key,salt) then final-on-key) is
    // result-identical, which is the whole point of the technique.
    // Per-row x100 long quantization (2-decimal source data) keeps the
    // sums integer-exact on both engines.
    GateQuery(
      "q_salted_agg",
      (s, d) => {
        val ev = events(s, d).select(col("event_type"),
          round(col("value") * 100).cast("long").as("v100"),
          lit(1L).as("n_events"))
        Skew.saltedAgg(ev, "event_type", salts = 16,
          partial = Map("v100" -> (c => sum(c)), "n_events" -> (c => sum(c))),
          finalAgg = Map("v100" -> (c => sum(c)), "n_events" -> (c => sum(c))))
          .select(col("event_type"), col("v100").as("sum_v_x100"),
            col("n_events").cast("long").as("n_events"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
             |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_x100,
             |       count(*) AS n_events
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Salted fact⋈dim join (hot source keys spread 8 ways, dim
    // replicated per salt): again oracle = the plain join. The dim
    // weight is content-derived (md5 bucket) so the weighted checksum
    // pins every joined row.
    GateQuery(
      "q_salted_join",
      (s, d) => {
        val docs = documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        val dim = documents(s, d).select("source").distinct()
          .withColumn("w", Curation.hashBucket(concat(lit("dimw:"), col("source"))))
        Skew.saltedJoin(docs, dim, "source", salts = 8)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars") * col("w")).cast("long").as("weighted_chars"))
          .orderBy("source")
      },
      Some(s"""WITH dim AS (
              |  SELECT source, ${SharedOracles.bucketSql("'dimw:' || source")} AS w
              |  FROM (SELECT DISTINCT source FROM documents))
              |SELECT d.source, count(*) AS n_docs,
              |       CAST(sum(d.n_chars * dim.w) AS BIGINT) AS weighted_chars
              |FROM documents d JOIN dim ON d.source = dim.source
              |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // CCNet boilerplate stripping: 8-token lines, drop lines present in
    // >= 3 DISTINCT docs. The census pins the doc count, how many docs
    // lost lines, total/removed line counts, and the REBUILT text of
    // every document via the md5-bucket checksum — a line kept or cut
    // differently on either engine breaks the hash.
    GateQuery(
      "q_boilerplate_strip",
      (s, d) => {
        Curation.stripBoilerplate(
            documents(s, d).select("doc_id", "text"),
            "doc_id", "text", lineTokens = 8, minDocs = 3)
          .agg(
            count(lit(1)).as("n_docs"),
            sum((col("n_removed") > 0).cast("long")).as("n_affected"),
            sum("n_lines").cast("long").as("total_lines"),
            sum("n_removed").cast("long").as("n_removed"),
            sum(Curation.hashBucket(concat(col("doc_id").cast("string"),
              lit(":"), col("text_clean")))).cast("long").as("clean_checksum"))
      },
      Some(s"""WITH t AS (
              |  SELECT doc_id,
              |         list_filter(regexp_split_to_array(trim(text), '\\s+'),
              |                     x -> x <> '') AS w
              |  FROM documents),
              |ld AS (SELECT doc_id, (len(w) + 7) // 8 AS nl, w FROM t),
              |l AS (SELECT doc_id, unnest(range(nl)) AS li, w FROM ld),
              |keyed AS (
              |  SELECT doc_id, li,
              |         array_to_string(w[CAST(li * 8 + 1 AS INT):CAST(least((li + 1) * 8, len(w)) AS INT)], ' ') AS txt
              |  FROM l),
              |hashed AS (SELECT doc_id, li, txt, substring(md5(txt), 1, 16) AS key FROM keyed),
              |flagged AS (SELECT key FROM hashed GROUP BY key
              |            HAVING count(DISTINCT doc_id) >= 3),
              |kept AS (SELECT * FROM hashed WHERE key NOT IN (SELECT key FROM flagged)),
              |reb AS (SELECT doc_id, array_to_string(list(txt ORDER BY li), ' ') AS clean,
              |               count(*) AS nk
              |        FROM kept GROUP BY doc_id),
              |docs AS (
              |  SELECT ld.doc_id, ld.nl, coalesce(reb.clean, '') AS clean,
              |         ld.nl - coalesce(reb.nk, 0) AS nrem
              |  FROM ld LEFT JOIN reb ON ld.doc_id = reb.doc_id)
              |SELECT count(*) AS n_docs,
              |       CAST(sum(CASE WHEN nrem > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_affected,
              |       CAST(sum(nl) AS BIGINT) AS total_lines,
              |       CAST(sum(nrem) AS BIGINT) AS n_removed,
              |       CAST(sum(${SharedOracles.bucketSql("CAST(doc_id AS VARCHAR) || ':' || clean")}) AS BIGINT) AS clean_checksum
              |FROM docs""".stripMargin)),

    // Source-authority ranking: event-type transition graph (lead over
    // each user's timeline, ONE window pass over the log) -> 5 rounds
    // of integer-scaled PageRank. Long-only math makes the ranks
    // BIT-identical across engines and partition layouts — the oracle
    // unrolls the same iteration in SQL.
    GateQuery(
      "q_pagerank_events",
      (s, d) => {
        val edges = Graph.transitions(events(s, d),
          "user_id", "event_type", "ts", "event_id")
        Graph.pageRankInt(edges, "src", "dst", "w",
            iterations = 5, scale = PrScale, dampNum = PrDamp)
          .select(col("node").as("event_type"), col("r").as("rank_x1e9"))
          .orderBy("event_type")
      },
      Some(pageRankSql)),

    // EXACT set-similarity join (prefix filtering): zero false
    // negatives by theorem, no sketches — the same all-pairs oracle
    // q_dedup_minhash matches probabilistically is matched here
    // deterministically, cross-validating two independent algorithms
    // against one ground truth.
    GateQuery(
      "q_set_join_exact",
      (s, d) => {
        SetJoin.jaccardJoin(fanOut(documents(s, d)).select("doc_id", "text"),  // Tables.fanOut doc
            "doc_id", "text", 0.9)
          .withColumn("_jx", round(col("jac") * 100000000).cast("long"))
          .agg(
            count(lit(1)).as("n_pairs"),
            expr("CAST((2 * sum(CAST(_jx AS DECIMAL(38,0))) + count(1) * 10000)" +
              " div (2 * count(1) * 10000) AS BIGINT)").as("avg_jac_x1e4"),
            countDistinct(col("id_a")).as("n_left_docs"))
      },
      Some(SharedOracles.allPairsJaccardCensus)),

    // EXACT directed shingle-CONTAINMENT join (|A∩B| / |A| >= 0.8
    // over 5-gram shingle sets): the asymmetric dedup-ladder member —
    // Jaccard is blind to a small doc quoted verbatim inside a big
    // one, and unigram word sets are structurally dense (see the
    // operator Scaladoc's measured comparison). One-sided prefix
    // filter (pigeonhole on A only; B indexes its full shingle set),
    // exact intersect verify. The checksum pins the DIRECTED pair set.
    GateQuery(
      "q_containment_join",
      (s, d) => {
        SetJoin.containmentJoin(fanOut(documents(s, d)).select("doc_id", "text"),  // Tables.fanOut doc
            "doc_id", "text", 0.8)
          .agg(
            count(lit(1)).as("n_pairs"),
            countDistinct(col("id_a")).as("n_contained"),
            round(avg("cont") * 10000).cast("long").as("avg_cont_x1e4"),
            sum(Curation.hashBucket(concat_ws(">", col("id_a"), col("id_b"))))
              .cast("long").as("pair_checksum"))
      },
      Some(s"""WITH w0 AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS words
              |  FROM documents WHERE text IS NOT NULL),
              |w AS (
              |  SELECT doc_id, ${SharedOracles.shingle5Sql} AS s FROM w0),
              |wf AS (SELECT * FROM w WHERE len(s) > 0),
              |p AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS cont
              |  FROM wf a JOIN wf b ON a.doc_id <> b.doc_id)
              |SELECT count(*) AS n_pairs,
              |       count(DISTINCT id_a) AS n_contained,
              |       CAST(round(avg(cont) * 10000) AS BIGINT) AS avg_cont_x1e4,
              |       CAST(sum(${SharedOracles.bucketSql("CAST(id_a AS VARCHAR) || '>' || CAST(id_b AS VARCHAR)")}) AS BIGINT) AS pair_checksum
              |FROM p WHERE cont >= 0.8""".stripMargin)),

    // Corpus release diff: derive the "next release" deterministically
    // (md5-bucket 10% deletions, 10% text edits, 5% additions — all
    // integer-exact bucket*k < 2^28 comparisons on both engines), then
    // classify every id via snapshotDiff's content-hash full-outer
    // join. The per-status id checksums pin the exact membership of
    // each class, not just the counts.
    GateQuery(
      "q_snapshot_diff",
      (s, d) => {
        val docs = documents(s, d).select("doc_id", "text")
        val B = Curation.BucketSpace
        def bkt(tag: String) =
          Curation.hashBucket(concat(lit(tag), col("doc_id").cast("string")))
        val next = docs
          .filter(bkt("del:") * 10 >= B)
          .withColumn("text",
            when(bkt("chg:") * 10 < B, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
          .unionByName(docs.filter(bkt("add:") * 20 < B)
            .select((col("doc_id") + 10000000L).as("doc_id"),
              concat(lit("new "), col("text")).as("text")))
        Curation.snapshotDiff(docs, next, "doc_id", Seq("text"))
          .groupBy("status")
          .agg(count(lit(1)).as("n"),
            sum(Curation.hashBucket(col("doc_id").cast("string")))
              .cast("long").as("id_checksum"))
          .orderBy("status")
      },
      Some(s"""WITH docs AS (SELECT doc_id, text FROM documents),
              |nxt AS (
              |  SELECT doc_id,
              |         CASE WHEN ${SharedOracles.bucketSql("'chg:' || CAST(doc_id AS VARCHAR)")} * 10 < 268435456
              |              THEN text || ' v2' ELSE text END AS text
              |  FROM docs
              |  WHERE ${SharedOracles.bucketSql("'del:' || CAST(doc_id AS VARCHAR)")} * 10 >= 268435456
              |  UNION ALL
              |  SELECT doc_id + 10000000, 'new ' || text FROM docs
              |  WHERE ${SharedOracles.bucketSql("'add:' || CAST(doc_id AS VARCHAR)")} * 20 < 268435456
              |),
              |ph AS (SELECT doc_id, md5(coalesce(CAST(to_json(text) AS VARCHAR), 'null')) AS h FROM docs),
              |nh AS (SELECT doc_id, md5(coalesce(CAST(to_json(text) AS VARCHAR), 'null')) AS h FROM nxt),
              |j AS (SELECT coalesce(ph.doc_id, nh.doc_id) AS doc_id,
              |             CASE WHEN ph.doc_id IS NULL THEN 'added'
              |                  WHEN nh.doc_id IS NULL THEN 'removed'
              |                  WHEN ph.h <> nh.h THEN 'changed'
              |                  ELSE 'unchanged' END AS status
              |      FROM ph FULL OUTER JOIN nh ON ph.doc_id = nh.doc_id)
              |SELECT status, count(*) AS n,
              |       CAST(sum(${SharedOracles.bucketSql("CAST(doc_id AS VARCHAR)")}) AS BIGINT) AS id_checksum
              |FROM j GROUP BY status ORDER BY status""".stripMargin)),

    // Categorical frequency drift: even users are the reference, odd
    // users the current window with 20% of events (md5-bucket on
    // event_id) remapped to a NEW category — the gate pins per-category
    // observed/expected counts, the chi-square contribution, and the
    // appeared-category flag. Expected/chi2 are single fixed-order
    // double expressions from integer inputs (bit-identical on both
    // engines), never cross-partition accumulations.
    GateQuery(
      "q_drift_categorical",
      (s, d) => {
        val ev = events(s, d)
        val ref = ev.filter(col("user_id") % 2 === 0)
        val cur = ev.filter(col("user_id") % 2 === 1)
          .withColumn("event_type",
            when(Curation.hashBucket(concat(lit("cat:"),
                col("event_id").cast("string"))) * 5 < Curation.BucketSpace,
              lit("novel_type")).otherwise(col("event_type")))
        Drift.categoricalShift(ref, cur, "event_type")
          .select(col("event_type").as("category"),
            col("n_ref"), col("n_cur"),
            round(col("expected") * 1000000).cast("long").as("expected_x1e6"),
            round(col("chi2_term") * 1000000).cast("long").as("chi2_x1e6"),
            col("is_new").cast("long").as("is_new"),
            col("is_gone").cast("long").as("is_gone"))
          .orderBy("category")
      },
      Some(s"""WITH refs AS (
              |  SELECT event_type AS cat FROM events WHERE user_id % 2 = 0),
              |curs AS (
              |  SELECT CASE WHEN ${SharedOracles.bucketSql("'cat:' || CAST(event_id AS VARCHAR)")} * 5 < 268435456
              |              THEN 'novel_type' ELSE event_type END AS cat
              |  FROM events WHERE user_id % 2 = 1),
              |r AS (SELECT cat, count(*) AS n_ref FROM refs GROUP BY cat),
              |c AS (SELECT cat, count(*) AS n_cur FROM curs GROUP BY cat),
              |j AS (SELECT coalesce(r.cat, c.cat) AS category,
              |             coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
              |      FROM r FULL OUTER JOIN c ON r.cat IS NOT DISTINCT FROM c.cat),
              |t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j),
              |e AS (SELECT category, n_ref, n_cur,
              |             CAST(n_ref AS DOUBLE) * tc / tr AS expected,
              |             n_cur - CAST(n_ref AS DOUBLE) * tc / tr AS dev
              |      FROM j, t)
              |SELECT category, n_ref, n_cur,
              |       CAST(round(expected * 1000000) AS BIGINT) AS expected_x1e6,
              |       CASE WHEN n_ref = 0 THEN NULL
              |            ELSE CAST(round(dev * dev / expected * 1000000) AS BIGINT) END AS chi2_x1e6,
              |       CAST(n_ref = 0 AS BIGINT) AS is_new,
              |       CAST(n_cur = 0 AS BIGINT) AS is_gone
              |FROM e ORDER BY category""".stripMargin)),

    // Curriculum staging: exact NTILE over (n_chars, doc_id) computed
    // WITHOUT a corpus-wide window (histogram offset + within-score
    // row_number — see Curation.curriculumStages); the oracle is the
    // PLAIN ntile/row_number window, so the gate proves the
    // distributed rank derivation exactly reproduces the standard
    // semantics. rank_checksum pins every row's global rank;
    // order_checksum pins the within-stage shuffle keys.
    GateQuery(
      "q_curriculum",
      (s, d) => {
        val staged = Curation.curriculumStages(
          documents(s, d).select("doc_id", "n_chars"),
          "doc_id", "n_chars", stages = 4)
        val shuf = Curation.hashBucket(
          concat(lit("cur:7:"), col("doc_id").cast("string")))
        // per-row modular fold to 2^31 before summing: the raw
        // Σ shuf·doc_id passes 2^63 at x10 stress ids (ANSI overflow);
        // folded terms keep the sum under 2^62 to ~2^31 rows
        staged.groupBy("stage")
          .agg(
            count(lit(1)).as("n_docs"),
            min("n_chars").as("min_score"),
            max("n_chars").as("max_score"),
            sum(pmod(col("_rank") * col("doc_id"), lit(2147483648L)))
              .cast("long").as("rank_checksum"),
            sum(pmod(shuf * col("doc_id"), lit(2147483648L)))
              .cast("long").as("order_checksum"))
          .orderBy("stage")
      },
      Some(s"""WITH k AS (
              |  SELECT doc_id, n_chars,
              |         row_number() OVER (ORDER BY n_chars, doc_id) AS rnk,
              |         ntile(4) OVER (ORDER BY n_chars, doc_id) AS stage,
              |         ${SharedOracles.bucketSql("'cur:7:' || CAST(doc_id AS VARCHAR)")} AS shuf
              |  FROM documents)
              |SELECT stage, count(*) AS n_docs,
              |       min(n_chars) AS min_score, max(n_chars) AS max_score,
              |       CAST(sum((rnk * doc_id) % 2147483648) AS BIGINT) AS rank_checksum,
              |       CAST(sum((shuf * doc_id) % 2147483648) AS BIGINT) AS order_checksum
              |FROM k GROUP BY stage ORDER BY stage""".stripMargin)))
}
