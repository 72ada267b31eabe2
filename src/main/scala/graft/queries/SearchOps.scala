package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Bloom, Compact, InvertedIndex, Layout, Search, ZoneMap}
import graft.plans.PlanWalk

/** Lexical + hybrid retrieval gates over `documents`/`embeddings`:
  * TF-IDF weighting, BM25 ranking, and reciprocal-rank fusion of a
  * lexical and a vector ranking (the ids share one keyspace). Rankings
  * are computed over ROUNDED scores on both engines so float summation
  * order can never flip a near-tie across the rank boundary.
  */
object SearchOps {
  import Tables._

  // query terms present in the synthetic corpus vocabulary
  private val QueryTerms = Seq("spark", "join", "merge", "hash")
  private val qTermsSql = QueryTerms.map(t => s"'$t'").mkString(", ")

  // the 16-term Morton interleave, generated term-for-term from the
  // same indices Layout.interleaveBits unrolls — qa/qb are 16-bit
  private val interleaveSql = (0 until 16).map { i =>
    s"(((qa >> $i) & 1) * ${1L << (2 * i)}) + (((qb >> $i) & 1) * ${1L << (2 * i + 1)})"
  }.mkString(" + ")

  // z-ordered lineitem + its footer zone map, materialized once per
  // (JVM, sfDir) — the lake products a table format keeps (the laid-
  // out files plus the stats manifest its commit log carries)
  private[graft] val zonemapSetup = graft.SparkEntry.SetupTask("setup_zonemap_table",
    Set("q_zonemap_prune", "q_zonemap_agg", "q_zonemap_part", "q_bloom_skip",
      "q_dyn_prune", "q_ndv_census", "q_quantile_census", "q_count_star"),
    (s, d, out) => {
      Layout.zOrder(
          lineitem(s, d).select("l_orderkey", "l_quantity", "l_extendedprice"),
          "l_quantity", "l_extendedprice", 24,
          ranges = Some((1.0, 50.0, 900.0, 105000.0)))
        .write.mode("overwrite").parquet(s"$out/table")
      // l_orderkey rides along for the metadata-aggregate gate
      // (q_zonemap_agg): counts + int extrema answerable sidecar-only
      ZoneMap.refreshSidecar(s, s"$out/table",
        Seq("l_quantity", "l_extendedprice", "l_orderkey"))
      // the PARTITIONED lake shape (Hive k=v layout) for the composed-
      // pruning gate: partition dirs by return flag, files range-
      // clustered on quantity within each dir so footer zones are
      // tight on the non-partition dimension too
      lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
        .repartitionByRange(6, org.apache.spark.sql.functions.col("l_quantity"))
        .write.mode("overwrite").partitionBy("l_returnflag")
        .parquet(s"$out/table_part")
      ZoneMap.refreshSidecar(s, s"$out/table_part", Seq("l_quantity"))
      // the UNCLUSTERED point-lookup shape (q_bloom_skip): orders
      // spread round-robin on o_orderkey mod 16, so every file's
      // [min, max] on the id columns covers nearly the whole domain —
      // range zones are provably powerless for an interior key and
      // only the per-file BLOOMS can isolate the holder files
      orders(s, d)
        .withColumn("okey2", col("o_orderkey") * 2)
        .withColumn("okey_str",
          concat(lit("ord-"), lpad(col("o_orderkey").cast("string"), 7, "0")))
        .withColumn("grp", col("o_orderkey") % 16)
        .repartitionByRange(16, col("grp"))
        .drop("grp")
        .write.mode("overwrite").parquet(s"$out/table_id")
      ZoneMap.refreshSidecar(s, s"$out/table_id", Seq("okey2", "okey_str"))
      ZoneMap.refreshBlooms(s, s"$out/table_id", Seq("okey2", "okey_str"))
      // HLL shards for the metadata NDV census gate (q_ndv_census)
      ZoneMap.refreshHlls(s, s"$out/table_id", Seq("okey2", "o_orderstatus"))
      // KLL shards for the metadata quantile census (q_quantile_census)
      ZoneMap.refreshKlls(s, s"$out/table_id", Seq("o_totalprice"))
    })

  val queries: Seq[GateQuery] = Seq(

    // TF-IDF: the inverted-posting relation with weights; top-20 by
    // weight. df/N are relations/1-row aggs — never driver state.
    GateQuery(
      "q_tfidf",
      (s, d) =>
        // integer-units (×1e4 long), never round(x, d) doubles — the
        // cross-engine decimal-round flake class; the quantized score
        // stays the ranking key, so top-k tie-breaks match the oracle
        Search.tfIdf(documents(s, d), "doc_id", "text")
          .withColumn("tfidf_x1e4", round(col("tfidf") * 10000).cast("long"))
          .orderBy(desc("tfidf_x1e4"), asc("doc_id"), asc("term"))
          .limit(20)
          .select("doc_id", "term", "tf", "df", "tfidf_x1e4"),
      Some(s"""WITH tf AS (
              |  SELECT doc_id, term, count(*) AS tf
              |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
              |        FROM documents)
              |  GROUP BY doc_id, term
              |), dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
              |n AS (SELECT count(*) AS n_docs FROM documents)
              |SELECT doc_id, term, tf, df,
              |       CAST(round(tf * ln(CAST(n_docs AS DOUBLE) / df) * 10000) AS BIGINT) AS tfidf_x1e4
              |FROM tf JOIN dfs USING (term), n
              |ORDER BY tfidf_x1e4 DESC, doc_id, term
              |LIMIT 20""".stripMargin)),

    // Okapi BM25 against a 4-term query; top-10 docs.
    GateQuery(
      "q_bm25",
      (s, d) =>
        Search.bm25(documents(s, d), "doc_id", "text", QueryTerms)
          .withColumn("bm25_x1e4", round(col("bm25") * 10000).cast("long"))
          .drop("bm25")
          .orderBy(desc("bm25_x1e4"), asc("doc_id"))
          .limit(10),
      Some(s"""WITH words AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
              |), lens AS (SELECT doc_id, len(ws) AS dl FROM words),
              |tf AS (
              |  SELECT doc_id, term, count(*) AS tf
              |  FROM (SELECT doc_id, unnest(ws) AS term FROM words)
              |  WHERE term IN ($qTermsSql)
              |  GROUP BY doc_id, term
              |), dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
              |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens)
              |SELECT doc_id,
              |       CAST(round(sum(
              |         ln(1 + (n_docs - df + 0.5) / (df + 0.5))
              |         * tf * 2.2
              |         / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) * 10000) AS BIGINT) AS bm25_x1e4
              |FROM tf JOIN dfs USING (term) JOIN lens USING (doc_id), stats
              |GROUP BY doc_id
              |ORDER BY bm25_x1e4 DESC, doc_id
              |LIMIT 10""".stripMargin)),

    // More-like-this: documents ranked by TF-IDF-space cosine against
    // a query DOCUMENT (doc 0) — one posting join on term, norms from
    // the same weighted relation.
    GateQuery(
      "q_more_like_this",
      (s, d) =>
        Search.moreLikeThis(documents(s, d), "doc_id", "text", 0L)
          .withColumn("sim_x1e4", round(col("sim") * 10000).cast("long"))
          .drop("sim")
          .orderBy(desc("sim_x1e4"), asc("doc_id"))
          .limit(10),
      Some("""WITH tf AS (
             |  SELECT doc_id, term, count(*) AS tf
             |  FROM (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
             |        FROM documents)
             |  GROUP BY doc_id, term
             |), dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |w AS (
             |  SELECT doc_id, term, tf * ln(CAST(n_docs AS DOUBLE) / df) AS wt
             |  FROM tf JOIN dfs USING (term), n
             |), norms AS (
             |  SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM w GROUP BY doc_id
             |), q AS (SELECT term, wt FROM w WHERE doc_id = 0),
             |qn AS (SELECT nrm FROM norms WHERE doc_id = 0),
             |dots AS (
             |  SELECT w.doc_id, sum(w.wt * q.wt) AS dt
             |  FROM w JOIN q USING (term) WHERE w.doc_id <> 0
             |  GROUP BY w.doc_id
             |)
             |SELECT doc_id, CAST(round(dt / (norms.nrm * qn.nrm) * 10000) AS BIGINT) AS sim_x1e4
             |FROM dots JOIN norms USING (doc_id), qn
             |ORDER BY sim_x1e4 DESC, doc_id
             |LIMIT 10""".stripMargin)),

    // Bloom-prefiltered semi-join: lineitem rows of high-value orders.
    // The bloom predicate prunes the probe scan before its shuffle;
    // the exact semi join corrects false positives, so the census is
    // identical to the plain semi join the oracle runs.
    GateQuery(
      "q_bloom_semi",
      (s, d) => {
        val li = lineitem(s, d)
        val highValue = orders(s, d).filter(col("o_totalprice") > 400000)
        val expected = highValue.count()
        Bloom.semiJoin(li, highValue, "l_orderkey", "o_orderkey", expected)
          .agg(
            count(lit(1)).as("n_rows"),
            sum("l_quantity").cast("long").as("sum_qty"),
            countDistinct("l_orderkey").as("n_orders"))
      },
      Some("""SELECT count(*) AS n_rows,
             |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
             |       count(DISTINCT l_orderkey) AS n_orders
             |FROM lineitem
             |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
             |                     WHERE o_totalprice > 400000)""".stripMargin)),

    // BM25 through the MATERIALIZED inverted index (term-hash-bucket
    // partition pruning, no query-time joins) — same oracle as q_bm25:
    // the index path must reproduce the direct computation exactly.
    GateQuery(
      "q_inverted_bm25",
      (s, d) => {
        // per-JVM scratch (GateArtifacts.fresh): unique across
        // processes — no cross-process rebuild races
        val dir = graft.pipeline.GateArtifacts.fresh("inv_idx_gate")
        val idx = InvertedIndex.build(documents(s, d), "doc_id", "text", dir)
        InvertedIndex.bm25(s, idx, QueryTerms)
          .select(col("id").as("doc_id"),
            round(col("bm25") * 10000).cast("long").as("bm25_x1e4"))
          .orderBy(desc("bm25_x1e4"), asc("doc_id"))
          .limit(10)
      },
      Some(s"""WITH words AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
              |), lens AS (SELECT doc_id, len(ws) AS dl FROM words),
              |tf AS (
              |  SELECT doc_id, term, count(*) AS tf
              |  FROM (SELECT doc_id, unnest(ws) AS term FROM words)
              |  WHERE term IN ($qTermsSql)
              |  GROUP BY doc_id, term
              |), dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
              |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens)
              |SELECT doc_id,
              |       CAST(round(sum(
              |         ln(1 + (n_docs - df + 0.5) / (df + 0.5))
              |         * tf * 2.2
              |         / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) * 10000) AS BIGINT) AS bm25_x1e4
              |FROM tf JOIN dfs USING (term) JOIN lens USING (doc_id), stats
              |GROUP BY doc_id
              |ORDER BY bm25_x1e4 DESC, doc_id
              |LIMIT 10""".stripMargin)),

    // Z-order (Morton) values over two lineitem dimensions with fixed
    // quantization ranges; census per high-byte bucket pins the exact
    // bit interleave. The layout operator built on this is spec-tested
    // for file-level locality (LayoutSpec).
    GateQuery(
      "q_zorder",
      (s, d) =>
        lineitem(s, d)
          .withColumn("z", Layout.zValue(
            col("l_quantity"), 1.0, 50.0, col("l_extendedprice"), 900.0, 105000.0))
          .withColumn("zbucket", shiftrightunsigned(col("z"), 26))
          .groupBy("zbucket")
          .agg(
            count(lit(1)).as("n"),
            min("z").as("z_min"),
            max("z").as("z_max"),
            sum("z").cast("long").as("z_sum"))
          .orderBy("zbucket"),
      Some(s"""WITH q AS (
              |  SELECT
              |    CAST(least(greatest(round((CAST(l_quantity AS DOUBLE) - 1.0) / 49.0 * 65535.0), 0), 65535) AS BIGINT) AS qa,
              |    CAST(least(greatest(round((CAST(l_extendedprice AS DOUBLE) - 900.0) / 104100.0 * 65535.0), 0), 65535) AS BIGINT) AS qb
              |  FROM lineitem
              |), z AS (SELECT $interleaveSql AS z FROM q)
              |SELECT z >> 26 AS zbucket, count(*) AS n,
              |       min(z) AS z_min, max(z) AS z_max,
              |       CAST(sum(z) AS BIGINT) AS z_sum
              |FROM z
              |GROUP BY zbucket
              |ORDER BY zbucket""".stripMargin)),

    // Manifest-driven data skipping end-to-end: the z-ordered lineitem
    // copy + its parquet-FOOTER zone sidecar answer a 2-D range census
    // through ZoneMap.prunedRead — whole files are dropped BEFORE the
    // scan (the Delta/Iceberg data-skipping shape; at 100 TB the
    // manifest prunes the file listing itself, not just row groups).
    // The oracle computes the same census over the FULL table, so a
    // single wrongly-skipped file fails the hash; skipped_files pins
    // that pruning actually happened (oracle literal TRUE).
    GateQuery(
      "q_zonemap_prune",
      (s, d) => {
        val root = zonemapSetup.dir(s, d)
        val pr = ZoneMap.prunedRead(s, s"$root/table", Seq(
          ZoneMap.NumRange("l_quantity", None, Some(5.0)),
          ZoneMap.NumRange("l_extendedprice", None, Some(20000.0))))
        // SECOND census through the TRANSPARENT rule: ZoneSkipRule on
        // a clone of the session (the extensions-session injection
        // point, via the public ExperimentalMethods hook), a PLAIN
        // filtered read against the sidecar-carrying table, and an
        // in-plan assert that the scan's file list shrank. Its census
        // values become literal columns the oracle re-derives — the
        // rule path is hash-checked end-to-end, not just spec-checked.
        val (ruleN, rulePriceSum, ruleScanned) =
          graft.Sessions.isolatedWithRules(s, r => Seq(graft.plans.ZoneSkipRule(r))) { r =>
            val df = r.read.parquet(s"$root/table")
              .filter(col("l_quantity") <= 5.0 && col("l_extendedprice") <= 20000.0)
              .agg(
                count(lit(1)).as("n"),
                sum(round(col("l_extendedprice") * 100).cast("long")).cast("long")
                  .as("p"))
            // run FIRST, so the walk sees the final adaptive plan
            val row = df.collect().head
            val scanned = PlanWalk.scannedFiles(df)
            require(scanned > 0,
              "q_zonemap_prune: found no file scan in the rule-census plan")
            (row.getLong(0), row.getLong(1), scanned)
          }
        require(ruleScanned < pr.filesTotal,
          s"q_zonemap_prune: the transparent rule scanned all $ruleScanned files")
        pr.df
          .filter(col("l_quantity") <= 5.0 && col("l_extendedprice") <= 20000.0)
          .agg(
            count(lit(1)).as("n"),
            sum(round(col("l_extendedprice") * 100).cast("long")).cast("long")
              .as("price_sum_x100"),
            countDistinct(col("l_orderkey")).as("n_orders"))
          .withColumn("skipped_files", lit(pr.filesKept < pr.filesTotal))
          .withColumn("rule_n", lit(ruleN))
          .withColumn("rule_price_sum_x100", lit(rulePriceSum))
          .withColumn("rule_skipped_files", lit(ruleScanned < pr.filesTotal))
      },
      Some("""SELECT count(*) AS n,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             |         AS price_sum_x100,
             |       count(DISTINCT l_orderkey) AS n_orders,
             |       TRUE AS skipped_files,
             |       count(*) AS rule_n,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             |         AS rule_price_sum_x100,
             |       TRUE AS rule_skipped_files
             |FROM lineitem
             |WHERE l_quantity <= 5.0 AND l_extendedprice <= 20000.0""".stripMargin)),

    // Metadata-ONLY aggregation: count(*) / count(col) / min / max of
    // an integer column answered purely from the zone-map sidecar —
    // zero data files opened (the Iceberg/Delta manifest-census
    // shortcut; at 100 TB this is a sidecar slice + one listing vs
    // scheduling every scan task). The oracle recomputes the census
    // from the DATA, so a single wrong footer fold, a missed file, or
    // a stale entry accepted as fresh fails the hash. Exactness is a
    // precondition, not a hope: aggFromManifest refuses (None) unless
    // every live file carries fresh stats for the column.
    GateQuery(
      "q_zonemap_agg",
      (s, d) => {
        val root = zonemapSetup.dir(s, d)
        // MULTI-column census: one sidecar slice + one listing answer
        // all three columns (the batch shape a catalog endpoint serves)
        val census = ZoneMap.aggFromManifestMulti(s, s"$root/table",
          Seq("l_orderkey", "l_extendedprice"))
        val agg = census("l_orderkey").getOrElse(sys.error(
          "q_zonemap_agg: manifest refused a freshly built table"))
        val (mn, mx) = agg.bounds.getOrElse(
          sys.error("q_zonemap_agg: no exact bounds for an int column"))
        // the REFUSAL contract, oracle-witnessed: the float column's
        // counts are exact metadata, but its bounds MUST be refused
        // (parquet footers drop NaN from min/max — a footer extremum is
        // not Spark's extremum), and the caller falls back to a REAL
        // scan for them. Both the refusal and the fallback values land
        // in the hashed output.
        val prices = census("l_extendedprice").getOrElse(sys.error(
          "q_zonemap_agg: float column counts must still answer"))
        require(prices.bounds.isEmpty,
          "q_zonemap_agg: float bounds must be REFUSED (NaN-blind footers)")
        val scanned = s.read.parquet(s"$root/table")
          .agg(round(min("l_extendedprice") * 100).cast("long"),
            round(max("l_extendedprice") * 100).cast("long")).head()
        s.range(1).select(
          lit(agg.nRows).as("n_rows"),
          lit(agg.nNonNull).as("n_orderkeys"),
          lit(mn.toLong).as("min_orderkey"),
          lit(mx.toLong).as("max_orderkey"),
          lit(prices.nNonNull).as("n_prices"),
          lit(true).as("price_bounds_refused"),
          lit(scanned.getLong(0)).as("min_price_x100"),
          lit(scanned.getLong(1)).as("max_price_x100"))
      },
      Some("""SELECT count(*) AS n_rows,
             |       count(l_orderkey) AS n_orderkeys,
             |       CAST(min(l_orderkey) AS BIGINT) AS min_orderkey,
             |       CAST(max(l_orderkey) AS BIGINT) AS max_orderkey,
             |       count(l_extendedprice) AS n_prices,
             |       TRUE AS price_bounds_refused,
             |       CAST(round(min(l_extendedprice) * 100) AS BIGINT) AS min_price_x100,
             |       CAST(round(max(l_extendedprice) * 100) AS BIGINT) AS max_price_x100
             |FROM lineitem""".stripMargin)),

    // COMPOSED pruning on the common 100 TB lake layout: a Hive-
    // partitioned table (dirs by return flag, files range-clustered on
    // quantity) filtered on BOTH dimensions through the transparent
    // ZoneSkipRule. The rule zone-prunes files INSIDE every partition
    // directory while preserving partition values, and Spark's own
    // partition pruning then drops the other directories — the
    // executed scan reads only the flag='R' partition's zone-surviving
    // files. In-gate asserts pin that both prunings actually fired;
    // the oracle recomputes the census over the FULL lineitem, so a
    // wrongly-dropped file or a lost partition value fails the hash.
    GateQuery(
      "q_zonemap_part",
      (s, d) => {
        val root = zonemapSetup.dir(s, d)
        val table = s"$root/table_part"
        val total = ZoneMap.dataFiles(s, table).length
        graft.Sessions.isolatedWithRules(s, r => Seq(graft.plans.ZoneSkipRule(r))) { r =>
          val df = r.read.parquet(table)
            .filter(col("l_returnflag") === "R" && col("l_quantity") <= 5.0)
            .agg(
              count(lit(1)).as("n"),
              sum(round(col("l_extendedprice") * 100).cast("long")).cast("long")
                .as("price_sum_x100"))
          // run FIRST, so the walk sees the final adaptive plan
          val row = df.collect().head
          val scans = PlanWalk.fileScans(df)
          val keptAcrossParts = scans.map(_.relation.location.inputFiles.length).sum
          val executedFiles = scans.map(_.metrics("numFiles").value).sum
          require(keptAcrossParts > 0,
            "q_zonemap_part: found no file scan in the plan")
          require(keptAcrossParts < total,
            s"q_zonemap_part: zone pruning kept all $total files")
          require(executedFiles < keptAcrossParts,
            s"q_zonemap_part: partition pruning did not compose " +
              s"($executedFiles executed vs $keptAcrossParts zone-kept)")
          s.range(1).select(
            lit(row.getLong(0)).as("n"),
            lit(row.getLong(1)).as("price_sum_x100"),
            lit(true).as("zone_pruned"),
            lit(true).as("partition_pruned"))
        }
      },
      Some("""SELECT count(*) AS n,
             |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             |         AS price_sum_x100,
             |       TRUE AS zone_pruned,
             |       TRUE AS partition_pruned
             |FROM lineitem
             |WHERE l_returnflag = 'R' AND l_quantity <= 5.0""".stripMargin)),

    // BLOOM data skipping on UNCLUSTERED high-cardinality columns —
    // the point-lookup shape min/max zones cannot touch (an id probe
    // over arrival-ordered data: every file's range covers the key).
    // Per-file bloom filters in the sidecar let the transparent rule
    // keep only the holder files; an interior MISS scans ZERO files.
    // In-gate asserts pin all three claims — and that with blooms
    // switched off the SAME query scans every file (ranges provably
    // powerless, so the pruning is attributable to blooms alone). The
    // oracle recomputes every census over the full orders table, so a
    // wrongly-skipped holder fails the hash, not just an assert.
    GateQuery(
      "q_bloom_skip",
      (s, d) => {
        val root = zonemapSetup.dir(s, d)
        val table = s"$root/table_id"
        val total = ZoneMap.dataFiles(s, table).length
        val zoned = (r: SparkSession) => Seq(graft.plans.ZoneSkipRule(r))
        def inCensus(r: SparkSession) = r.read.parquet(table)
          .filter(col("okey2").isin(14L, 422L, 2798L))
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("t"))
        graft.Sessions.isolatedWithRules(s, zoned) { r =>
          val inQ = inCensus(r)
          val inRow = inQ.collect().head
          val inScanned = PlanWalk.scannedFiles(inQ)
          val strQ = r.read.parquet(table)
            .filter(col("okey_str") === "ord-0000211")
            .agg(sum(col("o_custkey")).cast("long").as("c"))
          val strRow = strQ.collect().head
          val strScanned = PlanWalk.scannedFiles(strQ)
          // interior miss: okey2 is even-only, 421 sits inside every
          // file's range — blooms prove absence before any IO
          val missQ = r.read.parquet(table)
            .filter(col("okey2") === 421L).agg(count(lit(1)).as("n"))
          val missRow = missQ.collect().head
          val missScanned = PlanWalk.scannedFiles(missQ)
          // same census, blooms OFF: ranges keep every file — the
          // skipping above is attributable to the blooms alone
          val (rangeRow, rangeScanned) = graft.Sessions.isolatedWithRules(s, zoned,
              "spark.graft.zonemap.bloom" -> "false") { off =>
            val q = inCensus(off)
            (q.collect().head, PlanWalk.scannedFiles(q))
          }
          require(inScanned <= 4 && inScanned < total,
            s"q_bloom_skip: 3-key IN must keep ≤4 of $total files, scanned $inScanned")
          require(strScanned <= 2 && strScanned < total,
            s"q_bloom_skip: string point lookup scanned $strScanned of $total")
          require(missScanned <= 1,
            s"q_bloom_skip: provable miss scanned $missScanned files")
          require(rangeScanned == total,
            s"q_bloom_skip: interleaved layout must make ranges powerless " +
              s"(scanned $rangeScanned of $total with blooms off)")
          require(rangeRow == inRow,
            "q_bloom_skip: bloom-on and bloom-off censuses disagree")
          s.range(1).select(
            lit(inRow.getLong(0)).as("n_in"),
            lit(inRow.getLong(1)).as("total_x100_in"),
            lit(strRow.getLong(0)).as("custkey_str"),
            lit(missRow.getLong(0)).as("n_miss"),
            lit(true).as("bloom_pruned"),
            lit(true).as("range_powerless"))
        }
      },
      Some("""SELECT (SELECT count(*) FROM orders
             |        WHERE o_orderkey IN (7, 211, 1399)) AS n_in,
             |       (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |        FROM orders WHERE o_orderkey IN (7, 211, 1399)) AS total_x100_in,
             |       (SELECT CAST(sum(o_custkey) AS BIGINT) FROM orders
             |        WHERE o_orderkey = 211) AS custkey_str,
             |       (SELECT count(*) FROM orders
             |        WHERE o_orderkey * 2 = 421) AS n_miss,
             |       TRUE AS bloom_pruned,
             |       TRUE AS range_powerless""".stripMargin)),

    // DYNAMIC file skipping: the probe's file list is pruned from the
    // BUILD side's join keys — known only at run time (the Delta
    // "dynamic file pruning" shape; Spark's own runtime bloom filters
    // drop rows inside the scan but still open every file, and its
    // dynamic partition pruning needs a partitioned probe). The build
    // is a runtime-filtered orders slice; its keys turn into range +
    // per-file-bloom predicates over the UNCLUSTERED probe copy, so
    // the join scans only the holder files. The oracle recomputes the
    // join census over the full tables — a wrongly-skipped probe file
    // fails the hash.
    GateQuery(
      "q_dyn_prune",
      (s, d) => {
        val root = zonemapSetup.dir(s, d)
        val table = s"$root/table_id"
        val buildKeys = orders(s, d)
          .filter(col("o_orderkey") % 50000 === 7)
          .select((col("o_orderkey") * 2).as("k"))
        val pr = graft.operators.DynamicPrune.prunedProbe(s, table, "okey2", buildKeys)
        require(pr.nKeys >= 1, "q_dyn_prune: the build slice must be non-empty")
        require(pr.usedBlooms,
          "q_dyn_prune: the key set fits the cap — blooms must engage")
        require(pr.filesKept < pr.filesTotal,
          s"q_dyn_prune: no pruning (${pr.filesKept}/${pr.filesTotal})")
        require(pr.filesKept <= pr.nKeys + 1,
          s"q_dyn_prune: kept ${pr.filesKept} files for ${pr.nKeys} keys")
        pr.df.join(broadcast(buildKeys), pr.df("okey2") === col("k"))
          .agg(count(lit(1)).as("n_join"),
            sum(round(col("o_totalprice") * 100).cast("long")).cast("long")
              .as("total_x100"))
          .withColumn("files_pruned", lit(true))
          .withColumn("used_blooms", lit(true))
      },
      Some("""SELECT count(*) AS n_join,
             |       CAST(sum(CAST(round(p.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |         AS total_x100,
             |       TRUE AS files_pruned,
             |       TRUE AS used_blooms
             |FROM orders p
             |JOIN (SELECT o_orderkey FROM orders WHERE o_orderkey % 50000 = 7) b
             |  ON p.o_orderkey = b.o_orderkey""".stripMargin)),

    // NDV census from METADATA: per-file HLL sketches in the sidecar
    // merge losslessly into the table's distinct-count estimate — the
    // ANALYZE-without-a-rescan loop (Cbo.collectStats pays a full
    // count(distinct) scan every time; the sketch shards maintain
    // incrementally per ingest batch). The estimate is explicitly
    // approximate: the gate hashes the EXACT values (recomputed by a
    // real scan on both engines) and oracle-witnesses that the 2σ
    // bounds bracket the truth — plus exactness at tiny cardinality,
    // where HLL degenerates to a exact set.
    GateQuery(
      "q_ndv_census",
      (s, d) => {
        val root = zonemapSetup.dir(s, d)
        val table = s"$root/table_id"
        val ndvKey = graft.operators.ZoneMap.ndvFromManifest(s, table, "okey2")
          .getOrElse(sys.error("q_ndv_census: fresh table must answer okey2"))
        val ndvStatus = graft.operators.ZoneMap.ndvFromManifest(s, table, "o_orderstatus")
          .getOrElse(sys.error("q_ndv_census: fresh table must answer status"))
        val exact = s.read.parquet(table)
          .agg(countDistinct(col("okey2")).as("k"),
            countDistinct(col("o_orderstatus")).as("st")).head()
        require(ndvKey.lower <= exact.getLong(0) && exact.getLong(0) <= ndvKey.upper,
          s"q_ndv_census: 2σ bounds [${ndvKey.lower}, ${ndvKey.upper}] miss " +
            s"the exact NDV ${exact.getLong(0)}")
        require(ndvStatus.estimate == exact.getLong(1),
          s"q_ndv_census: tiny-cardinality HLL must be exact " +
            s"(${ndvStatus.estimate} vs ${exact.getLong(1)})")
        s.range(1).select(
          lit(exact.getLong(0)).as("ndv_okey"),
          lit(exact.getLong(1)).as("ndv_status"),
          lit(true).as("bounds_bracket"),
          lit(true).as("census_from_metadata"))
      },
      Some("""SELECT (SELECT count(DISTINCT o_orderkey) FROM orders) AS ndv_okey,
             |       (SELECT count(DISTINCT o_orderstatus) FROM orders) AS ndv_status,
             |       TRUE AS bounds_bracket,
             |       TRUE AS census_from_metadata""".stripMargin)),

    // TRANSPARENT count(*) from the manifest: the injected
    // ManifestCountRule turns an unfiltered global count over a
    // fresh-covered table into a LocalRelation — the EXECUTED plan
    // contains no file scan at all (asserted), where Spark's own
    // parquet count optimization still schedules a task per file. A
    // filtered count is the in-gate fallback witness: it must scan,
    // and both answers hash against DuckDB recomputing from the data.
    GateQuery(
      "q_count_star",
      (s, d) => {
        val root = zonemapSetup.dir(s, d)
        val table = s"$root/table_id"
        graft.Sessions.isolatedWithRules(s, r => Seq(graft.plans.ManifestCountRule(r))) { r =>
          val bare = r.read.parquet(table).agg(count(lit(1)).as("n"))
          val n = bare.collect().head.getLong(0)
          require(PlanWalk.scannedFiles(bare) == 0,
            "q_count_star: a covered count(*) must plan ZERO file scans")
          val filtered = r.read.parquet(table)
            .filter(col("o_orderkey") % 2 === 0)
            .agg(count(lit(1)).as("nf"))
          val nf = filtered.collect().head.getLong(0)
          require(PlanWalk.scannedFiles(filtered) > 0,
            "q_count_star: a filtered count must fall back to a scan")
          s.range(1).select(
            lit(n).as("n_rows"),
            lit(nf).as("n_even"),
            lit(true).as("zero_scan_count"))
        }
      },
      Some("""SELECT (SELECT count(*) FROM orders) AS n_rows,
             |       (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_even,
             |       TRUE AS zero_scan_count""".stripMargin)),

    // QUANTILE census from METADATA: per-file KLL sketches merge into
    // the table's percentile estimates — no sort, no scan (the
    // equi-depth/range-partition planning input at 100 TB). Like
    // q_ndv_census the gate hashes EXACT values (quantized-integer
    // percentiles recomputed by scan on both engines) and
    // oracle-witnesses that the sketch estimates land within the
    // published ±2ε rank window around the truth.
    GateQuery(
      "q_quantile_census",
      (s, d) => {
        val root = zonemapSetup.dir(s, d)
        val table = s"$root/table_id"
        val qc = graft.operators.ZoneMap.quantilesFromManifest(
          s, table, "o_totalprice", Seq(0.5, 0.9))
          .getOrElse(sys.error("q_quantile_census: fresh table must answer"))
        val eps = 2.0 * qc.rankError
        val exact = s.read.parquet(table)
          .select(col("o_totalprice"),
            round(col("o_totalprice") * 100).cast("long").as("p100"))
          .agg(
            expr("percentile(p100, 0.5)").as("med"),
            expr("percentile(p100, 0.9)").as("p90"),
            expr(s"percentile(o_totalprice, ${0.5 - eps})").as("m_lo"),
            expr(s"percentile(o_totalprice, ${0.5 + eps})").as("m_hi"),
            expr(s"percentile(o_totalprice, ${0.9 - eps})").as("h_lo"),
            expr(s"percentile(o_totalprice, ${math.min(1.0, 0.9 + eps)})").as("h_hi"),
            count(col("o_totalprice")).as("n"))
          .head()
        require(qc.n == exact.getLong(6),
          s"q_quantile_census: sketch n ${qc.n} != exact ${exact.getLong(6)}")
        require(qc.values(0) >= exact.getDouble(2) && qc.values(0) <= exact.getDouble(3),
          s"q_quantile_census: median estimate ${qc.values(0)} outside " +
            s"the ±2ε rank window [${exact.getDouble(2)}, ${exact.getDouble(3)}]")
        require(qc.values(1) >= exact.getDouble(4) && qc.values(1) <= exact.getDouble(5),
          s"q_quantile_census: p90 estimate ${qc.values(1)} outside " +
            s"the ±2ε rank window [${exact.getDouble(4)}, ${exact.getDouble(5)}]")
        s.range(1).select(
          lit(math.round(exact.getDouble(0))).as("med_x100"),
          lit(math.round(exact.getDouble(1))).as("p90_x100"),
          lit(exact.getLong(6)).as("n_prices"),
          lit(true).as("approx_within_eps"),
          lit(true).as("census_from_metadata"))
      },
      Some("""SELECT CAST(round(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5)) AS BIGINT)
             |         AS med_x100,
             |       CAST(round(quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.9)) AS BIGINT)
             |         AS p90_x100,
             |       count(o_totalprice) AS n_prices,
             |       TRUE AS approx_within_eps,
             |       TRUE AS census_from_metadata
             |FROM orders""".stripMargin)),

    // OPTIMIZE-style compaction end-to-end: a 24-small-file
    // range-clustered orders copy is bin-packed ~4:1 (name-ordered
    // packing preserves the clustering), rewritten, and its zone+bloom
    // sidecar refreshed INCREMENTALLY — after which the transparent
    // rule still prunes the same range census (hash-identical values)
    // and a fresh point lookup scans ONE file. The gate measures the
    // real maintenance loop a 100 TB table runs nightly: list → pack →
    // rewrite → co-maintain indexes → pruning never degrades past the
    // rewrite window.
    GateQuery(
      "q_compact",
      (s, d) => {
        val work = graft.pipeline.GateArtifacts.fresh("compact_gate")
        val table = s"$work/t"
        orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .repartitionByRange(24, col("o_orderkey"))
          .write.mode("overwrite").parquet(table)
        ZoneMap.refreshSidecar(s, table, Seq("o_orderkey"))
        ZoneMap.refreshBlooms(s, table, Seq("o_orderkey"))
        graft.Sessions.isolatedWithRules(s, r => Seq(graft.plans.ZoneSkipRule(r))) { r =>
          def census() = r.read.parquet(table)
            .filter(col("o_orderkey") < 375L)
            .agg(count(lit(1)).as("n"),
              sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("t"))
          val totalBefore = ZoneMap.dataFiles(s, table).length
          val q1 = census()
          val row1 = q1.collect().head
          val kept1 = PlanWalk.scannedFiles(q1)
          require(kept1 < totalBefore,
            s"q_compact: pre-compact census must prune ($kept1/$totalBefore)")
          // pack ~4 neighbors per bin
          val bytes = {
            val p = new org.apache.hadoop.fs.Path(table)
            val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
            fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
              .map(_.getLen).sum
          }
          val res = Compact.compact(r, table,
            targetBytes = bytes * 4 / totalBefore + 1,
            sortCol = Some("o_orderkey"))
          val totalAfter = ZoneMap.dataFiles(s, table).length
          require(totalAfter < totalBefore && res.filesOut < res.filesIn,
            s"q_compact: compaction must shrink the file count " +
              s"($totalBefore -> $totalAfter, $res)")
          val q2 = census()
          val row2 = q2.collect().head
          val kept2 = PlanWalk.scannedFiles(q2)
          require(row2 == row1,
            "q_compact: census values must survive the rewrite bit-exactly")
          require(kept2 < totalAfter,
            s"q_compact: the REFRESHED sidecar must still prune ($kept2/$totalAfter)")
          // point lookup through fresh zones + re-attached blooms
          val ptQ = r.read.parquet(table)
            .filter(col("o_orderkey") === 375L)
            .agg(sum(col("o_custkey")).cast("long").as("c"))
          val ptRow = ptQ.collect().head
          require(PlanWalk.scannedFiles(ptQ) == 1,
            "q_compact: a post-compact point lookup must scan exactly one file")
          s.range(1).select(
            lit(row1.getLong(0)).as("n_small"),
            lit(row1.getLong(1)).as("total_x100_small"),
            lit(ptRow.getLong(0)).as("custkey_pt"),
            lit(true).as("compacted"),
            lit(true).as("pruned_before"),
            lit(true).as("pruned_after"))
        }
      },
      Some("""SELECT (SELECT count(*) FROM orders
             |        WHERE o_orderkey < 375) AS n_small,
             |       (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |        FROM orders WHERE o_orderkey < 375) AS total_x100_small,
             |       (SELECT CAST(sum(o_custkey) AS BIGINT) FROM orders
             |        WHERE o_orderkey = 375) AS custkey_pt,
             |       TRUE AS compacted,
             |       TRUE AS pruned_before,
             |       TRUE AS pruned_after""".stripMargin)),

    // Hybrid retrieval: BM25 top-50 ⊕ cosine-vs-vec-0 top-50, fused by
    // reciprocal rank (k = 60); top-10 of the fused list. Ranks are
    // over rounded scores with id tiebreaks, so both engines rank
    // identically and the fused score is an exact sum of rationals.
    GateQuery(
      "q_hybrid_rrf",
      (s, d) => {
        // distributed top-K (TakeOrdered) FIRST, then the rank window
        // runs over the 50 surviving rows — no global single-partition
        // window over the corpus-sized score relation
        val lex = Search.bm25(documents(s, d), "doc_id", "text", QueryTerms)
          .withColumn("s", round(col("bm25"), 4))
          .orderBy(desc("s"), asc("doc_id")).limit(50)
          .withColumn("rank",
            row_number().over(Window.orderBy(desc("s"), asc("doc_id"))))
          .select(col("doc_id").as("id"), col("rank"))
        val emb = embeddings(s, d)
          .withColumn("v", transform(col("embedding"), x => x.cast("double")))
        val qv = broadcast(
          emb.filter(col("vec_id") === 0).select(col("v").as("qv")))
        val vec = emb.filter(col("vec_id") =!= 0)
          .crossJoin(qv)
          .withColumn("s", round(Ann.cosine(col("v"), col("qv")), 4))
          .orderBy(desc("s"), asc("vec_id")).limit(50)
          .withColumn("rank",
            row_number().over(Window.orderBy(desc("s"), asc("vec_id"))))
          .select(col("vec_id").as("id"), col("rank"))
        Search.rrfFuse(Seq(lex, vec), "id")
          .withColumn("rrf_x1e6", round(col("rrf") * 1000000).cast("long"))
          .orderBy(desc("rrf_x1e6"), asc("id"))
          .limit(10)
          .select("id", "rrf_x1e6", "n_lists")
      },
      Some(s"""WITH words AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
              |), lens AS (SELECT doc_id, len(ws) AS dl FROM words),
              |tf AS (
              |  SELECT doc_id, term, count(*) AS tf
              |  FROM (SELECT doc_id, unnest(ws) AS term FROM words)
              |  WHERE term IN ($qTermsSql)
              |  GROUP BY doc_id, term
              |), dfs AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
              |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
              |bm AS (
              |  SELECT doc_id,
              |         round(sum(
              |           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
              |           * tf * 2.2
              |           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS s
              |  FROM tf JOIN dfs USING (term) JOIN lens USING (doc_id), stats
              |  GROUP BY doc_id
              |), lex AS (
              |  SELECT doc_id AS id,
              |         row_number() OVER (ORDER BY s DESC, doc_id) AS rank
              |  FROM bm QUALIFY rank <= 50
              |), q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
              |         FROM embeddings WHERE vec_id = 0),
              |cosd AS (
              |  SELECT vec_id,
              |         round(
              |           list_sum(list_transform(
              |             list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)), q.qv),
              |             p -> struct_extract(p, 1) * struct_extract(p, 2)))
              |           / (sqrt(list_sum(list_transform(embedding,
              |                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              |              * sqrt(list_sum(list_transform(q.qv, x -> x * x)))), 4) AS s
              |  FROM embeddings, q WHERE vec_id <> 0
              |), vec AS (
              |  SELECT vec_id AS id,
              |         row_number() OVER (ORDER BY s DESC, vec_id) AS rank
              |  FROM cosd QUALIFY rank <= 50
              |), unioned AS (
              |  SELECT id, 1.0 / (60 + rank) AS c FROM lex
              |  UNION ALL
              |  SELECT id, 1.0 / (60 + rank) AS c FROM vec
              |)
              |SELECT id, CAST(round(sum(c) * 1000000) AS BIGINT) AS rrf_x1e6, count(*) AS n_lists
              |FROM unioned
              |GROUP BY id
              |ORDER BY rrf_x1e6 DESC, id
              |LIMIT 10""".stripMargin)))
}
