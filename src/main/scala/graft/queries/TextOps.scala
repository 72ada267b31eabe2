package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Dedup}

/** Training-data-pipeline text operators over the `documents` table:
  * exact dedup, fingerprinting, token counting, quality scoring,
  * language ID, n-gram Jaccard near-dup. All are pure column programs
  * (codegen'd, no UDFs) so they scale linearly with executors; the
  * pairwise Jaccard bounds its candidate set by grouping on `source`
  * (at 100 TB: replace with the MinHash band join in Dedup.scala).
  */
object TextOps {
  import Tables._

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is")
  private val stopListSql = stopwords.map(w => s"'$w'").mkString(", ")

  /** words = whitespace-split of trimmed text. */
  private def withWords(df: DataFrame): DataFrame =
    df.withColumn("words", split(trim(col("text")), " "))

  val queries: Seq[GateQuery] = Seq(

    // Exact dedup: hash-groupBy, keep first row per key, count dups.
    GateQuery(
      "q_dedup_exact",
      (s, d) =>
        events(s, d)
          .groupBy("user_id", "event_type")
          .agg(min("event_id").as("keep_event"), count(lit(1)).as("n_dups"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_groups"),
            sum("n_dups").as("n_rows"),
            max("n_dups").as("max_group"))
          .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n_groups,
             |       CAST(sum(n_dups) AS BIGINT) AS n_rows,
             |       max(n_dups) AS max_group
             |FROM (
             |  SELECT user_id, event_type, min(event_id) AS keep_event,
             |         count(*) AS n_dups
             |  FROM events GROUP BY user_id, event_type)
             |GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // Content fingerprint (md5 of normalized text) → near-exact dedup census.
    GateQuery(
      "q_fingerprint",
      (s, d) =>
        documents(s, d)
          .withColumn("fp", substring(md5(lower(trim(col("text")))), 1, 16))
          .groupBy("source")
          .agg(
            countDistinct(col("fp")).as("n_unique"),
            count(lit(1)).as("n_docs"))
          .orderBy("source"),
      Some("""SELECT source,
             |       count(DISTINCT substr(md5(lower(trim(text))), 1, 16)) AS n_unique,
             |       count(*) AS n_docs
             |FROM documents
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    // Winnowing fingerprints (MOSS): min-hash-per-window selection
    // keeps ~2/(w+1) of the k-gram shingles while guaranteeing any
    // shared run >= w+k-1 tokens still collides — the fingerprint
    // relation (the thing that shuffles) is w-fold smaller than the
    // full shingle explode. Census pins the selected-fingerprint
    // relation AND the candidate pair set (>= 2 shared fps).
    GateQuery(
      "q_winnow_pairs",
      (s, d) => {
        val docs = documents(s, d).select("doc_id", "text")
        val fp = graft.operators.Winnow.fingerprints(docs, "doc_id", "text")
        val pairs = graft.operators.Winnow
          .candidatePairs(docs, "doc_id", "text", minShared = 2)
        fp.agg(
          countDistinct(col("doc_id")).as("n_fp_docs"),
          countDistinct(col("fp")).as("n_fps"))
          .crossJoin(pairs.agg(
            count(lit(1)).as("n_pairs"),
            coalesce(sum("n_shared"), lit(0L)).cast("long").as("sum_shared"),
            coalesce(sum(graft.operators.Curation.hashBucket(
              concat_ws(">", col("id_a"), col("id_b")))), lit(0L))
              .cast("long").as("pair_checksum")))
      },
      Some(s"""WITH w0 AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS words
              |  FROM documents WHERE text IS NOT NULL),
              |g AS (SELECT doc_id, ${SharedOracles.shingleSeq5Sql} AS grams FROM w0),
              |f AS (SELECT doc_id,
              |        CASE WHEN len(grams) >= 4
              |          THEN list_distinct(list_transform(range(len(grams) - 3),
              |                 j -> list_min(grams[CAST(j + 1 AS INT):CAST(j + 4 AS INT)])))
              |          ELSE CAST([] AS VARCHAR[]) END AS fps
              |      FROM g),
              |fp AS (SELECT doc_id, unnest(fps) AS fp FROM f),
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
              |      FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |      GROUP BY 1, 2 HAVING count(*) >= 2)
              |SELECT (SELECT count(DISTINCT doc_id) FROM fp) AS n_fp_docs,
              |       (SELECT count(DISTINCT fp) FROM fp) AS n_fps,
              |       count(*) AS n_pairs,
              |       CAST(coalesce(sum(n_shared), 0) AS BIGINT) AS sum_shared,
              |       CAST(coalesce(sum(${SharedOracles.bucketSql("CAST(id_a AS VARCHAR) || '>' || CAST(id_b AS VARCHAR)")}), 0) AS BIGINT) AS pair_checksum
              |FROM p""".stripMargin)),

    // Token counting (whitespace tokenization) per source.
    GateQuery(
      "q_token_count",
      (s, d) =>
        withWords(documents(s, d))
          .withColumn("n_tokens", size(col("words")))
          .groupBy("source")
          .agg(
            sum("n_tokens").as("sum_tokens"),
            // integer-units (×1e4 long), never round(x, d) doubles —
            // the cross-engine decimal-round flake class
            round(avg("n_tokens") * 10000).cast("long").as("avg_tokens_x1e4"),
            max("n_tokens").as("max_tokens"),
            count(lit(1)).as("n_docs"))
          .orderBy("source"),
      Some(s"""SELECT source, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
              |       CAST(round(avg(n_tokens) * 10000) AS BIGINT) AS avg_tokens_x1e4,
              |       max(n_tokens) AS max_tokens, count(*) AS n_docs
              |FROM (
              |  SELECT source, len(string_split(trim(text), ' ')) AS n_tokens
              |  FROM documents)
              |GROUP BY source
              |ORDER BY source""".stripMargin)),

    // BPE-style regex tokenization (word / number / punctuation
    // classes, no lookahead so Java and RE2 semantics agree).
    GateQuery(
      "q_token_regex",
      (s, d) =>
        documents(s, d)
          .withColumn("toks",
            expr("""regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"""))
          .groupBy("source")
          .agg(
            sum(size(col("toks"))).cast("long").as("sum_tokens"),
            sum(size(expr("filter(toks, t -> t rlike '^[0-9]+$')"))).cast("long").as("n_number_toks"),
            count(lit(1)).as("n_docs"))
          .orderBy("source"),
      Some("""SELECT source,
             |       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS sum_tokens,
             |       CAST(sum(len(list_filter(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'),
             |                                t -> regexp_matches(t, '^[0-9]+$')))) AS BIGINT) AS n_number_toks,
             |       count(*) AS n_docs
             |FROM documents
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    // Quality scoring: stopword ratio + mean token length per language.
    GateQuery(
      "q_quality_score",
      (s, d) =>
        withWords(documents(s, d))
          .withColumn("n_tokens", size(col("words")))
          .withColumn("n_stop",
            size(expr(s"filter(words, w -> w IN ($stopListSql))")))
          .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
          .withColumn("mean_tok_len",
            (length(col("text")) - col("n_tokens") + 1).cast("double") / col("n_tokens"))
          .groupBy("lang")
          .agg(
            round(avg("stop_ratio") * 10000).cast("long").as("avg_stop_ratio_x1e4"),
            round(avg("mean_tok_len") * 10000).cast("long").as("avg_tok_len_x1e4"),
            count(lit(1)).as("n_docs"))
          .orderBy("lang"),
      Some(s"""SELECT lang, CAST(round(avg(stop_ratio) * 10000) AS BIGINT) AS avg_stop_ratio_x1e4,
              |       CAST(round(avg(mean_tok_len) * 10000) AS BIGINT) AS avg_tok_len_x1e4,
              |       count(*) AS n_docs
              |FROM (
              |  SELECT lang,
              |         CAST(len(list_filter(string_split(trim(text), ' '),
              |                              w -> w IN ($stopListSql))) AS DOUBLE)
              |           / len(string_split(trim(text), ' ')) AS stop_ratio,
              |         CAST(length(text) - len(string_split(trim(text), ' ')) + 1 AS DOUBLE)
              |           / len(string_split(trim(text), ' ')) AS mean_tok_len
              |  FROM documents)
              |GROUP BY lang
              |ORDER BY lang""".stripMargin)),

    // Language ID by stopword-hit heuristic, scored against the label.
    GateQuery(
      "q_lang_id",
      (s, d) =>
        withWords(documents(s, d))
          .withColumn("n_stop",
            size(expr(s"filter(words, w -> w IN ($stopListSql))")))
          .withColumn("predicted",
            when(col("n_stop") * 20 >= size(col("words")), lit("en")).otherwise(lit("other")))
          .groupBy("lang", "predicted")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "predicted"),
      Some(s"""SELECT lang, predicted, count(*) AS n
              |FROM (
              |  SELECT lang,
              |         CASE WHEN len(list_filter(string_split(trim(text), ' '),
              |                                   w -> w IN ($stopListSql))) * 20
              |                   >= len(string_split(trim(text), ' '))
              |              THEN 'en' ELSE 'other' END AS predicted
              |  FROM documents)
              |GROUP BY lang, predicted
              |ORDER BY lang, predicted""".stripMargin)),

    // Word-set Jaccard near-dup pairs, scoped per source — runs the
    // MinHash-LSH pipeline with `source` in the band-join key, so the
    // oracle-checked plan is the one that scales (bounded buckets; the
    // all-pairs join never materializes). LSH at b=16/r=4 detects
    // j ≥ 0.9 pairs with p ≈ 1 − 3·10⁻⁸ and the verify is exact, so
    // the census equals the oracle's all-pairs result.
    GateQuery(
      "q_jaccard_pairs",
      (s, d) => {
        // the materialized signature table serves this consumer too
        // (the production shape — signatures computed once at ingest);
        // `source` rides back in via one id-keyed join instead of
        // re-shingling the corpus on a single-partition scan. Per-pair
        // jac quantizes to exact ×1e8 ints BEFORE the per-source fold
        // (the q_dedup_minhash `_jx` idiom), so the mean is one integer
        // half-up division — layout/order-independent, which is what
        // makes the parallel signed scan safe here.
        val signed = ExtOps.cachedSigned(s, d)
          .join(documents(s, d).select("doc_id", "source"), Seq("doc_id"))
        // AQE stays ON here (measured: the setup build's AQE-off scope
        // applied to this gate ran 5.3-7.8 s vs 4.2 s — the source join
        // and per-source band join profit from AQE's runtime broadcast
        // conversion more than they pay in re-planning)
        Dedup.verifiedPairsSigned(signed, "doc_id", 0.9, groupCols = Seq("source"))
          .withColumn("_jx", round(col("jac") * 100000000).cast("long"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_pairs"),
            expr("CAST((2 * sum(CAST(_jx AS DECIMAL(38,0))) + count(1) * 10000)" +
              " div (2 * count(1) * 10000) AS BIGINT)").as("avg_jac_x1e4"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_pairs,
             |       CAST((2 * sum(CAST(round(jac * 100000000) AS HUGEINT)) + count(*) * 10000)
             |            // (2 * count(*) * 10000) AS BIGINT) AS avg_jac_x1e4
             |FROM (
             |  SELECT a.source AS source,
             |         CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)
             |           / (len(a.wset) + len(b.wset) - len(list_intersect(a.wset, b.wset))) AS jac
             |  FROM (SELECT doc_id, source,
             |               list_distinct(string_split(trim(text), ' ')) AS wset
             |        FROM documents) a
             |  JOIN (SELECT doc_id, source,
             |               list_distinct(string_split(trim(text), ' ')) AS wset
             |        FROM documents) b
             |    ON a.source = b.source AND a.doc_id < b.doc_id)
             |WHERE jac >= 0.9
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    // BPE round-0 pair statistics: weighted adjacent character-pair
    // counts over the word-TYPE table (the tokenizer trainer's first
    // argmax input). The distributed counting is what must scale —
    // the greedy merge loop on top is BpeSpec's hand-computed fixture.
    GateQuery(
      "q_bpe_pairs",
      (s, d) => {
        val vocab = Bpe.wordTable(documents(s, d), "text")
          .select(split(col("w"), "").as("toks"), col("freq"))
        Bpe.pairCounts(vocab)
          .orderBy(desc("cnt"), asc("a"), asc("b"))
          .limit(20)
      },
      Some("""WITH w AS (
             |  SELECT w, count(*) AS freq FROM (
             |    SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
             |  WHERE length(w) >= 1 GROUP BY w
             |), p AS (
             |  SELECT substring(w, CAST(i AS INT) + 1, 1) AS a,
             |         substring(w, CAST(i AS INT) + 2, 1) AS b, freq
             |  FROM (SELECT w, freq, unnest(range(length(w) - 1)) AS i FROM w)
             |)
             |SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
             |FROM p GROUP BY a, b
             |ORDER BY cnt DESC, a, b LIMIT 20""".stripMargin)),

    // BPE APPLICATION (the rank-greedy single-pass encoder, native
    // expression): token census over the word-type table after a
    // fixed 3-rule tokenizer including a CHAINED rule ((m, er) fuses
    // a rank-0 product). The oracle is exact because the rules'
    // character sets are disjoint and none self-overlaps: every char
    // occurrence of a rule's concatenation fuses, so post-encode
    // token counts are plain substring arithmetic.
    GateQuery(
      "q_bpe_encode",
      (s, d) => {
        val vocab = Bpe.wordTable(documents(s, d), "text")
          .select(col("w"), split(col("w"), "").as("toks"), col("freq"))
        Bpe.encode(vocab, Seq(("e", "r"), ("a", "s"), ("m", "er")))
          .agg(
            sum(size(col("toks")) * col("freq")).cast("long").as("total_tokens"),
            sum(size(col("toks"))).cast("long").as("type_tokens"),
            count(lit(1)).as("n_types"))
      },
      Some("""WITH w AS (
             |  SELECT w, count(*) AS freq FROM (
             |    SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
             |  WHERE length(w) >= 1 GROUP BY w
             |), t AS (
             |  SELECT freq,
             |         length(w)
             |         - (length(w) - length(replace(w, 'er', ''))) // 2
             |         - (length(w) - length(replace(w, 'as', ''))) // 2
             |         - (length(w) - length(replace(w, 'mer', ''))) // 3 AS n_toks
             |  FROM w
             |)
             |SELECT CAST(sum(n_toks * freq) AS BIGINT) AS total_tokens,
             |       CAST(sum(n_toks) AS BIGINT) AS type_tokens,
             |       count(*) AS n_types
             |FROM t""".stripMargin)),

    // Lexical-diversity census (the Heaps/Zipf corner of a curation
    // report): per-source token count, vocabulary size, hapax count
    // (frequency-1 types — the Zipf tail a diversity monitor watches),
    // and the type-token ratio in integer units. One explode + two
    // keyed aggs; the vocabulary stays a relation, never driver state.
    GateQuery(
      "q_vocab_growth",
      (s, d) => {
        // production tokenizer (whitespaceTokens — what the LM/DSIR
        // consumers of a diversity census use), not the single-space
        // legacy split the minhash-joined gates are pinned to
        val words = documents(s, d)
          .select(col("source"),
            explode(graft.core.Text.whitespaceTokens(col("text"))).as("w"))
          .where(length(col("w")) >= 1)
        val freq = words.groupBy("source", "w").agg(count(lit(1)).as("f"))
        freq.groupBy("source")
          .agg(
            sum("f").cast("long").as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum((col("f") === 1).cast("long")).as("n_hapax"),
            round(count(lit(1)).cast("double") / sum("f") * 1000000)
              .cast("long").as("ttr_x1e6"))
          .orderBy("source")
      },
      Some("""WITH f AS (
             |  SELECT source, w, count(*) AS f FROM (
             |    SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
             |    FROM documents)
             |  WHERE length(w) >= 1 GROUP BY source, w)
             |SELECT source,
             |       CAST(sum(f) AS BIGINT) AS n_tokens,
             |       count(*) AS n_types,
             |       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
             |       CAST(round(CAST(count(*) AS DOUBLE) / sum(f) * 1000000) AS BIGINT) AS ttr_x1e6
             |FROM f GROUP BY source ORDER BY source""".stripMargin)),
  )
}
