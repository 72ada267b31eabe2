package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Curation}

/** Gate queries for the corpus-curation operators: deterministic
  * stratified sampling, token-budget shard packing, eval-set
  * decontamination, repetition/quality signals, denylist+PII
  * redaction, embedding quantization, and the cross-source
  * contamination matrix. Every query here has a DuckDB oracle — the
  * hash-derived decisions are md5-based precisely so a second engine
  * can reproduce them bit-for-bit.
  */
object CurationOps {
  import Tables._

  /** Oracle fragment: the 28-bit md5 sampling bucket (mirrors
    * Curation.hashBucket).
    */
  private def bucketSql(key: String): String = SharedOracles.bucketSql(key)

  /** Oracle fragment: distinct 16-hex-md5 5-gram shingles (now the
    * shared definition in [[SharedOracles.shingle5Sql]] — the
    * containment-join gate must agree on it too).
    */
  private val shingleSql = SharedOracles.shingle5Sql

  val queries: Seq[GateQuery] = Seq(

    // Deterministic per-stratum sampling: down-weight two sources to
    // 10%, keep the rest at 40%. Census proves per-stratum achieved
    // rates (a filter, zero shuffle — the 100 TB plan is the scan).
    // Concat-then-chunk sequence packing (Curation.packSequences):
    // per-source token streams cut into 256-token training sequences
    // with documents SPLIT across boundaries. The census pins fragment
    // counts, sequence counts, the no-loss token total, how many docs
    // split, and a position-sensitive Σ seq_id·doc_id + seq_off
    // checksum — any mis-offset fragment breaks the hash.
    GateQuery(
      "q_pack_sequences",
      (s, d) => {
        val toks = documents(s, d)
          .withColumn("n_tokens", size(split(trim(col("text")), " ")))
        val packed = Curation.packSequences(
          toks.select("doc_id", "source", "n_tokens"),
          "source", Seq("doc_id"), "n_tokens", seqLen = 256L)
        val frag = packed.groupBy("source").agg(
          count(lit(1)).as("n_fragments"),
          (max("seq_id") + 1).cast("long").as("n_sequences"),
          sum("n_in_seq").cast("long").as("packed_tokens"),
          sum(col("seq_id") * col("doc_id") + col("seq_off"))
            .cast("long").as("pack_checksum"))
        val splitDocs = packed.groupBy("source", "doc_id")
          .agg(count(lit(1)).as("_nf"))
          .groupBy("source")
          .agg(sum((col("_nf") > 1).cast("long")).as("n_split_docs"))
        frag.join(splitDocs, Seq("source")).orderBy("source")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, source, len(string_split(trim(text), ' ')) AS n
             |  FROM documents
             |), st AS (
             |  SELECT doc_id, source, n,
             |         CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
             |                           ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS strt
             |  FROM t WHERE n > 0
             |), f AS (
             |  SELECT doc_id, source, n, strt,
             |         unnest(range(strt // 256, (strt + n - 1) // 256 + 1)) AS seq_id
             |  FROM st
             |), frag AS (
             |  SELECT doc_id, source, seq_id,
             |         greatest(strt, seq_id * 256) AS sfrom,
             |         least(strt + n, (seq_id + 1) * 256) - 1 AS sto
             |  FROM f
             |), pd AS (
             |  SELECT source, doc_id, count(*) AS nf FROM frag GROUP BY source, doc_id
             |)
             |SELECT fr.source, fr.n_fragments, fr.n_sequences, fr.packed_tokens,
             |       fr.pack_checksum, p.n_split_docs
             |FROM (SELECT source, count(*) AS n_fragments,
             |             CAST(max(seq_id) + 1 AS BIGINT) AS n_sequences,
             |             CAST(sum(sto - sfrom + 1) AS BIGINT) AS packed_tokens,
             |             CAST(sum(seq_id * doc_id + (sfrom - seq_id * 256)) AS BIGINT) AS pack_checksum
             |      FROM frag GROUP BY source) fr
             |JOIN (SELECT source, CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
             |      FROM pd GROUP BY source) p USING (source)
             |ORDER BY source""".stripMargin)),

    // Deterministic corpus shuffle (training-order reproducibility):
    // the md5-bucket sort key pins the SAME permutation on every run
    // and engine. The census fixes both the head of the order (top-10
    // under seed 7) and the ENTIRE permutation via the
    // order-independent Σ key·doc_id checksum — any id mapping to a
    // different key breaks the hash.
    GateQuery(
      "q_shuffle",
      (s, d) => {
        val docs = documents(s, d).select("doc_id")
        val key = Curation.hashBucket(
          concat_ws("", lit("shuf:7:"), col("doc_id").cast("string")))
        val head = Curation.deterministicShuffle(docs, "doc_id", seed = 7L)
          .limit(10)
          .agg(
            sum("doc_id").cast("long").as("head_id_sum"),
            min("doc_id").as("head_min_id"),
            max("doc_id").as("head_max_id"))
        head.crossJoin(docs.agg(
          count(lit(1)).as("n"),
          sum(key * col("doc_id")).cast("long").as("perm_checksum")))
      },
      Some(s"""WITH k AS (
              |  SELECT doc_id, ${bucketSql("'shuf:7:' || CAST(doc_id AS VARCHAR)")} AS key
              |  FROM documents
              |), head AS (
              |  SELECT doc_id FROM k ORDER BY key, doc_id LIMIT 10
              |)
              |SELECT (SELECT CAST(sum(doc_id) AS BIGINT) FROM head) AS head_id_sum,
              |       (SELECT min(doc_id) FROM head) AS head_min_id,
              |       (SELECT max(doc_id) FROM head) AS head_max_id,
              |       (SELECT count(*) FROM k) AS n,
              |       (SELECT CAST(sum(key * doc_id) AS BIGINT) FROM k) AS perm_checksum""".stripMargin)),

    GateQuery(
      "q_stratified_sample",
      (s, d) =>
        Curation.stratifiedSample(documents(s, d), "doc_id", "source",
            Map("src0" -> 0.1, "src1" -> 0.1), 0.4)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            sum(size(split(trim(col("text")), " "))).cast("long").as("kept_tokens"))
          .orderBy("source"),
      Some(s"""SELECT source, count(*) AS n_kept,
              |       CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS kept_tokens
              |FROM documents
              |WHERE ${bucketSql("source || ':' || CAST(doc_id AS VARCHAR)")}
              |      < CASE WHEN source IN ('src0', 'src1') THEN 0.1 ELSE 0.4 END * 268435456
              |GROUP BY source
              |ORDER BY source""".stripMargin)),

    // Token-budget shard packing (budget 256): prefix-sum shard
    // assignment within each source, then per-source packing census.
    GateQuery(
      "q_pack_shards",
      (s, d) => {
        val toks = documents(s, d)
          .withColumn("n_tokens", size(split(trim(col("text")), " ")))
        Curation.packShards(toks, "source", "doc_id", "n_tokens", 256L)
          .groupBy("source", "shard")
          .agg(sum("n_tokens").cast("long").as("shard_tokens"),
            count(lit(1)).as("n_docs"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_shards"),
            max("shard_tokens").as("max_shard_tokens"),
            sum("n_docs").cast("long").as("n_docs"),
            // exact integer fill: Σ tokens · 1e4 / (256·n) as ONE
            // half-up division — no float sum, no decimal round
            expr("CAST((2 * sum(CAST(shard_tokens AS DECIMAL(38,0))) * 10000" +
              " + 256 * count(1)) div (2 * 256 * count(1)) AS BIGINT)")
              .as("avg_fill_x1e4"))
          .orderBy("source")
      },
      Some("""WITH t AS (
             |  SELECT source, doc_id, len(string_split(trim(text), ' ')) AS n_tokens
             |  FROM documents
             |), c AS (
             |  SELECT source, n_tokens,
             |         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |                             ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM t
             |), per AS (
             |  SELECT source, CAST(floor((cum - n_tokens) / 256.0) AS BIGINT) AS shard,
             |         CAST(sum(n_tokens) AS BIGINT) AS shard_tokens, count(*) AS n_docs
             |  FROM c GROUP BY source, shard
             |)
             |SELECT source, count(*) AS n_shards, max(shard_tokens) AS max_shard_tokens,
             |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
             |       CAST((2 * sum(CAST(shard_tokens AS HUGEINT)) * 10000 + 256 * count(*))
             |            // (2 * 256 * count(*)) AS BIGINT) AS avg_fill_x1e4
             |FROM per GROUP BY source ORDER BY source""".stripMargin)),

    // Exactly-7-per-source deterministic sample: full membership is
    // the gate output (not just counts), so the oracle pins every
    // chosen id.
    GateQuery(
      "q_sample_exact",
      (s, d) =>
        Curation.sampleExactPerGroup(documents(s, d), "doc_id", "source", 7)
          .select("source", "doc_id")
          .orderBy("source", "doc_id"),
      Some(s"""SELECT source, doc_id
              |FROM (
              |  SELECT source, doc_id,
              |         row_number() OVER (
              |           PARTITION BY source
              |           ORDER BY ${bucketSql("source || ':' || CAST(doc_id AS VARCHAR)")},
              |                    doc_id) AS rn
              |  FROM documents)
              |WHERE rn <= 7
              |ORDER BY source, doc_id""".stripMargin)),

    // Incremental dedup: the doc_id % 10 = 0 slice plays the freshly
    // arrived batch, the rest the existing lake; only delta↔corpus
    // pairs may appear (corpus-internal near-dups must NOT be
    // re-found — the oracle's join is asymmetric too).
    GateQuery(
      "q_dedup_delta",
      (s, d) => {
        // the cached signature TABLE serves the incremental path too —
        // signing is per-row deterministic, so splitting the signed
        // relation equals signing the splits
        val signed = ExtOps.cachedSigned(s, d)
        val delta = signed.filter(col("doc_id") % 10 === 0)
        val corpus = signed.filter(col("doc_id") % 10 =!= 0)
        graft.operators.Dedup.deltaPairsSigned(delta, corpus, "doc_id", 0.9)
          // per-pair jac quantized to exact ×1e8 ints (identical
          // doubles on both engines — same integer division), then an
          // integer half-up average — no float accumulates
          .withColumn("_jx", round(col("jac") * 100000000).cast("long"))
          .agg(
            count(lit(1)).as("n_pairs"),
            expr("CAST((2 * sum(CAST(_jx AS DECIMAL(38,0))) + count(1) * 10000)" +
              " div (2 * count(1) * 10000) AS BIGINT)").as("avg_jac_x1e4"),
            countDistinct(col("id_delta")).as("n_delta_docs"))
      },
      Some("""SELECT count(*) AS n_pairs,
             |       CAST((2 * sum(CAST(round(jac * 100000000) AS HUGEINT)) + count(*) * 10000)
             |            // (2 * count(*) * 10000) AS BIGINT) AS avg_jac_x1e4,
             |       count(DISTINCT id_delta) AS n_delta_docs
             |FROM (
             |  SELECT a.doc_id AS id_delta,
             |         CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)
             |           / (len(a.wset) + len(b.wset) - len(list_intersect(a.wset, b.wset))) AS jac
             |  FROM (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS wset
             |        FROM documents WHERE doc_id % 10 = 0) a
             |  JOIN (SELECT doc_id, list_distinct(string_split(trim(text), ' ')) AS wset
             |        FROM documents WHERE doc_id % 10 <> 0) b
             |    ON true)
             |WHERE jac >= 0.9""".stripMargin)),

    // Eval-set decontamination: eval = doc_id % 17 = 0; flag training
    // docs sharing ≥ 2 distinct 5-gram shingles with any eval doc.
    GateQuery(
      "q_decontaminate",
      (s, d) => {
        val docs = fanOut(documents(s, d))  // 1-file scan feeds the shingle explode (Tables.fanOut doc)
        val eval  = docs.filter(col("doc_id") % 17 === 0)
        val train = docs.filter(col("doc_id") % 17 =!= 0)
        Curation.decontaminate(train, eval, "doc_id", "text", n = 5, minHits = 2)
          .agg(
            count(lit(1)).as("n_flagged"),
            sum("n_hits").cast("long").as("total_hits"),
            min("doc_id").as("first_flagged"))
      },
      Some(s"""WITH w AS (
              |  SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents
              |), sh AS (
              |  SELECT doc_id, unnest($shingleSql) AS sh FROM w
              |), ev AS (
              |  SELECT DISTINCT sh FROM sh WHERE doc_id % 17 = 0
              |), hits AS (
              |  SELECT t.doc_id, count(*) AS n_hits
              |  FROM (SELECT doc_id, sh FROM sh WHERE doc_id % 17 <> 0) t
              |  JOIN ev USING (sh)
              |  GROUP BY t.doc_id
              |)
              |SELECT count(*) AS n_flagged, CAST(sum(n_hits) AS BIGINT) AS total_hits,
              |       min(doc_id) AS first_flagged
              |FROM hits WHERE n_hits >= 2""".stripMargin)),

    // Span-level decontamination (Dedup.cutSharedSubstrings): every
    // 8-token window a train doc shares with the eval split
    // (doc_id % 17 = 0) is merged into maximal spans and CUT, keeping
    // the rest of the document — the surgical variant of
    // q_decontaminate's whole-doc drop. The near-dup-heavy fixture
    // guarantees organic cross-split quotes; windows are md5-keyed so
    // both engines flag bit-identical positions.
    GateQuery(
      "q_decontaminate_spans",
      (s, d) => {
        val docs = documents(s, d).select("doc_id", "source", "text")
        val evalSet = docs.filter(col("doc_id") % 17 === 0)
        val train = docs.filter(col("doc_id") % 17 =!= 0)
        graft.operators.Dedup.cutSharedSubstrings(
            train, "doc_id", "text", evalSet, "text", minLen = 8)
          .join(train.select("doc_id", "source"), Seq("doc_id"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum((col("n_removed") > 0).cast("long")).as("n_affected"),
            sum("n_tokens").cast("long").as("total_tokens"),
            sum("n_removed").cast("long").as("tokens_removed"),
            sum("n_spans").cast("long").as("n_spans"))
          .orderBy("source")
      },
      Some("""WITH cw AS (
             |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS words FROM documents
             |), win AS (
             |  SELECT doc_id, words, unnest(range(len(words) - 7)) AS pos
             |  FROM cw WHERE len(words) >= 8
             |), keyed AS (
             |  SELECT doc_id, pos,
             |         substr(md5(array_to_string(words[CAST(pos + 1 AS INT):CAST(pos + 8 AS INT)], ' ')), 1, 16) AS h
             |  FROM win
             |), evk AS (
             |  SELECT DISTINCT h FROM keyed WHERE doc_id % 17 = 0
             |), flagged AS (
             |  SELECT doc_id, pos FROM keyed JOIN evk USING (h)
             |  WHERE doc_id % 17 <> 0
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
             |WHERE doc_id % 17 <> 0
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    // Cross-document repeated-passage census: token 8-grams shared by
    // ≥ 2 distinct documents (exact substring duplication, the
    // suffix-array-dedup signal re-expressed as one hash aggregation).
    // The near-dup-heavy documents fixture guarantees a rich repeated
    // set; doc-frequency vs occurrence-count split pins that
    // within-document repeats count toward occurrences but not docs.
    GateQuery(
      "q_repeated_ngrams",
      (s, d) =>
        Curation.repeatedPassages(fanOut(documents(s, d)), "doc_id", "text",  // 1-file scan feeds the ngram explode (Tables.fanOut doc)
          n = 8, minDocs = 2)
          .agg(
            count(lit(1)).as("n_repeated"),
            sum("n_docs").cast("long").as("sum_docs"),
            sum("n_occurrences").cast("long").as("sum_occurrences"),
            max("n_docs").cast("long").as("max_docs"),
            min("ngram").as("first_ngram")),
      Some("""WITH w AS (
             |  SELECT doc_id, string_split(trim(text), ' ') AS words
             |  FROM documents
             |  WHERE text IS NOT NULL AND len(string_split(trim(text), ' ')) >= 8
             |), g AS (
             |  SELECT doc_id,
             |         unnest(list_transform(range(len(words) - 7),
             |                i -> array_to_string(words[CAST(i + 1 AS INT):CAST(i + 8 AS INT)], ' '))) AS ngram
             |  FROM w
             |), c AS (
             |  SELECT ngram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
             |  FROM g GROUP BY ngram HAVING count(DISTINCT doc_id) >= 2
             |)
             |SELECT count(*) AS n_repeated,
             |       CAST(sum(n_docs) AS BIGINT) AS sum_docs,
             |       CAST(sum(n_occurrences) AS BIGINT) AS sum_occurrences,
             |       CAST(max(n_docs) AS BIGINT) AS max_docs,
             |       min(ngram) AS first_ngram
             |FROM c""".stripMargin)),

    // Gopher/C4-style repetition signals: duplicate-word fraction and
    // top-bigram fraction per document, censused per source. Pure
    // column programs (the per-doc O(n²) distinct-count is bounded by
    // document length, not corpus size).
    GateQuery(
      "q_repetition",
      (s, d) => {
        val words = split(trim(col("text")), " ")
        val bigrams = transform(sequence(lit(0), size(words) - 2),
          i => concat(element_at(words, i + 1), lit(" "), element_at(words, i + 2)))
        val topBg = array_max(transform(array_distinct(col("bg")),
          x => size(filter(col("bg"), y => y === x))))
        documents(s, d)
          .withColumn("n_words", size(words))
          .withColumn("n_distinct", size(array_distinct(words)))
          // per-doc fracs quantized to EXACT ×1e8 integer units (one
          // integer half-up division each), then averaged in integer
          // arithmetic — the old avg(double) summed in partial-agg
          // order, the remaining FP boundary one layer down
          .withColumn("dup_x1e8", expr(
            "(2 * CAST(n_words - n_distinct AS BIGINT) * 100000000 + n_words)" +
              " div (2 * CAST(n_words AS BIGINT))"))
          .withColumn("bg", when(col("n_words") >= 2, bigrams).otherwise(array()))
          .withColumn("top_bg", topBg)
          .withColumn("top_x1e8", expr(
            "CASE WHEN n_words >= 2 THEN" +
              " (2 * CAST(top_bg AS BIGINT) * 100000000 + (n_words - 1))" +
              " div (2 * CAST(n_words - 1 AS BIGINT)) ELSE 0 END"))
          .groupBy("source")
          .agg(
            expr("CAST((2 * sum(CAST(dup_x1e8 AS DECIMAL(38,0))) + count(dup_x1e8) * 10000)" +
              " div (2 * count(dup_x1e8) * 10000) AS BIGINT)").as("avg_dup_frac_x1e4"),
            expr("CAST((2 * sum(CAST(top_x1e8 AS DECIMAL(38,0))) + count(top_x1e8) * 10000)" +
              " div (2 * count(top_x1e8) * 10000) AS BIGINT)").as("avg_top_bg_frac_x1e4"),
            expr("CAST((2 * max(top_x1e8) + 10000) div 20000 AS BIGINT)")
              .as("max_top_bg_frac_x1e4"),
            count(lit(1)).as("n_docs"))
          .orderBy("source")
      },
      Some("""WITH w AS (
             |  SELECT source, string_split(trim(text), ' ') AS words FROM documents
             |), m AS (
             |  SELECT source, len(words) AS n_words,
             |         (2 * CAST(len(words) - len(list_distinct(words)) AS HUGEINT) * 100000000
             |          + len(words)) // (2 * CAST(len(words) AS HUGEINT)) AS dup_x1e8,
             |         CASE WHEN len(words) >= 2 THEN
             |           list_transform(range(len(words) - 1),
             |                          i -> words[CAST(i + 1 AS INT)] || ' ' || words[CAST(i + 2 AS INT)])
             |         ELSE CAST([] AS VARCHAR[]) END AS bg
             |  FROM w
             |), t AS (
             |  SELECT source, dup_x1e8,
             |         CASE WHEN n_words >= 2 THEN
             |           (2 * CAST(list_max(list_transform(list_distinct(bg),
             |                        x -> len(list_filter(bg, y -> y = x)))) AS HUGEINT)
             |                 * 100000000 + (n_words - 1)) // (2 * CAST(n_words - 1 AS HUGEINT))
             |         ELSE 0 END AS top_x1e8
             |  FROM m
             |)
             |SELECT source,
             |       CAST((2 * sum(CAST(dup_x1e8 AS HUGEINT)) + count(dup_x1e8) * 10000)
             |            // (2 * count(dup_x1e8) * 10000) AS BIGINT) AS avg_dup_frac_x1e4,
             |       CAST((2 * sum(CAST(top_x1e8 AS HUGEINT)) + count(top_x1e8) * 10000)
             |            // (2 * count(top_x1e8) * 10000) AS BIGINT) AS avg_top_bg_frac_x1e4,
             |       CAST((2 * max(top_x1e8) + 10000) // 20000 AS BIGINT) AS max_top_bg_frac_x1e4,
             |       count(*) AS n_docs
             |FROM t GROUP BY source ORDER BY source""".stripMargin)),

    // Denylist + PII redaction census: term scrub (nonzero on this
    // corpus) plus email/long-digit PII patterns (provably zero here —
    // the oracle checks that too; pattern behavior on PII-bearing text
    // is spec-covered in CurationSpec).
    GateQuery(
      "q_redact",
      (s, d) => {
        val termPat = "\\b(customer|vector)\\b"
        documents(s, d)
          .withColumn("n_terms", Curation.matchCount(col("text"), termPat))
          .withColumn("n_email", Curation.matchCount(col("text"), Curation.EmailPattern))
          .withColumn("n_digits", Curation.matchCount(col("text"), Curation.LongDigitsPattern))
          .withColumn("red_len",
            length(Curation.redact(col("text"), Seq(termPat), "<X>")))
          .groupBy("source")
          .agg(
            sum("n_terms").cast("long").as("n_term_hits"),
            sum("n_email").cast("long").as("n_email_hits"),
            sum("n_digits").cast("long").as("n_digit_hits"),
            sum("red_len").cast("long").as("sum_red_len"),
            count(lit(1)).as("n_docs"))
          .orderBy("source")
      },
      Some("""SELECT source,
             |       CAST(sum(len(regexp_extract_all(text, '\b(customer|vector)\b'))) AS BIGINT) AS n_term_hits,
             |       CAST(sum(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS n_email_hits,
             |       CAST(sum(len(regexp_extract_all(text, '\b[0-9]{6,}\b'))) AS BIGINT) AS n_digit_hits,
             |       CAST(sum(length(regexp_replace(text, '\b(customer|vector)\b', '<X>', 'g'))) AS BIGINT) AS sum_red_len,
             |       count(*) AS n_docs
             |FROM documents
             |GROUP BY source
             |ORDER BY source""".stripMargin)),

    // Int8 max-abs embedding quantization: reconstruction-cosine
    // census. floor(x + 0.5) rounding so both engines agree exactly;
    // min(cos) is order-independent (×1e6 units); averages ride
    // per-row ×1e8 integer quantization + integer half-up division,
    // so no float ever sums in shuffle order.
    GateQuery(
      "q_embed_quant",
      (s, d) => {
        val v = transform(col("embedding"), x => x.cast("double"))
        val vmax = array_max(transform(col("v"), x => abs(x)))
        val q = transform(col("v"), x => floor(x * col("scale") + 0.5))
        val dq = transform(col("q"), x => x / col("scale"))
        embeddings(s, d)
          .withColumn("v", v)
          .withColumn("scale", lit(127.0) / vmax)
          .withColumn("q", q)
          .withColumn("dq", dq)
          .withColumn("cos", Ann.cosine(col("v"), col("dq")))
          // per-row cos/scale quantized to exact ×1e8 ints (identical
          // doubles both engines — same fixed-order fold), then
          // integer half-up averages; min is order-free as-is
          .withColumn("_cx", round(col("cos") * 100000000).cast("long"))
          .withColumn("_sx", round(col("scale") * 100000000).cast("long"))
          .agg(
            count(lit(1)).as("n_vecs"),
            expr("CAST((2 * sum(CAST(_cx AS DECIMAL(38,0))) + count(1) * 10000)" +
              " div (2 * count(1) * 10000) AS BIGINT)").as("avg_cos_x1e4"),
            round(min("cos") * 1000000).cast("long").as("min_cos_x1e6"),
            expr("CAST((2 * sum(CAST(_sx AS DECIMAL(38,0))) + count(1) * 10000)" +
              " div (2 * count(1) * 10000) AS BIGINT)").as("avg_scale_x1e4"))
      },
      Some("""WITH e AS (
             |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
             |), sc AS (
             |  SELECT v, 127.0 / list_max(list_transform(v, x -> abs(x))) AS scale FROM e
             |), dq AS (
             |  SELECT v, scale,
             |         list_transform(v, x -> floor(x * scale + 0.5) / scale) AS dq
             |  FROM sc
             |), c AS (
             |  SELECT scale,
             |         list_sum(list_transform(list_zip(v, dq), p -> struct_extract(p, 1) * struct_extract(p, 2)))
             |           / (sqrt(list_sum(list_transform(v, x -> x * x)))
             |              * sqrt(list_sum(list_transform(dq, x -> x * x)))) AS cos
             |  FROM dq
             |)
             |SELECT count(*) AS n_vecs,
             |       CAST((2 * sum(CAST(round(cos * 100000000) AS HUGEINT)) + count(*) * 10000)
             |            // (2 * count(*) * 10000) AS BIGINT) AS avg_cos_x1e4,
             |       CAST(round(min(cos) * 1000000) AS BIGINT) AS min_cos_x1e6,
             |       CAST((2 * sum(CAST(round(scale * 100000000) AS HUGEINT)) + count(*) * 10000)
             |            // (2 * count(*) * 10000) AS BIGINT) AS avg_scale_x1e4
             |FROM c""".stripMargin)),

    // The END-TO-END curation funnel: quality filter → exact dedup →
    // eval-set decontamination → stratified sample → shard packing,
    // with per-stage attrition in one row. Every stage is the REAL
    // operator (not a re-derivation), so this is the pipeline a 100 TB
    // deployment runs, verified as a whole: stage ordering bugs,
    // double-removals, or sampling drift all shift the census.
    GateQuery(
      "q_curation_funnel",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = documents(s, d)
        val words = split(trim(col("text")), " ")
        val annotated = docs
          .withColumn("n_words", size(words))
          .withColumn("dup_frac",
            lit(1.0) - size(array_distinct(words)).cast("double") / col("n_words"))
        // each stage is PERSISTED: the closing census crossJoins five
        // independent aggregates, and without the pins every branch
        // re-evaluates its whole upstream chain (decontaminate ran 3×,
        // which is where this gate's 2-4× run-to-run swing came from —
        // the memory-pressure-dependent recomputes, not the operators).
        // The bench/verify harnesses clearCache() between gates.
        val quality = annotated
          .filter(col("n_words") >= 20 && col("dup_frac") <= 0.65)
          .persist()
        val unique = quality
          .withColumn("fp", md5(lower(trim(col("text")))))
          .withColumn("_rn",
            row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
          .filter(col("_rn") === 1).drop("_rn", "fp")
          .persist()
        val evalDocs = docs.filter(col("doc_id") % 17 === 0)
        val corpus = unique.filter(col("doc_id") % 17 =!= 0)
        val flagged = Curation
          .decontaminate(corpus, evalDocs, "doc_id", "text", n = 5, minHits = 2)
          .select("doc_id")
        val clean = corpus.join(flagged, Seq("doc_id"), "left_anti").persist()
        val sampled = Curation.stratifiedSample(clean, "doc_id", "source",
          Map.empty, 0.5)
        val packed = Curation.packShards(sampled, "source", "doc_id", "n_words", 256L)
          .persist()
        docs.agg(count(lit(1)).as("n_total"))
          .crossJoin(quality.agg(count(lit(1)).as("n_quality")))
          .crossJoin(unique.agg(count(lit(1)).as("n_unique")))
          .crossJoin(clean.agg(count(lit(1)).as("n_clean")))
          .crossJoin(packed.agg(
            count(lit(1)).as("n_sampled"),
            countDistinct(col("source"), col("shard")).as("n_shards"),
            sum("n_words").cast("long").as("sum_tokens")))
      },
      Some(s"""WITH w AS (
              |  SELECT doc_id, source, text, string_split(trim(text), ' ') AS words
              |  FROM documents
              |), ann AS (
              |  SELECT doc_id, source, text, len(words) AS n_words,
              |         1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words) AS dup_frac
              |  FROM w
              |), quality AS (
              |  SELECT * FROM ann WHERE n_words >= 20 AND dup_frac <= 0.65
              |), uniq AS (
              |  SELECT * FROM (
              |    SELECT *, row_number() OVER (PARTITION BY md5(lower(trim(text)))
              |                                 ORDER BY doc_id) AS rn
              |    FROM quality) WHERE rn = 1
              |), evsh AS (
              |  SELECT DISTINCT sh FROM (
              |    SELECT unnest($shingleSql) AS sh
              |    FROM (SELECT string_split(trim(text), ' ') AS words
              |          FROM documents WHERE doc_id % 17 = 0))
              |), corpus AS (
              |  SELECT * FROM uniq WHERE doc_id % 17 <> 0
              |), corpsh AS (
              |  SELECT doc_id, unnest($shingleSql) AS sh
              |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS words FROM corpus)
              |), flagged AS (
              |  SELECT doc_id FROM (
              |    SELECT t.doc_id, count(*) AS n
              |    FROM corpsh t JOIN evsh USING (sh) GROUP BY t.doc_id)
              |  WHERE n >= 2
              |), clean AS (
              |  SELECT * FROM corpus
              |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
              |), sampled AS (
              |  SELECT * FROM clean
              |  WHERE ${bucketSql("source || ':' || CAST(doc_id AS VARCHAR)")}
              |        < 0.5 * 268435456
              |), packed AS (
              |  SELECT source, n_words,
              |         CAST(floor((sum(n_words) OVER (PARTITION BY source ORDER BY doc_id
              |                                        ROWS UNBOUNDED PRECEDING)
              |                     - n_words) / 256.0) AS BIGINT) AS shard
              |  FROM sampled
              |)
              |SELECT (SELECT count(*) FROM documents) AS n_total,
              |       (SELECT count(*) FROM quality) AS n_quality,
              |       (SELECT count(*) FROM uniq) AS n_unique,
              |       (SELECT count(*) FROM clean) AS n_clean,
              |       (SELECT count(*) FROM packed) AS n_sampled,
              |       (SELECT count(DISTINCT source || ':' || CAST(shard AS VARCHAR)) FROM packed) AS n_shards,
              |       (SELECT CAST(sum(n_words) AS BIGINT) FROM packed) AS sum_tokens""".stripMargin)),

    // Context-length capping at 32 tokens: per-source census of how
    // much survives (the md5 fingerprint of the truncated text pins
    // the exact string, not just its length).
    GateQuery(
      "q_truncate",
      (s, d) =>
        Curation.truncateToBudget(documents(s, d), "text", 32)
          .groupBy("source")
          .agg(
            sum("n_tokens_kept").cast("long").as("kept_tokens"),
            sum(when(col("n_tokens_kept") === 32, 1L).otherwise(0L)).as("n_truncated"),
            countDistinct(substring(md5(col("text_trunc")), 1, 16)).as("n_unique_trunc"),
            count(lit(1)).as("n_docs"))
          .orderBy("source"),
      Some("""WITH t AS (
             |  SELECT source,
             |         LEAST(len(string_split(trim(text), ' ')), 32) AS kept,
             |         array_to_string(string_split(trim(text), ' ')[1:32], ' ') AS trunc
             |  FROM documents
             |)
             |SELECT source, CAST(sum(kept) AS BIGINT) AS kept_tokens,
             |       CAST(sum(CASE WHEN kept = 32 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
             |       count(DISTINCT substring(md5(trunc), 1, 16)) AS n_unique_trunc,
             |       count(*) AS n_docs
             |FROM t GROUP BY source ORDER BY source""".stripMargin)),

    // Sliding-window chunking (size 128, overlap 32 ⇒ stride 96): the
    // pre-embedding transform. The census pins chunk counts, the
    // exact summed chunk lengths (sensitive to the final partial
    // window and to off-by-one starts) and the max window index.
    GateQuery(
      "q_chunk",
      (s, d) =>
        Curation.chunkDocuments(documents(s, d), "text", size = 128, overlap = 32)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_chunks"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(length(col("chunk"))).cast("long").as("sum_chunk_chars"),
            max(col("chunk_idx")).cast("long").as("max_chunk_idx"))
          .orderBy("source"),
      Some("""WITH d AS (
             |  SELECT doc_id, source, text, length(text) AS len
             |  FROM documents
             |  WHERE text IS NOT NULL AND length(text) >= 1
             |), c AS (
             |  SELECT doc_id, source, text,
             |         unnest(range(greatest(CAST(ceil(CAST(len - 128 AS DOUBLE) / 96) AS BIGINT) + 1, 1))) AS ci
             |  FROM d
             |)
             |SELECT source, count(*) AS n_chunks,
             |       count(DISTINCT doc_id) AS n_docs,
             |       CAST(sum(length(substring(text, CAST(ci AS INT) * 96 + 1, 128))) AS BIGINT) AS sum_chunk_chars,
             |       CAST(max(ci) AS BIGINT) AS max_chunk_idx
             |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // Corpus-trained unigram-LM quality score: token frequencies are
    // learned from the corpus itself in one groupBy, docs score as the
    // mean token log-probability, censused per language. Two keyed
    // shuffles (token freq agg, token→freq join) + per-doc agg — no
    // driver-side vocabulary, so the LM "trains" at corpus scale.
    GateQuery(
      "q_lm_score",
      (s, d) => {
        val toks = documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(trim(col("text")), " ")).as("tok"))
        // total token count stays IN the plan (single-row cross join,
        // exactly the oracle's `, n` CTE) — one lazy query, no side
        // job or second corpus scan
        val n = toks.agg(count(lit(1)).as("_n"))
        val freq = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
        // per-TOKEN log-probs quantized to exact ×1e9 ints (the ln
        // itself stays the documented accepted libm class, but every
        // sum after it is order-free integer arithmetic), per-doc and
        // per-lang means as signed half-away integer divisions
        toks.join(freq, Seq("tok")).crossJoin(n)
          .withColumn("_lpt",
            round(log(col("tf").cast("double") / col("_n")) * 1000000000)
              .cast("long"))
          .groupBy("doc_id", "lang")
          .agg(expr(SharedOracles.halfDivSpark(
            "sum(CAST(_lpt AS DECIMAL(38,0)))", "count(1)")).as("lp_x1e9"))
          .groupBy("lang")
          .agg(
            expr(SharedOracles.halfDivSpark(
              "sum(CAST(lp_x1e9 AS DECIMAL(38,0)))", "count(1) * 100000"))
              .as("avg_logprob_x1e4"),
            expr(SharedOracles.halfDivSpark("min(lp_x1e9)", "100000"))
              .as("min_logprob_x1e4"),
            count(lit(1)).as("n_docs"))
          .orderBy("lang")
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS tok
              |  FROM documents
              |), freq AS (
              |  SELECT tok, count(*) AS tf FROM toks GROUP BY tok
              |), n AS (
              |  SELECT count(*) AS n FROM toks
              |), doc AS (
              |  SELECT doc_id, lang,
              |         ${SharedOracles.halfDivSql(
                 "sum(CAST(round(ln(CAST(tf AS DOUBLE) / n.n) * 1000000000) AS HUGEINT))",
                 "count(*)")} AS lp_x1e9
              |  FROM toks JOIN freq USING (tok), n
              |  GROUP BY doc_id, lang
              |)
              |SELECT lang,
              |       ${SharedOracles.halfDivSql(
                 "sum(CAST(lp_x1e9 AS HUGEINT))", "count(*) * 100000")} AS avg_logprob_x1e4,
              |       ${SharedOracles.halfDivSql(
                 "min(lp_x1e9)", "100000")} AS min_logprob_x1e4,
              |       count(*) AS n_docs
              |FROM doc GROUP BY lang ORDER BY lang""".stripMargin)),

    // CCNet-style perplexity filter (LangModel): a BIGRAM LM with
    // Jelinek–Mercer interpolation (λ=0.9) against an add-one unigram
    // floor is trained on the corpus itself, every doc scores its
    // cross-entropy, and the corpus splits into head/middle/tail
    // perplexity bands at fixed thresholds. The model IS two count
    // relations (no driver vocabulary); scoring is three
    // hash-partitioned equi-joins + one per-doc agg. Thresholds sit
    // ≥3e-5 nats from every doc at sf0.01 — eight orders above
    // float-sum noise, so band membership is engine-stable; the only
    // quantization is the final ×1e4 integer-units projection.
    GateQuery(
      "q_lm_perplexity",
      (s, d) => {
        val docsDf = documents(s, d)
        val m = graft.operators.LangModel.train(docsDf, "doc_id", "text")
        val scored = graft.operators.LangModel
          .scorePerplexity(docsDf, "doc_id", "text", m)
        graft.operators.LangModel.perplexityBand(scored, lo = 3.38, hi = 3.40)
          // per-doc xent quantized to exact ×1e8 ints, then a signed
          // half-away integer mean — the corpus-wide float sum was the
          // widest remaining accumulation-order exposure here; max(ppl)
          // is order-free (one per-row exp, accepted libm class)
          .withColumn("_xx", round(col("xent") * 100000000).cast("long"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_bigrams").cast("long").as("n_bigrams"),
            expr(SharedOracles.halfDivSpark(
              "sum(CAST(_xx AS DECIMAL(38,0)))", "count(_xx) * 10000"))
              .as("avg_xent_x1e4"),
            round(max("ppl") * 10000).cast("long").as("max_ppl_x1e4"),
            sum(when(col("band") === "head", 1L).otherwise(0L)).as("n_head"),
            sum(when(col("band") === "middle", 1L).otherwise(0L)).as("n_middle"),
            sum(when(col("band") === "tail", 1L).otherwise(0L)).as("n_tail"))
          .orderBy("source")
      },
      Some(raw"""WITH w AS (
             |  SELECT doc_id, source, string_split_regex(trim(text), '\s+') AS words
             |  FROM documents WHERE text IS NOT NULL
             |), ev AS (
             |  SELECT doc_id, unnest(words[1:len(words)-1]) AS prev,
             |         unnest(words[2:len(words)]) AS tok
             |  FROM w
             |), uni AS (SELECT unnest(words) AS tok FROM w),
             |uc AS (SELECT tok, count(*) AS c_w FROM uni WHERE tok <> '' GROUP BY tok),
             |tot AS (SELECT count(*) AS t, count(DISTINCT tok) AS v FROM uni WHERE tok <> ''),
             |bc AS (SELECT prev, tok, count(*) AS c_vw FROM ev GROUP BY 1, 2),
             |cx AS (SELECT prev, sum(c_vw) AS c_v FROM bc GROUP BY 1),
             |sc AS (
             |  SELECT e.doc_id,
             |         ln(0.9 * (bc.c_vw / CAST(cx.c_v AS DOUBLE))
             |            + 0.1 * (uc.c_w + 1) / CAST(tot.t + tot.v AS DOUBLE)) AS lp
             |  FROM ev e
             |  JOIN bc ON e.prev = bc.prev AND e.tok = bc.tok
             |  JOIN cx ON e.prev = cx.prev
             |  JOIN uc ON e.tok = uc.tok, tot
             |), doc AS (
             |  SELECT doc_id, count(*) AS n_bigrams, -avg(lp) AS xent,
             |         exp(-avg(lp)) AS ppl
             |  FROM sc GROUP BY 1
             |)
             |SELECT d.source, count(*) AS n_docs,
             |       CAST(coalesce(sum(doc.n_bigrams), 0) AS BIGINT) AS n_bigrams,
             |       ${SharedOracles.halfDivSql(
                "sum(CAST(round(doc.xent * 100000000) AS HUGEINT))",
                "count(doc.xent) * 10000")} AS avg_xent_x1e4,
             |       CAST(round(max(doc.ppl) * 10000) AS BIGINT) AS max_ppl_x1e4,
             |       CAST(sum(CASE WHEN doc.xent < 3.38 THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
             |       CAST(sum(CASE WHEN doc.xent >= 3.38 AND doc.xent <= 3.40 THEN 1 ELSE 0 END) AS BIGINT) AS n_middle,
             |       CAST(sum(CASE WHEN doc.xent > 3.40 THEN 1 ELSE 0 END) AS BIGINT) AS n_tail
             |FROM documents d LEFT JOIN doc ON d.doc_id = doc.doc_id
             |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // Cross-source contamination matrix: distinct shared 5-gram
    // shingles per source pair — the fan-out is (shingle, source)
    // DISTINCT pairs meeting in one hash join; no all-pairs of
    // documents anywhere. Top-10 most-overlapping pairs.
    GateQuery(
      "q_source_overlap",
      (s, d) => {
        val sh = fanOut(documents(s, d))  // 1-file scan feeds the shingle explode (Tables.fanOut doc)
          .select(col("source"),
            explode(Curation.shingleHashes(col("text"), 5)).as("sh"))
          .distinct()
        sh.select(col("source").as("s_a"), col("sh"))
          .join(sh.select(col("source").as("s_b"), col("sh")), Seq("sh"))
          .filter(col("s_a") < col("s_b"))
          .groupBy("s_a", "s_b")
          .agg(count(lit(1)).as("n_shared"))
          .orderBy(desc("n_shared"), col("s_a"), col("s_b"))
          .limit(10)
      },
      Some(s"""WITH w AS (
              |  SELECT source, string_split(trim(text), ' ') AS words FROM documents
              |), sh AS (
              |  SELECT DISTINCT source, unnest($shingleSql) AS sh FROM w
              |)
              |SELECT a.source AS s_a, b.source AS s_b, count(*) AS n_shared
              |FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
              |GROUP BY s_a, s_b
              |ORDER BY n_shared DESC, s_a, s_b
              |LIMIT 10""".stripMargin)),

    // Weighted domain mixing (src0 ×2.5, src1 ×0.25, rest ×1):
    // epoch-repetition + content-hashed fractional copies; census pins
    // exact realized copy counts and the epoch range per source.
    GateQuery(
      "q_weighted_mix",
      (s, d) =>
        Curation.weightedMix(documents(s, d), "doc_id", "source",
            Map("src0" -> 2.5, "src1" -> 0.25), 1.0)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_rows_out"),
            countDistinct(col("doc_id")).as("n_docs"),
            max("epoch").cast("long").as("max_epoch"))
          .orderBy("source"),
      Some(s"""WITH w AS (
              |  SELECT doc_id, source,
              |         CASE WHEN source = 'src0' THEN 2.5
              |              WHEN source = 'src1' THEN 0.25
              |              ELSE 1.0 END AS wt
              |  FROM documents
              |), c AS (
              |  SELECT doc_id, source,
              |         CAST(floor(wt) AS INT) +
              |         CASE WHEN ${bucketSql("source || ':' || CAST(doc_id AS VARCHAR) || ':mix'")}
              |                   < (wt - floor(wt)) * 268435456 THEN 1 ELSE 0 END AS copies
              |  FROM w
              |), exploded AS (
              |  SELECT doc_id, source, unnest(range(copies)) AS epoch
              |  FROM c WHERE copies > 0
              |)
              |SELECT source, count(*) AS n_rows_out,
              |       count(DISTINCT doc_id) AS n_docs,
              |       CAST(max(epoch) AS BIGINT) AS max_epoch
              |FROM exploded
              |GROUP BY source
              |ORDER BY source""".stripMargin)),

    // Temperature-based source mixing (T5/mT5 alpha-sampling,
    // arXiv:1910.10683): alpha = 0.5 flattens the 20-source natural
    // mix toward uniform at the same corpus size. The weight relation
    // is one row per source (count agg + 1-row normalizer) and
    // broadcasts; the corpus side never shuffles. The oracle
    // recomputes w_s = N*n_s^0.5 / (sum_t n_t^0.5) / n_s and the
    // md5-fractional copies exactly.
    GateQuery(
      "q_temperature_mix",
      (s, d) => {
        val docs = documents(s, d)
        val n = docs.count()
        Curation.temperatureMix(docs, "doc_id", "source", 0.5, n)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_rows_out"),
            countDistinct(col("doc_id")).as("n_docs"),
            max("epoch").cast("long").as("max_epoch"),
            sum(col("epoch") * col("doc_id") + col("doc_id"))
              .cast("long").as("mix_checksum"))
          .orderBy("source")
      },
      Some(s"""WITH n AS (
              |  SELECT source, count(*) AS ns FROM documents GROUP BY source
              |), z AS (
              |  SELECT sum(power(ns, 0.5)) AS z, sum(ns) AS total FROM n
              |), w AS (
              |  SELECT d.doc_id, d.source,
              |         z.total * power(n.ns, 0.5) / z.z / n.ns AS wt
              |  FROM documents d JOIN n USING (source), z
              |), c AS (
              |  SELECT doc_id, source,
              |         CAST(floor(wt) AS INT) +
              |         CASE WHEN ${bucketSql("source || ':' || CAST(doc_id AS VARCHAR) || ':tmix'")}
              |                   < (wt - floor(wt)) * 268435456 THEN 1 ELSE 0 END AS copies
              |  FROM w
              |), exploded AS (
              |  SELECT doc_id, source, unnest(range(copies)) AS epoch
              |  FROM c WHERE copies > 0
              |)
              |SELECT source, count(*) AS n_rows_out,
              |       count(DISTINCT doc_id) AS n_docs,
              |       CAST(max(epoch) AS BIGINT) AS max_epoch,
              |       CAST(sum(epoch * doc_id + doc_id) AS BIGINT) AS mix_checksum
              |FROM exploded
              |GROUP BY source
              |ORDER BY source""".stripMargin)),

    // Weighted sample without replacement (Efraimidis–Spirakis): k=10
    // docs, inclusion ∝ token count, exponential keys from the same
    // md5 bucket space as every other sampler — so the EXACT chosen
    // set (and each row's rank key) is reproducible in SQL.
    GateQuery(
      "q_weighted_sample",
      (s, d) => {
        val docs = documents(s, d)
          .withColumn("n_tokens", size(split(trim(col("text")), " ")))
        Curation.weightedSample(docs, "doc_id",
            col("n_tokens").cast("double"), k = 10)
          // integer-units (×1e7 long ≙ old k×1000 at 4 dp), not
          // round(x, 4): the decimal-round flake class
          .select(col("doc_id"), col("n_tokens"),
            round(col("_es_key") * 10000000).cast("long").as("es_key_x1e7"))
          .orderBy("doc_id")
      },
      Some(s"""WITH w AS (
              |  SELECT doc_id,
              |         len(string_split(trim(text), ' ')) AS n_tokens,
              |         -ln((${bucketSql("'ws:' || CAST(doc_id AS VARCHAR)")} + 1.0)
              |             / 268435456.0)
              |         / CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS e
              |  FROM documents
              |  WHERE len(string_split(trim(text), ' ')) > 0
              |)
              |SELECT doc_id, n_tokens, CAST(round(e * 10000000) AS BIGINT) AS es_key_x1e7
              |FROM w
              |ORDER BY e, doc_id
              |LIMIT 10""".stripMargin)),

    // Robust per-group outlier census: token-count z-scores within each
    // source (sample stddev), |z| > 2 flags — the distribution-drift
    // check a curation pipeline runs per batch. Pure window/agg column
    // program, one shuffle on source.
    GateQuery(
      "q_outliers",
      (s, d) => {
        // mu/sd from EXACT integer moments (S1, S2 in DECIMAL) with
        // ONE double division + sqrt at the end — engine-built
        // avg/stddev_samp use different merge algorithms whose float
        // sums can drift an ulp apart; exact-int-derived doubles are
        // identical on both engines (divide/sqrt are correctly
        // rounded), so z, the >2 flags, and max|z| are deterministic.
        // The formula TEXT is mirrored verbatim in the oracle.
        val docs = documents(s, d)
          .withColumn("n_int", size(split(trim(col("text")), " ")))
          .withColumn("n_tokens", col("n_int").cast("double"))
        val stats = docs.groupBy("source")
          .agg(
            count(lit(1)).as("_N"),
            expr("sum(CAST(n_int AS DECIMAL(38,0)))").as("_S1"),
            expr("sum(CAST(n_int AS DECIMAL(38,0)) * n_int)").as("_S2"))
          .withColumn("mu", expr("CAST(_S1 AS DOUBLE) / _N"))
          .withColumn("sd", expr(
            "CASE WHEN _N < 2 THEN CAST(NULL AS DOUBLE) ELSE" +
              " sqrt((CAST(_N AS DOUBLE) * CAST(_S2 AS DOUBLE)" +
              " - CAST(_S1 AS DOUBLE) * CAST(_S1 AS DOUBLE))" +
              " / (CAST(_N AS DOUBLE) * (_N - 1))) END"))
          .select("source", "mu", "sd")
        docs.join(stats, Seq("source"))
          .withColumn("z", (col("n_tokens") - col("mu")) / col("sd"))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            // coalesce: a single-row group has sd = null → null flags —
            // the SQL CASE yields 0 there, so mirror that, not null
            coalesce(sum((abs(col("z")) > 2).cast("long")), lit(0L))
              .as("n_outliers"),
            round(max(abs(col("z"))) * 10000).cast("long").as("max_abs_z_x1e4"))
          .orderBy("source")
      },
      Some("""WITH t AS (
             |  SELECT source, len(string_split(trim(text), ' ')) AS n_int,
             |         CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS n
             |  FROM documents
             |), mo AS (
             |  SELECT source, count(*) AS _N,
             |         sum(CAST(n_int AS HUGEINT)) AS _S1,
             |         sum(CAST(n_int AS HUGEINT) * n_int) AS _S2
             |  FROM t GROUP BY source
             |), st AS (
             |  SELECT source, CAST(_S1 AS DOUBLE) / _N AS mu,
             |         CASE WHEN _N < 2 THEN CAST(NULL AS DOUBLE) ELSE
             |           sqrt((CAST(_N AS DOUBLE) * CAST(_S2 AS DOUBLE)
             |                 - CAST(_S1 AS DOUBLE) * CAST(_S1 AS DOUBLE))
             |                / (CAST(_N AS DOUBLE) * (_N - 1))) END AS sd
             |  FROM mo
             |)
             |SELECT t.source, count(*) AS n_docs,
             |       CAST(sum(CASE WHEN abs((n - mu) / sd) > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             |       CAST(round(max(abs((n - mu) / sd)) * 10000) AS BIGINT) AS max_abs_z_x1e4
             |FROM t JOIN st ON t.source = st.source
             |GROUP BY t.source
             |ORDER BY t.source""".stripMargin)),

    // DSIR data selection (arXiv:2302.03169): importance log-weight of
    // every doc under a hashed-unigram model of a target corpus vs the
    // raw corpus; selection = log_weight > 0 ("more target-like than
    // corpus-like"). The synthetic corpus shares ONE vocabulary across
    // every lang/source (no organic distribution shift anywhere), so
    // the target is PLANTED -- the suite's pattern for semantics the
    // data lacks: every doc_id % 5 doc, with extra 'spark vector
    // stream' mass appended, forms the target; docs naturally rich in
    // those tokens then score positive. The bucket model is two count
    // relations (<=65536 rows each) + a 1-row totals frame riding the
    // plan; scoring is explode -> md5-bucket -> two left joins +
    // per-doc agg -- keyed shuffles only, no driver vocabulary, no
    // collect.
    GateQuery(
      "q_dsir_select",
      (s, d) => {
        import graft.operators.Dsir
        val docs = documents(s, d)
        val target = docs.filter(col("doc_id") % 5 === 0)
          .withColumn("text", concat(trim(col("text")),
            lit(" spark vector stream spark vector stream")))
        val model = Dsir.fit(target, docs, "doc_id", "text")
        val scored = Dsir.centered(Dsir.score(docs, "doc_id", "text", model))
        docs.join(scored, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            coalesce(sum(when(col("rel_weight") > 0, 1L).otherwise(0L)),
              lit(0L)).as("n_selected"),
            sum("n_tokens").cast("long").as("n_tokens"),
            // per-doc rel quantized to ×1e8 ints, signed half-away
            // integer mean (rel can be negative); the inner ln sums
            // stay the documented accepted class
            expr(SharedOracles.halfDivSpark(
              "sum(CAST(round(rel_weight * 100000000) AS DECIMAL(38,0)))",
              "count(rel_weight) * 10000")).as("avg_rel_tok_x1e4"),
            round(max("rel_weight") * 10000).cast("long").as("max_rel_tok_x1e4"))
          .orderBy("source")
      },
      Some("""WITH tgt_docs AS (
             |  SELECT doc_id,
             |         trim(text) || ' spark vector stream spark vector stream' AS text
             |  FROM documents WHERE doc_id % 5 = 0 AND text IS NOT NULL
             |), tk AS (
             |  SELECT doc_id, source, substring(md5(tok), 1, 4) AS b
             |  FROM (SELECT doc_id, source,
             |               unnest(string_split_regex(trim(text), '\s+')) AS tok
             |        FROM documents WHERE text IS NOT NULL)
             |  WHERE tok <> ''
             |), ttk AS (
             |  SELECT substring(md5(tok), 1, 4) AS b
             |  FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
             |        FROM tgt_docs)
             |  WHERE tok <> ''
             |), tgt AS (
             |  SELECT b, count(*) AS c_t FROM ttk GROUP BY b
             |), raw AS (
             |  SELECT b, count(*) AS c_r FROM tk GROUP BY b
             |), tot AS (
             |  SELECT (SELECT count(*) FROM ttk) AS t_t,
             |         (SELECT count(*) FROM tk) AS t_r
             |), sc AS (
             |  SELECT tk.doc_id, count(*) AS n_tokens,
             |         sum(ln((coalesce(tgt.c_t, 0) + 1.0) / (tot.t_t + 65536.0))
             |           - ln((coalesce(raw.c_r, 0) + 1.0) / (tot.t_r + 65536.0))) AS logw
             |  FROM tk LEFT JOIN tgt USING (b) LEFT JOIN raw USING (b), tot
             |  GROUP BY tk.doc_id
             |), cen AS (
             |  SELECT doc_id, n_tokens,
             |         logw / n_tokens - (SELECT avg(logw / n_tokens) FROM sc) AS rel
             |  FROM sc
             |)
             |SELECT d.source, count(*) AS n_docs,
             |       CAST(sum(CASE WHEN cen.rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
             |       CAST(sum(cen.n_tokens) AS BIGINT) AS n_tokens,
             |       CASE WHEN (sum(CAST(round(cen.rel * 100000000) AS HUGEINT))) < 0
             |            THEN -CAST((2 * (-(sum(CAST(round(cen.rel * 100000000) AS HUGEINT)))) + (count(cen.rel) * 10000))
             |                       // (2 * (count(cen.rel) * 10000)) AS BIGINT)
             |            ELSE CAST((2 * (sum(CAST(round(cen.rel * 100000000) AS HUGEINT))) + (count(cen.rel) * 10000))
             |                      // (2 * (count(cen.rel) * 10000)) AS BIGINT) END AS avg_rel_tok_x1e4,
             |       CAST(round(max(cen.rel) * 10000) AS BIGINT) AS max_rel_tok_x1e4
             |FROM documents d LEFT JOIN cen ON d.doc_id = cen.doc_id
             |GROUP BY d.source ORDER BY d.source""".stripMargin)),
  )
}
