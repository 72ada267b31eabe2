package graft.queries

import org.apache.spark.sql.functions._

import graft.streaming.{StreamingAggregates, StreamingDedup, StreamingJoin, StreamingRollup, StreamingSessions}

/** Streaming↔batch parity gates: the streaming operators run over the
  * SAME gate fixtures as their batch counterparts and must hash-match
  * the batch oracle — proving the incremental implementations compute
  * the batch semantics, not an approximation of them.
  */
object StreamingOps {

  /** Run a gate's replay on a clone of the gate's session with a small
    * shuffle-partition count. Every
    * stateful micro-batch commits one state store PER shuffle
    * partition, so a 32-partition session pays 32 store commits per
    * batch for fixtures with a few hundred distinct keys — pure
    * harness overhead that scaled the r4 bench's streaming line items
    * without touching engine cost. 4 partitions (measured: the 12-gate
    * family dropped 70.3 s → 53.1 s same-box together with the 2-file
    * triggers below, all hashes unchanged) keeps the replay parallel
    * enough for the fixture sizes; the operators themselves take
    * whatever session they are given (a production stream would size
    * this to its key cardinality).
    */
  /** Replay-parallelism note: a micro-batch's input partition count is
    * its FILE count (small files, one split each), so a 4-file fixture
    * at 2 files/trigger ran every foreachBatch body's per-row work
    * (sketch hashing, shingles, cell assignment) on 2 cores. The
    * order-insensitive rollup fixtures write 16 files at 8/trigger —
    * same number of micro-batches (the cross-batch semantics under
    * test), each arriving pre-parallel; measured on q_cms_stream:
    * steady-state drain 2.0 → 1.6 s/pass, addBatch 670 → 430 ms.
    * Watermark/arrival-order gates (sessionize, agg_window, reward
    * join) keep their ordered few-file fixtures — file order IS part
    * of their contract.
    */
  private def withReplayConf[T](s: org.apache.spark.sql.SparkSession)(
      body: org.apache.spark.sql.SparkSession => T): T =
    graft.Sessions.isolated(s, "spark.sql.shuffle.partitions" -> "4",
      // the STREAM disables AQE itself, but every foreachBatch body is
      // a plain batch query that would still pay AQE's stage-by-stage
      // re-planning per micro-batch — pure fixed cost at replay scale.
      // A production stream's batches are big enough to amortize it —
      // and keep it.
      "spark.sql.adaptive.enabled" -> "false")(body)

  /** Replay scratch space: RAM-backed when the host offers it. The
    * drop folder, checkpoint, state store, and sink are all
    * gate-lifetime-scoped throwaways, and their fsync/CRC traffic on
    * a real disk is harness cost the bench should not bill to the
    * operators.
    */
  private def replayDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, prefix).toString
    else java.nio.file.Files.createTempDirectory(prefix).toString
  }

  /** Replay fixture built ONCE per (gate, sfDir): the drop-folder
    * contents are a pure function of the fixture tables, identical on
    * every pass, so rebuilding them per bench repeat charged a
    * fixture-prep scan+write to the streaming operator three times
    * over (batch gates read their fixtures for free from the testdata
    * dir — this levels the accounting). Checkpoints, state dirs and
    * sinks are NOT cached: each pass replays the stream from scratch;
    * the streaming query is what the pass measures.
    */
  private val fixtureCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def cachedFixture(gate: String, d: String)(build: String => Unit): String =
    fixtureCache.computeIfAbsent(s"$gate|$d", { _ =>
      val dir = replayDir(gate)
      build(dir)
      dir
    })

  /** The q_sessionize oracle, verbatim — the entire point of the gate
    * is that the streaming path answers the identical question.
    */
  private val SessionizeOracle =
    """SELECT user_id, count(*) AS n_sessions,
      |       max(n_events) AS max_session_events,
      |       CAST(round(avg(n_events) * 10000) AS BIGINT) AS avg_session_events_x1e4
      |FROM (
      |  SELECT user_id, session_id, count(*) AS n_events
      |  FROM (
      |    SELECT user_id,
      |           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                                  ROWS UNBOUNDED PRECEDING) AS session_id
      |    FROM (
      |      SELECT user_id, ts, event_id,
      |             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |                    OR CAST(floor(epoch(ts)) AS BIGINT)
      |                       - CAST(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) > 1800
      |                  THEN 1 ELSE 0 END AS new_session
      |      FROM events))
      |  GROUP BY user_id, session_id)
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  def queries: Seq[GateQuery] = Seq(

    // ST parity: gap sessionization via flatMapGroupsWithState with
    // event-time timeouts (StreamingSessions) over the events fixture,
    // replayed through a drop folder, must hash-match the BATCH
    // q_sessionize oracle. Times are floored to whole seconds before
    // streaming so the gap predicate (silence > 1800 s) evaluates on
    // exactly the arithmetic the batch window program uses.
    GateQuery(
      "q_sessionize_stream",
      (s, d) => {
        val gap = 1800L
        val fx = cachedFixture("sess_stream", d) { fx =>
          val ev = Tables.events(s, d).select(
            col("user_id"),
            col("ts").cast("long").as("ts"), // floor to epoch seconds
            coalesce(col("value"), lit(0.0)).as("value"))
            .persist() // one scan feeds both the sentinel bound and the drop write
          val maxTs = ev.agg(max("ts")).head().getLong(0)
          // the sentinel (a user that never reaches the output) pushes
          // the GLOBAL watermark past every real session's last+gap, so
          // the AvailableNow trailing timeout sweep seals them all —
          // without it the chronologically-last session per user would
          // stay pending forever and parity would fail
          val sentinel = s.range(1).select(
            lit(-1L).as("user_id"), lit(maxTs + 10 * gap).as("ts"),
            lit(0.0).as("value"))
          // few coalesced fixture files: the file source lists/plans
          // per file, and dozens of near-empty shuffle outputs are
          // harness cost, not engine cost
          ev.unionByName(sentinel).coalesce(2).write.mode("overwrite").parquet(s"$fx/drop")
          ev.unpersist(blocking = false)
        }
        val work = replayDir("sess_stream_run")
        withReplayConf(s) { r =>
          StreamingSessions.sessionStream(r, s"$fx/drop", s"$work/out",
            s"$work/ckpt", gapSeconds = gap,
            format = "parquet").awaitTermination()
        }
        s.read.parquet(s"$work/out")
          .filter(col("user_id") >= 0)
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_sessions"),
            max("n_events").as("max_session_events"),
            round(avg("n_events") * 10000).cast("long").as("avg_session_events_x1e4"))
          .orderBy("user_id")
      },
      Some(SessionizeOracle)),

    // ST parity: watermarked tumbling-window aggregation
    // (StreamingAggregates) over the events fixture must hash-match
    // the equivalent batch per-hour census. A far-future sentinel
    // event (filtered from the output) advances the watermark past
    // every real window so append mode emits them all.
    GateQuery(
      "q_agg_window_stream",
      (s, d) => {
        val fx = cachedFixture("aggw_stream", d) { fx =>
          val ev = Tables.events(s, d).select(
            col("ts").cast("long").as("ts"),
            col("event_type"),
            coalesce(col("value"), lit(0.0)).as("value"))
            .persist()
          val maxTs = ev.agg(max("ts")).head().getLong(0)
          val sentinel = s.range(1).select(
            lit(maxTs + 4 * 3600L).as("ts"), lit("__sentinel__").as("event_type"),
            lit(0.0).as("value"))
          ev.unionByName(sentinel).coalesce(2).write.mode("overwrite").parquet(s"$fx/drop")
          ev.unpersist(blocking = false)
        }
        val work = replayDir("aggw_stream_run")
        withReplayConf(s) { r =>
          StreamingAggregates.windowedCounts(r, s"$fx/drop", s"$work/out",
            s"$work/ckpt", windowLength = "1 hour", lateness = "30 minutes",
            format = "parquet").awaitTermination()
        }
        s.read.parquet(s"$work/out")
          .filter(col("event_type") =!= "__sentinel__")
          .select(
            date_format(col("window_start"), "yyyy-MM-dd HH").as("hour"),
            col("event_type"), col("n"),
            round(col("sum_value") * 100).cast("long").as("sum_value_x100"))
          .orderBy("hour", "event_type")
      },
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
             |       event_type, count(*) AS n, CAST(round(sum(value) * 100) AS BIGINT) AS sum_value_x100
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY hour, event_type""".stripMargin)),

    // ST parity: streaming exact dedup (dropDuplicatesWithinWatermark,
    // state keyed by content fingerprint) over the documents fixture
    // must emit exactly one row per distinct fingerprint — the batch
    // distinct census. WHICH duplicate survives is arrival-order
    // dependent, so the gate compares the census, not the ids.
    GateQuery(
      "q_dedup_stream",
      (s, d) => {
        val fx = cachedFixture("dedup_stream", d) { fx =>
          Tables.documents(s, d).select(
              col("doc_id"),
              lit(1700000000L).as("ts"), // one instant: all within horizon
              col("text"))
            .filter(col("text").isNotNull)
            .coalesce(2).write.mode("overwrite").parquet(s"$fx/drop")
        }
        val work = replayDir("dedup_stream_run")
        withReplayConf(s) { r =>
          StreamingDedup.dedupStream(r, s"$fx/drop", s"$work/out",
            s"$work/ckpt", horizon = "1 hour",
            format = "parquet").awaitTermination()
        }
        s.read.parquet(s"$work/out")
          .agg(
            count(lit(1)).as("n_emitted"),
            countDistinct(col("fp")).as("n_unique"),
            min("fp").as("min_fp"), max("fp").as("max_fp"))
      },
      Some("""SELECT count(DISTINCT substring(md5(lower(trim(text))), 1, 16)) AS n_emitted,
             |       count(DISTINCT substring(md5(lower(trim(text))), 1, 16)) AS n_unique,
             |       min(substring(md5(lower(trim(text))), 1, 16)) AS min_fp,
             |       max(substring(md5(lower(trim(text))), 1, 16)) AS max_fp
             |FROM documents
             |WHERE text IS NOT NULL""".stripMargin)),

    // ST parity: watermarked stream-stream decision↔reward join
    // (StreamingJoin) must equal the batch join census. Decisions and
    // rewards both derive deterministically from the events fixture;
    // the reward is delayed by (event_id % 4) hours, so the 2-hour
    // join cap admits delays {0h, 1h, 2h} and excludes 3h — the
    // event-time range condition is exercised in both directions.
    // Inner stream-stream joins emit on match (no watermark wait), so
    // no sentinel is needed; events are written time-ordered so state
    // never expires before the matching side arrives.
    GateQuery(
      "q_reward_join_stream",
      (s, d) => {
        val fx = cachedFixture("rjoin_stream", d) { fx =>
          val ev = Tables.events(s, d).select(
            col("event_id"),
            col("ts").cast("long").as("ts"), // floor to epoch seconds
            col("value"))
            .persist() // both fixture sides derive from one scan
          // coalesce(1) AFTER the sort: one globally time-ordered file
          // per side — the time-ordered-arrival contract with minimal
          // file-source listing
          ev.select(
              col("event_id").cast("string").as("decision_id"),
              col("ts"),
              concat(lit("i"), (col("event_id") % 20).cast("string")).as("item"))
            .orderBy("ts").coalesce(1)
            .write.mode("overwrite").parquet(s"$fx/decisions")
          ev.filter(col("value").isNotNull)
            .select(
              col("event_id").cast("string").as("decision_id"),
              (col("ts") + (col("event_id") % 4) * 3600L).as("ts"),
              col("value").as("reward"))
            .orderBy("ts").coalesce(1)
            .write.mode("overwrite").parquet(s"$fx/rewards")
          ev.unpersist(blocking = false)
        }
        val work = replayDir("rjoin_stream_run")
        withReplayConf(s) { r =>
          StreamingJoin.rewardJoinStream(r, s"$fx/decisions", s"$fx/rewards",
            s"$work/out", s"$work/ckpt",
            lateness = "1 hour", maxRewardDelay = "2 hours",
            format = "parquet").awaitTermination()
        }
        s.read.parquet(s"$work/out")
          .agg(
            count(lit(1)).as("n_joined"),
            round(sum("reward") * 100).cast("long").as("sum_reward_x100"),
            sum("delay_sec").cast("long").as("sum_delay"),
            countDistinct(col("decision_id")).as("n_matched"))
      },
      Some("""WITH d AS (
             |  SELECT CAST(event_id AS VARCHAR) AS decision_id,
             |         CAST(floor(epoch(ts)) AS BIGINT) AS dts
             |  FROM events
             |), r AS (
             |  SELECT CAST(event_id AS VARCHAR) AS decision_id,
             |         CAST(floor(epoch(ts)) AS BIGINT) + (event_id % 4) * 3600 AS rts,
             |         value AS reward
             |  FROM events WHERE value IS NOT NULL
             |)
             |SELECT count(*) AS n_joined, CAST(round(sum(reward) * 100) AS BIGINT) AS sum_reward_x100,
             |       CAST(sum(rts - dts) AS BIGINT) AS sum_delay,
             |       count(DISTINCT decision_id) AS n_matched
             |FROM d JOIN r USING (decision_id)
             |WHERE rts >= dts AND rts <= dts + 7200""".stripMargin)),

    // ST parity: streaming ANN-index maintenance. Build the IVF index
    // on the odd half, stream the even half through a drop folder in
    // ~3 micro-batch appends (frozen quantizer), then query
    // exhaustively (nprobe = C ⇒ exact). The result must equal brute
    // force over the WHOLE corpus — i.e. the micro-batched appends are
    // indistinguishable from the one-shot batch append
    // (q_ann_ivf_append's semantics) and from never having split the
    // corpus at all.
    GateQuery(
      "q_ann_ivf_stream",
      (s, d) => {
        import org.apache.spark.sql.types._
        val emb = Tables.embeddings(s, d)
          .withColumn("v", transform(col("embedding"), x => x.cast("double")))
          .select("vec_id", "label", "v")
        val query = emb.filter(col("vec_id") === 0)
          .select("v").collect().head.getSeq[Double](0)
        val corpus = emb.filter(col("vec_id") =!= 0)
        val fx = cachedFixture("ivf_stream", d) { fx =>
          // 12 files / 4 per trigger: same ~3 micro-batch appends, but
          // each batch arrives 4-file-parallel instead of as one file
          // (the cell-assignment pass below is per-row work — see the
          // replay-parallelism note on withReplayConf)
          corpus.filter(col("vec_id") % 2 === 0)
            .repartition(12)
            .write.mode("overwrite").parquet(s"$fx/drop")
        }
        // the index is NOT fixture: each pass rebuilds it from the odd
        // half and replays the appends against a fresh checkpoint —
        // the maintenance loop under test
        val work = replayDir("ivf_stream_run")
        val dir = GateScratch.dir("ivf_stream_gate")
        val idx = graft.operators.IvfIndex.build(
          corpus.filter(col("vec_id") % 2 === 1),
          "v", "vec_id", dir, numCells = 8, seed = 5L)
        val schema = StructType(Seq(
          StructField("vec_id", LongType),
          StructField("label", IntegerType),
          StructField("v", ArrayType(DoubleType))))
        withReplayConf(s) { r =>
          graft.streaming.StreamingIndex.appendStream(
            r, s"$fx/drop", s"$work/ckpt", idx, "v", schema,
            maxFilesPerTrigger = 4, format = "parquet").awaitTermination()
        }
        graft.operators.IvfIndex.topK(s, idx, "v", "vec_id", query, 10, nprobe = 8)
          .select("vec_id", "label", "cos")
      },
      Some(SharedOracles.exactTop10Cos)),

    // ST parity: incremental data-quality expectations
    // (StreamingAudit) — the documents fixture replayed through a drop
    // folder in micro-batches, mergeable constraint counters
    // accumulated per batch (uniqueness via the incremental
    // seen-values ledger), must produce the IDENTICAL audit the batch
    // q_expectations gate computes: same constraint suite
    // (AuditOps.DocExpectations), same projection arithmetic
    // (Expectations.project), same oracle VERBATIM.
    GateQuery(
      "q_expectations_stream",
      (s, d) => {
        import org.apache.spark.sql.types._
        val fx = cachedFixture("audit_stream", d) { fx =>
          // several files → several micro-batches (maxFilesPerTrigger
          // = 1), so the accumulate/ledger path actually exercises
          Tables.documents(s, d)
            .select("doc_id", "text", "lang", "n_chars")
            .repartition(4).write.mode("overwrite").parquet(s"$fx/drop")
        }
        val work = replayDir("audit_stream_run")
        withReplayConf(s) { r =>
          graft.streaming.StreamingAudit.auditStream(
            r, s"$fx/drop", s"$work/state", s"$work/ckpt",
            StructType(Seq(
              StructField("doc_id", LongType),
              StructField("text", StringType),
              StructField("lang", StringType),
              StructField("n_chars", LongType))),
            AuditOps.DocExpectations,
            maxFilesPerTrigger = 2, format = "parquet").awaitTermination()
        }
        graft.streaming.StreamingAudit
          .result(s, s"$work/state", AuditOps.DocExpectations)
          .orderBy("expectation")
      },
      Some(AuditOps.ExpectationsOracle)),

    // ST parity: streaming winnow near-dup flagging (incremental
    // fingerprint table, flag-at-arrival) must equal the batch
    // winnow-pair derivation. The flag contract is ID-ORDER (a doc is
    // flagged iff a smaller-id doc shares >= 2 fingerprints), so the
    // flag set is a pure function of the corpus — independent of the
    // micro-batch boundaries the replay happens to produce — and the
    // oracle re-derives it from the all-pairs winnow relation.
    GateQuery(
      "q_neardup_stream",
      (s, d) => {
        val fx = cachedFixture("neardup_stream", d) { fx =>
          Tables.documents(s, d).select(col("doc_id"), col("text"))
            .filter(col("text").isNotNull)
            // several files -> several micro-batches, so the
            // prior-vs-intra-batch split is actually exercised.
            // 16-file parallel arrival measured WORSE here (3.3-4.4 s
            // vs 3.1 s at 4/2 — the per-batch prior-state join pays
            // more in extra shuffle width than the shingle map side
            // gains) — left at 4 files / 2 per trigger.
            .repartition(4)
            .write.mode("overwrite").parquet(s"$fx/drop")
        }
        val work = replayDir("neardup_stream_run")
        withReplayConf(s) { r =>
          graft.streaming.StreamingNearDup.flagStream(
            r, s"$fx/drop", s"$work/nd", s"$work/ckpt",
            maxFilesPerTrigger = 2,
            format = "parquet").awaitTermination()
        }
        val flagged = s.read.parquet(s"$work/nd/flags")
          .select("doc_id").distinct()
        val fps = s.read.parquet(s"$work/nd/fps")
        flagged.agg(
          count(lit(1)).as("n_flagged"),
          coalesce(sum(graft.operators.Curation.hashBucket(
            col("doc_id").cast("string"))), lit(0L))
            .cast("long").as("flag_checksum"))
          .crossJoin(fps.agg(
            count(lit(1)).as("n_fps"),
            countDistinct(col("doc_id")).as("n_fp_docs")))
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
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |      FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |      GROUP BY 1, 2 HAVING count(*) >= 2),
              |fl AS (SELECT DISTINCT id_b AS doc_id FROM p)
              |SELECT (SELECT count(*) FROM fl) AS n_flagged,
              |       (SELECT CAST(coalesce(sum(${SharedOracles.bucketSql("CAST(doc_id AS VARCHAR)")}), 0) AS BIGINT) FROM fl) AS flag_checksum,
              |       (SELECT count(*) FROM fp) AS n_fps,
              |       (SELECT count(DISTINCT doc_id) FROM fp) AS n_fp_docs
              |FROM (SELECT 1)""".stripMargin)),

    // ST parity: incremental Count-Min maintenance. Each micro-batch
    // writes its own sketch contribution (batch=<id> overwrite -- the
    // exactly-once rollup contract); the merged cells equal one build
    // over everything delivered (CMS linearity, CountMinSpec pins the
    // identity), so the estimates -- and this gate's output -- are
    // IDENTICAL to the batch q_cms_counts, oracle shared verbatim.
    GateQuery(
      "q_cms_stream",
      (s, d) => {
        import org.apache.spark.sql.types._
        import graft.operators.CountMin
        val fx = cachedFixture("cms_stream", d) { fx =>
          Tables.lineitem(s, d).select("l_partkey")
            // several files -> several micro-batches, so merged() really
            // sums cross-batch contributions
            .repartition(16).write.mode("overwrite").parquet(s"$fx/drop")
        }
        val work = replayDir("cms_stream_run")
        withReplayConf(s) { r =>
          StreamingRollup.rollupStream(r, s"$fx/drop", s"$work/state",
            s"$work/ckpt",
            StructType(Seq(StructField("l_partkey", LongType))),
            maxFilesPerTrigger = 8, format = "parquet")(
            b => CountMin.build(b, "l_partkey", depth = 4, width = 256))
            .awaitTermination()
        }
        val sketch = StreamingRollup.merged(s, s"$work/state",
          Seq("seed", "bucket"), Seq("cnt"))
        val cnt = Tables.lineitem(s, d)
          .groupBy(col("l_partkey").as("item"))
          .agg(count(lit(1)).as("exact_n"))
        val top = cnt.orderBy(desc("exact_n"), asc("item")).limit(20)
        CountMin.estimate(sketch, top, "item", depth = 4, width = 256)
          .join(top, Seq("item"))
          .select(col("item"), col("exact_n"), col("est_n"),
            (col("est_n") - col("exact_n")).as("overcount"),
            (col("est_n") >= col("exact_n")).as("never_under"))
          .orderBy(desc("exact_n"), asc("item"))
      },
      Some(ExtOps.CmsOracle)),

    // ST parity: incremental Poisson-bootstrap monitoring. Replicate
    // weights are content-derived (md5 of (rep, event_id)), so each
    // micro-batch's per-replicate (n_eff, wsum) partials are exact and
    // ADDITIVE — merged by one keyed sum they reconstruct the corpus
    // replicate table bit-for-bit, and the confidence readout can be
    // refreshed at any monitoring cadence without rescanning history.
    // Output equals the batch q_bootstrap_ci exactly (oracle shared
    // verbatim).
    GateQuery(
      "q_bootstrap_stream",
      (s, d) => {
        import org.apache.spark.sql.types._
        import graft.operators.Stats
        val fx = cachedFixture("bootstrap_stream", d) { fx =>
          Tables.events(s, d)
            .select(col("event_id"),
              round(col("value") * 100).cast("long").as("cents"))
            .repartition(16).write.mode("overwrite").parquet(s"$fx/drop")
        }
        val work = replayDir("bootstrap_stream_run")
        withReplayConf(s) { r =>
          StreamingRollup.rollupStream(r, s"$fx/drop", s"$work/state",
            s"$work/ckpt",
            StructType(Seq(StructField("event_id", LongType),
              StructField("cents", LongType))),
            maxFilesPerTrigger = 8, format = "parquet")(
            b => Stats.poissonBootstrap(b, col("event_id"), col("cents"),
              reps = 20))
            .awaitTermination()
        }
        StreamingRollup.merged(s, s"$work/state", Seq("rep"),
          Seq("n_eff", "wsum"))
          .withColumn("mean_x100", expr(
            SharedOracles.halfDivSpark("wsum * 100", "n_eff")))
          .orderBy("rep")
      },
      Some(StatsOps.BootstrapOracle)),

    // ST parity: incremental CUSUM change-point monitoring. The daily
    // (n, Σcents) partials per action are additive, so the rollup
    // state reconstructs the exact daily-mean sequence and the CUSUM
    // recurrence (run at read time over the bounded per-action day
    // relation) equals the batch q_cusum_drift bit-for-bit — drift
    // localization refreshed per micro-batch without rescanning
    // history. Oracle shared verbatim.
    GateQuery(
      "q_cusum_stream",
      (s, d) => {
        import org.apache.spark.sql.types._
        val fx = cachedFixture("cusum_stream", d) { fx =>
          Tables.events(s, d)
            .select(col("event_type"), unix_micros(col("ts")).as("tus"),
              round(col("value") * 100).cast("long").as("cents"))
            .repartition(16).write.mode("overwrite").parquet(s"$fx/drop")
        }
        val work = replayDir("cusum_stream_run")
        withReplayConf(s) { r =>
          StreamingRollup.rollupStream(r, s"$fx/drop", s"$work/state",
            s"$work/ckpt",
            StructType(Seq(StructField("event_type", StringType),
              StructField("tus", LongType), StructField("cents", LongType))),
            maxFilesPerTrigger = 8, format = "parquet")(
            b => b.groupBy(col("event_type"),
                expr("tus div 86400000000L").as("day"))
              .agg(count(lit(1)).as("n"), sum("cents").cast("long").as("sc")))
            .awaitTermination()
        }
        StatsOps.cusumCensus(
          StreamingRollup.merged(s, s"$work/state",
            Seq("event_type", "day"), Seq("n", "sc")))
      },
      Some(StatsOps.CusumOracle)),

    // ST parity: incremental exact-AUC monitoring. The per-distinct-
    // score (n_pos, n_neg) histogram is additive, so per-batch
    // histograms merged by a keyed sum reconstruct the corpus
    // histogram EXACTLY -- streaming delivery maintains the exact AUC
    // (not an approximation), Metrics.aucFromHistogram computes the
    // rank-sum over the merged state, and the output equals the batch
    // q_auc bit-for-bit (oracle shared verbatim). Scores survive the
    // JSON hop because doubles serialize as shortest-round-trip
    // decimal; y/score nulls are filtered batch-side like the batch
    // fixture.
    GateQuery(
      "q_auc_stream",
      (s, d) => {
        import org.apache.spark.sql.types._
        import graft.operators.Metrics
        val fx = cachedFixture("auc_stream", d) { fx =>
          EvalOps.scored(s, d)
            .select(col("y"), col("score").cast("double").as("score"))
            .repartition(16).write.mode("overwrite").parquet(s"$fx/drop")
        }
        val work = replayDir("auc_stream_run")
        withReplayConf(s) { r =>
          StreamingRollup.rollupStream(r, s"$fx/drop", s"$work/state",
            s"$work/ckpt",
            StructType(Seq(StructField("y", IntegerType),
              StructField("score", DoubleType))),
            maxFilesPerTrigger = 8, format = "parquet")(
            b => b.filter(col("score").isNotNull && col("y").isNotNull)
              .groupBy("score")
              .agg(sum(when(col("y") =!= 0, 1L).otherwise(0L)).as("_np"),
                sum(when(col("y") =!= 0, 0L).otherwise(1L)).as("_nn")))
            .awaitTermination()
        }
        Metrics.aucFromHistogram(
          StreamingRollup.merged(s, s"$work/state", Seq("score"),
            Seq("_np", "_nn")),
          "score")
      },
      Some(EvalOps.AucOracle)),

    // ST parity: incremental PSI drift monitoring. The deployment
    // shape: the bin GRID is frozen from the reference at deploy time
    // (the two bounds are the only driver-held state -- justified
    // collect, 2 scalars), each arriving micro-batch contributes its
    // equal-width bin counts (Drift.binCounts -- the ONE binning
    // definition, shared with the batch operator), and bin counts are
    // additive, so the merged state + Drift.psiFromBins reproduce the
    // batch q_drift_psi bit-for-bit (oracle shared verbatim).
    GateQuery(
      "q_drift_stream",
      (s, d) => {
        import org.apache.spark.sql.types._
        import graft.operators.Drift
        val li = Tables.lineitem(s, d)
        val ref = li.filter(col("l_orderkey") % 2 === 0)
        val b = Drift.refBounds(ref, "l_extendedprice").head()
        val (lo, hi) = (b.getDouble(0), b.getDouble(1))
        val fx = cachedFixture("drift_stream", d) { fx =>
          li.filter(col("l_orderkey") % 2 === 1)
            .select(col("l_extendedprice").cast("double").as("x"))
            .repartition(16).write.mode("overwrite").parquet(s"$fx/drop")
        }
        val work = replayDir("drift_stream_run")
        withReplayConf(s) { r =>
          StreamingRollup.rollupStream(r, s"$fx/drop", s"$work/state",
            s"$work/ckpt", StructType(Seq(StructField("x", DoubleType))),
            maxFilesPerTrigger = 8, format = "parquet")(
            batch => Drift.binCounts(batch, "x",
              batch.sparkSession.range(1)
                .select(lit(lo).as("_lo"), lit(hi).as("_hi")),
              10, "n_cur"))
            .awaitTermination()
        }
        val curBins = StreamingRollup.merged(s, s"$work/state",
          Seq("bin"), Seq("n_cur"))
        val refBins = Drift.binCounts(ref, "l_extendedprice",
          Drift.refBounds(ref, "l_extendedprice"), 10, "n_ref")
        Rel.psiGateProjection(Drift.psiFromBins(refBins, curBins, 10))
      },
      Some(Rel.DriftPsiOracle)))
}
