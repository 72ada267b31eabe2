package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Commit

import org.apache.hadoop.fs.{Path => HPath}

/** Materialized IVF index: the cell assignment from `Ann` persisted as
  * a cell-PARTITIONED parquet table plus a centroids sidecar. Probing
  * becomes partition pruning — a 1-probe query reads ONLY the probed
  * cell's files, never the rest of the corpus. This is the 100 TB
  * shape of ANN search: assignment cost is paid once at build time,
  * every query after that scans |corpus| · nprobe / C rows.
  *
  * Layout under `dir`:
  *   cells/cell=<i>/part-….parquet — all input columns, one dir per cell
  *   centroids.json             — [[d0, d1, …], …] (C × dim)
  */
object IvfIndex {

  final case class Index(dir: String, centroids: Array[Seq[Double]])

  // every build (cells + sidecars) swaps in whole through Commit: a
  // failed rebuild must never pair NEW cell assignments with an OLD
  // centroids sidecar (probes would prune the wrong partitions and
  // silently return wrong neighbors)
  private def writeSidecar(dir: String, name: String, content: String): Unit =
    Commit.writeBytes(s"$dir/$name", content.getBytes("UTF-8"))

  private def readSidecar(dir: String, name: String): Option[String] =
    Commit.readBytes(s"$dir/$name").map(new String(_, "UTF-8"))

  private def centroidsJson(cents: Array[Seq[Double]]): String =
    cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Assign cells (seeded cosine k-means quantizer by default) and
    * write the partitioned table + sidecar. One full pass over the
    * corpus (plus one cell/assignment-quality census pass over the
    * written columnar table — ≤ C·[[HistBins]] rows to the driver);
    * the only driver-side state is C centroid vectors + the census.
    */
  def build(df: DataFrame, vecCol: String, idCol: String, dir: String,
      numCells: Int, seed: Long = 7L, kmeansQuantizer: Boolean = true): Index = {
    val cents =
      if (kmeansQuantizer) Ann.kmeansCentroids(df, vecCol, numCells, seed)
      else Ann.centroids(df, vecCol, idCol, numCells)
    // build-time dimension guard, mirroring append's: nearest_cell
    // throws on SHORTER vectors but truncate-scores LONGER ones (an
    // upgraded embedding model) into a cell where cosine then declines
    // them at every probe — stored but permanently unprobeable, and
    // invisible to the drift ledger. Fail the build loudly instead.
    // Null VECTORS pass through (they land in the null cell partition
    // and the census skips them — a null row must not fail a build
    // whose other data is fine); null ELEMENTS pass size() and are
    // handled by the census's cosine-nullity filter.
    val dim = cents.headOption.map(_.length).getOrElse(0)
    val checked = df.withColumn(vecCol,
      when(col(vecCol).isNull || size(col(vecCol)) === dim, col(vecCol))
        .otherwise(raise_error(concat(
          lit(s"ivf build: vector dimension must be $dim, got "),
          size(col(vecCol)).cast("string"))).cast("array<double>")))
    Commit.replaceDir(dir) { tmp =>
      Ann.withCell(checked, vecCol, cents)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$tmp/cells")
      writeSidecar(tmp, "centroids.json", centroidsJson(cents))
      // drift baseline: census the WRITTEN table (columnar re-read of
      // vec+cell only) rather than re-running the assignment pass.
      // Best-effort: a census failure ships the index UNTRACKED (no
      // stats sidecar) rather than failing a build whose data is fine.
      try {
        val base = assignmentCensus(
          df.sparkSession.read.parquet(s"$tmp/cells"), vecCol, cents)
        writeSidecar(tmp, StatsSidecar,
          statsJson(AppendStats(base, emptySide)))
      } catch { case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"ivf build census skipped (index untracked): $e")
      }
    }
    Index(dir, cents)
  }

  /** Incremental maintenance: assign a NEW batch of vectors to the
    * EXISTING centroids and append into the cell partitions — the
    * production path for a growing corpus, linear in the batch instead
    * of a full rebuild per delivery. The quantizer is intentionally
    * frozen (same centroids ⇒ existing cell assignments stay valid and
    * probes stay correct); rebuild when drift degrades recall — the
    * AnnSpec recall gate is the regression guard for that call.
    *
    * Parquet append is atomic per file and `partitionBy` only touches
    * the batch's cells; a crashed append can leave a partial BATCH but
    * never corrupts existing files, and re-running the batch after
    * dedup (see Dedup.deltaPairs) restores consistency.
    */
  def append(index: Index, df: DataFrame, vecCol: String): Index = {
    // a PQ cells table carries code/vnorm columns a raw batch lacks —
    // appending un-encoded rows would silently corrupt ADC scoring
    require(!Commit.fs(index.dir).exists(new HPath(index.dir, "codebook.json")),
      s"${index.dir} is an IVF-PQ index; append supports plain IVF only — " +
        "rebuild with buildPq (or PQ-encode the batch) instead")
    val dim = index.centroids.headOption.map(_.length).getOrElse(0)
    // in-plan dimension guard: nearest_cell throws on SHORTER vectors,
    // but a LONGER one (e.g. an upgraded embedding model) would be
    // truncated-scored into a cell and then never match any query
    // (cosine declines length mismatches) — permanent silent recall
    // loss, so it must fail the append instead
    val checked = df.withColumn(vecCol,
      coalesce(
        when(size(col(vecCol)) === dim, col(vecCol)),
        raise_error(concat(
          lit(s"ivf append: vector dimension must be $dim, got "),
          size(col(vecCol)).cast("string"))).cast("array<double>")))
    val projected = Ann.withCell(checked, vecCol, index.centroids)
    // schema-drift guard: mode("append") would happily write
    // mixed-schema footers whose corruption surfaces only at some
    // later probe ("Parquet column cannot be converted"), far from
    // the append that caused it
    val existing = df.sparkSession.read.parquet(s"${index.dir}/cells").schema
    val exMap = existing.fields.map(f => f.name -> f.dataType).toMap
    val newMap = projected.schema.fields.map(f => f.name -> f.dataType).toMap
    require(exMap == newMap,
      s"ivf append: batch schema $newMap does not match the index cells table $exMap")
    // the batch feeds the parquet append AND the drift census below —
    // persist so the assignment expression runs once per row
    val proj = projected.persist()
    try {
      proj.write.mode("append").partitionBy("cell").parquet(s"${index.dir}/cells")
      // Drift accounting (see driftReport): merge the batch's census
      // into the appended side of the stats sidecar. Best-effort
      // monitoring, not correctness: a crash between the parquet
      // append and this write undercounts the appended side (drift is
      // then under-reported until the next append), the sidecar is
      // replaced whole (never torn mid-write), and a pre-stats index is
      // simply not tracked.
      // The read-modify-write is serialized per JVM; concurrent
      // appenders in SEPARATE processes must serialize externally or
      // accept lost census updates (the parquet data itself is safe).
      statsLock.synchronized {
        // same swallow-to-untracked contract as loadStats: the census
        // must never fail an append whose parquet data already landed
        // (a retry would duplicate the batch's rows in the cells table)
        try
          loadStats(index.dir).foreach { st =>
            val batch = assignmentCensus(proj, vecCol, index.centroids)
            Commit.replaceFile(s"${index.dir}/$StatsSidecar")(_.write(
              statsJson(st.copy(appended = mergeSides(st.appended, batch))).getBytes("UTF-8")))
          }
        catch { case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"ivf append census skipped (data landed): $e")
        }
      }
    } finally proj.unpersist(blocking = false)
    index
  }

  // ---- append drift tracking --------------------------------------------

  /** Assignment-quality resolution: cos(vector, assigned centroid) in
    * [−1, 1], binned into this many equal-width bins.
    */
  val HistBins = 20

  private val StatsSidecar = "append_stats.json"

  // serializes the sidecar read-modify-write across same-JVM appenders
  private val statsLock = new Object

  /** One side of the drift ledger: row count, per-cell counts, and the
    * assignment-cosine histogram.
    */
  final case class DriftSide(n: Long, cells: Map[Int, Long], hist: Seq[Long])

  /** The stats sidecar: the build-time baseline vs everything appended
    * against the frozen centroids since.
    */
  final case class AppendStats(base: DriftSide, appended: DriftSide)

  /** Drift verdict for a grown index — computed from the sidecar
    * ledger alone, no corpus scan and no ground-truth k-NN pass.
    */
  final case class DriftReport(
      appendedFraction: Double,
      assignPsi: Double,
      cellSkewBase: Double,
      cellSkewNow: Double,
      needsRecluster: Boolean)

  private def emptySide = DriftSide(0L, Map.empty, Seq.fill(HistBins)(0L))

  /** ≤ C·HistBins rows to the driver: (cell, assignment-cosine bin)
    * counts in ONE map-side-combined aggregation.
    */
  private def assignmentCensus(assigned: DataFrame, vecCol: String,
      cents: Array[Seq[Double]]): DriftSide = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val centDf = cents.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("cell", "_cent")
    val rows = assigned.select(col("cell"), col(vecCol))
      // null-safety: a vector with a null ELEMENT passes append's
      // size()==dim guard (size counts null slots) but cosine declines
      // it to null; a null VECTOR lands in the null cell partition.
      // Either would NPE the driver-side getInt below — after the
      // parquet append already landed — so such rows are simply
      // uncounted by the ledger (best-effort monitoring). The nullity
      // filter must run on the RAW cosine, before clamping: greatest/
      // least IGNORE null arguments, so greatest(lit(0), floor(null))
      // is 0, not null — a post-clamp filter would silently count the
      // row in bin 0 (the worst-assignment bin) and fake drift.
      .filter(col("cell").isNotNull)
      .join(broadcast(centDf), Seq("cell"))
      .withColumn("_cos", Ann.cosine(col(vecCol), col("_cent")))
      .filter(col("_cos").isNotNull)
      .withColumn("_bin", least(lit(HistBins - 1), greatest(lit(0),
        floor((col("_cos") + 1.0) / 2.0 * HistBins).cast("int"))))
      .groupBy("cell", "_bin").agg(count(lit(1)).as("n"))
      .collect()
    val cells = rows.groupBy(_.getInt(0)).map { case (c, rs) =>
      c -> rs.map(_.getLong(2)).sum }
    val hist = Array.fill(HistBins)(0L)
    rows.foreach(r => hist(r.getInt(1)) += r.getLong(2))
    DriftSide(hist.sum, cells, hist.toIndexedSeq)
  }

  private def mergeSides(a: DriftSide, b: DriftSide): DriftSide = DriftSide(
    a.n + b.n,
    (a.cells.keySet ++ b.cells.keySet).map(c =>
      c -> (a.cells.getOrElse(c, 0L) + b.cells.getOrElse(c, 0L))).toMap,
    a.hist.zip(b.hist).map { case (x, y) => x + y })

  private def sideJson(s: DriftSide): String = {
    val cells = s.cells.toSeq.sorted
      .map { case (c, n) => s"[$c,$n]" }.mkString("[", ",", "]")
    s"""{"n":${s.n},"cells":$cells,"hist":${s.hist.mkString("[", ",", "]")}}"""
  }

  private def statsJson(st: AppendStats): String =
    s"""{"base":${sideJson(st.base)},"appended":${sideJson(st.appended)}}"""

  /** The drift ledger, if this index carries one. None for indexes
    * built before stats tracking, for a sidecar torn by a crash
    * mid-write, and for a ledger whose histogram resolution does not
    * match this version's [[HistBins]] — in every case the index is
    * merely UNTRACKED (appends and probes keep working); a truncated
    * or skewed ledger must never throw here, or every later append()
    * would fail after its parquet data already landed, and zip-
    * truncated histograms would yield a plausible-but-wrong PSI.
    */
  def loadStats(dir: String): Option[AppendStats] =
    try readSidecar(dir, StatsSidecar).flatMap { text =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      def side(n: com.fasterxml.jackson.databind.JsonNode): DriftSide = DriftSide(
        n.get("n").longValue(),
        (0 until n.get("cells").size()).map { i =>
          val p = n.get("cells").get(i)
          p.get(0).intValue() -> p.get(1).longValue()
        }.toMap,
        (0 until n.get("hist").size()).map(n.get("hist").get(_).longValue()))
      val st = AppendStats(side(node.get("base")), side(node.get("appended")))
      if (st.base.hist.length == HistBins && st.appended.hist.length == HistBins)
        Some(st)
      else None
    } catch { case _: Exception => None }

  /** PSI of the appended assignment-cosine histogram against the
    * build-time baseline (ε-floored, same convention as Drift.psiBins).
    */
  private def psiOf(expected: Seq[Long], actual: Seq[Long]): Double = {
    val eps = 1e-6
    val eTot = math.max(expected.sum, 1L).toDouble
    val aTot = math.max(actual.sum, 1L).toDouble
    expected.zip(actual).map { case (e, a) =>
      val p = math.max(e / eTot, eps)
      val q = math.max(a / aTot, eps)
      (q - p) * math.log(q / p)
    }.sum
  }

  /** `needsRecluster` signal for a grown index, from the sidecar ledger
    * alone. Appends assign new vectors to FROZEN centroids, so as the
    * corpus drifts recall decays with no failing operation anywhere —
    * this surfaces the three observable symptoms without a ground-truth
    * scan:
    *
    *   - appended fraction: past ~half the corpus the quantizer was
    *     trained on a minority of the data;
    *   - assignment-quality PSI: drifted vectors sit FARTHER from
    *     every frozen centroid, shifting the cos(vec, centroid)
    *     histogram left vs the build-time baseline;
    *   - cell-size skew: drifted mass funnels into whichever few cells
    *     are least-wrong, so max/mean cell size grows — probe cost and
    *     recall both degrade.
    *
    * None for an index without a stats sidecar.
    */
  def driftReport(index: Index,
      maxAppendedFraction: Double = 0.5,
      maxPsi: Double = 0.25,
      maxSkewGrowth: Double = 4.0): Option[DriftReport] =
    loadStats(index.dir).map { st =>
      val total = st.base.n + st.appended.n
      val frac = if (total == 0L) 0.0 else st.appended.n.toDouble / total
      val psi = if (st.appended.n == 0L) 0.0 else psiOf(st.base.hist, st.appended.hist)
      def skew(cells: Map[Int, Long]): Double = {
        val vs = cells.values
        if (vs.isEmpty) 1.0
        else vs.max.toDouble * vs.size / math.max(vs.sum, 1L).toDouble
      }
      val skewBase = skew(st.base.cells)
      val skewNow = skew(mergeSides(st.base, st.appended).cells)
      DriftReport(frac, psi, skewBase, skewNow,
        needsRecluster = frac > maxAppendedFraction || psi > maxPsi ||
          skewNow > maxSkewGrowth * math.max(skewBase, 1.0))
    }

  /** Reopen a previously built index (centroids only — the cell table
    * stays on disk until probed).
    */
  def load(spark: SparkSession, dir: String): Index = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readSidecar(dir, "centroids.json").getOrElse(
        throw new java.io.FileNotFoundException(s"no IVF index at $dir")))
    val cents = (0 until node.size()).map { i =>
      val row = node.get(i)
      (0 until row.size()).map(row.get(_).doubleValue()): Seq[Double]
    }.toArray
    Index(dir, cents)
  }

  /** The probed subset of the corpus: a partition-pruned scan of the
    * `nprobe` cells nearest the query.
    */
  def probe(spark: SparkSession, index: Index, query: Seq[Double],
      nprobe: Int): DataFrame = {
    val cells = Ann.nearestCells(query, index.centroids, nprobe)
    spark.read.parquet(s"${index.dir}/cells")
      .filter(col("cell").isin(cells: _*))
  }

  /** Top-k cosine neighbors from the materialized index. */
  def topK(spark: SparkSession, index: Index, vecCol: String, idCol: String,
      query: Seq[Double], k: Int, nprobe: Int): DataFrame = {
    val qCol = array(query.map(lit): _*)
    probe(spark, index, query, nprobe)
      .withColumn("cos", round(Ann.cosine(col(vecCol), qCol), 4))
      .orderBy(desc("cos"), asc(idCol))
      .limit(k)
  }

  /** k-NN JOIN through the materialized index — the batch production
    * shape. Query vectors explode to their `nprobe` nearest cells and
    * meet the cell table in one hash-partitioned equi-join; because
    * the union of probed cells across ALL queries is bounded by C
    * (numCells), it is collected driver-side (scalar-sized regardless
    * of query count) and applied as a STATIC partition filter — the
    * corpus scan reads only the probed cells' files, with no fresh
    * assignment pass and no reliance on dynamic partition pruning.
    * nprobe = C ⇒ exact.
    */
  def topKJoin(spark: SparkSession, index: Index, queries: DataFrame,
      vecCol: String, idCol: String, qIdCol: String, k: Int,
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // consumed twice (probed-cell union, then the join) — the probe
    // projection is a scan + native centroid expression, cheap to
    // recompute; callers with an expensive upstream should persist
    // `queries` themselves
    val q = queries.select(col(qIdCol).as("query_id"), col(vecCol).as("_qv"))
      .withColumn("cell", explode(graft.functions.CentroidExpressions
        .nearestCells(col("_qv"), index.centroids, nprobe)))
    val probed = q.select("cell").distinct().collect().map(_.getInt(0))
    val corpus = spark.read.parquet(s"${index.dir}/cells")
      .filter(col("cell").isin(probed.toIndexedSeq: _*))
    val joined = q.join(corpus, Seq("cell"))
      .withColumn("cos", round(Ann.cosine(col("_qv"), col(vecCol)), 4))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc(idCol))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", idCol, "cos", "rank")
  }

  // ---- IVF-PQ ------------------------------------------------------------

  /** IVF-PQ build: PQ codes + exact norms materialized INTO the cell
    * table alongside the vectors. A probe then composes BOTH prunings:
    * partition pruning picks the cells, column pruning reads only
    * (id, code, vnorm) for ADC scoring — the fat vector column is
    * never deserialized unless a re-rank asks for it.
    */
  def buildPq(df: DataFrame, vecCol: String, idCol: String, dir: String,
      numCells: Int, dim: Int, m: Int, k: Int, seed: Long = 7L,
      trainSampleFraction: Double = 1.0): (Index, Pq.Codebook) = {
    // quantizer TRAINING is the sampled part of the scale story: the
    // coarse k-means and all m sub-quantizer fits are iterative
    // full-input scans, and a 1-5% sample trains equivalent-quality
    // codebooks at corpus scale. The ENCODE pass below always runs
    // over the full corpus.
    val cents = Ann.kmeansCentroids(df, vecCol, numCells, seed, trainSampleFraction)
    val cb = Pq.train(df, vecCol, dim, m, k, seed, trainSampleFraction)
    Commit.replaceDir(dir) { tmp =>
      Pq.encode(Ann.withCell(df, vecCol, cents), vecCol, cb)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$tmp/cells")
      writeSidecar(tmp, "centroids.json", centroidsJson(cents))
      writeSidecar(tmp, "codebook.json",
        cb.map(_.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"))
          .mkString("[", ",", "]"))
    }
    (Index(dir, cents), cb)
  }

  /** Reopen an IVF-PQ index (centroids + codebook sidecars). */
  def loadPq(spark: SparkSession, dir: String): (Index, Pq.Codebook) = {
    val idx = load(spark, dir)
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(readSidecar(dir, "codebook.json").getOrElse(
        throw new java.io.FileNotFoundException(s"no IVF-PQ codebook at $dir")))
    val cb = Array.tabulate(node.size()) { i =>
      val sub = node.get(i)
      Array.tabulate(sub.size()) { c =>
        val row = sub.get(c)
        Array.tabulate(row.size())(row.get(_).doubleValue())
      }
    }
    (idx, cb)
  }

  /** ADC top-k through the index: partition-pruned cells, column-pruned
    * (id, code, vnorm) scan. `rerank > 0` re-scores the ADC top
    * k·rerank shortlist with exact cosine (reading vectors for the
    * shortlist's cells only) — the standard two-stage recall repair.
    */
  def topKPq(spark: SparkSession, index: Index, codebook: Pq.Codebook,
      vecCol: String, idCol: String, query: Seq[Double], k: Int,
      nprobe: Int, rerank: Int = 0): DataFrame = {
    val probed = probe(spark, index, query, nprobe)
    val shortlist = Pq.topK(
      probed.select(col(idCol), col("code"), col("vnorm")),
      idCol, query, if (rerank > 0) k * rerank else k, codebook)
    if (rerank == 0) shortlist
    else {
      val qCol = array(query.map(lit): _*)
      probed.join(shortlist.select(col(idCol)), Seq(idCol))
        .withColumn("cos", round(Ann.cosine(col(vecCol), qCol), 4))
        .orderBy(desc("cos"), asc(idCol))
        .limit(k)
    }
  }
}
