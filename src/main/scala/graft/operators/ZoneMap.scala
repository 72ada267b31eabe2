package graft.operators

import scala.jdk.CollectionConverters._
import scala.language.existentials // parquet Statistics[T <: Comparable[T]]

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** File-level zone maps: a persisted manifest of per-file column
  * min/max/null statistics harvested from parquet FOOTERS (metadata
  * bytes only — no data pages are read), plus a pruned-scan entry
  * point that drops whole files whose zones cannot satisfy a range
  * predicate BEFORE Spark lists them into a scan.
  *
  * This is the manifest-driven data-skipping layer of a lake table
  * format (Delta/Iceberg keep the same stats in their commit logs;
  * the reference trainer gets coarse pruning from its lexicographic
  * key layout, `/root/reference/src/trainer/worker.py` date-prefix
  * listing). It composes with [[Layout.zOrder]]: a z-ordered table
  * gives every file a compact rectangle in (a, b) space, so BOTH
  * dimensions prune — that end-to-end pair is gated by
  * `q_zonemap_prune` and spec-tested in ZoneMapSpec.
  *
  * The manifest is the table's `_zone_map.json` sidecar and nothing
  * else: [[refreshSidecar]] is its only harvest and its only writer,
  * and [[freshEntries]] is the one rule that decides which of its
  * entries speak for a live file — every reader (pruned reads, the
  * optimizer rules, the metadata censuses) and every refresh applies
  * it to a live listing, so a file added or rewritten after the last
  * harvest is never judged on entries that do not describe it.
  *
  * Scale shape: the harvest is one flatMap over the FILE LIST of the
  * files the sidecar does not already cover (footer reads, ~KBs per
  * file); pruning reads only the predicate columns' shards —
  * O(files × predicate columns) driver rows, the same order as the
  * file listing Spark's own scan planning already materializes.
  *
  * Executors open footers with a fresh `Configuration()` — on a real
  * cluster the filesystem conf (core-site.xml) rides the executor
  * classpath, the standard deployment; no driver-side Hadoop state is
  * shipped.
  */
object ZoneMap {

  /** One manifest row: the zone of `col` inside `file`.
    *
    * `hasStats` false ⇒ the footer carried no usable statistics (an
    * unsupported physical type, a row group whose writer dropped
    * min/max — parquet-mr omits bounds for oversized binary values —
    * or an all-NaN float chunk) — such a file is NEVER pruned on that
    * column. An all-null column is detected by `nNulls == nRows`, not
    * by absent bounds: range predicates are null-rejecting, so only a
    * PROVABLY all-null file is prunable. Numeric bounds are widened
    * one ulp when lossily narrowed from int64/decimal so a rounded
    * bound can never fake a miss. `isFloat` marks float/double zones:
    * parquet writers skip NaN when folding min/max while Spark's
    * total order ranks NaN above every value, so a floating zone's
    * max is NOT an upper bound for lower-bound predicates — keepFile
    * disables the lo test there (the hi test stays sound: NaN rows
    * never satisfy `a <= hi`).
    */
  final case class ZoneEntry(
      file: String,
      col: String,
      nRows: Long,
      hasStats: Boolean,
      vminNum: Option[Double],
      vmaxNum: Option[Double],
      vminStr: Option[String],
      vmaxStr: Option[String],
      nNulls: Long,
      isFloat: Boolean,
      // source-file modification time at harvest: [[refreshSidecar]]
      // re-harvests a file whose live mtime differs (a compactor may
      // rewrite a file IN PLACE at the same path — path identity alone
      // would keep stale zones and prune unsoundly). 0 = unknown
      // (legacy entries): always treated as stale.
      mtime: Long = 0L,
      // true when the numeric bounds were WIDENED one ulp during the
      // footer harvest (int64 beyond 2^53, decimal unscaling,
      // MILLIS/NANOS→MICROS timestamp conversion): still sound for
      // PRUNING (a widened zone only keeps more files), but NOT the
      // column's exact extremum — [[aggFromManifest]] refuses bounds
      // built from any lossy entry. Legacy entries (field absent in
      // the sidecar JSON) parse as lossy — conservative either way.
      boundsLossy: Boolean = false,
      // base64 of a Spark-sketch bloom filter over xxhash64(col) —
      // present only on BLOOM pseudo-column entries ([[bloomKey]]),
      // built by [[refreshBlooms]] (a data pass, unlike the
      // footer-only range harvest). Lets equality/IN predicates prune
      // files on HIGH-CARDINALITY unclustered columns where min/max
      // zones are useless (a point lookup on an id column: every
      // file's range covers the key, but only the file(s) actually
      // holding it pass the membership test).
      bloom: Option[String] = None,
      // base64 of a DataSketches HLL sketch of the column's values —
      // present only on HLL pseudo-column entries ([[hllKey]]), built
      // by [[refreshHlls]]. Per-file sketches MERGE losslessly, so
      // the table's NDV is answerable from metadata alone
      // ([[ndvFromManifest]]) and maintains incrementally: an ingest
      // batch sketches only its new files, where ANALYZE's
      // count(distinct) rescans the world.
      hll: Option[String] = None,
      // base64 of a DataSketches KLL quantile sketch — KLL pseudo-
      // column entries ([[kllKey]]), built by [[refreshKlls]].
      // Mergeable like the HLL shards: the table's quantile census
      // (median, percentiles, equi-depth boundaries for range
      // partitioning) answers from metadata ([[quantilesFromManifest]])
      // with a known normalized rank error instead of a full sort.
      kll: Option[String] = None)

  /** Bloom entries live under a PSEUDO column name so the sharded
    * sidecar stores and slices them independently of the range zones:
    * a range query on `col` never pays the bloom shard's bytes, and a
    * point lookup reads exactly the shards it needs. The prefix starts
    * with '#' — not a legal first character of any column the harvest
    * tracks from a parquet schema path.
    */
  private[graft] val BloomPrefix = "#bloom#"
  def bloomKey(col: String): String = BloomPrefix + col
  def isBloomKey(col: String): Boolean = col.startsWith(BloomPrefix)

  private[graft] val HllPrefix = "#hll#"
  def hllKey(col: String): String = HllPrefix + col
  def isHllKey(col: String): Boolean = col.startsWith(HllPrefix)

  private[graft] val KllPrefix = "#kll#"
  def kllKey(col: String): String = KllPrefix + col
  def isKllKey(col: String): Boolean = col.startsWith(KllPrefix)

  /** Any auxiliary (non-footer-harvestable) pseudo-column entry. */
  def isAuxKey(col: String): Boolean =
    isBloomKey(col) || isHllKey(col) || isKllKey(col)

  /** A necessary range condition on one column — a RELAXATION of the
    * query's real filter (pruning keeps a superset; the query filter
    * still runs on the survivors). `None` = unbounded on that side.
    */
  sealed trait ZonePred { def col: String }
  final case class NumRange(col: String, lo: Option[Double], hi: Option[Double])
    extends ZonePred
  final case class StrRange(col: String, lo: Option[String], hi: Option[String])
    extends ZonePred
  /** Nullness as a zone predicate: the footer's null census proves
    * whether a file CAN satisfy `IS NULL` (needs nNulls > 0) or
    * `IS NOT NULL` (needs a non-null row). Range predicates already
    * reject provably-all-null files; this makes the standalone
    * `IS [NOT] NULL` conjuncts Spark adds to most filters prune too.
    */
  final case class NullnessPred(col: String, mustHaveNull: Boolean)
    extends ZonePred
  /** Bloom membership as a zone predicate: the attribute's value must
    * be one of a literal set (`a = k`, `a IN (...)`) whose xxhash64
    * hashes are `hashes` — a file whose bloom filter (pseudo-column
    * `col` = [[bloomKey]] of the real column) rules out EVERY hash
    * cannot hold a matching row. Necessary-condition semantics like
    * every other ZonePred: a false positive keeps a file the real
    * filter then empties; a missing/stale/corrupt bloom keeps the
    * file. Hashes must be computed exactly as the build side hashed
    * the column: Spark's `xxhash64` over the value in the ATTRIBUTE's
    * own type (the extraction only emits this for a bare attribute
    * compared to a same-type literal).
    */
  final case class BloomEq(col: String, hashes: Seq[Long]) extends ZonePred {
    require(hashes.nonEmpty, "bloom predicate needs at least one hash")
  }
  /** A disjunction of predicate conjunctions: a file survives when ANY
    * branch is zone-satisfiable (each branch is the extraction of one
    * OR arm). Callers must not build an OrPred when any arm extracted
    * nothing — an un-extractable arm makes the whole disjunction
    * unprunable, so they drop the disjunction instead (the `require`
    * enforces it). `a < 5 OR a > 90` and multi-column arms both prune.
    * NOTE: `col` returns only a REPRESENTATIVE column (the first
    * branch's first predicate) to satisfy the trait; the complete
    * referenced-column set is [[predCols]] — always use that for
    * manifest slicing.
    */
  final case class OrPred(branches: Seq[Seq[ZonePred]]) extends ZonePred {
    require(branches.nonEmpty && branches.forall(_.nonEmpty),
      "every OR branch needs at least one extracted predicate")
    def col: String = branches.head.head.col
  }

  /** Every column a predicate tree references (manifest-slice keys). */
  def predCols(p: ZonePred): Seq[String] = p match {
    case OrPred(bs) => bs.flatten.flatMap(predCols)
    case other => Seq(other.col)
  }

  final case class PruneResult(df: DataFrame, filesTotal: Int, filesKept: Int)

  /** Data files of a parquet directory (skips _SUCCESS / hidden). */
  def dataFiles(spark: SparkSession, dir: String): Seq[String] =
    dataFileStatuses(spark, dir).map(_._1)

  /** (path, mtime) of every data file from `listStatus` calls — the
    * listing already carries the statuses, so per-file `getFileStatus`
    * round-trips (one NameNode call each at 10⁶ files) never happen.
    * RECURSES into non-hidden subdirectories (one listStatus per
    * directory, the same walk Spark's own InMemoryFileIndex does), so
    * a Hive-partitioned layout (`root/k=v/part-*.parquet`) harvests
    * and refreshes exactly like a flat one; `_`/`.`-prefixed names are
    * skipped at every level (metadata, staging, hidden).
    */
  def dataFileStatuses(spark: SparkSession, dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    def walk(d: Path): Unit =
      fs.listStatus(d).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith(".") || n.startsWith("_")) ()
        else if (s.isDirectory) walk(s.getPath)
        else if (s.isFile && n.endsWith(".parquet"))
          buf += ((s.getPath.toString, s.getModificationTime))
      }
    walk(p)
    buf.sortBy(_._1).toSeq
  }

  /** Footer scan of one file → one ZoneEntry per requested column. */
  private[operators] def readZones(
      file: String, cols: Seq[String]): Seq[ZoneEntry] = {
    val conf = new Configuration()
    val path = new Path(file)
    val mtime = path.getFileSystem(conf).getFileStatus(path).getModificationTime
    val in = HadoopInputFile.fromPath(path, conf)
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val nRows = blocks.map(_.getRowCount).sum
      cols.map { c =>
        // fold this column's chunk stats across every row group; any
        // group without usable stats poisons the whole file to
        // hasStats = false (a partial bound is not a bound)
        var ok = blocks.nonEmpty
        var isFloat = false
        var anyLossy = false
        var nNulls = 0L
        var minN = Option.empty[Double]
        var maxN = Option.empty[Double]
        var minS = Option.empty[String]
        var maxS = Option.empty[String]
        blocks.foreach { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == c) match {
            case None => ok = false
            case Some(cc) =>
              val st = cc.getStatistics
              if (st == null || st.isEmpty || !st.isNumNullsSet) ok = false
              // a chunk with values but no bounds: the writer DROPPED
              // min/max (oversized binaries) — its values are invisible
              // to the fold, so no bound derived from the other chunks
              // is a bound for the file
              else if (!st.hasNonNullValue && st.getNumNulls < b.getRowCount)
                ok = false
              else {
                nNulls += st.getNumNulls
                if (st.hasNonNullValue) {
                  val pt = cc.getPrimitiveType
                  (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
                    case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
                      val lo = st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8
                      val hi = st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8
                      // fold in UTF-8 BYTE order (parquet's and Spark's
                      // string order), not Java UTF-16 code-unit order
                      minS = Some(minS.fold(lo)(m => if (utf8Compare(lo, m) < 0) lo else m))
                      maxS = Some(maxS.fold(hi)(m => if (utf8Compare(hi, m) > 0) hi else m))
                    case (pt @ (INT32 | INT64 | FLOAT | DOUBLE), lt) =>
                      if (pt == FLOAT || pt == DOUBLE) isFloat = true
                      // value → Spark-internal units: decimals unscale,
                      // timestamps normalize to MICROS (the unit of
                      // Spark's Literal values and therefore of zone
                      // predicates — a MILLIS/NANOS-annotated file from
                      // another writer would otherwise compare in the
                      // wrong unit and prune unsoundly)
                      val (factor, lossyUnit) = lt match {
                        case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                          (math.pow(10.0, -d.getScale), true)
                        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                          t.getUnit match {
                            case LogicalTypeAnnotation.TimeUnit.MILLIS => (1000.0, true)
                            case LogicalTypeAnnotation.TimeUnit.NANOS => (0.001, true)
                            case _ => (1.0, false)
                          }
                        case _ => (1.0, false)
                      }
                      // int32/float/double narrow losslessly into a
                      // double; int64 beyond 2^53, scaled decimals and
                      // unit-converted timestamps do not — widen those
                      // one ulp per side so a rounded bound can never
                      // fake a zone miss
                      def bound(n: Number, up: Boolean): Double = {
                        val v = n.doubleValue * factor
                        val lossy = lossyUnit ||
                          (n.isInstanceOf[java.lang.Long] &&
                            math.abs(n.longValue) > (1L << 53))
                        if (!lossy) v
                        else {
                          anyLossy = true // widened: not an exact extremum
                          if (up) Math.nextUp(v) else Math.nextDown(v)
                        }
                      }
                      val lo = bound(st.genericGetMin.asInstanceOf[Number], up = false)
                      val hi = bound(st.genericGetMax.asInstanceOf[Number], up = true)
                      // an all-NaN chunk initializes parquet min/max to
                      // NaN: every comparison against it is false, so a
                      // NaN bound is no bound at all
                      if (lo.isNaN || hi.isNaN) ok = false
                      else {
                        minN = Some(minN.fold(lo)(math.min(_, lo)))
                        maxN = Some(maxN.fold(hi)(math.max(_, hi)))
                      }
                    case _ => ok = false // INT96/FIXED/BOOLEAN: not prunable here
                  }
                }
              }
          }
        }
        if (!ok)
          ZoneEntry(file, c, nRows, hasStats = false, None, None, None, None,
            0L, isFloat = false, mtime = mtime)
        else
          ZoneEntry(file, c, nRows, hasStats = true, minN, maxN, minS, maxS,
            nNulls, isFloat, mtime = mtime, boundsLossy = anyLossy)
      }
    } finally reader.close()
  }

  /** UTF-8 byte order (unsigned) — the order parquet computes binary
    * stats in and Spark compares UTF8Strings in. Java String order is
    * UTF-16 code-unit order, which DISAGREES above the BMP (an emoji
    * sorts below U+FFFF in Java but above it in bytes) — pruning on
    * Java order could skip a file whose rows match the Spark filter.
    */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** THE prune decision for one file: can a file with these zones
    * (keyed by column; a column may be absent) still satisfy every
    * predicate? Shared by [[prunedRead]], [[DynamicPrune]] and the
    * optimizer rule ([[graft.plans.ZoneSkipRule]]); callers pass only
    * the file's [[freshEntries]], so an empty map keeps the file.
    */
  def keepFile(entries: Map[String, ZoneEntry], preds: Seq[ZonePred]): Boolean =
    preds.forall(satisfiable(entries, _))

  /** Can a file with these zones still satisfy ONE predicate? An OR
    * node is satisfiable when any branch's conjunction is.
    */
  private def satisfiable(entries: Map[String, ZoneEntry], pred: ZonePred): Boolean =
    pred match {
      case OrPred(branches) =>
        branches.exists(_.forall(satisfiable(entries, _)))
      case BloomEq(key, hashes) =>
        // freshness (mtime) is the CALLER's job, same as every other
        // entry kind; a file without a (fresh) bloom entry is kept
        entries.get(key).flatMap(_.bloom) match {
          case None => true
          case Some(b64) =>
            try {
              val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(
                  java.util.Base64.getDecoder.decode(b64)))
              hashes.exists(bf.mightContainLong)
            } catch { // corrupt bloom bytes: keep the file (fail-safe)
              case scala.util.control.NonFatal(_) => true
            }
        }
      case p =>
      entries.get(p.col) match {
        case None => true // column not in the manifest: cannot prune
        case Some(e) if !e.hasStats => true // no usable stats
        case Some(e) =>
          // all-null is PROVEN by the null census (nNulls == nRows),
          // never inferred from absent bounds — a writer may drop
          // min/max while keeping null counts. Range preds reject
          // nulls, so a proven all-null file prunes. A bound of the
          // wrong kind for the predicate (numeric pred on a string
          // zone) or a missing bound keeps the file — the real filter
          // decides. Floating zones skip the lo test: parquet min/max
          // exclude NaN while Spark ranks NaN above every value, so
          // vmax is not an upper bound for `a >= lo`; `vmin <= hi`
          // stays sound (NaN rows never satisfy `a <= hi`).
          val allNull = e.nRows > 0 && e.nNulls >= e.nRows
          p match {
            case NumRange(_, lo, hi) =>
              if (allNull) false
              else
                // defensive: a NaN bound never prunes (comparisons
                // against NaN are all false, which would drop every
                // stats-carrying file — including ones whose NaN rows
                // match under Spark's NaN = NaN semantics)
                lo.forall(b => b.isNaN || e.isFloat || e.vmaxNum.forall(_ >= b)) &&
                  hi.forall(b => b.isNaN || e.vminNum.forall(_ <= b))
            case StrRange(_, lo, hi) =>
              if (allNull) false
              else
                lo.forall(b => e.vmaxStr.forall(utf8Compare(_, b) >= 0)) &&
                  hi.forall(b => e.vminStr.forall(utf8Compare(_, b) <= 0))
            case NullnessPred(_, mustHaveNull) =>
              if (mustHaveNull) e.nNulls > 0 else !allNull
            case _: OrPred | _: BloomEq => true // unreachable: outer match handles both
          }
      }
    }

  /** Scheme-independent file identity: the sidecar records paths as
    * the harvest listed them, a scan or another listing may render
    * them with an explicit scheme/authority — compare URI paths.
    */
  private[graft] def normalizeUri(file: String): String =
    new Path(file).toUri.getPath

  /** THE freshness rule: for each live file `(path, mtime)`, in order,
    * the sidecar entries that speak for it — same URI path, and a
    * harvest mtime that is known (non-zero) and equal to the live one.
    * An entry of a file rewritten in place since its harvest, or a
    * legacy entry without an mtime, speaks for nothing; a file the
    * sidecar never saw gets no entries. Each caller keeps its own
    * policy on top (pruning keeps a file without fresh entries, a
    * census refuses a table with one); the caller supplies the listing,
    * so the optimizer rules pass their scan index's statuses.
    */
  def freshEntries(live: Seq[(String, Long)],
      entries: Seq[ZoneEntry]): Seq[Seq[ZoneEntry]] = {
    val byFile = entries.groupBy(e => normalizeUri(e.file))
    live.map { case (f, mtime) =>
      byFile.getOrElse(normalizeUri(f), Nil).filter(e => e.mtime != 0L && e.mtime == mtime)
    }
  }

  /** Driver cap on a BLOOM shard read by a pruning decision (range
    * shards are never capped): an oversized shard is skipped and its
    * column does not bloom-prune — less pruning, never a wrong read.
    */
  private[graft] val BloomShardCapBytes = 256L * 1024 * 1024

  /** The live data files of `dir` that can still satisfy EVERY
    * predicate (conjunction), plus the live file count: one listing,
    * one read of the predicate columns' sidecar shards. A file without
    * fresh entries is kept; no sidecar keeps every file.
    */
  private[graft] def keptLiveFiles(spark: SparkSession, dir: String,
      preds: Seq[ZonePred]): (Seq[String], Int) = {
    require(preds.nonEmpty, "no predicates — nothing to prune on")
    val live = dataFileStatuses(spark, dir)
    val entries = readSidecarColumns(new Path(dir, SidecarFile),
      spark.sparkContext.hadoopConfiguration,
      Some(preds.flatMap(predCols).toSet), BloomShardCapBytes)
      .getOrElse(Nil)
    val kept = live.zip(freshEntries(live, entries)).collect {
      case ((f, _), es) if keepFile(es.map(e => e.col -> e).toMap, preds) => f
    }
    (kept, live.length)
  }

  /** Read `dir` with zone-map file skipping: only files whose zones
    * overlap every predicate are handed to the scan. The caller MUST
    * still apply its real filter — pruning guarantees a superset.
    */
  def prunedRead(spark: SparkSession, dir: String,
      preds: Seq[ZonePred]): PruneResult = {
    val (kept, total) = keptLiveFiles(spark, dir, preds)
    val df =
      if (kept.isEmpty) spark.read.parquet(dir).limit(0)
      else if (kept.length == total) spark.read.parquet(dir)
      else spark.read.parquet(kept: _*)
    PruneResult(df, total, kept.length)
  }

  /** Sidecar INDEX filename inside the table directory. Underscore-
    * prefixed so every parquet listing ignores it; JSON — not parquet —
    * because [[graft.plans.ZoneSkipRule]] reads it INSIDE the
    * optimizer, where planning a nested query would recurse into the
    * rule itself (the [[Cbo.StatsFile]] precedent).
    *
    * v2 layout (SHARDED): the index is a small object
    * `{"v":2,"shards":{"<col>":"<shardFile>", ...}}` and each column's
    * entries live in their own `_zone_map.c<hash>.<uuid>.json` array —
    * the optimizer reads ONLY the predicate columns' shards, so its
    * driver allocation is O(files × predicate columns), never
    * O(files × all tracked columns). Shard files are uuid-versioned
    * and referenced by exact name from the index, written BEFORE the
    * index swaps in: a concurrent reader sees either the old snapshot
    * or the new one, never a mix (stale shards are garbage-collected
    * after the index write).
    */
  val SidecarFile = "_zone_map.json"

  /** Stable shard filename for one column: hash-named (column names
    * are data — any character) with a per-write uuid version.
    */
  private def shardName(col: String, uuid: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(col.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = md.take(6).map(b => f"${b & 0xff}%02x").mkString
    s"_zone_map.c$hex.$uuid.json"
  }

  /** Driver-side sidecar write from an in-memory entry list (no Spark
    * job for data already on the driver) — the one writer under
    * [[refreshSidecar]] and the sketch refreshes.
    */
  private def writeSidecarEntries(tableDir: String, entries: Seq[ZoneEntry]): Unit = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def entryArray(es: Seq[ZoneEntry]): String = {
      val root = m.createArrayNode()
      es.foreach { e =>
        val o = root.addObject()
        o.put("file", e.file)
        o.put("col", e.col)
        o.put("nRows", e.nRows)
        o.put("hasStats", e.hasStats)
        e.vminNum.foreach(o.put("vminNum", _))
        e.vmaxNum.foreach(o.put("vmaxNum", _))
        e.vminStr.foreach(o.put("vminStr", _))
        e.vmaxStr.foreach(o.put("vmaxStr", _))
        o.put("nNulls", e.nNulls)
        o.put("isFloat", e.isFloat)
        o.put("mtime", e.mtime)
        o.put("boundsLossy", e.boundsLossy)
        e.bloom.foreach(o.put("bloom", _))
        e.hll.foreach(o.put("hll", _))
        e.kll.foreach(o.put("kll", _))
      }
      m.writeValueAsString(root)
    }
    // snapshot-isolated write order (single-maintainer contract, like
    // any lake-format commit without a lock service): uuid-versioned
    // shards first, then the index that names them swapped in through
    // Commit.replaceFile (an in-place truncate-write could expose a
    // PARTIAL index to a concurrent reader, whose parse-fail would
    // cache as no-sidecar under that mtime), then GC of unreferenced
    // old shards. A reader holding either index sees a complete
    // consistent set; the worst crash window leaves NO index (readers
    // prune nothing — sound) until the next write.
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val byCol = entries.groupBy(_.col)
    val shardOf = byCol.keys.toSeq.sorted.map(c => c -> shardName(c, uuid)).toMap
    shardOf.foreach { case (c, name) =>
      graft.core.Commit.writeBytes(new Path(tableDir, name).toString,
        entryArray(byCol(c)).getBytes("UTF-8"))
    }
    val idx = m.createObjectNode()
    idx.put("v", 2)
    val sh = idx.putObject("shards")
    shardOf.toSeq.sortBy(_._1).foreach { case (c, name) => sh.put(c, name) }
    graft.core.Commit.replaceFile(new Path(tableDir, SidecarFile).toString)(
      _.write(m.writeValueAsBytes(idx)))
    // best-effort GC: shard files from superseded snapshots
    val fs = graft.core.Commit.fs(tableDir)
    val liveNames = shardOf.values.toSet + SidecarFile
    try fs.listStatus(new Path(tableDir)).foreach { st =>
      val n = st.getPath.getName
      if (st.isFile && n.startsWith("_zone_map.c") && !liveNames.contains(n))
        fs.delete(st.getPath, false)
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Incrementally refresh the sidecar after an ingest batch: harvest
    * footers ONLY for data files whose (path, mtime) the sidecar does
    * not already cover — new files, files REWRITTEN IN PLACE (same
    * path, new mtime: a compactor's move — path identity alone would
    * keep stale zones and prune unsoundly), and files missing a newly
    * tracked column — and drop entries for files that no longer
    * exist. O(changed files) work per batch instead of a full
    * re-harvest, the maintenance loop a 100 TB table actually runs;
    * the final write happens entirely on the driver (no Spark job for
    * the merge). Columns default to the ones the existing sidecar
    * tracks; a fresh table needs them passed. Returns (files
    * (re)harvested, files dropped) — a column-set change re-harvests
    * every file it touches, so the first count is NOT "new files".
    */
  def refreshSidecar(spark: SparkSession, tableDir: String,
      cols: Seq[String] = Nil): (Int, Int) = {
    require(cols.forall(!isAuxKey(_)),
      "refreshSidecar tracks REAL columns; sketches refresh via " +
        "refreshBlooms/refreshHlls")
    val conf = spark.sparkContext.hadoopConfiguration
    val prior = readSidecarPath(new Path(tableDir, SidecarFile), conf)
      .getOrElse(Seq.empty)
    val trackCols =
      if (cols.nonEmpty) cols else prior.map(_.col).filterNot(isAuxKey).distinct
    require(trackCols.nonEmpty || prior.nonEmpty,
      "no existing sidecar and no columns named — nothing to track")
    // ONE listStatus carries both the file list and the live mtimes —
    // a per-file getFileStatus loop here would be 10⁶ NameNode calls
    // on the table this maintenance loop is for
    val live = dataFileStatuses(spark, tableDir)
    // a transiently empty listing (mid-overwrite window) must not
    // silently wipe the manifest and lose the tracked-column set
    require(live.nonEmpty, s"no parquet data files under $tableDir — " +
      "refusing to wipe the sidecar (retry after the write settles)")
    // prior entries survive only where they speak for a live file, and
    // range entries only for still-tracked columns
    val kept = live.zip(freshEntries(live, prior)).map { case ((f, _), es) =>
      f -> es.filter(e => isAuxKey(e.col) || trackCols.contains(e.col))
    }
    val todo = kept.collect {
      case (f, es) if !trackCols.forall(es.map(_.col).toSet) => f
    }
    val colsB = trackCols.toVector
    val harvested: Seq[ZoneEntry] =
      if (todo.isEmpty) Seq.empty
      else {
        val slices = math.min(todo.size, spark.sparkContext.defaultParallelism)
        spark.sparkContext.parallelize(todo, slices)
          .flatMap(f => readZones(f, colsB)).collect().toSeq
      }
    // a re-harvested file keeps only its auxiliary (bloom/HLL/KLL)
    // entries: they are NOT footer-harvestable, so they survive for
    // unchanged live files and drop for rewritten/dead ones (a
    // rewritten file's sketches re-attach on the next sketch refresh —
    // until then it never bloom-prunes and its census refuses, both
    // sound)
    val todoSet = todo.toSet
    val merged = kept.flatMap { case (f, es) =>
      if (todoSet(f)) es.filter(e => isAuxKey(e.col)) else es
    } ++ harvested
    writeSidecarEntries(tableDir, merged)
    val liveFiles = live.map(l => normalizeUri(l._1)).toSet
    (todo.size, prior.map(e => normalizeUri(e.file)).distinct.count(!liveFiles(_)))
  }

  /** Attach or incrementally re-attach per-file BLOOM FILTERS for
    * `cols` in the table's sidecar — the index a point lookup on a
    * high-cardinality UNCLUSTERED column needs (min/max zones only
    * prune clustered data; an id-equality scan over an arrival-ordered
    * table keeps every file on ranges but exactly the holder(s) +
    * false positives on blooms).
    *
    * Only files lacking a fresh (mtime-matching) bloom for every
    * tracked column are scanned — O(changed files) data IO after
    * ingest batches or [[Compact.compact]] rewrites, the same
    * maintenance-loop shape as [[refreshSidecar]]. On a table with no
    * blooms yet every live file is a todo, so explicit `cols` are the
    * first build; they throw when the table has no parquet data files.
    * Columns default to the ones the sidecar already blooms; pass them
    * explicitly after a FULL rewrite too (every file replaced), where
    * no bloom entry survives to carry the column set
    * ([[Compact.compact]] snapshots the set before refreshing for
    * exactly this reason). Tracked columns must be DATA columns (the
    * explicit-file read carries no partition values).
    *
    * Unlike the footer harvest this is a DATA pass: one distributed
    * aggregation reading only `cols` (column-pruned scan), grouped by
    * source file — `numBits` bits per (file, column), built over
    * `xxhash64(col)` exactly as [[graft.plans.ZoneSkipRule]] hashes
    * query literals. Blooms merge into the existing sidecar without
    * touching range entries or other columns' blooms; each bloom
    * carries the file's pre-scan mtime, so a file rewritten during or
    * after the build fails the rule's freshness check rather than
    * pruning on stale bits.
    *
    * Scale shape: the aggregation is one shuffle keyed by file name
    * (combiner-friendly: partial blooms OR together map-side); driver
    * memory is O(files × cols × numBits/8) for the collect — at the
    * store's ≤10k-rows-per-file contract and the default 32 KiB
    * filter, 10k files × 1 column ≈ 320 MB. The optimizer guards the
    * read side with `spark.graft.zonemap.bloom.maxShardBytes` (an
    * oversized bloom shard is skipped with a log line — pruning
    * degrades, soundness doesn't). Returns the number of (file, col)
    * blooms written. Default sizing: 2^18 bits with numBits/16
    * estimated items ⇒ k = 11 hashes, fp ≈ 5e-6 at 10k rows/file.
    */
  def refreshBlooms(spark: SparkSession, tableDir: String,
      cols: Seq[String] = Nil, numBits: Long = 1L << 18): Int =
    refreshAux(spark, tableDir, cols, BloomPrefix,
      (df, statuses, cs) => bloomEntries(spark, df, statuses, cs, numBits))

  /** Attach or incrementally re-attach per-file HLL SKETCHES for `cols`
    * (NDV pseudo-shards, [[hllKey]]) — the [[refreshBlooms]] contract:
    * one grouped data pass over the files lacking fresh coverage, same
    * list-before-read mtime discipline, explicit cols for a first build
    * or after a full rewrite, DATA columns only. Per-file sketches
    * merge losslessly, so [[ndvFromManifest]] answers the table's
    * distinct-count census from metadata — the ANALYZE-without-a-rescan
    * maintenance loop ([[Cbo.collectStats]] pays a full
    * `count(distinct)` scan every time; this pays one O(changed files)
    * sketch pass per batch). `lgK = 12` ⇒ ~1.6 % relative standard
    * error, ~2 KiB per (file, column). Returns sketches written.
    */
  def refreshHlls(spark: SparkSession, tableDir: String,
      cols: Seq[String] = Nil, lgK: Int = 12): Int =
    refreshAux(spark, tableDir, cols, HllPrefix,
      (df, statuses, cs) => hllEntries(spark, df, statuses, cs, lgK))

  /** Attach or incrementally re-attach per-file KLL QUANTILE sketches
    * for numeric `cols` ([[kllKey]] pseudo-shards, ~3 KiB per
    * file-column at k = 200 ⇒ ~1.65 % normalized rank error) — the
    * [[refreshBlooms]] contract. The metadata path to medians,
    * percentiles and equi-depth boundaries ([[quantilesFromManifest]]):
    * [[Analyze.equiDepth]] pays a full scan every run; this pays one
    * O(changed files) pass per batch.
    */
  def refreshKlls(spark: SparkSession, tableDir: String,
      cols: Seq[String] = Nil, k: Int = 200): Int =
    refreshAux(spark, tableDir, cols, KllPrefix,
      (df, statuses, cs) => kllEntries(spark, df, statuses, cs, k))

  private def ensureKllRegistered(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_kll_agg",
      args => graft.functions.KllSketchAgg(args(0),
        args(1).eval().asInstanceOf[Int]).toAggregateExpression(),
      "scala_udf")

  private def kllEntries(spark: SparkSession,
      df: DataFrame, statuses: Seq[(String, Long)],
      cols: Seq[String], k: Int): Seq[ZoneEntry] = {
    import org.apache.spark.sql.functions.{call_function, col, lit}
    cols.foreach { c =>
      val f = df.schema.find(_.name == c)
        .getOrElse(sys.error(s"column $c not in the table schema"))
      require(f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"KLL sketches quantile NUMERIC columns; $c is ${f.dataType}")
    }
    ensureKllRegistered(spark)
    auxEntries(spark, df, statuses, cols,
      c => call_function("graft_kll_agg", col(c).cast("double"), lit(k)),
      (e, c, b64) => e.copy(col = kllKey(c), kll = Some(b64)))
  }

  /** Approximate quantile census from the KLL shards — the
    * [[ndvFromManifest]] contract (fresh coverage per live file or
    * refusal). `values(i)` estimates the `ranks(i)` quantile;
    * `rankError` is the sketch's normalized 1σ rank error (the true
    * rank of `values(i)` lies within `ranks(i) ± 2·rankError` at
    * ~95 % confidence); `n` is the EXACT non-null count folded from
    * the sketches.
    */
  final case class QuantileCensus(values: Seq[Double], rankError: Double, n: Long)

  def quantilesFromManifest(spark: SparkSession, tableDir: String,
      column: String, ranks: Seq[Double]): Option[QuantileCensus] = {
    require(ranks.nonEmpty && ranks.forall(r => r >= 0.0 && r <= 1.0),
      "ranks must be in [0, 1]")
    val conf = spark.sparkContext.hadoopConfiguration
    val key = kllKey(column)
    val entries = readSidecarColumns(
      new Path(tableDir, SidecarFile), conf, Some(Set(key)))
      .getOrElse(return None)
    val live = dataFileStatuses(spark, tableDir)
    if (live.isEmpty) return None
    val sketches = freshEntries(live, entries.filter(_.col == key))
      .map(_.flatMap(_.kll).headOption)
    if (sketches.exists(_.isEmpty)) return None
    try {
      val parts = sketches.flatten.map { b64 =>
        org.apache.datasketches.kll.KllDoublesSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(
            java.util.Base64.getDecoder.decode(b64)))
      }
      val merged = org.apache.datasketches.kll.KllDoublesSketch
        .newHeapInstance(parts.map(_.getK).min)
      parts.foreach(merged.merge)
      if (merged.isEmpty) return None // all-null column: no quantiles
      Some(QuantileCensus(
        ranks.map(merged.getQuantile),
        merged.getNormalizedRankError(false),
        merged.getN))
    } catch { // corrupt sketch bytes: refuse, never a wrong census
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Shared incremental-refresh loop for auxiliary sketch shards:
    * files lacking FRESH coverage for every tracked column re-scan
    * (one explicit-file read), everything else is untouched.
    */
  private def refreshAux(spark: SparkSession, tableDir: String,
      cols: Seq[String], prefix: String,
      build: (DataFrame, Seq[(String, Long)], Seq[String]) => Seq[ZoneEntry]): Int = {
    require(cols.forall(!isAuxKey(_)), "pass REAL column names")
    val conf = spark.sparkContext.hadoopConfiguration
    val prior = readSidecarPath(new Path(tableDir, SidecarFile), conf)
      .getOrElse(Seq.empty)
    val tracked =
      if (cols.nonEmpty) cols
      else prior.collect {
        case e if e.col.startsWith(prefix) => e.col.stripPrefix(prefix)
      }.distinct
    if (tracked.isEmpty) return 0
    // list BEFORE reading: a file rewritten between the listing and the
    // scan records the OLD mtime, so the live-mtime freshness check at
    // prune time rejects its sketch — stale bits can never prune
    val statuses = dataFileStatuses(spark, tableDir)
    if (statuses.isEmpty) {
      // named columns over an empty listing is a misdirected build, not
      // a no-op maintenance pass
      require(cols.isEmpty, s"no parquet data files under $tableDir")
      return 0
    }
    val todo = statuses.zip(freshEntries(statuses, prior)).collect {
      case (st, es) if !tracked.forall(es.collect {
        case e if e.col.startsWith(prefix) => e.col.stripPrefix(prefix)
      }.toSet) => st
    }
    if (todo.isEmpty) return 0
    val fresh = build(spark.read.parquet(todo.map(_._1): _*), todo, tracked)
    mergeAuxWrite(spark, tableDir, fresh)
  }

  /** One grouped-by-source-file bloom aggregation over `df` → sidecar
    * entries, mtimes taken from the PRE-SCAN listing (see
    * [[refreshAux]] for why that ordering is load-bearing).
    */
  private def bloomEntries(spark: SparkSession,
      df: DataFrame, statuses: Seq[(String, Long)],
      cols: Seq[String], numBits: Long): Seq[ZoneEntry] = {
    import org.apache.spark.sql.functions.{call_function, col, lit, xxhash64}
    Bloom.ensureRegistered(spark)
    val items = math.max(64L, numBits / 16L)
    auxEntries(spark, df, statuses, cols,
      c => call_function("graft_bloom_agg", xxhash64(col(c)), lit(items), lit(numBits)),
      (e, c, b64) => e.copy(col = bloomKey(c), bloom = Some(b64)))
  }

  /** The HLL twin of [[bloomEntries]]. */
  private def hllEntries(spark: SparkSession,
      df: DataFrame, statuses: Seq[(String, Long)],
      cols: Seq[String], lgK: Int): Seq[ZoneEntry] = {
    import org.apache.spark.sql.functions.{col, hll_sketch_agg}
    auxEntries(spark, df, statuses, cols,
      c => hll_sketch_agg(col(c), lgK),
      (e, c, b64) => e.copy(col = hllKey(c), hll = Some(b64)))
  }

  /** Shared grouped-by-source-file sketch aggregation: one job for all
    * columns, mtimes from the PRE-scan listing.
    */
  private def auxEntries(spark: SparkSession,
      df: DataFrame, statuses: Seq[(String, Long)], cols: Seq[String],
      aggFor: String => org.apache.spark.sql.Column,
      attach: (ZoneEntry, String, String) => ZoneEntry): Seq[ZoneEntry] = {
    import org.apache.spark.sql.functions.input_file_name
    val byNorm = statuses.map { case (f, m) => normalizeUri(f) -> (f, m) }.toMap
    val aggs = cols.zipWithIndex.map { case (c, i) => aggFor(c).as(s"_sk$i") }
    df.groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .toSeq.flatMap { r =>
        byNorm.get(normalizeUri(r.getString(0))).toSeq.flatMap { case (f, m) =>
          cols.indices.flatMap { i =>
            // an all-null column aggregates to null bytes — no sketch,
            // the file stays uncovered on that column (sound: pruning
            // keeps it, the census refuses)
            Option(r.get(i + 1)).map(_.asInstanceOf[Array[Byte]]).map { bytes =>
              attach(
                ZoneEntry(f, cols(i), 0L, hasStats = false,
                  None, None, None, None, 0L, isFloat = false, mtime = m),
                cols(i),
                java.util.Base64.getEncoder.encodeToString(bytes))
            }
          }
        }
      }
  }

  /** Approximate distinct-count census from the sidecar's HLL shards —
    * metadata only, with the [[aggFromManifestMulti]] freshness
    * contract: None unless EVERY live file carries a fresh sketch for
    * the column (a late or rewritten file means the merge cannot speak
    * for the table). The estimate is explicitly approximate — lower
    * and upper bounds at 2 standard deviations ride along, and a
    * caller needing exactness runs the scan.
    */
  final case class NdvEstimate(estimate: Long, lower: Long, upper: Long)

  def ndvFromManifest(spark: SparkSession, tableDir: String,
      column: String): Option[NdvEstimate] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val key = hllKey(column)
    val entries = readSidecarColumns(
      new Path(tableDir, SidecarFile), conf, Some(Set(key)))
      .getOrElse(return None)
    val live = dataFileStatuses(spark, tableDir)
    if (live.isEmpty) return None
    val sketches = freshEntries(live, entries.filter(_.col == key))
      .map(_.flatMap(_.hll).headOption)
    if (sketches.exists(_.isEmpty)) return None
    try {
      val union = new org.apache.datasketches.hll.Union(21)
      sketches.flatten.foreach { b64 =>
        union.update(org.apache.datasketches.hll.HllSketch.heapify(
          java.util.Base64.getDecoder.decode(b64)))
      }
      val res = union.getResult
      Some(NdvEstimate(
        math.round(res.getEstimate),
        math.round(res.getLowerBound(2)),
        math.round(res.getUpperBound(2))))
    } catch { // corrupt sketch bytes: refuse, never a wrong census
      case scala.util.control.NonFatal(_) => None
    }
  }

  private def mergeAuxWrite(spark: SparkSession, tableDir: String,
      fresh: Seq[ZoneEntry]): Int = {
    val prior = readSidecarPath(
      new Path(tableDir, SidecarFile),
      spark.sparkContext.hadoopConfiguration).getOrElse(Seq.empty)
    val freshKeys = fresh.map(e => (normalizeUri(e.file), e.col)).toSet
    val merged = prior.filterNot(e => freshKeys.contains((normalizeUri(e.file), e.col))) ++ fresh
    writeSidecarEntries(tableDir, merged)
    fresh.size
  }

  /** Metadata-only aggregate of one column, answered from the sidecar
    * alone — zero data IO, the Iceberg/Delta `count(*)`-from-manifest
    * shortcut. `bounds` is None for floating columns: parquet writers
    * silently EXCLUDE NaN when folding min/max while Spark's min/max
    * propagate it, so a footer extremum is not Spark's extremum.
    */
  final case class ManifestAgg(
      nRows: Long, nNonNull: Long, bounds: Option[(Double, Double)])

  /** Answer `count(*)`, `count(col)` and (non-float) `min/max(col)`
    * for a parquet table from its `_zone_map.json` sidecar — no data
    * file is opened. Returns None unless the answer is provably EXACT:
    * every LIVE data file must carry a fresh (mtime-matching) stats
    * entry for `col` — a late-arrived, rewritten, or stats-less file
    * means the manifest cannot speak for the table and the caller
    * falls back to a real scan. Counts come from the footer row/null
    * censuses (always exact when present); bounds fold per-file
    * min/max and are returned only when every value-bearing file has
    * numeric bounds, the column is not floating (NaN invisibility),
    * and NO value-bearing entry carries the build's one-ulp widening
    * (`boundsLossy`: int64 beyond 2^53, decimals, MILLIS/NANOS
    * timestamps) — a widened zone bound is sound for pruning but is
    * NOT the column's extremum, so it is refused here rather than
    * printed as an exact census. Counts are still returned for such
    * columns. At 100 TB this is one sidecar slice + one listing: the
    * difference between answering a census in milliseconds and
    * scheduling ten thousand scan tasks.
    */
  def aggFromManifest(spark: SparkSession, tableDir: String,
      column: String): Option[ManifestAgg] =
    aggFromManifestMulti(spark, tableDir, Seq(column))(column)

  /** Multi-column [[aggFromManifest]]: ONE sidecar read (only the
    * requested columns' shards) and ONE live listing answer every
    * column's census — per-column refusal, so an inexact column (float
    * bounds, a stale file on that column's shard) falls back to a scan
    * without dragging the provably-exact columns with it. The batch
    * shape a catalog census endpoint actually serves: N columns cost
    * the same metadata IO as one.
    */
  def aggFromManifestMulti(spark: SparkSession, tableDir: String,
      columns: Seq[String]): Map[String, Option[ManifestAgg]] = {
    require(columns.nonEmpty, "aggFromManifestMulti needs at least one column")
    val refusedAll = columns.map(_ -> Option.empty[ManifestAgg]).toMap
    val conf = spark.sparkContext.hadoopConfiguration
    val entries = readSidecarColumns(
      new Path(tableDir, SidecarFile), conf, Some(columns.toSet))
      .getOrElse(return refusedAll)
    val live = dataFileStatuses(spark, tableDir)
    if (live.isEmpty) return refusedAll
    val byCol = entries.groupBy(_.col)
    columns.map { column =>
      // EVERY live file must be freshly covered; extra (deleted-file)
      // entries are ignored — they no longer contribute rows
      val covered = freshEntries(live, byCol.getOrElse(column, Nil))
        .map(_.find(_.hasStats))
      column -> (if (covered.exists(_.isEmpty)) None
      else {
        val es = covered.map(_.get)
        val nRows = es.map(_.nRows).sum
        val nNonNull = es.map(e => e.nRows - e.nNulls).sum
        // bounds: fold only value-bearing files; any of them lacking
        // numeric bounds (string/unsupported), any float zone, or any
        // ulp-widened (lossy) zone means no exact extremum from
        // metadata
        val bearing = es.filter(e => e.nRows - e.nNulls > 0)
        val bounds =
          if (nNonNull == 0) None
          else if (bearing.exists(e => e.isFloat || e.boundsLossy ||
            e.vminNum.isEmpty || e.vmaxNum.isEmpty)) None
          else Some((bearing.flatMap(_.vminNum).min, bearing.flatMap(_.vmaxNum).max))
        Some(ManifestAgg(nRows, nNonNull, bounds))
      })
    }.toMap
  }

  /** FS-level full sidecar read (every tracked column) — the
    * maintenance path ([[refreshSidecar]], the sketch refreshes). The
    * optimizer rule uses [[readSidecarColumns]] instead, which touches
    * only the predicate columns' shards.
    */
  def readSidecarPath(p: Path,
      conf: Configuration): Option[Seq[ZoneEntry]] =
    readSidecarColumns(p, conf, cols = None)

  /** Column-sliced sidecar read: `cols = Some(set)` reads ONLY those
    * columns' shards — O(files × |cols|) driver bytes regardless of
    * how many columns the manifest tracks; `None` reads everything.
    * Anything but the sharded index (a bare JSON array included) reads
    * as no sidecar, so the rule prunes nothing. Double
    * bounds survive the JSON round-trip exactly (Jackson renders
    * doubles losslessly).
    */
  def readSidecarColumns(p: Path, conf: Configuration,
      cols: Option[Set[String]],
      // BLOOM shards only: a shard bigger than this is SKIPPED (its
      // column simply never bloom-prunes — sound) instead of read, so
      // a giant table's bloom bytes can never blow up the driver
      // inside the optimizer. Range shards are never capped: their
      // entries are a few hundred bytes per file — the same order as
      // the file listing planning already holds.
      bloomShardCapBytes: Long = Long.MaxValue): Option[Seq[ZoneEntry]] = {
    val fs = p.getFileSystem(conf)
    def readText(path: Path): Option[String] =
      try {
        val in = fs.open(path)
        try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    def parseEntries(text: String): Option[Seq[ZoneEntry]] =
      try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
        if (!root.isArray) return None
        val it = root.elements()
        val buf = scala.collection.mutable.ArrayBuffer[ZoneEntry]()
        while (it.hasNext) {
          val o = it.next()
          def optNum(f: String) = Option(o.get(f)).map(_.asDouble())
          def optStr(f: String) = Option(o.get(f)).map(_.asText())
          buf += ZoneEntry(o.get("file").asText(), o.get("col").asText(),
            o.get("nRows").asLong(), o.get("hasStats").asBoolean(),
            optNum("vminNum"), optNum("vmaxNum"),
            optStr("vminStr"), optStr("vmaxStr"), o.get("nNulls").asLong(),
            Option(o.get("isFloat")).exists(_.asBoolean()),
            Option(o.get("mtime")).map(_.asLong()).getOrElse(0L),
            // absent (pre-flag sidecar): assume lossy — conservative
            // for the manifest census, irrelevant for pruning
            Option(o.get("boundsLossy")).forall(_.asBoolean()),
            Option(o.get("bloom")).map(_.asText()),
            Option(o.get("hll")).map(_.asText()),
            Option(o.get("kll")).map(_.asText()))
        }
        Some(buf.toSeq)
      } catch { case scala.util.control.NonFatal(_) => None }
    val text = readText(p).getOrElse(return None)
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      if (root.isObject && root.has("shards")) {
        val sh = root.get("shards")
        val names = scala.jdk.CollectionConverters
          .IteratorHasAsScala(sh.fieldNames()).asScala.toSeq
        val wanted = cols.fold(names)(want => names.filter(want.contains))
        val parts = wanted.map { c =>
          val shardPath = new Path(p.getParent, sh.get(c).asText())
          val tooBig = isBloomKey(c) && bloomShardCapBytes != Long.MaxValue &&
            (try fs.getFileStatus(shardPath).getLen > bloomShardCapBytes
            catch { case scala.util.control.NonFatal(_) => false })
          if (tooBig) {
            System.err.println(s"[zonemap] bloom shard for '$c' exceeds " +
              s"$bloomShardCapBytes bytes under ${p.getParent} — skipped " +
              "(no bloom pruning on this column; raise " +
              "spark.graft.zonemap.bloom.maxShardBytes to use it)")
            Some(Seq.empty[ZoneEntry])
          } else readText(shardPath).flatMap(parseEntries)
        }
        // a missing/corrupt shard poisons the whole read (None) — the
        // rule then prunes nothing rather than pruning on partial
        // state. Logged: the degradation is fail-SAFE but silent
        // otherwise, and an operator chasing "pruning stopped working"
        // needs the breadcrumb (e.g. GC raced a reader's parsed index).
        if (parts.exists(_.isEmpty)) {
          System.err.println(s"[zonemap] sidecar shard read failed under " +
            s"${p.getParent} — pruning/manifest-agg disabled until rewrite")
          None
        } else Some(parts.flatMap(_.get))
      } else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
