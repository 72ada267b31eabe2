package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.ZoneMap
import graft.operators.ZoneMap.{BloomEq, NullnessPred, NumRange, OrPred, StrRange, ZoneEntry, ZonePred}

/** TRANSPARENT zone-map data skipping as an injected optimizer rule
  * (`spark.sql.extensions=graft.GraftExtensions`): a plain
  * `spark.read.parquet(dir).filter(...)` over a table whose directory
  * carries a `_zone_map.json` sidecar (the [[ZoneMap.refreshSidecar]] /
  * `ZoneMapJob` product) scans ONLY the files whose zones can satisfy
  * the filter — the explicit [[ZoneMap.prunedRead]] entry point,
  * promoted to every query in every session without touching query
  * code. Parquet row-group skipping still happens inside the files
  * that survive; this rule removes the files (their footer reads,
  * their task scheduling, their listing at 100 TB) BEFORE the scan.
  *
  * Soundness rules, kept deliberately narrow:
  *   - only NECESSARY conditions are extracted from the filter: a
  *     top-level conjunction's comparisons between an attribute and a
  *     literal (`a <= 5`, `10 < a`, `a = 7`, `a BETWEEN x AND y`),
  *     `IN` / `InSet` lists (relaxed to [min, max] of the elements),
  *     `startswith(a, p)` (relaxed to a prefix range), `IS [NOT]
  *     NULL` (against the footer null census), and a small set of
  *     provably MONOTONE `Cast` shapes over the attribute — widening
  *     integral casts, integral→float/double with one-ulp outward
  *     widening, and date↔timestamp casts widened one full day per
  *     side so any session timezone stays covered. A DISJUNCTION
  *     conjunct prunes as a union: a file survives when any arm's
  *     extraction stays satisfiable, and an arm that extracts nothing
  *     disables the whole disjunction. Functions, non-monotone casts:
  *     ignored (no pruning from them), never unsound. Strict bounds
  *     relax to inclusive ones. NaN literals contribute no bound
  *     (zone min/max exclude NaN while Spark ranks NaN above
  *     everything and NaN = NaN is true).
  *   - the filter itself is LEFT IN PLACE — pruning only shrinks the
  *     scan's file list (the superset contract);
  *   - files the sidecar does not mention are kept (late-arrived data
  *     after the last zone-map build stays visible), and a zone whose
  *     harvest mtime differs from the LIVE file status (an in-place
  *     compactor rewrite since the last refresh) is treated as
  *     no-stats — the index already carries the live mtimes, so the
  *     check is free;
  *   - only single-root scans are touched. An UNPARTITIONED relation
  *     prunes into a flat [[KeptFilesIndex]]. A PARTITIONED relation
  *     (Hive `k=v` layout — the common 100 TB shape) prunes into a
  *     [[KeptPartitionedIndex]] that preserves every directory's
  *     partition values and still evaluates partition filters, so
  *     partition-value pruning and footer-zone pruning COMPOSE on the
  *     same scan;
  *   - int64 query literals beyond 2^53 widen one ulp outward before
  *     the double comparison, mirroring the build-side widening.
  *
  * Plan-cost hygiene: the kept files are wrapped in a
  * [[KeptFilesIndex]] built from the FileStatus objects the ORIGINAL
  * index already holds — zero filesystem calls per plan, no relisting
  * (an earlier version rebuilt an `InMemoryFileIndex`, which re-stats
  * every kept file on every optimizer pass). Fixed-point safe: a
  * second visit over the kept index recomputes the same kept set and
  * rewrites nothing. Sidecar reads are (path, mtime)-cached; a
  * re-build is picked up on its next plan.
  *
  * Kill switch: `spark.graft.zonemap.skip=false`.
  */
case class ZoneSkipRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // defensively parsed AND fail-closed: the rule runs on EVERY plan,
    // so a malformed value must never throw — and a kill switch set to
    // anything unrecognized ("0", "off", a typo) must DISABLE pruning,
    // not silently keep it on while someone is chasing a wrong-results
    // suspicion. Absent = enabled (the default-on contract).
    val enabled = spark.conf
      .getOption("spark.graft.zonemap.skip").forall(_.equalsIgnoreCase("true"))
    if (!enabled) return plan
    plan.transformUp {
      case f @ Filter(cond, lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _))
          if fs.location.rootPaths.size == 1 =>
        pruned(cond, lr, fs).map(r => f.copy(child = r)).getOrElse(f)
    }
  }

  private def pruned(cond: Expression, lr: LogicalRelation,
      fs: HadoopFsRelation): Option[LogicalRelation] = {
    val root = fs.location.rootPaths.head
    val extracted = ZoneSkipRule.extractRanges(cond)
    // bloom consultation has its own switch (same defensive fail-closed
    // parse as the main one — less pruning is always sound) and a
    // driver-bytes cap on the shard read; dropping bloom predicates
    // only WEAKENS conditions, so the result stays a superset
    val bloomOn = spark.conf
      .getOption("spark.graft.zonemap.bloom").forall(_.equalsIgnoreCase("true"))
    val preds =
      if (bloomOn) extracted else ZoneSkipRule.dropBlooms(extracted)
    if (preds.isEmpty) return None
    val bloomCap = spark.conf
      .getOption("spark.graft.zonemap.bloom.maxShardBytes")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(ZoneMap.BloomShardCapBytes)
    // predicate columns FIRST: the sharded sidecar reads only their
    // slices — O(files × predicate cols) driver bytes in-planning, no
    // matter how wide the tracked-column set is
    val entries = ZoneSkipRule.cachedSidecar(
      root, spark.sparkContext.hadoopConfiguration,
      preds.flatMap(ZoneMap.predCols).toSet, bloomCap)
    // no sidecar, or none of the predicate columns tracked: nothing
    // can prune — skip the listing walk entirely
    if (entries.isEmpty || entries.get.isEmpty) return None
    // the index already carries live FileStatus mtimes — the freshness
    // rule uses them to reject STALE zones: between an in-place rewrite
    // (compactor) and the next refreshSidecar, path identity alone
    // would prune on the old file's bounds. A file without fresh
    // entries is kept.
    val dirs = fs.location.listFiles(Nil, Nil)
    val files = dirs.flatMap(_.files)
    val kept = files.zip(ZoneMap.freshEntries(
        files.map(st => (st.getPath.toString, st.getModificationTime)), entries.get))
      .collect { case (st, es) if ZoneMap.keepFile(es.map(e => e.col -> e).toMap, preds) => st }
    if (kept.length == files.length) return None
    val newIndex =
      if (fs.partitionSchema.isEmpty) new KeptFilesIndex(kept.toIndexedSeq)
      else {
        // PARTITIONED relation (the common 100 TB lake layout): zone-
        // prune the files INSIDE each partition directory while keeping
        // the partition values — the kept index still answers partition
        // filters, so Spark's own partition pruning composes with the
        // footer-zone pruning instead of being traded away for it.
        // Partition-column conjuncts in `cond` extract as predicates the
        // manifest never tracks (partition values live in paths, not
        // footers) and keep every file — harmless; the partition filter
        // does that pruning at planning time.
        val keptPaths = kept.map(_.getPath).toSet
        val keptDirs = dirs.flatMap { pd =>
          val k = pd.files.filter(st => keptPaths(st.getPath))
          if (k.isEmpty) None else Some(PartitionDirectory(pd.values, k))
        }
        new KeptPartitionedIndex(root, fs.partitionSchema, keptDirs)
      }
    Some(lr.copy(relation = fs.copy(location = newIndex)(spark)))
  }
}

/** A [[FileIndex]] over an explicit kept-file list, built from the
  * `FileStatusWithMetadata` objects the pruned relation's ORIGINAL
  * index already materialized: construction and every method are pure
  * in-memory reads — no filesystem call, no relisting, regardless of
  * how many optimizer passes visit the plan. Unpartitioned by
  * construction (the rule only rewrites `partitionSchema.isEmpty`
  * relations).
  */
final class KeptFilesIndex(files: Seq[FileStatusWithMetadata]) extends FileIndex {
  override val rootPaths: Seq[Path] = files.map(_.getPath)
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, files))
  override val inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override val sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = StructType(Nil)
}

/** The PARTITION-AWARE kept-files index: zone-pruned file lists
  * grouped under their original partition values. Like
  * [[KeptFilesIndex]] it is built purely from the statuses and
  * `PartitionDirectory` rows the original index already materialized —
  * zero filesystem calls, ever. Unlike it, `listFiles` still EVALUATES
  * partition filters against the retained partition values (the same
  * bound-predicate evaluation Spark's `PartitioningAwareFileIndex`
  * runs), so `FileSourceStrategy`'s partition pruning keeps working on
  * the zone-pruned relation — the two prunings multiply: a
  * date-partitioned table with a date filter AND a data-column filter
  * drops whole partition directories at planning AND zone-refuted
  * files inside the surviving directories. Fixed-point safe the same
  * way: re-pruning the kept set keeps everything and rewrites nothing.
  */
final class KeptPartitionedIndex(
    root: Path,
    override val partitionSchema: StructType,
    dirs: Seq[PartitionDirectory]) extends FileIndex {
  override val rootPaths: Seq[Path] = Seq(root)
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) dirs
    else {
      // bind by name against the partition schema — the filters
      // FileSourceStrategy hands over reference partition columns only
      val bound = Predicate.createInterpreted(
        partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.indexWhere(_.name == a.name)
            require(i >= 0,
              s"partition filter references non-partition column ${a.name}")
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      dirs.filter(d => bound.eval(d.values))
    }
  override val inputFiles: Array[String] =
    dirs.flatMap(_.files.map(_.getPath.toString)).toArray
  override def refresh(): Unit = ()
  override val sizeInBytes: Long = dirs.flatMap(_.files).map(_.getLen).sum
}

object ZoneSkipRule {

  private val cache = new ConcurrentHashMap[String, (Long, Option[Seq[ZoneEntry]])]()

  /** (index path, index mtime, predicate-column set)-keyed sidecar
    * lookup, the StatsBroadcastRule convention: a rewritten sidecar
    * (its index swaps last) refreshes on its next plan, an unchanged
    * one costs one getFileStatus probe. Only the named columns' SHARDS
    * are read — never the whole manifest. Distinct predicate-column
    * sets per table are few (they mirror the query workload), so the
    * cache stays bounded.
    */
  private[plans] def cachedSidecar(root: Path,
      conf: org.apache.hadoop.conf.Configuration,
      cols: Set[String],
      bloomShardCapBytes: Long = Long.MaxValue): Option[Seq[ZoneEntry]] = {
    val p = new Path(root, ZoneMap.SidecarFile)
    val fs = p.getFileSystem(conf)
    val mtime =
      try fs.getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException => return None }
    val key = p.toString + "#" + bloomShardCapBytes + "#" +
      cols.toSeq.sorted.mkString("\u0000")
    val hit = cache.get(key)
    if (hit != null && hit._1 == mtime) return hit._2
    val fresh = ZoneMap.readSidecarColumns(p, conf, Some(cols), bloomShardCapBytes)
    cache.put(key, (mtime, fresh))
    fresh
  }

  private val shardColsCache =
    new ConcurrentHashMap[String, (Long, Option[Seq[String]])]()

  /** The column names the table's sidecar INDEX shards — one tiny JSON
    * read, (path, mtime)-cached like [[cachedSidecar]]. None for a
    * missing/corrupt/legacy-v1 sidecar (callers treat that as
    * "manifest cannot answer").
    */
  private[plans] def sidecarShardColumns(root: Path,
      conf: org.apache.hadoop.conf.Configuration): Option[Seq[String]] = {
    val p = new Path(root, ZoneMap.SidecarFile)
    val fs = p.getFileSystem(conf)
    val mtime =
      try fs.getFileStatus(p).getModificationTime
      catch { case _: java.io.FileNotFoundException => return None }
    val hit = shardColsCache.get(p.toString)
    if (hit != null && hit._1 == mtime) return hit._2
    val cols =
      try {
        val in = fs.open(p)
        val text =
          try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        val rootNode = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
        if (rootNode.isObject && rootNode.has("shards"))
          Some(scala.jdk.CollectionConverters
            .IteratorHasAsScala(rootNode.get("shards").fieldNames()).asScala.toSeq)
        else None // legacy v1 blob: no shard index — not worth a full parse
      } catch { case scala.util.control.NonFatal(_) => None }
    shardColsCache.put(p.toString, (mtime, cols))
    cols
  }

  /** Strip bloom predicates (switch-off path): removing a conjunct only
    * weakens a condition -- sound. An OR arm emptied by the strip makes
    * its disjunction vacuous, so the whole OrPred drops.
    */
  private[plans] def dropBlooms(ps: Seq[ZonePred]): Seq[ZonePred] =
    ps.flatMap {
      case _: BloomEq => None
      case OrPred(branches) =>
        val stripped = branches.map(dropBlooms)
        if (stripped.exists(_.isEmpty)) None else Some(OrPred(stripped))
      case p => Some(p)
    }

  private val MicrosPerDay = 86400000000L

  /** How a comparison's literal maps into the scanned ATTRIBUTE's
    * domain when the attribute sits under a cast. Every admitted shape
    * is monotone non-decreasing and non-wrapping, so relaxing the
    * literal to an attribute-domain interval yields a NECESSARY
    * condition.
    */
  private sealed trait Shape
  /** bare attribute, or a cast that is order- and value-exact */
  private case object Exact extends Shape
  /** monotone but lossy in double space (long→double): ±1 double ulp */
  private case object UlpNum extends Shape
  /** cast to float (int/long→float): ±1 FLOAT ulp — rounding error is
    * in units of the float's magnitude, a double ulp would not cover it */
  private case object UlpFloat extends Shape
  /** attr TIMESTAMP under CAST(attr AS DATE) vs a date literal: the
    * cast floors to the SESSION-timezone day, so the day widens one
    * full day per side — sound for every UTC offset (−12h..+14h) */
  private case object TsAttrDateLit extends Shape
  /** attr DATE under CAST(attr AS TIMESTAMP) vs a timestamp literal:
    * midnight-in-session-tz again widens one day per side */
  private case object DateAttrTsLit extends Shape

  private def unwrap(e: Expression): Option[(AttributeReference, Shape)] = e match {
    case ar: AttributeReference => Some((ar, Exact))
    case Cast(ar: AttributeReference, target, _, _) =>
      val shape = (ar.dataType, target) match {
        // widening integral casts: exact, no wrap possible
        case (ByteType, ShortType | IntegerType | LongType) => Some(Exact)
        case (ShortType, IntegerType | LongType) => Some(Exact)
        case (IntegerType, LongType) => Some(Exact)
        // int32-and-below → double/float: int→double exact; the
        // float targets round, monotonically — widen in float space
        case (ByteType | ShortType | IntegerType, DoubleType) => Some(Exact)
        case (ByteType | ShortType, FloatType) => Some(Exact) // ≤16 bits: exact in float
        case (IntegerType, FloatType) => Some(UlpFloat)
        case (LongType, DoubleType) => Some(UlpNum)
        case (LongType, FloatType) => Some(UlpFloat)
        // calendar casts: monotone, timezone slop absorbed by ±1 day
        case (TimestampType | TimestampNTZType, DateType) => Some(TsAttrDateLit)
        case (DateType, TimestampType | TimestampNTZType) => Some(DateAttrTsLit)
        case _ => None // narrowing/wrapping/parsing casts: never prune
      }
      shape.map((ar, _))
    case _ => None
  }

  /** Attributes whose zones are NUMERIC doubles: Spark's internal
    * literal values for date (days) and timestamp (micros) line up
    * with the footer harvest's normalized numbers.
    */
  private def numericDomain(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Necessary range conditions from a filter: top-level conjuncts of
    * comparisons, IN lists, prefix matches and nullness checks over a
    * (possibly monotonically cast) attribute. Everything else
    * contributes nothing (sound — pruning only uses necessary
    * conditions). Multiple bounds on one column intersect.
    */
  private[plans] def extractRanges(cond: Expression): Seq[ZonePred] = {
    final case class Acc(loN: Option[Double], hiN: Option[Double],
        loS: Option[String], hiS: Option[String],
        notNull: Boolean = false, mustNull: Boolean = false)
    val acc = scala.collection.mutable.LinkedHashMap[String, Acc]()
    // non-column-keyed conjuncts (extracted OR unions)
    val extra = scala.collection.mutable.ArrayBuffer[ZonePred]()
    def get(col: String): Acc = acc.getOrElse(col, Acc(None, None, None, None))
    def tightenN(col: String, lo: Option[Double], hi: Option[Double]): Unit = {
      val a = get(col)
      acc(col) = a.copy(
        loN = (a.loN.toSeq ++ lo.toSeq).reduceOption((x: Double, y: Double) => math.max(x, y)),
        hiN = (a.hiN.toSeq ++ hi.toSeq).reduceOption((x: Double, y: Double) => math.min(x, y)))
    }
    def tightenS(col: String, lo: Option[String], hi: Option[String]): Unit = {
      val a = get(col)
      acc(col) = a.copy(
        // intersect in UTF-8 byte order — the order keepFile compares in
        loS = (a.loS.toSeq ++ lo.toSeq).reduceOption((x: String, y: String) =>
          if (ZoneMap.utf8Compare(x, y) >= 0) x else y),
        hiS = (a.hiS.toSeq ++ hi.toSeq).reduceOption((x: String, y: String) =>
          if (ZoneMap.utf8Compare(x, y) <= 0) x else y))
    }
    def markNull(col: String, mustHaveNull: Boolean): Unit = {
      val a = get(col)
      acc(col) = if (mustHaveNull) a.copy(mustNull = true) else a.copy(notNull = true)
    }
    // literal → safe double bound: int64 beyond 2^53 widens OUTWARD
    // (lo down, hi up) so double rounding can never fake a miss.
    // NaN literals contribute NO bound: zone min/max exclude NaN while
    // Spark ranks NaN above every value and NaN = NaN is true, so a
    // NaN range bound would prune files whose NaN rows match.
    def num(l: Literal, isLo: Boolean): Option[Double] = l.value match {
      case null => None
      case v: java.lang.Long =>
        val d = v.toDouble
        if (math.abs(v) > (1L << 53))
          Some(if (isLo) Math.nextDown(d) else Math.nextUp(d))
        else Some(d)
      case v: java.lang.Integer => Some(v.toDouble)
      case v: java.lang.Short => Some(v.toDouble)
      case v: java.lang.Byte => Some(v.toDouble)
      case v: java.lang.Double => if (v.isNaN) None else Some(v.doubleValue)
      case v: java.lang.Float => if (v.isNaN) None else Some(v.toDouble)
      case v: org.apache.spark.sql.types.Decimal =>
        val d = v.toDouble // may round either way: widen outward
        Some(if (isLo) Math.nextDown(d) else Math.nextUp(d))
      case _ => None
    }
    def str(l: Literal): Option[String] = l.value match {
      case s: UTF8String => Some(s.toString)
      case _ => None
    }
    // one literal element → the [lo, hi] interval it occupies in the
    // ATTRIBUTE's numeric domain under the cast shape
    def numInterval(l: Literal, sh: Shape): Option[(Double, Double)] = sh match {
      case Exact =>
        for (lo <- num(l, isLo = true); hi <- num(l, isLo = false)) yield (lo, hi)
      case UlpNum =>
        for (lo <- num(l, isLo = true); hi <- num(l, isLo = false))
          yield (Math.nextDown(lo), Math.nextUp(hi))
      case UlpFloat => l.value match {
        case f: java.lang.Float if !f.isNaN =>
          Some((Math.nextDown(f.floatValue).toDouble,
            Math.nextUp(f.floatValue).toDouble))
        case _ => None
      }
      case TsAttrDateLit => l.value match {
        case d: java.lang.Integer =>
          // exact-multiply guard: an extreme day number would wrap the
          // micros product negative and prune EVERYTHING — skip the
          // bound instead (no pruning is always sound)
          try Some((
            Math.multiplyExact(d.longValue - 1L, MicrosPerDay).toDouble,
            Math.multiplyExact(d.longValue + 2L, MicrosPerDay).toDouble))
          catch { case _: ArithmeticException => None }
        case _ => None
      }
      case DateAttrTsLit => l.value match {
        case m: java.lang.Long =>
          val day = Math.floorDiv(m.longValue, MicrosPerDay)
          Some(((day - 1L).toDouble, (day + 1L).toDouble))
        case _ => None
      }
    }
    // BLOOM extraction: only a BARE attribute compared to a same-type
    // non-null literal — exactly the shape refreshBlooms hashed
    // (xxhash64 of the column in its own type). Any cast changes the
    // hashed bit width (Spark hashes int as 4 bytes, long as 8), so
    // cast shapes contribute ranges only. A false negative is
    // impossible by construction; dropping the pred is always sound.
    def bloomHashable(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | TimestampNTZType | StringType => true
      case _ => false
    }
    def litHash(l: Literal): Long =
      new XxHash64(Seq(l)).eval(EmptyRow).asInstanceOf[Long]
    def bloomEq(a: Expression, l: Literal): Unit = a match {
      case ar: AttributeReference
          if bloomHashable(ar.dataType) && l.value != null &&
            l.dataType == ar.dataType =>
        extra += BloomEq(ZoneMap.bloomKey(ar.name), Seq(litHash(l)))
      case _ => ()
    }
    def visit(e: Expression, l: Literal, lowerOfA: Boolean, upperOfA: Boolean): Unit = {
      // (true, true) is the equality shape — the only bloomable one
      if (lowerOfA && upperOfA) bloomEq(e, l)
      unwrap(e).foreach { case (ar, sh) =>
        if (numericDomain(ar.dataType)) numInterval(l, sh).foreach { case (lo, hi) =>
          tightenN(ar.name, if (lowerOfA) Some(lo) else None,
            if (upperOfA) Some(hi) else None)
        }
        else if (ar.dataType == StringType && sh == Exact)
          tightenS(ar.name,
            if (lowerOfA) str(l) else None,
            if (upperOfA) str(l) else None)
      }
    }
    // IN (...) relaxes to [min element, max element]; skipped unless
    // EVERY element maps (a missed element would under-cover)
    def visitIn(e: Expression, lits: Seq[Literal]): Unit = {
      e match { // bloom: any-of membership over the non-null elements
        case ar: AttributeReference if bloomHashable(ar.dataType) =>
          val nn = lits.filter(_.value != null)
          if (nn.nonEmpty && nn.forall(_.dataType == ar.dataType))
            extra += BloomEq(ZoneMap.bloomKey(ar.name), nn.map(litHash))
        case _ => ()
      }
      unwrap(e).foreach { case (ar, sh) =>
        val nonNull = lits.filter(_.value != null)
        if (nonNull.nonEmpty) {
          if (numericDomain(ar.dataType)) {
            val ivs = nonNull.map(numInterval(_, sh))
            if (ivs.forall(_.isDefined))
              tightenN(ar.name, Some(ivs.map(_.get._1).min), Some(ivs.map(_.get._2).max))
          } else if (ar.dataType == StringType && sh == Exact) {
            val ss = nonNull.map(str)
            if (ss.forall(_.isDefined)) {
              val vs = ss.map(_.get)
              tightenS(ar.name,
                Some(vs.reduce((x, y) => if (ZoneMap.utf8Compare(x, y) <= 0) x else y)),
                Some(vs.reduce((x, y) => if (ZoneMap.utf8Compare(x, y) >= 0) x else y)))
            }
          }
        }
      }
    }
    // startswith(a, p): a ∈ [p, prefix-successor) — the successor
    // bumps the last char when the bump stays a valid non-surrogate
    // BMP char (UTF-8 is code-point-order-preserving, so every string
    // with prefix p sorts strictly below it); otherwise lo-only.
    def visitPrefix(e: Expression, p: String): Unit =
      unwrap(e).foreach { case (ar, sh) =>
        if (ar.dataType == StringType && sh == Exact && p.nonEmpty) {
          val last = p.last
          val hi = if (last < 0xD7FF.toChar)
            Some(p.substring(0, p.length - 1) + (last + 1).toChar)
          else None
          tightenS(ar.name, Some(p), hi)
        }
      }
    def walk(e: Expression): Unit = e match {
      case And(x, y) => walk(x); walk(y)
      // a disjunction conjunct prunes as a UNION: flatten the Or tree
      // into arms, extract each arm recursively, and keep files where
      // ANY arm stays satisfiable. An arm that extracts nothing is
      // always satisfiable, so the whole disjunction contributes
      // nothing then — never unsound. Enables `a < 5 OR a > 90` and
      // multi-column arms like `(a < 5 AND b > 2) OR c = 7`.
      case Or(_, _) =>
        def arms(x: Expression): Seq[Expression] = x match {
          case Or(p, q) => arms(p) ++ arms(q)
          case other => Seq(other)
        }
        val branches = arms(e).map(extractRanges)
        if (branches.forall(_.nonEmpty)) extra += OrPred(branches)
      case GreaterThanOrEqual(a, l: Literal) => visit(a, l, lowerOfA = true, upperOfA = false)
      case GreaterThan(a, l: Literal) => visit(a, l, lowerOfA = true, upperOfA = false)
      case LessThanOrEqual(a, l: Literal) => visit(a, l, lowerOfA = false, upperOfA = true)
      case LessThan(a, l: Literal) => visit(a, l, lowerOfA = false, upperOfA = true)
      case EqualTo(a, l: Literal) => visit(a, l, lowerOfA = true, upperOfA = true)
      case GreaterThanOrEqual(l: Literal, a) => visit(a, l, lowerOfA = false, upperOfA = true)
      case GreaterThan(l: Literal, a) => visit(a, l, lowerOfA = false, upperOfA = true)
      case LessThanOrEqual(l: Literal, a) => visit(a, l, lowerOfA = true, upperOfA = false)
      case LessThan(l: Literal, a) => visit(a, l, lowerOfA = true, upperOfA = false)
      case EqualTo(l: Literal, a) => visit(a, l, lowerOfA = true, upperOfA = true)
      case EqualNullSafe(a, l: Literal) if l.value != null =>
        visit(a, l, lowerOfA = true, upperOfA = true)
      case EqualNullSafe(l: Literal, a) if l.value != null =>
        visit(a, l, lowerOfA = true, upperOfA = true)
      case EqualNullSafe(a, l: Literal) => // a <=> NULL: a must be null
        unwrap(a).foreach { case (ar, _) => markNull(ar.name, mustHaveNull = true) }
      case In(a, elems) if elems.nonEmpty && elems.forall(_.isInstanceOf[Literal]) =>
        visitIn(a, elems.map(_.asInstanceOf[Literal]))
      case InSet(a, hset) if hset.nonEmpty => // the optimized form of IN
        visitIn(a, hset.toSeq.map(v => Literal(v, a.dataType)))
      case StartsWith(a, l: Literal) =>
        str(l).foreach(visitPrefix(a, _))
      // nullness: every admitted cast shape is null-preserving both
      // ways, so the check applies to the underlying attribute
      case IsNull(a) =>
        unwrap(a).foreach { case (ar, _) => markNull(ar.name, mustHaveNull = true) }
      case IsNotNull(a) =>
        unwrap(a).foreach { case (ar, _) => markNull(ar.name, mustHaveNull = false) }
      case _ => ()
    }
    walk(cond)
    acc.toSeq.flatMap { case (c, a) =>
      val n = if (a.loN.isDefined || a.hiN.isDefined)
        Some(NumRange(c, a.loN, a.hiN)) else None
      val s = if (a.loS.isDefined || a.hiS.isDefined)
        Some(StrRange(c, a.loS, a.hiS)) else None
      val nn = if (a.notNull) Some(NullnessPred(c, mustHaveNull = false)) else None
      val mn = if (a.mustNull) Some(NullnessPred(c, mustHaveNull = true)) else None
      n.toSeq ++ s.toSeq ++ nn.toSeq ++ mn.toSeq
    } ++ extra.toSeq
  }
}
