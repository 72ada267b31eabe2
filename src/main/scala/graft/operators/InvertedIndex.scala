package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Commit

/** Materialized inverted index: the posting-list relation persisted as
  * a term-hash-bucket-PARTITIONED parquet table, the lexical analogue
  * of [[IvfIndex]]. A query's terms hash to a handful of buckets, so
  * scoring reads ONLY those buckets' files — partition pruning instead
  * of a full-corpus tokenize-and-filter pass per query.
  *
  * Postings are denormalized the way search engines store them: each
  * row carries (term, id, tf, dl, df) — document length and term
  * document-frequency are baked in at build time — and the corpus
  * constants (N, avgdl) live in a sidecar. BM25 scoring through the
  * index is then scan → per-row weight → groupBy(id) sum: no joins at
  * query time at all.
  *
  * Layout under `dir`:
  *   postings/bucket=<i>/part-….parquet — (term, id, tf, dl, df)
  *   meta.json                          — {numBuckets, nDocs, avgdl}
  */
object InvertedIndex {

  final case class Index(dir: String, numBuckets: Int, nDocs: Long, avgdl: Double)

  private val MetaFile = "meta.json"

  /** term → partition bucket (internal — nothing needs to reproduce it
    * outside the JVM, so plain xxhash64 is fine).
    */
  private def bucketOf(termCol: org.apache.spark.sql.Column, numBuckets: Int) =
    pmod(xxhash64(termCol), lit(numBuckets.toLong)).cast("int")

  /** One pass over the corpus: tokenize, aggregate tf, join dl and df
    * back in (build-time joins are fine — they amortize over every
    * query), bucket by term hash, write partitioned.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, dir: String,
      numBuckets: Int = 64): Index = {
    // tokenize ONCE: the stats collect and both write-DAG branches
    // (tf and df-by-term) consume `words`, and re-running the
    // split+explode per consumer would triple the dominant build cost
    val words = docs
      .select(col(idCol).as("id"), split(trim(col(textCol)), " ").as("_ws"))
      .persist()
    try {
      val lens = words.select(col("id"), size(col("_ws")).as("dl"))
      val tf = words.select(col("id"), explode(col("_ws")).as("term"))
        .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      val dfByTerm = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val Array(n, avgdl) = lens.agg(count(lit(1)).cast("double"), avg("dl"))
        .collect().head.toSeq.map(_.asInstanceOf[Double]).toArray
      // the whole build swaps in through Commit: a failed rebuild must
      // never pair new postings with an old meta sidecar (stale
      // N/avgdl silently skew every BM25 score)
      Commit.replaceDir(dir) { tmp =>
        tf.join(dfByTerm, "term")
          .join(lens, "id")
          .withColumn("bucket", bucketOf(col("term"), numBuckets))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$tmp/postings")
        Commit.writeBytes(s"$tmp/$MetaFile",
          s"""{"numBuckets":$numBuckets,"nDocs":${n.toLong},"avgdl":$avgdl}"""
            .getBytes("UTF-8"))
      }
      Index(dir, numBuckets, n.toLong, avgdl)
    } finally { words.unpersist(blocking = false); () }
  }

  def load(spark: SparkSession, dir: String): Index = {
    val meta = Commit.readBytes(s"$dir/$MetaFile").getOrElse(
      throw new java.io.FileNotFoundException(s"no inverted index at $dir"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(meta)
    Index(dir, node.get("numBuckets").intValue(),
      node.get("nDocs").longValue(), node.get("avgdl").doubleValue())
  }

  /** Posting lists for the query terms: a partition-pruned scan of the
    * terms' hash buckets, then the term filter (pushed to parquet) on
    * the surviving files.
    */
  def postings(spark: SparkSession, index: Index, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "empty term lookup")
    // bucket the query terms with the SAME column expression the build
    // used — a |Q|-row local relation, so the job is driver-trivial and
    // the two hash paths can never drift
    import spark.implicits._
    val buckets = terms.toDS().select(bucketOf(col("value"), index.numBuckets))
      .collect().map(_.getInt(0)).distinct.toSeq
    spark.read.parquet(s"${index.dir}/postings")
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("term").isin(terms: _*))
  }

  /** Okapi BM25 through the index — identical scores to
    * [[Search.bm25]] against the same corpus (spec/gate-asserted), but
    * the scan reads only the query terms' buckets and the plan has no
    * query-time joins: per-posting weight then one groupBy(id).
    */
  def bm25(spark: SparkSession, index: Index, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    postings(spark, index, terms)
      .withColumn("idf",
        log(lit(1.0) + (lit(index.nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(index.avgdl))))
      .groupBy(col("id"))
      .agg(sum("w").as("bm25"))
}
