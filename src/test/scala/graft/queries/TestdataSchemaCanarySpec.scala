package graft.queries

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** CANARY against driver-side testdata regeneration.
  *
  * Round 7 lost all 27 events-table gates silently when the driver
  * regenerated `/root/testdata` with `ts` as parquet timestamp[us]
  * where it used to be TIMESTAMP(NANOS) — the failure surfaced only
  * as 27 opaque Verify errors. This spec pins every table's loaded
  * schema to what the [[Tables]] adapters (and the DuckDB oracle SQL)
  * assume, and fails NAMING THE ADAPTER to update, turning the next
  * regeneration into a one-minute diagnosis.
  *
  * Skips (does not fail) when the driver testdata directory is absent,
  * so the suite stays hermetic outside the driver environment.
  */
class TestdataSchemaCanarySpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def fields(df: org.apache.spark.sql.DataFrame): Map[String, DataType] =
    df.schema.fields.map(f => f.name -> f.dataType).toMap

  test("driver testdata schemas match the Tables adapters") {
    assume(new java.io.File(sfDir).isDirectory, s"driver testdata absent at $sfDir")

    // events.ts: the RAW column must be one of the dtypes
    // Tables.events adapts (long nanos via the legacy flag, NTZ from
    // timestamp[us], or already session-TZ); anything else means the
    // driver regenerated the table again — update Tables.events.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawTs = spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    assert(Set[DataType](LongType, TimestampNTZType, TimestampType).contains(rawTs),
      s"events.ts is $rawTs — testdata regenerated with a dtype " +
        "graft.queries.Tables.events does not adapt; update the adapter " +
        "and re-check all events-table oracle hashes")

    // the ADAPTED events schema is what every events gate compiles
    // against — it must normalize to session-TZ TimestampType
    assert(fields(Tables.events(spark, sfDir)) == Map(
      "event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      "events schema drifted — update graft.queries.Tables.events and " +
        "re-check the events-table oracle hashes")

    val expected: Map[String, Map[String, DataType]] = Map(
      "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Map("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Map("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      "part" -> Map("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType,
        "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      // o_orderdate / l_shipdate ship as timestamp[us] → TIMESTAMP_NTZ;
      // the gates' date/timestamp literal comparisons rely on exactly
      // this (and the oracle SQL reads the same naive timestamps)
      "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType),
      "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Map("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType))

    expected.foreach { case (table, want) =>
      val got = fields(Tables.load(spark, sfDir, table))
      assert(got == want,
        s"$table schema drifted (got $got) — testdata regenerated; " +
          s"update graft.queries.Tables.$table (and any oracle SQL " +
          "reading the changed columns), then re-check its gate hashes")
    }
  }

  test("Tables.events reads TIMESTAMP(NANOS) without changing the caller's session") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // the legacy events dtype; Spark cannot write it, parquet's example writer can
    val sf = java.nio.file.Files.createTempDirectory("events_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$sf/events.parquet/part-0.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1577836800123456789L))
    finally writer.close()

    val s = org.apache.spark.sql.graftshim.GraftSession.cloneSession(spark)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val before = s.conf.getAll
    val events = Tables.events(s, sf)
    assert(s.conf.getAll == before)
    assert(events.sparkSession eq s)
    // the scan runs on `s` and still reads the nanos as longs
    assert(events.selectExpr("unix_micros(ts)").head().getLong(0) == 1577836800123456L)
  }

  test("canary catches a dtype flip (synthetic nanos-vs-us fixture)") {
    // the negative control: a table whose ts dtype is NOT in the
    // adapter-accepted set must fail the membership check the first
    // test applies — proves the canary is live, not vacuous
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("canary_neg").toString
    Seq(("2020-01-01", 1L)).toDF("ts", "v")
      .write.mode("overwrite").parquet(dir) // ts lands as StringType
    val flipped = spark.read.parquet(dir).schema("ts").dataType
    assert(!Set[DataType](LongType, TimestampNTZType, TimestampType).contains(flipped),
      s"negative-control fixture unexpectedly adapter-compatible: $flipped")
  }
}
