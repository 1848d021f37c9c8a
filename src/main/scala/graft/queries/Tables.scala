package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, TimestampType}

import graft._

/** Testdata table loaders. `events.parquet` has shipped with two physical
  * layouts across driver rounds: TIMESTAMP(NANOS) (readable only as raw
  * int64 via `spark.sql.legacy.parquet.nanosAsLong`, then rescaled to
  * micros — the same truncation DuckDB applies) and plain timestamp[us]
  * (loads as TIMESTAMP_NTZ). [[eventsRaw]] branches on the type Spark
  * actually loaded so either layout yields the same logical schema: a
  * session-TZ `timestamp` column, identical to DuckDB's view under the
  * UTC session both Verify and Bench pin. */
object Tables {

  /** The fixture's fixed `event_type` catalog (sorted). The `.tsd` gate
    * queries build ETSD headers from this list (a .tsd schema comes from
    * config, not data discovery), and the pivot query uses it as the
    * explicit value list — so it is a DATA-CONTENT assumption, pinned by
    * `TestdataCanarySpec` (distinct event_type set must equal this) so a
    * driver regeneration with different types fails the canary loudly
    * instead of surfacing as a confusing gate hash mismatch. */
  val EventTypeCatalog: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")

  /** Documented logical schema pins: column → canonical Spark type.
    * Loaders cast any drifted physical type back to the pin, so a driver
    * testdata regeneration (the known drift mode is timestamp flavor:
    * NANOS int64 / us-NTZ / us-UTC) cannot silently change what the query
    * layer sees. Under the pinned UTC session every such cast is a pure
    * relabel with identical instants. Columns without a pin load as-is. */
  private val pinnedTypes: Map[String, Map[String, DataType]] = Map(
    "orders"     -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType),
    "lineitem"   -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_shipdate" -> TimestampType),
    // integer-width / float-width drift insurance: a regeneration that
    // narrows ids to int32 or widens embeddings to float64 must not
    // change what the query layer (or the .tsd codec's cents-integer
    // arithmetic) sees
    "events"     -> Map("event_id" -> LongType, "user_id" -> LongType,
      "value" -> DoubleType),
    "documents"  -> Map("doc_id" -> LongType, "n_chars" -> LongType),
    // NOTE the float32 pin is only presentational insurance: a WIDENING
    // drift (float64 embeddings) would make this cast lossy while DuckDB
    // oracles still read float64, so that mode is EXPECTED to fail the
    // gate — TestdataCanarySpec asserts the physical element type is
    // float32 and fails fast with a pointed message instead.
    "embeddings" -> Map("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType)),
    // join-key + money pins for the dimension tables: today these match
    // the physical layout exactly (pure no-ops); on a width drift they
    // restore the documented logical schema below, and the canary's
    // full-schema assert reports the drift loudly either way
    "region"     -> Map("r_regionkey" -> IntegerType),
    "nation"     -> Map("n_nationkey" -> IntegerType,
      "n_regionkey" -> IntegerType),
    "customer"   -> Map("c_custkey" -> LongType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType),
    "supplier"   -> Map("s_suppkey" -> LongType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part"       -> Map("p_partkey" -> LongType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType))

  /** The full documented logical schema per table — what every loader
    * must produce AFTER pin normalization, asserted column-for-column by
    * `TestdataCanarySpec` so ANY regeneration drift (renamed, re-typed,
    * added, dropped columns) fails `sbt test` loudly. `events` is listed
    * in its [[events]] post-normalization shape (session-TZ `ts`). */
  val documentedSchema: Map[String, Seq[(String, DataType)]] = Map(
    "region"     -> Seq("r_regionkey" -> IntegerType,
      "r_name" -> StringType),
    "nation"     -> Seq("n_nationkey" -> IntegerType,
      "n_name" -> StringType, "n_regionkey" -> IntegerType),
    "customer"   -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier"   -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part"       -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders"     -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem"   -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    "events"     -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents"  -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/$name.parquet")
    pinnedTypes.getOrElse(name, Map.empty).foldLeft(raw) {
      case (df, (c, t)) =>
        if (df.columns.contains(c) && df.schema(c).dataType != t)
          df.withColumn(c, col(c).cast(t))
        else df
    }
  }

  /** Events with the raw layout exposed: a `date=YYYY-MM-DD`-partitioned
    * copy (the 100 TB deployment shape, written by `tools.Relayout
    * --date-partition-events`) additionally carries its `date` partition
    * column here. Callers that can scope their scan go through
    * [[eventsBetween]], which turns a time range into a partition-
    * pruning predicate; everything else uses [[events]], whose schema is
    * layout-independent. */
  private def eventsRaw(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    // nanosAsLong is also set at session build in GraftSession; this guard
    // only covers driver-supplied sessions and avoids re-setting otherwise.
    if (s.conf.getOption(NanosConf).forall(_ != "true")) s.conf.set(NanosConf, "true")
    val raw = table(s, dir, "events")
    raw.schema("ts").dataType match {
      // TIMESTAMP(NANOS) layout, surfaced as int64 nanos by nanosAsLong:
      // `ts DIV 1000` truncates toward zero == floor for the post-1970
      // fixture data (all nanos positive); matches DuckDB's load of the file.
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampType => raw
      // timestamp[us] layout loads as TIMESTAMP_NTZ; under the pinned UTC
      // session the cast is a pure relabel with identical instants.
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  def events(s: SparkSession, dir: String): DataFrame =
    eventsRaw(s, dir).drop("date")

  /** Events scoped to `[fromSec, toSec)` epoch seconds: the raw `ts`
    * range predicate (parquet row-group pruning on any layout) PLUS —
    * when the table is date-partitioned — the date-range partition
    * predicate derived from the same bounds, so the scan plans only the
    * touched partitions instead of listing 100 TB of them. Catalyst
    * cannot infer `date BETWEEN …` from a `ts` range on its own (the
    * column relation is ours, not the engine's), which is why the query
    * layer states both. Output schema is layout-independent. */
  def eventsBetween(s: SparkSession, dir: String,
                    fromSec: Long, toSec: Long): DataFrame = {
    val raw = eventsRaw(s, dir)
    val scoped = raw.filter($"ts" >= timestamp_seconds(lit(fromSec)) &&
      $"ts" < timestamp_seconds(lit(toSec)))
    if (raw.columns.contains("date"))
      scoped.filter($"date" >= to_date(timestamp_seconds(lit(fromSec))) &&
          $"date" <= to_date(timestamp_seconds(lit(toSec))))
        .drop("date")
    else scoped
  }

  val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"
}
