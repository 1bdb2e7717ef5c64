package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Timestamp-vintage bridge for the driver's `events` fixture.
  *
  * The testdata generator has shipped `events.ts` two ways across
  * rounds: parquet TIMESTAMP(NANOS) — which Spark 4 surfaces as LONG
  * nanos under `spark.sql.legacy.parquet.nanosAsLong` — and native
  * TIMESTAMP micros, which Spark infers as TIMESTAMP_NTZ. Every events
  * reader (batch and streaming) normalizes through here so the rest of
  * the engine sees exactly one thing: session-zoned `TimestampType` at
  * microsecond precision — DuckDB's `CAST(ts AS TIMESTAMP)` view of
  * the same file. All engine sessions run UTC (GraftSession / Verify /
  * Bench), so the NTZ→TZ cast is a wall-clock identity and
  * `unix_micros` yields the stored microsecond value in both vintages.
  */
object TsBridge {

  /** Normalize a `ts` column of any shipped vintage to TimestampType
    * micros. Long nanos truncate ns→us exactly like DuckDB's CAST. */
  def normalize(df: DataFrame, c: String = "ts"): DataFrame =
    df.schema(c).dataType match {
      case LongType =>
        df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
      case TimestampNTZType =>
        df.withColumn(c, col(c).cast(TimestampType))
      case _ => df // already TimestampType
    }
}
