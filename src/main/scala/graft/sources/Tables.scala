package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.core.SessionState

/** Parquet table readers for the engine's lake layout: one directory per
  * scale factor, one parquet file/dir per table.
  *
  * `events.ts` has been written two ways by the data generator over time:
  * parquet TIMESTAMP(NANOS) (which Spark surfaces as a raw long of
  * ns-since-epoch) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark
  * reads as TIMESTAMP_NTZ). A lake reader must tolerate both, so we branch on
  * the READ dtype rather than assuming the writer: long → floor-divide to
  * microseconds (the same ns→us flooring DuckDB applies); timestamp types →
  * use directly, cast NTZ→TIMESTAMP (identity under the UTC session, matching
  * DuckDB's naive-timestamp read). The normalisation is a codegen'd scalar on
  * the scan output; pushdown on other columns is unaffected.
  */
object Tables {

  /** Base-table relations, held per (session, path) in
    * [[graft.core.SessionState]] — r18: a bare `spark.read.parquet`
    * re-lists the directory and re-reads a footer for schema inference
    * on EVERY call, pure driver latency paid once or twice by every
    * query (and by every bench pass) for metadata that never changes
    * under a scale-factor directory. Catalog tables get a session
    * file-index cache (`filesourcePartitionFileCacheSize`,
    * optimization-guide §6); bare-path reads do not — this is that
    * cache for the lake's fixed table layout. The entry holds the
    * RELATION (file index + schema) only: no data is persisted, every
    * execution still scans the parquet inputs. It is bound to its
    * session, so a restarted session is never served a dead relation
    * and a stopped one is dropped on the next lookup. */
  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val p = s"$dir/$name.parquet"
    SessionState(p, Some(s))(s.read.parquet(p))
  }

  /** Spark 4 refuses TIMESTAMP(NANOS) parquet at schema inference unless
    * this legacy conf is on (there is no per-read option); with it, NANOS
    * columns surface as raw ns-since-epoch longs — exactly the LongType
    * branch of [[normalizeTs]]. Setting it is a no-op for every other
    * encoding, so the writer-tolerant reader enables it before touching
    * `events.parquet` (shared by the batch and streaming paths). */
  def enableNanosAsLong(s: SparkSession): Unit =
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Normalise a raw `ts` column to a microsecond TIMESTAMP, whatever the
    * parquet writer emitted. Integer `div`, NOT `/`, on the long branch:
    * long/long in Spark SQL is double division and ns-since-epoch exceeds
    * 2^53, so `/` would corrupt the low microseconds. */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType         => df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampNTZType => df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalArgumentException(
        s"events.$tsCol: unsupported parquet type $other (expected long ns, TIMESTAMP or TIMESTAMP_NTZ)")
    }

  /** events with `ts` normalised to a microsecond TIMESTAMP. The nanos
    * conf must be set before the RELATION is created (schema inference
    * is what rejects TIMESTAMP(NANOS)); the cached relation was created
    * under it, so reuse is sound and the normalisation — a pure
    * projection — is re-applied per call on top. */
  def events(s: SparkSession, dir: String): DataFrame = {
    enableNanosAsLong(s)
    normalizeTs(table(s, dir, "events"))
  }
}
