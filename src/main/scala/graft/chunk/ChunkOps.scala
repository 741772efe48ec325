package graft.chunk

import graft.core.SeriesOps.{K, T, V}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Chunked columnar storage of series points: per (key, time-bucket) one
  * BinaryType blob holding delta-of-delta timestamps + Gorilla XOR values
  * (north-rule compression tier; no reference counterpart — see
  * SURVEY.md §2.10). The chunk span bounds per-task state and makes the
  * chunk table range-partitionable by bucket at any scale.
  */
object ChunkOps {

  /** points (key, t: long µs, v) -> chunks (key, bucket, n_points, blob).
    * One shuffle (groupBy); accumulation is bounded by chunkSpan, which the
    * caller sizes so a chunk fits executor memory (e.g. 1 day of points per
    * url).
    *
    * The encode is the native `ts_chunk_encode` Catalyst aggregate
    * ([[GorillaEncodeAgg]]): primitive-array accumulation, 17-byte/point
    * partial-aggregate shuffle, no boxed Row list. The session must be
    * built with `spark.sql.extensions=graft.GraftExtensions`; without it
    * the plan fails at analysis on the unresolved function.
    *
    * Rows with a null time carry no measurement and are dropped up front,
    * so `n_points` counts exactly the encoded points and readChunks stays
    * the inverse on any input.
    */
  def writeChunks(points: DataFrame, chunkSpanMicros: Long): DataFrame =
    points
      .where(col(T).isNotNull)
      .groupBy(col(K), floor(col(T) / chunkSpanMicros).as("bucket"))
      .agg(
        count(lit(1)).as("n_points"),
        call_function(graft.GraftExtensions.EncodeName, col(T), col(V)).as("blob"))

  private[graft] val encodeStateUdf = udf { (rows: Seq[Row]) =>
    val sorted = rows.sortBy(_.getLong(0))
    val ts = sorted.map(_.getLong(0)).toArray
    val vs = sorted
      .map(r => if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1)))
      .toArray
    StateRle.encode(ts, vs)
  }

  private[graft] val decodeStateUdf = udf { (blob: Array[Byte]) =>
    val (ts, vs) = StateRle.decode(blob)
    ts.indices.map(i => (ts(i), Option(vs(i)).map(_.doubleValue())))
  }

  /** points -> state chunks (key, bucket, n_points, n_runs, dict_size,
    * blob) under the dictionary+RLE codec ([[StateRle]]) — the storage
    * tier for low-cardinality state series, where Gorilla's per-point XOR
    * stream loses to one (code, run-length) varint pair per VALUE CHANGE.
    * Same single-shuffle shape as [[writeChunks]]; n_runs / dict_size are
    * the codec's own structural self-report, which the q184 oracle
    * recomputes (together with the exact blob byte length) from the format
    * spec in SQL — validating the format itself, not just the round-trip. */
  def writeStateChunks(points: DataFrame, chunkSpanMicros: Long): DataFrame =
    points
      .where(col(T).isNotNull)
      .groupBy(col(K), floor(col(T) / chunkSpanMicros).cast("long").as("bucket"))
      .agg(
        count(lit(1)).as("n_points"),
        encodeStateUdf(collect_list(struct(col(T), col(V)))).as("blob"))
      .withColumn("_hdr", stateHeaderUdf(col("blob")))
      .select(col(K), col("bucket"), col("n_points"),
        col("_hdr._1").as("n_runs"), col("_hdr._2").as("dict_size"), col("blob"))

  /** (n_runs, dict_size) straight off a [[StateRle]] blob — a header scan,
    * no point materialization. */
  private[graft] val stateHeaderUdf = udf { (blob: Array[Byte]) =>
    StateRle.runStats(blob)
  }

  /** state chunks -> points; exact inverse of [[writeStateChunks]]. */
  def readStateChunks(chunks: DataFrame): DataFrame =
    chunks
      .select(col(K), explode(decodeStateUdf(col("blob"))).as("p"))
      .select(col(K), col("p._1").as(T), col("p._2").as(V))

  /** chunks -> points; exact inverse of [[writeChunks]] (round-trip
    * property-tested), through the native `ts_chunk_explode` generator
    * ([[GorillaDecodeGen]]: rows straight off the codec's primitive
    * arrays). Needs the same session extension as [[writeChunks]]. */
  def readChunks(chunks: DataFrame): DataFrame =
    chunks.select(col(K), call_function(graft.GraftExtensions.DecodeName, col("blob")).as(Seq(T, V)))
}
