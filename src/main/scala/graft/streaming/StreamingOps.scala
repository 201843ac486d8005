package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.Sbs1

/** Structured Streaming surface (SURVEY.md §2.4): the reference's whole
  * pipeline (R1–R13) as streaming building blocks, plus watermarked
  * event-time operators whose expressions are shared with the batch
  * inventory (EventTimeQueries — same unresolved plans under readStream).
  *
  * Covered by StreamingSpec (MemoryStream-driven) and Dump1090SourceSpec
  * (live socket): watermark late-drop, streaming sessions, stateful dedup,
  * stream-static join, checkpointed restart.
  */
object StreamingOps {

  /** R1–R7 end-to-end: dump1090 TCP feed → framed lines → typed squitters
    * rows (+ parsed_time) as an unbounded DataFrame.
    */
  def ingestSocket(spark: SparkSession, host: String, port: Int,
                   options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.readStream
      .format("graft.sources.Dump1090TableProvider")
      .option("host", host).option("port", port)
    options.foreach { case (k, v) => reader.option(k, v) }
    Sbs1.parse(reader.load())
  }

  /** File-replay twin (tests/demos): a directory of SBS-1 text files. */
  def ingestFiles(spark: SparkSession, dir: String): DataFrame =
    Sbs1.parse(spark.readStream.format("text").load(dir))

  /** R7/R9: append to parquet with checkpoint (offset log = WAL analog). */
  def writeParquet(df: DataFrame, path: String, checkpoint: String,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Watermarked tumbling counts; rows later than the watermark drop
    * (s_watermark_late). `ts` must be a TimestampType event-time column.
    */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes",
                     width: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  /** Streaming sessionization with state eviction via watermark
    * (s_session_stream; flight = burst of squitters per aircraft).
    */
  def sessionize(events: DataFrame, keyCol: String,
                 gap: String = "30 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(col(keyCol), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("s_ts"), max(col("ts")).as("e_ts"))
      .select(col(keyCol), col("s_ts"), col("e_ts"), col("n"))

  /** Stateful dedup bounded by watermark (s_stream_dedup). */
  def dedup(events: DataFrame, keys: Seq[String],
            watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream enriched against a static dimension via broadcast
    * (s_stream_join). The dim's key is aliased before the join (same
    * guard as [[intervalJoin]]'s `__rk`): with `streamKey == dimKey` —
    * the natural call — unqualified col() would resolve to both children
    * and fail analysis with AMBIGUOUS_REFERENCE.
    */
  def enrich(stream: DataFrame, dim: DataFrame, streamKey: String,
             dimKey: String): DataFrame = {
    val d = dim.withColumnRenamed(dimKey, "__dk")
    stream.join(broadcast(d), col(streamKey) === col("__dk"), "left_outer")
      .drop("__dk")
  }

  /** Stream-STREAM inner join within an event-time interval
    * (s_stream_stream_join): each left row matches right rows with the
    * same key whose time is in [left.ts - horizon, left.ts]. Both sides
    * carry watermarks, so the state store retains only rows inside the
    * watermark + interval bound — the join condition's time range is what
    * lets Spark evict state (an unconstrained stream-stream join would
    * buffer both streams forever). Shuffle is keyed on the join key on
    * both sides; state per key is bounded by rate × (watermark + horizon).
    *
    * Both inputs need TimestampType event-time columns named `ts`; they
    * are re-aliased to `l_ts`/`r_ts` in the output.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   horizon: String = "1 hour",
                   watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col(key) +: col("ts").as("l_ts") +:
        left.columns.filterNot(c => c == key || c == "ts").map(col): _*)
    val r = right.withWatermark("ts", watermark)
      .select(col(key).as("__rk") +: col("ts").as("r_ts") +:
        right.columns.filterNot(c => c == key || c == "ts")
          .map(c => col(c).as(s"r_$c")): _*)
    l.join(r,
      col(key) === col("__rk") &&
        col("r_ts") <= col("l_ts") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $horizon"))
      .drop("__rk")
  }

  /** Streaming training-corpus ingest — the streaming half of
    * `GraftOps.corpusPipeline`: map-side quality gate (token floor), then
    * exact-dedup on the content digest with state bounded by the
    * watermark (a duplicate arriving within the watermark horizon drops;
    * digest state evicts with the watermark, so state size is
    * arrival-rate × horizon, not corpus-sized). Near-dup LSH needs the
    * corpus-wide shingle index and stays a batch pass — run
    * `corpusPipeline` periodically over the sunk corpus as compaction.
    */
  def corpusIngest(docs: DataFrame, textCol: String, tsCol: String,
                   minTokens: Int = 30,
                   watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("n_tokens", size(split(col(textCol), " ")).cast("long"))
      .filter(col("n_tokens") >= minTokens)
      .withColumn("content_md5", md5(col(textCol).cast("binary")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_md5")
}
