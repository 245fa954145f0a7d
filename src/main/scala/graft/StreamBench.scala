package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStreams

/** Streaming throughput rehearsal: drive a stateful streaming op from
  * the built-in rate source and report sustained rows/sec plus the
  * STATE-STORE ROW COUNT from the query's own progress metrics — the
  * number that proves the op's state is bounded as designed (windows ×
  * types for the windowed agg, one row per event type for the anomaly
  * state), not event-proportional. Not part of the driver contract —
  * the standing answer to "what does the streaming path sustain?".
  * Usage: runMain graft.StreamBench [op] [rowsPerSecond] [seconds]
  * where op ∈ {window, anomaly} (window = watermarked windowed counts,
  * the st_window_agg/st_topk maintenance half — st_topk's rank is a
  * read-time projection over this state, so its sustained rate IS this
  * one; anomaly = flatMapGroupsWithState exact-moment z-score state,
  * st_anomaly's streaming twin). A bare numeric first arg keeps the
  * legacy [rowsPerSecond] [seconds] form (op = window). */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val (op, rest) =
      if (args.nonEmpty && !args(0).forall(_.isDigit)) (args(0), args.drop(1))
      else ("window", args)
    val rps = if (rest.length > 0) rest(0).toLong else 500000L
    val seconds = if (rest.length > 1) rest(1).toInt else 25
    val cpus = graft.core.GraftSession.cpus
    val spark = graft.core.GraftSession.local()
    // rate source → the events shape the engine's streaming ops expect
    val events = spark.readStream.format("rate")
      .option("rowsPerSecond", rps)
      .option("numPartitions", cpus)
      .load()
      .select(
        col("timestamp").as("ts"),
        col("value").as("event_id"),
        (col("value") % 10000).as("user_id"),
        element_at(array(lit("click"), lit("view"), lit("purchase"),
          lit("error"), lit("signup")), (col("value") % 5 + 1).cast("int"))
          .as("event_type"),
        (col("value") % 100).cast("double").as("value"))
    val stream = op match {
      case "window" => EventStreams.windowedCounts(events, watermark = "5 seconds")
      case "anomaly" => EventStreams.anomalyState(events).toDF()
      case other => sys.error(s"unknown op $other (window | anomaly)")
    }
    val q = stream.writeStream.format("noop")
      .outputMode("update")
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .start()
    Thread.sleep(seconds * 1000L)
    val progress = q.recentProgress.toSeq
    q.stop()
    // skip the first batches (start-up); average the steady tail
    val steady = progress.drop(2).filter(_.numInputRows > 0)
    val rows = steady.map(_.numInputRows).sum
    val procRate =
      if (steady.nonEmpty) steady.map(_.processedRowsPerSecond).sum / steady.size
      else 0.0
    // state rows from the LAST steady progress: bounded-by-design ops
    // must report a count independent of `rows` (the spec-level claim,
    // here measured on the real state store under sustained load)
    val stateRows = steady.lastOption
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    println(s"""{"metric":"stream_rows_per_sec","value":$procRate,""" +
      s""""op":"$op","offered_rps":$rps,"batches":${steady.size},""" +
      s""""rows":$rows,"state_rows":$stateRows}""")
    spark.stop()
  }
}
