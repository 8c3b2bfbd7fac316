package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.SessionBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The engine's `foreachBatch` sink: each micro-batch body runs in the
  * stream's HOME session, the session that built the stream.
  *
  * Structured Streaming runs every query in a clone of that session,
  * and under session artifact isolation (on by default) each clone's
  * jobs get their own executor classloader, which keys Spark's
  * generated-code cache. A body run in the clone recompiles, on every
  * `start`, the classes the previous `start` compiled: 6 per relay drain
  * (about 140 ms inside its one delivery task) and 3 per apply. Each
  * drain-per-append is a new query, so that is every drain. Re-homed,
  * the body's jobs carry the home session's artifact state, one per
  * session, and later drains reuse the code.
  *
  * The frame is the same already-planned micro-batch: no row or plan
  * changes. Body jobs still run on the stream thread under its job group
  * (the query's `runId`), so `stop()` still cancels them. The body reads
  * the home session's SQL conf, not the clone's copy of it. */
object HomeSink {

  /** Start `stream` with `body` as its per-micro-batch sink. Without a
    * `checkpointDir` Spark picks a temporary one. */
  def start(stream: DataFrame, checkpointDir: Option[String],
      trigger: Trigger = Trigger.AvailableNow())(
      body: (DataFrame, Long) => Unit): StreamingQuery = {
    val home = stream.sparkSession
    val writer = stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        body(SessionBridge.rehome(home, batch), batchId)
    }
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _))
      .trigger(trigger)
      .start()
  }
}
