package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sinks.LocalFiles

/** Stateful streaming sessionization with
  * `flatMapGroupsWithState` (SURVEY.md §2a row 18 family): the
  * streaming counterpart of the batch `q17_sessionize` window query.
  *
  * Custom per-key state: the currently-open session. A new event
  * within `gapSeconds` of the session end extends it; a later event
  * closes it and emits the finished session. Open sessions remain in
  * state until closed by a later event (a production job would add an
  * event-time timeout to flush idle sessions; on a finite replay the
  * open tail is intentionally unemitted, which the spec exploits).
  *
  * Events inside one trigger are sorted by (ts, event_id) before
  * folding, so intra-batch disorder is handled; cross-batch disorder
  * is the watermark's job.
  */
object Sessionize {

  case class SessionEvent(user_id: Long, event_id: Long, ts: Timestamp, value: Double)

  case class OpenSession(sessionNo: Long, startUs: Long, endUs: Long,
                         nEvents: Long, sumValue: Double)

  case class ClosedSession(user_id: Long, session_no: Long, n_events: Long,
                           session_start: Timestamp, session_end: Timestamp,
                           sum_value: Double)

  /** Timestamp ⇄ epoch-micros without losing sub-millisecond digits
    * (`getTime` is ms-truncated; the fraction lives in `getNanos`).
    * Micros fidelity matters: the batch q17 oracle compares session
    * bounds exactly.
    */
  def tsToUs(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def fold(gapUs: Long)(userId: Long, events: Iterator[SessionEvent],
                        state: GroupState[OpenSession]): Iterator[ClosedSession] = {
    val sorted = events.toSeq.sortBy(e => (tsToUs(e.ts), e.event_id))
    if (sorted.isEmpty) return Iterator.empty
    var open = state.getOption
    val closed = Seq.newBuilder[ClosedSession]
    sorted.foreach { e =>
      val us = tsToUs(e.ts)
      open match {
        case Some(s) if us - s.endUs <= gapUs =>
          open = Some(s.copy(endUs = us, nEvents = s.nEvents + 1,
            sumValue = s.sumValue + e.value))
        case Some(s) =>
          closed += ClosedSession(userId, s.sessionNo, s.nEvents,
            usToTs(s.startUs), usToTs(s.endUs), s.sumValue)
          open = Some(OpenSession(s.sessionNo + 1, us, us, 1L, e.value))
        case None =>
          open = Some(OpenSession(1L, us, us, 1L, e.value))
      }
    }
    open.foreach(state.update)
    closed.result().iterator
  }

  /** Wire the fold over a (possibly streaming) typed event Dataset. */
  def sessions(events: Dataset[SessionEvent], gapSeconds: Long): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(fold(gapSeconds * 1000000L))
  }

  /** Production variant: sessions also FLUSH on event-time timeout —
    * when the watermark passes (session end + gap) with no new events,
    * the open session is emitted and its state dropped, so idle keys
    * do not pin state forever. Requires a watermark on `ts` upstream.
    */
  def foldWithTimeout(gapUs: Long)(userId: Long, events: Iterator[SessionEvent],
                                   state: GroupState[OpenSession]): Iterator[ClosedSession] = {
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      return Iterator.single(ClosedSession(userId, s.sessionNo, s.nEvents,
        usToTs(s.startUs), usToTs(s.endUs), s.sumValue))
    }
    val out = fold(gapUs)(userId, events, state)
    state.getOption.foreach { s =>
      state.setTimeoutTimestamp((s.endUs + gapUs) / 1000L) // millis
    }
    out
  }

  /** Wire the timeout-flushing fold; `events` must already carry a
    * watermark on `ts`.
    */
  def sessionsWithTimeout(events: Dataset[SessionEvent],
                          gapSeconds: Long): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        foldWithTimeout(gapSeconds * 1000000L))
  }

  /** Run the streaming sessionizer to a memory sink until drained. */
  def runToMemory(spark: SparkSession, out: Dataset[ClosedSession],
                  queryName: String): Dataset[ClosedSession] = {
    import spark.implicits._
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName).as[ClosedSession]
  }

  /** Full-parity replay: run the WHOLE event set through the
    * timeout-flushing stream and return every session. The replay is
    * two chronological file batches plus a sentinel event far past the
    * data — the sentinel pushes the watermark, so the no-data batch
    * after it flushes every still-open session. Output therefore
    * equals the batch q17 sessionization exactly (oracle-checked as
    * `q_stream_sessionize`).
    */
  def replayAll(spark: SparkSession,
                events: org.apache.spark.sql.DataFrame,
                gapSeconds: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // one narrow projection cached (the StreamStreamJoin convention,
    // r18): the min/max probe and the two batch-file writes would
    // otherwise each rescan + renormalize the events source
    val ev = events.select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .persist()
    val r = ev.agg(min(col("ts")), max(col("ts"))).head()
    val minUs = tsToUs(r.getTimestamp(0))
    val maxUs = tsToUs(r.getTimestamp(1))
    val midUs = minUs + (maxUs - minUs) / 2
    // single file per batch → deterministic trigger order (mtime asc)
    val dirPath = java.nio.file.Files.createTempDirectory("graft-sess-replay")
    val dir = dirPath.toString
    val name = "qss_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // the state store allocates one state partition per shuffle
    // partition PER MICROBATCH — at replay scale fewer, fuller state
    // tasks beat many near-empty ones (a long-running production
    // stream would size this to the key cardinality instead)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val drained = try {
      ev.filter(unix_micros(col("ts")) <= midUs).coalesce(1).write.parquet(s"$dir/b1")
      // the far-future sentinel rides in the SECOND batch (its own key,
      // max event time): the watermark computed from b2 already covers
      // every real session, so the no-data batch after b2 fires all
      // timeouts — two file microbatches + one flush, not three + one
      ev.filter(unix_micros(col("ts")) > midUs)
        .unionByName(Seq((-1L, -1L, usToTs(maxUs + 365L * 24 * 3600 * 1000000L), 0.0))
          .toDF("user_id", "event_id", "ts", "value"))
        .coalesce(1).write.parquet(s"$dir/b2")
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
        .withWatermark("ts", "1 minute")
        .as[SessionEvent]
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      runToMemory(spark, sessionsWithTimeout(stream, gapSeconds), name)
    } finally {
      ev.unpersist()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      // the memory sink holds the drained rows; the replay files are dead
      LocalFiles.deleteRecursively(dirPath)
    }
    // the plan is already bound to the memory sink — the catalog name
    // can go (and must, or each replay leaks a temp view)
    spark.catalog.dropTempView(name)
    drained
      .filter(col("user_id") >= 0) // drop the sentinel
      .select(col("user_id"), col("session_no"), col("n_events"),
        col("session_start"), col("session_end"), col("sum_value"))
  }
}
