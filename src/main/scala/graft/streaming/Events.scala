package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Each transform is defined once against a DataFrame and works for BOTH
  * `spark.read` (batch) and `spark.readStream` (incremental) inputs —
  * the Structured Streaming contract. Batch mode doubles as the oracle
  * path: the driver's DuckDB check runs the batch plan, and the
  * streaming specs assert stream-vs-batch equivalence on the same data.
  *
  * Scale: windowed aggregation state is bounded by the watermark
  * (late data beyond 10 min is dropped, state evicted); sessionization
  * state is per-user and evicted on timeout — both O(active keys), not
  * O(stream length).
  */
object Events {

  /** Tumbling-window count/sum per event_type. */
  def windowedAgg(events: DataFrame, windowLen: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class UserSession(
      user_id: Long, session_start: Long, session_end: Long, n_events: Long)

  /** Streaming sessionization: per-user sessions closed after `gapMs` of
    * inactivity, via `flatMapGroupsWithState` (custom state machine —
    * the mapGroupsWithState surface of SURVEY's streaming mapping).
    *
    * State is bounded and sessions always terminate: each update arms an
    * event-time timeout at `last + gapMs`; when the watermark (event time
    * minus `watermarkDelay`) passes it with no new events, the open
    * session is emitted and the state REMOVED — churned users cost
    * nothing and their final session is not lost. State is therefore
    * O(users active within one gap), not O(users ever seen). In batch
    * execution timeouts never fire (state dies with the job), so the
    * batch form emits only gap-closed sessions; use [[sessionizeBatch]]
    * for complete batch results.
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "10 minutes"): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    // hoisted: the state function must not capture the Dataset itself
    val streaming = events.isStreaming
    val withWm =
      if (streaming) events.withWatermark("ts", watermarkDelay) else events
    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout() // batch: timeouts can never fire
    withWm
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), timeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // gap elapsed in event time with no new events: close + evict
            val s = state.get
            state.remove()
            Iterator.single(UserSession(userId, s.start, s.last, s.n))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[UserSession]
            var st = state.getOption.orNull
            sorted.foreach { e =>
              val t = e.ts.getTime
              st match {
                case null => st = SessionState(t, t, 1)
                case s if t - s.last > gapMs =>
                  closed ::= UserSession(userId, s.start, s.last, s.n)
                  st = SessionState(t, t, 1)
                case s =>
                  // min/max, not overwrite: a LATE event (delivered in a
                  // later micro-batch but inside the watermark) must not
                  // regress `last` — that would shrink session_end below
                  // a counted member event and re-arm the gap timeout
                  // too early — nor move `start` forward
                  st = SessionState(math.min(s.start, t), math.max(s.last, t), s.n + 1)
              }
            }
            if (st != null) {
              state.update(st)
              if (streaming) {
                // arm the gap timeout; must stay above the current
                // watermark or Spark rejects it (late-data session)
                val wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(math.max(st.last + gapMs, wm + 1))
              }
            }
            closed.reverseIterator
          }
      }
  }

  /** Batch sessionization with identical semantics (gap-based session
    * boundaries via lag + running session id) — the oracle-checkable
    * form, and the one to use for backfills.
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
    val tsMs = (unix_millis(col("ts"))).as("ts_ms")
    events
      .select(col("user_id"), tsMs)
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts_ms")).as("session_start"),
        max(col("ts_ms")).as("session_end"),
        count(lit(1)).as("n_events"))
      .drop("session_seq")
  }

  /** Stream-stream interval join: each click joined to the same user's
    * purchases within `withinMs` AFTER the click. Both sides carry
    * watermarks and the join condition bounds event time on both sides,
    * so Spark can evict join state as the watermark advances — state is
    * O(events within one watermark+interval span), the requirement for
    * an unbounded 100 TB/day stream. The same plan runs in batch (the
    * watermark is a no-op there), which is the oracle-checkable form.
    *
    * `joinType = "left_outer"` keeps non-converting clicks: in streaming
    * execution the null-extended row is emitted only once the watermark
    * passes the click's last possible match (the state-eviction point),
    * so the outer result is append-mode-correct, not speculative.
    */
  def clickPurchaseJoin(
      events: DataFrame,
      withinMs: Long = 10 * 60 * 1000L,
      watermarkDelay: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermarkDelay)
    clicks.join(purchases,
      col("c_user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $withinMs MILLISECONDS"),
      joinType)
      // unmatched clicks (left_outer) carry -1, never NULL: the sentinel
      // keeps the surface hash-exact against the SQL oracle and typed
      // Dataset-friendly (no boxing); a no-op for the inner form
      .select(col("click_id"), col("c_user_id").as("user_id"),
        unix_millis(col("click_ts")).as("click_ms"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(unix_millis(col("purchase_ts")), lit(-1L)).as("purchase_ms"))
  }

  final case class AttrEvent(
      user_id: Long, ts: java.sql.Timestamp, event_id: Long, event_type: String)
  final case class AttrState(click_id: Long, click_ts: Long)
  final case class Attribution(
      user_id: Long, purchase_id: Long,
      click_id: Option[Long], lag_ms: Option[Long])

  /** Streaming last-touch attribution: each purchase emits immediately,
    * attributed to the user's most recent strictly-prior click — the
    * incremental form of the `events_attribution` batch query. State is
    * O(1) per user (ONE last-click record, not a click history): the
    * recurrence only ever needs the latest click, which is what makes
    * this a flatMapGroupsWithState fit rather than a join. State evicts
    * via event-time timeout once the watermark passes the last click by
    * `retentionMs` (the attribution window): churned users cost nothing,
    * and a purchase later than the window attributes to nothing — the
    * standard marketing-attribution bound that keeps state finite on an
    * unbounded stream. Within a micro-batch rows fold in (ts, event_id)
    * order; cross-batch correctness relies on event-time ordered arrival
    * per user within the watermark, as with any stateful recurrence.
    * In batch execution (NoTimeout, one "batch" = everything) the fold
    * reproduces the batch window plan for every purchase whose
    * click-to-purchase lag is ≤ `retentionMs` — the retention cutoff is
    * PART OF THIS OPERATOR's semantics (it is what bounds the state),
    * while the `events_attribution` batch window plan has no such
    * cutoff: a purchase whose last prior click is older than
    * `retentionMs` gets None here and an attribution there. The spec
    * pins both: equality within the window, and the deliberate
    * divergence beyond it.
    */
  def attributionStream(
      events: Dataset[AttrEvent],
      retentionMs: Long = 7L * 24 * 3600 * 1000,
      watermarkDelay: String = "10 minutes"): Dataset[Attribution] = {
    val spark = events.sparkSession
    import spark.implicits._
    val streaming = events.isStreaming
    val withWm =
      if (streaming) events.withWatermark("ts", watermarkDelay) else events
    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    withWm
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, Attribution](
        OutputMode.Append(), timeout) {
        (userId: Long, rows: Iterator[AttrEvent], state: GroupState[AttrState]) =>
          if (state.hasTimedOut) {
            state.remove() // click aged past the attribution window
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var out = List.empty[Attribution]
            var st = state.getOption.orNull
            sorted.foreach { e =>
              // the window check must run at ATTRIBUTION time, not only
              // via the timeout: a purchase can arrive (within the
              // watermark) long after the click aged out, and ongoing
              // per-user activity would otherwise keep re-arming the
              // timeout at wm+1 and never evict the stale click
              if (st != null && e.ts.getTime - st.click_ts > retentionMs)
                st = null
              e.event_type match {
                case "click" =>
                  st = AttrState(e.event_id, e.ts.getTime)
                case "purchase" =>
                  out ::= (st match {
                    case null => Attribution(userId, e.event_id, None, None)
                    case s => Attribution(userId, e.event_id,
                      Some(s.click_id), Some(e.ts.getTime - s.click_ts))
                  })
                case _ => // other event types don't participate
              }
            }
            if (st != null) {
              state.update(st)
              if (streaming) {
                val wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(
                  math.max(st.click_ts + retentionMs, wm + 1))
              }
            } else if (state.exists) {
              state.remove() // expired in-fold: drop instead of re-arming
            }
            out.reverseIterator
          }
      }
  }

  /** Streaming NEAR-dup probe against the standing corpus's persisted
    * winnow sketch store — the streaming form of
    * [[graft.ops.Dedup.incrementalWinnowPairs]]'s cross half, and the
    * actual shape of a production ingest filter: "is this incoming doc
    * a near-dup of anything we already hold?" Each micro-batch sketches
    * its docs, explodes postings, and equi-joins the STATIC standing
    * posting index (a stream-static inner join — stateless, no
    * watermark buffering on the join itself), then verifies candidates
    * with the exact sketch Jaccard. The incoming sketch rides along the
    * posting rows, so verification needs no stream-stream re-join; the
    * only streaming state is the watermark-bounded (doc_id, dup_of)
    * dedup that collapses one candidate row per shared fingerprint to
    * one per pair. Within-batch (new-vs-new) pairs are out of scope
    * here by design — they are the batch compaction's job
    * (incrementalWinnowPairs); a row-at-a-time stream answers the
    * against-the-index question.
    *
    * In batch execution the SAME candidate screen runs without a
    * watermark and the verification switches to the count-based exact
    * Jaccard (optimization round 12, guide §2.3 — the
    * incrementalWinnowPairsCounted algebra): sketches are sorted
    * DISTINCT hash arrays, so the posting join emits exactly one row
    * per shared fingerprint per pair, groupBy(pair).count() is |A∩B|,
    * and J = c/(|A|+|B|−c) divides the same two integers the
    * JaccardSorted kernel divides — bit-identical doubles, and the
    * incoming sketch array stops riding the posting join (it rode
    * every candidate row: measured 37 s of task time at sf0.1 for a 2%
    * batch, array-carrying shuffle + re-join ~90% of the row). The
    * streaming plan keeps the array-rider form: its per-pair state is
    * the watermark-bounded dedup, and a streaming aggregate would trade
    * that bounded state for an unbounded count state. The
    * `dedup_stream_probe` gate proves the batch output equals
    * incrementalWinnowPairs' cross-pair subset exactly, and the spec
    * pins stream-vs-batch equality across micro-batches.
    * Output: (doc_id, dup_of, jaccard) with jaccard ≥ threshold.
    */
  def dedupProbeStream(
      docs: DataFrame,
      standingSketches: DataFrame,
      k: Int = 5,
      w: Int = 4,
      threshold: Double = 0.5,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(threshold > 0.0, "the shared-fingerprint screen needs threshold > 0")
    val sk = docs.select(col("doc_id"), col("ts"),
        graft.functions.TextHashFunctions
          .winnowFingerprint(col("text"), k, w).as("fp"))
      .filter(size(col("fp")) > 0)
    if (!docs.isStreaming) {
      // count-based batch form — sz projected BELOW the explode on both
      // sides (the winnowPairs note: a fused projection makes Generate
      // carry the whole array on every exploded row)
      val probePost = sk.select(col("doc_id"), size(col("fp")).as("sz"), col("fp"))
        .select(col("doc_id"), col("sz"), explode(col("fp")).as("f"))
      // the standing side streams through the broadcast posting join —
      // re-widen an under-parallel store read (no-op at corpus scale)
      val standPost = graft.ops.Dedup
        .spreadWide(standingSketches.select(col("id"), col("fp")), col("id"))
        .select(col("id").as("dup_of"), size(col("fp")).as("sz_s"), col("fp"))
        .select(col("dup_of"), col("sz_s"), explode(col("fp")).as("f"))
      return probePost.join(standPost, Seq("f"))
        .groupBy(col("doc_id"), col("dup_of"), col("sz"), col("sz_s"))
        .agg(count(lit(1)).as("c"))
        .select(col("doc_id"), col("dup_of"),
          (col("c").cast("double") /
            (col("sz").cast("long") + col("sz_s").cast("long") - col("c")))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
    val wm = sk.withWatermark("ts", watermarkDelay)
    val posting = wm.select(col("doc_id"), col("ts"), col("fp"),
      explode(col("fp")).as("f"))
    val standPosting = standingSketches
      .select(col("id").as("dup_of"), explode(col("fp")).as("f"))
    val cands = posting.join(standPosting, Seq("f"))
      .select(col("doc_id"), col("ts"), col("fp"), col("dup_of"))
      .dropDuplicatesWithinWatermark("doc_id", "dup_of")
    cands
      .join(standingSketches.select(col("id").as("dup_of"), col("fp").as("fp_s")),
        Seq("dup_of"))
      .select(col("doc_id"), col("dup_of"),
        graft.functions.TextHashFunctions
          .jaccardSorted(col("fp"), col("fp_s")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Streaming embedding-ingest near-dup probe against the standing IVF
    * posting store — the vector analog of [[dedupProbeStream]], closing
    * the same ingest loop for the `sim_ivf_*` index family: each
    * incoming vector routes to its `nProbe` nearest centroid buckets
    * under the SAME frozen trained quantizer the store was assigned
    * with, stream-static equi-joins on the 4-byte bucket id against the
    * posting relation, and candidate pairs verify with the exact cosine.
    *
    * State shape: the bucket join is stateless (stream-static); the only
    * state is the watermark-bounded (vec_id, dup_of) pair dedup, and the
    * candidate rows carry no vectors through it — the standing vector
    * re-joins AFTER the dedup, and the incoming embedding rides the
    * slim candidate row only until its verify. Recall contract is IVF's:
    * a standing near-duplicate is found iff its home bucket is among the
    * probe's `nProbe` nearest — the same bound as [[graft.ops.Similarity
    * .ivfTopKServe]], which the gate uses as the independent batch
    * comparator.
    */
  def simProbeStream(
      vecs: DataFrame,
      standingPostings: DataFrame,
      centroids: Array[Array[Double]],
      nProbe: Int = 3,
      threshold: Double = 0.8,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.functions.KmeansKernels
    val wm = if (vecs.isStreaming) vecs.withWatermark("ts", watermarkDelay) else vecs
    val probed = wm.select(col("vec_id"), col("ts"), col("embedding"),
      explode(KmeansKernels.topIndices(col("embedding"), centroids, nProbe))
        .as("bucket"))
    val cands0 = probed
      .join(standingPostings.select(col("corpus_id").as("dup_of"), col("bucket")),
        Seq("bucket"))
      .select(col("vec_id"), col("ts"), col("embedding"), col("dup_of"))
    val cands =
      if (vecs.isStreaming) cands0.dropDuplicatesWithinWatermark("vec_id", "dup_of")
      else cands0.dropDuplicates("vec_id", "dup_of")
    cands
      .join(standingPostings.select(col("corpus_id").as("dup_of"), col("cv")),
        Seq("dup_of"))
      .select(col("vec_id"), col("dup_of"),
        graft.functions.VectorFunctions
          .cosineSimilarity(col("embedding"), col("cv")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Streaming exact dedup: first occurrence per content key wins, later
    * duplicates dropped. `dropDuplicatesWithinWatermark` bounds the
    * dedup state by the watermark horizon (an unbounded-state global
    * dropDuplicates is the non-answer at stream scale): duplicates
    * separated by more than the watermark delay may both survive — the
    * standard at-scale trade. Batch callers should use
    * [[graft.ops.Dedup.exact]] (global, deterministic keep).
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Running per-key event count on the `transformWithState` API
    * (Spark 4's arbitrary-state successor to mapGroupsWithState): one
    * `ValueState[Long]` per key, updated per micro-batch, emitting the
    * new total in Update mode. Requires the RocksDB state store
    * provider; state survives across batches and checkpoints like any
    * TWS operator. The spec pins equality with the batch groupBy count
    * after the stream drains.
    */
  class RunningCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), (Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[(Long, String)],
        timerValues: TimerValues): Iterator[(Long, Long)] = {
      val n = (if (count.exists()) count.get() else 0L) + rows.size
      count.update(n)
      Iterator.single((key, n))
    }
  }

  /** Streaming rolling-anomaly flags on the `transformWithState` API —
    * the incremental form of the `ts_anomaly` batch query: per key a
    * `ValueState[Seq[Long]]` ring of the last ≤ 8 values (BOUNDED state
    * whatever the stream length — the deque is the whole point), each
    * event scored against its strictly-prior history with the same
    * all-integer squared test as the batch plan ((n·x − s)² >
    * 4·(n·ss − s²), n ≥ 4). Rows sort by (ts_ms, event_id) within a
    * micro-batch; cross-batch correctness relies on event-time-ordered
    * arrival per key, as with any stateful recurrence. Emits
    * (key, event_id, flag) for scored rows only. The spec pins
    * equivalence with the batch window form across micro-batches.
    *
    * PRECONDITION |v| < 1e8, enforced: the squared test's long products
    * (sm², n·ss, dev²) wrap past ~2^63 once 8-deep histories hold
    * values ≥ ~1e8 and would emit an INVERTED flag silently. The batch
    * ts_anomaly form carries the same bound as its gated `bounds_ok`
    * column and fails loudly; this processor mirrors it by rejecting an
    * out-of-bounds value at ingest (IllegalArgumentException), so the
    * documented batch equivalence cannot silently break on large
    * inputs.
    */
  final case class AnomalyHist(vs: Seq[Long])

  class RollingAnomalyProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Long), (Long, Long, Boolean)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var hist: ValueState[AnomalyHist] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getValueState[AnomalyHist]("hist",
        org.apache.spark.sql.Encoders.product[AnomalyHist], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[(Long, Long, Long, Long)],
        timerValues: TimerValues): Iterator[(Long, Long, Boolean)] = {
      // rows: (user_id, ts_ms, event_id, v) — sort within the batch
      val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
      var h: Vector[Long] =
        (if (hist.exists()) hist.get().vs else Seq.empty).toVector
      val out = Vector.newBuilder[(Long, Long, Boolean)]
      sorted.foreach { case (_, _, eid, v) =>
        // the batch form's bounds_ok guard, mirrored (see scaladoc):
        // beyond |v| ~1e8 the squared test wraps and inverts silently
        require(math.abs(v) < 100000000L,
          s"rolling anomaly requires |v| < 1e8 (got $v for key $key): " +
            "the integer squared test would overflow and flag wrongly")
        val n = h.length.toLong
        if (n >= 4) {
          val sm = h.sum
          val ss = h.map(x => x * x).sum
          val dev = n * v - sm
          out += ((key, eid, dev * dev > 4L * (n * ss - sm * sm)))
        }
        h = (h :+ v).takeRight(8)
      }
      hist.update(AnomalyHist(h))
      out.result().iterator
    }
  }

  /** The static dimension used by [[enrichWithTypeDim]] — in a real
    * pipeline this is a catalog table re-read per micro-batch; here a
    * literal lookup so the oracle can recompute it as a CASE expression.
    */
  def eventTypeDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("click", "engagement", 1L),
      ("view", "engagement", 0L),
      ("purchase", "revenue", 10L),
      ("signup", "growth", 5L),
      ("error", "ops", 0L))
      .toDF("event_type", "category", "weight")
  }

  /** Stream-static join: enrich an (unbounded) event stream against a
    * small static dimension. The static side is broadcast — each
    * micro-batch joins map-side with NO streaming state at all (unlike
    * stream-stream joins there is nothing to watermark: the static side
    * is re-read per batch, the stream side needs no buffering). The
    * identical plan runs in batch, which is the oracle-checked form.
    */
  def enrichWithTypeDim(events: DataFrame): DataFrame = {
    val dim = broadcast(eventTypeDim(events.sparkSession))
    events.join(dim, Seq("event_type"), "left")
      .select(col("event_id"), col("event_type"),
        coalesce(col("category"), lit("unknown")).as("category"),
        coalesce(col("weight"), lit(0L)).as("weight"),
        col("value"))
  }

  /** Incremental ("catch-up") execution: process everything that arrived
    * since the last checkpoint, then stop — `Trigger.AvailableNow` +
    * `foreachBatch`. This is how a nightly 100 TB pipeline re-runs: the
    * checkpoint tracks consumed source offsets/files, each invocation
    * handles only the delta, and `perBatch` receives `(batchDf, batchId)`
    * so the sink can be made idempotent (overwrite-by-partition keyed on
    * batch contents) for exactly-once end-to-end. No bespoke "last
    * processed watermark" bookkeeping tables.
    */
  def runIncremental(
      stream: DataFrame,
      checkpoint: String)(
      perBatch: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(perBatch)
      .start()
    q.awaitTermination()
  }

  /** Streaming VECTOR-STORE UPKEEP — the missing half of the IVF ingest
    * loop ([[simProbeStream]] probes the standing store; this GROWS it):
    * each micro-batch of accepted vectors is assigned under the frozen
    * trained quantizer (a per-row pure function — order- and
    * partitioning-independent) and upserted into the delta posting
    * store via [[graft.ops.ModelStore.upsertIvfPostings]], whose
    * per-batch dynamic-partition overwrite makes the sink idempotent
    * under retries (exactly-once end-to-end with the checkpointed
    * source). Because assignment is pure, base ∪ delta is
    * bit-identical to assigning the grown corpus from scratch — the
    * `sim_ivf_stream_update` gate asserts that set equality AND
    * identical serving output.
    */
  def ivfUpsertStream(
      vecs: DataFrame,
      centroids: Array[Array[Double]],
      deltaPath: String,
      checkpoint: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    runIncremental(vecs, checkpoint) { (batch, batchId) =>
      graft.ops.ModelStore.upsertIvfPostings(
        graft.ops.Similarity.ivfAssign(batch, idCol, vecCol, centroids),
        deltaPath, batchId)
    }

  /** Open a streaming read of an events parquet path with the same
    * schema as the batch table. The testdata ships single-file parquet;
    * FileStreamSource needs `basePath` to be the enclosing directory in
    * that case (a real deployment points at a directory of files and
    * ingests new arrivals incrementally).
    */
  def readStream(spark: SparkSession, sfDir: String): DataFrame =
    readTableStream(spark, sfDir, "events")

  /** [[readStream]] generalized to any testdata parquet table. */
  def readTableStream(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    val schema = spark.read.parquet(path).schema
    // FileStreamSource force-sets basePath to the source path unless it
    // is a glob, and basePath must be a directory — glob-ify the first
    // char so single-FILE parquet (the testdata shape) streams too
    val streamPath =
      if (new java.io.File(path).isFile)
        s"$sfDir/[${table.head}]${table.tail}.parquet"
      else path
    spark.readStream.schema(schema).parquet(streamPath)
  }
}
