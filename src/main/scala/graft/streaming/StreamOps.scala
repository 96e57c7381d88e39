package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/**
 * Structured Streaming operators over the events stream (readStream →
 * transform → writeStream). The crawl engine itself is the iterative
 * micro-batch workload (SURVEY.md §2.8 St1); these are the continuous
 * counterparts a live ingestion pipeline needs: watermarked event-time
 * windows with late-data handling, and custom per-key state via
 * flatMapGroupsWithState (sessionization).
 */
object StreamOps {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
  final case class SessionOut(user_id: Long, n_events: Int, start: Timestamp, end: Timestamp)
  final case class SessionState(n: Int, start: Long, last: Long)

  /** Full-precision Timestamp → microseconds. `Timestamp.getTime` alone is
    * MILLISECOND-truncated — on parquet µs data the sub-ms digits vanish
    * and gap/as-of comparisons diverge from the exact-µs batch operators
    * (caught by the stream_sessions driver-gate row). */
  private[streaming] def tsUs(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private[streaming] def usTs(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Tumbling event-time windows with a watermark: late events beyond
    * `lateness` are dropped; emits per (window, event_type) counts/sums. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour", lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Batch-equivalent of `windowedCounts` (the verification oracle:
    * date_trunc-based so it is SQL-expressible in DuckDB too). */
  def windowedCountsBatch(events: DataFrame): DataFrame =
    events.groupBy(date_trunc("hour", col("ts")).as("window_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))

  /** Gap-based sessionization with custom state: a session closes after
    * `gapMinutes` of event-time inactivity (processing-time timeout drives
    * emission; state is the running event count + bounds). */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[SessionOut] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[SessionOut]
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, evs, state: GroupState[SessionState]) =>
          val gapUs = gapMinutes * 60000000L
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.n, usTs(s.start), usTs(s.last)))
          } else {
            val sorted = evs.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = tsUs(e.ts)
              cur match {
                case Some(s) if t - s.last <= gapUs =>
                  cur = Some(SessionState(s.n + 1, s.start, math.max(s.last, t)))
                case Some(s) =>
                  closed ::= SessionOut(userId, s.n, usTs(s.start), usTs(s.last))
                  cur = Some(SessionState(1, t, t))
                case None =>
                  cur = Some(SessionState(1, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout API is ms: CEIL so the flush never fires before the
              // exact-µs gap has elapsed (an early ms-truncated timeout
              // could close a session a same-batch-late event continues)
              state.setTimeoutTimestamp(math.floorDiv(s.last + gapUs + 999L, 1000L))
            }
            closed.reverseIterator
          }
      }
  }

  /**
   * Batch twin of `sessionize` — classic gaps-and-islands: a session is a
   * maximal run of a user's events with inter-event gap ≤ gapMinutes.
   * Arithmetic is integer microseconds end to end (unix_micros), so the
   * DuckDB oracle (epoch_us) lands on identical sessions with zero float
   * risk. One hash shuffle on user_id: both window passes and the final
   * aggregate reuse the same partitioning (subset clustering).
   */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      // cast: parquet NTZ timestamps → LTZ for unix_micros. Correct under
      // any FIXED-OFFSET session timezone (every repo entry point pins
      // UTC): the interpretation shift is constant, and gaps are shift-
      // invariant. A DST session zone would bend gaps at transition
      // instants for NTZ inputs — pin the session to UTC in that case.
      .withColumn("tus", unix_micros(col("ts").cast("timestamp")))
      .withColumn("prev", lag(col("tus"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1).otherwise(0))
      .withColumn("sid",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")
  }

  // ---- streaming ingestion dedup + quality gate -------------------------------

  /**
   * Continuous training-data ingestion: the streaming composition of the
   * batch pipeline (quality gate → exact content dedup). Stateless quality
   * scoring + token counting run per row; duplicates are suppressed by
   * content hash via `dropDuplicatesWithinWatermark` — exactly-once per
   * content WITHIN the watermark horizon, with state EVICTED as the
   * watermark advances (bounded state at 10^10-doc streams; a re-dup
   * arriving after eviction re-emits, the documented tradeoff of bounded
   * streaming dedup — the batch `Dedup.exact` pass is the terminal
   * authority). Input: streaming frame with (idCol, ts, textCol).
   * Output: (idCol, ts, content_hash, n_tokens, quality_score) of
   * first-seen, quality-passing docs.
   */
  def ingestDedupStream(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                        minQuality: Double = 0.3, lateness: String = "1 hour"): DataFrame = {
    val qualityUdf = udf((s: String) => graft.textkit.TextKit.quality(Option(s).getOrElse("")))
    docs
      .withWatermark("ts", lateness)
      .withColumn("q", qualityUdf(col(textCol)))
      .withColumn("quality_score", col("q.score"))
      .withColumn("n_tokens", col("q.nTokens"))
      .filter(col("quality_score") >= minQuality)
      .withColumn("content_hash", md5(col(textCol)))
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col(idCol), col("ts"), col("content_hash"), col("n_tokens"), col("quality_score"))
  }

  /**
   * STREAMING minhash near-dup pairs — the continuous counterpart of
   * `Dedup.minhashLshPairs`: signatures are computed per row (stateless),
   * rows are keyed by LSH (band, band_hash) bucket, and per-bucket custom
   * state (`flatMapGroupsWithState`) holds the bucket's previously seen
   * (id, signature) members. A new arrival emits a verified pair against
   * each stored member with estimated Jaccard ≥ threshold — so a near-dup
   * of something seen in an EARLIER micro-batch is caught the moment it
   * arrives. Bounded state: each bucket keeps at most `maxBucket` members
   * (FIFO eviction — same cap the batch operator applies, so a degenerate
   * boilerplate bucket cannot grow without bound); a pair sharing several
   * buckets is emitted once per bucket, so consumers dedupe on
   * (id_a, id_b) — exactly what the batch operator's `distinct` does.
   *
   * `stateTtl` (e.g. "1 hour") bounds the number of state KEYS, which
   * otherwise grows with the count of distinct buckets for the stream's
   * lifetime: a bucket idle for the TTL is evicted wholesale, so a
   * near-dup of a doc last seen before the horizon is missed — the same
   * bounded-state tradeoff ingestDedupStream documents, with the batch
   * operator as the terminal authority. None (the default) keeps the
   * exact unbounded-state behavior. TWO eviction clocks:
   *
   *  - `tsCol` defined: EVENT-TIME TTL — a bucket is evicted when the
   *    watermark (tsCol, `lateness`) passes its last arrival + TTL.
   *    Deterministic (replays identically, testable without wall-clock
   *    sleeps) — prefer this whenever the stream has an event time.
   *  - `tsCol` None: processing-time TTL (idle wall-clock). Operational
   *    note: Spark then schedules CONTINUOUS empty micro-batches to
   *    evaluate expirations (measured: thousands of epochs/minute under
   *    the default trigger) — pair with an explicit
   *    Trigger.ProcessingTime interval to pace them.
   */
  final case class DocSig(id: Long, sig: Seq[Long])
  final case class BucketState(docs: Seq[DocSig])
  final case class StreamPair(id_a: Long, id_b: Long, est_jaccard: Double)

  /** "N second(s)|minute(s)|hour(s)|day(s)" → milliseconds. */
  private[streaming] def durationMs(s: String): Long = {
    val p = """(\d+)\s*(millisecond|second|minute|hour|day)s?""".r
    s.trim.toLowerCase match {
      case p(n, u) => n.toLong * (u match {
        case "millisecond" => 1L
        case "second" => 1000L
        case "minute" => 60000L
        case "hour" => 3600000L
        case "day" => 86400000L
      })
      case _ => throw new IllegalArgumentException(s"cannot parse duration '$s'")
    }
  }

  def minhashPairsStream(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                         k: Int = 3, numPerms: Int = 64, bands: Int = 16,
                         threshold: Double = 0.5, maxBucket: Int = 64,
                         stateTtl: Option[String] = None,
                         tsCol: Option[String] = None,
                         lateness: String = "10 minutes"): Dataset[StreamPair] = {
    import docs.sparkSession.implicits._
    implicit val stateEnc = Encoders.product[BucketState]
    implicit val outEnc = Encoders.product[StreamPair]
    val eventTime = stateTtl.isDefined && tsCol.isDefined
    val ttlMs = stateTtl.map(durationMs)
    val sigUdf = udf { (text: String) =>
      graft.textkit.TextKit.minhash(
        graft.textkit.TextKit.shingleHashes(Option(text).getOrElse(""), k), numPerms)
    }
    val bandsUdf = udf { (sig: Seq[Long]) =>
      graft.textkit.TextKit.lshBands(sig.toArray, bands).zipWithIndex
        .map { case (h, i) => (i, h) }
    }
    val ts = tsCol.map(c => col(c).cast("timestamp")).getOrElse(lit(0L).cast("timestamp"))
    val base0 = docs.select(col(idCol).as("id"), col(textCol).as("t"), ts.as("ts"))
    val base = if (eventTime) base0.withWatermark("ts", lateness) else base0
    base
      .select(col("id"), sigUdf(col("t")).as("sig"), col("ts"))
      .select(col("id"), col("sig"), explode(bandsUdf(col("sig"))).as("b"), col("ts"))
      .select(col("id"), col("sig"), col("b._1").as("band_idx"), col("b._2").as("band_hash"), col("ts"))
      .as[(Long, Seq[Long], Int, Long, java.sql.Timestamp)]
      .groupByKey { case (_, _, bandIdx, bandHash, _) => (bandIdx, bandHash) }
      .flatMapGroupsWithState[BucketState, StreamPair](
        OutputMode.Append(),
        if (eventTime) GroupStateTimeout.EventTimeTimeout()
        else if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var members = state.getOption.map(_.docs).getOrElse(Seq.empty)
            val out = Vector.newBuilder[StreamPair]
            var maxTsMs = Long.MinValue
            rows.foreach { case (id, sig, _, _, t) =>
              if (t != null && t.getTime > maxTsMs) maxTsMs = t.getTime
              if (!members.exists(_.id == id)) {
                members.foreach { m =>
                  val est = graft.textkit.TextKit.minhashSimilarity(m.sig.toArray, sig.toArray)
                  if (est >= threshold)
                    out += StreamPair(math.min(m.id, id), math.max(m.id, id), est)
                }
                members = (members :+ DocSig(id, sig)).takeRight(maxBucket)
              }
            }
            state.update(BucketState(members))
            if (eventTime) {
              // evict when the watermark passes last-arrival + TTL; a
              // deadline the watermark already passed means the bucket is
              // born-expired — drop it now (setTimeoutTimestamp would throw).
              // All-null timestamps (maxTsMs unset) keep the previous
              // deadline, if any.
              if (maxTsMs != Long.MinValue) {
                val deadline = maxTsMs + ttlMs.get
                if (deadline > state.getCurrentWatermarkMs()) state.setTimeoutTimestamp(deadline)
                else state.remove()
              }
            } else stateTtl.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  // ---- streaming as-of join ---------------------------------------------------

  final case class AsofEvent(key: Long, ts: Timestamp, is_left: Boolean, id: Long, value: Double)
  final case class AsofOut(key: Long, left_id: Long, left_ts: Timestamp,
                           right_id: Option[Long], right_ts: Option[Timestamp],
                           right_value: Option[Double])
  final case class AsofState(lefts: Seq[(Long, Long)], rights: Seq[(Long, Long, Double)])

  /**
   * STREAMING counterpart of `AsofJoin.asofJoin` — continuous temporal
   * enrichment: every left event is matched to the latest right event of
   * the same key with right.ts ≤ left.ts (inclusive; left-outer nulls when
   * no prior right exists), exactly the batch operator's semantics. Both
   * sides arrive as ONE tagged stream (the streaming analogue of the batch
   * union trick), keyed by `key`, with custom state per key:
   *
   *  - a left is held until the WATERMARK passes it strictly — only then
   *    can no matching right (right.ts ≤ left.ts) still arrive — and is
   *    emitted with the best right at that point (max (ts, id, value),
   *    the batch tie-break for the same carried columns);
   *  - rights strictly below the watermark compact to the single best one
   *    (every future left has ts ≥ watermark, so only the max matters) —
   *    per-key state is therefore bounded by the in-flight window, plus
   *    ONE compacted right that persists so an arbitrarily late-keyed
   *    left still finds its match (as-of semantics; key count bounds it);
   *  - an event-time timeout re-fires the key when the watermark passes
   *    its oldest pending left, so emission never waits for new data.
   *
   * Tested for exact set equality against the batch operator under
   * unique-(key, ts) rights — the same determinism contract the batch
   * operator documents.
   */
  def asofJoinStream(events: Dataset[AsofEvent], lateness: String = "30 minutes"): Dataset[AsofOut] = {
    implicit val stateEnc = Encoders.product[AsofState]
    implicit val outEnc = Encoders.product[AsofOut]
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[AsofState]) =>
          val st0 = state.getOption.getOrElse(AsofState(Nil, Nil))
          // linear accumulation (repeated Seq :+ on the default List is
          // O(n) per append — quadratic for bursty keys)
          val leftsB = scala.collection.mutable.ArrayBuffer.from(st0.lefts)
          val rightsB = scala.collection.mutable.ArrayBuffer.from(st0.rights)
          if (!state.hasTimedOut) rows.foreach { e =>
            if (e.is_left) leftsB += ((tsUs(e.ts), e.id))
            else rightsB += ((tsUs(e.ts), e.id, e.value))
          }
          // state timestamps are exact µs (the batch operator's precision);
          // the ms watermark is scaled up for comparisons
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // strict: while wm == left.ts a right AT that instant may still arrive
          val (ready, pending) = leftsB.toSeq.partition(_._1 < wmUs)
          val rights = rightsB.toSeq
          val out = ready.sorted.map { case (lts, lid) =>
            val m = rights.filter(_._1 <= lts)
            if (m.isEmpty) AsofOut(key, lid, usTs(lts), None, None, None)
            else {
              val best = m.max
              AsofOut(key, lid, usTs(lts),
                Some(best._2), Some(usTs(best._1)), Some(best._3))
            }
          }
          val (oldR, liveR) = rights.partition(_._1 < wmUs)
          val keptR = (if (oldR.nonEmpty) Seq(oldR.max) else Nil) ++ liveR
          if (pending.isEmpty && keptR.isEmpty) state.remove()
          else {
            state.update(AsofState(pending, keptR))
            // wake when the watermark passes the oldest pending left OR the
            // oldest still-live right: without the latter, an idle key's
            // rights would never compact and state would hold every
            // in-window right forever instead of the documented single
            // compacted candidate
            val wake = (pending.map(_._1) ++ liveR.map(_._1)).minOption
            // µs → ms timeout: floor(w/1000) fires exactly when the ms
            // watermark first exceeds w in µs terms; clamp above the
            // current watermark (the timeout API rejects the past)
            wake.foreach(w => state.setTimeoutTimestamp(
              math.max(math.floorDiv(w, 1000L), state.getCurrentWatermarkMs() + 1)))
          }
          out.iterator
      }
  }

  // ---- live crawl monitoring ------------------------------------------------

  /** Schema of the engine's committed result increments (CrawlEngine
    * StepOut minus candidates/depth + the robots-denied rows). */
  val resultSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "seed string, url string, result_type string, status int, body string, " +
        "location string, content_type string, error string, " +
        "internal_links array<string>, external_links array<string>")

  // ---- streaming duplicated-window detection ---------------------------------

  final case class DupWindow(doc_id: Long, pos: Int)
  final case class WinSeen(first_id: Long, first_pos: Int, emitted: Boolean)

  /**
   * STREAMING counterpart of `Dedup.duplicatedSpans`' detection stage:
   * emits every position whose L-token window occurs ≥2 times corpus-wide
   * — INCLUDING the retroactive first occurrence, emitted the moment its
   * second occurrence arrives (possibly many micro-batches later). A
   * doc's maximal spans are the islands of its emitted positions (the
   * same merge the batch operator applies); in a stream those spans can
   * only GROW as later docs duplicate more of an old doc, so the island
   * merge belongs on the consumer's read side — append mode cannot
   * retract an emitted span to widen it, but emitted positions are never
   * invalidated (duplicated-ness is monotone).
   *
   * Input contract (same as the batch operator): doc ids are unique — a
   * re-delivered (id, pos) occurrence is at-least-once source replay, not
   * a second corpus occurrence, so it never flips a window to duplicated
   * (a replayed stored-first is ignored; other replays re-emit an
   * already-emitted tuple). Emission is therefore SET-idempotent under
   * replay, keeping the emitted set equal to the batch operator's over
   * the once-per-doc logical corpus.
   *
   * State: one entry per DISTINCT window seen (first occurrence + emitted
   * flag). Keyed by the window TEXT here for exactness at test scale; the
   * production keying is the batch operator's 128-bit hash — identical
   * state shape at ~24 bytes per distinct window. `stateTtl` (e.g.
   * "1 hour") bounds the key space: a window not seen again within the
   * TTL is evicted, so only duplicates whose occurrences fall within the
   * horizon are caught — bounded-state mode for open-ended streams; None
   * keeps the exact default. Same two eviction clocks as
   * `minhashPairsStream`: with `tsCol` the TTL rides the event-time
   * watermark (deterministic, replayable); without it, processing time.
   */
  def substringDupWindowsStream(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                                minLen: Int = 10,
                                stateTtl: Option[String] = None,
                                tsCol: Option[String] = None,
                                lateness: String = "10 minutes"): Dataset[DupWindow] = {
    require(minLen >= 2, "minLen must be >= 2")
    import docs.sparkSession.implicits._
    implicit val stateEnc = Encoders.product[WinSeen]
    implicit val outEnc = Encoders.product[DupWindow]
    val eventTime = stateTtl.isDefined && tsCol.isDefined
    val ttlMs = stateTtl.map(durationMs)
    val winsUdf = udf { (text: String) =>
      val tk = graft.textkit.TextKit.wsTokens(Option(text).getOrElse(""))
      if (tk.length < minLen) Array.empty[String]
      else Array.tabulate(tk.length - minLen + 1)(i => tk.slice(i, i + minLen).mkString(" "))
    }
    val ts = tsCol.map(c => col(c).cast("timestamp")).getOrElse(lit(0L).cast("timestamp"))
    val base0 = docs.select(col(idCol).as("id"), col(textCol).as("t"), ts.as("ts"))
    val base = if (eventTime) base0.withWatermark("ts", lateness) else base0
    base
      .select(col("id"), posexplode(winsUdf(col("t"))), col("ts"))
      .toDF("id", "pos", "win", "ts")
      .as[(Long, Int, String, java.sql.Timestamp)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[WinSeen, DupWindow](
        OutputMode.Append(),
        if (eventTime) GroupStateTimeout.EventTimeTimeout()
        else if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[WinSeen]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = Vector.newBuilder[DupWindow]
            var st = state.getOption
            var maxTsMs = Long.MinValue
            rows.foreach { case (id, pos, _, t) =>
              if (t != null && t.getTime > maxTsMs) maxTsMs = t.getTime
              st match {
                case None => st = Some(WinSeen(id, pos, emitted = false))
                case Some(s) =>
                  // a replayed (id,pos) identical to the stored first is not
                  // a second occurrence; anything else is
                  if (!(s.first_id == id && s.first_pos == pos)) {
                    if (!s.emitted) {
                      out += DupWindow(s.first_id, s.first_pos)
                      st = Some(s.copy(emitted = true))
                    }
                    out += DupWindow(id, pos)
                  }
              }
            }
            st.foreach(state.update)
            if (eventTime) {
              // same born-expired guard as minhashPairsStream: a deadline
              // the watermark already passed must drop, not throw
              if (maxTsMs != Long.MinValue) {
                val deadline = maxTsMs + ttlMs.get
                if (deadline > state.getCurrentWatermarkMs()) state.setTimeoutTimestamp(deadline)
                else state.remove()
              }
            } else stateTtl.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
  }

  /**
   * Streaming inverted-index maintenance: running per-term corpus
   * frequencies over a document stream — the live counterpart of
   * `Search.termStats`'s cf column (df needs per-(term, doc) dedup, a
   * second stateful level; a streaming query keeps ONE stateful
   * aggregation, so the live index serves cf and the periodic batch
   * `Search.termStats` refresh remains the df authority). State is one
   * long per distinct term (vocabulary-bounded, NOT corpus-bounded —
   * ~65k rows however many docs stream through); Spark's streaming agg
   * applies map-side partial counts per micro-batch, so each trigger
   * shuffles at most |vocabulary| rows. Run with complete or update
   * output mode. Input: a streaming frame with `textCol`; output
   * (term, cf).
   */
  def termCountsStream(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .filter(length(trim(coalesce(col(textCol), lit("")))) > 0)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("term"))
      .filter(col("term") =!= "") // trim strips only ' '; \n-led text
      .groupBy("term")            // splits to a leading "" non-term
      .agg(count(lit(1)).as("cf"))

  /** Tail a (possibly still-running) crawl checkpoint as a STREAM: each
    * committed round's results_inc parquet files (either checkpoint layout,
    * see `TableIO.roundFilesGlob`) arrive as new stream input, so a live
    * dashboard aggregates crawl progress without touching the engine. Returns per (seed, result_type) running counts; pair with
    * Trigger.AvailableNow for catch-up reads or the default trigger for a
    * continuous tail. Part files appear atomically (rename on commit), so
    * rows are never torn — but the engine writes data BEFORE the round
    * manifest, so a crash in that window can surface a round the resumed
    * job rewrites; a monitoring consumer tolerates that transient
    * over-count (the durable source of truth is the manifest chain, which
    * CrawlApi.status reads).
    */
  def crawlResultsStream(spark: org.apache.spark.sql.SparkSession, checkpointDir: String): DataFrame =
    spark.readStream
      .schema(resultSchema)
      .parquet(graft.sources.TableIO.roundFilesGlob(checkpointDir, "results_inc"))
      .groupBy(col("seed"), col("result_type"))
      .agg(count(lit(1)).as("n"))
}
