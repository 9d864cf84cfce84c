package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming surface: the reference is strictly batch (its
  * chunked iterator is bounded-memory batch execution, SURVEY.md §2.8), but
  * its folder driver (ST3) is naturally a file-source stream, and a
  * production deployment of this engine ingests events continuously. These
  * operators run identically under `readStream` and `read`.
  */
object StreamingOps {

  /** Event-time windowed aggregation with a watermark: per (window,
    * event_type) counts and sums. `tsNanos` is the long-nanos ts column. */
  def windowedEventAgg(events: DataFrame, window: String = "5 minutes",
                       watermark: String = "10 minutes"): DataFrame =
    graft.model.Frames.normalizeTsNanos(events)
      .withColumn("event_time", timestamp_micros((col("ts") / 1000).cast("long")))
      .withWatermark("event_time", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  final case class ChannelState(n: Long, mean: Double, m2: Double)
  final case class ChannelEvent(channel: Int, value: Double)
  final case class ChannelStats(channel: Int, n: Long, mean: Double, std: Double)

  /** Custom streaming state: running per-channel Welford mean/std via
    * mapGroupsWithState — the streaming twin of the baseline z-score stats
    * (A3). Emits updated stats per channel per micro-batch. */
  def runningChannelStats(events: Dataset[ChannelEvent]): Dataset[ChannelStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.channel)
      .mapGroupsWithState[ChannelState, ChannelStats](GroupStateTimeout.NoTimeout) {
        (channel, rows, state: GroupState[ChannelState]) =>
          var s = state.getOption.getOrElse(ChannelState(0L, 0.0, 0.0))
          for (r <- rows) {
            val n1 = s.n + 1
            val d = r.value - s.mean
            val mean1 = s.mean + d / n1
            val m21 = s.m2 + d * (r.value - mean1)
            s = ChannelState(n1, mean1, m21)
          }
          state.update(s)
          ChannelStats(channel, s.n, s.mean,
            if (s.n > 0) math.sqrt(s.m2 / s.n) else 0.0)
      }
  }

  final case class DocHashEvent(content_hash: String, doc_id: Long)
  final case class DedupState(n_copies: Long, keeper: Long)
  final case class DedupUpdate(content_hash: String, n_copies: Long, keeper: Long)

  /** Streaming exact-dedup state: per content hash, a running copy count and
    * min-id keeper via mapGroupsWithState — dedup against an ever-growing
    * corpus without re-scanning it (the streaming twin of
    * `TextOps.exactDupGroups`). count/min are commutative-associative, so
    * each hash's LAST emitted update equals the batch aggregate no matter
    * how the engine slices micro-batches; state is ~24 bytes per distinct
    * document and shards with state-store partitions at cluster scale. */
  def runningDedup(docs: Dataset[DocHashEvent]): Dataset[DedupUpdate] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.content_hash)
      .mapGroupsWithState[DedupState, DedupUpdate](GroupStateTimeout.NoTimeout) {
        (hash, rows, state: GroupState[DedupState]) =>
          var s = state.getOption.getOrElse(DedupState(0L, Long.MaxValue))
          for (r <- rows) {
            s = DedupState(s.n_copies + 1, math.min(s.keeper, r.doc_id))
          }
          state.update(s)
          DedupUpdate(hash, s.n_copies, s.keeper)
      }
  }

  /** [[runningDedup]]'s per-hash fold as a `StatefulProcessor` — the
    * Spark 4 `transformWithState` form (explicit named state through a
    * handle, TTL support, timers; the public successor to
    * mapGroupsWithState). The API executes ONLY on the RocksDB state
    * store, so runs must be wrapped in [[withRocksDbState]]. A non-null
    * `ttl` bounds each hash's state lifetime in PROCESSING time: a hash
    * unseen for longer than the TTL is forgotten and its count restarts —
    * the retention-window dedup that keeps corpus-lifetime state bounded
    * at 100 TB (requires `TimeMode.ProcessingTime`). */
  final class DedupProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[String, DocHashEvent, DedupUpdate] {
    def this() = this(null)
    @transient private var state: ValueState[DedupState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[DedupState]("dedup",
        Encoders.product[DedupState],
        if (ttl == null) TTLConfig.NONE else TTLConfig(ttl))
    override def handleInputRows(key: String, rows: Iterator[DocHashEvent],
                                 timers: TimerValues): Iterator[DedupUpdate] = {
      var s = if (state.exists()) state.get()
              else DedupState(0L, Long.MaxValue)
      for (r <- rows) s = DedupState(s.n_copies + 1, math.min(s.keeper, r.doc_id))
      state.update(s)
      Iterator.single(DedupUpdate(key, s.n_copies, s.keeper))
    }
  }

  /** [[runningDedup]] re-expressed on `transformWithState`: same
    * commutative (count, min-keeper) fold, so each hash's last update
    * equals the batch aggregate under any micro-batch slicing — certified
    * equal to the mapGroupsWithState tier AND to the batch oracle (q344).
    * With `ttl` set, state becomes retention-bounded (see
    * [[DedupProcessor]]; certified by the two-run expiry spec).
    * Requires the RocksDB provider. */
  def runningDedupTws(docs: Dataset[DocHashEvent],
                      ttl: Option[java.time.Duration] = None): Dataset[DedupUpdate] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.content_hash)
      .transformWithState(new DedupProcessor(ttl.orNull),
        if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Update())
  }

  final case class LangEvent(source: String, lang: String)
  final case class LangCount(source: String, lang: String, n: Long)

  /** Per-source language histogram as a `StatefulProcessor` with MAP
    * state — the state family [[DedupProcessor]]'s ValueState can't
    * express: one sub-keyed counter per (source, lang), read-modify-write
    * per arrival without deserializing the whole histogram (MapState
    * stores each user key as its OWN state-store entry — with N langs per
    * source, a batch touching one lang rewrites ~1/N of the state a
    * ValueState[Map] would). Counts are commutative, so the last update
    * per (source, lang) equals the batch census under any micro-batch
    * slicing. RocksDB-only, like all transformWithState. */
  final class LangHistProcessor
      extends StatefulProcessor[String, LangEvent, LangCount] {
    @transient private var hist: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[String, Long]("hist",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[LangEvent],
                                 timers: TimerValues): Iterator[LangCount] = {
      val touched = scala.collection.mutable.LinkedHashSet.empty[String]
      rows.foreach { r =>
        val cur = if (hist.containsKey(r.lang)) hist.getValue(r.lang) else 0L
        hist.updateValue(r.lang, cur + 1L)
        touched += r.lang
      }
      touched.iterator.map(l => LangCount(key, l, hist.getValue(l)))
    }
  }

  /** [[LangHistProcessor]] wired: running per-(source, lang) census with
    * per-sub-key map state. Requires the RocksDB provider
    * ([[withRocksDbState]]). */
  def runningLangHistTws(events: Dataset[LangEvent]): Dataset[LangCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.source)
      .transformWithState(new LangHistProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** [[runningCappedSessions]]' fold as a `StatefulProcessor` with LIST
    * state: arrivals APPEND to the per-user ListState (an O(batch) state
    * write — the GroupState form rewrites the whole sorted history every
    * batch, O(total)), and the gap+ceiling fold re-runs over the sorted
    * union, so out-of-order arrivals still re-split session boundaries and
    * the final update per user equals the batch fold. RocksDB-only. */
  final class CappedSessionProcessor(gapNs: Long, capNs: Long)
      extends StatefulProcessor[Long, SessEvent, SessUpdate] {
    @transient private var hist: org.apache.spark.sql.streaming.ListState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getListState[(Long, Long)]("ts",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[SessEvent],
                                 timers: TimerValues): Iterator[SessUpdate] = {
      rows.foreach(r => hist.appendValue((r.tn, r.event_id)))
      val merged = hist.get().toSeq.sortBy(identity)
      var nSess = 0L; var start = 0L; var last = 0L
      var cur = 0L; var mx = 0L; var nCap = 0L
      merged.foreach { case (y, _) =>
        if (cur == 0L) {
          nSess = 1L; start = y; last = y; cur = 1L; mx = 1L
        } else if (y - last > gapNs || y - start > capNs) {
          if (y - last <= gapNs) nCap += 1L
          nSess += 1L; start = y; last = y; cur = 1L
        } else {
          cur += 1L; mx = math.max(mx, cur); last = y
        }
      }
      Iterator.single(SessUpdate(user, merged.size.toLong, nSess, nCap, mx))
    }
  }

  /** [[CappedSessionProcessor]] wired: same function as
    * [[runningCappedSessions]] (certified against the same batch oracle),
    * different state engine. Requires the RocksDB provider. */
  def runningCappedSessionsTws(events: Dataset[SessEvent], gapNs: Long,
                               capNs: Long): Dataset[SessUpdate] = {
    import events.sparkSession.implicits._
    require(gapNs > 0 && capNs > 0, s"need positive gap/cap (got $gapNs, $capNs)")
    events.groupByKey(_.user_id)
      .transformWithState(new CappedSessionProcessor(gapNs, capNs),
        TimeMode.None(), OutputMode.Update())
  }

  final case class BandBucketEvent(band_idx: Int, bucket: String, doc_id: Long)
  final case class BucketState(n_docs: Long, min_doc: Long)
  final case class BucketUpdate(band_idx: Int, bucket: String, n_docs: Long, min_doc: Long)

  /** Streaming MinHash near-dup state: per LSH (band, bucket), a running
    * member count and min-id representative via mapGroupsWithState — the
    * stateful twin of `TextOps.minhashCandidates`' bucket aggregation,
    * deduplicating a stream against every document EVER seen without
    * re-scanning the corpus. count/min are commutative-associative, so each
    * bucket's LAST emitted update equals the batch aggregate for any
    * micro-batch slicing. State is ~28 bytes per distinct (band, bucket) —
    * bounded by corpus band-bucket cardinality, sharded by state-store
    * partitions; a hot bucket (boilerplate cluster) costs the SAME state as
    * a cold one because only (count, min) is kept, never member lists. */
  def runningBandBuckets(events: Dataset[BandBucketEvent]): Dataset[BucketUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.band_idx, e.bucket))
      .mapGroupsWithState[BucketState, BucketUpdate](GroupStateTimeout.NoTimeout) {
        (key, rows, state: GroupState[BucketState]) =>
          var s = state.getOption.getOrElse(BucketState(0L, Long.MaxValue))
          for (r <- rows) s = BucketState(s.n_docs + 1, math.min(s.min_doc, r.doc_id))
          state.update(s)
          BucketUpdate(key._1, key._2, s.n_docs, s.min_doc)
      }
  }

  final case class PairEvent(band_idx: Int, bucket: String, doc_id: Long, seq: Long)
  final case class PairEmit(doc_a: Long, doc_b: Long, band_idx: Int)

  /** Streaming near-dup PAIR emission against every document ever seen —
    * the streaming twin of `TextOps.minhashCandidatesIncremental`, where
    * the "corpus at rest" is the state store itself: per LSH (band,
    * bucket), a ListState holds the bucket's first `maxBucketSize` DISTINCT
    * members in arrival order; a new doc arriving while the bucket has
    * live capacity emits a pair against each stored member, then joins
    * the list (re-deliveries are per-bucket no-ops — idempotent under
    * at-least-once ingest). The emitted pair set is exactly {arrival
    * ranks i < j within a bucket, j <= cap} — all pairs among each
    * bucket's first cap distinct arrivals — so the cap contract is
    * ARRIVAL-ORDERED (deterministic given the `seq` order; rows sort by
    * (seq, doc_id) within a batch, so the set is independent of
    * micro-batch slicing and replayable by a row_number() rank oracle).
    * State per bucket is bounded at cap ids no matter how hot the bucket
    * gets: a 10k-doc boilerplate flood costs cap longs of state and
    * cap·(cap−1)/2 pairs TOTAL, never O(flood²) — the streaming form of
    * the batch operator's bucket-drop cap, trading "drop the whole hot
    * bucket" for "keep its first cap arrivals", which is what an ingest
    * pipeline wants (early members were already deduped downstream when
    * the bucket was still cold). With a TTL, expired members free their
    * slots and matching follows the rolling retention window.
    * RocksDB-only, like all transformWithState. */
  final class NearDupPairProcessor(maxBucketSize: Int, ttl: java.time.Duration)
      extends StatefulProcessor[(Int, String), PairEvent, PairEmit] {
    def this(maxBucketSize: Int) = this(maxBucketSize, null)
    @transient private var members: org.apache.spark.sql.streaming.ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[Long]("members", Encoders.scalaLong,
        if (ttl == null) TTLConfig.NONE else TTLConfig(ttl))
    override def handleInputRows(key: (Int, String), rows: Iterator[PairEvent],
                                 timers: TimerValues): Iterator[PairEmit] = {
      // one ListState read per (bucket, batch); appends tracked locally so
      // intra-batch arrivals pair against each other too. Capacity is the
      // LIVE membership: without TTL that is "the first cap arrivals";
      // with TTL, expired members free their slots, so matching follows a
      // rolling retention window
      val stored = scala.collection.mutable.ArrayBuffer.empty[Long]
      members.get().foreach(stored += _)
      val out = scala.collection.mutable.ArrayBuffer.empty[PairEmit]
      // doc_id tiebreak keeps caller-duplicated seqs deterministic
      rows.toArray.sortBy(r => (r.seq, r.doc_id)).foreach { r =>
        // a re-delivery of a doc already in the bucket is a no-op (no
        // self-pair, no duplicate member, no slot consumed) — per-bucket
        // idempotence, the at-least-once-ingest contract
        if (stored.length < maxBucketSize && !stored.contains(r.doc_id)) {
          var i = 0
          while (i < stored.length) {
            out += PairEmit(math.min(stored(i), r.doc_id),
              math.max(stored(i), r.doc_id), key._1)
            i += 1
          }
          members.appendValue(r.doc_id)
          stored += r.doc_id
        }
      }
      out.iterator
    }
  }

  /** [[NearDupPairProcessor]] wired (Append output: emissions are facts,
    * not keyed updates). With `ttl` set, bucket membership expires after
    * the retention window (requires `TimeMode.ProcessingTime`), so new
    * docs match only against the ROLLING corpus — the retention-bounded
    * form that keeps state finite over an unbounded 100 TB ingest, same
    * contract as [[runningDedupTws]]' TTL. Requires the RocksDB
    * provider. */
  def runningNearDupPairs(events: Dataset[PairEvent],
                          maxBucketSize: Int = 64,
                          ttl: Option[java.time.Duration] = None): Dataset[PairEmit] = {
    import events.sparkSession.implicits._
    require(maxBucketSize > 0, s"need a positive bucket cap (got $maxBucketSize)")
    events.groupByKey(e => (e.band_idx, e.bucket))
      .transformWithState(new NearDupPairProcessor(maxBucketSize, ttl.orNull),
        if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }

  final case class SeqEvent(user_id: Long, tu: Long, event_id: Long, event_type: String)
  final case class SeqState(events: Seq[(Long, Long, String)])
  final case class TransitionUpdate(user_id: Long, n_events: Long,
                                    prev_type: String, next_type: String, n: Long)

  /** Streaming per-entity sequence store + Markov transition counts via
    * flatMapGroupsWithState — the stateful twin of q217's batch transition
    * matrix. State holds the user's (tu, event_id, type) history SORTED by
    * event time, so transition counts are recomputed from the true global
    * order on every update and the result is independent of micro-batch
    * slicing (unlike a last-event-only state, which silently miscounts when
    * a batch delivers events out of order). Each update emits the user's
    * FULL current transition multiset tagged with n_events; the final
    * update (max n_events) equals the batch answer.
    *
    * State is bounded by per-entity history — the per-user sequence-store
    * contract (session analytics scale: tens-to-hundreds of events per
    * user), sharded across state-store partitions; it is NOT for unbounded
    * single-key firehoses. */
  def runningTransitions(events: Dataset[SeqEvent]): Dataset[TransitionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqState, TransitionUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[SeqState]) =>
          val merged = (state.getOption.map(_.events).getOrElse(Seq.empty) ++
            rows.map(r => (r.tu, r.event_id, r.event_type)))
            .sortBy(e => (e._1, e._2))
          state.update(SeqState(merged))
          val n = merged.size.toLong
          if (n < 2) Iterator.empty
          else merged.iterator.zip(merged.iterator.drop(1))
            .map { case (a, b) => (a._3, b._3) }
            .toSeq.groupBy(identity).iterator
            .map { case ((p, nx), hits) =>
              TransitionUpdate(user, n, p, nx, hits.size.toLong) }
      }
  }

  final case class PitEvent(user_id: Long, tn: Long, event_id: Long,
                            event_type: String, vmilli: Option[Long])
  final case class PitState(
      events: Seq[(Long, Long, String, Option[Long])])
  final case class PitUpdate(user_id: Long, n_events: Long, label_id: Long,
                             label_us: Long, n_views_before: Long,
                             last_click_vmilli: Option[Long],
                             err_vmilli_before: Long)

  /** Streaming point-in-time feature store — q282's stateful twin. State
    * holds the user's full (tn, event_id, type, vmilli) history SORTED by
    * event time (the q225 sequence-store discipline), so every update
    * recomputes each purchase's features from the true global order and
    * the result is independent of micro-batch slicing; out-of-order
    * arrivals self-correct on the next recompute. Features use STRICTLY
    * tn-before events (the batch spine-first tie rule): prior view count,
    * last non-null click value, prior error milli-sum. Per-entity history
    * bound is the same contract as runningTransitions. */
  def runningPitFeatures(events: Dataset[PitEvent]): Dataset[PitUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[PitState, PitUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[PitState]) =>
          val merged = (state.getOption.map(_.events).getOrElse(Seq.empty) ++
            rows.map(r => (r.tn, r.event_id, r.event_type, r.vmilli)))
            .sortBy(e => (e._1, e._2))
          state.update(PitState(merged))
          val n = merged.size.toLong
          merged.iterator.filter(_._3 == "purchase").map { p =>
            val pre = merged.takeWhile(_._1 < p._1)
            val nv = pre.count(_._3 == "view").toLong
            val lc = pre.reverseIterator
              .find(e => e._3 == "click" && e._4.isDefined).flatMap(_._4)
            val es = pre.iterator.filter(_._3 == "error")
              .flatMap(_._4).sum
            PitUpdate(user, n, p._2, p._1 / 1000, nv, lc, es)
          }
      }
  }

  final case class Scd2Event(user_id: Long, tn: Long, event_id: Long,
                             vm: Long)
  final case class Scd2State(events: Seq[(Long, Long, Long)])
  final case class Scd2Update(user_id: Long, n_events: Long, event_id: Long,
                              valid_from: Long, valid_to: Option[Long],
                              vm: Long, is_current: Int)

  /** Streaming SCD Type-2 maintenance — q141's stateful twin. The sorted
    * per-key history (q225 discipline) re-derives the FULL validity-
    * interval table on every update: each arrival closes whatever interval
    * it lands inside and opens its own, including retroactive (out-of-
    * order) changes that SPLIT an existing interval — the case an
    * append-only interval store silently corrupts. Final update per key
    * (n_events monotone) equals the batch lead-window build. */
  def runningScd2(events: Dataset[Scd2Event]): Dataset[Scd2Update] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Update](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[Scd2State]) =>
          val merged = (state.getOption.map(_.events).getOrElse(Seq.empty) ++
            rows.map(r => (r.tn, r.event_id, r.vm)))
            .sortBy(e => (e._1, e._2))
          state.update(Scd2State(merged))
          val n = merged.size.toLong
          merged.iterator.zipWithIndex.map { case ((tn, eid, vm), i) =>
            val nextTn = if (i + 1 < merged.size) Some(merged(i + 1)._1)
                         else None
            Scd2Update(user, n, eid, tn, nextTn, vm,
              if (nextTn.isEmpty) 1 else 0)
          }
      }
  }

  final case class SessEvent(user_id: Long, tn: Long, event_id: Long)
  final case class SessState(ts: Seq[(Long, Long)])
  final case class SessUpdate(user_id: Long, n_events: Long,
                              n_sessions: Long, n_cap_splits: Long,
                              max_sess_events: Long)

  /** Streaming capped sessionization — q316's stateful twin
    * ([[graft.operators.Sessionize.cappedSessionStats]]). The duration-cap
    * recurrence is order-dependent, so the state is the user's sorted
    * (tn, event_id) history (the q225 sequence-store discipline) and every
    * update re-runs the SAME fold from the true global order — the result
    * is independent of micro-batch slicing, and out-of-order arrivals
    * (which can merge or re-split session boundaries retroactively)
    * self-correct on the next recompute. Final update per key (n_events
    * monotone) equals the batch fold exactly. */
  def runningCappedSessions(events: Dataset[SessEvent], gapNs: Long,
                            capNs: Long): Dataset[SessUpdate] = {
    import events.sparkSession.implicits._
    require(gapNs > 0 && capNs > 0, s"need positive gap/cap (got $gapNs, $capNs)")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user, rows, state: GroupState[SessState]) =>
          val merged = (state.getOption.map(_.ts).getOrElse(Seq.empty) ++
            rows.map(r => (r.tn, r.event_id)))
            .sortBy(identity)
          state.update(SessState(merged))
          var nSess = 0L; var start = 0L; var last = 0L
          var cur = 0L; var mx = 0L; var nCap = 0L
          merged.foreach { case (y, _) =>
            if (cur == 0L) {
              nSess = 1L; start = y; last = y; cur = 1L; mx = 1L
            } else if (y - last > gapNs || y - start > capNs) {
              if (y - last <= gapNs) nCap += 1L
              nSess += 1L; start = y; last = y; cur = 1L
            } else {
              cur += 1L; mx = math.max(mx, cur); last = y
            }
          }
          Iterator.single(SessUpdate(user, merged.size.toLong, nSess, nCap, mx))
      }
  }

  /** Duration string ("10 seconds", "1 minute") -> microseconds. */
  private[streaming] def durMicros(s: String): Long = {
    val parts = s.trim.split("\\s+")
    require(parts.length == 2, s"duration '$s' must be '<n> <unit>'")
    val unit = parts(1).toLowerCase.stripSuffix("s") match {
      case "microsecond" => 1L
      case "millisecond" => 1000L
      case "second"      => 1000000L
      case "minute"      => 60000000L
      case "hour"        => 3600000000L
      case u => throw new IllegalArgumentException(s"unsupported duration unit '$u'")
    }
    parts(0).toLong * unit
  }

  /** Streaming windowed DSP ingest: events stream -> bounded SegmentFrame
    * rows, one per (channel, event-time window). The watermark + append mode
    * emit a window's row only once it is complete, so each emitted row is a
    * finished bounded segment — exactly the unit the batch spectral
    * operators consume. Downstream, `DspOperators.resample/applyLinenoiseNotch/
    * waveletTransform` apply UNCHANGED to the streaming DataFrame (they are
    * narrow per-row UDFs), making the full preprocessing pipeline a
    * continuous query: readStream -> windowed segments -> notch -> wavelet
    * -> writeStream. This is the streaming twin of `operators.Windowing`.
    *
    * `contextDur > 0` adds crossfade margins, the streaming form of
    * `Windowing.windowSegments`' context: an event within `contextDur` of a
    * window boundary ALSO joins the adjacent window (a narrow membership
    * explode; its event time is shifted by ±window so the built-in tumbling
    * window + watermark machinery assembles and closes the overlapping
    * windows — no hand-rolled flatMapGroupsWithState state to mismanage).
    * Each emitted row is then [left context | core | right context] samples
    * sorted by event time, its `series` suffixed `#w<epoch window index>`,
    * with a `sample_ts` column carrying per-sample nanos for the downstream
    * crossfade (`stitchTimeWindows`). Rows holding only borrowed context
    * (stream edges) are stubs and are dropped. `rate` is the declared
    * uniform rate (SURVEY.md §1.1); startingTime is the core window start in
    * epoch seconds. */
  def windowedSegmentsStream(events: DataFrame, nChannels: Int, rate: Double,
                             windowDur: String = "1 minute",
                             watermark: String = "2 minutes",
                             series: String = "events",
                             contextDur: String = "0 seconds"): DataFrame = {
    val winU = durMicros(windowDur)
    val ctxU = durMicros(contextDur)
    require(ctxU >= 0 && 2 * ctxU <= winU,
      s"need windowDur >= 2*contextDur for disjoint crossfade ramps ($windowDur < 2*$contextDur)")
    // right-margin copies are time-shifted FORWARD by one window, so they
    // advance the watermark one window ahead of real event time: the
    // effective out-of-order tolerance is (watermark - windowDur), not
    // watermark. Guard against configs whose real tolerance is <= 0 —
    // those silently drop slightly-late core samples and diverge from batch
    require(ctxU == 0 || durMicros(watermark) > winU,
      s"with contextDur > 0 the effective lateness tolerance is watermark - windowDur; " +
        s"need watermark ('$watermark') > windowDur ('$windowDur')")
    val base = graft.model.Frames.normalizeTsNanos(events)
      .withColumn("channel", pmod(col("user_id"), lit(nChannels)).cast("int"))
      .withColumn("_tu", (col("ts") / 1000).cast("long"))
    val membered =
      if (ctxU == 0) base.withColumn("member_time", timestamp_micros(col("_tu")))
      else base
        // a null filter after the explode, not array_compact: that one
        // is an interpreted higher-order function (ArrayFilter) per event
        .withColumn("_off", explode(array(
          lit(0L),
          when(pmod(col("_tu"), lit(winU)) < ctxU, lit(-winU)),
          when(pmod(col("_tu"), lit(winU)) >= winU - ctxU, lit(winU)))))
        .filter(col("_off").isNotNull)
        .withColumn("member_time", timestamp_micros(col("_tu") + col("_off")))
    // native sort-assembly (packed buffers) instead of
    // array_sort(collect_list(struct)) with its interpreted comparator;
    // same (ts, event_id, value) order, and it emits the sample_ts array
    // the downstream crossfade needs without a second transform
    val assembled = graft.functions.SeriesAssembleFunctions.assembleTimed(
      events.sparkSession, col("ts").cast("long"), col("event_id").cast("long"),
      col("value").cast("double")).as("_a")
    val grouped = membered
      .withWatermark("member_time", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("member_time"), windowDur),
        col("channel"))
    // a row whose samples are ALL borrowed context (stream edge) is a stub:
    // a window's own samples are exactly its `_off = 0` members
    val windows =
      if (ctxU == 0) grouped.agg(assembled)
      else grouped.agg(assembled, max(col("_off") === 0L).as("_core")).filter(col("_core"))
    windows
      .withColumn("_startU", unix_micros(col("window.start")))
      .select(
        concat(lit(series), lit("#w"), (col("_startU") / winU).cast("long")).as("series"),
        col("channel"), lit(null).cast("int").as("band"), lit(rate).as("rate"),
        (col("_startU").cast("double") / 1e6).as("startingTime"),
        col("_a.values").as("values"),
        col("_a.ts").as("sample_ts"))
  }

  /** Crossfade-stitch for time-windowed DSP output — the batch complement of
    * `windowedSegmentsStream(contextDur > 0)`, run over the append sink it
    * feeds (each micro-batch appends finished windows; the sink is stitched
    * on read, so no second stateful aggregation sits in the streaming
    * query). Every sample in a window row is weighted by that window's
    * linear ramp at the sample's timestamp (adjacent windows' ramps sum to
    * 1 across the 2·context overlap), contributions regroup by the sample's
    * CORE window — ONE shuffle of (ts, weighted value, weight) triples —
    * and are weight-normalized, which also self-corrects stream edges where
    * only one window covers a sample (same normalization trick as
    * `Windowing.stitch`). Identity pipelines round-trip exactly; spectral
    * ops differ from unwindowed results only by the boundary leakage the
    * crossfade bounds.
    *
    * Precondition: per-sample timestamps must be unique within a channel —
    * the timestamp is the only cross-window sample key, so two samples
    * sharing (channel, ts) would be merged into one weight-averaged value
    * here (the window side keeps both, ordered by event_id). Applies only
    * to length-preserving pipelines: `resample` drops `sample_ts` (counts
    * change), making this fail fast on the missing column. */
  def stitchTimeWindows(windowed: DataFrame, windowDur: String,
                        contextDur: String): DataFrame = {
    val winU = durMicros(windowDur)
    val ctxU = durMicros(contextDur)
    require(ctxU >= 0 && 2 * ctxU <= winU)
    // crossfade ramp of window `win` at event-time micros `tu`
    def rampWeight(win: Long, tu: Long): Double = {
      val start = win * winU
      val end = start + winU
      if (ctxU == 0) 1.0
      else if (tu < start + ctxU) (tu - (start - ctxU)).toDouble / (2 * ctxU)
      else if (tu >= end - ctxU) (end + ctxU - tu).toDouble / (2 * ctxU)
      else 1.0
    }
    // Array-level contributions, like the batch Windowing.stitch: each
    // window row's samples are sorted by ts, so the samples landing in one
    // target block are a contiguous slice — emit <= 3 (block, ts slice,
    // weighted-value slice) rows instead of one row PER SAMPLE (the
    // row-granular explode ships ~3x the bytes and boxes every sample
    // through the shuffle). Weights are recomputed from (win, ts) at
    // combine, so only weighted values cross the wire.
    val contrib = udf { (winIdx: Long, values: Seq[Double], tsIn: Seq[Long]) =>
      val vs = values.toArray
      val ts = tsIn.toArray
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Long], Array[Double])]
      var i = 0
      while (i < vs.length) {
        val blk = (ts(i) / 1000) / winU
        var j = i
        while (j < vs.length && (ts(j) / 1000) / winU == blk) j += 1
        val sliceTs = java.util.Arrays.copyOfRange(ts, i, j)
        val sliceVw = new Array[Double](j - i)
        var k = i
        while (k < j) {
          sliceVw(k - i) = vs(k) * rampWeight(winIdx, ts(k) / 1000)
          k += 1
        }
        out += ((blk, sliceTs, sliceVw))
        i = j
      }
      out.toSeq
    }
    // merge the <= 3 contributors' sorted (ts, vw) slices: per-ts weighted
    // sum normalized by the recomputed weight sum (same normalization as
    // Windowing.stitch; self-corrects stream edges). Each slice is already
    // ts-sorted (assemble_timed's (ts, id, value) order survives the narrow
    // contrib split), so a k-way merge of the <= 3 heads replaces the
    // per-sample LongMap + final sortBy — one linear pass, no tuple boxing,
    // and no uniform-rate assumption: equal ts (within or across slices)
    // coalesce into one weight-normalized sample exactly as the map did.
    val combine = udf { (rows: Seq[org.apache.spark.sql.Row]) =>
      val k = rows.length
      val wins = new Array[Long](k)
      val tss = new Array[Array[Long]](k)
      val vws = new Array[Array[Double]](k)
      var total = 0
      var r = 0
      while (r < k) {
        val row = rows(r)
        wins(r) = row.getLong(0)
        tss(r) = row.getSeq[Long](1).toArray
        vws(r) = row.getSeq[Double](2).toArray
        total += tss(r).length
        r += 1
      }
      val pos = new Array[Int](k)
      val out = new Array[Double](total)
      var m = 0
      var done = false
      while (!done) {
        var minTs = Long.MaxValue
        r = 0
        while (r < k) {
          if (pos(r) < tss(r).length && tss(r)(pos(r)) < minTs) minTs = tss(r)(pos(r))
          r += 1
        }
        if (minTs == Long.MaxValue) done = true
        else {
          var sv = 0.0
          var sw = 0.0
          r = 0
          while (r < k) {
            while (pos(r) < tss(r).length && tss(r)(pos(r)) == minTs) {
              sv += vws(r)(pos(r))
              sw += rampWeight(wins(r), minTs / 1000)
              pos(r) += 1
            }
            r += 1
          }
          out(m) = if (sw > 0) sv / sw else 0.0
          m += 1
        }
      }
      if (m == total) out else java.util.Arrays.copyOf(out, m)
    }
    windowed
      .withColumn("_base", substring_index(col("series"), "#w", 1))
      .withColumn("_win", substring_index(col("series"), "#w", -1).cast("long"))
      .select(col("_base"), col("channel"), col("band"), col("rate"), col("_win"),
        explode(contrib(col("_win"), col("values"), col("sample_ts"))).as("c"))
      .groupBy(col("_base"), col("channel"), col("band"), col("rate"),
        col("c._1").as("win_idx"))
      .agg(collect_list(struct(col("_win"), col("c._2"), col("c._3"))).as("parts"))
      .select(col("_base").as("series"), col("channel"), col("band"), col("rate"),
        (col("win_idx") * winU).cast("double").divide(1e6).as("startingTime"),
        col("win_idx"), combine(col("parts")).as("values"))
  }

  /** State partitions for one stream query: the bytes of the file-stream
    * sources it reads over the session's
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (64 MB by default),
    * rounded up and clamped to [1, `spark.sql.shuffle.partitions`]. Every
    * state partition commits each micro-batch, and state holds at most what
    * was read, so input bytes bound the state of every stateful operator.
    * Each source directory is listed once on the driver; a query with no
    * file source keeps the session's count. */
  private def stateParts(query: DataFrame): Int = {
    val spark = query.sparkSession
    val conf = spark.sessionState.conf
    val dirs = query.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.streaming.runtime.StreamingRelation =>
        r.dataSource.options.get("path")
    }.flatten.distinct
    if (dirs.isEmpty) conf.numShufflePartitions
    else {
      val hadoop = spark.sessionState.newHadoopConf()
      val bytes = dirs.map { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(hadoop).getContentSummary(p).getLength
      }.sum
      val advisory = conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      math.min(conf.numShufflePartitions.toLong, (bytes + advisory - 1) / advisory)
        .max(1L).toInt
    }
  }

  /** Starts `query` with [[stateParts]] state partitions and, for a file
    * sink, no dictionary on the `values` arrays
    * ([[graft.store.NwbStore.NoValuesDictionary]]). Spark clones the
    * session when it builds the query (the `StreamExecution` constructor)
    * and reads the stateful partition count from that clone; the file sink
    * builds its Hadoop configuration from the session in its constructor,
    * also inside `start()`. So both confs are set only around `start()`:
    * the caller's session keeps its own values while the query runs. A
    * fresh checkpoint records the count in its offset log; a query resumed
    * from an existing checkpoint keeps the recorded count whatever this
    * rule gives (every `runTo*` driver makes a fresh checkpoint). */
  private def startSized(query: DataFrame)(
      start: => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val scoped = Seq("spark.sql.shuffle.partitions" -> stateParts(query).toString,
      graft.store.NwbStore.NoValuesDictionary -> "false")
    val conf = query.sparkSession.conf
    val prev = scoped.map { case (k, _) => k -> conf.getOption(k) }
    scoped.foreach { case (k, v) => conf.set(k, v) }
    try start finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Build a ts-normalized file-stream source over an events directory —
    * THE way to open a raw events stream: the normalizeTsNanos wrap is what
    * absorbs the harness's timestamp-type generations, and a hand-rolled
    * readStream that forgets it reintroduces the micros-ts regression. */
  def eventsStream(spark: SparkSession, eventsDir: String): DataFrame =
    openEvents(spark, eventsDir, oneFilePerBatch = false)

  /** The one stream opener behind [[eventsStream]] and the `runTo*`
    * drivers; `oneFilePerBatch` sets `maxFilesPerTrigger = 1` (the
    * `Ordered` staging contract). */
  private def openEvents(spark: SparkSession, eventsDir: String,
                         oneFilePerBatch: Boolean): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(eventsDir).schema
    val reader = spark.readStream.schema(schema)
    graft.model.Frames.normalizeTsNanos(
      (if (oneFilePerBatch) reader.option("maxFilesPerTrigger", "1") else reader)
        .parquet(eventsDir))
  }

  /** Runs `transform(stream)` to the memory table `queryName` under
    * Trigger.AvailableNow and returns the table. */
  private def toMemory(spark: SparkSession, stream: DataFrame,
                       transform: DataFrame => DataFrame, queryName: String,
                       outputMode: OutputMode): DataFrame = {
    val query = transform(stream)
    startSized(query)(query.writeStream
      .outputMode(outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("memory")
      .queryName(queryName)
      .start()).awaitTermination()
    spark.table(queryName)
  }

  /** Drive a streaming query from a static events directory to a memory
    * sink under Trigger.AvailableNow (process everything, then stop) and
    * return the result table. Memory sinks collect every output row to the
    * driver — fine for Update/Complete-mode specs on test data; for
    * append-mode production shapes use `runToParquet`, which keeps the
    * output distributed. */
  def runToMemory(spark: SparkSession, eventsDir: String, queryName: String,
                  transform: DataFrame => DataFrame,
                  outputMode: OutputMode = OutputMode.Append): DataFrame =
    toMemory(spark, openEvents(spark, eventsDir, oneFilePerBatch = false),
      transform, queryName, outputMode)

  /** [[runToMemory]] with ONE FILE PER MICRO-BATCH in modification-time
    * order (the [[runToParquetOrdered]] staging contract for Update-mode
    * sinks): state is committed and restored BETWEEN batches, so a
    * provider-certification run actually exercises snapshot/changelog
    * replay instead of finishing in one commit. */
  def runToMemoryOrdered(spark: SparkSession, eventsDir: String,
                         queryName: String,
                         transform: DataFrame => DataFrame,
                         outputMode: OutputMode = OutputMode.Append): DataFrame =
    toMemory(spark, openEvents(spark, eventsDir, oneFilePerBatch = true),
      transform, queryName, outputMode)

  /** State-store provider conf keys (public Spark confs, stable since 3.2).
    * The default HDFSBackedStateStoreProvider keeps every store's working
    * map ON-HEAP per executor — fine while total state fits executor
    * memory, a wall at corpus-lifetime dedup scale. RocksDB keeps state
    * off-heap/on-disk per partition with changelog checkpointing, so state
    * size is bounded by local disk, not heap — the 100 TB setting. */
  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Run `f` with the session's state store switched to RocksDB (changelog
    * checkpointing ON — commits ship a delta, not a full snapshot), then
    * restore the previous provider conf. The conf is read per-query at
    * start, so wrapping just the streaming run is sufficient and nothing
    * leaks into later queries on a shared session. */
  def withRocksDbState[T](spark: SparkSession)(f: => T): T = {
    // the keys set on the session: getOption would return the provider's
    // default and restore it as a set key
    val set = spark.conf.getAll
    val (prevP, prevC) = (set.get(ProviderKey), set.get(ChangelogKey))
    spark.conf.set(ProviderKey, RocksDbProvider)
    spark.conf.set(ChangelogKey, "true")
    try f finally {
      prevP.fold(spark.conf.unset(ProviderKey))(spark.conf.set(ProviderKey, _))
      prevC.fold(spark.conf.unset(ChangelogKey))(spark.conf.set(ChangelogKey, _))
    }
  }

  /** Drive an append-mode streaming query from a static events directory to
    * a parquet file sink under Trigger.AvailableNow and return a lazy
    * read-back of the sink directory. Unlike the memory sink this never
    * materializes output on the driver and downstream plans scan parquet
    * instead of re-serializing a driver-local relation into every task —
    * the shape that survives unbounded output (a memory sink is
    * driver-bounded by definition). */
  def runToParquet(spark: SparkSession, eventsDir: String, queryName: String,
                   transform: DataFrame => DataFrame): DataFrame =
    runStreamToParquet(spark,
      transform(openEvents(spark, eventsDir, oneFilePerBatch = false)), queryName)

  /** [[runToParquet]] with ONE FILE PER MICRO-BATCH in modification-time
    * order (oldest first — the file source's default ordering under
    * maxFilesPerTrigger). This is the late-data certification shape: the
    * watermark advances BETWEEN the staged files, so rows in a later file
    * that fall behind the watermark established by an earlier one are
    * genuinely dropped — a single-batch run (the default staging) never
    * drops anything because the watermark starts at the epoch. */
  def runToParquetOrdered(spark: SparkSession, eventsDir: String,
                          queryName: String,
                          transform: DataFrame => DataFrame): DataFrame =
    runStreamToParquet(spark,
      transform(openEvents(spark, eventsDir, oneFilePerBatch = true)), queryName)

  /** Stage a frame as ONE parquet file named `name` inside `stageDir` with
    * an explicit modification time — the unit of micro-batch staging for
    * [[runToParquetOrdered]]. */
  def stageFileAs(df: DataFrame, stageDir: java.nio.file.Path, name: String,
                  mtimeMs: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory(s"stage_$name")
    deleteOnExit(tmp)
    df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
    val part = new java.io.File(tmp.toString).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part for $name"))
    val dst = stageDir.resolve(name)
    java.nio.file.Files.move(part.toPath, dst)
    dst.toFile.setLastModified(mtimeMs)
  }

  /** Drive an ALREADY-BUILT streaming DataFrame (e.g. a stream-stream join
    * over two sources, where the single-source `runToParquet` shape doesn't
    * fit) to a parquet sink under Trigger.AvailableNow; same sink/read-back
    * contract as [[runToParquet]].
    *
    * The sink writes the `values` arrays without a dictionary, as
    * `NwbStore` does. The property goes through the session (in
    * [[startSized]]), not as a `writeStream` option: Spark's
    * `FileStreamSink` builds its Hadoop configuration with
    * `sessionState.newHadoopConf()`, which copies the session's SQL confs
    * but none of the writer's options, so an option never reaches the
    * Parquet writer. */
  def runStreamToParquet(spark: SparkSession, transformed: DataFrame,
                         queryName: String): DataFrame = {
    val out = java.nio.file.Files.createTempDirectory(s"stream_sink_$queryName")
    deleteOnExit(out)
    val dataDir = out.resolve("data").toString
    startSized(transformed)(transformed.writeStream
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet")
      .option("path", dataDir)
      .option("checkpointLocation", out.resolve("ckpt").toString)
      .start()).awaitTermination()
    // a query that closed no windows writes only _spark_metadata — return
    // an empty frame of the right schema instead of failing parquet schema
    // inference (the memory sink this replaced returned an empty table)
    val hasData = {
      val d = new java.io.File(dataDir)
      d.exists && d.listFiles != null &&
        d.listFiles.exists(f => f.getName.endsWith(".parquet"))
    }
    if (hasData) spark.read.parquet(dataDir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      transformed.schema)
  }

  /** Temp sink/stage dirs would otherwise accumulate across bench/verify
    * iterations: delete them recursively when the JVM exits. */
  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val cleanupHook: Unit =
    sys.addShutdownHook {
      tmpDirs.forEach { p =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case _: Throwable => () }
      }
    }
  private[graft] def deleteOnExit(p: java.nio.file.Path): Unit = {
    cleanupHook
    tmpDirs.add(p)
  }
}
