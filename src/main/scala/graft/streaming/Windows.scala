package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event/changelog shapes for the stateful window kernels. `op` carries the
  * reference's Current/Expired duality (complex_event.rs:14-21): +1 = event
  * entered the window (Current), -1 = event evicted (Expired). Downstream
  * incremental aggregation is then `sum(value * op)` per key in update mode
  * — exactly the reference's add/remove aggregator protocol
  * (aggregator/mod.rs:15) re-expressed as a changelog.
  */
final case class WinEvent(key: String, tsUs: Long, eventId: Long, value: Double,
                          vals: Seq[Double] = Nil, svals: Seq[String] = Nil)
object WinEvent {
  implicit val codec: StateCodec[WinEvent] = StateCodec.product[WinEvent] { (w, e) =>
    w.string(e.key); w.long(e.tsUs); w.long(e.eventId); w.double(e.value)
    w.seq(e.vals); w.seq(e.svals)
  }(r => WinEvent(r.string(), r.long(), r.long(), r.double(), r.seq[Double](), r.seq[String]()))
}
final case class WinOut(key: String, tsUs: Long, eventId: Long, value: Double, op: Int,
                        svals: Seq[String] = Nil)

/** Misra-Gries counter slot for the frequent window: tracked attribute
  * value, its count, and the latest retained event of that value.
  */
final case class FreqEntry(attr: String, cnt: Long, ev: WinEvent)
object FreqEntry {
  implicit val codec: StateCodec[FreqEntry] = StateCodec.product[FreqEntry] { (w, e) =>
    w.string(e.attr); w.long(e.cnt); w(e.ev)
  }(r => FreqEntry(r.string(), r.long(), r[WinEvent]()))
}
final case class FreqState(entries: Seq[FreqEntry])
object FreqState {
  implicit val codec: StateCodec[FreqState] =
    StateCodec.product[FreqState]((w, s) => w.seq(s.entries))(r => FreqState(r.seq[FreqEntry]()))
}

/** Manku-Motwani lossy-counting slot: tracked attribute value, observed
  * count since tracking began, the bucket-offset error bound Δ (events of
  * this value possibly missed before tracking), the latest arrival of the
  * value, and whether that arrival is currently emitted (owes a
  * retraction). `n` is the total events processed for the key.
  */
final case class LossyEntry(attr: String, cnt: Long, delta: Long,
                            ev: WinEvent, emitted: Boolean)
object LossyEntry {
  implicit val codec: StateCodec[LossyEntry] = StateCodec.product[LossyEntry] { (w, e) =>
    w.string(e.attr); w.long(e.cnt); w.long(e.delta); w(e.ev); w.bool(e.emitted)
  }(r => LossyEntry(r.string(), r.long(), r.long(), r[WinEvent](), r.bool()))
}
final case class LossyState(n: Long, entries: Seq[LossyEntry])
object LossyState {
  implicit val codec: StateCodec[LossyState] = StateCodec.product[LossyState] { (w, s) =>
    w.long(s.n); w.seq(s.entries)
  }(r => LossyState(r.long(), r.seq[LossyEntry]()))
}

/** `OUTPUT FIRST|LAST|ALL EVERY n EVENTS` behavior selector
  * (output_rate.rs:10-22 `OutputRateBehavior` × `EventsOutputRate`).
  */
sealed abstract class RateBehavior extends Serializable
object RateBehavior {
  case object First extends RateBehavior // first event of each n-chunk, emitted on arrival
  case object Last extends RateBehavior  // n-th event of each chunk, emitted when it completes
  case object All extends RateBehavior   // whole chunk, flushed when it completes
}

/** Event-count rate-limiter state: events seen so far (FIRST/LAST) and the
  * open chunk's buffer (ALL — bounded by n).
  */
final case class RateBuffer(cnt: Long, pending: Seq[WinEvent])
object RateBuffer {
  implicit val codec: StateCodec[RateBuffer] = StateCodec.product[RateBuffer] { (w, s) =>
    w.long(s.cnt); w.seq(s.pending)
  }(r => RateBuffer(r.long(), r.seq[WinEvent]()))
}

/** Pure window-kernel state machines: (ordered events, state) → (changelog,
  * state). Kept Spark-free so invariants are property-testable directly
  * (WindowPropSpec); graft.streaming.Windows wraps them in
  * flatMapGroupsWithState.
  *
  * Reference: window/mod.rs:63-195 (length), :645-964 (lengthBatch),
  * :196-644 (time), sort_window_processor.rs:25-45 (sort).
  */
object WindowKernels {

  /** Kernel state: retained events + (for lengthBatch) the previous batch. */
  final case class WinBuffer(events: Seq[WinEvent], prev: Seq[WinEvent])
  object WinBuffer {
    implicit val codec: StateCodec[WinBuffer] = StateCodec.product[WinBuffer] { (w, b) =>
      w.seq(b.events); w.seq(b.prev)
    }(r => WinBuffer(r.seq[WinEvent](), r.seq[WinEvent]()))
  }
  val EmptyBuffer: WinBuffer = WinBuffer(Nil, Nil)

  /** Changelog row constructors: the event's payload slots (svals) ride
    * along so SQL-surface lowerings can restore source columns from the
    * emitted row — no join back to the source.
    */
  @inline def current(e: WinEvent): WinOut =
    WinOut(e.key, e.tsUs, e.eventId, e.value, 1, e.svals)
  @inline def expired(e: WinEvent): WinOut =
    WinOut(e.key, e.tsUs, e.eventId, e.value, -1, e.svals)

  def length(events: Seq[WinEvent], buf: WinBuffer, n: Int): (Seq[WinOut], WinBuffer) = {
    var b = buf.events.toVector
    val out = Seq.newBuilder[WinOut]
    events.foreach { e =>
      out += current(e)
      b :+= e
      if (b.size > n) {
        val old = b.head; b = b.tail
        out += expired(old)
      }
    }
    (out.result(), WinBuffer(b, Nil))
  }

  def lengthBatch(events: Seq[WinEvent], buf: WinBuffer, n: Int): (Seq[WinOut], WinBuffer) = {
    var cur = buf.events.toVector
    var prev = buf.prev.toVector
    val out = Seq.newBuilder[WinOut]
    events.foreach { e =>
      cur :+= e
      if (cur.size == n) {
        prev.foreach(p => out += expired(p))
        cur.foreach(c => out += current(c))
        prev = cur; cur = Vector.empty
      }
    }
    (out.result(), WinBuffer(cur, prev))
  }

  def time(events: Seq[WinEvent], buf: WinBuffer, durUs: Long): (Seq[WinOut], WinBuffer) = {
    var b = buf.events.toVector
    val out = Seq.newBuilder[WinOut]
    events.foreach { e =>
      out += current(e)
      b :+= e
      val (evicted, kept) = b.partition(_.tsUs <= e.tsUs - durUs)
      evicted.foreach(x => out += expired(x))
      b = kept
    }
    (out.result(), WinBuffer(b, Nil))
  }

  /** firstUnique window (FirstUniqueWindowTestCase roadmap): only the FIRST
    * event of each key passes; later same-key arrivals are swallowed. The
    * kernel runs keyed by the unique attribute, so state is one marker
    * event per distinct key.
    */
  def firstUnique(events: Seq[WinEvent], buf: WinBuffer): (Seq[WinOut], WinBuffer) = {
    var b = buf.events.toVector
    val out = Seq.newBuilder[WinOut]
    events.foreach { e =>
      if (b.isEmpty) { out += current(e); b = Vector(e) }
    }
    (out.result(), WinBuffer(b, Nil))
  }

  /** delay window (DelayWindowTestCase roadmap): events are held for durUs
    * of EVENT time and released once a newer event proves the delay has
    * passed (watermark-driven on a cluster). State is the in-flight delay
    * buffer per key, bounded by events-per-duration.
    */
  def delay(events: Seq[WinEvent], buf: WinBuffer, durUs: Long): (Seq[WinOut], WinBuffer) = {
    var b = buf.events.toVector
    val out = Seq.newBuilder[WinOut]
    events.foreach { e =>
      b :+= e
      val (due, held) = b.partition(x => x.tsUs + durUs <= e.tsUs)
      due.foreach(x => out += current(x))
      b = held
    }
    (out.result(), WinBuffer(b, Nil))
  }

  /** frequent window (FrequentWindowTestCase roadmap): Misra-Gries heavy
    * hitters over at most k tracked attribute values. A tracked arrival
    * replaces (expires) that value's retained event; an untracked arrival
    * with a free slot is admitted; an untracked arrival with all slots
    * full decrements every counter (zeros evict with Expired) and is
    * discarded — the classic O(k)-state sketch, vs the reference's
    * lossyCounting stub.
    */
  def frequent(events: Seq[WinEvent], st: Seq[FreqEntry], k: Int,
               attrOf: WinEvent => String): (Seq[WinOut], Seq[FreqEntry]) = {
    var entries = st.toVector
    val out = Seq.newBuilder[WinOut]
    events.foreach { e =>
      val a = attrOf(e)
      entries.indexWhere(_.attr == a) match {
        case i if i >= 0 =>
          val old = entries(i)
          out += expired(old.ev)
          out += current(e)
          entries = entries.updated(i, FreqEntry(a, old.cnt + 1, e))
        case _ if entries.size < k =>
          out += current(e)
          entries :+= FreqEntry(a, 1L, e)
        case _ =>
          val dec = entries.map(en => en.copy(cnt = en.cnt - 1))
          val (dead, live) = dec.partition(_.cnt <= 0)
          dead.foreach(en =>
            out += expired(en.ev))
          entries = live
      }
    }
    (out.result(), entries)
  }

  /** lossyCounting window — the reference registers the name but its
    * processor is a pass-through stub (window/mod.rs:1654-1741, factory
    * :1717-1741 — no frequency logic at all); this is the REAL
    * Manku-Motwani lossy-counting sketch the name promises. Stream is cut
    * into buckets of width w = ⌈1/error⌉; an untracked arrival starts an
    * entry with Δ = currentBucket−1 (its maximum possible undercount); a
    * bucket boundary prunes entries with cnt+Δ ≤ currentBucket. Guarantees:
    * tracked cnt never exceeds true frequency, undercounts by at most
    * error·N, and state is O((1/error)·log(error·N)) — vs the frequent
    * window's fixed k slots this trades adaptive capacity for a hard error
    * bound.
    *
    * Changelog protocol: an arrival whose entry qualifies at the support
    * threshold (cnt ≥ (support−error)·N, the classic query rule) replaces
    * the value's retained event (Expired then Current); an arrival that
    * leaves its entry below threshold is absorbed. A bucket boundary
    * retracts pruned entries' retained events, and also entries that fell
    * below threshold through N growth (their cnt froze while N rose) — so
    * the net changelog is always exactly the currently-qualifying values.
    */
  def lossyCounting(events: Seq[WinEvent], st: LossyState, support: Double,
                    error: Double, attrOf: WinEvent => String)
      : (Seq[WinOut], LossyState) = {
    require(support > 0 && support < 1, s"support must be in (0,1), got $support")
    require(error > 0 && error < support, s"error must be in (0, support), got $error")
    val w = math.ceil(1.0 / error).toLong
    var n = st.n
    var entries = st.entries.toVector
    val out = Seq.newBuilder[WinOut]
    def retract(e: WinEvent): Unit = out += expired(e)
    events.foreach { e =>
      n += 1
      val bucket = (n + w - 1) / w // ⌈n/w⌉
      val a = attrOf(e)
      val i = entries.indexWhere(_.attr == a)
      val en0 =
        if (i >= 0) entries(i).copy(cnt = entries(i).cnt + 1)
        else LossyEntry(a, 1L, bucket - 1, e, emitted = false)
      val qualifies = en0.cnt >= (support - error) * n
      val en1 =
        if (qualifies) {
          if (en0.emitted) retract(en0.ev)
          out += current(e)
          en0.copy(ev = e, emitted = true)
        } else {
          // falling edge on arrival: the threshold (support−error)·n can
          // outgrow a count between boundaries — retract the retained
          // event before replacing it, or the net changelog leaks it
          if (en0.emitted) retract(en0.ev)
          en0.copy(ev = e, emitted = false)
        }
      entries = if (i >= 0) entries.updated(i, en1) else entries :+ en1
      if (n % w == 0) {
        val (dead, live) = entries.partition(en => en.cnt + en.delta <= bucket)
        dead.filter(_.emitted).foreach(en => retract(en.ev))
        entries = live.map { en =>
          if (en.emitted && en.cnt < (support - error) * n) {
            retract(en.ev); en.copy(emitted = false)
          } else en
        }
      }
    }
    (out.result(), LossyState(n, entries))
  }

  def sortTopN(events: Seq[WinEvent], buf: WinBuffer, n: Int,
               descending: Boolean): (Seq[WinOut], WinBuffer) =
    sortTopNMulti(events, buf, n, Seq(SortKey(0, asc = !descending)))

  /** One sort criterion. Numeric criteria ride the double comparand slots:
    * slot 0 sorts on [[WinEvent.value]], slot k >= 1 on `vals(k - 1)`
    * (multi-attribute events carry extra comparands there). Non-numeric
    * criteria (string/timestamp/date/boolean — all of which order correctly
    * in their string rendering) set `sslot` >= 0 and compare
    * `svals(sslot)` as UTF-8 bytes — Spark's binary string collation, so
    * the streaming order matches the batch `orderBy` exactly. NULL is the
    * smallest value under asc (Spark's asc_nulls_first / desc_nulls_last
    * defaults), mirroring the double slots' NULL → -Infinity convention.
    */
  final case class SortKey(slot: Int, asc: Boolean, sslot: Int = -1)

  /** UTF-8 byte-order comparison with NULL smallest — the string-slot twin
    * of `Double.compare` over the NULL → -Infinity double slots.
    */
  private def compareSlotStr(a: String, b: String): Int =
    if (a == null && b == null) 0
    else if (a == null) -1
    else if (b == null) 1
    else java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Multi-criteria sort window (sort_window_processor.rs:25-45 takes an
    * OrderByEventComparator list): retain the n best events under the
    * lexicographic criteria chain, ties broken by arrival (tsUs, eventId).
    * An overflow ejects the WORST retained event as Expired.
    */
  def sortTopNMulti(events: Seq[WinEvent], buf: WinBuffer, n: Int,
                    keys: Seq[SortKey]): (Seq[WinOut], WinBuffer) = {
    require(keys.nonEmpty, "sort window needs at least one criterion")
    var b = buf.events.toVector
    val out = Seq.newBuilder[WinOut]
    def slotOf(e: WinEvent, k: SortKey): Double =
      if (k.slot == 0) e.value else e.vals(k.slot - 1)
    val ord: Ordering[WinEvent] = new Ordering[WinEvent] {
      def compare(x: WinEvent, y: WinEvent): Int = {
        keys.foreach { k =>
          val c =
            if (k.sslot >= 0) compareSlotStr(x.svals(k.sslot), y.svals(k.sslot))
            else java.lang.Double.compare(slotOf(x, k), slotOf(y, k))
          if (c != 0) return if (k.asc) c else -c
        }
        val ct = java.lang.Long.compare(x.tsUs, y.tsUs)
        if (ct != 0) ct else java.lang.Long.compare(x.eventId, y.eventId)
      }
    }
    events.foreach { e =>
      out += current(e)
      b = (b :+ e).sorted(ord)
      if (b.size > n) {
        val ejected = b.last; b = b.init
        out += expired(ejected)
      }
    }
    (out.result(), WinBuffer(b, Nil))
  }

  /** `OUTPUT FIRST|LAST|ALL EVERY n EVENTS` (output_rate.rs:19 Events
    * variant): the stream is cut into consecutive n-event chunks per key;
    * FIRST passes each chunk's first event the moment it arrives (then
    * suppresses the rest), LAST passes the n-th event as the chunk
    * completes, ALL buffers the chunk and flushes it whole on completion.
    * State is a counter (+ at most n-1 buffered events for ALL) per key.
    */
  def everyNEvents(events: Seq[WinEvent], buf: RateBuffer, n: Int,
                   behavior: RateBehavior): (Seq[WinOut], RateBuffer) = {
    require(n > 0, s"EVERY n EVENTS needs n > 0, got $n")
    var cnt = buf.cnt
    var pending = buf.pending.toVector
    val out = Seq.newBuilder[WinOut]
    events.foreach { e =>
      behavior match {
        case RateBehavior.First =>
          if (cnt % n == 0) out += current(e)
          cnt += 1
        case RateBehavior.Last =>
          cnt += 1
          if (cnt % n == 0) out += current(e)
        case RateBehavior.All =>
          pending :+= e
          if (pending.size == n) {
            pending.foreach(p => out += current(p))
            pending = Vector.empty
          }
      }
    }
    (out.result(), RateBuffer(cnt, pending))
  }
}

/** Stateful window kernels the reference has but Spark lacks as built-ins
  * (SURVEY §2.5): length, lengthBatch, per-event sliding time, sort. Each is
  * a `flatMapGroupsWithState` over the window key, so state shards across
  * executors by key — at 100 TB the bound is max per-key window size (N or
  * events-per-duration), never total stream size.
  *
  * The same kernel body runs in batch (flatMapGroupsWithState is supported
  * on batch Datasets with empty initial state), which is how the DuckDB
  * oracles check the result-level semantics; events within a micro-batch
  * are sorted by (tsUs, eventId), cross-batch order is the source contract.
  */
object Windows {
  import WindowKernels.{EmptyBuffer, WinBuffer, current, expired}

  private implicit val keyEnc: Encoder[String] = Encoders.STRING
  private implicit val outEnc: Encoder[WinOut] = Encoders.product[WinOut]
  private implicit val stateEnc: Encoder[Array[Byte]] = Encoders.BINARY

  private def sorted(it: Iterator[WinEvent]): Seq[WinEvent] =
    it.toSeq.sortBy(e => (e.tsUs, e.eventId))

  /** Kernel dispatch: streaming inputs run the keyed-state form, with the
    * state in one binary column through its [[StateCodec]]; batch inputs
    * fold through [[foldSortedS]] — a spillable secondary sort plus a
    * fixed-size chunked fold, so a hot key's whole history is NEVER resident
    * (the flatMapGroupsWithState batch path materializes each key group).
    * Chunked ≡ one-shot is the WindowPropSpec/StreamingSpec-pinned property
    * every kernel satisfies by construction.
    */
  private def keyed[S](ds: Dataset[WinEvent], empty: S)(
      f: (Seq[WinEvent], S) => (Seq[WinOut], S))(
      implicit codec: StateCodec[S]): Dataset[WinOut] =
    if (ds.isStreaming)
      ds.groupByKey(_.key).flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[WinEvent], state: GroupState[Array[Byte]]) =>
          val (out, next) = f(sorted(it), state.getOption.fold(empty)(codec.decode))
          state.update(codec.encode(next))
          out.iterator
      }
    else foldSortedS(ds, empty)(f)

  private def kernel(ds: Dataset[WinEvent])(
      f: (Seq[WinEvent], WinBuffer) => (Seq[WinOut], WinBuffer)): Dataset[WinOut] =
    keyed(ds, EmptyBuffer)(f)

  /** Sliding count window of size n: every arrival emits Current; once full,
    * each arrival also evicts (Expired) the oldest event.
    */
  def length(ds: Dataset[WinEvent], n: Int): Dataset[WinOut] =
    kernel(ds)(WindowKernels.length(_, _, n))

  /** Tumbling count window: buffer n events then flush — the new batch emits
    * Current, the previous batch emits Expired (reference flush protocol).
    */
  def lengthBatch(ds: Dataset[WinEvent], n: Int): Dataset[WinOut] =
    kernel(ds)(WindowKernels.lengthBatch(_, _, n))

  /** Per-event sliding time window (event-time driven, the externalTime
    * semantics): arrival emits Current; events older than durUs relative to
    * the newest event time emit Expired.
    */
  def time(ds: Dataset[WinEvent], durUs: Long): Dataset[WinOut] =
    kernel(ds)(WindowKernels.time(_, _, durUs))

  /** Sort window: retain the n "best" events by value (desc when
    * descending=true); an arrival that overflows the window ejects the worst
    * retained event as Expired.
    */
  def sortTopN(ds: Dataset[WinEvent], n: Int, descending: Boolean = true): Dataset[WinOut] =
    kernel(ds)(WindowKernels.sortTopN(_, _, n, descending))

  /** Multi-criteria sort window: retain the n best under the criteria chain
    * (slot 0 = value, slot k = vals(k-1); sort_window_processor.rs:25-45).
    */
  def sortTopNMulti(ds: Dataset[WinEvent], n: Int,
                    keys: Seq[WindowKernels.SortKey]): Dataset[WinOut] =
    kernel(ds)(WindowKernels.sortTopNMulti(_, _, n, keys))

  /** unique window: keep-LATEST per key — exactly a per-key length(1)
    * (arrival emits Current, previous holder expires). Run it keyed by the
    * unique attribute.
    */
  def unique(ds: Dataset[WinEvent]): Dataset[WinOut] = length(ds, 1)

  /** firstUnique window: only the first event per key passes. */
  def firstUnique(ds: Dataset[WinEvent]): Dataset[WinOut] =
    kernel(ds)(WindowKernels.firstUnique)

  /** delay window: events released durUs of event time after arrival. */
  def delay(ds: Dataset[WinEvent], durUs: Long): Dataset[WinOut] =
    kernel(ds)(WindowKernels.delay(_, _, durUs))

  /** Event-count output rate limiter (`OUTPUT FIRST|LAST|ALL EVERY n
    * EVENTS`): per-key counter in keyed state; ALL additionally buffers the
    * open chunk (bounded by n). Batch-result semantics = q_rate_events'
    * row_number-block query.
    */
  def outputEveryN(ds: Dataset[WinEvent], n: Int,
                   behavior: RateBehavior): Dataset[WinOut] =
    keyed(ds, RateBuffer(0L, Nil))(WindowKernels.everyNEvents(_, _, n, behavior))

  /** frequent window: Misra-Gries top-k by an attribute of the event
    * (default: the value field). State is O(k) per partition key.
    */
  def frequent(ds: Dataset[WinEvent], k: Int,
               attrOf: WinEvent => String = _.value.toString): Dataset[WinOut] =
    keyed(ds, FreqState(Nil)) { (evs, st) =>
      val (out, next) = WindowKernels.frequent(evs, st.entries, k, attrOf)
      (out, FreqState(next))
    }

  /** lossyCounting window: Manku-Motwani heavy hitters at a support
    * threshold with a hard error bound; state O((1/error)·log(error·N))
    * per partition key.
    */
  def lossyCounting(ds: Dataset[WinEvent], support: Double, error: Double,
                    attrOf: WinEvent => String = _.value.toString): Dataset[WinOut] =
    keyed(ds, LossyState(0L, Nil))(
      WindowKernels.lossyCounting(_, _, support, error, attrOf))

  // --------------------------------------------------------------------
  // Watermark-driven idle-key state shedding (EventTimeTimeout variants).
  //
  // The NoTimeout kernels above bound state PER KEY (n events / duration),
  // but a key that goes quiet keeps its buffer forever — at 100 TB key
  // cardinality that is state linear in keys-ever-seen. These variants
  // mirror Cep.detectStream's timed modes: every update registers an
  // event-time timeout at (last arrival + idle horizon); when the
  // watermark passes it, the key's state is flushed THROUGH THE CHANGELOG
  // (retained events emit op=-1 Expired — or op=+1 for delay/ALL-chunk
  // releases — so downstream incremental aggregations stay consistent)
  // and the state-store entry is removed. A later arrival starts the key
  // fresh. For `time` and `delay` the horizon is the window duration
  // itself and the timeout flush is exactly the reference's timer-wheel
  // expiry (timers/timer_wheel.rs) — events whose eviction no newer
  // arrival would otherwise ever prove. For count-shaped kernels the
  // horizon is an explicit TTL and the flush is a documented
  // retract-on-idle semantic the NoTimeout form does not have.
  // --------------------------------------------------------------------

  private def withEventTime(ds: Dataset[WinEvent], watermarkDelay: String): Dataset[WinEvent] = {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    implicit val evEnc: Encoder[WinEvent] = Encoders.product[WinEvent]
    ds.toDF()
      .withColumn("eventTime", timestamp_micros(col("tsUs")))
      .withWatermark("eventTime", watermarkDelay)
      .as[WinEvent]
  }

  /** Shared EventTimeTimeout kernel harness: `f` is the pure kernel,
    * `evict` renders a timed-out key's state into final changelog rows,
    * `isEmpty` lets drained keys drop their entry immediately (no shell
    * rows — the Cep remove-on-drain contract).
    */
  private def timeoutKernel[S](ds: Dataset[WinEvent], watermarkDelay: String,
      idleUs: Long, empty: S, isEmpty: S => Boolean, evict: S => Seq[WinOut])(
      f: (Seq[WinEvent], S) => (Seq[WinOut], S))(
      implicit codec: StateCodec[S]): Dataset[WinOut] = {
    require(idleUs > 0, s"idle horizon must be positive, got $idleUs us")
    withEventTime(ds, watermarkDelay).groupByKey(_.key).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (_: String, it: Iterator[WinEvent], state: GroupState[Array[Byte]]) =>
        if (state.hasTimedOut) {
          val out = state.getOption.map(b => evict(codec.decode(b))).getOrElse(Nil)
          state.remove()
          out.iterator
        } else {
          val events = sorted(it)
          val (out, next) = f(events, state.getOption.fold(empty)(codec.decode))
          if (isEmpty(next)) state.remove()
          else {
            state.update(codec.encode(next))
            // ceil to ms, clamped above the watermark (the store rejects
            // at-or-below registrations)
            state.setTimeoutTimestamp(math.max(
              (events.map(_.tsUs).max + idleUs + 999L) / 1000L,
              state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
        }
    }
  }

  private def bufEmpty(b: WinBuffer): Boolean = b.events.isEmpty && b.prev.isEmpty
  private def expireAll(es: Seq[WinEvent]): Seq[WinOut] =
    es.map(e => expired(e))
  private def releaseAll(es: Seq[WinEvent]): Seq[WinOut] =
    es.map(e => current(e))

  /** time window with timer-accurate expiry: when the watermark passes
    * (newest arrival + durUs), every retained event is provably expired —
    * emit the Expired rows no future arrival would trigger and drop the
    * key's state. This is the semantics gap of the NoTimeout form (which
    * only expires on a newer same-key arrival) closed, not just hygiene.
    */
  def timeWithTimeout(ds: Dataset[WinEvent], durUs: Long,
                      watermarkDelay: String): Dataset[WinOut] =
    timeoutKernel(ds, watermarkDelay, durUs, EmptyBuffer, bufEmpty,
      (b: WinBuffer) => expireAll(b.events))(WindowKernels.time(_, _, durUs))

  /** delay window with timer-accurate release: watermark passing
    * (newest + durUs) proves every held event's delay has elapsed — release
    * them (Current) and drop the key.
    */
  def delayWithTimeout(ds: Dataset[WinEvent], durUs: Long,
                       watermarkDelay: String): Dataset[WinOut] =
    timeoutKernel(ds, watermarkDelay, durUs, EmptyBuffer, bufEmpty,
      (b: WinBuffer) => releaseAll(b.events))(WindowKernels.delay(_, _, durUs))

  /** length window + idle TTL: a key quiet for idleTtlUs retracts its
    * window contents (Expired) and frees its state.
    */
  def lengthWithTimeout(ds: Dataset[WinEvent], n: Int, idleTtlUs: Long,
                        watermarkDelay: String): Dataset[WinOut] =
    timeoutKernel(ds, watermarkDelay, idleTtlUs, EmptyBuffer, bufEmpty,
      (b: WinBuffer) => expireAll(b.events))(WindowKernels.length(_, _, n))

  /** lengthBatch window + idle TTL: the last flushed batch retracts; the
    * open partial chunk was never emitted, so it vanishes silently.
    */
  def lengthBatchWithTimeout(ds: Dataset[WinEvent], n: Int, idleTtlUs: Long,
                             watermarkDelay: String): Dataset[WinOut] =
    timeoutKernel(ds, watermarkDelay, idleTtlUs, EmptyBuffer, bufEmpty,
      (b: WinBuffer) => expireAll(b.prev))(WindowKernels.lengthBatch(_, _, n))

  /** sort window + idle TTL: retained top-n retracts on idle expiry. */
  def sortTopNWithTimeout(ds: Dataset[WinEvent], n: Int, descending: Boolean,
                          idleTtlUs: Long, watermarkDelay: String): Dataset[WinOut] =
    timeoutKernel(ds, watermarkDelay, idleTtlUs, EmptyBuffer, bufEmpty,
      (b: WinBuffer) => expireAll(b.events))(
      WindowKernels.sortTopN(_, _, n, descending))

  /** multi-criteria sort window + idle TTL: retained top-n retracts. */
  def sortTopNMultiWithTimeout(ds: Dataset[WinEvent], n: Int,
                               keys: Seq[WindowKernels.SortKey], idleTtlUs: Long,
                               watermarkDelay: String): Dataset[WinOut] =
    timeoutKernel(ds, watermarkDelay, idleTtlUs, EmptyBuffer, bufEmpty,
      (b: WinBuffer) => expireAll(b.events))(
      WindowKernels.sortTopNMulti(_, _, n, keys))

  /** unique (keep-latest) + idle TTL: the latest holder retracts. */
  def uniqueWithTimeout(ds: Dataset[WinEvent], idleTtlUs: Long,
                        watermarkDelay: String): Dataset[WinOut] =
    lengthWithTimeout(ds, 1, idleTtlUs, watermarkDelay)

  /** firstUnique + idle TTL: the first-seen marker ages out silently (its
    * Current was already emitted; a post-TTL arrival passes again — the
    * TTL'd-dedup semantic, same shape as streamingExact's horizon).
    */
  def firstUniqueWithTimeout(ds: Dataset[WinEvent], idleTtlUs: Long,
                             watermarkDelay: String): Dataset[WinOut] =
    timeoutKernel(ds, watermarkDelay, idleTtlUs, EmptyBuffer, bufEmpty,
      (_: WinBuffer) => Nil)(WindowKernels.firstUnique)

  /** lossyCounting + idle TTL: emitted heavy-hitter events retract; the
    * sketch (counts, Δs, N) is discarded — a post-TTL arrival restarts the
    * key's stream, the same fresh-start contract as the other kernels.
    */
  def lossyCountingWithTimeout(ds: Dataset[WinEvent], support: Double,
                               error: Double, idleTtlUs: Long, watermarkDelay: String,
                               attrOf: WinEvent => String = _.value.toString): Dataset[WinOut] = {
    timeoutKernel[LossyState](ds, watermarkDelay, idleTtlUs, LossyState(0L, Nil),
      (s: LossyState) => s.n == 0L && s.entries.isEmpty,
      (s: LossyState) => expireAll(s.entries.filter(_.emitted).map(_.ev))) {
      (events, st) => WindowKernels.lossyCounting(events, st, support, error, attrOf)
    }
  }

  /** frequent window + idle TTL: tracked heavy-hitter entries retract. */
  def frequentWithTimeout(ds: Dataset[WinEvent], k: Int, idleTtlUs: Long,
                          watermarkDelay: String,
                          attrOf: WinEvent => String = _.value.toString): Dataset[WinOut] = {
    timeoutKernel[FreqState](ds, watermarkDelay, idleTtlUs, FreqState(Nil),
      (s: FreqState) => s.entries.isEmpty,
      (s: FreqState) => expireAll(s.entries.map(_.ev))) {
      (events, st) =>
        val (out, next) = WindowKernels.frequent(events, st.entries, k, attrOf)
        (out, FreqState(next))
    }
  }

  /** Batch window evaluation with BOUNDED per-key memory — the hot-key
    * scale path, same shape as Cep.detectSorted: secondary sort (spillable)
    * orders each partition by (key, ts, id); the sorted run folds through
    * the pure kernel in fixed-size chunks, so resident memory is one chunk
    * plus the kernel's own state (n events / duration-bounded), never a hot
    * key's full history. Chunked fold ≡ one-shot because every kernel is a
    * (events, state) → (out, state) fold — the property WindowPropSpec pins.
    */
  def foldSorted(ds: Dataset[WinEvent], chunkSize: Int = 1 << 16)(
      f: (Seq[WinEvent], WinBuffer) => (Seq[WinOut], WinBuffer)): Dataset[WinOut] =
    foldSortedS(ds, EmptyBuffer, chunkSize)(f)

  /** [[foldSorted]] generalized over the kernel's state type, so the
    * sketch-state kernels (frequent / lossyCounting / output-rate) get the
    * same bounded-memory batch path as the buffer-state ones.
    */
  def foldSortedS[S](ds: Dataset[WinEvent], empty: S, chunkSize: Int = 1 << 16)(
      f: (Seq[WinEvent], S) => (Seq[WinOut], S)): Dataset[WinOut] = {
    import org.apache.spark.sql.functions.col
    implicit val evEnc: Encoder[WinEvent] = Encoders.product[WinEvent]
    val sorted = ds.repartition(col("key"))
      .sortWithinPartitions(col("key"), col("tsUs"), col("eventId"))
      .as[WinEvent]
    sorted.mapPartitions { it =>
      val b = it.buffered
      new Iterator[Iterator[WinOut]] {
        def hasNext: Boolean = b.hasNext
        def next(): Iterator[WinOut] = {
          val key = b.head.key
          var st = empty
          val chunks = new Iterator[Seq[WinEvent]] {
            def hasNext: Boolean = b.hasNext && b.head.key == key
            def next(): Seq[WinEvent] = {
              val buf = Vector.newBuilder[WinEvent]
              var n = 0
              while (n < chunkSize && b.hasNext && b.head.key == key) {
                buf += b.next(); n += 1
              }
              buf.result()
            }
          }
          chunks.flatMap { evs => val (out, st2) = f(evs, st); st = st2; out }
        }
      }.flatten
    }
  }

  /** OUTPUT EVERY n EVENTS + idle TTL: ALL flushes its open chunk (those
    * events were admitted but never released — dropping them silently would
    * lose data); FIRST/LAST just free the counter. A post-TTL arrival
    * starts a fresh chunk.
    */
  def outputEveryNWithTimeout(ds: Dataset[WinEvent], n: Int,
                              behavior: RateBehavior, idleTtlUs: Long,
                              watermarkDelay: String): Dataset[WinOut] = {
    timeoutKernel[RateBuffer](ds, watermarkDelay, idleTtlUs, RateBuffer(0L, Nil),
      (s: RateBuffer) => s.cnt == 0L && s.pending.isEmpty,
      (s: RateBuffer) => releaseAll(s.pending)) {
      (events, st) => WindowKernels.everyNEvents(events, st, n, behavior)
    }
  }
}
