package graft.streaming

/** The contract every streaming sequential monitor shares
  * ([[StreamingSprt]], [[StreamingPageHinkley]], [[StreamingCusum]],
  * [[StreamingTost]] — and the next one), extracted so a new monitor
  * cannot quietly re-implement one leg wrong:
  *
  *  1. '''Within-batch fold order.''' A sequential statistic is a
  *     function of the observation ORDER. Spark hands
  *     `flatMapGroupsWithState` a micro-batch's group rows in shuffle
  *     order — nondeterministic run to run. Every monitor therefore
  *     folds in (event-time, tiebreak-id) order within the batch
  *     ([[ordered]]); ACROSS batches the fold follows arrival order,
  *     which is inherent to any sequential test and pinned by
  *     StreamingSpec feeding explicit batches.
  *  2. '''The one-shot latch.''' Detectors (SPRT, Page–Hinkley,
  *     CUSUM) emit exactly ONE decision row per key and then go
  *     quiet; observations arriving after the latch must not mutate
  *     the decided statistic ([[latchedFold]]). Gauges (TOST) opt
  *     out — a running readout re-emits per batch by design.
  *  3. '''Event-time-anchored timeouts.''' A day-granular monitor
  *     closes its open day either when a later-day event arrives or
  *     when the event-time timeout fires. The timeout must anchor on
  *     the OPEN DAY'S OWN END ([[dayCloseTs]]), never on the current
  *     watermark: a watermark-anchored timeout moves with unrelated
  *     keys' progress and can close a day the key still owes late
  *     events inside the watermark (the bug StreamingSpec caught on
  *     the EWMA-family monitor before this contract existed).
  *  4. '''The day clock and the grids.''' A day is [[DayMs]] of
  *     event time ([[epochDay]]). Values fold as `Behavior.micro`
  *     integers, outputs round through `TextF.round4HalfUp` /
  *     `round6HalfUp` / `microsTo4dp` and arms come from
  *     `Behavior.arm2`: the batch twins' grids, as scalar twins.
  *
  * State codecs stay case classes of longs/doubles/flags (constant
  * size per key — product encoders, no Kryo), which is what keeps
  * 10⁶ keys of monitor state in kilobytes per executor at 100 TB.
  */
object SequentialMonitor {

  /** Contract leg 1: the deterministic within-batch fold order —
    * (event-time millis, tiebreak id), both ascending. Materializes
    * the batch's group rows (bounded by the micro-batch, not the
    * stream). */
  def ordered[T](evs: Iterator[T])(key: T => (Long, Long)): Seq[T] =
    evs.toVector.sortBy(key)

  /** Contract legs 1+2 fused: fold the batch's observations in
    * [[ordered]] order through `step`, skipping every observation
    * once `latched` reads true — the one-shot decision contract.
    * `step` returns the advanced state plus an optional emission;
    * emissions are collected in fold order. The caller persists the
    * returned state and emits the rows. */
  def latchedFold[T, S, O](evs: Iterator[T], init: S)
                          (key: T => (Long, Long))
                          (latched: S => Boolean)
                          (step: (S, T) => (S, Option[O])): (S, Vector[O]) = {
    var cur = init
    val out = Vector.newBuilder[O]
    ordered(evs)(key).foreach { t =>
      if (!latched(cur)) {
        val (nxt, emit) = step(cur, t)
        cur = nxt
        emit.foreach(out += _)
      }
    }
    (cur, out.result())
  }

  /** Contract leg 3: the event-time timestamp at which an open
    * day-granular window closes — the last millisecond OF THAT DAY,
    * never a watermark-relative offset (see object doc). Pass to
    * `GroupState.setTimeoutTimestamp` with the stream's watermark
    * delay as the additional duration. */
  def dayCloseTs(openDay: Long): Long = (openDay + 1L) * DayMs - 1L

  /** Contract leg 4: one day of event time in ms and in µs, and the
    * UTC epoch day of an event-time ms or µs. */
  val DayMs: Long = 86400000L
  val DayUs: Long = DayMs * 1000L
  def epochDay(ms: Long): Long = Math.floorDiv(ms, DayMs)
  def epochDayOfMicros(us: Long): Long = Math.floorDiv(us, DayUs)
}
