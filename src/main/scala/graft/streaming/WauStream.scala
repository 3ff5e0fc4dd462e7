package graft.streaming

import EventTimeState.{wakeAt, watermarkUs}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** Streaming form of e15's rolling 7-day active users: each observed day
  * emits its WAU exactly once when the watermark closes it. Same
  * scalable decomposition as the batch query — an event contributes
  * MAP-SIDE to the 7 report days it can count toward (explode BEFORE
  * any shuffle; the shuffle is 7× the events, keyed by report day, never
  * a per-day self-join of the log) — then per-day exact distinct via
  * keyed state.
  *
  * Finality: every contributor to day d has ts < end(d) (its own day is
  * the youngest in [d−6, d]), so once the watermark reaches end(d) any
  * further contributor would be dropped as late → d's user set is
  * frozen, emit and CLEAR. A day is emitted only if OBSERVED (some event
  * fell on d itself — batch e15's semi-join against the day list);
  * unobserved days inside a gap accumulate contributor state but emit
  * nothing, and still clear at their deadline.
  *
  * State: the in-flight days' user-id sets — ~7-8 days × daily-active
  * users under the watermark horizon, the inherent floor for EXACT
  * rolling distinct (e07's HLL sketch is the documented approx swap when
  * DAU itself is too big per key). Event-time timeout drains days the
  * stream went quiet on.
  */
object WauStream {

  final case class Contrib(day: Long, user_id: Long, observed: Boolean,
      ts: java.sql.Timestamp)
  final case class WauRow(day: String, wau: Long)

  /** (user ids seen for this report day, day itself observed?) */
  type St = (Set[Long], Boolean)

  private val DayUs = 86400L * 1000000L

  /** `events` must carry `ts` (timestamp) and `user_id`. The explode
    * runs before the watermark. */
  def rollingWau(events: DataFrame): Dataset[WauRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val contribs = events
      .select(col("ts"), col("user_id"),
        datediff(to_date(date_trunc("day", col("ts"))), lit("1970-01-01"))
          .cast("long").as("eday"))
      .select(col("ts"), col("user_id"), col("eday"),
        explode(expr("sequence(eday, eday + 6)")).as("day"))
      .select(col("ts"), col("user_id"), col("day"),
        (col("day") === col("eday")).as("observed"))
      .as[Contrib]
    EventTimeState.keyed(contribs)(_.day)(process)
  }

  private[streaming] def process(day: Long, rows: Iterator[Contrib],
      state: GroupState[St]): Iterator[WauRow] = {
    var (users, observed) = state.getOption.getOrElse((Set.empty[Long], false))
    rows.foreach { c =>
      users += c.user_id
      observed |= c.observed
    }
    val wm = watermarkUs(state)
    val endOfDay = (day + 1L) * DayUs
    if (wm >= endOfDay) {
      state.remove()
      if (observed)
        Iterator.single(WauRow(java.time.LocalDate.ofEpochDay(day).toString, users.size.toLong))
      else Iterator.empty
    } else {
      state.update((users, observed))
      // wake at the day's deadline so it emits even if the stream goes
      // quiet on this key
      wakeAt(state, endOfDay)
      Iterator.empty
    }
  }
}
