package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch gap-based sessionization: the classic clickstream/etl operator —
  * consecutive events of one key belong to one session while the gap
  * between them stays <= `gapSeconds`; a larger gap starts a new session.
  * It is a one-shot batch pass over the full history, bit-exact and
  * cross-engine replayable (pure integer epoch-microsecond math — no
  * float, no timezone).
  *
  * Scale shape: ONE hash shuffle on the key. The boundary lag, the
  * running boundary sum (= session ordinal) and the final per-session
  * groupBy all share the same partitioning, so Catalyst plans a single
  * Exchange; per-key state is one window sort (events of one key sort
  * within a task — same caveat as any per-key window: a single key with
  * billions of events serializes, real keys don't).
  *
  * Determinism under duplicate timestamps: boundaries depend only on the
  * MULTISET of timestamps per key (tied rows always land in the same
  * session: their pairwise gap is 0), so the per-session aggregates are
  * stable no matter how the sort breaks ties.
  */
object Sessions {

  /** @return one row per (key, session): 1-based `session_id` in time
    * order, `start_us`/`end_us` epoch-microsecond bounds, `n_events`.
    */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
                 gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, s"gapSeconds must be positive, got $gapSeconds")
    val gapUs = math.multiplyExact(gapSeconds, 1000000L)
    // TZ-independent epoch-microsecond extraction (r6 hardening): naive
    // inputs (TIMESTAMP_NTZ / DATE / STRING wall times) measure micros
    // against the NTZ epoch via timestampdiff — pure wall-clock integer
    // math that a non-UTC `spark.sql.session.timeZone` cannot shift (the
    // r5 `cast("timestamp")` routed NTZ through the session zone: correct
    // under Verify/Bench's pinned UTC, silently drifted for a library
    // caller in any other zone). Zoned inputs keep unix_micros, which is
    // an absolute instant already.
    import org.apache.spark.sql.types.{DateType, StringType, TimestampNTZType}
    val tsUs = events.schema(tsCol).dataType match {
      case TimestampNTZType | DateType | StringType =>
        expr(s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', " +
          s"CAST(`$tsCol` AS TIMESTAMP_NTZ))")
      case _ => unix_micros(col(tsCol).cast("timestamp"))
    }
    val byKey = Window.partitionBy(keyCol).orderBy(tsUs)
    val prev = lag(tsUs, 1).over(byKey)
    val boundary = when(prev.isNull || tsUs - prev > gapUs, 1L).otherwise(0L)
    events
      .withColumn("__ts_us", tsUs)
      .withColumn("session_id", sum(boundary).over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("session_id"))
      .agg(min(col("__ts_us")).as("start_us"),
        max(col("__ts_us")).as("end_us"),
        count(lit(1)).as("n_events"))
  }
}
