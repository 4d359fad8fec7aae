package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.StreamGate

/** Oracle gates for the native `session_window` operator, batch and
  * streaming (SURVEY.md §2.5 time windows; the reference's scheduled
  * micro-batch + 1h late-data policy maps to watermarked streaming,
  * SURVEY §1.4).
  *
  * q32 verifies gap-sessionization as a lag+cumsum COMPOSITION; these two
  * gate the native operator itself: q57 runs it as a batch aggregation,
  * q58 runs the same plan under `readStream` in APPEND mode — real
  * watermark semantics, where a session only emits once the watermark
  * passes its end — and both must hash-match the same DuckDB oracle.
  *
  * Timestamps truncate to milliseconds BEFORE the session grouping: the
  * fixture carries sub-millisecond components, and a gap within 1 ms of
  * the 5-minute boundary would otherwise merge in Spark (µs precision)
  * and split in the oracle (ms precision). Truncation makes the gap
  * comparison identical in both engines. Session merge is strict
  * (touching windows split): the oracle breaks on `diff >= gap`, matching
  * `MergingSessionsIterator`'s `start < end` merge test.
  *
  * Every file-source gate below streams parquet the ENGINE wrote (the
  * normalized [[graft.Tables]] view staged by
  * [[graft.streaming.StreamGate]]), never the raw fixture file: the
  * fixture's physical ts encoding has already changed once (raw nanos
  * longs → TIMESTAMP(MICROS)), and staging the normalized frame makes
  * the micro-batch arithmetic — splits, sentinels, watermarks —
  * encoding-independent. All event-time arithmetic runs in epoch-µs longs
  * (`unix_micros`), TimestampType's native grain.
  */
object SessionGates {

  private val GapMs = 300000L

  /** Events row count, memoized per fixture dir (parquet footer
    * metadata — one cheap job, shared across gates and reps). */
  private val evCountCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  private[ops] def eventCount(s: SparkSession, d: String): Long =
    evCountCache.getOrElseUpdate(d, Tables(s, d, "events").count())

  /** (min, max, avg) of `unix_micros(ts)` over the events table,
    * memoized per fixture dir: every streaming harness derives its
    * micro-batch split from these three numbers, and they are FIXTURE
    * metadata (immutable per dir for the life of the JVM), so one agg
    * replaces the one-driver-job-per-gate-per-rep the bench otherwise
    * pays. The avg stays a Double so call sites truncate exactly as the
    * inline `avg(...).getDouble.toLong` they replace. */
  private val tsStatsCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long, Double)]
  private[ops] def eventTsStats(s: SparkSession, d: String): (Long, Long, Double) =
    tsStatsCache.getOrElseUpdate(d, {
      val r = Tables(s, d, "events").agg(
        min(unix_micros(col("ts"))), max(unix_micros(col("ts"))),
        avg(unix_micros(col("ts")))).head()
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    })

  /** 2020-01-01T00:00:00Z in epoch-ms — the fixed base the q98 serving
    * metric offsets from so per-key sums stay far from Long overflow. */
  private[ops] val BaseEpochMs = 1577836800000L

  private def msEvents(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .select(col("user_id"),
        timestamp_millis(unix_millis(col("ts"))).as("tsm"))

  private def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("tsm"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events"))

  /** One watermark-advancing event (user_id -1) in the events schema:
    * the q58 sentinel and the q67 purchase/click pair. */
  private def sentinelRow(ev: DataFrame, id: Long, tsMicros: Long,
                          eventType: String): DataFrame =
    ev.limit(1).select(
      lit(id).as("event_id"),
      timestamp_micros(lit(tsMicros)).as("ts"),
      lit(-1L).as("user_id"), lit(eventType).as("event_type"),
      lit(0.0).as("value"), lit("{}").as("props"))

  /** `ev` split into the two time-ordered halves at epoch-µs `mid`. */
  private def splitAt(ev: DataFrame, mid: Long): Seq[DataFrame] =
    Seq(unix_micros(col("ts")) <= mid, unix_micros(col("ts")) > mid)
      .map(c => ev.filter(c))

  /** q57: native session_window as a batch aggregation. One hash shuffle
    * on user_id, sessions merged per-partition — no window function, no
    * self-join; at 100 TB this is the cheapest sessionization shape Spark
    * has. */
  private def q57(s: SparkSession, d: String): DataFrame =
    sessionAgg(msEvents(s, d)).orderBy("user_id", "session_start_ms")

  /** q58: the same aggregation under Structured Streaming, APPEND mode —
    * sessions emit only when the 10-minute watermark passes their end.
    * A single sentinel event 2 hours past the corpus max (user_id -1,
    * filtered from the result; its own session never closes) advances the
    * watermark past every real session so the gate observes the complete
    * emission path: batch 1 consumes all files, the trailing no-data
    * micro-batch fires on the watermark advance and flushes every closed
    * session to the parquet sink. This is the production flush pattern for
    * bounded replays of unbounded pipelines — no `complete` mode, no
    * state-peeking. */
  private def q58(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_sessions", d) { g =>
    val ev = Tables(s, d, "events") // ts: TimestampType, µs grain
    val maxMicros = eventTsStats(s, d)._2
    g.arrive(ev, "events")
    g.arrive(sentinelRow(ev, -1L, maxMicros + 7200L * 1000000L, "sentinel"),
      "sentinel")
    val stream = g.readIn(ev.schema, oneFilePerBatch = false)
      .select(col("user_id"),
        timestamp_millis(unix_millis(col("ts"))).as("tsm"))
      .withWatermark("tsm", "10 minutes")
    // The streaming aggregation's state partition count is pinned by the
    // checkpoint at first start; every partition costs a state store
    // instance PER MICRO-BATCH (this query runs two: data + watermark
    // flush). At real scale this knob is sized to state volume, not set
    // to the batch shuffle default; the harness holds it for the query's
    // whole (serial) lifetime and restores it before anything else runs.
    g.drainParquet(sessionAgg(stream))
    val landed = Tables.readParquet(s, g.data).filter(col("user_id") >= 0)
    g.localizeAndDrop(landed, "user_id", "session_start_ms")
    }

  /** q118: DYNAMIC-GAP session windows — `session_window`'s expression-
    * gap form, the policy surface the fixed-gap gates (q57/q58) never
    * touch: each EVENT carries its own inactivity allowance (purchases
    * hold the session open 10 minutes, everything else 5), so a session's
    * extent depends on WHAT happened, not just when. Same merge
    * semantics as the fixed gap — event window `[ts, ts+gap(event))`,
    * overlapping windows merge, end = max end — and the same 100 TB
    * shape: one hash shuffle on user_id, per-partition merge, the gap
    * evaluated per-row inside the scan (a codegen'd CASE, no second
    * pass). The oracle recomputes the interval merge with a running-max
    * window over explicit per-event gap millis. */
  private def q118(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "events")
      .select(col("user_id"), col("event_type"),
        timestamp_millis(unix_millis(col("ts"))).as("tsm"))
      .groupBy(session_window(col("tsm"),
        when(col("event_type") === "purchase", "10 minutes")
          .otherwise("5 minutes")), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events"))
      .orderBy("user_id", "session_start_ms")

  /** q119: STREAMING quantile-sketch maintenance
    * ([[graft.streaming.QuantileSketchProcessor]]) — the t29 mergeable
    * histogram carried as `MapState[bin, count]` across micro-batches:
    * per event_type, each batch emits the RUNNING p50/p90 cents-bin
    * cutoffs over everything seen so far, without storing or sorting a
    * single event. Two file-fed batches (ts mid-split under
    * `maxFilesPerTrigger=1`); batch-2 emissions must reflect batch-1
    * counts folded through the state store — the oracle recomputes
    * batch-1 rows from pre-mid events and batch-2 rows from ALL events,
    * with the identical integer bin (`cents div 64`) and cutoff
    * (`k·cum >= m·n`) arithmetic, so a dropped or double-merged bin
    * moves the hash. */
  private def q119(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_streamquant", d, StreamGate.RocksDb) { g =>
      val ev = Tables(s, d, "events")
      val mid = { val st = eventTsStats(s, d); (st._1 + st._2) / 2 }
      g.arriveSlices(splitAt(ev, mid))
      import s.implicits._
      val stream = g.readIn(ev.schema)
        .select(col("event_type"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .as[graft.streaming.TypedCents]
      val emits = stream.groupByKey(_.event_type)
        .transformWithState(new graft.streaming.QuantileSketchProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
      g.drainParquet(emits.toDF())
      g.localizeAndDrop(Tables.readParquet(s, g.data), "event_type", "n_total")
    }

  /** q85: CHAINED stateful aggregations in ONE streaming query — Spark
    * 4's multiple-stateful-operators-in-append surface, which none of the
    * other gates touch: per-user 1-minute tumbling counts feed a second
    * 10-minute tumbling aggregation (peak minute-rate, active-minute
    * count, total) WITHOUT landing the intermediate anywhere. The two
    * state stores chain on the PROPAGATED event-time window column
    * (`window(col("window"), ...)` — the window-of-window API); the
    * shared watermark closes both levels, and the q58 sentinel flush
    * drives the final emission. This is the streaming form of a rollup
    * cascade (q83's serving-grain discipline, kept incremental): at 100
    * TB/day the minute grain never materializes to storage, only its
    * running partials live in state. */
  private def q85(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_chain", d) { g =>
      val ev = Tables(s, d, "events")
      val maxMicros = eventTsStats(s, d)._2
      g.arrive(ev, "events")
      g.arrive(sentinelRow(ev, -1L, maxMicros + 7200L * 1000000L, "sentinel"),
        "sentinel")
      val stream = g.readIn(ev.schema, oneFilePerBatch = false)
        .select(col("user_id"),
          timestamp_millis(unix_millis(col("ts"))).as("tsm"))
        .withWatermark("tsm", "10 minutes")
      val minuteCounts = stream
        .groupBy(window(col("tsm"), "1 minute"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val tenMinute = minuteCounts
        .groupBy(window(col("window"), "10 minutes"), col("user_id"))
        .agg(max(col("n")).as("peak_minute"),
          count(lit(1)).as("active_minutes"),
          sum(col("n")).as("n_events"))
        .select(col("user_id"),
          unix_millis(col("window.start")).as("w_start_ms"),
          col("peak_minute"), col("active_minutes"), col("n_events"))
      g.drainParquet(tenMinute)
      val landed = Tables.readParquet(s, g.data).filter(col("user_id") >= 0)
      g.localizeAndDrop(landed, "user_id", "w_start_ms")
    }

  /** q112: COMPLETE output mode — the last cell of the streaming
    * output-mode matrix (append: q58 and the join/sessionization gates;
    * update: q98's serving sink; complete: here), and the ONLY mode in
    * which a streaming query may ORDER BY and LIMIT: because every
    * trigger rewrites the ENTIRE result, a global sort over it is
    * well-defined — the live-dashboard contract. Complete mode is only
    * affordable when the aggregate is small-cardinality (event-type
    * grain, never event grain: the sink rewrites |result| rows per
    * trigger forever — at 100 TB that's fine for a 5-row leaderboard
    * and catastrophic for anything keyed by user). The corpus arrives
    * as two time-split files processed one per trigger
    * (maxFilesPerTrigger=1), so the final table must reflect
    * aggregation state CARRIED across triggers, reranked and rewritten
    * whole each time; it hash-matches the batch oracle's top-3 from
    * the raw table. Returns the served frame + the non-empty trigger
    * count (spec pins >= 2 — a single-trigger run wouldn't prove the
    * rewrite-every-trigger contract). */
  private[ops] def q112Harness(s: SparkSession, d: String): (DataFrame, Int) =
    StreamGate(s, "graft_complete", d) { g =>
      val ev = Tables(s, d, "events")
      g.arriveSlices(splitAt(ev, eventTsStats(s, d)._3.toLong))
      val ranked = g.readIn(ev.schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
            .as("sum_cents"))
        .orderBy(col("n").desc, col("event_type").asc)
        .limit(3)
      val triggers = g.drain(ranked.writeStream.format("memory")
        .queryName("graft_q112").outputMode("complete")) { q =>
        q.processAllAvailable()
        q.recentProgress.count(_.numInputRows > 0)
      }
      (g.localizeAndDrop(s.sql(
        "SELECT event_type, n, sum_cents FROM graft_q112 " +
          "ORDER BY n DESC, event_type")), triggers)
    }

  private def q112(s: SparkSession, d: String): DataFrame =
    q112Harness(s, d)._1

  /** q62: stream-stream INTERVAL JOIN under real multi-batch streaming —
    * the one streaming operator family the other gates don't cover. Each
    * purchase picks up the same user's clicks from the preceding 30
    * minutes ([[graft.streaming.EventStreams.purchasesWithClicks]]: both
    * sides watermarked, the join condition bounds event time on both
    * ends, so buffered state is evicted as the watermark advances — the
    * only way stream-stream join state stays bounded at scale). The
    * events corpus is split at its mean timestamp into TWO time-ordered
    * files processed one per micro-batch (`maxFilesPerTrigger 1`), so
    * cross-boundary matches must come from buffered click state, not from
    * a single-batch degenerate join. Timestamps truncate to ms before the
    * join (the q57/q58 move) so the interval compare is engine-identical;
    * the landed pairs hash-match a DuckDB self-join oracle. */
  private def q62(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_ssjoin", d) { g =>
      val ev = Tables(s, d, "events")
      // any split point yields the same join result; the mean just makes
      // both micro-batches non-trivial
      g.arriveSlices(splitAt(ev, eventTsStats(s, d)._3.toLong))
      val stream = g.readIn(ev.schema)
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_millis(unix_millis(col("ts"))).as("ts"))
      val joined = graft.streaming.EventStreams.purchasesWithClicks(stream)
      // StreamGate.shards() state stores per side per micro-batch
      g.drainParquet(joined)
      val landed = Tables.readParquet(s, g.data)
        .select(col("purchase_id"), col("uid"),
          unix_millis(col("purchase_ts")).as("purchase_ms"),
          col("click_id"), unix_millis(col("click_ts")).as("click_ms"))
      g.localizeAndDrop(landed, "purchase_id", "click_id")
    }

  /** q95: the LEFT-SEMI leg of the stream-stream join family — "which
    * purchases had at least one click in the preceding 30 minutes",
    * emitted ONCE per matched purchase with no click payload. Completes
    * the support matrix q62 (inner) and q67 (left outer) leave open, and
    * its state/emission semantics are distinct from both: a semi match
    * emits EAGERLY on the micro-batch its first matching click arrives
    * in (no watermark-close wait — that's q67's outer rows), and the
    * join state marks the purchase emitted so a second click in a later
    * batch cannot re-emit it. The corpus replays as q62's two
    * time-ordered micro-batches, so cross-boundary matches must come
    * from buffered click state and batch-2 re-matches must dedupe
    * against batch-1 emissions; the landed set hash-matches a DuckDB
    * EXISTS oracle. Same bounded-state argument as q62: both sides
    * watermarked, the interval bounds event time on both ends. */
  private def q95(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_sssemi", d) { g =>
      val ev = Tables(s, d, "events")
      g.arriveSlices(splitAt(ev, eventTsStats(s, d)._3.toLong))
      val stream = g.readIn(ev.schema)
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_millis(unix_millis(col("ts"))).as("ts"))
      g.drainParquet(graft.streaming.EventStreams
        .purchasesWithClicks(stream, joinType = "left_semi"))
      val landed = Tables.readParquet(s, g.data)
        .select(col("purchase_id"), col("uid"),
          unix_millis(col("purchase_ts")).as("purchase_ms"))
      g.localizeAndDrop(landed, "purchase_id")
    }

  /** q98: UPDATE output mode + an upsert serving sink — the third leg of
    * the output-mode matrix (every other gate emits APPEND; COMPLETE
    * re-emits all state per batch and is anti-scale by construction).
    * Update mode emits only the keys whose aggregate CHANGED in the
    * micro-batch — the live-dashboard serving pattern: per-user running
    * totals flow through `foreachBatch` into a keyed table upserted in
    * place (old rows whose key re-emitted are replaced; untouched keys
    * survive). The corpus replays as q62's two time-ordered files, so
    * batch-2 emissions must carry batch-1 state (cumulative counts) and
    * the upsert must overwrite batch-1's rows for re-emitted keys while
    * keeping keys that only appeared in batch 1 — both failure modes
    * (state loss, lost upsert) move the hash off the batch oracle.
    *
    * Scale shape: update mode bounds each batch's emission by changed
    * keys, not state size, and the sink is
    * [[Relational.upsertServePartitioned]] — the q68 partition-grain
    * merge: each batch touches only the hash partitions its changed keys
    * route to, nothing serving-table-sized reaches the driver, untouched
    * partitions come through the staged swap byte-identical
    * (UpsertServeSpec pins both). The summed metric is the ms offset from
    * a fixed base epoch (2020-01-01), not raw epoch-µs: a raw-µs sum
    * overflows Long at ~5 400 events/user, an ANSI-mode abort the oracle
    * would not mirror — the bounded offset pushes that to ~4.8e7
    * events/user, past any per-key cardinality a serving table holds. */
  private def q98(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_upd", d) { g =>
      val ev = Tables(s, d, "events")
      g.arriveSlices(splitAt(ev, eventTsStats(s, d)._3.toLong))
      val serving = s"${g.dir}/serving"
      val agg = g.readIn(ev.schema)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(unix_millis(col("ts")) - lit(BaseEpochMs)).as("sum_off_ms"))
      g.drain(agg.writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // persist: the merge runs two actions over the batch (the
          // partition-metadata collect + the staged write); without a
          // cache each would replay the stateful micro-batch plan
          batch.persist()
          try Relational.upsertServePartitioned(s, serving, batch,
            batchId, "user_id", Seq("n_events", "sum_off_ms"))
          finally { batch.unpersist(); () }
        })(_.processAllAvailable())
      // serve THROUGH the manifest (TxTable) — the crash-consistent path
      val served = TxTable.read(s, serving)
        .select(col("k").as("user_id"), col("n_events"), col("sum_off_ms"))
      g.localizeAndDrop(served, "user_id")
    }

  /** q67: the LEFT-OUTER twin of q62 — "every purchase, with its clicks OR
    * a null-click row if none arrived in the window". The outer rows have
    * different state-eviction semantics from the inner join: a purchase's
    * null-click row may only emit once the watermark passes its event time
    * (the point where a matching click can no longer arrive), so the gate
    * feeds a SECOND micro-batch of watermark-advancing sentinel events
    * (user_id -1, 90/120 min past the corpus max — one purchase to move
    * the purchase-side watermark node, one later click to move the click
    * side; the global watermark is the min of both, so both must move).
    * The sentinels are filtered from the landed result; the remainder must
    * hash-match a DuckDB LEFT JOIN oracle. `sentinel = false` exists for
    * the spec that pins outer rows EMIT ONLY on watermark advance: without
    * the sentinel batch, purchases near the stream end must be missing
    * their null rows. */
  private[ops] def streamOuterJoinGate(s: SparkSession, d: String,
                                       sentinel: Boolean,
                                       joinType: String = "left_outer"): DataFrame = {
    val prefix = (joinType match {
      case "full_outer"  => "graft_ssfj"
      case "right_outer" => "graft_ssrj"
      case _             => "graft_ssoj"
    }) + (if (sentinel) "" else "_ns")
    StreamGate(s, prefix, d) { g =>
      val ev = Tables(s, d, "events")
      val maxMicros = eventTsStats(s, d)._2
      // ONE data batch + the sentinel batch (r14 diet): the outer legs'
      // distinctive property is EVICTION emission on watermark close —
      // cross-batch buffered-state matching is q62's (inner) and q95's
      // (semi) pinned property, and the join result is batching-invariant
      // (same data, time-ordered arrival, nothing late), so the third
      // micro-batch bought commit overhead, not coverage. The sentinel
      // batch still has to arrive AFTER the data for the flush to be a
      // cross-batch watermark advance.
      val slices: Seq[DataFrame] =
        Seq(ev) ++
          (if (sentinel)
            // purchase first, click 30 min later: the click arrives AFTER
            // the sentinel purchase so the two never pair — every uid -1
            // row in the sink would be a real semantics bug, not fixture
            // noise
            Seq(sentinelRow(ev, -1L, maxMicros + 5400L * 1000000L, "purchase")
              .unionByName(
                sentinelRow(ev, -2L, maxMicros + 7200L * 1000000L, "click")))
          else Seq.empty)
      g.arriveSlices(slices) // arrival order
      val stream = g.readIn(ev.schema)
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_millis(unix_millis(col("ts"))).as("ts"))
      g.drainParquet(graft.streaming.EventStreams
        .purchasesWithClicks(stream, joinType = joinType))
      val landed = Tables.readParquet(s, g.data)
        .filter(col("uid") >= 0) // drop the watermark sentinels
        .select(col("purchase_id"), col("uid"),
          unix_millis(col("purchase_ts")).as("purchase_ms"),
          col("click_id"), unix_millis(col("click_ts")).as("click_ms"))
      g.localizeAndDrop(landed, "purchase_id", "click_id")
    }
  }

  private def q67(s: SparkSession, d: String): DataFrame =
    streamOuterJoinGate(s, d, sentinel = true)

  /** q99: the FULL-outer leg — the last of the stream-stream join matrix
    * (q62 inner / q67 left-outer / q95 left-semi). Both unmatched sides
    * must emit on watermark close: a purchase with no click in its 30-min
    * lookback lands a null-click row once the watermark passes its event
    * time (q67's leg), and a click no purchase claimed lands a
    * null-purchase row once the watermark passes the point where a
    * claiming purchase could still arrive (click_ts + 30 min — the
    * symmetric eviction bound). The q67 three-batch harness already
    * advances both sides' watermark nodes far enough (90/120 min past
    * corpus max ≫ the 30-min horizon + 10-min delay), so the same
    * sentinels flush BOTH legs; hash-matches a DuckDB FULL JOIN oracle.
    * State bounds are identical to the inner join — full-outer adds
    * emission on eviction, not retention. */
  private def q99(s: SparkSession, d: String): DataFrame =
    streamOuterJoinGate(s, d, sentinel = true, joinType = "full_outer")

  /** q134: the RIGHT-outer leg — the mirror of q67 that closes the
    * stream-stream join-type matrix for good (q62 inner / q67 left-outer /
    * q95 left-semi / q99 full-outer / q134 right-outer). Every click lands;
    * a click no purchase claimed emits a null-purchase row once the
    * watermark passes the point where a claiming purchase could still
    * arrive (click_ts + the 30-min horizon — the same symmetric eviction
    * bound as q99's click leg). Semantically right-outer is left-outer with
    * the build/probe roles swapped, but the STATE math is not symmetric
    * here: the time-range condition bounds click_ts by purchase_ts from
    * both sides, so the unmatched-click flush waits on the PURCHASE
    * watermark, which q67's sentinel batch advances. Hash-matches a DuckDB
    * RIGHT JOIN oracle. */
  private def q134(s: SparkSession, d: String): DataFrame =
    streamOuterJoinGate(s, d, sentinel = true, joinType = "right_outer")

  /** q65: stateful streaming dedup under at-least-once redelivery — the
    * ingest-side screen every streaming pipeline runs before anything
    * downstream. The whole events table arrives TWICE (two identical
    * files, one per micro-batch: a full redelivery, the worst case), and
    * `dropDuplicatesWithinWatermark(event_id)` must land exactly the
    * distinct events: batch-2 rows are either matched against batch-1
    * dedup state (ts within the watermark horizon) or dropped as late
    * (ts behind it) — both paths suppress the duplicate, which is why
    * watermark-bounded state is SUFFICIENT for redelivery dedup, and the
    * only state shape that survives 100 TB/day (ids older than the
    * horizon are evicted instead of accumulating forever). Hash-matches
    * the batch DISTINCT oracle. */
  private def q65(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_sdd", d) { g =>
      val ev = Tables(s, d, "events")
      val part = StreamGate.stage(ev, "events")
      g.arrive(part, "f0") // identical copies = full redelivery
      g.arrive(part, "f1")
      g.drainParquet(g.readIn(ev.schema)
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_millis(unix_millis(col("ts"))).as("tsm"))
        .withWatermark("tsm", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id"))
      val landed = Tables.readParquet(s, g.data)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_millis(col("tsm")).as("ts_ms"))
      g.localizeAndDrop(landed, "event_id")
    }

  /** q69: streaming CDC apply — q68's partition-grain merge driven by an
    * unbounded change feed, the production loop of a continuously-
    * maintained snapshot (Debezium topic → lake table). The q68 change
    * batch splits into two time-ordered files (updates first, then
    * deletes + inserts) processed one per micro-batch; each batch applies
    * [[Relational.mergePartitioned]] through `foreachBatch` — the
    * documented pattern for sinks with semantics Spark lacks natively.
    * The merge is IDEMPOTENT under batch redelivery (change rows carry
    * absolute values and beat the landed snapshot's seq-0 rows on every
    * replay — spec-pinned), so at-least-once `foreachBatch` delivery
    * still yields exactly-once snapshot state, with no dedup bookkeeping.
    * Sequential application (update then delete on the overlap keys)
    * lands the same final snapshot as q68's single-shot log-ordered
    * merge — the gate hash-matches q68's oracle verbatim. */
  private def q69(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_scdc", d) { g =>
      val snapDir = s"${g.dir}/snap"
      Tables(s, d, "customer")
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"), col("c_nationkey").as("p"))
        .write.partitionBy("p").parquet(snapDir)
      val changes = Relational.q68Changes(s, d)
      g.arriveSlices(Seq(changes.filter(col("op") === "U"),
        changes.filter(col("op") =!= "U"))) // arrival order
      g.drain(g.readIn(changes.schema).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Relational.mergePartitioned(s, snapDir, batch, Seq("name", "bal"))
          ()
        }, shards = None)(_.processAllAvailable())
      val mergedSnap = Tables.readParquet(s, snapDir)
        .select(col("k"), col("name"), col("bal"),
          col("p").cast("int").as("p"))
      g.localizeAndDrop(mergedSnap, "k")
    }

  /** q74: per-user cumulative totals via Spark 4's `transformWithState`
    * ([[graft.streaming.CumulativeTotalsProcessor]]) under real
    * multi-batch streaming on the RocksDB state store (the only provider
    * the new API supports). The events corpus splits at the integer
    * midpoint timestamp ((min+max) div 2 in epoch-µs — exact in both
    * engines, unlike a float mean) into two micro-batches; each batch a
    * user appears in emits that user's RUNNING totals, so batch-2 rows
    * prove per-key state survived the batch boundary (they carry batch-1's
    * counts). Values pre-scale to integer cents (floor(v·100+0.5) —
    * identical in both engines for any sign), so the accumulation is
    * order-free and the whole output hash-matches a DuckDB oracle
    * computing both batches' cumulative totals from scratch. */
  private def q74(s: SparkSession, d: String): DataFrame =
    twsGate(s, d, "graft_tws", new graft.streaming.CumulativeTotalsProcessor,
      org.apache.spark.sql.streaming.TimeMode.None())

  /** q84: the TTL-EVICTION twin of q74 — same two-micro-batch replay, but
    * the per-user state carries a 1 ms TTL
    * ([[graft.streaming.TtlTotalsProcessor]]): by batch 2 every user's
    * batch-1 state has expired (a micro-batch boundary is always ≫ 1 ms),
    * so batch-2 rows carry totals over batch 2 ALONE — state eviction
    * under key churn, observed end-to-end through the RocksDB store. The
    * oracle computes both batches' totals INDEPENDENTLY; q74's oracle
    * (batch-2 totals over ALL events) differs on every user with events in
    * both halves, so the pair of gates pins carried vs evicted state as
    * distinct, oracle-checked behaviors of the same API surface. */
  private def q84(s: SparkSession, d: String): DataFrame =
    twsGate(s, d, "graft_ttl", new graft.streaming.TtlTotalsProcessor(1L),
      // TTL state is processing-time-scoped by API contract, so the TTL
      // gate runs the processor under ProcessingTime; the arithmetic
      // stays event-derived, so the output is still deterministic
      org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
      drainByCommits = true)

  /** q89: EVENT-TIME TIMERS on `transformWithState`
    * ([[graft.streaming.SessionTimeoutProcessor]]) — sessions close when
    * the per-user timer registered at `last_event + 5 min` fires as the
    * watermark passes it, never when new data arrives (handleInputRows
    * emits nothing; the spec pins that). The events corpus replays as ONE
    * time-ordered micro-batch plus the q58 sentinel (user -1, 2 h past
    * corpus max) that advances the watermark over every real timer — the
    * trailing no-data batch then fires them all and flushes the complete
    * session set (cross-batch timer re-registration and stale-timer
    * no-ops are pinned by StreamGatesR10Spec's multi-batch replays).
    * Output must hash-match
    * q57/q58's batch session oracle: three gates, three mechanisms
    * (batch agg / session_window streaming / timer-driven arbitrary
    * state), one truth. */
  private def q89(s: SparkSession, d: String): DataFrame =
    // delta uploads per commit, not full snapshots — the q90 maintenance
    // conf; the timer gate pays 3 commits (data batch + sentinel batch +
    // the watermark-driven firing batch)
    StreamGate(s, "graft_timers", d, StreamGate.Changelog) { g =>
      val ev = Tables(s, d, "events")
      val maxMicros = eventTsStats(s, d)._2
      // ONE data batch + the sentinel batch (r14 diet): the gate's
      // distinctive property is timers FIRING on a cross-batch watermark
      // advance, which the sentinel batch still provides; cross-batch
      // session extension / stale-timer no-ops / exactly-once emission
      // over a shared pending list are pinned by StreamGatesR10Spec's
      // synthetic multi-batch replays, and the landed session set is
      // batching-invariant for time-ordered arrival — the second corpus
      // batch bought a full RocksDB changelog commit, not coverage.
      g.arrive(ev, "f0")
      g.arrive(sentinelRow(ev, -1L, maxMicros + 7200L * 1000000L, "sentinel"),
        "sentinel")
      import s.implicits._
      val stream = g.readIn(ev.schema)
        .select(col("user_id"),
          timestamp_millis(unix_millis(col("ts"))).as("tsm"))
        .withWatermark("tsm", "0 seconds")
        .as[graft.streaming.SessEvent]
      val sessions = stream.groupByKey(_.user_id)
        .transformWithState(new graft.streaming.SessionTimeoutProcessor(300000L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append())
      // CPU-bound timer work: 8 shards, 32 past the sf0.1 corpus size
      g.drainParquet(sessions.toDF(), shards = Some(StreamGate.shards(8,
        Option.when(eventCount(s, d) > 200000L)(32))))
      // the sentinel user's own session never closes (nothing advances the
      // watermark past ITS timer) — by construction it cannot land; the
      // filter documents the contract rather than trusting it
      val landed = Tables.readParquet(s, g.data).filter(col("user_id") >= 0)
      g.localizeAndDrop(landed, "user_id", "session_start_ms")
    }

  /** q90: state-store MAINTENANCE — RocksDB changelog checkpointing
    * under a full QUERY RESTART, the ops half of the streaming story
    * q74/q84/q89 leave implicit. The cumulative-totals processor runs as
    * TWO SEPARATE streaming queries against ONE checkpoint: run 1
    * processes the first half of the corpus and stops (a planned
    * shutdown); run 2 is a brand-new query instance that must recover
    * every user's state from the checkpoint before processing the second
    * half. Output is q74's exact two-batch contract — batch-2 rows carry
    * batch-1 counts — so the same oracle pins that recovery lost nothing
    * and duplicated nothing (the file source's checkpoint must also hand
    * run 2 ONLY the unprocessed file).
    *
    * Changelog checkpointing is what makes this shape operable at scale:
    * each commit uploads the batch's delta instead of a full RocksDB
    * snapshot, turning per-batch checkpoint cost from O(state) into
    * O(changes) — the difference between minutes and sub-second commits
    * once per-key state reaches the tens of GB. The gate requires the
    * changelog files to actually exist in the checkpoint before it reads
    * results, so the conf can't silently regress to snapshot-only. */
  private def q90(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_restart", d, StreamGate.Changelog) { g =>
      val ev = Tables(s, d, "events")
      val Seq(before, after) =
        splitAt(ev, { val st = eventTsStats(s, d); (st._1 + st._2) / 2 })
      import s.implicits._
      def runOnce(): Unit = {
        val stream = g.readIn(ev.schema, oneFilePerBatch = false)
          .select(col("user_id"),
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
          .as[graft.streaming.UserEvent]
        g.drainParquet(stream.groupByKey(_.user_id)
          .transformWithState(new graft.streaming.CumulativeTotalsProcessor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Append()).toDF())
      }
      // run 1: first half only, then a planned shutdown
      g.arrive(before, "f0")
      runOnce()
      // run 2: a NEW query on the same checkpoint — state must recover,
      // and the source checkpoint must admit only the new file
      g.arrive(after, "f1")
      runOnce()
      // the maintenance property: per-batch changelog files exist (delta
      // uploads, not full snapshots) — state dir layout:
      // ckpt/state/0/<partition>/<version>.changelog
      val changelogs = {
        val stateDir = new java.io.File(g.dir, "ckpt/state")
        if (!stateDir.exists()) Array.empty[java.io.File]
        else {
          def walk(f: java.io.File): Array[java.io.File] =
            if (f.isDirectory) f.listFiles().flatMap(walk) else Array(f)
          walk(stateDir).filter(_.getName.endsWith(".changelog"))
        }
      }
      require(changelogs.nonEmpty,
        s"changelog checkpointing produced no .changelog files under ${g.ckpt}/state")
      g.localizeAndDrop(Tables.readParquet(s, g.data), "user_id", "n_events", "sum_cents")
    }

  /** q108: STATE-SCHEMA EVOLUTION across a restart — the upgrade story
    * q90's same-processor restart leaves open: run 1 accumulates per-user
    * totals with the v1 state type; run 2 is the UPGRADED deployment
    * ([[graft.streaming.EvolvedTotalsProcessor]] — state grew an
    * `Option[Long]` field) resuming on the SAME checkpoint under Avro
    * state encoding. The store decodes v1 rows with the new field absent
    * and writes v2 rows — no migration job, no replay: the only operable
    * upgrade path once keyed state reaches the tens of TB. The gate's
    * output unions both runs (run-1 rows carry `max_cents_run2 = -1` —
    * the run-1 schema widened at read; run-2 rows carry lifetime totals
    * PLUS the new field folded over run-2 events only, its absent-state
    * default observable), so a dropped field, a misdecoded v1 row, or
    * lost carried counts each move the hash. */
  private def q108(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_evolve", d, StreamGate.AvroState) { g =>
      val ev = Tables(s, d, "events")
      val Seq(before, after) =
        splitAt(ev, { val st = eventTsStats(s, d); (st._1 + st._2) / 2 })
      import s.implicits._
      def stream = g.readIn(ev.schema, oneFilePerBatch = false)
        .select(col("user_id"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .as[graft.streaming.UserEvent]
      g.arrive(before, "f0")
      g.drainParquet(stream.groupByKey(_.user_id)
        .transformWithState(new graft.streaming.CumulativeTotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append()).toDF())
      g.arrive(after, "f1")
      g.drainParquet(stream.groupByKey(_.user_id)
        .transformWithState(new graft.streaming.EvolvedTotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append()).toDF())
      // one sink dir (the file-sink metadata log is checkpoint-tied); the
      // run-1 files carry the NARROW schema — the output evolved with the
      // state, and mergeSchema widens the old rows with the read-time
      // default, exactly like the store widened the v1 state rows
      val landed = s.read.option("mergeSchema", "true").parquet(g.data)
        .withColumn("max_cents_run2",
          coalesce(col("max_cents_run2"), lit(-1L)))
      g.localizeAndDrop(landed,
        "user_id", "n_events", "sum_cents", "max_cents_run2")
    }

  /** q113: STREAM-STATIC join — the one Structured Streaming join leg the
    * q62/q67/q95/q99 stream-stream matrix never touches: a streaming fact
    * (events) inner-joined to a STATIC dimension (a customer-derived tier
    * table) via an explicit `broadcast()`. The join is STATELESS — no
    * watermark, no join state store; each micro-batch hash-probes the
    * broadcast dim and emits immediately, which is why at 100 TB/day this
    * is the default enrichment shape (state cost O(dim), not O(stream)).
    *
    * The defining stream-static semantic — the static side is re-bound to
    * CURRENT dim contents at each query (re)start, not frozen at first
    * start — is exercised the only honest way a path-based parquet dim
    * allows: two runs over one checkpoint (the q108/q90 restart pattern;
    * within one run a parquet DataFrame pins its file listing in its
    * InMemoryFileIndex, so mid-run dim edits are invisible by design).
    * Run 1 joins batch-1 events against dim v1 (tier = raw c_mktsegment);
    * run 2 resumes the SAME checkpoint with dim v2 — MACHINERY rebranded
    * AUTOMATION and every `c_custkey % 10 = 3` customer DELETED — so
    * run-2 joined rows carry v2 tiers and run-2 events of deleted
    * customers drop (the inner join's filter effect, observable in
    * n_events). The landed per-event join rows batch-aggregate to per
    * (dimv, tier, event_type) counts; a frozen static side, a stale file
    * listing, or a non-rebound dim each move the hash. */
  private def q113(s: SparkSession, d: String): DataFrame =
    streamStaticHarness(s, d)

  /** The q113 harness, public-in-package so the spec can inspect what the
    * driver's hash gate can't: `inspect` runs after both streaming runs
    * with (scratch root, run-2's last executed micro-batch plan) while the
    * checkpoint and sink still exist on disk. */
  private[ops] def streamStaticHarness(
      s: SparkSession, d: String,
      inspect: (java.io.File, String) => Unit = (_, _) => ()): DataFrame =
    StreamGate(s, "graft_streamstatic", d) { g =>
      val ev = Tables(s, d, "events")
      val Seq(before, after) =
        splitAt(ev, { val st = eventTsStats(s, d); (st._1 + st._2) / 2 })
      def dim(v: Int): DataFrame = {
        val base = Tables(s, d, "customer")
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("tier"))
        val versioned =
          if (v == 1) base
          else base
            .withColumn("tier", when(col("tier") === "MACHINERY",
              lit("AUTOMATION")).otherwise(col("tier")))
            .filter(col("user_id") % 10 =!= 3)
        versioned.withColumn("dimv", lit(v))
      }
      def runOnce(v: Int): String =
        g.drain(g.parquetSink(g.readIn(ev.schema, oneFilePerBatch = false)
          .select(col("event_id"), col("user_id"), col("event_type"))
          .join(broadcast(dim(v)), Seq("user_id"), "inner"))) { q =>
          q.processAllAvailable(); lastMicroBatchPlan(q)
        }
      g.arrive(before, "f0")
      runOnce(1)
      g.arrive(after, "f1")
      val plan2 = runOnce(2)
      val landed = Tables.readParquet(s, g.data)
        .groupBy(col("dimv"), col("tier"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"),
          sum(col("event_id")).cast("long").as("sum_event_id"))
      val result = ExportOps.localize(landed)
      inspect(g.dir, plan2)
      ExportOps.deleteRecursively(g.dir)
      result.orderBy("dimv", "tier", "event_type")
    }

  /** The last micro-batch's executed physical plan, via reflection across
    * the `private[sql]` StreamingQueryWrapper → StreamExecution →
    * IncrementalExecution chain (the same objects `q.explain()` prints —
    * this returns them as a string instead of printing). Best-effort: a
    * query that ran no batch yields "". */
  private def lastMicroBatchPlan(
      q: org.apache.spark.sql.streaming.StreamingQuery): String =
    try {
      val se = q.getClass.getMethod("streamingQuery").invoke(q)
      val le = se.getClass.getMethod("lastExecution").invoke(se)
      if (le == null) ""
      else le.getClass.getMethod("executedPlan").invoke(le).toString
    } catch { case _: ReflectiveOperationException => "" }

  /** q100: `transformWithState` INITIAL-STATE bootstrap — the standard
    * batch→streaming migration path none of q74/q84/q89/q90 touch: a
    * user's history arrives ONCE as batch-computed state
    * ([[graft.streaming.BootstrappedTotalsProcessor]].handleInitialState),
    * and the stream replays only the post-midpoint events as TWO
    * micro-batches (split again at the 3/4-point), so emissions prove
    * BOTH hops: batch-1 history carried in via initial state (never as
    * events), then carried across a streaming batch boundary. The
    * processor keeps a second state variable — a `MapState[event_type,
    * count]` — whose key-set size lands in every output row (`n_types`),
    * so a bootstrap that drops or double-applies the map moves the hash
    * exactly like the totals. Oracle recomputes each batch's membership
    * from scratch: batch-a rows are lifetime totals over ts ≤ m2 for
    * users with events in (m, m2]; batch-b rows are totals over ALL
    * events for users with events > m2. */
  private def q100(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_boot", d, StreamGate.RocksDb) { g =>
      val ev = Tables(s, d, "events")
      val (mnS, maxMicros, _) = eventTsStats(s, d)
      val mid = (mnS + maxMicros) / 2
      val mid2 = (mid + maxMicros) / 2
      val tsu = unix_micros(col("ts"))
      g.arriveSlices(Seq(ev.filter(tsu > mid && tsu <= mid2),
        ev.filter(tsu > mid2)))
      import s.implicits._
      val centsExpr = expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
      // batch-computed history: per-user totals + per-type counts over the
      // pre-midpoint half — distributed state, co-partitioned with the
      // stream by the grouping key (never a driver-side load)
      val base = ev.filter(tsu <= mid)
        .select(col("user_id"), centsExpr.as("cents"), col("event_type"))
      val perType = base.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("tc"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(
          collect_list(struct(col("event_type"), col("tc")))).as("type_counts"))
      val init = base.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .join(perType, Seq("user_id"))
        .as[graft.streaming.BootstrapState]
        .groupByKey(_.user_id)
      val stream = g.readIn(ev.schema)
        .select(col("user_id"), centsExpr.as("cents"), col("event_type"))
        .as[graft.streaming.TypedEvent]
      g.drainParquet(stream.groupByKey(_.user_id)
        .transformWithState(new graft.streaming.BootstrappedTotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append(), init).toDF())
      g.localizeAndDrop(Tables.readParquet(s, g.data), "user_id", "n_events", "sum_cents")
    }

  /** q103: late REDELIVERY under sessionization — the composed ingest
    * shape production needs, gated because the naïve shape is silently
    * wrong: Spark's append-mode session aggregation does NOT drop input
    * rows behind the watermark (verified empirically on 4.1.2 — a
    * redelivered batch 30 days behind the watermark re-opened closed
    * sessions and RE-EMITTED them, inflating the sink; the engine
    * reported zero `numRowsDroppedByWatermark` throughout). "Late data
    * is dropped" is a property of the PIPELINE, not the operator — so
    * the pipeline here puts q65's ingest screen
    * (`dropDuplicatesWithinWatermark(event_id)`) IN FRONT of q58's
    * session aggregation: the redelivered rows (same event ids — a
    * retry, the realistic late-data source) are absorbed by the screen,
    * and the landed sessions hash-match the untouched q57/q58 oracle.
    * StreamGatesR11Spec pins the footgun directly: the SAME harness
    * without the screen inflates the session event-count sum by exactly
    * the planted rows. */
  private def q103(s: SparkSession, d: String): DataFrame =
    lateRedeliveryHarness(s, d, screened = true)

  /** The q103 harness, public-in-package so the spec can run the
    * UNSCREENED variant and observe the inflation the screen prevents.
    * Returns the landed (filtered, localized) session rows. */
  private[ops] def lateRedeliveryHarness(s: SparkSession, d: String,
                                         screened: Boolean): DataFrame = {
    StreamGate(s, if (screened) "graft_late" else "graft_late_ns", d) { g =>
      val ev = Tables(s, d, "events")
      val (minMicros, maxMicros, _) = eventTsStats(s, d)
      // batch 1: the whole corpus — the watermark lands at max - 10 min
      g.arrive(ev, "f0")
      // batch 2: a REDELIVERY of rows from the corpus start, strictly
      // behind the watermark (guarded: first quarter of the span, which
      // must exceed the 10-min delay for the plant to be late at all)
      require(maxMicros - minMicros > 4L * 600L * 1000000L,
        "fixture span too short to plant unambiguously late rows")
      val lateCut = minMicros + (maxMicros - minMicros) / 4
      val late = ev.filter(unix_micros(col("ts")) <= lateCut)
      require(late.limit(1).count() > 0, "no late rows to plant")
      g.arrive(late, "f1")
      // batch 3: the q58 sentinel flushes every closed session
      g.arrive(sentinelRow(ev, -1L, maxMicros + 7200L * 1000000L, "sentinel"),
        "sentinel")
      val ingest = g.readIn(ev.schema)
        .select(col("event_id"), col("user_id"),
          timestamp_millis(unix_millis(col("ts"))).as("tsm"))
        .withWatermark("tsm", "10 minutes")
      val screenedStream =
        if (screened) ingest.dropDuplicatesWithinWatermark("event_id")
        else ingest
      g.drainParquet(sessionAgg(screenedStream.drop("event_id")))
      val landed = Tables.readParquet(s, g.data).filter(col("user_id") >= 0)
      g.localizeAndDrop(landed, "user_id", "session_start_ms")
    }
  }

  /** q106: MULTIPLE STATEFUL OPERATORS in one streaming query — the
    * stream-stream interval join (q62) feeding a windowed aggregation,
    * in one plan: the funnel-rate shape ("purchase-with-click events per
    * hour") that needed two separate queries and an intermediate topic
    * before Spark 3.4's watermark PROPAGATION — the join's output
    * watermark (input watermark minus the join's maximal event-time
    * delay) drives the downstream window's closing, so both operators'
    * state stays bounded in a single query. q85 chains agg→agg; this
    * gates the harder join→agg leg. The q67 sentinel pair advances both
    * join sides far enough that every real pair emits AND every real
    * hourly window closes; sentinel-derived rows cannot contribute (the
    * uid -1 purchase finds no click). Hash-matches a DuckDB replay of
    * the join feeding an hour-bucketed count. */
  private def q106(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_joinagg", d) { g =>
      val ev = Tables(s, d, "events")
      val maxMicros = eventTsStats(s, d)._2
      // two micro-batches only (corpus, then the watermark sentinels):
      // cross-batch JOIN state is already q62's gated property — this
      // gate's property is the operator CHAIN, and every extra batch
      // costs ~12 state-store commits (3 stateful ops × 8 partitions +
      // logs); the sentinel batch still drives the full propagation
      // cascade (join flush → per-purchase agg close → hourly close)
      g.arriveSlices(Seq(ev,
          // sentinel margin arithmetic (the sf0.1 full-sweep fix): the
          // LAST hourly window closes only when the join-output watermark
          // (min sentinel ts − 10 min delay − 30 min join horizon) passes
          // the window end, which can sit up to 60 min past maxMicros —
          // the old +90/+120 min sentinels cleared only maxMicros+50 min,
          // so whether the final window flushed depended on where
          // maxMicros fell inside its hour (sf0.01 landed late → lucky
          // pass; sf0.1 landed early → one silently missing output row).
          // +240/+270 min clears the worst case with 140 min of slack;
          // sentinels still can't contribute rows (uid −1 filter).
          sentinelRow(ev, -1L, maxMicros + 14400L * 1000000L, "purchase")
            .unionByName(
              sentinelRow(ev, -2L, maxMicros + 16200L * 1000000L, "click"))))
      val stream = g.readIn(ev.schema)
        .select(col("event_id"), col("user_id"), col("event_type"),
          timestamp_millis(unix_millis(col("ts"))).as("ts"))
      val joined = graft.streaming.EventStreams
        .purchasesWithClicks(stream, joinType = "inner")
      // distinct aggregations are unsupported on streams, and the
      // composition doesn't need one: a per-(window, purchase) stateful
      // aggregate first (click count per matched purchase), then the
      // hourly rollup — THREE chained stateful operators (join → agg →
      // agg), each driven by the propagated watermark
      // NO in-plan sentinel filter (the sf0.1 full-sweep fix): a
      // `uid >= 0` filter here is pushed by Catalyst through the
      // EventTimeWatermark nodes into the parquet scan (constraint
      // inference propagates it onto BOTH join legs), so the sentinel
      // rows are pruned before the watermark collectors ever see their
      // event times — the watermark stays corpus-level, the last hourly
      // window never closes, and its row is silently missing (offset log
      // admits the sentinel file; numInputRows=0 is the pushed-filter
      // row-group skip). Sentinel exclusion needs no filter at all:
      // the sentinel click (max+270 min) is STRICTLY AFTER the sentinel
      // purchase (max+240 min), so `click_ts <= purchase_ts` can never
      // hold and no sentinel-derived pair exists to aggregate. Gates
      // whose sentinels DO reach the sink filter on the batch READ-BACK
      // (the q58/q103 pattern), never inside the streaming plan.
      val hourly = joined
        .groupBy(window(col("purchase_ts"), "1 hour"), col("purchase_id"))
        .agg(count(lit(1)).as("n_clicks"))
        .groupBy(col("window"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("n_clicks")).as("n_pairs"))
        .select(unix_millis(col("window.start")).as("hour_start_ms"),
          col("n_pairs"), col("n_purchases"))
      g.drainParquet(hourly)
      g.localizeAndDrop(Tables.readParquet(s, g.data), "hour_start_ms")
    }

  /** q105: STREAMING in-flight observation — `Dataset.observe` on an
    * unbounded stream (q93 gates the batch form): data-quality counters
    * ride the ingest edge of the q58 session pipeline and surface per
    * micro-batch through `StreamingQueryProgress.observedMetrics`, the
    * zero-extra-pass monitoring hook (the metrics compute inside the
    * existing scan, no second job, no sink). The landed sessions still
    * hash-match the untouched session oracle — observation must be
    * side-effect-free — and StreamGatesR11Spec pins the accounting: the
    * per-batch observed row counts sum to exactly corpus + sentinel, and
    * the observed cents sum equals the batch-computed total. */
  private def q105(s: SparkSession, d: String): DataFrame =
    observedSessionHarness(s, d)._1

  /** Runs q105's observed pipeline; returns (landed sessions, observed
    * row-count sum, observed cents sum) for the accounting spec. */
  private[ops] def observedSessionHarness(s: SparkSession, d: String)
      : (DataFrame, Long, Long) =
    StreamGate(s, "graft_observe", d) { g =>
      val ev = Tables(s, d, "events")
      val maxMicros = eventTsStats(s, d)._2
      g.arrive(ev, "events")
      g.arrive(sentinelRow(ev, -1L, maxMicros + 7200L * 1000000L, "sentinel"),
        "sentinel")
      val stream = g.readIn(ev.schema)
        .observe("ingest", count(lit(1)).as("n_rows"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("sum_cents"))
        .select(col("user_id"),
          timestamp_millis(unix_millis(col("ts"))).as("tsm"))
        .withWatermark("tsm", "10 minutes")
      // progress read after stop, when every batch's progress is in
      val q = g.drain(g.parquetSink(sessionAgg(stream))) { q =>
        q.processAllAvailable(); q
      }
      val observed = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("ingest")))
        .map(r => (r.getAs[Long]("n_rows"),
          Option(r.getAs[Any]("sum_cents")).fold(0L)(_.asInstanceOf[Long])))
      val landed = Tables.readParquet(s, g.data).filter(col("user_id") >= 0)
      (g.localizeAndDrop(landed, "user_id", "session_start_ms"),
        observed.map(_._1).sum, observed.map(_._2).sum)
    }

  /** q102: the checkpoint AS A TABLE — Spark 4's state-store data source
    * (`spark.read.format("statestore")`), the ops introspection surface
    * q90's recovery story implies but never exposes: after a streaming
    * aggregation commits, its per-key state is read back as a plain
    * batch DataFrame (key/value structs + partition_id) straight from
    * the checkpoint, no query restart, no state peeking hacks. The q98
    * two-file replay runs a per-user count/sum aggregate in UPDATE mode;
    * the gate then reads the FINAL state and must hash-match the plain
    * batch aggregate oracle — state content, not emissions, is the
    * checked artifact. The reader's `batchId` option time-travels to the
    * state AS OF an earlier commit (StateSourceSpec pins batch 0 =
    * first-file-only totals — the debugging move this source exists
    * for).
    *
    * Scale shape: the source reads state files partition-parallel
    * (partition_id is a first-class column); nothing rehydrates through
    * the streaming runtime, so inspecting TB-scale state costs one scan
    * of the store, not a replay. */
  private def q102(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_statesrc", d) { g =>
      stateSourceHarness(s, d, g.dir)
      val st = s.read.format("statestore").option("path", g.ckpt).load()
      val totals = st.select(col("key.user_id").as("user_id"),
        col("value.count").as("n_events"),
        col("value.sum").as("sum_off_ms"))
      g.localizeAndDrop(totals, "user_id")
    }

  /** Runs q102's two-batch streaming aggregate to completion against
    * `out/ckpt`, public-in-package for StateSourceSpec's time-travel
    * pin. The foreachBatch sink only drains the iterator (b.count) —
    * the artifact under test is the STATE the commits leave behind. */
  private[ops] def stateSourceHarness(s: SparkSession, d: String,
                                      out: java.io.File): Unit = {
    val g = StreamGate.over(s, out)
    val ev = Tables(s, d, "events")
    g.arriveSlices(splitAt(ev, eventTsStats(s, d)._3.toLong))
    val agg = g.readIn(ev.schema)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(unix_millis(col("ts")) - lit(BaseEpochMs)).as("sum_off_ms"))
    g.drain(agg.writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) => batch.count(); () }
    )(_.processAllAvailable())
  }

  private def twsGate(s: SparkSession, d: String, prefix: String,
      processor: org.apache.spark.sql.streaming.StatefulProcessor[
        Long, graft.streaming.UserEvent, graft.streaming.UserCumulative],
      timeMode: org.apache.spark.sql.streaming.TimeMode,
      drainByCommits: Boolean = false): DataFrame =
    StreamGate(s, prefix, d, StreamGate.RocksDb) { g =>
      val ev = Tables(s, d, "events")
      g.arriveSlices(splitAt(ev,
        { val st = eventTsStats(s, d); (st._1 + st._2) / 2 })) // arrival order
      import s.implicits._
      val stream = g.readIn(ev.schema)
        .select(col("user_id"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .as[graft.streaming.UserEvent]
      val totals = stream.groupByKey(_.user_id)
        .transformWithState(processor, timeMode,
          org.apache.spark.sql.streaming.OutputMode.Append())
      // Under ProcessingTime (the TTL gate), the stateful operator keeps
      // requesting state-cleanup batches as processing time advances, so
      // AvailableNow's drain never reaches "no more work" and
      // processAllAvailable() livelocks — and the cleanup batches
      // interleave arbitrarily with the data batches. Cleanup batches
      // emit no rows (no timers; handleInputRows only fires for keys
      // with input), so the output is complete exactly when both DATA
      // batches are durably committed. The file source's checkpoint log
      // (ckpt/sources/0) gains one numbered entry per batch that admits
      // new files — the gate's two staged files, under
      // maxFilesPerTrigger=1, mean two entries; waiting until the later
      // of those batch ids reaches the commit log, then stopping, is
      // race-free: the sink's metadata log already covers that batch,
      // and any in-flight cleanup batch adds nothing.
      def awaitDataCommits(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
        def batchIds(dir: String): Array[Long] =
          Option(new java.io.File(g.dir, dir).list())
            .getOrElse(Array.empty[String])
            .flatMap(n => scala.util.Try(n.toLong).toOption)
        def drained: Boolean = {
          val admitted = batchIds("ckpt/sources/0")
          admitted.length >= 2 &&
            batchIds("ckpt/commits").contains(admitted.max)
        }
        // deadline: a stalled query must fail loudly, not spin the
        // gate forever (10 min covers the slowest observed co-tenant
        // window at sf0.1 with margin)
        val deadline = System.nanoTime() + 600L * 1000000000L
        while (q.isActive && !drained) {
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              "TTL gate drain deadline: the two data batches did not " +
                s"commit within 10 minutes (checkpoint ${g.ckpt})")
          Thread.sleep(50)
        }
        // the loop also exits when the query DIES before both data
        // batches commit; reading whatever partial output landed would
        // return wrong results with no error in bench mode — surface
        // the query's real failure instead
        if (!drained) {
          q.exception.foreach(throw _)
          throw new IllegalStateException(
            "TTL gate: streaming query stopped before both data " +
              s"batches committed and reported no exception (${g.ckpt})")
        }
      }
      g.drain(g.parquetSink(totals.toDF())) { q =>
        if (drainByCommits) awaitDataCommits(q) else q.processAllAvailable()
      }
      // sum_cents as the final key: when a user's two batch totals tie on
      // n_events, (user_id, n_events) alone leaves their relative order
      // undefined — a latent cross-engine hash flake the oracle mirrors
      g.localizeAndDrop(Tables.readParquet(s, g.data), "user_id", "n_events", "sum_cents")
    }

  /** q107: the LISTSTATE leg of `transformWithState`
    * ([[graft.streaming.RecentEventsProcessor]]) — a bounded newest-5
    * per-user event buffer, completing the typed-state matrix (q74
    * ValueState, q100 MapState, q84 TTL, q89 timers). The events corpus
    * replays as two time-ordered micro-batches split LATE (the 19/20
    * point, not the usual midpoint — deliberately, so most users have
    * fewer than 5 batch-2 events and their batch-2 window MUST blend in
    * batch-1 elements carried by the ListState; a midpoint split gives
    * every fixture user ≥ 24 batch-2 events and the carry becomes
    * unobservable). Each batch a user appears in emits the running
    * recent-window metric (size ≤ 5, cents sum, newest event id);
    * ListStateSurvivalSpec pins the bound and the cross-batch blend
    * directly. Oracle recomputes each batch's membership from scratch: a
    * batch's row for a user is the newest-5 (by ts, id) over ALL events
    * up to that batch's end. */
  private def q107(s: SparkSession, d: String): DataFrame =
    StreamGate(s, "graft_recent", d, StreamGate.RocksDb) { g =>
      val ev = Tables(s, d, "events")
      g.arriveSlices(splitAt(ev,
        { val st = eventTsStats(s, d); (st._1 + 19 * st._2) / 20 }))
      import s.implicits._
      val stream = g.readIn(ev.schema)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
        .as[graft.streaming.RecentEvent]
      val windows = stream.groupByKey(_.user_id)
        .transformWithState(new graft.streaming.RecentEventsProcessor(5),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
      g.drainParquet(windows.toDF())
      g.localizeAndDrop(Tables.readParquet(s, g.data),
        "user_id", "n_recent", "sum_cents_recent", "last_event_id")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q57_session_window" -> q57 _, "q58_stream_sessions" -> q58 _,
    "q62_stream_interval_join" -> q62 _, "q65_stream_dedup" -> q65 _,
    "q67_stream_outer_join" -> q67 _, "q69_stream_cdc_apply" -> q69 _,
    "q74_stream_cumulative" -> q74 _, "q84_stream_state_ttl" -> q84 _,
    "q85_stream_chained_agg" -> q85 _, "q89_stream_session_timers" -> q89 _,
    "q90_stream_restart_recovery" -> q90 _,
    "q95_stream_semi_join" -> q95 _, "q98_stream_update_serving" -> q98 _,
    "q99_stream_full_outer_join" -> q99 _,
    "q100_stream_state_bootstrap" -> q100 _,
    "q107_stream_list_state" -> q107 _,
    "q108_state_schema_evolution" -> q108 _,
    "q112_stream_complete_topk" -> q112 _,
    "q113_stream_static_join" -> q113 _,
    "q118_dynamic_gap_sessions" -> q118 _,
    "q119_stream_quantile_sketch" -> q119 _,
    "q102_state_source_read" -> q102 _,
    "q103_late_redelivery_screen" -> q103 _,
    "q105_stream_observe" -> q105 _,
    "q106_stream_join_agg" -> q106 _,
    "q134_stream_right_outer_join" -> q134 _)

  /** Both gates share one oracle: ms-truncated event times, strict-gap
    * sessions (break on diff >= 5 min), end = last event + gap. */
  private val SessionOracleSql =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
      |), flagged AS (
      |  SELECT *, CASE WHEN lag(ts_ms, 1) OVER w IS NULL
      |                   OR ts_ms - lag(ts_ms, 1) OVER w >= 300000
      |            THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)
      |), sess AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_ms
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id, min(ts_ms) AS session_start_ms,
      |  max(ts_ms) + 300000 AS session_end_ms,
      |  count(1) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start_ms""".stripMargin

  val oracle: Map[String, String] = Map(
    // the streamed two-batch apply must land exactly the snapshot q68's
    // single-shot log-ordered merge computes
    "q69_stream_cdc_apply" -> Relational.oracle("q68_partitioned_merge"),
    // cumulative totals recomputed from scratch per batch membership:
    // batch-1 rows are totals over ts <= mid; batch-2 rows (users with
    // any later event) are totals over ALL their events — the running
    // state the processor must have carried across the boundary. Epoch-µs
    // arithmetic mirrors the engine's unix_micros split exactly.
    "q74_stream_cumulative" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsu,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |mid AS (SELECT (min(tsu) + max(tsu)) // 2 AS m FROM e),
        |b1 AS (
        |  SELECT user_id, count(1) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM e CROSS JOIN mid WHERE tsu <= m GROUP BY user_id),
        |b2u AS (SELECT DISTINCT user_id FROM e CROSS JOIN mid WHERE tsu > m),
        |b2 AS (
        |  SELECT e.user_id, count(1) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM e JOIN b2u USING (user_id) GROUP BY e.user_id)
        |SELECT * FROM b1 UNION ALL SELECT * FROM b2
        |ORDER BY user_id, n_events, sum_cents""".stripMargin,
    // the TTL twin: batch-1 state has EXPIRED by batch 2, so each batch's
    // totals compute independently (q74's b2 sums ALL the user's events;
    // here b2 sums only tsu > m — the observable difference eviction makes)
    "q84_stream_state_ttl" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsu,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |mid AS (SELECT (min(tsu) + max(tsu)) // 2 AS m FROM e),
        |b1 AS (
        |  SELECT user_id, count(1) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM e CROSS JOIN mid WHERE tsu <= m GROUP BY user_id),
        |b2 AS (
        |  SELECT user_id, count(1) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM e CROSS JOIN mid WHERE tsu > m GROUP BY user_id)
        |SELECT * FROM b1 UNION ALL SELECT * FROM b2
        |ORDER BY user_id, n_events, sum_cents""".stripMargin,
    // both grains recomputed batch-side: minute counts, then the 10-min
    // rollup over them; tumbling windows align to epoch 0, so floor
    // division mirrors Spark's window assignment exactly
    "q85_stream_chained_agg" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |mins AS (
        |  SELECT user_id, ms // 60000 AS minute, count(1) AS n
        |  FROM e GROUP BY 1, 2),
        |tens AS (
        |  SELECT user_id, ((minute * 60000) // 600000) * 600000 AS w_start_ms,
        |    max(n) AS peak_minute, count(1) AS active_minutes,
        |    CAST(sum(n) AS BIGINT) AS n_events
        |  FROM mins GROUP BY 1, 2)
        |SELECT user_id, w_start_ms, peak_minute, active_minutes, n_events
        |FROM tens ORDER BY user_id, w_start_ms""".stripMargin,
    "q57_session_window" -> SessionOracleSql,
    "q58_stream_sessions" -> SessionOracleSql,
    // the screened late redelivery must change NOTHING: the replayed
    // rows are already in the corpus, so the landed sessions are the
    // plain session oracle (an unscreened replay inflates session
    // counts — spec-pinned)
    "q103_late_redelivery_screen" -> SessionOracleSql,
    // observation is side-effect-free: the observed pipeline lands the
    // plain session oracle (the metrics ride the scan, not the result)
    "q105_stream_observe" -> SessionOracleSql,
    // timer-driven closure must land the SAME sessions the batch agg and
    // the session_window stream compute — one oracle, three mechanisms
    "q89_stream_session_timers" -> SessionOracleSql,
    // a query restart over one checkpoint must land exactly what q74's
    // single-query two-batch replay lands: recovery is lossless and
    // duplicate-free, or this hash moves
    "q90_stream_restart_recovery" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsu,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |mid AS (SELECT (min(tsu) + max(tsu)) // 2 AS m FROM e),
        |b1 AS (
        |  SELECT user_id, count(1) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM e CROSS JOIN mid WHERE tsu <= m GROUP BY user_id),
        |b2u AS (SELECT DISTINCT user_id FROM e CROSS JOIN mid WHERE tsu > m),
        |b2 AS (
        |  SELECT e.user_id, count(1) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents
        |  FROM e JOIN b2u USING (user_id) GROUP BY e.user_id)
        |SELECT * FROM b1 UNION ALL SELECT * FROM b2
        |ORDER BY user_id, n_events, sum_cents""".stripMargin,
    // bootstrap + two streaming batches, each batch's membership
    // recomputed from scratch: batch-a rows (users with events in
    // (m, m2]) carry lifetime totals over ts <= m2 — the pre-m half
    // reached them ONLY via initial state; batch-b rows (users with
    // events > m2) carry totals over ALL events. n_types counts distinct
    // event types over the same membership (the MapState's key set).
    "q100_stream_state_bootstrap" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsu,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, event_type
        |  FROM events),
        |b AS (SELECT (min(tsu) + max(tsu)) // 2 AS m,
        |  (((min(tsu) + max(tsu)) // 2) + max(tsu)) // 2 AS m2 FROM e),
        |ba_u AS (SELECT DISTINCT user_id FROM e CROSS JOIN b
        |  WHERE tsu > m AND tsu <= m2),
        |ba AS (
        |  SELECT e.user_id, count(1) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |  FROM e CROSS JOIN b JOIN ba_u USING (user_id)
        |  WHERE tsu <= m2 GROUP BY e.user_id),
        |bb_u AS (SELECT DISTINCT user_id FROM e CROSS JOIN b WHERE tsu > m2),
        |bb AS (
        |  SELECT e.user_id, count(1) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |  FROM e JOIN bb_u USING (user_id) GROUP BY e.user_id)
        |SELECT * FROM ba UNION ALL SELECT * FROM bb
        |ORDER BY user_id, n_events, sum_cents""".stripMargin,
    // both runs recomputed from scratch: run-1 rows are pre-mid totals
    // with the widened column's read-time default (-1); run-2 rows are
    // LIFETIME totals (v1 state carried through the upgrade) plus the
    // new field folded over run-2 events only — a dropped field,
    // misdecoded v1 row, or lost carry each move a different column
    // q112: the complete-mode leaderboard equals the batch top-3 over
    // the whole corpus (n desc, event_type tie-break)
    "q112_stream_complete_topk" ->
      """SELECT event_type, count(1) AS n,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY event_type
        |ORDER BY n DESC, event_type LIMIT 3""".stripMargin,
    // q119: per-batch membership recomputed from scratch — batch-1 rows
    // cover pre-mid events, batch-2 rows cover ALL events (the carried
    // histogram); identical integer bin and ceil-free cutoff arithmetic
    "q119_stream_quantile_sketch" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS tsu,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |mid AS (SELECT (min(tsu) + max(tsu)) // 2 AS m FROM e),
        |h1 AS (
        |  SELECT event_type, cents // 64 AS bin, count(1) AS c
        |  FROM e CROSS JOIN mid WHERE tsu <= m GROUP BY 1, 2),
        |c1 AS (
        |  SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY bin)
        |    AS cum, sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM h1),
        |r1 AS (
        |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,
        |    CAST(min(CASE WHEN 2 * cum >= n THEN bin END) AS BIGINT)
        |      AS p50_bin,
        |    CAST(min(CASE WHEN 10 * cum >= 9 * n THEN bin END) AS BIGINT)
        |      AS p90_bin
        |  FROM c1 GROUP BY event_type),
        |b2t AS (SELECT DISTINCT event_type FROM e CROSS JOIN mid
        |        WHERE tsu > m),
        |h2 AS (
        |  SELECT e.event_type, cents // 64 AS bin, count(1) AS c
        |  FROM e JOIN b2t USING (event_type) GROUP BY 1, 2),
        |c2 AS (
        |  SELECT *, sum(c) OVER (PARTITION BY event_type ORDER BY bin)
        |    AS cum, sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM h2),
        |r2 AS (
        |  SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,
        |    CAST(min(CASE WHEN 2 * cum >= n THEN bin END) AS BIGINT)
        |      AS p50_bin,
        |    CAST(min(CASE WHEN 10 * cum >= 9 * n THEN bin END) AS BIGINT)
        |      AS p90_bin
        |  FROM c2 GROUP BY event_type)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |ORDER BY event_type, n_total""".stripMargin,
    // q118: per-event gap millis made explicit, then the interval merge
    // recomputed with a running max of window ends — break when the
    // event's start reaches the furthest prior end (strict, matching
    // the engine's start < end merge test); session end = max end
    "q118_dynamic_gap_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ms(ts) AS t,
        |    CASE WHEN event_type = 'purchase' THEN 600000
        |         ELSE 300000 END AS g
        |  FROM events
        |), x AS (
        |  SELECT *, max(t + g) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e
        |), flagged AS (
        |  SELECT *, CASE WHEN prev_end IS NULL OR t >= prev_end
        |            THEN 1 ELSE 0 END AS brk
        |  FROM x
        |), sess AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(t) AS session_start_ms,
        |  max(t + g) AS session_end_ms, count(1) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start_ms""".stripMargin,
    // each run's batch membership recomputed from scratch against the dim
    // VERSION that run was bound to: batch-1 (tsu <= m) joins v1 (raw
    // segments), batch-2 joins v2 (MACHINERY→AUTOMATION, custkey%10=3
    // deleted) — a frozen or stale static side moves dimv/tier/n_events
    "q113_stream_static_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
        |  FROM events),
        |b AS (SELECT (min(tsu) + max(tsu)) // 2 AS m FROM e),
        |d1 AS (SELECT c_custkey AS user_id, c_mktsegment AS tier,
        |         1 AS dimv FROM customer),
        |d2 AS (SELECT c_custkey AS user_id,
        |         CASE WHEN c_mktsegment = 'MACHINERY' THEN 'AUTOMATION'
        |              ELSE c_mktsegment END AS tier,
        |         2 AS dimv FROM customer WHERE c_custkey % 10 <> 3),
        |j AS (
        |  SELECT e.event_id, e.user_id, e.event_type, d.tier, d.dimv
        |  FROM e CROSS JOIN b JOIN d1 d USING (user_id) WHERE e.tsu <= m
        |  UNION ALL
        |  SELECT e.event_id, e.user_id, e.event_type, d.tier, d.dimv
        |  FROM e CROSS JOIN b JOIN d2 d USING (user_id) WHERE e.tsu > m)
        |SELECT dimv, tier, event_type, count(1) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
        |FROM j GROUP BY dimv, tier, event_type
        |ORDER BY dimv, tier, event_type""".stripMargin,
    "q108_state_schema_evolution" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tsu,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT (min(tsu) + max(tsu)) // 2 AS m FROM e),
        |r1 AS (
        |  SELECT user_id, count(1) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    CAST(-1 AS BIGINT) AS max_cents_run2
        |  FROM e CROSS JOIN b WHERE tsu <= m GROUP BY user_id),
        |r2u AS (SELECT DISTINCT user_id FROM e CROSS JOIN b WHERE tsu > m),
        |r2 AS (
        |  SELECT e.user_id, count(1) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents,
        |    CAST(max(CASE WHEN tsu > m THEN cents END) AS BIGINT)
        |      AS max_cents_run2
        |  FROM e JOIN r2u USING (user_id) CROSS JOIN b GROUP BY e.user_id)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |ORDER BY user_id, n_events""".stripMargin,
    // two streaming batches, membership recomputed per batch: a user's
    // row in a batch is the newest-5 of ALL their events up to that
    // batch's end (ts, then event_id orders ties) — batch-2 windows
    // blend batch-1 events wherever a user has fewer than 5 new ones,
    // which is exactly the ListState carried across the boundary
    "q107_stream_list_state" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT (min(tsu) + 19 * max(tsu)) // 20 AS m FROM e),
        |ranked1 AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY tsu DESC, event_id DESC) AS rk
        |  FROM e CROSS JOIN b WHERE tsu <= m),
        |b1 AS (
        |  SELECT user_id, count(1) AS n_recent,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents_recent,
        |    CAST(max(CASE WHEN rk = 1 THEN event_id END) AS BIGINT)
        |      AS last_event_id
        |  FROM ranked1 WHERE rk <= 5 GROUP BY user_id),
        |b2_u AS (SELECT DISTINCT user_id FROM e CROSS JOIN b WHERE tsu > m),
        |ranked2 AS (
        |  SELECT e.*, row_number() OVER (PARTITION BY e.user_id
        |    ORDER BY tsu DESC, event_id DESC) AS rk
        |  FROM e JOIN b2_u USING (user_id)),
        |b2 AS (
        |  SELECT user_id, count(1) AS n_recent,
        |    CAST(sum(cents) AS BIGINT) AS sum_cents_recent,
        |    CAST(max(CASE WHEN rk = 1 THEN event_id END) AS BIGINT)
        |      AS last_event_id
        |  FROM ranked2 WHERE rk <= 5 GROUP BY user_id)
        |SELECT * FROM b1 UNION ALL SELECT * FROM b2
        |ORDER BY user_id, n_recent, sum_cents_recent, last_event_id"""
        .stripMargin,
    // the q62 join replayed batch-side, bucketed to epoch-aligned hours:
    // the two-stateful-operator query must land exactly what the batch
    // composition computes
    "q106_stream_join_agg" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
        |  FROM events
        |), pairs AS (
        |  SELECT p.event_id AS purchase_id, p.ts_ms AS purchase_ms
        |  FROM e p JOIN e c
        |    ON p.user_id = c.user_id
        |   AND p.event_type = 'purchase' AND c.event_type = 'click'
        |   AND c.ts_ms >= p.ts_ms - 1800000 AND c.ts_ms <= p.ts_ms)
        |SELECT (purchase_ms // 3600000) * 3600000 AS hour_start_ms,
        |  count(1) AS n_pairs,
        |  CAST(count(DISTINCT purchase_id) AS BIGINT) AS n_purchases
        |FROM pairs GROUP BY 1 ORDER BY hour_start_ms""".stripMargin,
    // ms-truncated self-join: every purchase × same-user clicks in the
    // preceding 30 minutes (inclusive both ends, like the streaming join)
    "q62_stream_interval_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
        |  FROM events
        |)
        |SELECT p.event_id AS purchase_id, p.user_id AS uid,
        |       p.ts_ms AS purchase_ms,
        |       c.event_id AS click_id, c.ts_ms AS click_ms
        |FROM e p JOIN e c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts_ms >= p.ts_ms - 1800000 AND c.ts_ms <= p.ts_ms
        |ORDER BY purchase_id, click_id""".stripMargin,
    // the redelivered stream must land exactly the distinct events
    "q65_stream_dedup" ->
      """SELECT DISTINCT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
        |FROM events ORDER BY event_id""".stripMargin,
    // the served table after both batches must be the plain batch
    // aggregate: state carried across batches AND upserts applied. The
    // summed metric mirrors the engine's bounded offset from the fixed
    // 2020-01-01 base epoch (overflow-safe on both sides)
    "q98_stream_update_serving" ->
      """SELECT user_id, count(1) AS n_events,
        |  CAST(sum(epoch_ms(ts) - 1577836800000) AS BIGINT) AS sum_off_ms
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the STATE after both commits (read via the statestore source) must
    // be the plain batch aggregate — same truth as q98's served table,
    // read from the checkpoint instead of a sink
    "q102_state_source_read" ->
      """SELECT user_id, count(1) AS n_events,
        |  CAST(sum(epoch_ms(ts) - 1577836800000) AS BIGINT) AS sum_off_ms
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // q62's SEMI twin: the matched purchases, once each, no click payload
    "q95_stream_semi_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
        |  FROM events
        |)
        |SELECT p.event_id AS purchase_id, p.user_id AS uid,
        |       p.ts_ms AS purchase_ms
        |FROM e p
        |WHERE p.event_type = 'purchase' AND EXISTS (
        |  SELECT 1 FROM e c
        |  WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |    AND c.ts_ms >= p.ts_ms - 1800000 AND c.ts_ms <= p.ts_ms)
        |ORDER BY purchase_id""".stripMargin,
    // q62's LEFT JOIN twin: purchases with no click in the preceding 30
    // minutes keep a null-click row
    "q67_stream_outer_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
        |  FROM events
        |)
        |SELECT p.event_id AS purchase_id, p.user_id AS uid,
        |       p.ts_ms AS purchase_ms,
        |       c.event_id AS click_id, c.ts_ms AS click_ms
        |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM e WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts_ms >= p.ts_ms - 1800000 AND c.ts_ms <= p.ts_ms
        |ORDER BY purchase_id, click_id""".stripMargin,
    // the FULL leg: both sides' unmatched rows survive, uid coalesced
    // across sides (exactly one side is non-null on every outer row)
    "q99_stream_full_outer_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
        |  FROM events
        |)
        |SELECT p.event_id AS purchase_id,
        |       COALESCE(p.user_id, c.user_id) AS uid,
        |       p.ts_ms AS purchase_ms,
        |       c.event_id AS click_id, c.ts_ms AS click_ms
        |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT * FROM e WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts_ms >= p.ts_ms - 1800000 AND c.ts_ms <= p.ts_ms
        |ORDER BY purchase_id, click_id""".stripMargin,
    // the RIGHT leg: every click survives; unmatched clicks carry null
    // purchase columns, uid coalesced (non-null from exactly one side)
    "q134_stream_right_outer_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms
        |  FROM events
        |)
        |SELECT p.event_id AS purchase_id,
        |       COALESCE(p.user_id, c.user_id) AS uid,
        |       p.ts_ms AS purchase_ms,
        |       c.event_id AS click_id, c.ts_ms AS click_ms
        |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
        |RIGHT JOIN (SELECT * FROM e WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts_ms >= p.ts_ms - 1800000 AND c.ts_ms <= p.ts_ms
        |ORDER BY purchase_id, click_id""".stripMargin)
}
