package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming facade for the reference's incremental/temporal
  * semantics (SURVEY.md §2.9). The reference is batch-only (@monthly
  * Airflow, T1); these map its capabilities onto real streams, clearly
  * marked beyond-reference:
  *
  *   - T2 high-watermark incremental  → `withWatermark` + append mode
  *     (late rows below the watermark dropped, exactly the reference's
  *     completeness-watermark behavior in stg_earthquake.sql:9-16)
  *   - T4 month-window assignment     → tumbling event-time windows
  *   - T3 idempotent MERGE            → foreachBatch + left-anti upsert
  *     (graft.merge.Upsert.antiJoinUpsert per micro-batch)
  *   - stateful extension             → mapGroupsWithState running
  *     per-key aggregates
  *
  * All operators hold at scale: state is keyed and bounded by the
  * watermark; no per-batch collect; sinks are idempotent by key.
  */
object Streams {

  /** T2+T4 — windowed counts/averages with a watermark: tumbling
    * event-time windows (the monthly batch window, generalized), append
    * mode semantics, late data dropped past the watermark. */
  def windowedStats(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      valueCol: String,
      watermark: String = "1 hour",
      window_ : String = "1 day"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(
        window(col(tsCol), window_).as("win"),
        col(typeCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol)).as("sum_value"))

  /** T3 — streaming upsert sink: each micro-batch MERGEs into the target
    * via the same left-anti composition as the batch path, making replays
    * idempotent. Returns the writer configuration function to pass to
    * `foreachBatch`. */
  def mergeEachBatch(
      readTarget: () => DataFrame,
      writeTarget: DataFrame => Unit,
      keys: Seq[String]): (Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, _) => {
      val merged = graft.merge.Upsert.antiJoinUpsert(readTarget(), batch.toDF(), keys)
      writeTarget(merged)
    }

  case class TypeState(n: Long, sum: Double)
  case class TypeUpdate(event_type: String, n: Long, sum: Double)

  case class GapState(lastS: Long, lastEid: Long)
  case class GapObs(event_type: String, bucket: Long, gap: Long)

  /** w13's streaming twin: per-user inter-arrival gaps with the same
    * second-truncation, later-event type attribution, and bit-length
    * bucket as the batch histogram — state is TWO LONGS per user (the
    * previous arrival's second + event id for the batch's tie order),
    * so the stream pays O(active users), not O(events). Emitted GapObs
    * rows feed a standard streaming aggregation on (type, bucket);
    * aggregating the emissions over any batch slicing equals
    * [[graft.model.Analytics.gapHistogramOf]] on the union, PROVIDED
    * same-second ties arrive in the same micro-batch (within a batch
    * the rows re-sort by (second, event_id) exactly like the batch
    * window; a stream cannot re-order ties it has already answered
    * across batches — the sessionizeStream caveat family). Pair with a
    * timeout TTL when the user key space churns unboundedly. */
  def gapStream(
      events: Dataset[(Long, java.sql.Timestamp, Long, String)]): Dataset[GapObs] = {
    import events.sparkSession.implicits._
    def bucketOf(gap: Long): Long =
      if (gap == 0L) 0L else 64L - java.lang.Long.numberOfLeadingZeros(gap)
    events
      .filter(r => r._2 != null && r._4 != null)
      .groupByKey(_._3)
      .flatMapGroupsWithState[GapState, GapObs](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state: GroupState[GapState]) =>
          var out = List.empty[GapObs]
          var prev = state.getOption
          rows.toSeq
            .map(r => (r._1, r._2.getTime / 1000L, r._4))
            .sortBy(r => (r._2, r._1))
            .foreach { case (eid, sec, tpe) =>
              prev match {
                case Some(GapState(ls, _)) =>
                  val gap = sec - ls
                  out ::= GapObs(tpe, bucketOf(gap), gap)
                case None =>
              }
              prev = Some(GapState(sec, eid))
            }
          prev.foreach(state.update)
          out.reverse.iterator
      }
  }

  /** Stateful extension — running per-type totals via mapGroupsWithState
    * (the custom-state path the reference never needed; bounded state:
    * one row per event type). */
  def runningTypeTotals(
      events: Dataset[(String, Double)]): Dataset[TypeUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[TypeState, TypeUpdate](
        GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[TypeState]) =>
          val prev = state.getOption.getOrElse(TypeState(0L, 0.0))
          var n = prev.n; var s = prev.sum
          rows.foreach { r => n += 1; s += r._2 }
          val next = TypeState(n, s)
          state.update(next)
          TypeUpdate(key, next.n, next.sum)
      }
  }

  /** Stream-stream INTERVAL join (the attribution shape): each purchase
    * joins the clicks by the same user that preceded it within
    * `horizonSeconds`. Both sides are watermarked and the join
    * condition bounds event time in BOTH directions, which is exactly
    * what lets Spark expire join state: a buffered click can only match
    * purchases up to click_ts + horizon, so once the purchase-side
    * watermark passes that, the click row is dropped from state. State
    * is therefore O(events in the horizon window), not O(stream) — the
    * property that makes stream-stream joins viable at all at scale.
    * Inner join: emits exactly the rows the equivalent batch join
    * produces (StreamingSpec pins that equality over the fixture). */
  def attributionJoin(
      clicks: DataFrame, // user_id, click_id, c_ts
      purchases: DataFrame, // user_id, purchase_id, p_ts, cents
      horizonSeconds: Long = 3600,
      watermark: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("c_ts", watermark)
    val p = purchases.withWatermark("p_ts", watermark)
      .withColumnRenamed("user_id", "p_user_id")
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"interval $horizonSeconds seconds"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("c_ts"), col("p_ts"), col("cents"))
  }

  case class SessionState(start: Long, end: Long, n: Long, sumCents: Long)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value_cents: Long)

  /** Streaming gap-based sessionization — the stateful-stream analogue
    * of the batch `Analytics.sessionize` (w2): one open session per
    * active user held in state, closed either by an in-stream gap >
    * `gapSeconds` (emitted immediately) or by the event-time timeout
    * once the watermark passes session_end + gap (emitted on the next
    * trigger). State is bounded: one row per user with an un-timed-out
    * session — exactly what `flatMapGroupsWithState` +
    * EventTimeTimeout is for; sessions therefore emit once, append
    * mode, replay-safe downstream of an idempotent sink.
    * Input: (user_id, ts, value). */
  def sessionizeStream(
      events: Dataset[(Long, java.sql.Timestamp, Double)],
      gapSeconds: Long = 1800,
      watermark: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    def toOut(uid: Long, s: SessionState): SessionOut =
      SessionOut(uid, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.end), s.n, s.sumCents)
    events
      .toDF("user_id", "ts", "value")
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val closed = state.get
            state.remove()
            Iterator.single(toOut(uid, closed))
          } else {
            var out = List.empty[SessionOut]
            var open = state.getOption
            val gapMs = gapSeconds * 1000L
            rows.toSeq.sortBy(_._2.getTime).foreach { case (_, ts, v) =>
              val t = ts.getTime
              val cents = math.round(v * 100)
              open match {
                // within gap of EITHER session edge: merge, extending
                // start backward for late (within-watermark) arrivals —
                // matches the batch sessionize over the same data
                case Some(s) if t >= s.start - gapMs && t <= s.end + gapMs =>
                  open = Some(SessionState(math.min(s.start, t),
                    math.max(s.end, t), s.n + 1, s.sumCents + cents))
                // entirely before the open session: a standalone earlier
                // session (closed eagerly — the open session's start
                // already bounds it from the right; later sub-watermark
                // stragglers between the two would be dropped upstream)
                case Some(s) if t < s.start - gapMs =>
                  out ::= toOut(uid, SessionState(t, t, 1L, cents))
                // past the gap after the session: close it, open a new one
                case Some(s) =>
                  out ::= toOut(uid, s)
                  open = Some(SessionState(t, t, 1L, cents))
                case None =>
                  open = Some(SessionState(t, t, 1L, cents))
              }
            }
            open.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapSeconds * 1000L)
            }
            out.reverse.iterator
          }
      }
  }

  /** Streaming Count-Min frequency tracking in CONSTANT state — the
    * streaming face of the cms1 sketch, beside [[bloomDedupStream]]'s
    * membership face. Exact running counts per token hold one state row
    * per distinct token ever seen; the CMS variant holds one fixed
    * d×w integer cell array per key-space shard (a few KB, forever)
    * and answers with the min-over-rows estimate — never below the
    * true count (cells only add), the property the batch sketch's
    * OpsSpec pins. Counts are ADDITIVE, so arrival order, batch
    * boundaries, and retries with the same data cannot change the
    * final state — stronger replay behavior than any order-dependent
    * streaming state.
    *
    * Bit positions replay [[graft.ops.Sketch]]'s cms cells via
    * [[graft.ops.Sketch.jvmHash60]], so a batch-built CMS merges with
    * the stream's by cell-wise sum. Emits one (token, estimate) row
    * per DISTINCT token per micro-batch, post-update.
    * Input: token strings; output: (token, est). */
  def cmsStream(
      tokens: Dataset[String],
      numShards: Int = 8): Dataset[(String, Long)] = {
    import tokens.sparkSession.implicits._
    import graft.ops.Sketch
    def cells(tok: String): Array[Int] =
      Array.tabulate(Sketch.CmsD) { j =>
        j * Sketch.CmsW +
          (Sketch.jvmHash60(tok, Sketch.CmsSeedBase + j) & (Sketch.CmsW - 1)).toInt
      }
    tokens
      .groupByKey(tok => math.floorMod(
        Sketch.jvmHash60(tok, Sketch.CmsSeedBase - 1), numShards.toLong).toInt)
      .flatMapGroupsWithState[Array[Long], (String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Array[Long]]) =>
          val grid = state.getOption
            .getOrElse(new Array[Long](Sketch.CmsD * Sketch.CmsW))
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          it.foreach { tok =>
            cells(tok).foreach(c => grid(c) += 1L)
            seen += tok
          }
          state.update(grid)
          seen.iterator.map(tok => tok -> cells(tok).map(c => grid(c)).min)
      }
  }

  /** Streaming power-of-two histogram — the streaming face of the hq1
    * quantile sketch, completing the sketch quartet's streaming twins
    * beside [[cmsStream]] (frequency) and [[bloomDedupStream]]
    * (membership) and [[hllStream]] (distinct count). State per group
    * key is the occupied-bucket count map — bounded by the VALUE RANGE
    * (value >> [[graft.ops.Sketch.HistShift]]), not the row count, and
    * cells are ADDITIVE: arrival order, batch boundaries, and replays
    * with the same data cannot change the final state, and a stream's
    * cells merge with a batch [[graft.ops.Sketch.histTable]]'s by
    * cell-wise sum (parity spec-pinned). A quantile estimate at any
    * point is the same cumulative walk hq1 runs over the batch table.
    * Emits one (key, bucket, cnt) row per bucket TOUCHED in the
    * micro-batch, post-update.
    * Input: (key, value_cents); output: (key, bucket, cnt). */
  def histStream(
      rows: Dataset[(String, Long)]): Dataset[(String, Long, Long)] = {
    import rows.sparkSession.implicits._
    import graft.ops.Sketch
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, Long], (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, it, state: GroupState[Map[Long, Long]]) =>
          var cells = state.getOption.getOrElse(Map.empty[Long, Long])
          val touched = scala.collection.mutable.LinkedHashSet.empty[Long]
          it.foreach { case (_, cents) =>
            val b = cents >> Sketch.HistShift
            cells = cells.updated(b, cells.getOrElse(b, 0L) + 1L)
            touched += b
          }
          state.update(cells)
          touched.iterator.map(b => (key, b, cells(b)))
      }
  }

  /** Streaming HyperLogLog distinct-count — the streaming face of the
    * hll1 sketch, completing the quartet's streaming twins. State per
    * group is ONE fixed [[graft.ops.Sketch.HllM]]-byte register array
    * (max rho per register) — constant regardless of cardinality, the
    * whole point of the sketch. Register update is MAX, which is
    * IDEMPOTENT as well as commutative: arrival order, batch
    * boundaries, and even replays of the SAME data (where additive
    * sketches need exactly-once) cannot change the final state.
    *
    * Registers replay [[graft.ops.Sketch.registersOf]] exactly —
    * [[graft.ops.Sketch.jvmHash60]] with [[graft.ops.Sketch.HllSeed]],
    * the same index/rho split — so the stream's state merges with a
    * batch sketch's register table by register-wise max, and the
    * emitted estimate is the batch pipeline's exact scaled harmonic
    * sum with its one final division (parity spec-pinned). Emits one
    * (group, v_empty, s_scaled, est_raw) row per group touched in the
    * micro-batch, post-update.
    * Input: (group, item); output: (group, v_empty, s_scaled, est). */
  def hllStream(
      rows: Dataset[(String, String)]): Dataset[(String, Long, Long, Double)] = {
    import rows.sparkSession.implicits._
    import graft.ops.Sketch
    val w1 = Sketch.HllValueBits + 1
    rows
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Byte], (String, Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (group, it, state: GroupState[Array[Byte]]) =>
          val regs = state.getOption.getOrElse(new Array[Byte](Sketch.HllM))
          it.foreach { case (_, item) =>
            val h = Sketch.jvmHash60(item, Sketch.HllSeed)
            val reg = (h & (Sketch.HllM - 1)).toInt
            val rem = h >> Sketch.HllP
            // rho = W + 1 - bitlen(rem); rem == 0 → W + 1, mirroring
            // the column pipeline's bin()-length formulation
            val rho =
              if (rem == 0L) w1
              else w1 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
            if (rho > regs(reg)) regs(reg) = rho.toByte
          }
          state.update(regs)
          // exact integer scaled harmonic sum: rho ≤ 52 so each term
          // and the 512-term total stay well inside a Long
          var sPresent = 0L
          var nRegs = 0L
          regs.foreach { r =>
            if (r > 0) { nRegs += 1; sPresent += 1L << (w1 - r) }
          }
          val vEmpty = Sketch.HllM - nRegs
          val sScaled = sPresent + vEmpty * (1L << w1)
          Iterator.single(
            (group, vEmpty, sScaled, Sketch.HllNumerator / sScaled))
      }
  }

  /** Streaming APPROXIMATE dedup with CONSTANT state — the streaming
    * face of the bf1 Bloom sketch. Exact streaming dedup
    * (dropDuplicates / the TTL variant in StreamingSpec) holds one
    * state row per key seen inside the watermark — under key churn at
    * warehouse stream volumes that state is effectively unbounded. The
    * bloom variant holds ONE FIXED [[graft.ops.Sketch.BloomBits]]-bit
    * bitmap per key-space shard (numShards × 1 KB total, forever) and
    * trades it for a bounded, one-sided error: a TRUE duplicate is
    * NEVER emitted twice; a novel key may rarely be dropped as a false
    * positive (rate governable by bits per expected keys, exactly the
    * batch sketch's math).
    *
    * Bit positions replay [[graft.ops.Sketch]]'s md5-60 positions via
    * [[graft.ops.Sketch.jvmHash60]] (parity spec-pinned), so a batch
    * bloom built with the same seeds can seed or audit the stream's.
    * Sharding by key hash spreads the bitmap load across executors;
    * each group's state is a primitive long array — no per-row state
    * growth, no timeout bookkeeping needed.
    *
    * SIZE THE BITMAP to expected per-shard key cardinality via
    * `addrBits` (2^addrBits bits per shard; the default 13 → 1 KB holds
    * ~1k keys at k=4 before the FP rate leaves the per-mille range). A
    * bitmap only ever FILLS — past saturation, novel keys are silently
    * and permanently dropped — so the set-bit count rides in the state
    * and crossing [[BloomFillWarnNum]]/[[BloomFillWarnDen]] of the bits
    * logs a per-shard saturation warning naming the deployment fix
    * (raise addrBits or numShards).
    * Input: (row_id, key); output: first-seen rows, in-shard order. */
  def bloomDedupStream(
      rows: Dataset[(Long, String)],
      numShards: Int = 16,
      addrBits: Int = graft.ops.Sketch.BloomAddrBits): Dataset[(Long, String)] = {
    import rows.sparkSession.implicits._
    import graft.ops.Sketch
    require(addrBits >= Sketch.BloomWordShift && addrBits <= 30,
      s"addrBits must be in [${Sketch.BloomWordShift}, 30], got $addrBits")
    val shift = Sketch.BloomWordShift
    val bits = 1 << addrBits
    val nWords = bits >> shift
    rows
      .groupByKey { case (_, key) =>
        // shard from the hash bits ABOVE the bitmap's low addrBits:
        // sharding on the low bits would alias with probe j=0's bit
        // position (numShards divides the bit count), confining that
        // probe row to 1/numShards of each shard's bitmap and inflating
        // the FP rate numShards-fold
        math.floorMod(
          Sketch.jvmHash60(key, Sketch.BloomSeedBase) >>> addrBits,
          numShards.toLong).toInt
      }
      .flatMapGroupsWithState[Array[Long], (Long, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (shard, it, state: GroupState[Array[Long]]) =>
          // state layout: nWords bitmap words + one set-bit counter —
          // the counter makes saturation observable without a popcount
          // rescan of the bitmap on every batch. A restored checkpoint
          // written under a DIFFERENT addrBits (or the pre-counter
          // layout) would silently misread a bitmap word as the counter
          // or index past the array — fail loudly instead: bloom state
          // is a re-derivable accelerator, so the fix (new checkpoint
          // dir, optionally re-seeded from a batch bloom) loses no data
          val words = state.getOption match {
            case Some(w) => validateBloomState(w, nWords, addrBits)
            case None    => new Array[Long](nWords + 1)
          }
          val warnAt = bits.toLong * BloomFillWarnNum / BloomFillWarnDen
          val out = it.filter { case (_, key) =>
            val probes = (0 until Sketch.BloomK).map(j =>
              (Sketch.jvmHash60(key, Sketch.BloomSeedBase + j) &
                (bits - 1)).toInt)
            val seen = probes.forall(b =>
              (words(b >> shift) & (1L << (b & 31))) != 0L)
            if (!seen) probes.foreach { b =>
              val w = b >> shift; val m = 1L << (b & 31)
              if ((words(w) & m) == 0L) {
                words(w) |= m
                words(nWords) += 1
                if (words(nWords) == warnAt)
                  System.err.println(s"[graft] bloomDedupStream shard " +
                    s"$shard bitmap ${BloomFillWarnNum * 100 / BloomFillWarnDen}% " +
                    s"full ($warnAt/$bits bits): false-positive drops of " +
                    s"novel keys are no longer rare — raise addrBits " +
                    s"(currently $addrBits) or numShards")
              }
            }
            !seen
          }.toList
          state.update(words)
          out.iterator
      }
  }

  /** Guard for restored bloom-dedup state: a checkpoint written under
    * a DIFFERENT addrBits (or the pre-counter layout) has a different
    * word count, and reading it as the current layout would silently
    * treat a bitmap word as the set-bit counter or index past the
    * array. Bloom state is a re-derivable accelerator, so failing
    * loudly loses no data — the fix is a fresh checkpoint location
    * (optionally re-seeded from a batch-side bloom). */
  private[graft] def validateBloomState(w: Array[Long], nWords: Int,
      addrBits: Int): Array[Long] = {
    require(w.length == nWords + 1,
      s"bloomDedupStream state layout mismatch: restored ${w.length} " +
        s"longs, expected ${nWords + 1} (addrBits=$addrBits) — the " +
        "checkpoint was written with a different addrBits or an older " +
        "state layout; restart with a fresh checkpoint location")
    w
  }

  /** Bloom saturation warning threshold: at half the bits set, the
    * false-positive rate is 2^-k (~6% at k=4) and climbing — past the
    * point a dedup stream should be running at. */
  val BloomFillWarnNum = 1
  val BloomFillWarnDen = 2

  /** Streaming twin of dq1 ([[graft.ops.Profile.constraintAudit]]):
    * cumulative per-constraint violation counters over an unbounded
    * event stream — the live data-quality dashboard behind the batch
    * audit. Each rule is the SAME conditional-sum column expression as
    * the batch side (one scan, map-side partials per micro-batch;
    * Complete output re-emits the running row). State is O(1): a
    * single global group holding seven longs. The batch audit's
    * uniqueness rule is the one deliberate omission — exact
    * distinct-over-a-stream is unbounded state by definition; its
    * streaming face is [[bloomDedupStream]]'s bounded-memory bitmap,
    * which reports (probabilistic) duplicate drops per shard.
    * Input columns: (user_id, ts, value, event_type, props). */
  case class CusumState(splus: Long, sminus: Long)
  case class CusumOut(event_type: String, day: java.sql.Date,
      count: Long, splus: Long, sminus: Long, alarm: Boolean)

  /** Streaming twin of the batch CUSUM changepoint (a20): the
    * one-sided CUSUM control chart (Page 1954), the form that runs
    * forever on a stream because its state is TWO LONGS per key —
    * the batch query's retrospective argmax needs the whole series.
    * Per (type, day) count record: S⁺ accumulates positive deviation
    * max(0, S⁺ + (c − target − slack)), S⁻ the negative side; either
    * crossing `threshold` raises the alarm for that day (state keeps
    * accumulating — reset policy belongs to the consumer). All-integer
    * arithmetic, days folded in order within each batch, so a replay
    * from checkpoint reproduces identical rows.
    * Input: (event_type, day, count). */
  def cusumStream(daily: Dataset[(String, java.sql.Date, Long)],
      target: Long, slack: Long, threshold: Long): Dataset[CusumOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (typ, rows, state: GroupState[CusumState]) =>
          var s = state.getOption.getOrElse(CusumState(0L, 0L))
          val out = rows.toSeq.sortBy(_._2.getTime).map { case (_, day, c) =>
            s = CusumState(
              math.max(0L, s.splus + (c - target - slack)),
              math.max(0L, s.sminus + (target - slack - c)))
            CusumOut(typ, day, c, s.splus, s.sminus,
              s.splus > threshold || s.sminus > threshold)
          }
          state.update(s)
          out.iterator
      }
  }

  case class VolAnomState(window: Seq[Long])
  case class VolAnomOut(key: String, day: java.sql.Date, x: Long,
      n: Long, s: Long, q: Long, dev_num: Long,
      is_anomaly: Option[Long])

  /** Streaming twin of the batch volume-anomaly audit (dq6): each
    * arriving daily count is tested against the trailing ≤7 OBSERVED
    * days with the identical exact-integer cross-multiplied 3σ rule
    * ((x·n − S)²·(n−1) > 9·n·(n·Q − S²)), then pushed into the ring.
    * State per key is the trailing window itself — at most SEVEN longs,
    * bounded by the rule's horizon, never the stream length — so the
    * monitor runs forever, and because the batch window frame is ROWS
    * (observed days, not calendar days) the emitted rows are
    * EXACTLY the batch dq6 columns over the same series regardless of
    * where batch boundaries fall (spec-pinned, including a
    * boundary-spanning window). Days fold in order within each batch;
    * fewer than 3 trailing observations emit a NULL flag, matching
    * the batch warm-up contract.
    * Input: (key, day, count) — callers pass a constant key for the
    * global face dq6 computes, or event_type for a per-type monitor. */
  def volumeAnomalyStream(
      daily: Dataset[(String, java.sql.Date, Long)]): Dataset[VolAnomOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_._1)
      .flatMapGroupsWithState[VolAnomState, VolAnomOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[VolAnomState]) =>
          var w = state.getOption.map(_.window.toVector)
            .getOrElse(Vector.empty[Long])
          val out = rows.toSeq.sortBy(_._2.getTime).map { case (_, day, x) =>
            val n = w.length.toLong
            val s = w.sum
            val q = w.map(v => v * v).sum
            val dev = x * n - s
            val flag = if (n >= 3L)
              Some(if (dev * dev * (n - 1L) > 9L * n * (n * q - s * s)) 1L
                   else 0L)
            else None
            w = (w :+ x).takeRight(7)
            VolAnomOut(key, day, x, n, s, q, dev, flag)
          }
          state.update(VolAnomState(w))
          out.iterator
      }
  }

  case class EwmaState(window: Seq[(Long, Long)])
  case class EwmaOut(event_type: String, day: java.sql.Date, x: Long,
      ewma_num: Option[Long], ewma_den: Option[Long], burst: Option[Long])

  /** a37's streaming twin: EWMA burst detection over a live daily
    * series. State per type is the trailing ≤16 (epoch-day, count)
    * pairs — bounded by the rule's horizon, exactly the dq6-twin
    * posture — and each arriving day recomputes the same exact
    * integer num/den the batch operator builds from its lag join
    * (weights 2^(16−lag), gaps self-normalizing), so stream output is
    * row-for-row the batch a37 regardless of where batch boundaries
    * fall (StreamingSpec pins the parity with the spike crossing the
    * cut). Days must arrive in order per type, the standing
    * assumption of the cusum/volume twins. */
  def ewmaBurstStream(
      daily: Dataset[(String, java.sql.Date, Long)]): Dataset[EwmaOut] = {
    import daily.sparkSession.implicits._
    val H = graft.model.Analytics.EwmaHorizonDays
    daily
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[EwmaState]) =>
          var w = state.getOption.map(_.window.toVector)
            .getOrElse(Vector.empty[(Long, Long)])
          val out = rows.toSeq.sortBy(_._2.getTime).map { case (_, day, x) =>
            val dayNum = day.toLocalDate.toEpochDay
            val trail = w.filter { case (dn, _) =>
              dn >= dayNum - H && dn < dayNum }
            val (num, den) =
              if (trail.isEmpty) (None, None)
              else {
                val n = trail.map { case (dn, xv) =>
                  xv * (1L << (H - (dayNum - dn))) }.sum
                val d0 = trail.map { case (dn, _) =>
                  1L << (H - (dayNum - dn)) }.sum
                (Some(n), Some(d0))
              }
            val burst = (num, den) match {
              case (Some(n), Some(dd)) =>
                Some(if (x * dd > 3L * n) 1L else 0L)
              case _ => None
            }
            w = (w :+ (dayNum, x)).filter(_._1 >= dayNum - H + 1)
            EwmaOut(key, day, x, num, den, burst)
          }
          state.update(EwmaState(w))
          out.iterator
      }
  }

  def constraintAuditStream(events: DataFrame): DataFrame = {
    val typeDomain = Seq("click", "error", "purchase", "signup", "view")
    def v(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    events.groupBy().agg(
      count(lit(1)).as("n_rows"),
      v(col("user_id").isNull).as("user_id_not_null"),
      v(col("ts").isNull).as("ts_not_null"),
      v(col("value").isNull).as("value_not_null"),
      v(col("value").isNotNull &&
        (col("value") < 0 || col("value") > 500)).as("value_range_0_500"),
      v(col("event_type").isNull ||
        !col("event_type").isin(typeDomain: _*)).as("type_in_domain"),
      v(col("props").isNull ||
        !col("props").contains("\"k\": ")).as("props_has_k"))
  }

  /** Streaming confusion matrix — the clf1 twin: the identical
    * md5-scored severity classifier applied to the live (event_id,
    * value) stream, aggregated into per-(actual, predicted) counters.
    * State is one long per matrix cell — bounded by the square of the
    * class domain (16 cells here), never the stream length — and the
    * cells are additive, so batch boundaries are invisible and the
    * final matrix equals the batch clf1 over the union of batches
    * (spec-pinned). Run with Complete/Update output; the batch parity
    * makes drift against an offline evaluation directly diffable. */
  def confusionStream(scored: DataFrame): DataFrame = {
    val cents = graft.functions.Functions.cents(col("value"))
    val pred = cents + graft.ops.Eval.scoreNoise(col("event_id"))
    scored.filter(col("value").isNotNull)
      .select(graft.ops.Eval.bucketCents(cents).as("actual"),
        graft.ops.Eval.bucketCents(pred).as("predicted"))
      .groupBy("actual", "predicted")
      .agg(count(lit(1)).as("n"))
  }
}
