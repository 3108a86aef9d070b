package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed rows for the custom-state operators (Dataset[T] + Encoders:
  * type safety where the state logic is imperative). */
final case class KeyedEvent(key: String, ts: java.sql.Timestamp, value: Double)
final case class KeyedTotals(key: String, n: Long, total: Double)
/** Open-session accumulator carried in GroupState. */
final case class SessionAcc(
    start: java.sql.Timestamp, end: java.sql.Timestamp, n: Long)
/** A closed session emitted by [[Streams.sessionize]]. */
final case class ClosedSession(
    key: String, session_start: java.sql.Timestamp, n_events: Long)
/** One banded fingerprint probe row for [[Streams.streamingPayloadNearDup]]. */
final case class PayloadProbe(
    bucket: Long, ts: java.sql.Timestamp, doc_id: Long, code: Long)
/** Codes seen so far in one (band, slice) bucket (newest first), each
  * carrying its event-time millis so HOT buckets prune per-entry: the
  * whole-bucket idle timeout alone never fires under steady traffic
  * (r16 advice — unbounded growth), so [[Streams.payloadDupUpdate]]
  * additionally drops entries older than watermark − TTL on every
  * invocation, keeping state bounded AND the recency contract honest.
  *
  * STATE SCHEMA v2 (r17) — CHECKPOINT COMPATIBILITY: widening each
  * entry from (doc_id, code) to (doc_id, code, event_time_ms) changed
  * the flatMapGroupsWithState state-encoder schema. A restart of this
  * query from a checkpoint written by the v1 (pre-r17) schema is NOT
  * supported: Spark's state store will fail the restart with a state
  * (de)serialization/row-format error rather than silently misreading
  * old rows — treat that error as "schema changed", start the query
  * with a FRESH checkpoint directory, and let the batch registry (LM6)
  * re-seed deep history; only the in-flight recency window is lost.
  * The kill-and-restart test (`StreamingSpec`) proves v2→v2 restarts;
  * v1→v2 is deliberately a hard error, recorded here. */
final case class BucketCodes(codes: List[(Long, Long, Long)])
/** A verified near-dup hit: `doc_id` arrived at or after `dup_of`. */
final case class PayloadDupHit(doc_id: Long, dup_of: Long, hamming: Int)

/** Structured Streaming extension (SURVEY §2.11: absent in the reference;
  * the natural Spark extension over the `events` table). Every builder
  * works on BOTH a stream (`readStream`) and a batch frame — the same
  * declarative plan, so batch runs of the identical code are
  * oracle-checkable while the streaming path carries watermarks + state.
  *
  * Scale notes: windowed/session aggregation state is keyed by
  * (window, keys) and bounded by the watermark; dedup state is bounded
  * by dropDuplicatesWithinWatermark. No unbounded state anywhere.
  */
object Streams {

  /** Tumbling (or sliding) event-time window aggregation with a
    * late-data watermark. Defaults to an order-independent agg set
    * (count/min/max) — deterministic under any partitioning. */
  def windowedAgg(
      df: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      windowDuration: String,
      slide: Option[String] = None,
      keys: Seq[String] = Nil,
      aggs: Seq[Column] = Seq(count(lit(1)).as("n_events"))): DataFrame = {
    val withWm =
      if (df.isStreaming) df.withWatermark(tsCol, watermarkDelay) else df
    val win = slide match {
      case Some(sl) => window(col(tsCol), windowDuration, sl)
      case None => window(col(tsCol), windowDuration)
    }
    withWm
      .groupBy(win +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
  }

  /** Session windows: events separated by more than `gap` start a new
    * session per key. State is closed (and emitted) once the watermark
    * passes the gap. */
  def sessionAgg(
      df: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      gap: String,
      keys: Seq[String],
      aggs: Seq[Column] = Seq(count(lit(1)).as("n_events"))): DataFrame = {
    val withWm =
      if (df.isStreaming) df.withWatermark(tsCol, watermarkDelay) else df
    withWm
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")
  }

  /** Custom per-key state via mapGroupsWithState: running count + sum
    * per key, updated each micro-batch. With `stateTtl` set, state is
    * dropped after that much processing-time inactivity (bounded state
    * — an idle key's memory is reclaimed, its totals restart if it
    * reappears); note ProcessingTimeTimeout makes the query run
    * timeout-evaluation batches continuously, so tests and drain-style
    * callers should use the default NoTimeout. The escape hatch for
    * state machines the declarative window/session operators can't
    * express. Works on a batch Dataset too (one group pass, no state). */
  def runningTotals(
      ds: Dataset[KeyedEvent],
      stateTtl: Option[String] = None): Dataset[KeyedTotals] = {
    import ds.sparkSession.implicits._
    val streaming = ds.isStreaming // resolved on the driver; the update
                                   // closure must not capture the Dataset
    ds.groupByKey(_.key)
      .mapGroupsWithState[KeyedTotals, KeyedTotals](
        if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout)(
        updateTotals(if (streaming) stateTtl else None))
  }

  /** The state-update function of [[runningTotals]], exposed so the
    * timeout branch is unit-testable with TestGroupState. */
  private[graft] def updateTotals(ttl: Option[String])(
      key: String,
      events: Iterator[KeyedEvent],
      state: GroupState[KeyedTotals]): KeyedTotals =
    if (state.hasTimedOut) {
      // idle key reclaimed: emit the final totals, drop the state
      val last = state.get
      state.remove()
      last
    } else {
      val prev = state.getOption.getOrElse(KeyedTotals(key, 0L, 0.0))
      val out = events.foldLeft(prev)((acc, e) =>
        KeyedTotals(key, acc.n + 1, acc.total + e.value))
      state.update(out)
      ttl.foreach(state.setTimeoutDuration)
      out
    }

  /** Sessionization via flatMapGroupsWithState — the multi-row custom
    * state machine the declarative `session_window` can't express
    * variants of (here it reproduces session_window semantics exactly,
    * making the batch run oracle-checkable against gaps-and-islands
    * SQL). Streaming: sessions close either when a later event arrives
    * past the gap, or by EVENT-TIME TIMEOUT once the watermark passes
    * session end + gap — so idle keys emit and their state is
    * reclaimed (bounded state). Batch: one group pass emits every
    * session including the last. */
  def sessionize(
      ds: Dataset[KeyedEvent],
      watermarkDelay: String,
      gapMs: Long): Dataset[ClosedSession] = {
    import ds.sparkSession.implicits._
    val streaming = ds.isStreaming
    val src = if (streaming) ds.withWatermark("ts", watermarkDelay) else ds
    src.groupByKey(_.key)
      .flatMapGroupsWithState[SessionAcc, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        sessionUpdate(gapMs, streaming))
  }

  /** Microsecond epoch of a Timestamp (getTime is millis; nanos carry
    * the sub-milli fraction). */
  private def micros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Session state machine (exposed for unit tests). An event lands in
    * the open session iff its gap from the session end is <= `gapMs`
    * (same boundary convention as the gaps-and-islands oracle). */
  private[graft] def sessionUpdate(gapMs: Long, streaming: Boolean)(
      key: String,
      events: Iterator[KeyedEvent],
      state: GroupState[SessionAcc]): Iterator[ClosedSession] =
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator(ClosedSession(key, s.start, s.n))
    } else {
      val sorted = events.toIndexedSeq.sortBy(e => micros(e.ts))
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      var acc = state.getOption.orNull
      sorted.foreach { e =>
        if (acc == null) acc = SessionAcc(e.ts, e.ts, 1L)
        else if (micros(e.ts) <= micros(acc.end) + gapMs * 1000L)
          acc = SessionAcc(acc.start,
            if (micros(e.ts) > micros(acc.end)) e.ts else acc.end, acc.n + 1)
        else {
          out += ClosedSession(key, acc.start, acc.n)
          acc = SessionAcc(e.ts, e.ts, 1L)
        }
      }
      if (acc != null) {
        if (streaming) {
          state.update(acc)
          state.setTimeoutTimestamp(acc.end.getTime + gapMs)
        } else out += ClosedSession(key, acc.start, acc.n)
      }
      out.iterator
    }

  /** Stream-static enrichment join: each micro-batch of the stream is
    * joined against a STATIC dimension frame (broadcast — the dim is
    * re-read per batch by Spark, so at scale pin it small or cache it).
    * The classic "enrich the event stream with reference data" shape:
    * no stream state at all, because the static side is not watermarked
    * — this is the cheap join; stream-stream is the expensive one.
    * Works identically on a batch frame (the oracle twin).
    *
    * The dim must be PRE-PROJECTED to `dimKey` + payload columns that
    * don't collide with the stream's — enforced here, because a
    * colliding name would otherwise surface later as an ambiguous
    * column error at the first downstream col() reference. */
  def enrich(
      stream: DataFrame,
      dim: DataFrame,
      streamKey: String,
      dimKey: String): DataFrame = {
    val overlap = (dim.columns.toSet - dimKey).intersect(stream.columns.toSet)
    require(overlap.isEmpty,
      s"enrich: dim columns collide with stream columns " +
        s"(${overlap.toSeq.sorted.mkString(", ")}) — pre-project or rename the dim")
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "inner")
      .drop(dimKey)
  }

  /** Stream-stream interval join: a left row matches right rows of the
    * same key whose event time satisfies
    * `right.ts <= left.ts < right.ts + window` (the x_range_join
    * convention). BOTH sides are watermarked, and the range condition
    * on the two event-time columns is what lets Spark bound the join
    * state: a buffered right row is evicted once the left watermark
    * passes `right.ts + window`, a buffered left row once the right
    * watermark passes `left.ts` — without the range bound a
    * stream-stream join would buffer both sides forever. On batch
    * frames the same call degrades to an equi-key join with a range
    * filter (the oracle twin; the binned [[graft.operators.Ops.rangeJoin]]
    * is the batch-at-scale shape — ext_stream_stream pins all of them
    * to one answer). Column names must be disjoint across the sides.
    *
    * `joinType` "inner" (default), "left_outer" or "left_semi". The
    * outer variant emits an unmatched left row with null right columns
    * — in streaming, only once the watermark proves no in-window right
    * row can still arrive (the null is a STATEMENT about the bounded
    * past, which is why outer stream-stream joins require the
    * watermark). The semi variant is the existence test: each left row
    * emits AT MOST ONCE (left columns only) as soon as the first
    * in-window right match arrives — the cheap shape when the question
    * is "did a matching event happen" rather than "which ones", since
    * matched left state can drop immediately instead of buffering for
    * every future match. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      watermarkDelay: String,
      window: String,
      joinType: String = "inner"): DataFrame = {
    // full_outer completes the matrix: unmatched rows from EITHER side
    // emit null-padded once the watermark closes their window — both
    // sides' state is watermark-bounded exactly like left_outer's.
    require(Set("inner", "left_outer", "left_semi", "full_outer")(joinType),
      s"intervalJoin supports inner|left_outer|left_semi|full_outer, got '$joinType'")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"intervalJoin: sides share column names " +
        s"(${overlap.toSeq.sorted.mkString(", ")}) — rename one side")
    val l = if (left.isStreaming) left.withWatermark(leftTs, watermarkDelay) else left
    val r = if (right.isStreaming) right.withWatermark(rightTs, watermarkDelay) else right
    l.join(r,
      col(leftKey) === col(rightKey)
        && col(leftTs) >= col(rightTs)
        && col(leftTs) < col(rightTs) + expr(s"INTERVAL $window"),
      joinType)
  }

  /** Merge one (micro-)batch into a Hive-partitioned parquet table with
    * upsert semantics: latest version per key wins (by `tsCol`, ties
    * arbitrary — feed distinct versions distinct timestamps), existing
    * rows whose key is absent from the batch survive untouched. Key
    * identity is (partitionCol, keys) — PARTITION-SCOPED, the standard
    * date-partitioned-upsert contract: a key that reappears under a new
    * partition value is a new row there, not a move (retracting the old
    * partition's copy would mean scanning the whole table). Only
    * the partitions the batch touches are read and rewritten (dynamic
    * partition overwrite), so cost scales with the batch's partition
    * footprint, never the table: the parquet-native MERGE shape — a
    * transactional table format (Delta/Iceberg) replaces the
    * read-union-overwrite with a commit, the plan shape stays.
    *
    * IDEMPOTENT by construction: re-running the same batch anti-joins
    * away the versions it wrote last time and writes them again —
    * replays after a streaming restart converge to the same table
    * state, which is what makes [[upsertSink]] exactly-once-effect
    * under foreachBatch's at-least-once contract.
    *
    * The merged frame is pinned with an eager localCheckpoint before
    * the overwrite — the scan and the overwrite target the same files,
    * so the read must be materialized first — and the pin is released
    * once the write commits.
    *
    * SINGLE WRITER assumed: the read → anti-join → dynamic-overwrite
    * window is not atomic, so two concurrent writers touching the same
    * partition can each read a pre-write snapshot and clobber the
    * other's keys. The intended topology is the one [[upsertSink]]
    * builds — one stream, one table, batches serialized by the
    * streaming engine. Fan multiple streams into one table through a
    * union upstream, not through concurrent sinks.
    *
    * Null `partitionCol` values land in Spark's default partition and
    * are merged null-safely (`<=>`): existing null-partition keys
    * survive a batch that touches the null partition. */
  def upsertBatch(
      batch: DataFrame,
      tablePath: String,
      keys: Seq[String],
      tsCol: String,
      partitionCol: String): Unit = {
    require(keys.nonEmpty, "upsertBatch needs at least one key column")
    require(!keys.contains(partitionCol),
      "partitionCol is the distribution axis, not a key column")
    val spark = batch.sparkSession
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((partitionCol +: keys).map(col): _*)
      .orderBy(col(tsCol).desc)
    val latest = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val fsPath = new org.apache.hadoop.fs.Path(tablePath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(fsPath)) {
      latest.write.partitionBy(partitionCol).parquet(tablePath)
    } else {
      // bounded driver-side list: the partition values THIS batch touches
      val touched = latest.select(partitionCol).distinct().collect()
        .map(_.get(0)).toSeq
      if (touched.nonEmpty) {
        // isin() never matches null, but dynamic overwrite DOES rewrite
        // the null partition — so the membership test must be null-safe
        // or existing null-partition keys would be silently dropped
        val nonNullTouched = touched.filter(_ != null)
        val inNonNull =
          if (nonNullTouched.isEmpty) lit(false)
          else col(partitionCol).isin(nonNullTouched: _*)
        val touchedPred =
          if (touched.exists(_ == null)) inNonNull || col(partitionCol).isNull
          else inNonNull
        // explicit schema: no infer pass over the table (one less full
        // listing at scale), and an existing-but-empty directory reads
        // as an empty frame instead of failing inference
        val existing = spark.read.schema(latest.schema).parquet(tablePath)
          .filter(touchedPred)
        val mergeCols = partitionCol +: keys
        val batchKeys = latest
          .select(mergeCols.map(c => col(c).as(s"__b_$c")): _*)
        // null-safe anti join: a null partition value (or null key) must
        // still MATCH its batch twin, or the old row survives the union
        // as a duplicate of the upserted one
        val sameKey = mergeCols
          .map(c => col(c) <=> col(s"__b_$c")).reduce(_ && _)
        val merged = existing
          .join(batchKeys, sameKey, "left_anti")
          .unionByName(latest)
        val pinned = merged.localCheckpoint(true)
        try {
          pinned.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partitionCol)
            .parquet(tablePath)
        } finally graft.operators.LlmOps.releaseCheckpoint(pinned)
      }
    }
  }

  /** Streaming upsert sink: foreachBatch → [[upsertBatch]]. The
    * checkpointed offsets make replays possible; upsertBatch's
    * idempotency makes them harmless — together, exactly-once EFFECT on
    * the table without a transactional format. */
  def upsertSink(
      stream: DataFrame,
      tablePath: String,
      checkpointLocation: String,
      keys: Seq[String],
      tsCol: String,
      partitionCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (b: DataFrame, _: Long) =>
        upsertBatch(b, tablePath, keys, tsCol, partitionCol)
      }
      .start()

  /** END-TO-END streaming curation ingest — the proven per-row pieces
    * composed into the ONE pipeline a pretraining corpus actually runs
    * at the door: C4 segment cleaning → Gopher rule gate →
    * classifier-score gate → exact dedup, in curation order (cheap
    * structural cuts first, the model gate on CLEANED text, dedup last
    * so near-identical boilerplate variants canonicalize to one
    * fingerprint before the uniqueness check).
    *
    * Every stage is per-row and stateless except the final dedup:
    *  - [[graft.operators.TextOps.c4Clean]] (with the timestamp
    *    carried through), [[graft.operators.TextOps.gopherKeep]], and
    *    [[graft.operators.TextOps.classifierScoreRow]] (literal
    *    weight table, zero shuffles) all fuse with the scan;
    *  - dedup keys on the normalized-text fingerprint: STREAMING =
    *    watermark-bounded `dropDuplicatesWithinWatermark` (first
    *    ARRIVAL wins, state reclaimed past the horizon); BATCH = the
    *    deterministic earliest-(ts, id)-wins window — the same answer
    *    when arrival order follows event time, which is what makes
    *    the batch run the oracle-checkable twin (ext_stream_curation)
    *    of the streaming plan.
    *
    * The classifier gate `score >= minScore` is engine-exact at the
    * default 0.5: the sigmoid is monotone and crosses 0.5 exactly at
    * integer w_sum = 0, so libm noise can never flip the decision.
    * Compose with [[upsertSink]] for exactly-once-effect table
    * maintenance (StreamingSpec drives the full chain incl. restart).
    *
    * 100 TB shape: zero shuffles before the dedup; the dedup state is
    * one fingerprint per unique doc inside the watermark horizon. */
  def curationIngest(
      df: DataFrame, idCol: String, textCol: String, tsCol: String,
      weights: Map[Long, Long], nBuckets: Int, minScore: Double = 0.5,
      watermarkDelay: String = "10 minutes",
      minWords: Long = 50, minStopwords: Int = 2,
      window: Int = 10, minSegWords: Int = 5, minSegs: Int = 3,
      scale: Double = 1000.0, bias: Double = 0.0): DataFrame = {
    import graft.operators.{LlmOps, TextOps}
    require(minScore > 0.0 && minScore < 1.0,
      s"minScore must be inside (0, 1): $minScore")
    // gate on the UNROUNDED logit, not the struct's rounded score: the
    // sigmoid is monotone, so score >= minScore ⟺ logit >= logit(min),
    // and at the 0.5 default the threshold is logit 0.0 — an integer-
    // exact w_sum sign test no rounding or libm noise can flip
    val logitMin = math.log(minScore / (1.0 - minScore))
    // PIN the cleaned text before the gates: gopherKeep references
    // text_clean ~10 times and predicate pushdown substitutes the full
    // C4 reassembly into every reference (measured: 21 copies in the
    // optimized plan, 9.4 s vs 0.7 s at sf0.1 — SURVEY.md,
    // the `ext_stream_curation` shaping variants).
    // Batch pins with the curation2 localCheckpoint discipline; a
    // stream can't checkpoint, so it pins with a typed map(identity)
    // round-trip — an opaque-lambda barrier the optimizer cannot push
    // predicates through or collapse across (1 copy, 1.8 s equivalent;
    // non-deterministic dummy columns do NOT work — ColumnPruning
    // deletes them and the pushdown proceeds).
    val cleaned0 = TextOps.c4Clean(df, idCol, textCol, window,
      minSegWords, minSegs, carry = Seq(tsCol))
    val cleaned =
      if (df.isStreaming) {
        val enc = org.apache.spark.sql.Encoders.row(cleaned0.schema)
        cleaned0.map(identity(_))(enc)
      } else cleaned0.localCheckpoint(true)
    val gated = cleaned
      .filter(TextOps.gopherKeep(col("text_clean"),
        minWords = minWords, minStopwords = minStopwords))
      .withColumn("__c", TextOps.classifierScoreRow(col("text_clean"),
        weights, nBuckets, scale, bias))
      .filter(lit(bias) + col("__c.w_sum").cast("double") / lit(scale) /
        col("__c.n_tokens") >= lit(logitMin))
      .withColumn("fp", LlmOps.strHash(
        regexp_replace(trim(lower(col("text_clean"))), "\\s+", " ")))
      .select(col(idCol), col(tsCol), col("n_kept"),
        col("__c.score").as("score"), col("fp"), col("text_clean"))
    if (gated.isStreaming)
      gated.withWatermark(tsCol, watermarkDelay)
        .dropDuplicatesWithinWatermark("fp")
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("fp").orderBy(col(tsCol), col(idCol))
      gated.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
  }

  /** Streaming exact dedup with BOUNDED state: duplicates arriving
    * within the watermark horizon are dropped; state for older keys is
    * reclaimed. (The streaming twin of the batch D1/D2 operators.) */
  def streamingDedup(
      df: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      keys: Seq[String]): DataFrame =
    if (df.isStreaming)
      df.withWatermark(tsCol, watermarkDelay)
        .dropDuplicatesWithinWatermark(keys)
    else df.dropDuplicates(keys)

  /** Streaming multimodal NEAR-dup (ST15) — the streaming face of the
    * batch registry (`MultimodalOps.payloadIncrementalNearDup`): each
    * arriving payload is fingerprinted with the native 60-bit
    * perceptual code (stateless, codegen'd), exploded into the same
    * corpus-scaled bands, and probed against the codes seen so far in
    * its (band, slice) BUCKET via flatMapGroupsWithState. Emits one
    * exact-verified [[PayloadDupHit]] per (new payload, prior payload)
    * pair within `maxHamming` — pairs are deduplicated across bands by
    * the SAME earliest-agreeing-band rule the batch search uses (both
    * full codes are in hand at probe time), so the output pair set
    * matches what `payloadNearDupPairs` would emit over the same rows,
    * delivered incrementally. A doc that hits nothing emits nothing —
    * downstream keeps the stream and anti-joins the hits to drop dups.
    *
    * State & scale: per-bucket code lists; with width w sized for the
    * expected corpus (the [[graft.operators.LlmOps.stableBandWidth]]
    * law over `expectedN`), expected occupancy per bucket is ~n/2^w ≈ 2
    * within the horizon. Streaming state is EVENT-TIME-bounded two
    * ways: a bucket idle past the watermark + `stateTtl` is reclaimed
    * whole, and a HOT bucket prunes individual entries older than
    * watermark − `stateTtl` on every micro-batch (steady traffic would
    * otherwise defeat the idle timeout and grow without bound), so the
    * stream covers the RECENT window and the batch registry (LM6) owns
    * deep history — the standard lambda split. Batch frames run the
    * identical state machine in one pass (no timeout), so the operator
    * is batch-twin-testable. Empty payloads drop (no perceptual
    * information; exact dedup owns them). */
  def streamingPayloadNearDup(
      df: DataFrame, idCol: String, payloadCol: String, tsCol: String,
      expectedN: Long, maxHamming: Int = 3,
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = 600000L): Dataset[PayloadDupHit] = {
    import graft.operators.{LlmOps, MultimodalOps}
    require(maxHamming <= 3,
      s"stable banded search is exact only for maxHamming <= 3: $maxHamming")
    val width = LlmOps.stableBandWidth(expectedN)
    val bands = 60 / width
    val mask = (1L << width) - 1
    val spark = df.sparkSession
    import spark.implicits._
    val streaming = df.isStreaming
    val coded0 = df.filter(length(col(payloadCol)) > 0)
      .select(col(tsCol).as("ts"), col(idCol).cast("long").as("doc_id"),
        MultimodalOps.payloadCode(col(payloadCol)).as("code"))
    val coded = if (streaming) coded0.withWatermark("ts", watermarkDelay)
      else coded0
    val probes = coded
      .select(explode(sequence(lit(0L), lit(bands - 1L))).as("band"),
        col("ts"), col("doc_id"), col("code"))
      .select(
        (col("band") * lit(mask + 1) +
          expr(s"shiftright(code, CAST(band * $width AS INT)) & $mask"))
          .as("bucket"),
        col("ts"), col("doc_id"), col("code"))
      .as[PayloadProbe]
    probes.groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketCodes, PayloadDupHit](
        OutputMode.Append(),
        if (streaming) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout)(
        payloadDupUpdate(width, bands, maxHamming, stateTtlMs, streaming))
  }

  /** Per-bucket probe state machine (exposed for unit tests). The
    * bucket's band index rides in the key (bucket = band · 2^width +
    * slice); a (new, prior) pair emits ONLY from the first band where
    * their slices agree, so the union over buckets is duplicate-free.
    * Events within a micro-batch are processed in (ts, doc_id) order,
    * making "who is the prior" deterministic under same-batch
    * arrivals. */
  private[graft] def payloadDupUpdate(
      width: Int, bands: Int, maxHamming: Int, ttlMs: Long,
      streaming: Boolean)(
      bucket: Long, events: Iterator[PayloadProbe],
      state: GroupState[BucketCodes]): Iterator[PayloadDupHit] = {
    if (state.hasTimedOut) {
      // idle bucket past the horizon: reclaim, emit nothing — deep
      // history is the batch registry's job
      state.remove()
      Iterator.empty
    } else {
      val thisBand = (bucket >>> width).toInt
      val mask = (1L << width) - 1
      def firstAgreeingBand(a: Long, b: Long): Int = {
        var i = 0
        while (i < bands && (((a >>> (i * width)) & mask) !=
          ((b >>> (i * width)) & mask))) i += 1
        i
      }
      // Per-entry event-time pruning (r16 advice): a bucket under
      // steady traffic never goes idle, so the whole-bucket timeout
      // alone would accumulate its entire history. Drop entries whose
      // event time has fallen past watermark − TTL before probing —
      // hot buckets stay bounded by the horizon's occupancy and hits
      // are only ever emitted against codes inside the advertised
      // recency window. (Batch mode has no watermark: keep everything,
      // the one-pass twin IS the whole window.)
      val pruneBefore =
        if (streaming) state.getCurrentWatermarkMs() - ttlMs
        else Long.MinValue
      var known = state.getOption.map(_.codes).getOrElse(Nil)
        .filter(_._3 >= pruneBefore)
      val hits = scala.collection.mutable.ListBuffer[PayloadDupHit]()
      var maxTs = Long.MinValue
      events.toSeq.sortBy(e => (e.ts.getTime, e.doc_id)).foreach { e =>
        if (e.ts.getTime > maxTs) maxTs = e.ts.getTime
        known.foreach { case (priorId, priorCode, _) =>
          val h = java.lang.Long.bitCount(priorCode ^ e.code)
          if (h <= maxHamming &&
              firstAgreeingBand(priorCode, e.code) == thisBand)
            hits += PayloadDupHit(e.doc_id, priorId, h)
        }
        known = (e.doc_id, e.code, e.ts.getTime) :: known
      }
      state.update(BucketCodes(known))
      if (streaming)
        state.setTimeoutTimestamp(
          math.max(state.getCurrentWatermarkMs(), maxTs) + ttlMs)
      hits.iterator
    }
  }
}
