package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftLower

/** Core row-shaping operators of the engine.
  *
  * Capability parity with the reference's `SequenceAwarePipeline` transform
  * surface (reference: src/core/contextual_pipeline.rs:845-1136), re-expressed
  * as declarative `DataFrame => DataFrame` combinators so Catalyst can fuse,
  * push down, and codegen them. Nothing here materializes rows on the driver;
  * every operator is a narrow transformation except where noted (dedup/sort
  * shuffle on their keys, exactly the boundaries SURVEY.md §3.4 identifies).
  */
object Ops {

  // ---------------------------------------------------------------------
  // Projections (SURVEY §2.2)
  // ---------------------------------------------------------------------

  /** P1 — field rename; unmapped columns pass through.
    * Reference: src/core/contextual_pipeline.rs:530-535,559-565. */
  def rename(mapping: Map[String, String])(df: DataFrame): DataFrame =
    df.withColumnsRenamed(mapping)

  /** Path step grammar for P2/P3/P4: `a.b`, `a[0].b`, `a[-1]`, `a[*].b`. */
  sealed trait PathStep
  final case class Field(name: String) extends PathStep
  final case class Index(i: Int) extends PathStep
  case object Star extends PathStep

  /** Parse a dotted path with optional array accessors into steps.
    * Mirrors the reference's path walker (contextual_pipeline.rs:681-836)
    * but compiles to a single Catalyst expression chain instead of
    * interpreting per record. */
  def parsePath(path: String): Seq[PathStep] = {
    val idxRe = """^([^\[\]]*)\[(\*|-?\d+)\]$""".r
    path.split('.').toIndexedSeq.flatMap {
      case idxRe(name, idx) =>
        val base = if (name.isEmpty) Nil else Seq(Field(name))
        base :+ (if (idx == "*") Star else Index(idx.toInt))
      case seg => Seq(Field(seg))
    }
  }

  /** P2/P3/P4 — compile a path to a Column.
    *  - dotted fields → `GetStructField` chains (P2)
    *  - `[i]` / `[-i]` → `element_at` (1-based, negative = from end);
    *    out-of-bounds → null, matching the reference's "absent" (P3)
    *  - `[*]` → projects a field across an array of structs, dropping
    *    missing/null entries like the reference's flat-map (P4)
    */
  def pathCol(path: String): Column = {
    def walk(c: Column, steps: Seq[PathStep], underStar: Boolean): Column =
      steps match {
        case Seq() => c
        case Field(n) +: rest => walk(c.getField(n), rest, underStar)
        case Index(i) +: rest =>
          // reference indexing is 0-based; element_at is 1-based.
          // Out-of-bounds → null (the reference's "absent") even under
          // ANSI mode. A size-guarded CASE WHEN is used instead of
          // try_element_at: TryEval's generated code trips a Janino
          // compile error ("isNull_N is not an rvalue") when its result
          // feeds GetStructField, silently dropping the whole stage to
          // interpreted mode — the guard stays inside codegen, and
          // CaseWhen's lazy branch evaluation keeps ANSI from ever
          // seeing a bad index. null array → null passes through.
          val idx = if (i >= 0) i + 1 else i
          val guarded = when(size(c) >= math.abs(idx), element_at(c, lit(idx)))
          walk(guarded, rest, underStar)
        case Star +: rest =>
          val projected = walk(c, rest, underStar = true)
          if (rest.isEmpty) projected
          else filter(projected, x => x.isNotNull) // skip missing entries
      }
    val steps = parsePath(path)
    steps.head match {
      case Field(n) => walk(col(n), steps.tail, underStar = false)
      case _ => throw new IllegalArgumentException(s"path must start with a field: $path")
    }
  }

  /** P2-P4 — add extracted-path columns alongside the passthrough columns,
    * reference semantics (extracted value added, source kept). */
  def extractPaths(mapping: Map[String, String])(df: DataFrame): DataFrame =
    mapping.foldLeft(df) { case (d, (path, as)) =>
      if (path.contains('.') || path.contains('['))
        d.withColumn(as, pathCol(path))
      else d.withColumnRenamed(path, as) // plain field → P1 rename
    }

  /** P5 — keep-only projection; missing fields skipped (logged by caller). */
  def keepOnly(fields: Seq[String])(df: DataFrame): DataFrame = {
    val present = fields.filter(df.columns.contains)
    df.select(present.map(col): _*)
  }

  /** P6 — exclude projection (reference applies it only when keepOnly absent). */
  def exclude(fields: Seq[String])(df: DataFrame): DataFrame =
    df.drop(fields: _*)

  /** P7 — constant flag columns every transformed record receives.
    * Reference: contextual_pipeline.rs:980-987. */
  def constants(pipelineName: String)(df: DataFrame): DataFrame =
    df.withColumn("processed", lit(true))
      .withColumn("processed_by", lit(pipelineName))

  /** P8 — deterministic column order (sorted by name), the reference's
    * header normalization (contextual_pipeline.rs:990-1009). */
  def sortColumns(df: DataFrame): DataFrame =
    df.select(df.columns.sorted.toIndexedSeq.map(col): _*)

  // ---------------------------------------------------------------------
  // Filters (SURVEY §2.3)
  // ---------------------------------------------------------------------

  /** F1 — all-fields-equal predicate; a row with a missing/null field fails,
    * matching the reference (contextual_pipeline.rs:1064-1083). Null-safe:
    * `===` already yields null→false under `filter`. */
  def equalityFilter(conds: Map[String, Any])(df: DataFrame): DataFrame =
    if (conds.isEmpty) df
    else df.filter(conds.map { case (f, v) => col(f) === lit(v) }.reduce(_ && _))

  /** F6 — declared-but-dead `extract.filters` in the reference, implemented
    * honestly here: equality or IN-list per field. */
  def inFilter(field: String, values: Seq[Any])(df: DataFrame): DataFrame =
    df.filter(col(field).isin(values: _*))

  // ---------------------------------------------------------------------
  // data_processing: dedup / sort / limit (SURVEY §2.6)
  // ---------------------------------------------------------------------

  /** D1 — full-record dedup (reference keeps first occurrence in input
    * order; sets are equal, order handled by the subsequent sort). */
  def dedupAll(df: DataFrame): DataFrame = df.distinct()

  /** D2 — field-subset dedup. The reference keeps the *first* occurrence
    * (contextual_pipeline.rs:613-629); input order is not defined for a
    * distributed scan, so "first" is made explicit: the row minimal under
    * `firstBy`. One shuffle on the dedup key, no driver work. */
  def dedupFields(fields: Seq[String], firstBy: Seq[Column])(df: DataFrame): DataFrame = {
    if (firstBy.isEmpty) df.dropDuplicates(fields)
    else {
      val w = Window.partitionBy(fields.map(col): _*).orderBy(firstBy: _*)
      df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    }
  }

  /** O1 — sort. `stringMode = true` reproduces the reference's
    * lexicographic-on-JSON-rendering semantics (contextual_pipeline.rs:646-672,
    * where 10 < 9 because "10" < "9"); default is natively typed, the
    * documented deviation. Missing field sorts last under asc like the
    * reference's Some < None. */
  def sortBy(field: String, ascending: Boolean = true, stringMode: Boolean = false)(
      df: DataFrame): DataFrame = {
    val key = if (stringMode) col(field).cast("string") else col(field)
    df.orderBy(if (ascending) key.asc_nulls_last else key.desc_nulls_first)
  }

  /** F4/F5/L1 — row limit (max_records / first_record_only). */
  def limitRows(n: Int)(df: DataFrame): DataFrame = df.limit(n)

  // ---------------------------------------------------------------------
  // Scalar transforms (SURVEY §2.7)
  // ---------------------------------------------------------------------

  /** Rewrite every string column through `f` in ONE `select` — a
    * `withColumn` fold builds one Project node per column, which
    * Catalyst collapses at runtime but pays O(cols²) analysis on wide
    * schemas; a single projection is O(cols). */
  private def mapStringCols(df: DataFrame, f: Column => Column): DataFrame = {
    val stringCols =
      df.schema.fields.filter(_.dataType.typeName == "string").map(_.name).toSet
    df.select(df.columns.toIndexedSeq.map { c =>
      if (stringCols.contains(c)) f(col(c)).as(c) else col(c)
    }: _*)
  }

  /** Edge-trim of ASCII whitespace. Spark's `trim` strips ONLY the
    * space character; the reference's `str::trim` strips whitespace
    * (contextual_pipeline.rs:886) — `\s` is the Java∩RE2 portable
    * approximation (ASCII whitespace; the reference's Unicode extras
    * like NBSP are a documented deviation). */
  private def trimWs(c: Column): Column =
    regexp_replace(c, "^\\s+|\\s+$", "")

  /** X1 — clean_text: whitespace-trim + newline→space on every string
    * column. Reference: contextual_pipeline.rs:882-889. */
  def cleanText(df: DataFrame): DataFrame =
    mapStringCols(df, c => regexp_replace(trimWs(c), "\n", " "))

  /** X2 — normalize_fields: lowercase the listed string fields. */
  def normalizeFields(fields: Seq[String])(df: DataFrame): DataFrame = {
    val targets = fields.filter(df.columns.contains).toSet
    if (targets.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map { c =>
      if (targets.contains(c)) GraftLower.lower(col(c)).as(c) else col(c)
    }: _*)
  }

  /** X3 record_index — 0-based global position under `orderBy`, computed
    * scalably: range-repartition on the sort key (so partition i holds
    * keys strictly below partition i+1), sort within partitions, then
    * `zipWithIndex` — Spark's built-in two-pass partition-offset scheme
    * (one small job counts per-partition sizes, then each partition
    * assigns offset + local index). No single-partition window, no
    * driver funnel; every stage is partition-parallel.
    * With an empty `orderBy` the index follows current partition order
    * (deterministic only for a deterministic input layout).
    * CAVEATS: zipWithIndex runs its partition-size pass eagerly at
    * construction (one extra job), and the upstream is evaluated again
    * by the downstream action — a NON-DETERMINISTIC upstream (HTTP
    * fan-out, unordered limit) must be persisted/checkpointed first or
    * offsets can shift between the two passes. */
  def withRecordIndex(name: String, orderBy: Seq[Column])(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    val spark = df.sparkSession
    val sorted =
      if (orderBy.isEmpty) df
      else df.repartitionByRange(orderBy: _*).sortWithinPartitions(orderBy: _*)
    val schema = sorted.schema.add(StructField(name, LongType, nullable = false))
    val indexed = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(indexed, schema)
  }

  /** X3 — computed_fields. The reference's three magic names
    * (contextual_pipeline.rs:963-977) plus literal fallback:
    *  - record_index: 0-based position; needs a total order to be
    *    deterministic in a distributed engine, so callers pass `orderBy`
    *    (delegates to [[withRecordIndex]] — partition-offset indexing,
    *    not a global window)
    *  - pipeline_name / execution_id: run-context literals
    *  - anything else: inserted as a literal string
    */
  def computedFields(
      fields: Map[String, String],
      pipelineName: String,
      executionId: String,
      orderBy: Seq[Column])(df: DataFrame): DataFrame =
    fields.foldLeft(df) { case (d, (name, expr)) =>
      expr match {
        case "record_index"  => withRecordIndex(name, orderBy)(d)
        case "pipeline_name" => d.withColumn(name, lit(pipelineName))
        case "execution_id"  => d.withColumn(name, lit(executionId))
        case other           => d.withColumn(name, lit(other))
      }
    }

  /** X5 — TSV sanitization: tabs/newlines → space in string columns. */
  def sanitizeTsv(df: DataFrame): DataFrame =
    mapStringCols(df, c => regexp_replace(c, "[\\t\\n]", " "))

  /** X6 — trim_whitespace / remove_html_tags (declared-but-dead in the
    * reference, toml_config.rs:59-60; implemented honestly here). */
  def trimWhitespace(df: DataFrame): DataFrame = mapStringCols(df, trimWs)
  def removeHtmlTags(fields: Seq[String])(df: DataFrame): DataFrame = {
    val targets = fields.filter(df.columns.contains).toSet
    if (targets.isEmpty) df
    else df.select(df.columns.toIndexedSeq.map { c =>
      if (targets.contains(c)) regexp_replace(col(c), "<[^>]*>", "").as(c) else col(c)
    }: _*)
  }

  // ---------------------------------------------------------------------
  // Joins / merges (SURVEY §2.4)
  // ---------------------------------------------------------------------

  /** J1 — keyed merge (`merge_with_previous`): API record wins, previous
    * record fills only the fields the API record lacks; unmatched API
    * records pass through. Reference: an O(n·m) nested loop
    * (sequence_pipeline.rs:77-108); here a left-outer equi join + columnwise
    * coalesce, so Catalyst picks broadcast-hash vs sort-merge by size and
    * AQE can re-plan on skew. `prev` must be unique per key ("first match"
    * semantics — callers dedup first when it isn't). */
  def mergeWithPrevious(prev: DataFrame, key: String)(api: DataFrame): DataFrame = {
    val overlap = api.columns.toSet.intersect(prev.columns.toSet) - key
    val prevOnly = prev.columns.filterNot(c => api.columns.contains(c))
    val joined = api.alias("a").join(prev.alias("p"), Seq(key), "left")
    val cols =
      col(key) +:
        (api.columns.filterNot(_ == key).map { c =>
          if (overlap.contains(c)) coalesce(col(s"a.$c"), col(s"p.$c")).as(c)
          else col(s"a.$c").as(c)
        } ++ prevOnly.map(c => col(s"p.$c").as(c)))
    joined.select(cols.toIndexedSeq: _*)
  }

  /** J3 — lookup enrichment. The reference only ships the placeholder
    * (`"enriched_" + value`, contextual_pipeline.rs:949-961); the intended
    * capability is a broadcast lookup join, so both are provided. */
  def enrichPlaceholder(mapping: Map[String, String])(df: DataFrame): DataFrame =
    mapping.foldLeft(df) { case (d, (src, dst)) =>
      d.withColumn(dst, concat(lit("enriched_"), col(src).cast("string")))
    }

  /** J3/S9 — real lookup enrichment: equi join against a lookup table
    * (the reference's declared-but-unread `lookup_files`).
    *
    * Broadcast policy: by default the strategy is left to Catalyst/AQE,
    * which broadcast small sides from source statistics and re-plan at
    * runtime — so a small lookup still gets a broadcast-hash join while
    * a large one degrades safely to shuffle join instead of OOMing the
    * driver. `forceBroadcast = true` is an explicit opt-in for lookups
    * the caller KNOWS are small but whose stats are unavailable
    * (e.g. fresh HTTP-sourced frames with no file statistics). */
  def lookupJoin(
      lookup: DataFrame,
      key: String,
      how: String = "left",
      forceBroadcast: Boolean = false)(df: DataFrame): DataFrame =
    df.join(if (forceBroadcast) broadcast(lookup) else lookup, Seq(key), how)

  /** As-of join: for every left row, the single most recent right row
    * with `rightTs` at or before the left row's `leftTs` on the same
    * key — the time-series point-in-time lookup Spark has no native
    * operator for. Composed from built-ins (the preferred extension
    * path): tag both sides, union, shuffle ONCE on the key, and carry
    * the latest right payload forward with an ignore-nulls running
    * `last` over (ts, side). No range join, no per-row subquery; cost
    * is one keyed shuffle + one window pass regardless of how far back
    * the match lies. A right row exactly at `leftTs` matches (ASOF >=
    * semantics, right sorts before left on ties). Unmatched left rows
    * keep null payloads (left-outer shape). Right rows should be
    * unique per (key, ts) — the tie among exact duplicates is
    * engine-arbitrary, as in any ASOF implementation. */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      payloadCols: Seq[String], prefix: String = "asof_"): DataFrame = {
    val lStruct = struct(left.columns.toIndexedSeq.map(c => left(c).as(c)): _*)
    val l = left.select(col(key).as("__k"), col(leftTs).as("__ts"),
      lit(1).as("__side"), lStruct.as("__l"))
    val rStruct = struct(payloadCols.toIndexedSeq.map(c => right(c).as(c)): _*)
    val r = right.select(col(key).as("__k"), col(rightTs).as("__ts"),
      lit(0).as("__side"), rStruct.as("__p"))
    val l2 = l.withColumn("__p", lit(null).cast(r.schema("__p").dataType))
      .select("__k", "__ts", "__side", "__l", "__p")
    val r2 = r.withColumn("__l", lit(null).cast(l.schema("__l").dataType))
      .select("__k", "__ts", "__side", "__l", "__p")
    val w = Window.partitionBy("__k").orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l2.union(r2)
      .withColumn("__last", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__l.*") +:
        payloadCols.toIndexedSeq.map(c => col(s"__last.$c").as(prefix + c)): _*)
  }

  /** Range (interval-containment) join: pairs every left row whose
    * `leftTs` falls in a right row's `[startCol, endCol)` interval,
    * optionally also matching on an equi `key`. A naive inequality
    * join is a cartesian (or a broadcast-nested-loop) — quadratic and
    * un-shuffleable; the scale shape is BINNING: each right interval
    * explodes into the fixed-width time bins it covers, the left row
    * computes its single bin, and the match becomes an equi join on
    * (key, bin) with an exact residual filter. Each qualifying pair
    * matches exactly once (the left row owns one bin), so no dedup
    * pass. Cost ∝ rows × intervals-per-bin, never n·m. `binWidth` is
    * seconds; size it near the typical interval length so intervals
    * explode into O(1) bins. */
  def rangeJoin(
      left: DataFrame, right: DataFrame,
      leftTs: String, startCol: String, endCol: String,
      binWidth: Long, key: Option[String] = None): DataFrame = {
    require(binWidth > 0, "binWidth must be positive seconds")
    val lBin = (unix_timestamp(col(leftTs)) / binWidth).cast("long")
    val rBins = sequence(
      (unix_timestamp(col(startCol)) / binWidth).cast("long"),
      (unix_timestamp(col(endCol)) / binWidth).cast("long"))
    val l = left.withColumn("__bin", lBin)
    val r = right.withColumn("__bin", explode(rBins))
    val joinKeys = "__bin" +: key.toSeq
    l.join(r, joinKeys)
      .filter(col(leftTs) >= col(startCol) && col(leftTs) < col(endCol))
      .drop("__bin")
  }

  /** Skew-mitigating equi join. A hot join key funnels its whole group
    * through one task in a plain shuffle join; salting scatters the
    * probe (left, large) side across `salt` sub-keys — deterministically,
    * by hashing the full probe row — and replicates the build (right,
    * small-ish) side once per sub-key, so the hot key's work spreads
    * over `salt` tasks. Result is row-identical to the unsalted join.
    * Use when AQE's skew handling isn't available (e.g. forced
    * shuffle-hash) or a single key dominates beyond what AQE splits. */
  def saltedJoin(right: DataFrame, key: String, salt: Int, how: String = "inner")(
      left: DataFrame): DataFrame = {
    require(salt > 0, "salt must be positive")
    // right/full outer would emit one null-extended row PER SALT REPLICA
    // for unmatched build-side keys — only probe-preserving joins keep
    // the row-identical-to-unsalted contract
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "left_anti", "leftanti").contains(how.toLowerCase),
      s"saltedJoin supports probe-preserving joins only, got '$how'")
    val scatter = pmod(xxhash64(left.columns.toIndexedSeq.map(col): _*), lit(salt)).cast("int")
    val saltedLeft = left.withColumn("__salt", scatter)
    val saltedRight = right.withColumn(
      "__salt", explode(array((0 until salt).map(lit): _*)))
    saltedLeft.join(saltedRight, Seq(key, "__salt"), how).drop("__salt")
  }

  /** Time-series gap-fill + forward-fill over an already-aggregated
    * frame: for each key, densify `dayCol` across the key's own
    * [min, max] span at `step` granularity, flag the inserted rows
    * (`is_gap`), and carry the last observed `valueCol` forward into
    * them (`filled_<valueCol>`). The first row per key is never a gap
    * (the span starts at the key's first observation), so the fill is
    * total — no leading nulls.
    *
    * Scale shape: gap-fill runs on the AGGREGATED grain (days × keys),
    * not the raw events — the upstream groupBy has already compressed
    * 100 TB to the calendar size. Within that grain: one agg for the
    * spans, a narrow sequence/explode for the calendar, one equi join
    * back, one keyed window for the carry — all partitioned by key,
    * never a cartesian, state bounded by one row per (key, step). */
  def gapFill(
      daily: DataFrame, keyCol: String, dayCol: String, valueCol: String,
      step: String = "interval 1 day"): DataFrame = {
    val cal = daily.groupBy(keyCol)
      .agg(min(dayCol).as("__d0"), max(dayCol).as("__d1"))
      .select(col(keyCol),
        explode(expr(s"sequence(__d0, __d1, $step)")).as(dayCol))
    val w = Window.partitionBy(keyCol).orderBy(dayCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq(keyCol, dayCol), "left")
      .withColumn("is_gap", col(valueCol).isNull)
      .withColumn(s"filled_$valueCol",
        last(col(valueCol), ignoreNulls = true).over(w))
      .drop(valueCol)
  }

  /** Slowly-changing-dimension type-2 history builder: collapse an event
    * log to one row per (key, state run) — the row where `stateCol`
    * first differs from the key's previous state — with
    * `valid_from` = that event's `tsCol`, `valid_to` = the next change's
    * `valid_from` (null on the open run), and `is_current` flagging it.
    * `tieCol` breaks equal-timestamp ordering deterministically.
    * Consecutive events with the SAME state collapse into one run;
    * a state that recurs later opens a new run (type-2, not type-1).
    *
    * Scale shape: two keyed windows over the same (key × time)
    * partitioning — Catalyst plans ONE shuffle and sorts once; the
    * change filter between them shrinks the frame to the run count
    * before the lead. State per key is one row lookback, never a
    * per-key buffer. */
  def scd2(
      df: DataFrame, keyCol: String, tsCol: String,
      stateCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    df.select(col(keyCol), col(tsCol), col(tieCol), col(stateCol))
      .withColumn("__prev", lag(col(stateCol), 1).over(w))
      .filter(col("__prev").isNull || col("__prev") =!= col(stateCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col(stateCol), col(tieCol),
        col(tsCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Ordered k-stage funnel: for each key (user), the earliest time each
    * stage is reached, where stage i+1 must occur strictly AFTER the
    * event that satisfied stage i in the total order (tsCol, tieCol).
    * Greedy-earliest semantics: taking the earliest qualifying event at
    * every stage maximizes downstream reachability, so the reported
    * depth is the key's true maximum funnel depth. Output: one row per
    * key with `s1_ts..sk_ts` (null where unreached) and `depth`.
    *
    * Scale shape: ONE shuffle (groupBy key), then a per-key sorted fold
    * via codegen'd higher-order functions — no self-join per stage, no
    * k-pass scan. State per key is its own event list, the same bound
    * any per-user sessionization already accepts; at 100 TB the keys
    * partition freely and no stage ever revisits the raw table. */
  def funnel(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      stageCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.distinct.size == stages.size, "funnel stages must be distinct")
    val k = stages.size
    val evs = sort_array(collect_list(struct(
      col(tsCol).as("t"), col(tieCol).as("e"), col(stageCol).as("y"))))
    val init = struct(
      (1 to k).map(i => lit(null).cast("timestamp").as(s"s$i")): _*)
    def fold(acc: Column, ev: Column): Column = struct(
      stages.zipWithIndex.map { case (stage, i) =>
        val prevOk =
          if (i == 0) lit(true) else acc.getField(s"s$i").isNotNull
        when(acc.getField(s"s${i + 1}").isNull && prevOk
            && ev.getField("y") === stage, ev.getField("t"))
          .otherwise(acc.getField(s"s${i + 1}"))
          .as(s"s${i + 1}")
      }: _*)
    val folded = df.groupBy(col(keyCol)).agg(evs.as("__evs"))
      .select(col(keyCol), aggregate(col("__evs"), init, fold).as("__st"))
    // sk set implies s(k-1) set, so checking deepest-first is exact
    val depth = (1 to k).foldLeft(lit(0L)) { (els, i) =>
      when(col("__st").getField(s"s$i").isNotNull, lit(i.toLong)).otherwise(els)
    }
    folded.select(
      col(keyCol) +:
        (1 to k).map(i => col("__st").getField(s"s$i").as(s"s${i}_ts")) :+
        depth.as("depth"): _*)
  }

  /** Cohort retention: assign each key (user) to the day of its first
    * activity, then count distinct active keys per (cohort day, day
    * offset). Day grain is a truncated timestamp (house convention).
    *
    * Scale shape: the (key, day) distinct and the first-day agg share
    * the key-hash shuffle; the final agg runs on the already-compressed
    * activity grain (keys × active days), never the raw events. */
  def cohortRetention(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val act = df
      .select(col(keyCol), date_trunc("day", col(tsCol)).as("day_ts"))
      .distinct()
    val coh = act.groupBy(col(keyCol)).agg(min("day_ts").as("cohort_day"))
    act.join(coh, Seq(keyCol))
      .groupBy(col("cohort_day"),
        datediff(col("day_ts"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(countDistinct(col(keyCol)).as("n_users"))
  }

  /** Key-skew profile: the k heaviest keys of a prospective shuffle/join
    * key with their row counts and share of the table — the diagnostic
    * to run BEFORE a 100 TB groupBy/join, deciding between a plain
    * shuffle, salting (see saltedJoin), or AQE skew handling. One
    * partial-agg groupBy + an ordered limit; the total rides a 1-row
    * broadcast. Share is rounded 6 (exact integer divide then round). */
  def keySkewProfile(df: DataFrame, keyCols: Seq[Column], k: Int): DataFrame = {
    require(k >= 1, s"top-k must be >= 1: $k")
    val counts = df.groupBy(keyCols: _*).agg(count(lit(1)).as("n_rows"))
    val total = counts.agg(sum("n_rows").as("total_rows"))
    counts
      .orderBy(col("n_rows").desc +: keyCols.map(_.asc): _*)
      .limit(k)
      .crossJoin(broadcast(total))
      .withColumn("pct",
        round(col("n_rows").cast("double") / col("total_rows").cast("double") * 100, 6))
  }

  /** Z-value (Morton code) of NON-NEGATIVE integer bucket columns:
    * interleaves the low `bits` bits of each column so rows close in
    * EVERY dimension land close on one linear axis. Sort/range-partition
    * by this before writing and a multi-dimensional box predicate prunes
    * to a few files/row-groups instead of scanning the full table — the
    * data-skipping layout for "filter on x AND y" workloads where a
    * single-column sort can only prune one dimension. Callers bucket
    * raw values to non-negative ints first (floor-scale, ntile, epoch
    * days...); pure codegen'd bit arithmetic, shuffle-free. */
  def zorderValue(cols: Seq[Column], bits: Int = 16): Column = {
    val k = cols.size
    require(k >= 1 && bits >= 1 && bits * k <= 62,
      s"z-value must fit a signed long: $k cols x $bits bits")
    cols.zipWithIndex.flatMap { case (c, j) =>
      (0 until bits).map { i =>
        shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_ + _)
  }

  /** Fixed-width histogram: bucket = floor(value / width), with count
    * and observed [min, max] per bucket (rounded 6 for engine-portable
    * doubles). Pure partial-aggregation groupBy on a derived integer
    * key — the one-pass profile of a 100 TB numeric column. */
  def histogram(df: DataFrame, valueCol: Column, width: Double): DataFrame = {
    require(width > 0, "histogram width must be positive")
    df.select(floor(valueCol / lit(width)).as("bucket"), valueCol.as("__v"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(min("__v"), 6).as("lo_val"),
        round(max("__v"), 6).as("hi_val"))
  }

  /** Snapshot diff: classify every key as added / removed / changed
    * between two versions of a table (unchanged keys are dropped — on
    * a 100 TB table the diff is the small output, never the input).
    * `keys` must identify a row in each snapshot; `compareCols` are
    * null-safely compared as one struct, so a null→value transition
    * counts as a change and null→null does not.
    *
    * Scale shape: ONE co-partitioned shuffle — both sides exchange on
    * the key once for the full-outer sort-merge join, and the
    * classification is a codegen'd projection on the joined row. With
    * both snapshots bucketed by the key ([[graft.sinks.Sinks]]
    * writeBucketed) the exchanges vanish entirely — the daily
    * "what moved since yesterday" incremental pattern. */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    require(compareCols.nonEmpty, "snapshotDiff needs columns to compare")
    val o = oldDf.select(
      keys.map(col) :+ struct(compareCols.map(col): _*).as("__old_v"): _*)
    val n = newDf.select(
      keys.map(col) :+ struct(compareCols.map(col): _*).as("__new_v"): _*)
    o.join(n, keys, "full_outer")
      .withColumn("change",
        when(col("__old_v").isNull, lit("added"))
          .when(col("__new_v").isNull, lit("removed"))
          .when(!(col("__old_v") <=> col("__new_v")), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keys.map(col) :+ col("change"): _*)
  }

  // ---------------------------------------------------------------------
  // Union sources (SURVEY §2.1 S6/S7)
  // ---------------------------------------------------------------------

  /** S6/S7 — schema-drift-tolerant union: fields present in one input only
    * become nulls (strictly more correct than the reference's
    * first-record-wins header, documented deviation in SURVEY §1.3). */
  def unionAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))

  // ---------------------------------------------------------------------
  // Money presentation (SURVEY §2: q1_pricing/q3_topk/q5_revenue/ext_rollup)
  // ---------------------------------------------------------------------

  /** Presentation cast for the engine's exact-integer money convention:
    * the analytical queries aggregate money in smallest units on BIGINT
    * (`sum_price_c` = cents, scale 2; `revenue_e4` = 1e-4 dollars,
    * scale 4 — see the convention note at ExtQueries q1_pricing), which
    * keeps arithmetic exact and the output type stable across engines.
    * This helper is the consumer-facing view back to dollars:
    * `centsToDecimal(col("sum_price_c"), 2)` → `DECIMAL(38,2)` dollars,
    * `centsToDecimal(col("revenue_e4"), 4)` → `DECIMAL(38,4)` dollars.
    * Exact for every scale in [0,18]: the input is widened to
    * DECIMAL(19,0) — the exact width of a BIGINT, NOT decimal(38,0) —
    * so Spark's division typing (p1-s1+s2+max(6,s1+p2+1)) stays at or
    * under precision 39 and the allowPrecisionLoss adjustment can never
    * push the result scale below the requested one (worst case,
    * scale=18: decimal(19,0)/decimal(19,0) → adjusted decimal(38,19)).
    * With a decimal(38,0) input, scales 7-18 would silently round to 6
    * fractional digits before the final cast padded zeros back. */
  def centsToDecimal(c: Column, scale: Int = 2): Column = {
    require(scale >= 0 && scale <= 18, s"unsupported money scale $scale")
    (c.cast("decimal(19,0)") / lit(BigDecimal(10).pow(scale)))
      .cast(s"decimal(38,$scale)")
  }
}
