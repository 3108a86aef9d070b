package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.config._
import graft.operators.{ImageOps, LlmOps, MultimodalOps, Ops, TextOps}
import graft.sinks.Sinks
import graft.sources.Http

/** Per-pipeline outcome held by the run context (reference
  * PipelineResult, sequence_pipeline.rs:8-15). `recordCount` is LAZY:
  * it is read only when something actually demands it — a C2
  * records-count/skip-if-empty condition, the A1/W7 summary, or an
  * explicit caller — and it is a Spark action only when neither the
  * sink's pass nor the validation count already counted the rows. A
  * pipeline with no conditions, no sink and no export triggers zero
  * jobs. */
final case class PipelineOutcome(
    name: String,
    df: Option[DataFrame],
    outputPath: Option[String],
    durationMs: Long,
    status: String, // succeeded | skipped | failed
    error: Option[String] = None,
    countFn: () => Long = () => 0L,
    /** Per-phase wall times (EtlEngine parity, etl_engine.rs:25-65).
      * In a lazy engine E/T measure plan construction plus any
      * driver-side I/O (HTTP fetches happen here); `loadMs` covers the
      * materializing sink action — documented deviation from the
      * reference's eager per-phase row work. */
    extractMs: Long = 0L,
    transformMs: Long = 0L,
    loadMs: Long = 0L,
    /** Which phase a failed pipeline died in ("transform" | "load"),
      * when known — drives the on_transform_error / on_load_error
      * tolerance decision in the sequence executor. */
    failedPhase: Option[String] = None) {
  lazy val recordCount: Long = countFn()
}

/** Cross-pipeline state (reference PipelineContext,
  * sequence_pipeline.rs:18-24): named DataFrames stay lazy/cached in the
  * cluster; only tiny shared values (tokens, ids) live on the driver. */
final class RunContext(val executionId: String) {
  val results: mutable.LinkedHashMap[String, PipelineOutcome] = mutable.LinkedHashMap.empty
  val shared: mutable.Map[String, Any] = mutable.Map.empty
  /** Where the sequence-level combined dataset was written, when at
    * least one pipeline set `load.append_to_sequence` and the combined
    * write succeeded (see Orchestrator.writeCombined). */
  var combinedOutput: Option[String] = None
  /** Frames cached for cross-pipeline reuse, and the inputs of curation
    * stages that read them more than once (`Orchestrator.Stages`); all
    * released together at sequence end. */
  val persisted: mutable.ListBuffer[DataFrame] = mutable.ListBuffer.empty
  /** Caches `df` lazily ([[Pin.cache]]) and registers it in
    * [[persisted]]. A cache, not a checkpoint: callers may read a
    * result frame after [[unpersistAll]], which then recomputes. */
  def cache(df: DataFrame): DataFrame = pinned(Pin.cache(df))
  /** Checkpoints `df` lazily and registers it: AQE plans a table-cache
    * job per scan of a cached frame, none per scan of a checkpoint. A
    * frame over it cannot be read after [[unpersistAll]]. */
  def checkpoint(df: DataFrame): DataFrame = pinned(Pin.checkpoint(df, eager = false))
  private def pinned(c: DataFrame): DataFrame = { persisted += c; c }
  def releaseFrom(n: Int): Unit = { persisted.drop(n).foreach(Pin.release); persisted.takeInPlace(n) }
  def unpersistAll(): Unit = releaseFrom(0)

  def succeeded: Seq[PipelineOutcome] = results.values.filter(_.status == "succeeded").toSeq
  def latestDf: Option[DataFrame] = succeeded.reverse.flatMap(_.df).headOption
  def dfFor(name: Option[String]): Option[DataFrame] = name match {
    case Some(n) => results.get(n).flatMap(_.df)
    case None => latestDf
  }
  def allDfs: Seq[DataFrame] = succeeded.flatMap(_.df)
}

/** Sequence executor (SURVEY §2.9 C1-C6 + §3.1 lifecycle).
  *
  * Driver-side control flow only: condition checks and shared-data
  * export are the deliberate action barriers between pipelines
  * (SURVEY §3.4); everything else stays a lazy Spark plan until a
  * sink or count forces it.
  */
object Orchestrator {

  final case class ValidationException(msg: String) extends RuntimeException(msg)

  /** A stop-on-failure abort carrying the partial run context, so the
    * caller can still report/write metrics for the pipelines that DID
    * run (the reference's runner always writes sequence_metrics.json,
    * sequence_etl.rs:336-400 — including for failed sequences). */
  final case class SequenceFailed(msg: String, ctx: RunContext)
      extends RuntimeException(msg)

  /** A pipeline failure tagged with the phase it happened in, so the
    * executor can apply on_transform_error / on_load_error. A load-phase
    * failure carries the transformed frame: the rows are fine, only the
    * sink failed, and "continue" keeps them reachable downstream. */
  private final case class PhaseFailed(
      phase: String, cause: Throwable, frame: Option[DataFrame])
      extends RuntimeException(
        s"$phase: ${Option(cause.getMessage).getOrElse(cause.getClass.getName)}",
        cause)

  /** Error policies accepted by on_transform_error / on_load_error. */
  private val TolerantPolicies = Set("skip", "continue")
  private val ErrorPolicies = TolerantPolicies + "stop"

  /** Formats the sinks accept (reference whitelist csv|tsv|json,
    * toml_config.rs:168-173, plus the Spark-native parquet and orc). */
  private val FormatWhitelist = Set("csv", "tsv", "json", "parquet", "orc")

  /** C4 — execution-order names exist, dependencies exist, DFS cycle
    * detection. Like the reference, dependencies are validated but
    * scheduling follows `executionOrder` (sequence_config.rs:279-409).
    * Per-pipeline checks mirror toml_config.rs:152-184: endpoint URL
    * scheme, output-format whitelist, bounds on retry/timeout. */
  def validate(seq: SequenceDef): Unit = {
    val byName = seq.pipelines.map(p => p.name -> p).toMap
    seq.executionOrder.foreach { n =>
      if (!byName.contains(n))
        throw ValidationException(s"execution_order references unknown pipeline '$n'")
    }
    if (seq.retryAttempts < 0 || seq.retryAttempts > 10)
      throw ValidationException(s"retry_attempts out of bounds [0,10]: ${seq.retryAttempts}")
    if (!ErrorPolicies(seq.onTransformError))
      throw ValidationException(
        s"on_transform_error must be stop|skip|continue: '${seq.onTransformError}'")
    if (!ErrorPolicies(seq.onLoadError))
      throw ValidationException(
        s"on_load_error must be stop|skip|continue: '${seq.onLoadError}'")
    seq.pipelines.foreach { p =>
      p.dependencies.foreach { d =>
        if (!byName.contains(d))
          throw ValidationException(s"pipeline '${p.name}' depends on unknown pipeline '$d'")
      }
      def checkHttp(h: HttpRequestDef): Unit = {
        if (!h.endpoint.startsWith("http://") && !h.endpoint.startsWith("https://")
          && !h.endpoint.contains("${")) // unresolved env placeholder: defer
          throw ValidationException(
            s"pipeline '${p.name}': endpoint must be http(s): '${h.endpoint}'")
        if (h.timeoutSeconds < 1 || h.timeoutSeconds > 300)
          throw ValidationException(
            s"pipeline '${p.name}': timeout_seconds out of bounds [1,300]: ${h.timeoutSeconds}")
      }
      p.source match {
        case ApiSource(h) => checkHttp(h)
        case MergedApiSource(h) => checkHttp(h)
        case ParameterizedApiSource(h, _, _) => checkHttp(h)
        case _ => ()
      }
      p.load.foreach { l =>
        val bad = l.formats.filterNot(FormatWhitelist)
        if (bad.nonEmpty)
          throw ValidationException(
            s"pipeline '${p.name}': unsupported formats ${bad.mkString(",")} " +
              s"(allowed: ${FormatWhitelist.toSeq.sorted.mkString(",")})")
        // parquet/orc are distributed-only formats: the single-file/zip
        // renderers are text-based and would fail mid-run otherwise
        val columnar = l.formats.toSet.intersect(Set("parquet", "orc"))
        if ((l.singleFile || l.zip) && columnar.nonEmpty)
          throw ValidationException(
            s"pipeline '${p.name}': ${columnar.mkString(",")} cannot be rendered single-file/zip")
        if (l.outputPath.isEmpty)
          throw ValidationException(s"pipeline '${p.name}': empty output_path")
        if (l.singleFileMaxRows <= 0)
          throw ValidationException(s"pipeline '${p.name}': single_file_max_rows must be > 0")
        if (!Set("overwrite", "append", "overwrite_partitions")(l.mode))
          throw ValidationException(
            s"pipeline '${p.name}': load.mode must be overwrite|append|overwrite_partitions: '${l.mode}'")
        if (l.mode == "overwrite_partitions" && l.partitionBy.isEmpty)
          throw ValidationException(
            s"pipeline '${p.name}': overwrite_partitions requires partition_by")
        if (l.mode != "overwrite" && (l.singleFile || l.zip))
          throw ValidationException(
            s"pipeline '${p.name}': mode '${l.mode}' needs the distributed sink")
      }
    }
    // DFS cycle detection over the dependency graph
    val visiting = mutable.Set.empty[String]
    val done = mutable.Set.empty[String]
    def dfs(n: String): Unit = {
      if (visiting.contains(n)) throw ValidationException(s"dependency cycle involving '$n'")
      if (!done.contains(n)) {
        visiting += n
        byName.get(n).toSeq.flatMap(_.dependencies).foreach(dfs)
        visiting -= n
        done += n
      }
    }
    seq.pipelines.foreach(p => dfs(p.name))
  }

  /** C2 — conditional execution (contextual_pipeline.rs:1231-1288). */
  def shouldExecute(p: PipelineDef, ctx: RunContext): Boolean = {
    val c = p.conditions
    if (!c.enabled) return false
    if (c.whenPreviousSucceeded && ctx.succeeded.isEmpty) return false
    c.whenRecordsCount.foreach { rc =>
      val count = rc.fromPipeline match {
        case Some(n) => ctx.results.get(n).map(_.recordCount).getOrElse(-1L)
        case None => ctx.succeeded.lastOption.map(_.recordCount).getOrElse(-1L)
      }
      if (count < 0) return false
      if (rc.min.exists(count < _)) return false
      if (rc.max.exists(count > _)) return false
    }
    c.whenSharedData.foreach { case (k, v) =>
      if (!ctx.shared.get(k).contains(v)) return false
    }
    if (c.skipIfEmpty && ctx.succeeded.lastOption.exists(_.recordCount == 0)) return false
    true
  }

  /** C3 + C5 — run the sequence in order; `only`/`skip` filter the
    * enabled list like the CLI flags (sequence_etl.rs:215-236). First
    * failure aborts when onPipelineFailure == "stop" (reference
    * behavior), "continue" records the failure and proceeds; honest
    * retry implements the reference's declared-but-dead retry config. */
  def execute(
      spark: SparkSession,
      seq: SequenceDef,
      executionId: String = s"seq_${System.currentTimeMillis()}",
      only: Set[String] = Set.empty,
      skip: Set[String] = Set.empty,
      unpersistOnEnd: Boolean = true): RunContext = {
    validate(seq)
    val ctx = new RunContext(executionId)
    val byName = seq.pipelines.map(p => p.name -> p).toMap
    val selected = seq.executionOrder
      .filter(n => only.isEmpty || only.contains(n))
      .filterNot(skip.contains)
    // Persist a pipeline's frame only when something will evaluate it
    // more than once — otherwise caching doubles I/O for nothing (the
    // round-1 eager persist+count anti-pattern). "More than once" means:
    // a later pipeline consumes previous outputs (source or merge), a
    // later pipeline's count-based condition forces a previous count,
    // the pipeline's own load runs one action per format / zip entry,
    // `transform.validation` counts the frame before the sink, or the
    // record count needs its own pass. The count rides on the sink's
    // pass when the sink is a distributed write (an Observation on it);
    // a single-file render cannot deliver one, so there the count is a
    // second read. So is a failed write that `on_load_error` tolerates:
    // the kept frame is counted after the sink died, and the pin keeps
    // the partitions the write computed from being computed again. A
    // pipeline with no sink is read once, by the count.
    def consumesPrevious(p: PipelineDef): Boolean = (p.source match {
      case _: PreviousSource | CombinedSource | _: MergedApiSource |
          _: ParameterizedApiSource => true
      case _ => p.transform.mergeWithPrevious
    }) || p.conditions.whenRecordsCount.nonEmpty || p.conditions.skipIfEmpty
    def readsTwice(p: PipelineDef): Boolean =
      p.load.exists(l => l.formats.size > 1 || l.appendToSequence ||
        !Sinks.distributed(l) || TolerantPolicies(seq.onLoadError)) ||
        validationCounts(p)
    selected.zipWithIndex.foreach { case (name, i) =>
      val p = byName(name)
      val consumedLater =
        selected.drop(i + 1).exists(n => consumesPrevious(byName(n))) ||
          readsTwice(p)
      if (!shouldExecute(p, ctx)) {
        ctx.results(name) = PipelineOutcome(name, None, None, 0L, "skipped")
      } else {
        val t0 = System.nanoTime()
        def attempt(remaining: Int): PipelineOutcome = {
          val pinned = ctx.persisted.size
          try runPipeline(spark, p, ctx, persist = consumedLater)
          catch {
            case scala.util.control.NonFatal(e) if remaining > 0 =>
              // the retry transforms afresh: the failed attempt's pins back nothing
              ctx.releaseFrom(pinned)
              if (seq.retryDelayMs > 0) Thread.sleep(seq.retryDelayMs)
              attempt(remaining - 1)
            case scala.util.control.NonFatal(e) =>
              // tolerated load failure: only the sink died — keep the
              // transformed frame reachable for by-name previous sources
              val (phase, frame) = e match {
                case PhaseFailed(ph, _, fr) =>
                  (Some(ph),
                    fr.filter(_ => ph == "load" && TolerantPolicies(seq.onLoadError)))
                case _ => (None, None)
              }
              // a kept frame must also keep a real count: downstream
              // when_records_count conditions would otherwise read 0 and
              // silently skip consumers of the surviving data
              PipelineOutcome(name, frame, None, 0L, "failed",
                Some(Option(e.getMessage).getOrElse(e.getClass.getName)),
                countFn = () => frame.map(_.count()).getOrElse(0L),
                failedPhase = phase)
          }
        }
        val outcome0 = attempt(seq.retryAttempts)
        val outcome = outcome0.copy(
          durationMs = (System.nanoTime() - t0) / 1000000L)
        ctx.results(name) = outcome
        // a failed phase whose policy is skip/continue never aborts the
        // sequence, whatever on_pipeline_failure says — that is the whole
        // point of the per-phase override
        val tolerated =
          (outcome.failedPhase.contains("transform")
            && TolerantPolicies(seq.onTransformError)) ||
          (outcome.failedPhase.contains("load")
            && TolerantPolicies(seq.onLoadError))
        if (outcome.status == "failed" && seq.onPipelineFailure == "stop" && !tolerated)
          throw SequenceFailed(
            s"pipeline '$name' failed: ${outcome.error.getOrElse("")} (sequence aborted)",
            ctx)
      }
    }
    writeCombined(spark, seq, selected.flatMap(byName.get), ctx)
    if (unpersistOnEnd) ctx.unpersistAll()
    ctx
  }

  /** The sequence-level combined write behind `load.append_to_sequence`
    * (reference sequence_config.rs:129 — parsed-but-dead there;
    * implemented honestly here): every SUCCEEDED pipeline that set the
    * flag contributes its frame to one drift-tolerant union by name
    * (the S6 rule), written ONCE after the execution order completes
    * using the first contributor's sink config under a
    * "<sequence>_combined" name. Skipped and failed pipelines never
    * contribute — the same conditions machinery that governed the run
    * governs membership. A combined-write failure follows the
    * on_load_error policy: tolerated → recorded in
    * `shared("sequence_combined_error")`, else the sequence fails. */
  private def writeCombined(
      spark: SparkSession,
      seq: SequenceDef,
      selected: Seq[PipelineDef],
      ctx: RunContext): Unit = {
    val contributors = selected.flatMap { p =>
      ctx.results.get(p.name) match {
        case Some(o) if o.status == "succeeded" && o.df.nonEmpty &&
            p.load.exists(_.appendToSequence) => Some(p -> o.df.get)
        case _ => None
      }
    }
    contributors.headOption.foreach { case (first, _) =>
      try {
        val combined = Ops.unionAll(contributors.map(_._2))
        ctx.combinedOutput = Some(Sinks.write(
          spark, combined, None, first.load.get,
          s"${seq.name}_combined", ctx.executionId))
      } catch {
        case scala.util.control.NonFatal(e) if TolerantPolicies(seq.onLoadError) =>
          ctx.shared("sequence_combined_error") =
            Option(e.getMessage).getOrElse(e.getClass.getName)
        case scala.util.control.NonFatal(e) =>
          throw SequenceFailed(
            s"sequence combined write failed: ${Option(e.getMessage).getOrElse(e.getClass.getName)}",
            ctx)
      }
    }
  }

  /** True when `transform.validation` counts the frame (min/max bounds). */
  private def validationCounts(p: PipelineDef): Boolean =
    p.transform.validation.exists(v => v.minRecords.nonEmpty || v.maxRecords.nonEmpty)

  /** One pipeline: extract → transform → load (EtlEngine parity,
    * etl_engine.rs:25-65). Nothing is materialized unless something
    * demands it: the C1 export collects only the (bounded) intermediate
    * branch, the sink write is its own action, and the record count is
    * deferred behind `PipelineOutcome.recordCount` — taken from the
    * validation count or the sink's Observation when either ran, and by
    * a count of the frame otherwise. */
  def runPipeline(
      spark: SparkSession,
      p: PipelineDef,
      ctx: RunContext,
      persist: Boolean = false): PipelineOutcome = {
    def timed[A](f: => A): (A, Long) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1000000L)
    }
    val (extracted, eMs) = timed(extract(spark, p, ctx))
    val ((main0, intermediate), tMs) = timed(
      try transform(spark, p, ctx, extracted)
      catch { case scala.util.control.NonFatal(e) =>
        throw PhaseFailed("transform", e, None) })
    val main = if (persist) ctx.cache(main0) else main0
    // transform.validation (declared-but-dead in the reference,
    // implemented honestly): schema check is free; min/max force ONE
    // count — after persist, so the materialization is reused by the
    // sink — and that count is the record count
    val validated = try p.transform.validation.flatMap { v =>
      val missing = v.requiredFields.filterNot(main.columns.contains)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"pipeline '${p.name}': missing required fields ${missing.mkString(",")}")
      if (validationCounts(p)) {
        val n = main.count()
        v.minRecords.filter(n < _).foreach(m => throw new IllegalStateException(
          s"pipeline '${p.name}': $n records < min_records $m"))
        v.maxRecords.filter(n > _).foreach(m => throw new IllegalStateException(
          s"pipeline '${p.name}': $n records > max_records $m"))
        Some(n)
      } else None
    } catch { case scala.util.control.NonFatal(e) =>
      throw PhaseFailed("transform", e, None) }
    exportShared(p, ctx, intermediate)
    // only a distributed write's query delivers an Observation
    val observation = p.load.filter(l => validated.isEmpty && Sinks.distributed(l))
      .map(_ => org.apache.spark.sql.Observation())
    val written = observation.fold(main)(o => main.observe(o, count(lit(1)).as("records")))
    val (outPath, lMs) = timed(
      try p.load.map { l =>
        Sinks.write(spark, written, intermediate, l, p.name, ctx.executionId)
      } catch { case scala.util.control.NonFatal(e) =>
        throw PhaseFailed("load", e, Some(main)) })
    // the Observation completes on the listener bus once the write's
    // query finishes: drain the bus, then read it without blocking
    def observed: Option[Long] = observation.flatMap { o =>
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
      o.future.value.flatMap(_.toOption).map(_.getLong(0))
    }
    PipelineOutcome(p.name, Some(main), outPath, 0L, "succeeded", None,
      () => validated.orElse(observed).getOrElse(main.count()),
      extractMs = eMs, transformMs = tMs, loadMs = lMs)
  }

  /** Extract phase: source dispatch (S1-S9) then the data_processing
    * block (filters F6 → dedup D1/D2 → sort O1 → limit F4/F5), the
    * reference's fixed order (contextual_pipeline.rs:608-676). */
  def extract(spark: SparkSession, p: PipelineDef, ctx: RunContext): DataFrame = {
    val shared = ctx.shared.toMap
    val src: DataFrame = p.source match {
      case FileSource(path, format, options) =>
        spark.read.format(format).options(options).load(path)
      case ApiSource(http) =>
        if (p.extract.onApiFailure == "use_sample_data")
          Http.readApiWithFallback(spark, http, p.extract.sampleData, shared)
        else Http.readApi(spark, http, shared)
      case PreviousSource(name) =>
        ctx.dfFor(name).getOrElse(
          throw new IllegalStateException(s"no previous output for ${p.name}"))
      case CombinedSource =>
        val dfs = ctx.allDfs
        if (dfs.isEmpty) throw new IllegalStateException("combined source with no previous outputs")
        Ops.unionAll(dfs)
      case MergedApiSource(http) =>
        val api = Http.readApiWithFallback(spark, http, p.extract.sampleData, shared)
        Ops.unionAll(ctx.allDfs :+ api)
      case ParameterizedApiSource(http, from, rateMs) =>
        val prev = ctx.dfFor(from).getOrElse(
          throw new IllegalStateException(s"no previous output to parameterize ${p.name}"))
        Http.fanOut(spark, prev, http, shared, rateMs, p.extract.concurrentRequests)
    }
    var df = src
    if (p.extract.fieldMapping.nonEmpty) df = Ops.extractPaths(p.extract.fieldMapping)(df)
    p.extract.filters.foreach { case (f, v) =>
      v match {
        case vs: Seq[_] => df = Ops.inFilter(f, vs)(df)
        case single => df = Ops.equalityFilter(Map(f -> single))(df)
      }
    }
    val proc = p.extract.processing
    if (proc.deduplicateFields.nonEmpty) df = df.dropDuplicates(proc.deduplicateFields)
    else if (proc.deduplicate) df = Ops.dedupAll(df)
    proc.sortBy.foreach { f =>
      df = Ops.sortBy(f, proc.sortOrder.toLowerCase != "desc", proc.sortAsString)(df)
    }
    if (p.extract.firstRecordOnly) df = df.limit(1)
    else p.extract.maxRecords.foreach(n => df = df.limit(n))
    df
  }

  /** True when re-evaluating this pipeline's frame may yield different
    * rows: an unordered `limit` can pick different rows per evaluation.
    * HTTP sources are NOT in this set — single calls fetch eagerly on
    * the driver, and the fan-out pins its responses with an eager
    * localCheckpoint inside `Http.fanOut`, so both re-evaluate
    * deterministically without re-firing calls. */
  private def nondeterministicSource(p: PipelineDef): Boolean =
    p.extract.firstRecordOnly || p.extract.maxRecords.nonEmpty

  /** A side table a transform stage reads by path (lookup, registry,
    * weights, merges, target corpus); csv side tables have a header row. */
  private def readSide(spark: SparkSession, format: String, path: String,
      options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format(format)
      .options(options ++ (if (format == "csv") Map("header" -> "true") else Map.empty))
      .load(path)

  /** A payload column as bytes: a BinaryType field rides as-is, a
    * StringType one is UTF-8-encoded (the zero-egress media stand-in). */
  private def payloadCol(frame: DataFrame, field: String): Column =
    if (frame.schema(field).dataType == BinaryType) col(field)
    else MultimodalOps.withPayload(col(field))

  /** Keeps each dedup component's canonical row: the one whose id is the
    * component's `canonical_id`. */
  private def keepCanonical(df: DataFrame, idField: String, groups: DataFrame): DataFrame =
    df.join(groups.filter(col(idField) === col("canonical_id")).select(idField),
      Seq(idField), "left_semi")

  /** The pair-based dedup stages' shape: connected components over the
    * near-duplicate `pairs` (`doc_a`, `doc_b`), then [[keepCanonical]]. */
  private def dedupPairs(df: DataFrame, idField: String, pairs: DataFrame): DataFrame =
    keepCanonical(df, idField,
      LlmOps.dedupGroups(df, idField, pairs.select(col("doc_a"), col("doc_b"))))

  /** Joins the classifier `scores` (id, `score`) on as `classifier_score`
    * and keeps the rows that clear `min`. */
  private def classifierGate(
      df: DataFrame, idField: String, min: Double, scores: DataFrame): DataFrame =
    df.join(scores.select(col(idField), col("score").as("classifier_score")), Seq(idField))
      .filter(col("classifier_score") >= min)

  /** One curation stage of [[transform]]: its config key, whether its
    * body reads its input more than once, and the body, defined when the
    * transform configures the stage. */
  private[graft] final case class Stage(
      name: String, rereads: Boolean, body: TransformDef => Option[DataFrame => DataFrame])

  private def stage[A](name: String, rereads: Boolean)(field: TransformDef => Option[A])(
      run: (A, DataFrame) => DataFrame): Stage =
    Stage(name, rereads, t => field(t).map(a => (df: DataFrame) => run(a, df)))

  /** The curation stages in the reference's fixed operator order, each
    * named by its config key. `rereads` marks the stages whose body
    * evaluates an unpinned input 2 to 6 times per row (measured with a
    * counting UDF on the input, as in OrchestratorSpec), and
    * `epoch_pack`, whose training, layout, vocabulary, prefix sum and
    * sink each read the gated frame. */
  private[graft] val Stages: Seq[Stage] = Seq(
    stage("near_dedup", rereads = true)(_.nearDedup) { (nd, df) =>
      dedupPairs(df, nd.idField,
        LlmOps.minHashCandidatePairs(df, nd.idField, nd.textField, nd.shingleSize))
    },
    stage("winnow_dedup", rereads = true)(_.winnowDedup) { (wd, df) =>
      dedupPairs(df, wd.idField,
        TextOps.winnowPairs(df, wd.idField, wd.textField, wd.k, wd.w,
          wd.maxDocsPerFp, wd.minShared).filter(col("overlap") >= wd.minOverlap))
    },
    stage("payload_dedup", rereads = true)(_.payloadDedup) { (pd, df) =>
      dedupPairs(df, pd.idField, MultimodalOps.payloadNearDupPairs(
        df.withColumn("__payload", payloadCol(df, pd.payloadField)),
        pd.idField, "__payload", pd.maxHamming))
    },
    stage("payload_dedup_registry", rereads = true)(_.payloadDedupRegistry) { (pr, df) =>
      // "dedup today's crawl against the media registry": probe the
      // historical (band, slice) space with the NEW batch only —
      // history is never re-paired against itself
      val hist0 = readSide(df.sparkSession, pr.historyFormat, pr.historyPath)
      val hist = hist0.select(col(pr.historyIdField).as(pr.idField),
        payloadCol(hist0, pr.historyPayloadField).as("__payload"))
      MultimodalOps.payloadIncrementalNearDup(
        df.withColumn("__payload", payloadCol(df, pr.payloadField)),
        hist, pr.idField, "__payload", pr.maxHamming).drop("__payload")
    },
    stage("crossmodal_dedup", rereads = true)(_.crossModalDedup) { (xm, df) =>
      // cross-modal canonicalization: text SimHash edges ∪ payload
      // perceptual edges → one CC pass, keep each component's min id
      keepCanonical(df, xm.idField, MultimodalOps.crossModalDupGroups(
        df.withColumn("__payload", payloadCol(df, xm.payloadField)),
        xm.idField, xm.textField, "__payload", xm.maxHamming))
    },
    stage("image_dedup", rereads = true)(_.imageDedup) { (im, df) =>
      // perceptual image dedup: decode → aHash60 → banded Hamming
      // pairs → CC keep-min. Bytes that don't decode as an image get
      // no code and therefore no pairs — they are their own singleton
      // component and always survive (no perceptual information is no
      // evidence of duplication).
      dedupPairs(df, im.idField, ImageOps.imageNearDupPairs(
        df.withColumn("__payload", payloadCol(df, im.payloadField)),
        im.idField, "__payload", im.maxHamming))
    },
    stage("image_semantic_dedup", rereads = true)(_.imageSemanticDedup) { (im, df) =>
      // semantic image dedup: grid-cell contrast embedding through the
      // banded hyperplane-LSH + exact-cosine ANN stack — pairs resize/
      // re-encoded variants whose aHash bits drifted apart. Keep-min
      // canonical like every other dedup stage.
      dedupPairs(df, im.idField, ImageOps.imageSemanticNearDupPairs(
        df.withColumn("__payload", payloadCol(df, im.payloadField)),
        im.idField, "__payload", im.threshold, im.grid)
        .select(col("keep_id").as("doc_a"), col("dup_id").as("doc_b")))
    },
    stage("decontaminate", rereads = true)(_.decontaminate) { (dc, df) =>
      LlmOps.decontaminate(df, dc.idField, dc.textField,
        readSide(df.sparkSession, dc.benchFormat, dc.benchPath),
        dc.benchIdField, dc.benchTextField,
        dc.n, dc.minOverlapNgrams, dc.k, dc.w, dc.minContainment)
    },
    stage("strip_dup_spans", rereads = true)(_.stripDupSpans) { (sd, df) =>
      TextOps.stripDupSpans(df, sd.idField, sd.textField,
        sd.k, sd.w, sd.maxDocsPerFp, sd.gap, sd.minFps)
    },
    stage("near_dedup_registry", rereads = true)(_.nearDedupRegistry) { (nr, df) =>
      val hist = readSide(df.sparkSession, nr.historyFormat, nr.historyPath)
        .withColumnRenamed(nr.historyIdField, nr.idField)
        .withColumnRenamed(nr.historyTextField, nr.textField)
      LlmOps.incrementalNearDedup(
        df, hist, nr.idField, nr.textField, nr.shingleSize, nr.minJaccard)
    },
    stage("lang_filter", rereads = false)(_.langFilter) { (lf, df) =>
      df.filter(TextOps.langId(col(lf.field)).isin(lf.allowed: _*))
    },
    stage("quality_filter", rereads = false)(_.qualityFilter) { (qf, df) =>
      df.filter(TextOps.qualityScore(col(qf.field)) >= qf.min)
    },
    stage("classifier_filter", rereads = true)(_.classifierFilter) { (cf, df) =>
      val weights = readSide(df.sparkSession, cf.weightsFormat, cf.weightsPath)
      classifierGate(df, cf.idField, cf.min, TextOps.classifierScore(
        df, cf.idField, cf.textField, weights, cf.nBuckets, cf.scale, cf.bias))
    },
    stage("classifier_train", rereads = true)(_.classifierTrain) { (ct, df) =>
      val wts = TextOps.classifierTrain(
        df.filter(col(ct.srcField) === ct.posSource),
        df.filter(col(ct.srcField) === ct.negSource),
        ct.idField, ct.textField, ct.nBuckets, ct.iters, lrDen = ct.lrDen)
      // trained weights are log2-fixed micro-units: score with the
      // matching 2^20 scale
      classifierGate(df, ct.idField, ct.min, TextOps.classifierScore(
        df, ct.idField, ct.textField, wts, ct.nBuckets, scale = (1L << 20).toDouble))
    },
    stage("lm_filter", rereads = true)(_.lmFilter) { (lf, df) =>
      val keep = TextOps.lmStupidBackoff(df, lf.idField, lf.textField,
        trainPred = col(lf.srcField) === lf.trainSource, lf.threshBits)
        .filter(col("kept") === 1L).select(col(lf.idField))
      df.join(keep, Seq(lf.idField), "left_semi")
    },
    stage("gopher_filter", rereads = false)(_.gopherFilter) { (gf, df) =>
      // a per-row gate is a filter, so the upstream is read once; a row
      // without an id never passes a gate. bindOnce: gopherKeep names the
      // text ~10 times, and pushdown would copy an upstream rewrite into each
      df.filter(col(gf.idField).isNotNull &&
        TextOps.bindOnce(col(gf.textField))(text =>
          TextOps.gopherKeep(text, gf.minWords, gf.maxWords, gf.minMeanWordLen,
            gf.maxMeanWordLen, gf.maxSymbolRatio, gf.maxBulletFrac,
            gf.maxEllipsisFrac, gf.minAlphaFrac, gf.minStopwords)))
    },
    stage("c4_clean", rereads = false)(_.c4Clean) { (cc, df) =>
      val cleaned = TextOps.c4Clean(df, cc.idField, cc.textField,
        cc.window, cc.minSegWords, cc.minSegs, cc.blacklist)
        .select(col(cc.idField), col("text_clean"))
      df.join(cleaned, Seq(cc.idField))
        .withColumn(cc.textField, col("text_clean")).drop("text_clean")
    },
    stage("dsir_select", rereads = true)(_.dsirSelect) { (ds, df) =>
      val target = readSide(df.sparkSession, ds.targetFormat, ds.targetPath)
        .select(col(ds.targetTextField.getOrElse(ds.textField)).as(ds.textField))
      val wts = TextOps.dsirWeights(target, df, ds.textField, ds.nBuckets)
      val scores = TextOps.dsirScores(df, ds.idField, ds.textField, wts, ds.nBuckets)
      val top = TextOps.dsirTopK(scores, ds.idField, ds.k)
        .select(col(ds.idField), col("score").as("dsir_score"))
      df.join(top, Seq(ds.idField))
    },
    stage("repetition_filter", rereads = false)(_.repetitionFilter) { (rf, df) =>
      df.filter(col(rf.idField).isNotNull && TextOps.gopherRepetitionKeep(
        col(rf.textField), rf.topThresholds, rf.dupThresholds))
    },
    stage("sample", rereads = false)(_.sample) { (sd, df) =>
      TextOps.stratifiedSample(df, sd.idField, col(sd.strataField), sd.rates, sd.defaultRate)
    },
    stage("epoch_pack", rereads = true)(_.epochPack) { (ep, df) =>
      // merge table: in-engine training > persisted artifact > built-in.
      // The artifact collect is merge-table-sized (the tokenizer build
      // step persists rank-ordered (rank, x, y) rows — tens of k), the
      // same bounded driver traffic as a codebook.
      val merges: Seq[(String, String)] =
        if (ep.trainMerges > 0) TextOps.bpeTrainLocal(df, ep.textField, ep.trainMerges)
        else ep.mergesPath match {
          case Some(path) =>
            readSide(df.sparkSession, ep.mergesFormat, path)
              .select(col("rank").cast("long").as("rank"),
                col("x").cast("string"), col("y").cast("string"))
              .orderBy("rank").collect()
              .map(r => (r.getString(1), r.getString(2))).toSeq
          case None => TextOps.BpeMergesEn
        }
      val sel = ep.mixField match {
        case Some(f) =>
          require(ep.mixBudgetTokens > 0,
            "epoch_pack.mix_budget_tokens must be positive when mix_field is set")
          val picked = TextOps.temperatureMix(
            df, ep.idField, ep.textField, col(f), ep.mixBudgetTokens, ep.temperature)
          df.join(picked.select(ep.idField), Seq(ep.idField))
        case None => df
      }
      val order = ep.layout match {
        case "shuffle" =>
          TextOps.epochShuffle(sel.select(ep.idField), ep.idField, ep.salt, ep.nShards)
        case l @ ("curriculum" | "curriculum_range") =>
          val f = ep.diffField.getOrElse(sys.error(
            s"epoch_pack.layout=$l requires diff_field (a difficulty " +
              "column on the gated frame)"))
          val layout: (DataFrame, String, String, Int) => DataFrame =
            if (l == "curriculum") TextOps.curriculumLayout(_, _, _, _)
            else TextOps.curriculumLayoutRange
          layout(sel.select(col(ep.idField), col(f)), ep.idField, f, ep.nShards)
        case other => sys.error(
          s"epoch_pack.layout must be shuffle | curriculum | curriculum_range: $other")
      }
      TextOps.packTokenIdsBy(sel, ep.idField, ep.textField, ep.budget, order, merges)
    })

  /** Transform phase in the reference's operator order
    * (contextual_pipeline.rs:879-1121): text ops → mapping → projection
    * → enrichment → merge → curation [[Stages]] → computed → flags →
    * column order; then the F1 intermediate branch off the final frame. */
  def transform(
      spark: SparkSession,
      p: PipelineDef,
      ctx: RunContext,
      input: DataFrame): (DataFrame, Option[DataFrame]) = {
    val t = p.transform
    var df = input
    if (t.cleanText) df = Ops.cleanText(df)
    if (t.trimWhitespace) df = Ops.trimWhitespace(df)
    if (t.normalizeFields.nonEmpty) df = Ops.normalizeFields(t.normalizeFields)(df)
    if (t.removeHtmlTagsFields.nonEmpty) {
      // "*" (TOML `remove_html_tags = true`): every string column
      val fields =
        if (t.removeHtmlTagsFields == Seq("*"))
          df.schema.fields.filter(_.dataType.typeName == "string").map(_.name).toSeq
        else t.removeHtmlTagsFields
      df = Ops.removeHtmlTags(fields)(df)
    }
    if (t.fieldMapping.nonEmpty) df = Ops.extractPaths(t.fieldMapping)(df)
    if (t.keepOnlyFields.nonEmpty) df = Ops.keepOnly(t.keepOnlyFields)(df)
    else if (t.excludeFields.nonEmpty) df = Ops.exclude(t.excludeFields)(df)
    if (t.enrichment.nonEmpty) df = Ops.enrichPlaceholder(t.enrichment)(df)
    t.lookup.foreach { lk =>
      df = Ops.lookupJoin(readSide(spark, lk.format, lk.path, lk.options), lk.key)(df)
    }
    if (t.mergeWithPrevious) {
      ctx.latestDf.foreach { prev =>
        // "first match" semantics need a unique key on the previous side
        val prevUnique = prev.dropDuplicates(t.mergeKey)
        df = Ops.mergeWithPrevious(prevUnique, t.mergeKey)(df)
      }
    }
    // a configured stage runs under the job description "<pipeline>/<stage>"
    // (its eager jobs' label in the event log), on a checkpoint of its input if it rereads it
    val sc = spark.sparkContext
    df = Stages.foldLeft(df) { (in, s) =>
      s.body(t).fold(in) { run =>
        val outer = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(s"${p.name}/${s.name}")
        try run(if (s.rereads) ctx.checkpoint(in) else in)
        finally sc.setJobDescription(outer)
      }
    }
    if (t.computedFields.nonEmpty) {
      if (t.computedFields.valuesIterator.contains("record_index")) {
        // zipWithIndex evaluates the upstream twice (sizing pass + data
        // pass). A nondeterministic upstream — HTTP fan-out re-firing
        // its calls, an unordered limit picking different rows — can
        // shift offsets between the passes and duplicate side effects,
        // so pin the frame first. localCheckpoint (not persist): cache
        // blocks can be evicted and silently recomputed; checkpoint
        // blocks cannot.
        if (nondeterministicSource(p)) df = Pin.checkpoint(df, eager = true)
        // order key: explicit config wins; the first-column fallback is
        // only deterministic when that column is unique (documented).
        val orderCols =
          if (t.recordIndexOrderBy.nonEmpty) t.recordIndexOrderBy.map(col)
          else df.columns.headOption.map(col).toSeq
        df = Ops.computedFields(t.computedFields, p.name, ctx.executionId, orderCols)(df)
      } else
        df = Ops.computedFields(t.computedFields, p.name, ctx.executionId, Nil)(df)
    }
    if (t.addProcessedFlags) df = Ops.constants(p.name)(df)
    df = Ops.sortColumns(df)
    // empty conditions = whole frame (the reference's refresh flow
    // exports an unconditioned intermediate, auth_integration_test.rs:
    // 488-492); with conditions it's the F1 equality branch, optionally
    // narrowed by F2-style min bounds (missing field → empty branch)
    val intermediate = t.intermediate.map { i =>
      var b = if (i.conditions.nonEmpty) Ops.equalityFilter(i.conditions)(df) else df
      i.minConditions.foreach { case (f, v) =>
        b = if (b.columns.contains(f)) b.filter(col(f) > v) else b.filter(lit(false))
      }
      b
    }
    (df, intermediate)
  }

  /** C1 — shared-data export off the intermediate branch: token /
    * access_token → shared "token"; other fields → "{shared_key}_{field}"
    * (or the raw field name when sharedKey is empty). Bounded at 100
    * rows, and FAILS (not truncates) past the bound — exported values
    * are meant to be tiny (tokens, ids); documented deviation from the
    * reference's silent every-record export
    * (contextual_pipeline.rs:1085-1117). */
  def exportShared(p: PipelineDef, ctx: RunContext, intermediate: Option[DataFrame]): Unit =
    for {
      idef <- p.transform.intermediate
      branch <- intermediate
    } {
      // fetch one row past the cap so oversize is DETECTED, not silently
      // truncated: exports are last-writer-wins driver values (tokens,
      // ids) — a >100-row branch means the conditions select data, not
      // config, and dropping the tail would hide that bug
      val rows = branch.limit(101).collect()
      if (rows.length > 100)
        throw new IllegalStateException(
          s"pipeline '${p.name}': shared-data intermediate branch exceeds " +
            "100 rows; narrow [transform.intermediate.conditions] — " +
            "exports are for tiny shared values, and last-writer-wins " +
            "would silently drop the extra rows")
      val cols = branch.columns
      rows.foreach { row =>
        cols.zipWithIndex.foreach { case (c, i) =>
          val v = row.get(i)
          if (v != null) {
            if (c == "token" || c == "access_token") ctx.shared("token") = v
            else {
              val key = if (idef.sharedKey.nonEmpty) s"${idef.sharedKey}_$c" else c
              ctx.shared(key) = v
            }
          }
        }
      }
    }

  /** C6 — dry run: human-readable execution plan, no Spark jobs. */
  def dryRun(seq: SequenceDef): String = {
    validate(seq)
    val sb = new StringBuilder
    sb.append(s"sequence: ${seq.name}\n")
    sb.append(s"execution_order: ${seq.executionOrder.mkString(" -> ")}\n")
    val byName = seq.pipelines.map(p => p.name -> p).toMap
    seq.executionOrder.foreach { n =>
      val p = byName(n)
      sb.append(s"- $n: source=${p.source.getClass.getSimpleName}")
      if (p.dependencies.nonEmpty) sb.append(s" deps=${p.dependencies.mkString(",")}")
      if (!p.conditions.enabled) sb.append(" [disabled]")
      p.load.foreach(l => sb.append(s" -> ${l.outputPath} (${l.formats.mkString("/")}${if (l.zip) ", zip" else ""})"))
      sb.append('\n')
    }
    sb.toString
  }

  /** W7 — metrics export, shape-compatible with the reference's
    * sequence_metrics.json (sequence_etl.rs:336-400), extended with the
    * per-phase timings of etl_engine.rs:25-65. */
  /** JSON string escape for interpolated names/paths/ids. */
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def metricsJson(ctx: RunContext, monitor: Option[SystemMonitor] = None): String = {
    val pipelines = ctx.results.values.map { o =>
      s"""{"name":${jstr(o.name)},"duration_ms":${o.durationMs},"extract_ms":${o.extractMs},"transform_ms":${o.transformMs},"load_ms":${o.loadMs},"records_count":${o.recordCount},"output_path":${o.outputPath.map(jstr).getOrElse("null")},"status":"${o.status}"}"""
    }.mkString("[", ",", "]")
    val executed = ctx.succeeded.map(o => jstr(o.name)).mkString("[", ",", "]")
    val mon = monitor
      .map(m => s""","peak_heap_bytes":${m.peakHeapBytes},"monitor_samples":${m.sampleCount}""")
      .getOrElse("")
    val ts = java.time.format.DateTimeFormatter.ISO_INSTANT.format(java.time.Instant.now())
    s"""{"pipelines":$pipelines,"summary":{"executed_pipelines":$executed,"total_duration_ms":${ctx.results.values.map(_.durationMs).sum},"total_pipelines":${ctx.succeeded.size},"total_records":${ctx.succeeded.map(_.recordCount).sum}$mon},"execution_id":${jstr(ctx.executionId)},"timestamp":"$ts"}"""
  }

  /** W7 — write `sequence_metrics.json` (any Hadoop-FS target). The
    * reference's runner always writes this file (sequence_etl.rs:336-400);
    * round 1 built the JSON but never wrote it — now the CLI does. */
  def writeMetrics(
      spark: SparkSession, ctx: RunContext, path: String,
      monitor: Option[SystemMonitor] = None): Unit =
    Sinks.writeBytes(spark, path,
      metricsJson(ctx, monitor).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
