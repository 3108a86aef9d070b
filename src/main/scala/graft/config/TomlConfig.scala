package graft.config

import graft.config.TableDecoder._

/** TOML config front-end: loads a REFERENCE-SHAPED `.toml` sequence
  * config (reference: configs/sequence-example.toml, parser surface
  * src/config/sequence_config.rs:8-276) into the same `SequenceDef`
  * model `JsonConfig` builds, so a reference user's existing file runs
  * unconverted.
  *
  * The tables whose keys are the same in both layouts decode in
  * `TableDecoder`: `extract` (with `data_processing`), `conditions`,
  * `transform.lookup` / `intermediate` / `validation`, the transform's
  * `field_mapping`, `record_index_order_by`,
  * `data_enrichment.lookup_data`, `merge_with_previous` / `merge_key`
  * and `add_processed_flags`, and every curation stage table
  * (`[pipelines.transform.near_dedup]` … `epoch_pack`). This file keeps
  * the reference layout's own keys (reference field → graft model):
  *  - the `[[pipelines]]` sequence root, or the single-pipeline
  *    `[pipeline]`/`[source]` root, and the pipeline-level `enabled`
  *  - `transform.operations.*`     → flat TransformDef flags;
  *    `remove_html_tags = true`    → all string columns (`Seq("*")`)
  *  - `transform.data_enrichment.computed_fields` → computedFields
  *  - `load.output_formats`        → `LoadDef.formats`
  *  - `load.compression.enabled`   → `LoadDef.zip` (+ includeMetadata)
  *  - `error_handling.retry_delay_seconds` → retryDelayMs
  *  - source dispatch: `type="api"` + `data_source.merge_with_api` →
  *    MergedApiSource; `{param}` endpoint or
  *    `payload.use_previous_data_as_params` → ParameterizedApiSource;
  *    `type="previous"|"combined"|"file"` as in JsonConfig.
  *
  * TOML-loaded loads default to `singleFile = true`: the reference
  * renders one file per format, and a reference config should produce
  * reference-shaped output (JSON configs keep the scalable distributed
  * default).
  *
  * Same two-phase `${VAR}` substitution as the reference: environment
  * first, then `[global.shared_variables]` (sequence_config.rs:195-276).
  */
object TomlConfig {

  /** Swappable warning sink (stderr by default) so tests can assert the
    * inert-knob courtesy warnings without scraping process output. */
  @volatile var warnSink: String => Unit =
    msg => System.err.println(s"[graft-config] $msg")

  /** The two `[performance]` knobs that are declared-but-dead in the
    * reference (toml_config.rs:112-117) and deliberately NOT mapped to a
    * pipeline behavior here: both are cluster resource config in Spark.
    * A migrating user who sets them gets told where the knob went
    * instead of being silently ignored (SURVEY §2.12). */
  private def warnInertPerformanceKnobs(root: Table): Unit = {
    val perf = root.tbl("performance")
    if (perf.contains("memory_limit_mb"))
      warnSink("[performance].memory_limit_mb has no per-pipeline effect " +
        "(dead in the reference too); size executor memory instead: " +
        "spark.executor.memory / spark.memory.fraction")
    if (perf.contains("disk_cache_enabled"))
      warnSink("[performance].disk_cache_enabled has no per-pipeline effect " +
        "(dead in the reference too); use Dataset.persist with a " +
        "disk-backed StorageLevel (e.g. MEMORY_AND_DISK) instead")
  }

  def loadSequence(text: String, env: Map[String, String] = sys.env): SequenceDef = {
    val afterEnv = Templates.substEnv(text, env)
    val pre = Toml.parse(afterEnv)
    val sharedVars = pre.tbl("global").strMap("shared_variables")
    val root = Toml.parse(Templates.substShared(afterEnv, sharedVars))
    warnInertPerformanceKnobs(root)
    // Layout dispatch: `[[pipelines]]` = sequence config
    // (sequence_config.rs); top-level `[pipeline]`+`[source]` = the
    // reference's single-pipeline toml_etl layout (toml_config.rs:9-19),
    // wrapped as a one-pipeline sequence.
    if (root.contains("pipelines") || !root.contains("pipeline"))
      parseSequence(root, sharedVars)
    else parseSingle(root, sharedVars)
  }

  /** Single-pipeline layout (reference `toml_etl` / MVP, toml_config.rs):
    * top-level [pipeline]/[source]/[extract]/[transform]/[load] tables,
    * with [error_handling].on_api_failure at the root and retry knobs on
    * the source. */
  private def parseSingle(root: Table, sharedVars: Map[String, String]): SequenceDef = {
    val pT = root.tbl("pipeline")
    val name = pT.str("name").getOrElse("pipeline")
    val eh = root.tbl("error_handling")
    val srcT = root.tbl("source")
    // [performance].request_timeout (toml_config.rs:112-117,
    // declared-but-dead in the reference): honest config-wide default
    // HTTP timeout. memory_limit_mb / disk_cache_enabled stay inert
    // (cluster resource config in Spark, SURVEY §2.12) but warn via
    // warnInertPerformanceKnobs at loadSequence.
    val defTimeout = root.tbl("performance").int("request_timeout").getOrElse(30)
    val extract0 = TableDecoder.extract(root.tbl("extract"))
    val pipeline = PipelineDef(
      name = name,
      source = parseSource(srcT, defTimeout),
      extract = eh.str("on_api_failure")
        .map(v => extract0.copy(onApiFailure = v)).getOrElse(extract0),
      transform = parseTransform(root.tbl("transform")),
      load = root.get("load").collect { case t: Table @unchecked => parseLoad(t) })
    SequenceDef(
      name = name,
      executionOrder = Seq(name),
      pipelines = Seq(pipeline),
      sharedVariables = sharedVars,
      onTransformError = eh.str("on_transform_error").getOrElse("stop"),
      onLoadError = eh.str("on_load_error").getOrElse("stop"),
      retryAttempts = srcT.int("retry_attempts").getOrElse(0),
      retryDelayMs = srcT.long("retry_delay_seconds").map(_ * 1000L).getOrElse(0L),
      monitoringEnabled = root.tbl("monitoring").bool("enabled").getOrElse(false),
      metricsFile = root.tbl("monitoring").str("metrics_file"))
  }

  private def parseSequence(root: Table, sharedVars: Map[String, String]): SequenceDef = {
    val seqT = root.tbl("sequence")
    val defTimeout = root.tbl("performance").int("request_timeout").getOrElse(30)
    val pipelines = root.tables("pipelines").map(parsePipeline(_, defTimeout))
    val eh = root.tbl("error_handling")
    SequenceDef(
      name = seqT.str("name").getOrElse("sequence"),
      executionOrder = seqT.strSeq("execution_order") match {
        case Nil => pipelines.map(_.name)
        case xs => xs
      },
      pipelines = pipelines,
      sharedVariables = sharedVars,
      onPipelineFailure = eh.str("on_pipeline_failure").getOrElse("stop"),
      onTransformError = eh.str("on_transform_error").getOrElse("stop"),
      onLoadError = eh.str("on_load_error").getOrElse("stop"),
      retryAttempts = eh.int("retry_attempts").getOrElse(0),
      retryDelayMs = eh.long("retry_delay_ms")
        .orElse(eh.long("retry_delay_seconds").map(_ * 1000L))
        .getOrElse(0L),
      monitoringEnabled = root.tbl("monitoring").bool("enabled").getOrElse(false),
      metricsFile = root.tbl("monitoring").str("metrics_file"))
  }

  private def parsePipeline(n: Table, defTimeout: Int): PipelineDef = {
    val conditions = TableDecoder.conditions(n.tbl("conditions"))
    PipelineDef(
      name = n.str("name").getOrElse(sys.error("pipeline missing name")),
      source = parseSource(n.tbl("source"), defTimeout),
      extract = TableDecoder.extract(n.tbl("extract")),
      transform = parseTransform(n.tbl("transform")),
      load = n.get("load").collect { case t: Table @unchecked => parseLoad(t) },
      dependencies = n.strSeq("dependencies"),
      // the reference layout also takes `enabled` on the pipeline itself
      conditions = conditions.copy(
        enabled = conditions.enabled && n.bool("enabled").getOrElse(true)))
  }

  private def parseHttp(n: Table, defTimeout: Int): HttpRequestDef = {
    val payloadT = n.tbl("payload")
    HttpRequestDef(
      endpoint = n.str("endpoint").getOrElse(sys.error("source missing endpoint")),
      method = n.str("method").getOrElse("GET"),
      headers = n.strMap("headers"),
      queryParams = n.strMap("parameters") ++ n.strMap("query_params"),
      payload = payloadT.str("body").orElse(n.str("payload_body")),
      contentType = payloadT.str("content_type"),
      // source-level timeout_seconds wins; [performance].request_timeout
      // (toml_config.rs:113, declared-but-dead there) is the honest
      // config-wide default
      timeoutSeconds = n.int("timeout_seconds").getOrElse(defTimeout))
  }

  private def parseSource(n: Table, defTimeout: Int): SourceDef = {
    val ds = n.tbl("data_source")
    val payloadT = n.tbl("payload")
    n.str("type").getOrElse("api") match {
      case "file" => FileSource(
        path = n.str("path").getOrElse(sys.error("file source missing path")),
        format = n.str("format").getOrElse("parquet"),
        options = n.strMap("options"))
      case "previous" => PreviousSource(ds.str("from_pipeline"))
      case "combined" =>
        if (ds.bool("merge_with_api").getOrElse(false)) MergedApiSource(parseHttp(n, defTimeout))
        else CombinedSource
      case "parameterized" => ParameterizedApiSource(
        parseHttp(n, defTimeout), ds.str("from_pipeline"),
        n.long("rate_limit_ms").getOrElse(0L))
      case _ => // "api"
        val http = parseHttp(n, defTimeout)
        val fansOut =
          payloadT.bool("use_previous_data_as_params").getOrElse(false) ||
            (ds.bool("use_previous_output").getOrElse(false) &&
              hasSingleBraceParam(http.endpoint))
        if (ds.bool("merge_with_api").getOrElse(false)) MergedApiSource(http)
        else if (fansOut)
          ParameterizedApiSource(http, ds.str("from_pipeline"),
            n.long("rate_limit_ms").getOrElse(0L))
        else ApiSource(http)
    }
  }

  private def parseTransform(n: Table): TransformDef = {
    val ops = n.tbl("operations")
    TableDecoder.transform(n, TransformDef(
      keepOnlyFields = ops.strSeq("keep_only_fields"),
      excludeFields = ops.strSeq("exclude_fields"),
      cleanText = ops.bool("clean_text").getOrElse(false),
      normalizeFields = ops.strSeq("normalize_fields"),
      trimWhitespace = ops.bool("trim_whitespace").getOrElse(false),
      removeHtmlTagsFields =
        if (ops.bool("remove_html_tags").getOrElse(false)) Seq("*") else Nil,
      computedFields = n.tbl("data_enrichment").strMap("computed_fields")))
  }

  private def parseLoad(n: Table): LoadDef = {
    val comp = n.tbl("compression")
    val zip = comp.bool("enabled").getOrElse(false)
    LoadDef(
      outputPath = n.str("output_path").getOrElse(sys.error("load missing output_path")),
      formats = n.strSeq("output_formats") ++ n.strSeq("formats") match {
        case Nil => Seq("csv"); case xs => xs
      },
      // the reference names the archive via compression.filename; graft's
      // zip target is "<pattern>.zip", so the stripped filename wins
      filenamePattern =
        comp.str("filename").filter(_ => zip).map(_.stripSuffix(".zip"))
          .orElse(n.str("filename_pattern"))
          .getOrElse("{pipeline_name}_output"),
      zip = zip,
      includeMetadata = comp.bool("include_metadata").getOrElse(false),
      filenames = n.strMap("filenames"),
      partitionBy = n.strSeq("partition_by"),
      // reference parity: the reference writes one file per format
      singleFile = n.bool("single_file").getOrElse(true),
      singleFileMaxRows = n.long("single_file_max_rows").getOrElse(1000000L),
      mode = n.str("mode").getOrElse("overwrite"),
      maxRecordsPerFile = n.long("max_records_per_file").getOrElse(0L),
      appendToSequence = n.bool("append_to_sequence").getOrElse(false))
  }

  /** A `{param}` endpoint placeholder (T5 fan-out marker) that is not a
    * `{{shared}}` template. */
  private def hasSingleBraceParam(endpoint: String): Boolean =
    """(?<!\{)\{[A-Za-z0-9_.]+\}(?!\})""".r.findFirstIn(endpoint).nonEmpty
}
