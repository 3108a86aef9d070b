package graft.config

import graft.config.TableDecoder._
import graft.util.Json

/** JSON config loader — the JSON rendering of the reference's config
  * (src/config/sequence_config.rs:179-276), including the two-phase
  * variable substitution: `${ENV}` first (T1), then
  * `[global].shared_variables` (T2). The reference's own `.toml` layout
  * loads through `TomlConfig`. The document is converted once with
  * `Json.toScala`; the tables both layouts share decode in
  * `TableDecoder`, and this file keeps only the JSON layout's own keys:
  * the sequence root, the source, the flat transform operation keys and
  * the load.
  */
object JsonConfig {

  def loadSequence(text: String, env: Map[String, String] = sys.env): SequenceDef = {
    // phase 1: env substitution, then a first parse just for shared_variables
    val afterEnv = Templates.substEnv(text, env)
    val sharedVars = Json.objectToMap(afterEnv).tbl("global").strMap("shared_variables")
    // phase 2: shared-variable substitution, then the real parse
    val root = Json.objectToMap(Templates.substShared(afterEnv, sharedVars))
    parseSequence(root, sharedVars)
  }

  private def parseSequence(root: Table, sharedVars: Map[String, String]): SequenceDef = {
    val seqT = root.tbl("sequence")
    val eh = root.tbl("error_handling")
    val pipelines = root.tables("pipelines").map(parsePipeline)
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
      retryDelayMs = eh.long("retry_delay_ms").getOrElse(0L),
      monitoringEnabled = root.tbl("monitoring").bool("enabled").getOrElse(false),
      metricsFile = root.tbl("monitoring").str("metrics_file"))
  }

  private def parsePipeline(n: Table): PipelineDef = PipelineDef(
    name = n.str("name").getOrElse(sys.error("pipeline missing name")),
    source = parseSource(n.tbl("source")),
    extract = TableDecoder.extract(n.tbl("extract")),
    transform = parseTransform(n.tbl("transform")),
    load = n.get("load").collect { case t: Map[String, Any] @unchecked => parseLoad(t) },
    dependencies = n.strSeq("dependencies"),
    conditions = TableDecoder.conditions(n.tbl("conditions")))

  private def parseHttp(n: Table): HttpRequestDef = HttpRequestDef(
    endpoint = n.str("endpoint").getOrElse(sys.error("source missing endpoint")),
    method = n.str("method").getOrElse("GET"),
    headers = n.strMap("headers"),
    queryParams = n.strMap("query_params"),
    payload = n.str("payload"),
    contentType = n.str("content_type"),
    timeoutSeconds = n.int("timeout_seconds").getOrElse(30))

  private def parseSource(n: Table): SourceDef = n.str("type").getOrElse("api") match {
    case "file" => FileSource(
      path = n.str("path").getOrElse(sys.error("file source missing path")),
      format = n.str("format").getOrElse("parquet"),
      options = n.strMap("options"))
    case "previous" => PreviousSource(n.str("pipeline"))
    case "combined" =>
      if (n.bool("merge_with_api").getOrElse(false)) MergedApiSource(parseHttp(n))
      else CombinedSource
    case "parameterized" => ParameterizedApiSource(
      parseHttp(n), n.str("from_pipeline"), n.long("rate_limit_ms").getOrElse(0L))
    case _ => ApiSource(parseHttp(n))
  }

  private def parseTransform(n: Table): TransformDef = TableDecoder.transform(n, TransformDef(
    keepOnlyFields = n.strSeq("keep_only_fields"),
    excludeFields = n.strSeq("exclude_fields"),
    cleanText = n.strSeq("operations").contains("clean_text"),
    normalizeFields = n.strSeq("normalize_fields"),
    trimWhitespace = n.bool("trim_whitespace").getOrElse(false),
    removeHtmlTagsFields = n.strSeq("remove_html_tags_fields"),
    computedFields = n.strMap("computed_fields")))

  private def parseLoad(n: Table): LoadDef = {
    // The reference renders one file per format; graft defaults to the
    // scalable distributed part-file layout. A config that omits the key
    // gets a different output shape than it would under the reference —
    // say so once instead of silently changing the layout.
    if (n.bool("single_file").isEmpty && !n.bool("zip").getOrElse(false))
      System.err.println(
        "[graft] load.single_file not set: defaulting to DISTRIBUTED part-file " +
          "output (reference wrote one file per format; set single_file=true " +
          "for that layout)")
    LoadDef(
      outputPath = n.str("output_path").getOrElse(sys.error("load missing output_path")),
      formats = n.strSeq("formats") match { case Nil => Seq("csv"); case xs => xs },
      filenamePattern = n.str("filename_pattern").getOrElse("{pipeline_name}_output"),
      zip = n.bool("zip").getOrElse(false),
      includeMetadata = n.tbl("compression").bool("include_metadata")
        .orElse(n.bool("include_metadata")).getOrElse(false),
      filenames = n.strMap("filenames"),
      partitionBy = n.strSeq("partition_by"),
      singleFile = n.bool("single_file").getOrElse(false),
      singleFileMaxRows = n.long("single_file_max_rows").getOrElse(1000000L),
      mode = n.str("mode").getOrElse("overwrite"),
      maxRecordsPerFile = n.long("max_records_per_file").getOrElse(0L),
      appendToSequence = n.bool("append_to_sequence").getOrElse(false))
  }
}
