package graft

import org.apache.spark.sql.SparkSession

import graft.config.{JsonConfig, TomlConfig}
import graft.engine.Orchestrator

/** CLI entry point — the engine's `sequence_etl` (reference:
  * src/bin/sequence_etl.rs:10-166): run a pipeline-sequence config
  * (`.toml` in the reference's own layout, or the JSON rendering) with
  * `--only/--skip/--dry-run/--execution-id`, write the W7 metrics
  * file, exit by error severity (validation 2, execution 1, success 0 —
  * reference main.rs:59-68).
  *
  * Usage:
  *   graft.Main <config.toml|config.json>
  *     [--only p1,p2] [--skip p3] [--dry-run]
  *     [--execution-id ID] [--metrics-out PATH] [--master local[N]]
  */
object Main {

  final case class Args(
      configPath: String,
      only: Set[String] = Set.empty,
      skip: Set[String] = Set.empty,
      dryRun: Boolean = false,
      executionId: Option[String] = None,
      metricsOut: Option[String] = None,
      monitor: Boolean = false,
      /** MVP override (reference toml_etl --mvp, toml_etl.rs:54-57):
        * forces first_record_only on/off over the config's value. */
      mvp: Option[Boolean] = None,
      master: String = "local[*]")

  def parseArgs(argv: Array[String]): Args = {
    // no config path (bare run or flags only) = zero-config simple mode
    val hasConfig = argv.nonEmpty && !argv(0).startsWith("--")
    var a = Args(configPath = if (hasConfig) argv(0) else "")
    var i = if (hasConfig) 1 else 0
    def value(flag: String): String = {
      if (i + 1 >= argv.length) sys.error(s"flag $flag needs a value")
      argv(i + 1)
    }
    while (i < argv.length) {
      argv(i) match {
        case f @ "--only" => a = a.copy(only = value(f).split(',').toSet); i += 2
        // single-pipeline muscle memory (toml_etl parity): same as --only
        case f @ "--single" => a = a.copy(only = Set(value(f))); i += 2
        case f @ "--skip" => a = a.copy(skip = value(f).split(',').toSet); i += 2
        case "--dry-run" => a = a.copy(dryRun = true); i += 1
        case f @ "--execution-id" => a = a.copy(executionId = Some(value(f))); i += 2
        case f @ "--metrics-out" => a = a.copy(metricsOut = Some(value(f))); i += 2
        case "--monitor" => a = a.copy(monitor = true); i += 1
        case "--mvp" => a = a.copy(mvp = Some(true)); i += 1
        case "--no-mvp" => a = a.copy(mvp = Some(false)); i += 1
        case f @ "--master" => a = a.copy(master = value(f)); i += 2
        case other => sys.error(s"unknown flag: $other")
      }
    }
    // zero-config mode builds a one-pipeline sequence named "simple";
    // any selector would silently filter it out and "run" nothing
    if (a.configPath.isEmpty && (a.only.nonEmpty || a.skip.nonEmpty))
      sys.error("--only/--single/--skip need a config file (zero-config mode runs one fixed pipeline)")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = try parseArgs(argv) catch {
      case e: RuntimeException => System.err.println(e.getMessage); sys.exit(2)
    }
    val seq0 =
      if (args.configPath.isEmpty) simpleSequence()
      else {
        val text = try {
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(args.configPath)),
            java.nio.charset.StandardCharsets.UTF_8)
        } catch {
          case e: java.io.IOException =>
            System.err.println(s"cannot read config: ${e.getMessage}"); sys.exit(2)
        }
        try {
          if (args.configPath.endsWith(".toml")) TomlConfig.loadSequence(text)
          else JsonConfig.loadSequence(text)
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"config parse error: ${e.getMessage}"); sys.exit(2)
        }
      }
    val seq = applyMvp(seq0, args.mvp)

    if (args.dryRun) {
      // C6: plan only — no Spark session, no jobs (toml_etl.rs:154-227)
      try println(Orchestrator.dryRun(seq))
      catch {
        case e: Orchestrator.ValidationException =>
          System.err.println(s"invalid config: ${e.msg}"); sys.exit(2)
      }
      return
    }

    val spark = session(args.master, s"graft-${seq.name}")
    val code = try run(spark, seq, args) finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** The session the CLI mains (`Main`, `Lambda`) run in. */
  def session(master: String, appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Zero-config simple mode — the reference's bare `samll-etl` run with
    * clap defaults (main.rs:6-73, config/mod.rs:20-38): GET the endpoint
    * (JSONPlaceholder /posts unless GRAFT_API_ENDPOINT overrides), fall
    * back to the 5 fixed sample items when the API is unreachable, add
    * the processed flags, branch `value > 20` records as the
    * intermediate (simple_pipeline.rs:113-116), and write csv+tsv
    * (+intermediate+metadata) into `etl_output.zip` under `./output`
    * (GRAFT_OUTPUT_PATH overrides). */
  def simpleSequence(env: Map[String, String] = sys.env): graft.config.SequenceDef = {
    import graft.config._
    val endpoint = env.getOrElse("GRAFT_API_ENDPOINT",
      "https://jsonplaceholder.typicode.com/posts")
    val out = env.getOrElse("GRAFT_OUTPUT_PATH", "./output")
    SequenceDef("simple", Seq("simple"), Seq(PipelineDef(
      "simple",
      ApiSource(HttpRequestDef(endpoint)),
      extract = ExtractDef(
        onApiFailure = "use_sample_data",
        sampleData = (1 to 5).map(i =>
          s"""{"id":$i,"name":"Item $i","value":${i * 10}}""")),
      transform = TransformDef(
        intermediate = Some(IntermediateDef(minConditions = Map("value" -> 20.0)))),
      load = Some(LoadDef(out, formats = Seq("csv", "tsv"),
        filenamePattern = "etl_output", zip = true, includeMetadata = true)))))
  }

  /** MVP override: force first_record_only across the config, exactly
    * the reference's `--mvp` behavior (toml_etl.rs:54-57). */
  def applyMvp(seq: graft.config.SequenceDef, mvp: Option[Boolean]): graft.config.SequenceDef =
    mvp match {
      case None => seq
      case Some(v) => seq.copy(pipelines = seq.pipelines.map(p =>
        p.copy(extract = p.extract.copy(firstRecordOnly = v))))
    }

  /** Execute + report + write W7 metrics; returns the exit code
    * (0 success, 1 execution failure, 2 invalid config). */
  def run(spark: SparkSession, seq: graft.config.SequenceDef, args: Args): Int = {
    val execId = args.executionId.getOrElse(s"seq_${System.currentTimeMillis()}")
    // --monitor flag or the config's [monitoring].enabled
    val monitor = if (args.monitor || seq.monitoringEnabled) {
      val m = new graft.engine.SystemMonitor(); m.start(); Some(m)
    } else None
    // records_count: the metrics pass below forces every pipeline's
    // deferred recordCount. It comes from the sink's own pass (an
    // Observation on a distributed write) or from the validation count,
    // so most frames are read once and never pinned; execute pins only
    // a frame something reads twice (a multi-format, ZIP or single-file
    // sink, a later consumer, a write whose failure on_load_error
    // tolerates), and its count reads that pin — so the pins are
    // released only after reporting. Pinning every output
    // instead would also run each cached plan without AQE's partition
    // coalescing (a cached plan keeps its shuffle width). On a
    // stop-on-failure abort the orchestrator hands back the partial
    // context: the reference's runner writes sequence_metrics.json for
    // failed runs too (sequence_etl.rs:336-400).
    val (ctx, abortErr) =
      try {
        val c = Orchestrator.execute(spark, seq, execId, args.only, args.skip,
          unpersistOnEnd = false)
        (c, None)
      } catch {
        case e: Orchestrator.ValidationException =>
          System.err.println(s"invalid config: ${e.msg}"); return 2
        case e: Orchestrator.SequenceFailed =>
          System.err.println(s"sequence failed: ${e.msg}")
          (e.ctx, Some(e.msg))
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"sequence failed: ${e.getMessage}"); return 1
      }
    try {
      // precedence: --metrics-out flag > [monitoring].metrics_file (a
      // bare name lands in the first output dir) > the default name
      val metricsPath = args.metricsOut.getOrElse {
        val dir = seq.pipelines.flatMap(_.load).headOption
          .map(_.outputPath).getOrElse(".")
        seq.metricsFile match {
          case Some(f) if f.contains('/') => f
          case Some(f) => s"$dir/$f"
          case None => s"$dir/sequence_metrics.json"
        }
      }
      ctx.results.values.foreach(_.recordCount) // force counts under monitor
      monitor.foreach(_.stop())
      Orchestrator.writeMetrics(spark, ctx, metricsPath, monitor)
      ctx.results.values.foreach { o =>
        println(s"[graft] ${o.name}: ${o.status} records=${o.recordCount} " +
          s"in ${o.durationMs}ms (E=${o.extractMs} T=${o.transformMs} L=${o.loadMs})" +
          o.outputPath.map(p => s" -> $p").getOrElse(""))
      }
      println(s"[graft] metrics -> $metricsPath")
      if (abortErr.nonEmpty || ctx.results.values.exists(_.status == "failed")) 1 else 0
    } finally {
      monitor.foreach(_.stop())
      ctx.unpersistAll()
    }
  }
}
