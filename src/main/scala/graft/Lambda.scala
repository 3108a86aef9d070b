package graft

import org.apache.spark.sql.SparkSession

import graft.config._
import graft.engine.Orchestrator

/** Event-driven one-shot entry — the engine's Lambda handler (reference:
  * src/lambda.rs:37-109): one API→storage pipeline parameterized by an
  * event (endpoint, bucket, prefix), falling back to the environment
  * (`API_ENDPOINT`, `S3_BUCKET`, `S3_PREFIX` — the reference's env
  * names). Storage goes through the Hadoop FileSystem API, so a bare
  * bucket becomes `s3a://bucket/...` and any explicit URI scheme
  * (file://, hdfs://) is honored as-is — same code path either way (W8).
  *
  * Unlike the reference's handler (records_processed hardcoded 0,
  * lambda.rs:92), the response carries the real count.
  */
object Lambda {

  final case class Event(
      apiEndpoint: Option[String] = None,
      bucket: Option[String] = None,
      prefix: Option[String] = None)

  final case class Response(
      message: String,
      outputPath: String,
      recordsProcessed: Long)

  def handle(
      spark: SparkSession,
      event: Event = Event(),
      env: Map[String, String] = sys.env): Response = {
    val endpoint = event.apiEndpoint.orElse(env.get("API_ENDPOINT"))
      .getOrElse(throw new IllegalArgumentException(
        "no API endpoint: set event.apiEndpoint or API_ENDPOINT"))
    val bucket = event.bucket.orElse(env.get("S3_BUCKET"))
      .getOrElse(throw new IllegalArgumentException(
        "no output bucket: set event.bucket or S3_BUCKET"))
    val prefix = event.prefix.orElse(env.get("S3_PREFIX")).getOrElse("etl-output")
    val target =
      if (bucket.contains("://")) s"$bucket/$prefix" else s"s3a://$bucket/$prefix"

    val pipeline = PipelineDef(
      name = "lambda",
      source = ApiSource(HttpRequestDef(endpoint)),
      extract = ExtractDef(onApiFailure = "fail"),
      transform = TransformDef(addProcessedFlags = false),
      load = Some(LoadDef(
        outputPath = target,
        formats = Seq("json"),
        filenamePattern = "output",
        singleFile = true)))
    val seq = SequenceDef("lambda", Seq("lambda"), Seq(pipeline))
    val ctx = Orchestrator.execute(spark, seq, unpersistOnEnd = false)
    try {
      val outcome = ctx.results("lambda")
      Response(
        message = "ETL process completed successfully",
        outputPath = outcome.outputPath.getOrElse(target),
        recordsProcessed = outcome.recordCount)
    } finally ctx.unpersistAll()
  }

  /** Env-driven main, mirroring the reference's lambda_runtime::run
    * wrapper: one handler invocation per process. */
  def main(args: Array[String]): Unit = {
    val spark = Main.session(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"), "graft-lambda")
    try {
      val resp = handle(spark)
      println(s"[graft-lambda] ${resp.message}: ${resp.outputPath} " +
        s"(${resp.recordsProcessed} records)")
    } finally spark.stop()
  }
}
