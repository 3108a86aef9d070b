package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.Main
import graft.config.{SequenceDef, TomlConfig}
import graft.engine.{Orchestrator, PipelineOutcome, RunContext}
import graft.sinks.Sinks

/** Benchmark JVM for graft's product path (`graft.Main`'s sequence runner).
  *
  * Usage: perfbench.Harness <config.toml> <execution-id> <master>
  *
  * Set-up mirrors `Main.main`: read and parse the config, then build the
  * SparkSession with Main's settings. The JVM then reads one command
  * from stdin, makes one sequence run, and answers with one stdout line
  * starting with "@@bench " followed by a JSON object:
  *  - `plain`: `Main.run` of the sequence, timed from the call to its
  *    return (outputs and sequence_metrics.json written).
  *  - `traced`: the same sequence driven through the public calls of
  *    each module, one span per call, with Spark jobs, task time,
  *    shuffle and spill attributed to spans through a job group.
  */
object Harness {

  private val mapper = new ObjectMapper()

  private def emit(event: String, fields: (String, Any)*): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("event", event)
    fields.foreach { case (k, v) => m.put(k, v) }
    println("@@bench " + mapper.writeValueAsString(m))
    System.out.flush()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(argv: Array[String]): Unit = {
    val Array(configPath, executionId, master) = argv
    val text = new String(Files.readAllBytes(Paths.get(configPath)), StandardCharsets.UTF_8)
    val seq = TomlConfig.loadSequence(text)
    // the session Main.main builds; keep in step with it
    val spark = SparkSession.builder()
      .master(master)
      .appName(s"graft-${seq.name}")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val now = java.time.Instant.now()
    emit("ready", "ready_epoch_s" -> (now.getEpochSecond + now.getNano / 1e9),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"))

    val command = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
      .readLine()
    val gc0 = gcMs()
    command match {
      case "plain" =>
        val args = Main.Args(configPath = configPath, executionId = Some(executionId),
          master = master)
        val s = System.nanoTime()
        val code = Main.run(spark, seq, args)
        val runS = (System.nanoTime() - s) / 1e9
        emit("plain", "run_s" -> runS, "code" -> code, "gc_s" -> (gcMs() - gc0) / 1e3)
      case "traced" =>
        val listener = new SpanListener
        spark.sparkContext.addSparkListener(listener)
        val tracer = new Tracer(spark, listener)
        val code = tracer.run(text, executionId)
        emit("traced", "code" -> code, "gc_s" -> (gcMs() - gc0) / 1e3,
          "spans" -> tracer.spansJson, "persist_peak_bytes" -> listener.peakBytes)
      case other =>
        emit("error", "message" -> s"unknown command: $other")
    }
    spark.stop()
  }
}

/** Per job group totals: jobs, task run time, task GC time, shuffle
  * bytes written, bytes spilled (memory + disk). */
final class GroupTotals {
  var jobs = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Attributes jobs and task metrics to the job group that submitted
  * them, and tracks the peak of cached RDD block bytes. */
final class SpanListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, GroupTotals]()
  @volatile private var started = 0L
  @volatile private var ended = 0L
  private val blocks = mutable.Map.empty[String, Long]
  private var cached = 0L
  private var peak = 0L

  private def of(group: String): GroupTotals =
    totals.computeIfAbsent(group, _ => new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, group))
    of(group).synchronized(of(group).jobs += 1)
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = of(stageGroup.getOrDefault(e.stageId, ""))
      t.synchronized {
        t.taskMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cached += size - blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      peak = math.max(peak, cached)
    }
  }

  def peakBytes: Long = synchronized(peak)

  /** Waits until every started job has ended on the listener bus, so
    * the task events of those jobs have been seen. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended < started && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def totalsFor(group: String): GroupTotals = Option(totals.get(group)).getOrElse(new GroupTotals)
}

/** Drives one sequence through the public calls of each module, in the
  * order `Orchestrator.execute` and `Main.run` make them, recording one
  * span per call. The extract and transform outputs are forced and
  * pinned with an eager local checkpoint, so each layer's work lands in
  * its own span; the persist Main.run asks for is its own engine span. */
final class Tracer(spark: SparkSession, listener: SpanListener) {

  private final class Span(val id: Int, val parent: Int, val name: String, val start: Long) {
    var end = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val sc = spark.sparkContext

  def span[A](name: String)(f: => A): A = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try f
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Returns 0 when every pipeline succeeded, 1 otherwise. */
  def run(configText: String, executionId: String): Int = {
    val seq: SequenceDef = span("config.load") {
      val s = TomlConfig.loadSequence(configText)
      Orchestrator.validate(s)
      s
    }
    val ctx = new RunContext(executionId)
    val byName = seq.pipelines.map(p => p.name -> p).toMap
    var code = 0
    try {
      seq.executionOrder.foreach { name =>
        val p = byName(name)
        val t0 = System.nanoTime()
        if (!span("engine.should_execute")(Orchestrator.shouldExecute(p, ctx)))
          ctx.results(name) = PipelineOutcome(name, None, None, 0L, "skipped")
        else {
          val e0 = System.nanoTime()
          val input = span("sources.extract") {
            val df = span("sources.extract.call")(Orchestrator.extract(spark, p, ctx))
            span("sources.extract.force")(df.localCheckpoint(true))
          }
          val t1 = System.nanoTime()
          val (output, intermediate) = span("operators.transform") {
            val (df, inter) = span("operators.transform.call")(
              Orchestrator.transform(spark, p, ctx, input))
            (span("operators.transform.force")(df.localCheckpoint(true)), inter)
          }
          val t2 = System.nanoTime()
          // Main.run has Orchestrator.execute persist every output
          // (persistAll); the cache is built here from the pinned rows
          val main = span("engine.persist") {
            val c = output.persist(StorageLevel.MEMORY_AND_DISK)
            ctx.persisted += c
            c.count()
            c
          }
          span("engine.export_shared")(Orchestrator.exportShared(p, ctx, intermediate))
          val t3 = System.nanoTime()
          val out = span("sinks.write")(p.load.map(l =>
            Sinks.write(spark, main, intermediate, l, p.name, ctx.executionId)))
          val t4 = System.nanoTime()
          val ms = (a: Long, b: Long) => (b - a) / 1000000L
          ctx.results(name) = PipelineOutcome(name, Some(main), out, ms(t0, t4), "succeeded",
            countFn = () => main.count(), extractMs = ms(e0, t1), transformMs = ms(t1, t2),
            loadMs = ms(t3, t4))
        }
      }
      // Main.run's report: the deferred counts, then sequence_metrics.json
      span("engine.report") {
        val dir = seq.pipelines.flatMap(_.load).headOption.map(_.outputPath).getOrElse(".")
        val path = seq.metricsFile match {
          case Some(f) if f.contains('/') => f
          case Some(f) => s"$dir/$f"
          case None => s"$dir/sequence_metrics.json"
        }
        ctx.results.values.foreach(_.recordCount)
        Orchestrator.writeMetrics(spark, ctx, path)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"traced run failed: $e")
        code = 1
    } finally ctx.unpersistAll()
    listener.drain()
    code
  }

  /** Spans as JSON-ready maps: times in seconds from the first span. */
  def spansJson: java.util.List[java.util.Map[String, Any]] = {
    val origin = spans.headOption.map(_.start).getOrElse(0L)
    spans.map { s =>
      val t = listener.totalsFor(s"span-${s.id}")
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id)
      m.put("parent", s.parent)
      m.put("name", s.name)
      m.put("start_s", (s.start - origin) / 1e9)
      m.put("end_s", (s.end - origin) / 1e9)
      m.put("jobs", t.jobs)
      m.put("task_s", t.taskMs / 1e3)
      m.put("task_gc_s", t.gcMs / 1e3)
      m.put("shuffle_write_bytes", t.shuffleWrite)
      m.put("spill_bytes", t.spill)
      m: java.util.Map[String, Any]
    }.asJava
  }
}
