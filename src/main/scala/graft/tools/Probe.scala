package graft.tools

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.util.Json

/** The measurement harness every stage probe runs on (the probes
  * themselves are the entries of `Probes.registry`).
  *
  * A probe body names its stages in order:
  *  - `stage(name)(df)` forces the frame through the `noop` sink, so
  *    every column is computed — a `.count()` lets Spark prune a whole
  *    per-row plan (`llm_gopher_rep` reads 0.10 s by count, 12 s forced
  *    at sf10);
  *  - `action(name)(f)` times any other thunk: a count, a write, a loop.
  *
  * Each stage runs `Runs` times and keeps the fastest run. Every run has
  * its own job group; a listener attributes to it the run's jobs,
  * executor run time, shuffle read/write bytes, spill (memory + disk)
  * and peak per-task execution memory, and the kept run's figures are
  * reported. A stage that throws a non-fatal error is recorded with its
  * message and the probe goes on with the next stage. Counts, checksums
  * and equality flags go to `value`, which records a failure the same
  * way; `counted` times a count and records it.
  *
  * Output: one JSON object with `probe`, `dir`, `n_docs`, `cores`, the
  * `stages` list and the `values` map. */
final class Probe private (val spark: SparkSession, val name: String,
    val dir: String) {
  import Probe._

  val docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  val nDocs: Long = docs.count()

  private val listener = new GroupListener
  private val stages = mutable.ArrayBuffer[Map[String, Any]]()
  private var values = ListMap.empty[String, Any]

  def stage(stageName: String)(df: => DataFrame): Unit =
    action(stageName)(df.write.format("noop").mode("overwrite").save())

  /** Times `f` `Runs` times; the last run's result, or None when a run
    * failed. */
  def action[A](stageName: String)(f: => A): Option[A] = {
    val sc = spark.sparkContext
    try {
      val runs = (1 to Runs).map { i =>
        val group = s"probe/$name/$stageName/$i"
        sc.setJobGroup(group, s"$name: $stageName")
        val t0 = System.nanoTime()
        val a = try f finally sc.clearJobGroup()
        val sec = (System.nanoTime() - t0) / 1e9
        ListenerBridge.drain(sc)
        (sec, listener.take(group), a)
      }
      val (sec, m, _) = runs.minBy(_._1)
      stages += ListMap("name" -> stageName, "sec" -> sec,
        "runs" -> runs.map(_._1), "jobs" -> m.jobs,
        "task_sec" -> m.taskMs / 1e3,
        "shuffle_read_bytes" -> m.shuffleRead,
        "shuffle_write_bytes" -> m.shuffleWrite,
        "spill_bytes" -> m.spill,
        "peak_exec_mem_bytes" -> m.peakExecMem)
      Some(runs.last._3)
    } catch {
      case NonFatal(e) =>
        stages += ListMap("name" -> stageName, "error" -> message(e))
        None
    }
  }

  /** An `action` whose result, the same in every run, is recorded under
    * `key`; runs that disagree fail the stage. */
  def counted[A](stageName: String, key: String)(f: => A): Option[A] = {
    var first: Option[A] = None
    action(stageName) {
      val a = f
      require(first.forall(_ == a),
        s"$key differs between runs: ${first.get} vs $a")
      first = Some(a)
      a
    }.flatMap(a => value(key)(a))
  }

  /** Records `v` under `key` (or "error: …" when it throws). */
  def value[A](key: String)(v: => A): Option[A] =
    try {
      val a = v
      values += key -> a
      Some(a)
    } catch {
      case NonFatal(e) =>
        values += key -> s"error: ${message(e)}"
        None
    }

  private def json: String = Json.render(ListMap(
    "probe" -> name, "dir" -> dir, "n_docs" -> nDocs,
    "cores" -> spark.sparkContext.defaultParallelism,
    "stages" -> stages.toVector, "values" -> values))
}

object Probe {
  val Runs = 2

  /** args: name sfDir [probe args…] */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Probes.registry.contains(args(0)),
      "usage: graft.tools.Probe " +
        s"<${Probes.registry.keys.mkString("|")}> <sfDir> [args...]")
    val (name, dir, rest) = (args(0), args(1), args.drop(2).toSeq)
    val spark = graft.LocalSpark.session()
    try println(run(spark, name, dir)(Probes.registry(name)(_, rest)))
    finally spark.stop()
  }

  /** Runs probe `body` as `name` over `dir` and returns its JSON; the
    * caller owns the session. */
  def run(spark: SparkSession, name: String, dir: String)(
      body: Probe => Unit): String = {
    val p = new Probe(spark, name, dir)
    spark.sparkContext.addSparkListener(p.listener)
    try {
      body(p)
      p.json
    } finally spark.sparkContext.removeSparkListener(p.listener)
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"

  private final case class Totals(jobs: Long = 0L, taskMs: Long = 0L,
      shuffleRead: Long = 0L, shuffleWrite: Long = 0L, spill: Long = 0L,
      peakExecMem: Long = 0L)

  /** Sums task metrics per job group. */
  private final class GroupListener extends SparkListener {
    private val stageGroup = mutable.Map[Int, String]()
    private val totals = mutable.Map[String, Totals]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          e.stageIds.foreach(stageGroup(_) = g)
          val t = totals.getOrElse(g, Totals())
          totals(g) = t.copy(jobs = t.jobs + 1)
        }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
        val t = totals.getOrElse(g, Totals())
        totals(g) = Totals(t.jobs, t.taskMs + m.executorRunTime,
          t.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
          t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
          t.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
          math.max(t.peakExecMem, m.peakExecutionMemory))
      }
    }

    /** Removes and returns the totals of group `g`. */
    def take(g: String): Totals = synchronized {
      stageGroup.filterInPlace((_, group) => group != g)
      totals.remove(g).getOrElse(Totals())
    }
  }
}
