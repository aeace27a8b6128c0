package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graftbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Spark counters of one tag (one client operation). */
final class Tally {
  var jobs, stages, tasks = 0
  var runMs, cpuNs, gcMs, scan, shWrite, shRead, spill, result = 0L

  def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "run_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "scan_bytes" -> scan, "shuffle_write_bytes" -> shWrite,
    "shuffle_read_bytes" -> shRead, "spill_bytes" -> spill, "result_bytes" -> result)
}

final case class JobRec(id: Int, tag: String, phase: String, start: Long) {
  var end: Long = -1L
}

/** Listener that files every job, stage and task under the operation tag
  * its job was submitted with. */
final class Recorder extends SparkListener {
  private val tallies = mutable.HashMap[String, Tally]()
  private val stageTag = mutable.HashMap[Int, String]()
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
  private def tally(tag: String) = tallies.getOrElseUpdate(tag, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = prop(e.properties, Client.TagKey)
    jobs(e.jobId) = JobRec(e.jobId, tag, prop(e.properties, Client.PhaseKey), e.time)
    tally(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val tag = prop(e.properties, Client.TagKey)
    stageTag(e.stageInfo.stageId) = tag
    tally(tag).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tally(stageTag.getOrElse(e.stageId, ""))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.scan += m.inputMetrics.bytesRead
      t.shWrite += m.shuffleWriteMetrics.bytesWritten
      t.shRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.result += m.resultSize
    }
  }

  /** Removes and returns everything filed under `tag`. */
  def take(tag: String): (Tally, Seq[JobRec]) = synchronized {
    val js = jobs.values.filter(_.tag == tag).toSeq
    js.foreach(j => jobs.remove(j.id))
    (tallies.remove(tag).getOrElse(new Tally), js)
  }
}

/** The benchmark's one client. It times each operation by phase:
  *   - build: the call into the engine (a query function, a store call);
  *   - plan: forcing `executedPlan` of the DataFrame the call returned;
  *   - action: `collect()`, which consumes every output column.
  * An eager call has a build phase only. Operations run in passes; a
  * traced client attaches its [[Recorder]] on even passes only, so the
  * odd ones measure the same work untraced. */
final class Client(spark: SparkSession, val trace: Boolean) {
  import Client._

  private val sc = spark.sparkContext
  private val recorder = new Recorder
  private val t0Ms = System.currentTimeMillis()
  private var attempted, failed, wrong = 0
  private val errors = mutable.ArrayBuffer[String]()
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private var passNo = 0
  private var traced = false
  private var ops = mutable.ArrayBuffer[mutable.Map[String, Any]]()
  private var seq = 0

  type Rec = mutable.Map[String, Any]

  /** Runs passes until `seconds` have gone by, and at least three: the
    * cold pass and two warm ones (when tracing, one traced and one
    * untraced), so a slow run still measures the same warm work.
    * `body(n)` runs pass n. */
  def loop(seconds: Double)(body: Int => Unit): Seq[Map[String, Any]] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    while (passes.size < 3 || System.nanoTime() < deadline) {
      val n = passes.size
      passes += pass(n)(body(n))
    }
    passes.toSeq
  }

  private def pass(n: Int)(body: => Unit): Map[String, Any] = {
    passNo = n
    traced = trace && n % 2 == 0
    ops = mutable.ArrayBuffer()
    if (traced) sc.addSparkListener(recorder)
    val t0 = System.nanoTime()
    try body finally if (traced) sc.removeSparkListener(recorder)
    Map("pass" -> n, "cold" -> (n == 0), "traced" -> traced,
      "wall_s" -> (System.nanoTime() - t0) / 1e9, "ops" -> ops.map(_.toMap).toSeq)
  }

  /** A query-shaped operation: `build` returns a DataFrame, which is
    * planned and collected. */
  def query(name: String)(build: => DataFrame): Option[(Array[Row], Rec)] =
    op(name) { tag =>
      val (df, b) = phase(tag, "build")(build)
      val (_, p) = phase(tag, "plan")(df.queryExecution.executedPlan)
      val (rows, a) = phase(tag, "action")(df.collect())
      (rows, Seq(b, p, a), Some(df))
    }

  /** An eager operation: all of its time is build. */
  def call[A](name: String)(body: => A): Option[(A, Rec)] =
    op(name) { tag =>
      val (r, b) = phase(tag, "build")(body)
      (r, Seq(b), None)
    }

  def wrongOutput(msg: String): Unit = { wrong += 1; errors += msg }

  def summary: Map[String, Any] = Map("attempted" -> attempted, "failed" -> failed,
    "wrong" -> wrong, "errors" -> errors.toSeq, "spans" -> spans.toSeq)

  /** One phase's wall interval, epoch millis plus nanosecond seconds. */
  private final case class Phase(name: String, fromMs: Long, toMs: Long, s: Double)

  private def phase[A](tag: String, name: String)(body: => A): (A, Phase) = {
    sc.setLocalProperty(TagKey, tag)
    sc.setLocalProperty(PhaseKey, name)
    try {
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = body
      val s = (System.nanoTime() - t0) / 1e9
      (r, Phase(name, w0, System.currentTimeMillis(), s))
    } finally {
      sc.setLocalProperty(TagKey, null)
      sc.setLocalProperty(PhaseKey, null)
    }
  }

  private def op[A](name: String)(
      body: String => (A, Seq[Phase], Option[DataFrame])): Option[(A, Rec)] = {
    attempted += 1
    seq += 1
    val tag = s"p$passNo.$seq.$name"
    try {
      val (r, phases, df) = body(tag)
      val rec: Rec = mutable.LinkedHashMap[String, Any]("name" -> name)
      phases.foreach(p => rec(s"${p.name}_s") = p.s)
      rec("s") = phases.map(_.s).sum
      if (traced) rec ++= traceOf(tag, name, phases, df)
      ops += rec
      Some((r, rec))
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$tag: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        ops += mutable.LinkedHashMap("name" -> name, "failed" -> true)
        None
    }
  }

  private def traceOf(tag: String, name: String, phases: Seq[Phase],
      df: Option[DataFrame]): Map[String, Any] = {
    Bus.drain(sc)
    val (t, js) = recorder.take(tag)
    val from = phases.head.fromMs
    val to = phases.last.toMs
    val action = phases.find(_.name == "action")
    val tracker = df.map(_.queryExecution.tracker.phases).getOrElse(Map.empty)
    def planPhase(k: String) = tracker.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
    val storage = sc.getRDDStorageInfo
    spans += Map("id" -> tag, "op" -> name, "pass" -> passNo,
      "phases" -> phases.map(p => p.name -> Seq(p.fromMs - t0Ms, p.toMs - t0Ms)).toMap,
      "jobs" -> js.map(j => Map("id" -> j.id, "phase" -> j.phase,
        "start" -> (j.start - t0Ms), "end" -> (j.end - t0Ms))))
    t.toMap ++ Map(
      "analysis_s" -> planPhase("analysis"),
      "optimization_s" -> planPhase("optimization"),
      "planning_s" -> planPhase("planning"),
      "build_jobs" -> js.count(_.phase == "build"),
      "job_wall_s" -> coveredMs(js, from, to) / 1e3,
      "driver_gap_s" -> action.map(a =>
        ((a.toMs - a.fromMs) - coveredMs(js.filter(_.phase == "action"), a.fromMs, a.toMs)) / 1e3
      ).getOrElse(0.0),
      "persisted_rdds" -> sc.getPersistentRDDs.size,
      "stored_bytes" -> storage.map(i => i.memSize + i.diskSize).sum)
  }
}

object Client {
  val TagKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"

  /** Milliseconds covered by the union of the jobs' intervals, clipped to
    * [from, to]. */
  def coveredMs(js: Seq[JobRec], from: Long, to: Long): Long = {
    val iv = js.map(j => (math.max(j.start, from), math.min(if (j.end < 0) to else j.end, to)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS, curE = 0L
    iv.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }
}
