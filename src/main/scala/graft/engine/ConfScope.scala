package graft.engine

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftx.Internals

/** Mutually-exclusive session-conf override scope.
  *
  * `spark.conf.set` is SESSION-GLOBAL: two threads that each
  * capture-set-restore the same key (a streaming micro-batch MERGE and a
  * foreground query's fixed-shape loop, or two concurrent writers in the
  * tiny-merge fast path) can interleave as capture(true) / capture(false)
  * / restore(true) / restore(false) — leaving the session PERMANENTLY on
  * the override. Observed exactly so in the parallel-writers spec: one
  * unlucky run left `spark.sql.adaptive.enabled=false` for every later
  * suite. All engine conf-override scopes therefore serialize through
  * this one JVM-wide monitor. Most overrides are short (a staging write,
  * a model-state loop) and single-threaded in the bench, so the lock is
  * uncontended there; under genuine writer concurrency it trades a
  * little parallelism of TINY jobs for a session that always ends in its
  * configured state.
  *
  * Hold times are not all short: on a codegen-off session,
  * `graft.ops.Codegen.materialized` holds the monitor for a whole query
  * execution (its body plans AND runs the query under the codegen
  * override — seconds for dedup_containment), so any other scope on any
  * session, a streaming tiny-merge writer included, blocks until that
  * query finishes. The monitor is reentrant,
  * so such bodies may nest [[superstep]] scopes.
  */
object ConfScope {
  private val lock = new Object

  def withConf[A](s: SparkSession, overrides: Seq[(String, String)])
      (body: => A): A = lock.synchronized {
    val before = overrides.map { case (k, _) =>
      k -> s.conf.getOption(k)
    }
    overrides.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** `key`'s session value, read under the lock so that no other scope's
    * transient override is mistaken for it. */
  def get(s: SparkSession, key: String): String = lock.synchronized(s.conf.get(key))

  /** The fixed-shape-loop scope: run `body` with AQE off at a shuffle
    * width sized from a measured row count, then restore both keys.
    *
    * WHEN this is right: `body` is a fixed, small plan shape executed
    * repeatedly — a model-state iteration (EM / Lloyd / Newton step), a
    * graph superstep or peel round over a pinned edge table, a tiny
    * store merge. There, adaptive replanning is pure overhead: each
    * exchange becomes its own stage-job plus a replanning round-trip,
    * measured at 2-3x the job count per round on local[32] and the same
    * scheduler round-trips on a cluster.
    *
    * The width is `max(1, min(session, rows / rowsPerTask + 1))`:
    *  - `rows` is the MEASURED size of the pinned table the loop
    *    shuffles ([[superstepOver]] passes its input's count). `rows = 0`
    *    gives width 1,
    *    right for loops whose every aggregate output is MODEL-sized: the
    *    reduce side receives only (#map-partitions x #groups) partial
    *    rows at any data scale, and the map side keeps the input's full
    *    parallelism.
    *  - `session` is the session's `spark.sql.shuffle.partitions`, read
    *    UNDER THE LOCK: read outside, a caller could capture another
    *    scope's transient width (e.g. a tiny merge's) as the session's
    *    configured value and pin a whole loop to it. The clamp keeps full
    *    cluster width at 100 TB, while at test scale the loop does not
    *    run 32 half-empty tasks per stage.
    *
    * The width is passed to `body` for explicit `repartition(width, ...)`
    * layouts.
    *
    * WHEN it is wrong: any data-sized pass (scan, join, explode, wide
    * groupBy). Such a pass must materialize eagerly BEFORE the scope, so
    * it runs under the session's AQE with skew mitigation: a loop over
    * one data-sized input enters through [[superstepOver]], which pins
    * and counts that input. Results the loop builds must likewise be
    * pinned INSIDE the scope, or they execute later under the session
    * conf. */
  def superstep[A](s: SparkSession, rows: Long = 0L, rowsPerTask: Long = 65536L)
      (body: Int => A): A = lock.synchronized {
    val session = s.conf.get("spark.sql.shuffle.partitions").toLong
    val width = math.max(1L, math.min(session, rows / rowsPerTask + 1L)).toInt
    withConf(s, Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> width.toString))(body(width))
  }

  /** The loop-input policy: a [[superstep]] loop over one data-sized
    * `input`, in four steps.
    *  1. `input` is pinned eagerly with `localCheckpoint`, under the
    *     session conf, so AQE's skew handling stays available to the one
    *     pass whose size follows the data.
    *  2. Its row count rides that same job as an observed metric, so the
    *     pin and the count are one Spark job. (`persist` plus a count is
    *     one more job, and `Dataset.count` adds a global-count shuffle.)
    *  3. `body(pinned, rows, width)` runs in `superstep(s, rows)`.
    *  4. The pin is freed when the scope exits, also when `body` throws.
    *     So `body` must return something that no longer reads `pinned`:
    *     a checkpoint, a frame over checkpoints, or a collected value.
    *
    * The pin truncates lineage: losing an executor mid-loop fails the
    * query instead of recomputing the input. Every superstep checkpoints
    * its own state in the same way, so a lineage-keeping pin of the
    * input alone would not make the loop recoverable. */
  def superstepOver[A](input: DataFrame)(body: (DataFrame, Long, Int) => A): A = {
    val obs = Observation()
    val pinned = input.observe(obs, count(lit(1)).as("rows")).localCheckpoint()
    try {
      val rows = obs.get("rows").asInstanceOf[Long]
      superstep(input.sparkSession, rows)(width => body(pinned, rows, width))
    } finally Internals.freeLocalCheckpoint(pinned)
  }
}
