package graft.engine

import org.apache.spark.sql.SparkSession

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
  * Hold times are not all short: `graft.ops.Codegen.materialized` holds
  * the monitor for a whole query execution (its body plans AND runs the
  * query under the codegen override — seconds for dedup_containment), so
  * any other scope on any session, a streaming tiny-merge writer
  * included, blocks until that query finishes. The monitor is reentrant,
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
    *  - `rows` is the caller's MEASURED input size (an observed count of
    *    the pinned table the loop shuffles). `rows = 0` gives width 1,
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
    * groupBy). Those must materialize EAGERLY (localCheckpoint) BEFORE
    * entering the scope, so they run under the session's AQE with skew
    * mitigation — the caller's responsibility, asserted per call site by
    * the plan-contract specs. Results the loop builds must likewise be
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
}
