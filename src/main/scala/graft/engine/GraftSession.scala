package graft.engine

import org.apache.spark.sql.SparkSession

/** Engine session factory carrying the reference's cluster tuning as
  * engine defaults (ref: notebooks/Create Data Profile.dbc cmd0;
  * SURVEY.md §2.1 session_conf, §4.1):
  * AQE with partition coalescing / skew-join / local shuffle reads,
  * 20 MiB broadcast threshold, shuffled-hash preferred over sort-merge.
  */
object GraftSession {

  /** Confs applied to any session the engine builds; callers embedding the
    * library can apply [[tuned]] to their own builder. */
  val engineConfs: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.localShuffleReader.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "20971520",
    "spark.sql.join.prefersortmergejoin" -> "false",
    // Pinned explicitly (default-on since 3.4): selective shuffle joins
    // grow a bloom filter on the small side and push might_contain() to
    // the fact scan — at 100 TB this is the row-group skipping that a
    // broadcast join's dynamic pruning would otherwise provide. Injection
    // thresholds (10 MiB creation / 10 GiB application scan) only clear
    // at cluster scale; ClusterProfileSpec observes the rewrite with
    // thresholds lowered.
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // Fall back from whole-stage codegen when the generated method exceeds
    // HotSpot's 8 KB JIT compile limit (-XX:HugeMethodLimit): between 8 KB
    // and Spark's 64 KB default the fused method runs INTERPRETED, which
    // measured 3-5x slower with 10x CPU on the wide profiler melt+agg plan.
    "spark.sql.codegen.hugeMethodLimit" -> "8000",
    "spark.sql.session.timeZone" -> "UTC")

  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    engineConfs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** Reclaim this run's per-application scratch root on JVM exit and
    * sweep stale roots (crashed runs) older than six hours at startup —
    * the app-id-suffixed scratch dirs (csv/json/partitioned roundtrips,
    * sinks, time travel) would otherwise accumulate one full-table copy
    * per run in java.io.tmpdir. */
  private def manageScratch(appId: String): Unit = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
    // staleness = the NEWEST mtime anywhere under the root: a >6h session
    // keeps writing into subdirectories without touching the root's own
    // mtime, and must not have its live scratch swept from under it
    def newestMtime(f: java.io.File): Long =
      if (f.isDirectory)
        (f.lastModified +: Option(f.listFiles).getOrElse(Array.empty).map(newestMtime).toSeq).max
      else f.lastModified
    Option(tmp.listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft-scratch-") &&
        newestMtime(f) < cutoff)
      .foreach(Fs.deleteRec)
    val own = new java.io.File(tmp, s"graft-scratch-$appId")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      if (own.exists) Fs.deleteRec(own)))
  }

  /** Local session sized by env (SPARK_GRAFT_CPUS: cores and shuffle
    * partitions alike), UTC, quiet UI — the shape Verify/Bench/tests run
    * under. */
  def local(appName: String): SparkSession = {
    // default to every core (the driver contract runs local[32]); the
    // env var still overrides for constrained runs
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.max(4, Runtime.getRuntime.availableProcessors).toString)
    val s = tuned(SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .appName(appName)
      // one shuffle partition per core; AQE coalesces small stages and
      // superstep loops size their own width (ConfScope.superstep)
      .config("spark.sql.shuffle.partitions", cpus)
      // One-shot local harness: every query runs exactly once in a fresh
      // JVM, so whole-stage codegen pays JIT compilation + interpreted
      // warmup it never amortizes (measured: 114 s -> 59 s total across
      // the bench suite at sf0.1). Cluster deployments (engineConfs) keep
      // codegen on - at 100 TB the generated code runs billions of rows
      // and compilation cost vanishes. SPARK_GRAFT_CODEGEN overrides for
      // dev A/Bs of the trade (default unchanged — the driver's bench
      // methodology is untouched).
      .config("spark.sql.codegen.wholeStage", {
        // fail fast with the env var's NAME on a typo value — unvalidated,
        // a 'TRUE ' or '1' surfaces as an opaque Spark
        // IllegalArgumentException far from its source (r10 ADVICE)
        val raw = sys.env.getOrElse("SPARK_GRAFT_CODEGEN", "false")
        val norm = raw.trim.toLowerCase
        require(norm == "true" || norm == "false",
          s"SPARK_GRAFT_CODEGEN must be 'true' or 'false', got: '$raw'")
        norm
      })
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    manageScratch(s.sparkContext.applicationId)
    s
  }
}
