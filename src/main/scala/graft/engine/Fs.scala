package graft.engine

/** Shared filesystem helpers. */
object Fs {
  def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(deleteRec)
    f.delete(); ()
  }

  private val scratchRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-INVOCATION scratch root under this application's swept scratch
    * dir (GraftSession.manageScratch cleans the parent). Side-effecting
    * queries build a FRESH store here each run: reusing a fixed root
    * accumulates versions across invocations (Bench runs every query
    * twice per JVM), so re-runs pay ever-longer manifest chains and any
    * query whose result mentions history would drift from its oracle. */
  def freshScratch(s: org.apache.spark.sql.SparkSession, sub: String): String =
    sys.props("java.io.tmpdir") +
      s"/graft-scratch-${s.sparkContext.applicationId}/$sub-${scratchRuns.incrementAndGet()}"
}
