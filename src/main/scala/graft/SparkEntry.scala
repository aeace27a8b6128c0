package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every operator from SURVEY.md §2 registers here: a Spark query under
  * `queries` and (when SQL-expressible) its DuckDB twin under `oracleSql`.
  * Registration is delegated to the ops modules so each operator's query
  * and oracle live next to its implementation. */
object SparkEntry {
  type Q = (SparkSession, String) => DataFrame

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The whole-database single-pass profiler — the reference's core program
    * (SURVEY.md §2.4 profile_histogram). */
  def entry(spark: SparkSession): DataFrame =
    ops.Profiler.profileHistogram(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, Q] = registry("query", modules.map(_._1))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  val oracleSql: Map[String, String] = registry("oracle", modules.map(_._2))

  /** The ops modules' (queries, oracles) maps, in registration order. */
  private def modules: Seq[(Map[String, Q], Map[String, String])] = Seq(
    ops.ProfilerQueries.queries -> ops.ProfilerQueries.oracles,
    ops.Relational.queries -> ops.Relational.oracles,
    ops.Joins.queries -> ops.Joins.oracles,
    ops.Windows.queries -> ops.Windows.oracles,
    ops.MaintenanceQueries.queries -> ops.MaintenanceQueries.oracles,
    ops.StreamingQueries.queries -> ops.StreamingQueries.oracles,
    ops.LlmPipeline.queries -> ops.LlmPipeline.oracles,
    ops.Extras.queries -> ops.Extras.oracles,
    ops.Analytics.queries -> ops.Analytics.oracles,
    ops.Corpus.queries -> ops.Corpus.oracles,
    ops.Wave3.queries -> ops.Wave3.oracles,
    ops.Wave4.queries -> ops.Wave4.oracles,
    ops.Wave5.queries -> ops.Wave5.oracles,
    ops.Wave6.queries -> ops.Wave6.oracles,
    ops.Wave7.queries -> ops.Wave7.oracles,
    ops.Wave8.queries -> ops.Wave8.oracles,
    ops.Physical.queries -> ops.Physical.oracles,
    ops.Behavior.queries -> ops.Behavior.oracles,
    sources.Formats.queries -> sources.Formats.oracles,
    ops.Ivf.queries -> ops.Ivf.oracles,
    ops.Pq.queries -> ops.Pq.oracles,
    ops.Bpe.queries -> ops.Bpe.oracles,
    ops.Wave9.queries -> ops.Wave9.oracles,
    ops.Wave10.queries -> ops.Wave10.oracles,
    ops.Wave11.queries -> ops.Wave11.oracles,
    ops.Wave12.queries -> ops.Wave12.oracles,
    ops.Wave13.queries -> ops.Wave13.oracles,
    ops.Wave14.queries -> ops.Wave14.oracles,
    ops.Wave15.queries -> ops.Wave15.oracles,
    ops.Wave16.queries -> ops.Wave16.oracles,
    ops.Wave17.queries -> ops.Wave17.oracles,
    ops.Wave18.queries -> ops.Wave18.oracles,
    ops.Wave19.queries -> ops.Wave19.oracles,
    ops.Wave20.queries -> ops.Wave20.oracles,
    ops.Temporal.queries -> ops.Temporal.oracles,
    ops.Wave21.queries -> ops.Wave21.oracles,
    ops.Wave22.queries -> ops.Wave22.oracles,
    ops.Wave23.queries -> ops.Wave23.oracles,
    ops.Wave24.queries -> ops.Wave24.oracles,
    ops.Wave25.queries -> ops.Wave25.oracles,
    ops.Wave26.queries -> ops.Wave26.oracles,
    ops.Wave27.queries -> ops.Wave27.oracles,
    ops.Wave28.queries -> ops.Wave28.oracles,
    ops.Wave29.queries -> ops.Wave29.oracles,
    ops.Wave30.queries -> ops.Wave30.oracles,
    ops.Wave31.queries -> ops.Wave31.oracles,
    ops.Wave32.queries -> ops.Wave32.oracles,
    ops.Wave33.queries -> ops.Wave33.oracles,
    ops.Wave34.queries -> ops.Wave34.oracles,
    ops.Wave35.queries -> ops.Wave35.oracles,
    ops.Wave36.queries -> ops.Wave36.oracles,
    ops.Wave37.queries -> ops.Wave37.oracles,
    ops.Wave38.queries -> ops.Wave38.oracles,
    ops.Wave39.queries -> ops.Wave39.oracles,
    ops.Wave40.queries -> ops.Wave40.oracles,
    ops.Wave41.queries -> ops.Wave41.oracles,
    ops.Wave42.queries -> ops.Wave42.oracles,
    ops.Wave43.queries -> ops.Wave43.oracles,
    ops.Wave44.queries -> ops.Wave44.oracles,
    ops.Wave45.queries -> ops.Wave45.oracles,
    ops.Wave46.queries -> ops.Wave46.oracles,
    ops.Wave47.queries -> ops.Wave47.oracles,
    ops.Wave48.queries -> ops.Wave48.oracles,
    ops.Wave49.queries -> ops.Wave49.oracles,
    ops.Wave50.queries -> ops.Wave50.oracles,
    ops.Wave51.queries -> ops.Wave51.oracles,
    ops.Wave52.queries -> ops.Wave52.oracles,
    ops.Wave53.queries -> ops.Wave53.oracles,
    ops.Wave54.queries -> ops.Wave54.oracles,
    ops.Wave55.queries -> ops.Wave55.oracles,
    ops.Wave56.queries -> ops.Wave56.oracles,
    ops.Wave57.queries -> ops.Wave57.oracles,
    ops.Wave58.queries -> ops.Wave58.oracles,
    ops.Wave59.queries -> ops.Wave59.oracles,
    ops.Wave60.queries -> ops.Wave60.oracles,
    ops.Wave61.queries -> ops.Wave61.oracles,
    ops.Wave62.queries -> ops.Wave62.oracles,
    ops.Wave63.queries -> ops.Wave63.oracles,
    ops.Wave64.queries -> ops.Wave64.oracles,
    ops.Wave65.queries -> ops.Wave65.oracles,
    ops.Wave66.queries -> ops.Wave66.oracles,
    ops.Wave67.queries -> ops.Wave67.oracles,
    ops.Wave68.queries -> ops.Wave68.oracles,
    ops.Wave69.queries -> ops.Wave69.oracles,
    ops.Wave70.queries -> ops.Wave70.oracles,
    ops.Wave71.queries -> ops.Wave71.oracles,
    ops.Wave72.queries -> ops.Wave72.oracles,
    ops.Wave73.queries -> ops.Wave73.oracles,
    ops.Wave74.queries -> ops.Wave74.oracles,
    ops.Wave75.queries -> ops.Wave75.oracles,
    ops.Wave76.queries -> ops.Wave76.oracles,
    ops.Wave77.queries -> ops.Wave77.oracles,
    ops.Wave78.queries -> ops.Wave78.oracles,
    ops.Wave79.queries -> ops.Wave79.oracles,
    ops.Wave80.queries -> ops.Wave80.oracles,
    ops.Wave81.queries -> ops.Wave81.oracles,
    ops.Wave82.queries -> ops.Wave82.oracles,
    ops.Wave83.queries -> ops.Wave83.oracles,
    ops.Wave84.queries -> ops.Wave84.oracles,
    ops.Wave85.queries -> ops.Wave85.oracles,
    ops.Wave86.queries -> ops.Wave86.oracles,
    ops.Wave87.queries -> ops.Wave87.oracles,
    ops.Wave88.queries -> ops.Wave88.oracles,
    ops.Wave89.queries -> ops.Wave89.oracles,
    ops.Wave90.queries -> ops.Wave90.oracles,
    ops.Wave91.queries -> ops.Wave91.oracles,
    ops.Wave92.queries -> ops.Wave92.oracles,
    ops.Wave93.queries -> ops.Wave93.oracles,
    ops.Wave94.queries -> ops.Wave94.oracles,
    ops.Wave95.queries -> ops.Wave95.oracles,
    ops.Wave96.queries -> ops.Wave96.oracles,
    ops.Wave97.queries -> ops.Wave97.oracles,
    ops.Wave98.queries -> ops.Wave98.oracles
  )

  /** The union of `maps`; a name registered by two modules fails here
    * instead of one silently shadowing the other. */
  private[graft] def registry[V](what: String, maps: Seq[Map[String, V]]): Map[String, V] =
    maps.foldLeft(Map.empty[String, V]) { (acc, m) =>
      val dup = m.keySet.intersect(acc.keySet)
      require(dup.isEmpty, s"$what registered twice: ${dup.toSeq.sorted.mkString(", ")}")
      acc ++ m
    }
}
