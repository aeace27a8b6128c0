package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.engine.{GraftSession, Tables}

/** JVM side of the benchmark: runs one workload in one driver with one
  * client thread and writes every raw sample to a JSON file; `run.py`
  * turns the samples into metrics.
  *
  * Usage (all arguments `key=value`):
  *   mode=run workload=<iterative|store_churn> seed=<n> seconds=<s>
  *     trace=<0|1> data=<sf dir> expected=<json> out=<json>
  *   mode=expect data=<sf dir> verify=<dumps dir> out=<json>
  *
  * Every workload is a closed loop of passes, each pass a sequence of
  * client operations timed by [[Client]]. */
object PerfBench {

  /** Member queries of the query workload. A pass must stay a few seconds
    * long: every benchmark run is a fresh JVM, and the whole benchmark
    * (22 runs per workload) has to fit in under an hour on 4 cores.
    * iterative: superstep and multi-job queries where the driver dominates
    * (connected components: 31 jobs; label propagation: 27; reachability
    * by BFS supersteps: 17). */
  val Workloads: Map[String, Seq[String]] = Map(
    "iterative" -> Seq("dedup_components", "graph_label_prop", "graph_reachability"))

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val out = new File(a("out")).toPath
    a("mode") match {
      case "expect" =>
        val spark = session(a("data"))
        Files.write(out, Json.render(expect(spark, a("verify"))).getBytes(UTF_8))
        spark.stop()
      case "run" =>
        val workload = a("workload")
        require(workload == "store_churn" || Workloads.contains(workload),
          s"unknown workload '$workload'")
        // set-up: JVM start until the session is ready, the query registry
        // is built and the workload's inputs are staged (the store
        // workload seeds its table here)
        val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
        val marks = mutable.ArrayBuffer("jvm" -> System.currentTimeMillis())
        val spark = session(a("data"))
        marks += "session" -> System.currentTimeMillis()
        SparkEntry.queries
        marks += "registry" -> System.currentTimeMillis()
        val seeded = if (workload == "store_churn") Some(StoreSeed(spark, a("data"))) else None
        marks += "inputs" -> System.currentTimeMillis()
        val parts = marks.zip((null, jvmStart) +: marks).map { case ((k, t), (_, prev)) =>
          k -> (t - prev) / 1e3 }.toMap
        val base = Map[String, Any]("workload" -> workload,
          "setup_s" -> (marks.last._2 - jvmStart) / 1e3, "setup_parts_s" -> parts,
          "cores" -> spark.sparkContext.defaultParallelism)
        val result = {
          val client = new Client(spark, a("trace") == "1")
          val seed = a("seed").toLong
          val seconds = a("seconds").toDouble
          val passes = seeded match {
            case Some(s) => new StoreChurn(spark, client, s, seed, seconds).run()
            case None => new QueryLoop(spark, client, Workloads(workload), a("data"),
              Json.readExpected(a("expected"), workload), seed, seconds).run()
          }
          base ++ client.summary ++ Map("passes" -> passes, "heap_live_mb" -> liveHeapMb(),
            "peak_rss_mb" -> peakRssMb(), "caches_not_reset" -> QueryLoop.CachesNotReset)
        }
        Files.write(out, Json.render(result).getBytes(UTF_8))
        spark.stop()
    }
  }

  private def session(data: String): SparkSession = {
    val spark = GraftSession.local("graftbench")
    spark.sparkContext.setLogLevel("ERROR")
    // the fixture copy is read-only, like the engine's own fixture roots
    Tables.immutableRoots = Tables.immutableRoots :+ data
    spark
  }

  /** Heap still reachable after a full collection: the memory the
    * program retains (memos, caches, leaks), independent of when the
    * collector last ran. */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  /** Resident-set high-water mark; it depends on collector timing, so it
    * is recorded but not used as a metric. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  // ---- output checks ---------------------------------------------------

  /** Canonical text of one value: stable across JVM time zones and across
    * a parquet round trip, so a live result and a dumped one agree. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN) "NaN" else java.lang.Double.toString(d)
    case f: Float => if (f.isNaN) "NaN" else java.lang.Float.toString(f)
    case b: java.math.BigDecimal => b.toPlainString
    case b: BigDecimal => b.bigDecimal.toPlainString
    case t: java.sql.Timestamp => s"ts${Math.floorDiv(t.getTime, 1000L)}.${t.getNanos}"
    case d: java.sql.Date => d.toLocalDate.toString
    case bs: Array[Byte] => bs.map(b => f"$b%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  /** 64-bit hash of one row. A result's checksum is the wrapping sum over
    * its rows, so it ignores row order and updates in O(1) per row. */
  def rowHash(r: Row): Long = {
    val s = canon(r)
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1ce)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }

  def checksum(rows: Array[Row]): Long = rows.foldLeft(0L)(_ + rowHash(_))

  /** Row counts and checksums of the query workloads' results, read from
    * the per-query parquet dumps `graft.Verify` writes. */
  private def expect(spark: SparkSession, verify: String): Map[String, Any] =
    Workloads.map { case (w, names) =>
      w -> names.map { n =>
        val rows = spark.read.parquet(s"$verify/$n").collect()
        n -> Map("rows" -> rows.length, "checksum" -> checksum(rows).toString)
      }.toMap
    }
}

/** Minimal JSON rendering and the expected-values reader. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{workload: {query: {"rows": n, "checksum": "<long>"}}}` */
  def readExpected(path: String, workload: String): Map[String, (Int, Long)] = {
    import scala.jdk.CollectionConverters._
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(path)).get(workload)
    node.fieldNames.asScala.map { n =>
      val q = node.get(n)
      n -> (q.get("rows").asInt, q.get("checksum").asText.toLong)
    }.toMap
  }
}
