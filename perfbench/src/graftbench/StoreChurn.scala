package graftbench

import java.io.File
import java.time.LocalDateTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.engine.{Tables, VersionedStore}

/** The store workload's seeded table: `orders` range-partitioned into
  * `Files` files, plus the driver-side model of its rows (key -> row
  * hash). */
final case class StoreSeed(store: VersionedStore, root: File, schema: StructType,
    model: java.util.TreeMap[java.lang.Long, java.lang.Long])

object StoreSeed {
  val Files = 16
  val Table = "orders"

  def apply(spark: SparkSession, data: String): StoreSeed = {
    val root = new File(sys.props("java.io.tmpdir"), "graftbench-store")
    val store = new VersionedStore(root.getAbsolutePath)
    store.write(Tables.load(spark, data, Table).repartitionByRange(Files, col("o_orderkey")), Table)
    val head = store.read(spark, Table)
    val model = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    head.collect().foreach(r => model.put(r.getLong(0), PerfBench.rowHash(r)))
    StoreSeed(store, root, head.schema, model)
  }
}

/** Closed loop of store commits, each followed by a head read and a read
  * of a random retained older version. A pass is `Upserts` key-window
  * upserts (windows overlap deleted and never-used keys, so some rows are
  * inserts) and one merge-on-read delete of a key window, in a seeded
  * order, then maintenance: OPTIMIZE (Z-ordered on the key) and a
  * version VACUUM keeping `Keep` versions. The mix is fixed per pass so
  * that seeds vary the keys, not the amount of work. Every read is
  * checked against the driver-side model of the applied changes. */
final class StoreChurn(spark: SparkSession, client: Client, seed: StoreSeed,
    rngSeed: Long, seconds: Double) {
  import StoreSeed.Table

  private val Upserts = 4
  private val Keep = 8
  private val UpsertKeys = 1000
  private val DeleteKeys = 400
  private val InsertShare = 0.5

  private val store = seed.store
  private val rnd = new Random(rngSeed)
  private val model = seed.model
  private val keySpace = model.lastKey + 1 + UpsertKeys * 4L
  private var sum = model.values.asScala.foldLeft(0L)(_ + _)
  /** (rows, checksum) of every retained version, recorded at its commit. */
  private val versions = mutable.LinkedHashMap[Long, (Int, Long)]()

  private def tdir = new File(seed.root, Table)
  private def fileBytes(f: String) = new File(new File(tdir, "files"), f).length

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  /** Data and deletion-vector files of version `v`. */
  private def liveFiles(v: Long): Set[String] = {
    val es = store.manifestWithStats(Table, v)._2
    (es.map(_.file) ++ es.flatMap(_.dvs)).toSet
  }

  private def head: Long = store.currentVersion(Table).get

  private def check(what: String, rows: Array[Row], want: (Int, Long)): Unit = {
    val got = (rows.length, PerfBench.checksum(rows))
    if (got != want) client.wrongOutput(s"$what: got $got, expected $want")
  }

  private val statuses = Seq("O", "F", "P")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def newRow(k: Long): Row = Row(k, rnd.nextInt(1500).toLong,
    statuses(rnd.nextInt(3)), math.round(rnd.nextDouble() * 5e7) / 100.0,
    LocalDateTime.of(1992, 1, 1, 0, 0).plusDays(rnd.nextInt(2400).toLong),
    priorities(rnd.nextInt(5)))

  /** One upsert; returns the changed row count. */
  private def upsert(): Option[(client.Rec, Long)] = {
    val lo = (rnd.nextDouble() * (keySpace - UpsertKeys)).toLong
    val rows = (lo until lo + UpsertKeys)
      .filter(k => model.containsKey(k) || rnd.nextDouble() < InsertShare).map(newRow)
    val src = spark.createDataFrame(rows.asJava, seed.schema)
    client.call("upsert")(store.upsert(spark, Table, src, Seq("o_orderkey"))).map {
      case (_, rec) =>
        rows.foreach { r =>
          val h = PerfBench.rowHash(r)
          val old = model.put(r.getLong(0), h)
          if (old != null) sum -= old
          sum += h
        }
        (rec, rows.size.toLong)
    }
  }

  /** One merge-on-read delete; returns the changed row count. */
  private def deleteMor(): Option[(client.Rec, Long)] = {
    val lo = (rnd.nextDouble() * (keySpace - DeleteKeys)).toLong
    val hi = lo + DeleteKeys - 1
    client.call("delete_mor")(
        store.deleteMor(spark, Table, col("o_orderkey").between(lo, hi))).map {
      case (_, rec) =>
        val gone = model.subMap(lo, true, hi, true)
        val n = gone.size.toLong
        gone.values.asScala.foreach(h => sum -= h)
        gone.clear()
        (rec, n)
    }
  }

  private def commitAndRead(isUpsert: Boolean): Unit = {
    val prevFiles = liveFiles(head)
    val rowBytes = prevFiles.toSeq.map(fileBytes).sum.toDouble / math.max(1, model.size)
    (if (isUpsert) upsert() else deleteMor()).foreach { case (rec, changed) =>
      val v = head
      versions(v) = (model.size, sum)
      val files = liveFiles(v)
      rec ++= Map(
        "rewrite_bytes" -> (files -- prevFiles).toSeq.map(fileBytes).sum,
        "changed_bytes" -> changed * rowBytes,
        "manifest_bytes" -> new File(tdir, s"v$v.manifest").length,
        "head_files" -> store.manifestWithStats(Table, v)._2.size,
        "space_amp" -> dirBytes(tdir).toDouble / files.toSeq.map(fileBytes).sum)
    }
    client.call("history")(store.history(Table))
    client.query("read")(store.read(spark, Table))
      .foreach { case (rows, _) => check(s"head read at v$head", rows, (model.size, sum)) }
    val older = versions.keys.filter(_ < head).toSeq
    if (older.nonEmpty) {
      val v = older(rnd.nextInt(older.size))
      client.query("read_version")(store.readVersion(spark, Table, v))
        .foreach { case (rows, _) => check(s"read of v$v", rows, versions(v)) }
    }
  }

  private def maintain(): Unit = {
    client.call("optimize")(store.optimize(spark, Table, targetFiles = StoreSeed.Files,
      zorderBy = Seq("o_orderkey"))).foreach { _ => versions(head) = (model.size, sum) }
    client.call("vacuum")(store.vacuumVersions(Table, Keep))
      .foreach { case (dropped, _) => dropped.foreach(versions.remove) }
  }

  def run(): Seq[Map[String, Any]] = {
    versions(head) = (model.size, sum)
    client.loop(seconds) { _ =>
      rnd.shuffle(Seq.fill(Upserts)(true) :+ false).foreach(commitAndRead)
      maintain()
    }
  }
}
