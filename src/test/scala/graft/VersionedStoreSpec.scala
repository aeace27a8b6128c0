package graft

import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.engine.{Tables, VersionedStore}

/** Walks adaptive plans, query stages included. */
private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Time-travel store semantics: snapshot isolation, history, retention. */
class VersionedStoreSpec extends SparkSuite {
  import spark.implicits._

  private def freshStore() = new VersionedStore(
    java.nio.file.Files.createTempDirectory("graft-versions").toString)

  test("overwrites commit as versions; old snapshots stay readable") {
    val store = freshStore()
    val v1 = store.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t")
    val v2 = store.write(Seq((1L, "a2")).toDF("k", "v"), "t")
    assert((v1, v2) === (1L, 2L))
    assert(store.currentVersion("t") === Some(2L))
    assert(store.read(spark, "t").count() === 1L)
    assert(store.readVersion(spark, "t", 1L).count() === 2L)
    assert(store.history("t") === Seq(1L, 2L))
  }

  test("upsert merges against the live snapshot into a new version") {
    val store = freshStore()
    store.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t")
    val v2 = store.upsert(spark, "t",
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"), Seq("k"))
    assert(v2 === 2L)
    val now = store.read(spark, "t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(now === Set((1L, "a"), (2L, "B"), (3L, "c")))
    // time travel still sees the pre-merge state
    val was = store.readVersion(spark, "t", 1L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(was === Set((1L, "a"), (2L, "b")))
  }

  test("vacuumVersions enforces retention but never drops the live version") {
    val store = freshStore()
    (1 to 4).foreach(i => store.write(Seq((i.toLong, s"v$i")).toDF("k", "v"), "t"))
    val dropped = store.vacuumVersions("t", keep = 2)
    assert(dropped === Seq(1L, 2L))
    assert(store.history("t") === Seq(3L, 4L))
    assert(store.read(spark, "t").count() === 1L)
    intercept[IllegalArgumentException] {
      store.readVersion(spark, "t", 1L).count()
    }
  }

  test("manifest cache: vacuum evicts dropped versions; per-table bound holds") {
    val store = freshStore()
    (1 to 4).foreach(i => store.write(Seq((i.toLong, s"v$i")).toDF("k", "v"), "t"))
    // commits seed the cache for every written version
    assert(store.cachedManifestVersions("t") === Seq(1L, 2L, 3L, 4L))
    store.vacuumVersions("t", keep = 2)
    // dropped versions' parsed entries must not be retained (a long-lived
    // streaming writer would otherwise leak versions x file-count forever)
    assert(store.cachedManifestVersions("t") === Seq(3L, 4L))
    // the per-table bound evicts the OLDEST versions past the cap, even
    // without a vacuum (miss = re-parse of the immutable file, so reads
    // of evicted versions still work)
    val n = store.MfCacheKeepVersions + 5
    (5 to n + 4).foreach(i => store.write(Seq((i.toLong, s"v$i")).toDF("k", "v"), "t"))
    val cached = store.cachedManifestVersions("t")
    assert(cached.size <= store.MfCacheKeepVersions)
    assert(cached.max === (n + 4).toLong) // head version stays cached
    assert(store.readVersion(spark, "t", 3L).count() === 1L) // evicted -> re-parse
  }

  test("manifest cache evicts by recency: a time-travel read of an old version stays cached") {
    val store = freshStore()
    store.write(Seq((1L, "a")).toDF("k", "v"), "t")
    // restore copies a manifest and runs no Spark job: cheap versions
    (1 to store.MfCacheKeepVersions + 5).foreach(_ => store.restore("t", 1L))
    assert(!store.cachedManifestVersions("t").contains(3L))
    assert(store.readVersion(spark, "t", 3L).count() === 1L)
    val cached = store.cachedManifestVersions("t")
    assert(cached.contains(3L), "the version just read evicted itself")
    assert(cached.size === store.MfCacheKeepVersions)
    assert(cached.max === store.currentVersion("t").get, "head version stays cached")
  }

  test("profile meta-table maintained with history (the reference's shape)") {
    val store = freshStore()
    store.write(graft.ops.Profiler.schemaInformation(spark, sf,
      Seq(Tables.meta("region"))), "SchemaInformation")
    store.upsert(spark, "SchemaInformation",
      graft.ops.Profiler.schemaInformation(spark, sf,
        Seq(Tables.meta("region"), Tables.meta("nation"))),
      Seq("databaseName", "tableName", "columnName"))
    assert(store.read(spark, "SchemaInformation").count() === 5L)   // 2 + 3 cols
    assert(store.readVersion(spark, "SchemaInformation", 1L).count() === 2L)
  }

  test("upsert with evolveSchema adds new columns; time travel keeps old schema") {
    val store = freshStore()
    store.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t")
    store.upsert(spark, "t",
      Seq((2L, "B", 9.5), (3L, "c", 1.5)).toDF("k", "v", "score"),
      Seq("k"), evolveSchema = true)
    val now = store.read(spark, "t")
    assert(now.columns.toSeq === Seq("k", "v", "score"))
    val rows = now.collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    assert(rows === Set(
      (1L, "a", None),                 // pre-evolution row: NULL score
      (2L, "B", Some(9.5)),
      (3L, "c", Some(1.5))))
    // the superseded snapshot keeps its narrower schema
    assert(store.readVersion(spark, "t", 1L).columns.toSeq === Seq("k", "v"))
  }

  test("upsert shares unchanged data files between versions (manifest reuse)") {
    val store = freshStore()
    // 8 key-partitioned files so a 1-key upsert can only hit one of them
    store.write((1L to 800L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(8, col("k")), "t")
    val (_, f1) = store.manifest("t", 1L)
    assert(f1.size === 8, s"expected 8 data files, got ${f1.size}")
    store.upsert(spark, "t", Seq((42L, "UPDATED")).toDF("k", "v"), Seq("k"))
    val (_, f2) = store.manifest("t", 2L)
    val shared = f1.toSet.intersect(f2.toSet)
    assert(shared.size === 7, s"7 untouched files must carry over by reference, shared=$shared")
    assert((f2.toSet -- f1.toSet).nonEmpty, "the hit file is rewritten as a new file")
    // and both snapshots still read correctly
    assert(store.readVersion(spark, "t", 1L).filter(col("k") === 42L)
      .collect().map(_.getString(1)).toSeq === Seq("v42"))
    assert(store.read(spark, "t").filter(col("k") === 42L)
      .collect().map(_.getString(1)).toSeq === Seq("UPDATED"))
    assert(store.read(spark, "t").count() === 800L)
  }

  test("manifest stats prune upsert candidates without any I/O (data skipping)") {
    val store = freshStore()
    // range-partitioned files => disjoint key ranges per file, the shape
    // stats skipping exploits (hash-partitioned files all overlap)
    store.write((1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k")), "t")
    val (_, entries) = store.manifestWithStats("t", 1L)
    assert(entries.size === 4)
    assert(entries.forall(_.stats.contains("k")), "every file carries k stats")
    // source keys all land in one file's range
    val source = Seq((5L, "X"), (7L, "Y")).toDF("k", "v")
    val candidates = store.pruneCandidates(spark, "t", source, "k")
    assert(candidates.size === 1,
      s"stats must dismiss 3 of 4 files from the manifest alone, got $candidates")
    // and the full upsert rewrites only that file
    store.upsert(spark, "t", source, Seq("k"))
    val (_, f2) = store.manifest("t", 2L)
    val shared = entries.map(_.file).toSet.intersect(f2.toSet)
    assert(shared.size === 3, "the three out-of-range files carry over untouched")
    assert(store.read(spark, "t").count() === 400L)
    assert(store.read(spark, "t").filter(col("k") === 5L)
      .collect().map(_.getString(1)).toSeq === Seq("X"))
  }

  test("pruneCandidates and upsert's hit detection choose the same candidate files") {
    val root = java.nio.file.Files.createTempDirectory("graft-versions").toString
    val store = new VersionedStore(root)
    store.write((1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k")), "t")
    // keys 5 and 250: the range [5, 250] overlaps three of the four files,
    // and only two of those hold a matched key
    val source = Seq((5L, "X"), (250L, "Y")).toDF("k", "v")
    val pruned = store.pruneCandidates(spark, "t", source, "k").toSet
    assert(pruned.size === 3, s"stats must dismiss one file, got $pruned")
    // every table file the upsert's queries open: the hit-detection scan
    // reads its candidates, the merge rewrite only the hit files among them
    val opened = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        Plans.collect(qe.executedPlan) {
          case scan: org.apache.spark.sql.execution.FileSourceScanExec => scan
        }.flatMap(_.relation.location.rootPaths.map(_.toString))
          .filter(_.contains(s"$root/t/files/"))
          .foreach(p => opened.add(p.split('/').last))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      store.upsert(spark, "t", source, Seq("k"))
      // listener events arrive asynchronously and in order, and the
      // hit-detection scan is the upsert's first table read
      val deadline = System.nanoTime + 30L * 1000000000L
      while (opened.asScala.toSet != pruned && System.nanoTime < deadline)
        Thread.sleep(50)
      assert(opened.asScala.toSet === pruned,
        "upsert opened other files than pruneCandidates names")
    } finally spark.listenerManager.unregister(listener)
    val rewritten = store.manifest("t", 1L)._2.toSet -- store.manifest("t", 2L)._2
    assert(rewritten.size === 2 && rewritten.subsetOf(pruned))
  }

  test("optimize compacts accumulated small files into a new version") {
    val store = freshStore()
    store.write((1L to 100L).map(k => (k, k)).toDF("k", "v")
      .repartitionByRange(4, col("k")), "t")
    store.upsert(spark, "t", Seq((5L, -5L)).toDF("k", "v"), Seq("k"))
    store.upsert(spark, "t", Seq((95L, -95L)).toDF("k", "v"), Seq("k"))
    val before = store.manifest("t", store.currentVersion("t").get)._2.size
    assert(before >= 4, s"fragmented pre-compaction manifest expected, got $before")
    val v = store.optimize(spark, "t", targetFiles = 1)
    assert(store.manifest("t", v)._2.size === 1, "compacted to one file")
    val now = store.read(spark, "t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(now === ((1L to 100L).map(k => (k, k)).toSet -- Set((5L, 5L), (95L, 95L))
      ++ Set((5L, -5L), (95L, -95L))), "compaction preserves every row")
    // pre-optimize history still readable (file reuse means its files live)
    assert(store.readVersion(spark, "t", v - 1).count() === 100L)
  }

  test("optimize zorderBy makes stats pruning effective on every clustered column") {
    val store = freshStore()
    // write in a layout where NEITHER column is clustered: every file
    // spans the full range of both -> stats can prune nothing
    val data = (1L to 1024L).map(k => (k, (k * 2654435761L) % 1024L, s"v$k"))
      .toDF("a", "b", "v")
    store.write(data.repartition(8), "t")
    val probeA = Seq((3L, 0L, "x")).toDF("a", "b", "v")
    val probeB = Seq((0L, 3L, "x")).toDF("a", "b", "v")
    val v = store.optimize(spark, "t", targetFiles = 8, zorderBy = Seq("a", "b"))
    assert(store.manifest("t", v)._2.size === 8)
    val prunedA = store.pruneCandidates(spark, "t", probeA, "a").size
    val prunedB = store.pruneCandidates(spark, "t", probeB, "b").size
    assert(prunedA <= 4, s"z-ordered a-ranges must prune most files, scanned $prunedA/8")
    assert(prunedB <= 4, s"z-ordered b-ranges must prune most files, scanned $prunedB/8")
    assert(store.read(spark, "t").count() === 1024L, "clustering preserves rows")
  }

  test("vacuum garbage-collects only unreferenced data files") {
    val root = java.nio.file.Files.createTempDirectory("graft-versions").toString
    val store = new VersionedStore(root)
    store.write((1L to 100L).map(k => (k, k * 2)).toDF("k", "v")
      .repartition(4, col("k")), "t")
    store.upsert(spark, "t", Seq((1L, -2L)).toDF("k", "v"), Seq("k"))
    val (_, liveFiles) = store.manifest("t", 2L)
    store.vacuumVersions("t", keep = 1)
    assert(store.history("t") === Seq(2L))
    // shared files referenced by the surviving manifest must NOT be swept
    assert(store.read(spark, "t").count() === 100L)
    val onDisk = new java.io.File(s"$root/t/files").listFiles.map(_.getName).toSet
    assert(onDisk === liveFiles.toSet, "exactly the referenced files remain")
  }

  test("vacuum sweeps the stage dirs and temp files a crashed writer left") {
    val root = java.nio.file.Files.createTempDirectory("graft-versions").toString
    val store = new VersionedStore(root)
    store.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t")
    val t = new java.io.File(s"$root/t")
    // one leftover per crash point: a stage dir mid-write, a manifest
    // temp that never linked
    val stageDir = new java.io.File(t, "_stage_0123456789ab")
    stageDir.mkdirs()
    new java.io.File(stageDir, "part-00000.parquet").createNewFile()
    val leftovers = Seq(stageDir,
      new java.io.File(t, "_v2-0123456789ab.manifest.tmp"))
    leftovers.drop(1).foreach(_.createNewFile())
    val hourAgo = System.currentTimeMillis() - 3600L * 1000
    leftovers.foreach(_.setLastModified(hourAgo))
    store.vacuumVersions("t", keep = 1)
    assert(leftovers.filter(_.exists).isEmpty, "crash leftovers must be swept")
    assert(store.history("t") === Seq(1L))
    assert(store.read(spark, "t").count() === 2L, "the head still reads")
  }

  test("vacuum spares the staging leftovers of a writer still at work") {
    val root = java.nio.file.Files.createTempDirectory("graft-versions").toString
    val store = new VersionedStore(root)
    store.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t")
    val t = new java.io.File(s"$root/t")
    // fresh: a stage dir and a manifest temp just made
    val fresh = new java.io.File(t, "_stage_0123456789ab")
    fresh.mkdirs()
    new java.io.File(fresh, "part-00000.parquet").createNewFile()
    val temps = Seq(new java.io.File(t, "_v2-0123456789ab.manifest.tmp"))
    temps.foreach(_.createNewFile())
    // a stage dir set up an hour ago whose write job is still running:
    // its task output under _temporary is fresh
    val running = new java.io.File(t, "_stage_ba9876543210")
    val attempt = new java.io.File(running, "_temporary/0/_temporary/attempt_0")
    attempt.mkdirs()
    new java.io.File(attempt, "part-00000.parquet").createNewFile()
    running.setLastModified(System.currentTimeMillis() - 3600L * 1000)
    store.vacuumVersions("t", keep = 1)
    val gone = (Seq(fresh, running, attempt) ++ temps).filterNot(_.exists)
    assert(gone.isEmpty, s"vacuum deleted a live writer's staging: $gone")
    assert(store.read(spark, "t").count() === 2L)
  }

  test("delete rewrites only files containing matches; others carry over") {
    val store = freshStore()
    store.write((1L to 400L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k")), "t")
    val (_, f1) = store.manifest("t", 1L)
    store.delete(spark, "t", col("k") >= 5L && col("k") <= 7L)
    val (_, f2) = store.manifest("t", 2L)
    assert(f1.toSet.intersect(f2.toSet).size === 3,
      "three files without matches must be shared, not rewritten")
    assert(store.read(spark, "t").count() === 397L)
    assert(store.read(spark, "t").filter(col("k").between(5L, 7L)).count() === 0L)
    assert(store.readVersion(spark, "t", 1L).count() === 400L, "history intact")
  }

  test("restore re-commits an old snapshot by reference (zero data movement)") {
    val store = freshStore()
    store.write((1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k")), "t")                              // v1
    store.upsert(spark, "t", Seq((5L, "BAD")).toDF("k", "v"), Seq("k"))   // v2
    val v3 = store.restore("t", 1L)
    assert(v3 === 3L)
    assert(store.manifest("t", 3L)._2.toSet === store.manifest("t", 1L)._2.toSet,
      "restore shares v1's files verbatim")
    assert(store.read(spark, "t").filter(col("k") === 5L)
      .collect().map(_.getString(1)).toSeq === Seq("v5"), "bad deploy rolled back")
    assert(store.readVersion(spark, "t", 2L).filter(col("k") === 5L)
      .collect().map(_.getString(1)).toSeq === Seq("BAD"), "history intact")
    // CDF across the rollback reports the revert as a change
    val feed = store.changes(spark, "t", 2L, 3L, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((5L, "update")))
  }

  test("delete keeps rows whose predicate is NULL (SQL DELETE semantics)") {
    val store = freshStore()
    // k=2's year is NULL and it shares the single file with the match:
    // DELETE WHERE year = 1995 must keep it (predicate NULL != true)
    store.write(Seq((1L, Some(1995)), (2L, None), (3L, Some(1996)))
      .toDF("k", "yr"), "t")
    store.delete(spark, "t", col("yr") === 1995)
    val kept = store.read(spark, "t").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L), s"NULL-predicate row must survive, got $kept")
  }

  test("file-diff CDF equals the brute-force snapshot diff") {
    val store = freshStore()
    store.write((1L to 300L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(3, col("k")), "t")
    store.upsert(spark, "t", Seq((5L, "U5"), (301L, "I301")).toDF("k", "v"), Seq("k"))
    store.delete(spark, "t", col("k") === 250L)
    val feed = store.changes(spark, "t", 1L, 3L, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((5L, "update"), (301L, "insert"), (250L, "delete")))
    // unchanged keys in rewritten files must NOT leak into the feed
    assert(!feed.exists(_._1 == 6L))
  }

  test("changesSince stamps each change with its producing commit") {
    val store = freshStore()
    store.write((1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k")), "t")                            // v1
    store.upsert(spark, "t", Seq((5L, "U5")).toDF("k", "v"), Seq("k"))  // v2
    store.delete(spark, "t", col("k") === 80L)                          // v3
    val feed = store.changesSince(spark, "t", 1L, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(feed === Set((5L, "update", 2L), (80L, "delete", 3L)))
    // from the live version: empty feed, right schema
    val empty = store.changesSince(spark, "t", 3L, Seq("k"))
    assert(empty.columns.toSeq === Seq("k", "change_type", "_commit_version"))
    assert(empty.count() === 0L)
  }

  test("upsertBatch is exactly-once: replayed batch ids commit nothing") {
    val store = freshStore()
    val v1 = store.upsertBatch(spark, "t",
      Seq((1L, "a")).toDF("k", "v"), Seq("k"), "sink", batchId = 0L)
    val v2 = store.upsertBatch(spark, "t",
      Seq((2L, "b")).toDF("k", "v"), Seq("k"), "sink", batchId = 1L)
    assert((v1, v2) === (1L, 2L))
    // foreachBatch redelivers the last batch after a restart: a replay
    // (same or lower id) must not create a version or duplicate rows
    val v3 = store.upsertBatch(spark, "t",
      Seq((2L, "REPLAYED")).toDF("k", "v"), Seq("k"), "sink", batchId = 1L)
    assert(v3 === 2L, "replay returns the current version")
    assert(store.history("t") === Seq(1L, 2L))
    assert(store.read(spark, "t").filter(col("k") === 2L)
      .collect().map(_.getString(1)).toSeq === Seq("b"), "replay applied nothing")
    // an independent writer has its own watermark
    val v4 = store.upsertBatch(spark, "t",
      Seq((3L, "c")).toDF("k", "v"), Seq("k"), "other-sink", batchId = 0L)
    assert(v4 === 3L)
    assert(store.txns("t", 3L) === Map("sink" -> 1L, "other-sink" -> 0L))
    // and a plain (non-streaming) upsert carries watermarks forward
    store.upsert(spark, "t", Seq((4L, "d")).toDF("k", "v"), Seq("k"))
    assert(store.txns("t", 4L) === Map("sink" -> 1L, "other-sink" -> 0L))
  }

  test("changes() classifies values appearing in evolved columns as updates") {
    val store = freshStore()
    store.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t")
    // key 1 keeps v but GAINS a score through schema evolution: that IS
    // an update; key 2 is untouched in every column
    store.upsert(spark, "t", Seq((1L, "a", 7.0)).toDF("k", "v", "score"),
      Seq("k"), evolveSchema = true)
    val feed = store.changes(spark, "t", 1L, 2L, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((1L, "update")))
    // and the reverse direction resolves too (narrowing view)
    val rev = store.changes(spark, "t", 2L, 1L, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rev === Set((1L, "update")))
  }

  test("CHECK constraints refuse violating commits and leave the table unchanged") {
    val store = freshStore()
    store.write(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "bal"), "t")
    store.addCheck(spark, "t", "bal_nonneg", "bal >= 0")
    // violating upsert → refused, version and content untouched
    val ex = intercept[IllegalStateException] {
      store.upsert(spark, "t", Seq((3L, -5.0)).toDF("k", "bal"), Seq("k"))
    }
    assert(ex.getMessage.contains("bal_nonneg"))
    assert(store.currentVersion("t") === Some(1L))
    assert(store.read(spark, "t").count() === 2L)
    // a NULL predicate result is a violation too (SQL CHECK refusal form)
    intercept[IllegalStateException] {
      store.upsert(spark, "t",
        Seq((4L, null.asInstanceOf[java.lang.Double])).toDF("k", "bal"), Seq("k"))
    }
    // clean rows still flow
    store.upsert(spark, "t", Seq((3L, 5.0)).toDF("k", "bal"), Seq("k"))
    assert(store.read(spark, "t").count() === 3L)
    // violating overwrite is refused as well
    intercept[IllegalStateException] {
      store.write(Seq((1L, -1.0)).toDF("k", "bal"), "t")
    }
    assert(store.currentVersion("t") === Some(2L))
  }

  test("addCheck validates existing data and constraints persist across reopen") {
    val root = java.nio.file.Files.createTempDirectory("graft-versions").toString
    val store = new VersionedStore(root)
    store.write(Seq((1L, -3.0)).toDF("k", "bal"), "t")
    // cannot declare a constraint the live snapshot already violates
    intercept[IllegalStateException] {
      store.addCheck(spark, "t", "bal_nonneg", "bal >= 0")
    }
    assert(store.checks("t").isEmpty)
    store.addCheck(spark, "t", "k_positive", "k > 0")
    // a NEW handle on the same root still enforces (constraints are
    // table metadata, not session state)
    val reopened = new VersionedStore(root)
    assert(reopened.checks("t") === Seq("k_positive" -> "k > 0"))
    intercept[IllegalStateException] {
      reopened.upsert(spark, "t", Seq((0L, 1.0)).toDF("k", "bal"), Seq("k"))
    }
    reopened.dropCheck("t", "k_positive")
    reopened.upsert(spark, "t", Seq((0L, 1.0)).toDF("k", "bal"), Seq("k"))
    assert(reopened.read(spark, "t").count() === 2L)
  }

  test("key index pins point lookups to exactly the containing files") {
    val store = freshStore()
    // 4 range-disjoint files: keys 0-24, 25-49, 50-74, 75-99
    val base = spark.range(100).select(col("id").as("k"),
      (col("id") * 10).as("v"))
    store.write(base.repartitionByRange(4, col("k")), "t")
    store.buildKeyIndex(spark, "t", "k")
    // a one-key probe resolves to ONE data file
    val files = store.lookupFiles(spark, "t", "k", Seq(7L)).get
    assert(files.size === 1, s"expected 1 file, got $files")
    // lookup returns exactly the filtered rows
    val hit = store.lookup(spark, "t", "k", Seq(7L, 80L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hit === Set((7L, 70L), (80L, 800L)))
    // keys from different files → both files, nothing more
    val two = store.lookupFiles(spark, "t", "k", Seq(7L, 80L)).get
    assert(two.size === 2)
    // absent key → zero files, empty result
    assert(store.lookupFiles(spark, "t", "k", Seq(1000L)).get.isEmpty)
    assert(store.lookup(spark, "t", "k", Seq(1000L)).count() === 0)
  }

  test("key index goes stale on commit and lookup falls back to the full scan") {
    val store = freshStore()
    import spark.implicits._
    store.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .repartitionByRange(2, col("k")), "t")
    store.buildKeyIndex(spark, "t", "k")
    assert(store.lookupFiles(spark, "t", "k", Seq(1L)).isDefined)
    // new commit (upsert) → the v1 index must refuse to serve
    store.upsert(spark, "t", Seq((1L, "a2")).toDF("k", "v"), Seq("k"))
    assert(store.lookupFiles(spark, "t", "k", Seq(1L)).isEmpty)
    // fallback still answers correctly (fresh value, not the indexed one)
    val got = store.lookup(spark, "t", "k", Seq(1L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "a2")))
    // rebuild re-arms the index at v2
    store.buildKeyIndex(spark, "t", "k")
    assert(store.lookupFiles(spark, "t", "k", Seq(1L)).isDefined)
    val got2 = store.lookup(spark, "t", "k", Seq(1L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2 === Set((1L, "a2")))
  }

  test("newFileRows returns only rows of files added since the base version") {
    val store = freshStore()
    val base = spark.range(100).select(col("id").as("k"), (col("id") * 10).as("v"))
    store.write(base.repartitionByRange(4, col("k")), "t")          // v1: 4 files
    store.upsert(spark, "t", Seq((7L, 777L)).toDF("k", "v"), Seq("k"))
    val churn = store.newFileRows(spark, "t", 1L)
    // exactly the rewritten file's rows (one 25-key range), not the table
    assert(churn.count() === 25L, s"expected one file's rows, got ${churn.count()}")
    assert(churn.filter(col("k") === 7L).select("v").collect()(0).getLong(0) === 777L)
    // nothing new since the live version → empty
    assert(store.newFileRows(spark, "t", store.currentVersion("t").get).count() === 0L)
  }

  test("index refresh is incremental: only files new to the version are scanned") {
    val store = freshStore()
    val base = spark.range(100).select(col("id").as("k"), (col("id") * 10).as("v"))
    store.write(base.repartitionByRange(4, col("k")), "t")          // v1: 4 files
    val (_, scanned1) = store.buildKeyIndexDetailed(spark, "t", "k")
    assert(scanned1 === 4)
    // upsert touching ONE file's key range → v2 shares 3 files
    store.upsert(spark, "t", Seq((7L, 777L)).toDF("k", "v"), Seq("k"))
    val (v2, scanned2) = store.buildKeyIndexDetailed(spark, "t", "k")
    assert(v2 === 2L)
    assert(scanned2 === 1, s"refresh scanned $scanned2 files, expected 1")
    // the incrementally-built index serves correctly: updated + untouched keys
    val hit = store.lookup(spark, "t", "k", Seq(7L, 80L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hit === Set((7L, 777L), (80L, 800L)))
    // and still pins single-file probes
    assert(store.lookupFiles(spark, "t", "k", Seq(80L)).get.size === 1)
    // re-invocation on the same version is a no-op
    assert(store.buildKeyIndexDetailed(spark, "t", "k")._2 === 0)
  }

  test("vacuum drops key-index snapshots of vacuumed versions") {
    val root = java.nio.file.Files.createTempDirectory("graft-versions").toString
    val store = new VersionedStore(root)
    import spark.implicits._
    store.write(Seq((1L, "a")).toDF("k", "v"), "t")                 // v1
    store.buildKeyIndex(spark, "t", "k")
    store.write(Seq((1L, "b")).toDF("k", "v"), "t")                 // v2
    store.buildKeyIndex(spark, "t", "k")
    store.vacuumVersions("t", keep = 1)
    val idx = new java.io.File(s"$root/t/_index_k")
    val dirs = idx.listFiles.filter(_.isDirectory).map(_.getName).toSet
    assert(dirs === Set("v2"), s"stale index snapshots not collected: $dirs")
    // the surviving index still serves
    assert(store.lookupFiles(spark, "t", "k", Seq(1L)).isDefined)
  }

  // ---- optimistic concurrency ------------------------------------------

  /** Base table with TWO range-clustered data files (keys 0..99 and
    * 100..199) so per-file key stats make disjoint-writer rebases
    * provable. */
  private def twoFileBase(store: VersionedStore): Unit = {
    val base = spark.range(0, 200)
      .select($"id".as("k"), concat(lit("v"), $"id").as("v"))
      .repartitionByRange(2, $"k")
    assert(store.write(base, "t") === 1L)
    assert(store.manifest("t", 1L)._2.size === 2, "base must span two files")
  }

  private def asMap(store: VersionedStore) =
    store.read(spark, "t").collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("interleaved writers on disjoint files: loser rebases, no lost update") {
    val store = freshStore()
    twoFileBase(store)
    // writer B commits in the exact window between writer A staging its
    // merge and A's first commit attempt — A MUST lose v2, then rebase
    store.beforeCommitHook = () => {
      store.beforeCommitHook = () => ()
      val vB = store.upsert(spark, "t",
        Seq((150L, "B150"), (151L, "B151")).toDF("k", "v"), Seq("k"))
      assert(vB === 2L)
    }
    val vA = store.upsert(spark, "t",
      Seq((10L, "A10"), (11L, "A11")).toDF("k", "v"), Seq("k"))
    assert(vA === 3L, "loser must rebase onto the winner's head")
    assert(store.history("t") === Seq(1L, 2L, 3L))
    val now = asMap(store)
    assert(now(10L) === "A10" && now(11L) === "A11", "writer A's update lost")
    assert(now(150L) === "B150" && now(151L) === "B151", "writer B's update lost")
    assert(now(0L) === "v0" && now(199L) === "v199" && now.size === 200)
  }

  test("interleaved writers on the SAME file: loser refuses, no silent clobber") {
    val root = java.nio.file.Files.createTempDirectory("graft-versions").toString
    val store = new VersionedStore(root)
    twoFileBase(store)
    store.beforeCommitHook = () => {
      store.beforeCommitHook = () => ()
      store.upsert(spark, "t", Seq((20L, "B20")).toDF("k", "v"), Seq("k"))
      ()
    }
    // both writers rewrite the keys-0..99 file: write-write conflict
    intercept[java.util.ConcurrentModificationException] {
      store.upsert(spark, "t", Seq((10L, "A10")).toDF("k", "v"), Seq("k"))
    }
    val now = asMap(store)
    assert(now(20L) === "B20" && now(10L) === "v10",
      "winner's commit must stand; loser must leave no trace")
    // the refused writer's staged files were cleaned up — nothing on
    // disk outside the committed manifests
    val referenced = store.history("t")
      .flatMap(v => store.manifest("t", v)._2).toSet
    val onDisk = new java.io.File(s"$root/t/files").listFiles.map(_.getName).toSet
    assert(onDisk === referenced, "refused commit leaked staged files")
  }

  test("concurrent overlapping inserts conflict (no duplicate keys ever)") {
    val store = freshStore()
    twoFileBase(store)
    store.beforeCommitHook = () => {
      store.beforeCommitHook = () => ()
      store.upsert(spark, "t", Seq((205L, "B205")).toDF("k", "v"), Seq("k"))
      ()
    }
    // both writers INSERT key ranges that overlap (205 in both): letting
    // the loser rebase would commit key 205 twice
    intercept[java.util.ConcurrentModificationException] {
      store.upsert(spark, "t",
        Seq((205L, "A205"), (206L, "A206")).toDF("k", "v"), Seq("k"))
    }
    val now = asMap(store)
    assert(now(205L) === "B205" && !now.contains(206L))
    assert(now.size === 201)
  }

  test("delete racing an upsert on disjoint files: the upsert rebases, both land") {
    val store = freshStore()
    twoFileBase(store)
    // B DELETEs from the high-key file in the window between A staging
    // its low-key merge and A's commit — A must rebase onto B's head,
    // carrying B's survivor file, and commit as v3
    store.beforeCommitHook = () => {
      store.beforeCommitHook = () => ()
      val vB = store.delete(spark, "t", $"k" >= 150L && $"k" <= 159L)
      assert(vB === 2L)
    }
    val vA = store.upsert(spark, "t", Seq((10L, "A10")).toDF("k", "v"), Seq("k"))
    assert(vA === 3L, "upsert must rebase onto the delete's head")
    assert(store.history("t") === Seq(1L, 2L, 3L))
    val now = asMap(store)
    assert(now(10L) === "A10", "writer A's update lost")
    assert((150L to 159L).forall(k => !now.contains(k)), "B's delete lost")
    assert(now.size === 190)
  }

  test("delete racing an upsert on the SAME file: the upsert refuses") {
    val store = freshStore()
    twoFileBase(store)
    store.beforeCommitHook = () => {
      store.beforeCommitHook = () => ()
      store.delete(spark, "t", $"k" === 10L)
      ()
    }
    // A merges key 11 — a different KEY but the same keys-0..99 FILE the
    // delete rewrote: file-granularity write-write conflict (Delta
    // semantics), the loser must refuse rather than resurrect key 10
    intercept[java.util.ConcurrentModificationException] {
      store.upsert(spark, "t", Seq((11L, "A11")).toDF("k", "v"), Seq("k"))
    }
    val now = asMap(store)
    assert(!now.contains(10L), "the delete must stand")
    assert(now(11L) === "v11", "the refused upsert must leave no trace")
  }

  test("two genuinely parallel writers: both upserts land exactly once") {
    val store = freshStore()
    twoFileBase(store)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(k: Long, v: String): Thread = {
      val t = new Thread(() => {
        try {
          barrier.await()
          store.upsert(spark, "t", Seq((k, v)).toDF("k", "v"), Seq("k"))
          ()
        } catch { case e: Throwable => errs.add(e); () }
      })
      t.start(); t
    }
    // disjoint key ranges in different files: neither may be lost and
    // neither may refuse, whatever the interleave
    val ts = Seq(writer(10L, "A10"), writer(150L, "B150"))
    ts.foreach(_.join(120000))
    assert(errs.isEmpty, s"writer failed: ${Option(errs.peek()).map(_.toString)}")
    assert(store.history("t") === Seq(1L, 2L, 3L))
    val now = asMap(store)
    assert(now(10L) === "A10" && now(150L) === "B150" && now.size === 200)
  }

  test("replayed batch racing itself commits exactly once") {
    val store = freshStore()
    twoFileBase(store)
    // the same (writer, batch) delivered twice concurrently — e.g. a
    // foreachBatch restart — must apply once: the replay re-check runs
    // on every rebase, not only upfront
    store.beforeCommitHook = () => {
      store.beforeCommitHook = () => ()
      store.upsertBatch(spark, "t", Seq((10L, "X10")).toDF("k", "v"),
        Seq("k"), "w1", 7L)
      ()
    }
    val v = store.upsertBatch(spark, "t", Seq((10L, "X10")).toDF("k", "v"),
      Seq("k"), "w1", 7L)
    assert(v === 2L, "replay must return the winning commit, not re-apply")
    assert(store.history("t") === Seq(1L, 2L))
    assert(asMap(store)(10L) === "X10")
    assert(store.txns("t", 2L) === Map("w1" -> 7L))
  }

  test("shallowClone shares inodes (zero data copy) and reads the source head") {
    val store = freshStore()
    store.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .repartition(2, col("k")), "t")
    store.shallowClone("t", "t2")
    assert(store.read(spark, "t2").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === store.read(spark, "t").collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    // zero-copy: every clone file is the SAME inode as the source's
    val root = storeRoot(store)
    def fileKeys(tbl: String): Set[Any] = {
      val d = new java.io.File(s"$root/$tbl/files")
      d.listFiles.filter(_.getName.endsWith(".parquet")).map(f =>
        java.nio.file.Files.readAttributes(f.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()).toSet
    }
    assert(fileKeys("t2").subsetOf(fileKeys("t")))
    assert(fileKeys("t2").nonEmpty)
  }

  test("clone and source evolve independently from the shared snapshot") {
    val store = freshStore()
    store.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t")
    store.shallowClone("t", "t2")
    store.upsert(spark, "t2", Seq((2L, "B2"), (9L, "z")).toDF("k", "v"), Seq("k"))
    store.upsert(spark, "t", Seq((1L, "A1")).toDF("k", "v"), Seq("k"))
    val src = store.read(spark, "t").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val cl = store.read(spark, "t2").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(src === Set((1L, "A1"), (2L, "b")))
    assert(cl === Set((1L, "a"), (2L, "B2"), (9L, "z")))
  }

  test("vacuuming the source never breaks the clone: link counts keep shared files alive") {
    val store = freshStore()
    store.write(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "t")
    store.shallowClone("t", "t2")
    // source rewrites everything twice, then drops all old versions
    store.write(Seq((5L, "x")).toDF("k", "v"), "t")
    store.write(Seq((6L, "y")).toDF("k", "v"), "t")
    store.vacuumVersions("t", keep = 1)
    assert(store.history("t") === Seq(3L))
    val cl = store.read(spark, "t2").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cl === Set((1L, "a"), (2L, "b")), "clone must survive source vacuum")
  }

  test("shallowClone carries CHECK constraints") {
    val store = freshStore()
    store.write(Seq((1L, 5L)).toDF("k", "n"), "t")
    store.addCheck(spark, "t", "pos", "n > 0")
    store.shallowClone("t", "t2")
    intercept[IllegalStateException] {
      store.upsert(spark, "t2", Seq((2L, -1L)).toDF("k", "n"), Seq("k"))
    }
  }

  test("TIMESTAMP AS OF resolves the newest snapshot at or before the instant") {
    val store = freshStore()
    store.write(Seq((1L, "a")).toDF("k", "v"), "t")
    store.write(Seq((1L, "b")).toDF("k", "v"), "t")
    store.write(Seq((1L, "c")).toDF("k", "v"), "t")
    // pin deterministic commit instants through the manifest mtimes
    val root = storeRoot(store)
    Seq(1L -> 1000L, 2L -> 2000L, 3L -> 3000L).foreach { case (v, ts) =>
      java.nio.file.Files.setLastModifiedTime(
        new java.io.File(s"$root/t/v$v.manifest").toPath,
        java.nio.file.attribute.FileTime.fromMillis(ts))
    }
    def valAt(ts: Long): String =
      store.readAsOf(spark, "t", ts).collect().head.getString(1)
    assert(valAt(1000L) === "a")  // exactly at the first commit
    assert(valAt(1999L) === "a")  // between commits -> the older one
    assert(valAt(2500L) === "b")
    assert(valAt(999999999L) === "c")  // far future -> head
    intercept[IllegalArgumentException] { store.readAsOf(spark, "t", 999L) }
    assert(store.commitTimes("t").map(_._1) === Seq(1L, 2L, 3L))
  }

  /** The store root is private; recover it from a staged table dir. */
  private def storeRoot(store: VersionedStore): String = {
    val f = store.getClass.getDeclaredField("root")
    f.setAccessible(true)
    f.get(store).asInstanceOf[String]
  }

  // ---- deletion vectors (merge-on-read DELETE) -------------------------

  test("deleteMor marks rows dead without rewriting any data file") {
    val store = freshStore()
    twoFileBase(store)
    val before = store.manifestWithStats("t", 1L)._2
    val v2 = store.deleteMor(spark, "t", $"k" >= 50L && $"k" <= 149L)
    assert(v2 === 2L)
    val after = store.manifestWithStats("t", 2L)._2
    assert(after.map(_.file) === before.map(_.file),
      "MOR delete must not add/remove/rename data files")
    assert(after.forall(_.dvs.nonEmpty),
      "both files held matches, both must carry the deletion vector")
    assert(after.flatMap(_.dvs).distinct.size === 1,
      "one delete commit writes ONE vector, shared by reference")
    val now = asMap(store)
    assert(now.keySet === ((0L to 49L) ++ (150L to 199L)).toSet)
    // snapshot isolation: time travel still sees the pre-delete rows
    assert(store.readVersion(spark, "t", 1L).count() === 200L)
  }

  test("deleteMor keeps NULL-predicate rows (SQL DELETE semantics)") {
    val store = freshStore()
    store.write(Seq((1L, "x"), (2L, null), (3L, "x"))
      .toDF("k", "v").coalesce(1), "t")
    store.deleteMor(spark, "t", $"v" === "x")
    assert(asMap(store).keySet === Set(2L))
  }

  test("sequential deleteMors union: the dead set grows monotonically") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" === 10L)
    store.deleteMor(spark, "t", $"k" === 11L)
    val entries = store.manifestWithStats("t", 3L)._2
    val lowFile = entries.filter(_.dvs.nonEmpty)
    assert(lowFile.exists(_.dvs.size === 2),
      "the low-key file must carry both commits' vectors")
    val now = asMap(store)
    assert(!now.contains(10L) && !now.contains(11L) && now.size === 198)
  }

  test("upsert reads through deletion vectors and its rewrite retires them") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" === 10L)
    // merges key 11 -> rewrites the low-key file; the rewrite must NOT
    // resurrect dead key 10, and the fresh file carries no dv debt
    store.upsert(spark, "t", Seq((11L, "A11")).toDF("k", "v"), Seq("k"))
    val now = asMap(store)
    assert(!now.contains(10L), "rewrite resurrected a MOR-deleted row")
    assert(now(11L) === "A11")
    assert(now.size === 199)
    assert(store.manifestWithStats("t", 3L)._2.forall(_.dvs.isEmpty),
      "the rewritten file must drop its dv association")
  }

  test("a key whose only rows are dv-dead is no longer an upsert hit") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" <= 99L)          // low file fully dead
    // merging key 10 now INSERTS (no live match) — the low-key file must
    // not be rewritten on account of its dead rows
    store.upsert(spark, "t", Seq((10L, "NEW")).toDF("k", "v"), Seq("k"))
    val now = asMap(store)
    assert(now(10L) === "NEW")
    assert(now.size === 101)
    assert(now.keySet.filter(_ <= 99L) === Set(10L))
  }

  test("optimize compacts through deletion vectors and retires the debt") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" % 2L === 0L)
    val v3 = store.optimize(spark, "t", targetFiles = 1)
    val entries = store.manifestWithStats("t", v3)._2
    assert(entries.forall(_.dvs.isEmpty), "compaction must clear all dvs")
    assert(asMap(store).keySet === (1L to 199L by 2).toSet)
    // once no retained manifest references the dv, vacuum reclaims it
    val root = storeRoot(store)
    store.vacuumVersions("t", keep = 1)
    val files = new java.io.File(s"$root/t/files").listFiles.map(_.getName)
    assert(!files.exists(_.startsWith("dv-")), "orphaned dv must be vacuumed")
  }

  test("vacuum keeps dv files while any retained manifest references them") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" === 10L)
    store.vacuumVersions("t", keep = 1)   // live version IS the dv version
    val root = storeRoot(store)
    val files = new java.io.File(s"$root/t/files").listFiles.map(_.getName)
    assert(files.exists(_.startsWith("dv-")), "live dv swept by vacuum")
    assert(!asMap(store).contains(10L))
  }

  test("file-diff CDF sees MOR deletes (file name unchanged, rows changed)") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" === 10L || $"k" === 150L)
    val ch = store.changes(spark, "t", 1L, 2L, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ch === Map(10L -> "delete", 150L -> "delete"))
  }

  test("shallowClone links deletion vectors with the data files") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" === 10L)
    store.shallowClone("t", "t2")
    assert(store.read(spark, "t2").count() === 199L)
    // and the clone diverges independently: COW delete on the clone
    // leaves the source's vector intact
    store.delete(spark, "t2", $"k" <= 99L)
    assert(store.read(spark, "t2").count() === 100L)
    assert(store.read(spark, "t").count() === 199L)
  }

  test("upsert racing a deleteMor on the same file refuses (no resurrection)") {
    val store = freshStore()
    twoFileBase(store)
    store.beforeCommitHook = () => {
      store.beforeCommitHook = () => ()
      store.deleteMor(spark, "t", $"k" === 10L)
      ()
    }
    // A merges key 11 — same low-key FILE the MOR delete marked: A's
    // staged rewrite materialized key 10 alive, so committing it would
    // silently undo the delete; it must refuse instead
    intercept[java.util.ConcurrentModificationException] {
      store.upsert(spark, "t", Seq((11L, "A11")).toDF("k", "v"), Seq("k"))
    }
    val now = asMap(store)
    assert(!now.contains(10L), "the MOR delete must stand")
    assert(now(11L) === "v11", "the refused upsert must leave no trace")
  }

  test("optimizeIncremental compacts only small + dv-debt files; clean big files carry over") {
    val store = freshStore()
    // one big clean file + three tiny upsert-appended files
    val big = spark.range(0, 5000)
      .select($"id".as("k"), concat(lit("v"), $"id").as("v")).coalesce(1)
    store.write(big, "t")
    (1 to 3).foreach { i =>
      store.upsert(spark, "t",
        Seq((5000L + i, s"tail$i")).toDF("k", "v"), Seq("k"))
    }
    val before = store.manifestWithStats("t", 4L)._2
    val bigFile = before.maxBy(e => new java.io.File(
      s"${storeRoot(store)}/t/files/${e.file}").length).file
    val v5 = store.optimizeIncremental(spark, "t", minBytes = 10000L)
    val after = store.manifestWithStats("t", v5)._2
    assert(after.exists(_.file == bigFile), "right-sized file must carry over")
    assert(after.size === 2, "three tails must compact into one file")
    assert(store.read(spark, "t").count() === 5003L)
    // nothing left to do -> no new version
    assert(store.optimizeIncremental(spark, "t", minBytes = 10000L) === v5)
    // dv debt makes even the big file eligible, and compaction retires it
    store.deleteMor(spark, "t", $"k" === 0L)
    val v7 = store.optimizeIncremental(spark, "t", minBytes = 10000L)
    val finalEntries = store.manifestWithStats("t", v7)._2
    assert(finalEntries.forall(_.dvs.isEmpty), "compaction must retire dv debt")
    assert(store.read(spark, "t").count() === 5002L)
  }

  test("readWhere prunes files by manifest stats and stays exact") {
    val store = freshStore()
    twoFileBase(store)   // keys 0..99 / 100..199 in two range files
    // range predicate: only the low file may match
    val (df1, scanned1, total1) =
      store.readWhereDetailed(spark, "t", $"k" < 50L)
    assert(total1 === 2 && scanned1 === 1, "high-key file must be skipped")
    assert(df1.count() === 50L)
    // equality + IN + OR shapes
    val (df2, scanned2, _) =
      store.readWhereDetailed(spark, "t", $"k" === 150L)
    assert(scanned2 === 1 && df2.count() === 1L)
    val (df3, scanned3, _) =
      store.readWhereDetailed(spark, "t", $"k".isin(10L, 20L))
    assert(scanned3 === 1 && df3.count() === 2L)
    val (df4, scanned4, _) =
      store.readWhereDetailed(spark, "t", $"k" === 10L || $"k" === 150L)
    assert(scanned4 === 2 && df4.count() === 2L)
    // non-statable (string) predicate: no pruning, still exact
    val (df5, scanned5, _) =
      store.readWhereDetailed(spark, "t", $"v" === "v7")
    assert(scanned5 === 2 && df5.count() === 1L)
    // result equivalence with the unpruned filter for a mixed predicate
    val cond = ($"k" >= 40L && $"k" <= 60L) || $"v" === "v150"
    val a = store.readWhere(spark, "t", cond).collect().map(_.getLong(0)).sorted
    val b = store.read(spark, "t").filter(cond).collect().map(_.getLong(0)).sorted
    assert(a.toSeq === b.toSeq)
    // conservatism: a CAST changes comparison semantics -> un-prunable.
    // CAST(k/100 AS INT) = 1 matches k in [100,199]; pruning on raw
    // k-stats vs 1 would wrongly drop the high file
    val (df6, scanned6, _) = store.readWhereDetailed(spark, "t",
      ($"k" / 100L).cast("int") === 1)
    assert(scanned6 === 2 && df6.count() === 100L)
    // conservatism: IN with a non-literal element is un-prunable (the
    // column element k===k matches everywhere)
    val (df7, scanned7, _) = store.readWhereDetailed(spark, "t",
      $"k".isin(lit(5L), $"k"))
    assert(scanned7 === 2 && df7.count() === 200L)
  }

  test("readWhere applies deletion vectors on the pruned slice") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" === 10L)
    val (df, scanned, _) = store.readWhereDetailed(spark, "t", $"k" < 50L)
    assert(scanned === 1)
    assert(df.count() === 49L, "dv-dead row must not resurface in a pruned read")
  }

  test("countMeta answers COUNT(*) from the manifest, through upserts and MOR deletes") {
    val store = freshStore()
    twoFileBase(store)
    assert(store.countMeta(spark, "t") === Some(200L))
    store.upsert(spark, "t", Seq((500L, "new"), (10L, "upd")).toDF("k", "v"), Seq("k"))
    assert(store.countMeta(spark, "t") === Some(201L))
    store.deleteMor(spark, "t", $"k" < 5L)
    assert(store.countMeta(spark, "t") === Some(196L))
    // a second vector on the same file stays disjoint (positions are
    // computed on the live view) - the sum subtracts exactly
    store.deleteMor(spark, "t", $"k" < 8L)
    assert(store.countMeta(spark, "t") === Some(193L))
    assert(store.read(spark, "t").count() === 193L)
    // COW delete + compaction keep the metadata count exact
    store.delete(spark, "t", $"k" >= 190L)
    store.optimize(spark, "t")
    assert(store.countMeta(spark, "t") === Some(store.read(spark, "t").count()))
  }

  test("countMeta stays exact when a rewrite retires a shared dv on one of its files") {
    val store = freshStore()
    twoFileBase(store)
    // ONE vector spanning both files (one dead position in each)
    store.deleteMor(spark, "t", $"k" === 10L || $"k" === 150L)
    assert(store.countMeta(spark, "t") === Some(198L))
    // merge key 11 -> rewrites the low-key file THROUGH the vector and
    // drops its dv association; the vector's low-file position must no
    // longer be subtracted (the rewritten file already excludes it)
    store.upsert(spark, "t", Seq((11L, "A11")).toDF("k", "v"), Seq("k"))
    assert(store.read(spark, "t").count() === 198L)
    assert(store.countMeta(spark, "t") === Some(198L),
      "dv position of a retired file must not be subtracted")
  }

  /** `body`'s result and the Spark jobs it started, counted on its own
    * job group. */
  private def withJobCount[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"vstore-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    org.apache.spark.graftspec.Bus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "VersionedStoreSpec job count")
    try {
      val out = body
      org.apache.spark.graftspec.Bus.drain(sc)
      (out, jobs.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("a head read after deleteMor runs one Spark job, also on a cold cache") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" >= 50L && $"k" <= 149L)
    val (rows, jobs) = withJobCount(store.read(spark, "t").collect())
    assert(rows.length === 100)
    assert(jobs === 1, "the vector must be a scan filter, not a second job")
    // a fresh instance reads the vector file on the driver, not in a job
    val cold = new VersionedStore(storeRoot(store))
    val (coldRows, coldJobs) = withJobCount(cold.read(spark, "t").collect())
    assert(coldRows.map(_.getLong(0)).toSet === ((0L to 49L) ++ (150L to 199L)).toSet)
    assert(coldJobs === 1)
  }

  test("deleteMor runs one Spark job: the hits' collect") {
    val store = freshStore()
    twoFileBase(store)
    // the driver writes the vector file from the collected hits, so no
    // shuffle into one task and no write job follow the hit scan
    val (v, jobs) = withJobCount(store.deleteMor(spark, "t", $"k" >= 50L && $"k" <= 149L))
    assert(v === 2L)
    assert(jobs === 1)
    assert(store.read(spark, "t").count() === 100L)
    // the vector file parses back to the same dead rows on a cold instance
    val cold = new VersionedStore(storeRoot(store))
    assert(cold.read(spark, "t").collect().map(_.getLong(0)).toSet ===
      ((0L to 49L) ++ (150L to 199L)).toSet)
    // no hit: no vector file and no commit
    val (same, missJobs) = withJobCount(store.deleteMor(spark, "t", $"k" === 100000L))
    assert(same === 2L && missJobs === 1)
  }

  test("the deletion-vector read plans no broadcast and no anti-join") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" === 10L)
    val df = store.read(spark, "t")
    assert(df.collect().length === 199)
    val plan = df.queryExecution.executedPlan
    assert(Plans.collect(plan) { case b: BroadcastExchangeLike => b }.isEmpty, plan.toString)
    assert(Plans.collect(plan) { case j: BaseJoinExec if j.joinType == LeftAnti => j }.isEmpty,
      plan.toString)
    assert(plan.toString.contains("row_live"), plan.toString)
  }

  test("countMeta runs no Spark job through deletion vectors") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" < 5L)
    store.deleteMor(spark, "t", $"k" === 150L)
    val (n, jobs) = withJobCount(store.countMeta(spark, "t"))
    assert(n === Some(194L))
    assert(jobs === 0)
    // a cold instance reads the vectors on the driver
    assert(withJobCount(new VersionedStore(storeRoot(store)).countMeta(spark, "t")) ===
      (Some(194L), 0))
  }

  test("vacuum evicts the cached vectors of the files it deletes") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" === 10L)
    val dv1 = store.manifestWithStats("t", 2L)._2.flatMap(_.dvs).distinct
    assert(store.cachedVectors("t") === dv1, "deleteMor seeds the vector cache")
    store.optimize(spark, "t")                       // retires dv1
    store.deleteMor(spark, "t", $"k" === 11L)
    val dv2 = store.manifestWithStats("t", 4L)._2.flatMap(_.dvs).distinct
    assert(store.cachedVectors("t") === (dv1 ++ dv2).sorted)
    store.vacuumVersions("t", keep = 1)
    val onDisk = new java.io.File(s"${storeRoot(store)}/t/files").listFiles.map(_.getName)
    assert(!onDisk.contains(dv1.head) && onDisk.contains(dv2.head))
    assert(store.cachedVectors("t") === dv2, "a deleted vector stayed cached")
    assert(store.read(spark, "t").count() === 198L)
  }

  test("concurrent MOR deletes on the same file union their vectors (both stand)") {
    val store = freshStore()
    twoFileBase(store)
    // B's MOR delete commits in the window between A staging its vector
    // and A's commit — A must lose v2, rebase onto B's entry (which
    // already carries B's vector), and commit the UNION as v3
    store.beforeCommitHook = () => {
      store.beforeCommitHook = () => ()
      val vB = store.deleteMor(spark, "t", $"k" === 11L)
      assert(vB === 2L)
    }
    val vA = store.deleteMor(spark, "t", $"k" === 10L)
    assert(vA === 3L, "A must rebase onto B's head")
    val entries = store.manifestWithStats("t", 3L)._2
    assert(entries.exists(_.dvs.size === 2),
      "the shared file must carry BOTH writers' vectors")
    val now = asMap(store)
    assert(!now.contains(10L) && !now.contains(11L) && now.size === 198)
    assert(store.countMeta(spark, "t") === Some(198L))
  }

  /** `files/` holds only names some retained manifest references: a
    * refused or restaged commit left none of its staged files behind. */
  private def assertNoStagedLeftovers(store: VersionedStore): Unit = {
    val referenced = store.history("t").flatMap { v =>
      val es = store.manifestWithStats("t", v)._2
      es.map(_.file) ++ es.flatMap(_.dvs)
    }.toSet
    val onDisk = new java.io.File(s"${storeRoot(store)}/t/files")
      .listFiles.map(_.getName).toSet
    assert(onDisk -- referenced === Set.empty, "staged files leaked")
  }

  /** Make the next writer lose its first commit race to `winner`. */
  private def raceWith(store: VersionedStore)(winner: => Long): Unit =
    store.beforeCommitHook = () => {
      store.beforeCommitHook = () => ()
      assert(winner === 2L)
    }

  test("write racing a commit rebases blindly onto the new head") {
    val store = freshStore()
    twoFileBase(store)
    raceWith(store)(store.upsert(spark, "t", Seq((10L, "B10")).toDF("k", "v"), Seq("k")))
    assert(store.write(Seq((7L, "W7")).toDF("k", "v"), "t") === 3L)
    assert(asMap(store) === Map(7L -> "W7"))
    assert(store.readVersion(spark, "t", 2L).filter($"k" === 10L)
      .collect().map(_.getString(1)).toSeq === Seq("B10"), "the winner's commit stands")
    assertNoStagedLeftovers(store)
  }

  test("COW delete racing an upsert on disjoint files rebases; both land") {
    val store = freshStore()
    twoFileBase(store)
    raceWith(store)(store.upsert(spark, "t", Seq((150L, "B150")).toDF("k", "v"), Seq("k")))
    assert(store.delete(spark, "t", $"k" >= 5L && $"k" <= 7L) === 3L)
    val now = asMap(store)
    assert(now(150L) === "B150", "the upsert's update lost")
    assert((5L to 7L).forall(k => !now.contains(k)) && now.size === 197)
    assertNoStagedLeftovers(store)
  }

  test("COW delete racing an upsert on the SAME file refuses and leaves no trace") {
    val store = freshStore()
    twoFileBase(store)
    raceWith(store)(store.upsert(spark, "t", Seq((20L, "B20")).toDF("k", "v"), Seq("k")))
    intercept[java.util.ConcurrentModificationException] {
      store.delete(spark, "t", $"k" === 10L)
    }
    assert(store.history("t") === Seq(1L, 2L))
    val now = asMap(store)
    assert(now(20L) === "B20" && now(10L) === "v10" && now.size === 200)
    assertNoStagedLeftovers(store)
  }

  test("optimize that loses the race restarts from the new head, no rows lost") {
    val store = freshStore()
    twoFileBase(store)
    raceWith(store)(store.upsert(spark, "t",
      Seq((150L, "B150"), (300L, "B300")).toDF("k", "v"), Seq("k")))
    assert(store.optimize(spark, "t", targetFiles = 1) === 3L)
    assert(store.manifest("t", 3L)._2.size === 1)
    val now = asMap(store)
    assert(now(150L) === "B150" && now(300L) === "B300" && now.size === 201)
    assertNoStagedLeftovers(store)
  }

  test("optimizeIncremental that loses the race restarts from the new head, no rows lost") {
    val store = freshStore()
    twoFileBase(store)
    raceWith(store)(store.upsert(spark, "t",
      Seq((10L, "B10"), (300L, "B300")).toDF("k", "v"), Seq("k")))
    // every file is below the threshold: the whole head compacts
    assert(store.optimizeIncremental(spark, "t", minBytes = 1L << 30) === 3L)
    assert(store.manifest("t", 3L)._2.size === 1)
    val now = asMap(store)
    assert(now(10L) === "B10" && now(300L) === "B300" && now.size === 201)
    assertNoStagedLeftovers(store)
  }

  test("restore racing a commit lands on the newest head") {
    val store = freshStore()
    twoFileBase(store)
    raceWith(store)(store.upsert(spark, "t", Seq((150L, "B150")).toDF("k", "v"), Seq("k")))
    assert(store.restore("t", 1L) === 3L)
    assert(store.manifest("t", 3L)._2.toSet === store.manifest("t", 1L)._2.toSet)
    assert(asMap(store)(150L) === "v150", "the rollback supersedes the winner")
    assert(store.readVersion(spark, "t", 2L).filter($"k" === 150L)
      .collect().map(_.getString(1)).toSeq === Seq("B150"), "history intact")
  }

  test("predicate pushdown survives the deletion-vector anti-join read") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" === 10L)
    val df = store.read(spark, "t").filter($"k" < 50L)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the filter must reach the parquet scan UNDER the anti-join, not
    // evaluate post-join - at 100 TB that is the difference between
    // scanning the slice and scanning the table
    assert(plan.contains("PushedFilters: [IsNotNull(k), LessThan(k,50)"),
      plan.take(2000))
  }

  test("point lookup through the key index applies deletion vectors") {
    val store = freshStore()
    twoFileBase(store)
    store.deleteMor(spark, "t", $"k" === 10L)
    store.buildKeyIndex(spark, "t", "k")
    val rows = store.lookup(spark, "t", "k", Seq(10L, 11L)).collect()
    assert(rows.map(_.getLong(0)).toSet === Set(11L),
      "index-served lookup returned a dv-dead row")
  }

  test("freeLocalCheckpoint releases the upsert source's block-store entries") {
    // r9: checkpoint blocks used to linger until GC - across a long
    // session of many upserts that is unbounded block-store residue
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = spark.range(1000).toDF("x").localCheckpoint()
    assert(df.count() === 1000)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "localCheckpoint must register a persisted RDD")
    org.apache.spark.sql.graftx.Internals.freeLocalCheckpoint(df)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(added.forall(id => !after.contains(id)),
      s"checkpoint RDDs $added still registered after free")
  }

  test("manifest stats round-trip a numeric column whose name needs JSON escaping") {
    val root = java.nio.file.Files.createTempDirectory("graft-versions").toString
    val name = "k\"q\\z"  // a double quote and a backslash
    val writer = new VersionedStore(root)
    writer.write(Seq(1L, 5L, 3L).toDF(name), "t")
    val mf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, "t", "v1.manifest")))
    assert(mf.contains(",\"k\\\"q\\\\z\":[\""), s"escaped stats key expected in:\n$mf")
    val reader = new VersionedStore(root)  // cold cache: parses from disk
    val stats = reader.manifestWithStats("t", 1L)._2.map(_.stats)
    assert(stats.nonEmpty && stats.forall(_.contains(name)))
    assert(stats === writer.manifestWithStats("t", 1L)._2.map(_.stats))
    assert(stats.map(_(name)._1.toLong).min === 1L)
    assert(stats.map(_(name)._2.toLong).max === 5L)
    assert(reader.read(spark, "t").filter(col(name) === 5L).count() === 1L)
  }

  test("manifest cache: a committing instance's parsed view is byte-equal " +
      "to a fresh instance's disk parse (r10 populate-on-commit)") {
    val root = java.nio.file.Files.createTempDirectory("graft-versions").toString
    val writer = new VersionedStore(root)
    // stats-bearing entries + a txn watermark + a deletion vector: every
    // manifest feature the cache carries must round-trip render -> parse
    writer.write(Seq((1L, "a\tweird\"chars"), (2L, "b")).toDF("k", "v"), "t")
    writer.upsertBatch(spark, "t", Seq((2L, "B2"), (3L, "c")).toDF("k", "v"),
      Seq("k"), writerId = "w1", batchId = 7L)
    writer.deleteMor(spark, "t", col("k") === 3L)
    val reader = new VersionedStore(root)  // cold cache: parses from disk
    // FileEntry is an inner case class (its == is outer-instance-
    // sensitive), so compare the fields the engine actually consumes
    def view(s: VersionedStore, v: Long) = {
      val (schema, es) = s.manifestWithStats("t", v)
      (schema, es.map(e => (e.file, e.stats, e.dvs)))
    }
    for (v <- writer.history("t")) {
      assert(view(writer, v) === view(reader, v),
        s"cached manifest of v$v diverges from its disk parse")
      assert(writer.txns("t", v) === reader.txns("t", v),
        s"cached txns of v$v diverge from their disk parse")
    }
    assert(writer.txns("t", 2L) === Map("w1" -> 7L))
  }
}
