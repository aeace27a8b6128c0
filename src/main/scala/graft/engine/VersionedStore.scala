package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.roaringbitmap.longlong.Roaring64Bitmap

/** Versioned parquet table store: Delta-style time travel without Delta
  * jars (design per "Delta Lake: High-Performance ACID Table Storage
  * over Cloud Object Stores", VLDB 2020 — PAPERS.md §3; the reference
  * runs on Delta, so version history / `VERSION AS OF` reads are part of
  * its operational surface).
  *
  * Layout: `root/table/files/` holds immutable, uniquely-named parquet
  * data files; `root/table/v{N}.manifest` is snapshot N. Its line 1 is
  * the snapshot's schema JSON, then come `#txn`, writer, batch-id header
  * lines (tab-separated), then one line per data file: the file name, a
  * tab and its per-column stats JSON, and — when deletion vectors are
  * attached — a tab and a comma-separated list of deletion-vector file
  * names (older manifests may lack either field). Reads drop the rows a
  * file's own vectors list as they scan the file, with no join (see
  * [[readEntries]]). The head is the highest committed manifest
  * ([[currentVersion]]). Writers stage data files and the manifest
  * fully, then commit by linking the manifest into place — readers of
  * version K never observe a partial write because data files and
  * manifests are immutable after commit.
  *
  * This is the Delta-log file-reuse design, not copy-on-write snapshots:
  * `upsert` rewrites ONLY the data files that contain a matched key
  * (found by a column-pruned key scan + left-semi join against the
  * source keys — one shuffle, file list collected is #files-sized, the
  * same driver-side footprint as a Delta log replay); every untouched
  * file is SHARED by reference between v{N} and v{N+1}. At 100 TB, an
  * upsert touching 0.1% of keys rewrites ~0.1% of files, not the table.
  * Schema evolution is manifest-level: old files keep their narrow
  * schema on disk and the parquet reader fills absent columns with NULL
  * under the manifest's (wider) read schema, so time travel stays
  * schema-faithful per version.
  *
  * Concurrency: OPTIMISTIC, like the Delta log's mutual exclusion on the
  * commit entry (VLDB 2020 §3.2). The durability point of version N is
  * the create-if-absent of `v{N}.manifest` (an atomic hard-link from a
  * staged temp — POSIX link(2) fails if the name exists, so exactly one
  * writer can ever own a version number). A writer that loses the race
  * re-reads the new head and re-checks LOGICAL conflicts: if the files it
  * rewrote are untouched and no concurrently-added file can contain its
  * keys (manifest-stats range check), it REBASES — re-targets its
  * already-staged output onto the new head's manifest, no recompute — and
  * retries; otherwise it cleans up its staged files and refuses with
  * `ConcurrentModificationException`. The protocol is written once, in
  * [[commitLoop]]; each writer supplies only its rule for a new head.
  */
class VersionedStore(root: String) {

  private def tdir(name: String) = new java.io.File(s"$root/$name")
  private def filesDir(name: String) = new java.io.File(tdir(name), "files")
  private def manifestFile(name: String, v: Long) =
    new java.io.File(tdir(name), s"v$v.manifest")

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The live version number, or None before the first commit. The head
    * is the MAX COMMITTED MANIFEST: manifest creation is the atomic commit
    * point, so a manifest that exists is durable even if its writer
    * crashed right after linking it. */
  def currentVersion(name: String): Option[Long] = history(name).lastOption

  /** All committed versions, ascending. */
  def history(name: String): Seq[Long] = {
    val d = tdir(name)
    if (!d.exists) Seq.empty
    else d.listFiles.toSeq
      .filter(f => f.isFile && f.getName.matches("v\\d+\\.manifest"))
      .map(_.getName.stripSuffix(".manifest").drop(1).toLong).sorted
  }

  /** Snapshot v's (schema, data-file names) — the manifest contents.
    * File names are relative to the table's `files/` directory. */
  def manifest(name: String, v: Long): (StructType, Seq[String]) = {
    val (schema, entries) = manifestWithStats(name, v)
    (schema, entries.map(_.file))
  }

  /** One manifest data-file entry: name + per-column (min, max) stats
    * rendered as strings (absent for files staged before stats, or for
    * all-NULL columns). The skipping substrate: Delta-log §3's per-file
    * stats, minus the jar.
    *
    * `dvs` names the DELETION-VECTOR files attached to this data file by
    * merge-on-read deletes ([[deleteMor]]) — each a parquet of (data-file
    * name, physical row position) pairs whose positions are dead in the
    * snapshot (Delta deletion vectors / Iceberg v2 position deletes).
    * Immutable like everything else: a later MOR delete appends another
    * dv name; a rewrite of the data file drops the association. The
    * manifest line renders them as a third tab field (older manifests
    * simply have no third field, so the format is backward-compatible). */
  case class FileEntry(file: String, stats: Map[String, (String, String)],
      dvs: Seq[String] = Nil)

  def manifestWithStats(name: String, v: Long): (StructType, Seq[FileEntry]) = {
    val (schema, entries, _) = readManifest(name, v)
    (schema, entries)
  }

  /** Streaming-transaction watermarks recorded in snapshot `v`'s manifest
    * (`#txn` header lines): the highest batch id each named writer has
    * committed — Delta's `txn` action, the exactly-once substrate for
    * foreachBatch sinks. Carried forward by every commit. */
  def txns(name: String, v: Long): Map[String, Long] = readManifest(name, v)._3

  /** A parsed manifest: schema, file entries, `#txn` watermarks. */
  private type Parsed = (StructType, Seq[FileEntry], Map[String, Long])

  /** Parsed-manifest cache, one map per table. Manifests are IMMUTABLE once committed (the
    * hard link is the durability point and nothing ever rewrites one), so
    * a (table, version) entry can never go stale — the only lifecycle
    * event is deletion by vacuum, which the exists() probe below honors
    * (a vacuumed version misses the cache and fails the require exactly
    * like an uncached read). The win is proportional to FILE COUNT: one
    * manifest parse is entries × stats-regex work, and a commit path
    * reads the head manifest ~3× (pruning, txn carry-forward, rebase
    * checks) while changesSince walks 2 per step — at 100 TB with
    * millions of files this is the difference between one log replay per
    * snapshot and one per call (Delta caches its reconstructed snapshot
    * state the same way). */
  private val mfCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.LinkedHashMap[Long, Parsed]]()

  /** Per-table bound on cached parsed manifests. Unbounded, a long-lived
    * streaming writer (thousands of micro-batch commits) leaks memory
    * proportional to versions × file count even after vacuum deletes the
    * manifest files (r10 ADVICE). Past the bound the LEAST RECENTLY USED
    * version evicts — commits, carry-forward reads of v−1 and
    * changesSince walks keep recent versions hot, while a time-travel
    * read of an old version stays cached for its next read instead of
    * evicting itself on insert; a miss just re-parses the immutable
    * manifest file. */
  private[graft] val MfCacheKeepVersions = 64

  /** Run `f` under the lock of `name`'s cache: an access-ordered map, so
    * its eldest entry is the least recently used version. */
  private def withCache[A](name: String)(
      f: java.util.LinkedHashMap[Long, Parsed] => A): A = {
    val c = mfCache.computeIfAbsent(name, _ =>
      new java.util.LinkedHashMap[Long, Parsed](16, 0.75f, true) {
        override protected def removeEldestEntry(
            e: java.util.Map.Entry[Long, Parsed]): Boolean =
          size > MfCacheKeepVersions
      })
    c.synchronized(f(c))
  }

  private def cachePut(name: String, v: Long, parsed: Parsed): Unit =
    withCache(name) { c => c.put(v, parsed); () }

  /** Versions currently held in the parsed-manifest cache for `name`
    * (retention-spec observability). */
  private[graft] def cachedManifestVersions(name: String): Seq[Long] =
    withCache(name)(_.keySet.asScala.toSeq.sorted)

  /** Dead row positions per data file, as one deletion-vector file lists
    * them. */
  private type DeadRows = Map[String, Roaring64Bitmap]

  private val DvCacheKeep = 256

  /** Parsed deletion vectors, keyed by (table, vector file name). Vector
    * files are immutable like manifests, so an entry never goes stale;
    * [[vacuumVersions]] evicts the entries of the files it deletes, and
    * past [[DvCacheKeep]] entries the least recently used one goes (a
    * miss re-reads the file on the driver). */
  private val dvCache =
    new java.util.LinkedHashMap[(String, String), DeadRows](16, 0.75f, true) {
      override protected def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), DeadRows]): Boolean =
        size > DvCacheKeep
    }

  /** Vector files of `name` currently held in the parsed-vector cache
    * (observability for specs, like [[cachedManifestVersions]]). */
  private[graft] def cachedVectors(name: String): Seq[String] =
    dvCache.synchronized(dvCache.keySet.asScala.toSeq.filter(_._1 == name).map(_._2).sorted)

  private def cacheVector(name: String, dv: String, parsed: DeadRows): Unit =
    dvCache.synchronized { dvCache.put((name, dv), parsed); () }

  /** Vector file `dv` of `name`, from the cache or read on the driver: a
    * vector is deleted-rows-sized, so reading it costs no Spark job. */
  private def vector(spark: SparkSession, name: String, dv: String): DeadRows = {
    val cached = dvCache.synchronized(dvCache.get((name, dv)))
    if (cached != null) cached
    else {
      val parsed = readVector(spark, name, dv)
      cacheVector(name, dv, parsed)
      parsed
    }
  }

  private def readVector(spark: SparkSession, name: String, dv: String): DeadRows = {
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(absPath(name, dv)))
      .withConf(spark.sessionState.newHadoopConf()).build()
    try deadRows(Iterator.continually(reader.read()).takeWhile(_ != null)
      .map(g => (g.getString("__file", 0), g.getLong("__pos", 0))))
    finally reader.close()
  }

  /** Per-file dead sets of (data file, position) pairs. */
  private def deadRows(hits: Iterator[(String, Long)]): DeadRows = {
    val sets = scala.collection.mutable.HashMap[String, Roaring64Bitmap]()
    hits.foreach { case (file, pos) =>
      sets.getOrElseUpdate(file, new Roaring64Bitmap).addLong(pos)
    }
    sets.valuesIterator.foreach(_.runOptimize())
    sets.toMap
  }

  /** The dead positions of each of `entries`' files: a row is dead only
    * when a vector attached to its OWN file's entry lists it (a rewrite
    * that retired a shared vector on one file must not kill rows of the
    * rewritten file). Files without dead rows are absent. */
  private def deadSets(spark: SparkSession, name: String,
      entries: Seq[FileEntry]): DeadRows =
    entries.flatMap { e =>
      e.dvs.flatMap(vector(spark, name, _).get(e.file))
        .reduceOption(Roaring64Bitmap.or).map(e.file -> _)
    }.toMap

  private def readManifest(name: String, v: Long): Parsed = {
    val mf = manifestFile(name, v)
    require(mf.exists, s"$name has no version $v (history: ${history(name)})")
    val cached = withCache(name)(_.get(v))
    if (cached != null) return cached
    val lines = java.nio.file.Files.readAllLines(mf.toPath).asScala.toSeq
    val entries = lines.tail.filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
      line.split("\t", 3) match {
        case Array(f) => FileEntry(f, Map.empty)
        case Array(f, json) => FileEntry(f, parseStats(json))
        case Array(f, json, dvs) =>
          FileEntry(f, parseStats(json), dvs.split(",").toSeq.filter(_.nonEmpty))
      }
    }
    val txns = lines.filter(_.startsWith("#txn\t")).map { l =>
      val Array(_, app, id) = l.split("\t", 3)
      app -> id.toLong
    }.toMap
    val parsed = (DataType.fromJson(lines.head).asInstanceOf[StructType], entries, txns)
    cachePut(name, v, parsed)
    parsed
  }

  // ---- per-file stats: render / parse / prune ---------------------------

  /** Stats JSON is `{"col":["min","max"],...}`, keys sorted, values the
    * stat strings (numeric rendering or raw string). */
  private val Json = new com.fasterxml.jackson.databind.ObjectMapper

  private def renderStats(stats: Map[String, (String, String)]): String = {
    val sorted = new java.util.TreeMap[String, java.util.List[String]]
    stats.foreach { case (c, (mn, mx)) => sorted.put(c, java.util.Arrays.asList(mn, mx)) }
    Json.writeValueAsString(sorted)
  }

  private def parseStats(json: String): Map[String, (String, String)] =
    Json.readTree(json).properties.asScala.map { e =>
      e.getKey -> (e.getValue.get(0).asText, e.getValue.get(1).asText)
    }.toMap

  /** Column types whose stats support range pruning: NUMERIC only.
    * Strings are deliberately excluded — parquet orders binary stats by
    * unsigned bytes while an engine-side comparison would use UTF-16
    * code units; the orders disagree outside ASCII, and a disagreement
    * prunes a file that contains a match (data loss). Timestamps/dates/
    * arrays likewise skipped, not mis-compared. */
  private def statable(f: StructField): Boolean =
    f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]

  /** Per-file (min, max) of every numeric column, read from the PARQUET
    * FOOTERS of the just-staged files — row-group stats already exist
    * there, so collection is a driver-side metadata read (milliseconds),
    * not a Spark job re-scanning staged data. A column missing stats in
    * ANY row group (or all-NULL) is left absent for that file —
    * conservative, never wrong. */
  private def collectStats(spark: SparkSession, name: String, schema: StructType,
      files: Seq[String]): Map[String, Map[String, (String, String)]] = {
    val numeric = schema.fields.filter(statable).map(_.name).toSet
    if (files.isEmpty) return Map.empty
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(absPath(name, f)), conf))
      try {
        // (min, max) per column, exact-merged across row groups; a row
        // group without usable stats poisons the column for this file
        val agg = scala.collection.mutable.Map[String, (BigDecimal, BigDecimal)]()
        val poisoned = scala.collection.mutable.Set[String]()
        for (b <- reader.getFooter.getBlocks.asScala;
             c <- b.getColumns.asScala) {
          val colName = c.getPath.toDotString
          if (numeric.contains(colName) && !poisoned.contains(colName)) {
            val st = c.getStatistics
            val ok = st != null && st.hasNonNullValue
            val parsed =
              if (!ok) None
              else try Some((BigDecimal(st.genericGetMin.toString),
                BigDecimal(st.genericGetMax.toString)))
              catch { case _: NumberFormatException => None }  // NaN/Inf floats
            parsed match {
              case Some((mn, mx)) =>
                val merged = agg.get(colName) match {
                  case Some((omn, omx)) => (omn.min(mn), omx.max(mx))
                  case None => (mn, mx)
                }
                agg(colName) = merged
              case None =>
                poisoned += colName
                agg.remove(colName)
                ()
            }
          }
        }
        // exact file row count from the footer (Σ block rows) under the
        // reserved "__rows" key: the substrate for metadata-only COUNT
        // (Delta answers count(*) from the log the same way)
        val rows = reader.getRecordCount
        f -> (agg.map { case (c, (mn, mx)) =>
          c -> (mn.bigDecimal.toPlainString, mx.bigDecimal.toPlainString)
        }.toMap + ("__rows" -> (rows.toString, rows.toString)))
      } finally reader.close()
    }.toMap
  }

  private def absPath(name: String, file: String): String =
    new java.io.File(filesDir(name), file).getAbsolutePath

  /** Per-writer uniqueness token: staged artifacts (data files, temp
    * manifests, stage dirs) embed it so concurrent writers can never
    * clobber each other's staging — only the manifest link arbitrates. */
  private def newToken(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** Commit attempts a writer makes before giving up; the two optimize
    * variants restage the whole snapshot on every attempt, so they stop
    * after [[MaxRestageRetries]]. */
  private val MaxCommitRetries = 50
  private val MaxRestageRetries = 5

  /** Source feeds at or below this observed row count broadcast their
    * keys into the hit-detection semi-join (≤ ~8 MB of key data at
    * typical key widths — inside executor broadcast budgets). Larger
    * feeds fall back to the shuffle semi-join: a backfill-sized source
    * must never be collected driver-side. */
  private val BroadcastKeyRows = 262144L

  /** A merge whose measured total input rows (observed source count +
    * manifest __rows of the hit files) stay under this bound runs its
    * staging write AQE-free on ~2M-rows/task reducers — a fixed tiny
    * shape where adaptive replanning is pure scheduler overhead. */
  private val TinyMergeRows = 8000000L

  /** Write `df`'s rows as new immutable data files (names unique per
    * writer token — version-independent, so a rebased commit reuses them
    * unchanged); returns the new file names. The parquet job writes into
    * a staging directory, then the part files move (same filesystem,
    * atomic per file) into `files/` — a crashed stage leaves only orphans
    * that the next vacuum sweeps, never a corrupt snapshot. */
  private def stage(df: DataFrame, name: String): Seq[String] = {
    val tok = newToken()
    val stageDir = new java.io.File(tdir(name), s"_stage_$tok")
    df.write.mode(SaveMode.Overwrite).parquet(stageDir.getAbsolutePath)
    val fd = filesDir(name)
    fd.mkdirs()
    val parts = stageDir.listFiles.toSeq
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val moved = parts.zipWithIndex.map { case (p, i) =>
      val nm = f"d-$tok-p$i%05d.parquet"
      java.nio.file.Files.move(p.toPath, new java.io.File(fd, nm).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      nm
    }
    Fs.deleteRec(stageDir)
    moved
  }

  /** Attempt to commit version `v`: stage the manifest to a writer-unique
    * temp, then CREATE-IF-ABSENT it at `v{N}.manifest` via an atomic hard
    * link — POSIX link(2) fails when the target name exists, so exactly
    * one writer wins each version number; this link is the commit's
    * durability point. Writer-transaction watermarks carry forward from
    * the manifest being superseded (v-1), updated with `addTxn` — atomic
    * with the commit itself. Returns false when the race was lost (the
    * caller re-reads the head, conflict-checks, and rebases or refuses).
    * Called only by [[commitLoop]]. */
  private def tryCommitManifest(name: String, v: Long, schema: StructType,
      entries: Seq[FileEntry], addTxn: Option[(String, Long)]): Boolean = {
    tdir(name).mkdirs()
    val carried =
      if (v > 1L && manifestFile(name, v - 1L).exists) txns(name, v - 1L)
      else Map.empty[String, Long]
    val allTxns = carried ++ addTxn
    val txnLines = allTxns.toSeq.sortBy(_._1).map { case (a, i) => s"#txn\t$a\t$i" }
    val lines = entries.map { e =>
      if (e.dvs.nonEmpty) s"${e.file}\t${renderStats(e.stats)}\t${e.dvs.mkString(",")}"
      else if (e.stats.isEmpty) e.file
      else s"${e.file}\t${renderStats(e.stats)}"
    }
    val mfTmp = new java.io.File(tdir(name), s"_v$v-${newToken()}.manifest.tmp")
    java.nio.file.Files.write(mfTmp.toPath,
      (Seq(nullable(schema).json) ++ txnLines ++ lines).mkString("\n").getBytes)
    try {
      java.nio.file.Files.createLink(manifestFile(name, v).toPath, mfTmp.toPath)
      // the winner knows exactly what it just wrote: seed the parsed-
      // manifest cache so the commit's own read-back (read()/CDF walks/
      // the next commit's carry-forward) never re-parses it. Values
      // mirror a parse of the file byte-for-byte: renderStats/parseStats
      // round-trip exactly and the schema is stored nullable.
      cachePut(name, v, (nullable(schema), entries, allTxns))
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally {
      java.nio.file.Files.deleteIfExists(mfTmp.toPath); ()
    }
  }

  /** Stage `df`'s rows and compute their per-file stats entries. */
  private def stageWithStats(df: DataFrame, name: String): Seq[FileEntry] = {
    val staged = stage(df, name)
    val schema = nullable(df.schema)
    val stats = collectStats(df.sparkSession, name, schema, staged)
    staged.map(f => FileEntry(f, stats.getOrElse(f, Map.empty)))
  }

  private def dropFiles(name: String, files: Seq[String]): Unit =
    files.foreach(f => new java.io.File(absPath(name, f)).delete())

  /** What a writer's rule makes of the head it would commit on top of. */
  private sealed trait Attempt
  /** Commit `entries` as head + 1. `fresh` names files this attempt
    * staged for itself (a restaging rule); they are dropped if it loses. */
  private case class Commit(schema: StructType, entries: Seq[FileEntry],
      fresh: Seq[String] = Nil) extends Attempt
  /** Nothing (more) to commit: the call returns `version`. */
  private case class Done(version: Long) extends Attempt
  /** The head logically conflicts: refuse with a
    * `ConcurrentModificationException`. */
  private case class Refuse(why: String) extends Attempt

  /** The optimistic commit protocol, written once. Each attempt reads the
    * head (0 before the first commit) and asks the writer's `rule` what
    * to do on top of it; a [[Commit]] links the next manifest, and a lost
    * link race re-reads the head and asks the rule again — a rebase, or a
    * refusal when the winner conflicts. The loop owns the retry bound,
    * the single [[beforeCommitHook]] call (after the first rule, before
    * the first link), the exactly-once short-circuit (a head whose `#txn`
    * watermark already covers `addTxn` is returned as is), and cleanup:
    * on every exit except a won commit — done, refused, out of retries,
    * or a rule that throws — it deletes `staged` and the last attempt's
    * fresh files. */
  private def commitLoop(op: String, name: String, staged: Seq[String] = Nil,
      retries: Int = MaxCommitRetries, addTxn: Option[(String, Long)] = None)(
      rule: Long => Attempt): Long = {
    var fresh = Seq.empty[String]
    var won = false
    @annotation.tailrec
    def attempt(n: Int): Long = {
      val head = currentVersion(name).getOrElse(0L)
      val replayed = head > 0L && addTxn.exists { case (w, b) =>
        txns(name, head).getOrElse(w, -1L) >= b }
      if (replayed) head
      else rule(head) match {
        case Done(v) => v
        case Refuse(why) =>
          throw new java.util.ConcurrentModificationException(s"$op('$name'): $why")
        case Commit(schema, entries, attemptFiles) =>
          fresh = attemptFiles
          if (n == 0) beforeCommitHook()
          won = tryCommitManifest(name, head + 1L, schema, entries, addTxn)
          if (won) head + 1L
          else if (n + 1 >= retries)
            throw new IllegalStateException(s"$op('$name'): $retries commit attempts lost")
          else {
            dropFiles(name, fresh)
            fresh = Nil
            attempt(n + 1)
          }
      }
    }
    try attempt(0)
    finally if (!won) dropFiles(name, staged ++ fresh)
  }

  /** Commit `df` as the next version (a full snapshot: an overwrite
    * genuinely replaces the table, so nothing is shareable). A blind
    * overwrite never logically conflicts — a lost commit race simply
    * re-targets the same staged files at the new head. */
  def write(df: DataFrame, name: String): Long = {
    val staged = stageWithStats(df, name)
    validateStaged(df.sparkSession, name, df.schema, staged.map(_.file))
    commitLoop("write", name, staged.map(_.file))(_ => Commit(df.schema, staged))
  }

  // ---- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT analog) -----

  private def checksFile(name: String) = new java.io.File(tdir(name), "_checks")

  /** Declared CHECK constraints: (name, SQL predicate) pairs, applied to
    * every row entering new data files (write and upsert commits). */
  def checks(name: String): Seq[(String, String)] = {
    val f = checksFile(name)
    if (!f.exists) Seq.empty
    else java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
      // a tab-less line cannot be a constraint (writes are atomic, but
      // never let a damaged file wedge every commit to the table)
      .filter(l => l.nonEmpty && l.contains('\t')).map { l =>
        val i = l.indexOf('\t'); (l.substring(0, i), l.substring(i + 1))
      }
  }

  /** Atomic one-file rewrite shared by add/dropCheck: stage to a tmp
    * sibling, ATOMIC_MOVE into place — a crash leaves either the old or
    * the new constraint set, never a truncated file. */
  private def writeChecks(name: String, all: Seq[(String, String)]): Unit = {
    val tmp = new java.io.File(tdir(name), "_checks.tmp")
    tdir(name).mkdirs()
    java.nio.file.Files.writeString(tmp.toPath,
      all.map { case (n, p) => s"$n\t$p" }.mkString("", "\n", "\n"))
    java.nio.file.Files.move(tmp.toPath, checksFile(name).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** Add (or replace) a CHECK constraint. Like Delta's ADD CONSTRAINT,
    * the predicate must already hold for every row of the live snapshot
    * — validated here with one aggregate scan — after which every
    * write/upsert validates its incoming rows and REFUSES the commit
    * (nothing staged, table unchanged) on any violation. */
  def addCheck(spark: SparkSession, name: String, checkName: String,
      predicate: String): Unit = {
    require(!checkName.contains('\t') && !checkName.contains('\n') &&
      !predicate.contains('\n'), "constraint names/predicates are single-line")
    if (currentVersion(name).isDefined)
      validateWith(read(spark, name), Seq(checkName -> predicate), name)
    writeChecks(name, checks(name).filterNot(_._1 == checkName) :+
      (checkName -> predicate))
  }

  def dropCheck(name: String, checkName: String): Unit = {
    val rest = checks(name).filterNot(_._1 == checkName)
    if (rest.isEmpty) { checksFile(name).delete(); () }
    else writeChecks(name, rest)
  }

  /** All declared checks in ONE aggregate over the STAGED data files
    * (violation counts, not row dumps — the commit-path cost is one
    * parquet pass of the incoming rows, zero when no checks exist). A
    * NULL predicate result is a violation, per SQL CHECK's
    * NOT(coalesce(p, false)) refusal reading — Delta's WriteIntoDelta
    * does the same.
    *
    * Validating the staged FILES, not the incoming plan, is load-
    * bearing: a nondeterministic source (rand(), current_timestamp)
    * would otherwise be evaluated once for validation and AGAIN for
    * staging, and the staged draw could violate what the validated draw
    * passed. On violation the staged files are deleted before the
    * refusal propagates — no orphans, table untouched. */
  private def validateStaged(spark: SparkSession, name: String,
      schema: StructType, files: Seq[String]): Unit = {
    val cs = checks(name)
    if (cs.isEmpty || files.isEmpty) return
    // NonFatal, not just the violation exception: a predicate that fails
    // ANALYSIS at commit time (declared on an empty table where addCheck
    // skipped validation, or referencing a column dropped since) must
    // also clean up its staged files before the refusal propagates —
    // otherwise every refused commit leaks parquet into files/ until a
    // vacuum sweep.
    try validateWith(
      spark.read.schema(nullable(schema)).parquet(files.map(absPath(name, _)): _*),
      cs, name)
    catch { case scala.util.control.NonFatal(e) =>
      dropFiles(name, files)
      throw e
    }
  }

  private def validateWith(df: DataFrame, cs: Seq[(String, String)],
      name: String): Unit = {
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions._
    val aggs = cs.map { case (n, p) =>
      sum(when(!coalesce(expr(p), lit(false)), 1L).otherwise(0L)).as(n) }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val bad = cs.zipWithIndex.collect {
      case ((n, p), i) if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"$n [$p]: ${row.getLong(i)} row(s)"
    }
    if (bad.nonEmpty) throw new IllegalStateException(
      s"CHECK constraint violation on '$name': ${bad.mkString("; ")}")
  }

  /** Widen `df` to `cols`, adding NULL-typed columns it lacks (the
    * schema-evolution half of Delta's mergeSchema). */
  private def align(df: DataFrame, cols: Seq[StructField]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val have = df.columns.toSet
    df.select(cols.map { f =>
      if (have.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** MERGE against the live snapshot, committed as a new version (the
    * reference's upsert-maintained meta-tables, with history retained).
    *
    * File-level rewrite, not table-level: a column-pruned scan of the key
    * columns + `_metadata.file_path` left-semi-joined with the source
    * keys finds the data files that contain a matched key; ONLY those
    * files feed the merge and are rewritten — every other file carries
    * over into the new manifest by name. Source rows with unmatched keys
    * (pure inserts) land in the newly staged files.
    *
    * With `evolveSchema`, source-only columns are ADDED to the table
    * (existing rows take NULL) and dropped source columns are retained
    * (source rows take NULL) — Delta mergeSchema semantics; earlier
    * versions keep their own schema (time travel is schema-faithful), and
    * carried-over files keep their narrow on-disk schema (the manifest's
    * wider read schema NULL-fills). */
  def upsert(spark: SparkSession, name: String, source: DataFrame,
      keys: Seq[String], evolveSchema: Boolean = false): Long =
    upsertTxn(spark, name, source, keys, evolveSchema, None)

  /** Delta's three-clause MERGE as ONE atomic commit:
    * WHEN MATCHED AND deleteWhen THEN DELETE / WHEN MATCHED THEN UPDATE
    * SET * / WHEN NOT MATCHED AND NOT deleteWhen THEN INSERT * — the
    * CDC-apply shape (the source is a feed carrying an op flag;
    * `deleteWhen` resolves against the source side, so the flag column
    * never reaches the table). Rides the ENTIRE upsert machinery
    * unchanged: stats-pruned hit-file detection (a delete-flagged key's
    * file is a hit like any other — it rewrites without that row),
    * CHECK validation, and the optimistic rebase/conflict commit loop.
    * The target must exist (MERGE into nothing is a bug, matching
    * Delta's error), and schema evolution composes with updates only,
    * not with a flag-carrying delete feed. */
  def merge(spark: SparkSession, name: String, source: DataFrame,
      keys: Seq[String],
      deleteWhen: DataFrame => org.apache.spark.sql.Column,
      updateWhen: Option[(DataFrame, DataFrame) => org.apache.spark.sql.Column]
        = None): Long = {
    require(currentVersion(name).isDefined,
      s"merge('$name'): target table does not exist")
    upsertTxn(spark, name, source, keys, evolveSchema = false, None,
      Some(deleteWhen), updateWhen)
  }

  /** Exactly-once MERGE for streaming micro-batches (Delta's `txn`
    * action): each named writer's highest committed batch id is recorded
    * in the manifest, atomically with the commit. A (writerId, batchId)
    * at or below the watermark is a restart REPLAY — it commits NOTHING
    * and returns the current version, so `foreachBatch` re-delivery
    * after a crash cannot double-apply a batch. */
  def upsertBatch(spark: SparkSession, name: String, source: DataFrame,
      keys: Seq[String], writerId: String, batchId: Long): Long = {
    val cur = currentVersion(name)
    val last = cur.map(v => txns(name, v).getOrElse(writerId, -1L)).getOrElse(-1L)
    if (batchId <= last) cur.get
    else upsertTxn(spark, name, source, keys, evolveSchema = false,
      Some(writerId -> batchId))
  }

  /** The table field an upsert's first key prunes on: present in both
    * table and source, and stat-able. None when the key is not range-
    * comparable. */
  private def keyField(schema: StructType, source: DataFrame,
      key: String): Option[StructField] =
    schema.fields.find(_.name == key).filter(statable)
      .filter(f => source.columns.contains(f.name))

  /** The first-key overlap rule: the entries whose `key` [min, max] stats
    * range can overlap the source's key range `src` (rendered as Spark's
    * string cast of the min and max). One definition behind upsert's
    * stats pruning, its concurrent-append conflict check and
    * [[pruneCandidates]]. Files dismissed here cost ZERO I/O (the Delta
    * data-skipping move). All-NULL source keys (`src` None) match
    * nothing; a key that is not range-comparable keeps every entry, and
    * so does a file with missing or unparseable stats. Compared in
    * BigDecimal: exact for 64-bit integers (a double round-trip could
    * narrow a range at the 2^53 boundary and wrongly dismiss a file). */
  private def overlapping(entries: Seq[FileEntry], key: Option[StructField],
      src: Option[(String, String)]): Seq[FileEntry] =
    (key, src) match {
      case (Some(kf), Some((lo, hi))) =>
        entries.filter(e => e.stats.get(kf.name).forall { case (mn, mx) =>
          try BigDecimal(mn) <= BigDecimal(hi) && BigDecimal(mx) >= BigDecimal(lo)
          catch { case _: NumberFormatException => true }
        })
      case (Some(_), None) => Seq.empty
      case _ => entries
    }

  /** Did a commit since the base snapshot rewrite, remove or MOR-delete
    * in any of `hit` (the base entries a writer rewrites)? True when the
    * head lacks a hit file or lists it with other deletion vectors. */
  private def touched(hit: Seq[FileEntry], head: Seq[FileEntry]): Boolean = {
    val headDvs = head.map(e => e.file -> e.dvs).toMap
    hit.exists(e => !headDvs.get(e.file).contains(e.dvs))
  }

  /** Test seam: runs after a writer's output is fully staged, immediately
    * before its first commit attempt ([[commitLoop]] calls it for every
    * writer) — lets a spec inject a COMPETING COMMITTED WRITER at the
    * exact race window, making the lost-commit → rebase / refuse paths
    * deterministic. No-op otherwise. */
  @volatile private[graft] var beforeCommitHook: () => Unit = () => ()

  private def upsertTxn(spark: SparkSession, name: String, rawSource: DataFrame,
      keys: Seq[String], evolveSchema: Boolean,
      addTxn: Option[(String, Long)],
      deleteWhen: Option[DataFrame => org.apache.spark.sql.Column] = None,
      updateWhen: Option[(DataFrame, DataFrame) => org.apache.spark.sql.Column]
        = None): Long =
    currentVersion(name) match {
      case None =>
        val staged = stageWithStats(rawSource, name)
        validateStaged(spark, name, rawSource.schema, staged.map(_.file))
        val created = commitLoop("upsert", name, staged.map(_.file), addTxn = addTxn) {
          case 0L => Commit(rawSource.schema, staged)
          case _ => Done(0L)
        }
        // 0: lost the CREATE race — the table exists now; this writer's
        // output must MERGE against it like any other upsert
        if (created > 0L) created
        else upsertTxn(spark, name, rawSource, keys, evolveSchema, addTxn,
          deleteWhen, updateWhen)
      case Some(cur) =>
        import org.apache.spark.sql.functions.col
        val (tSchema, entries) = manifestWithStats(name, cur)
        // the source feeds TWO jobs (hit semi-join, merge write): pin it
        // ONCE. localCheckpoint, not persist — the pinned RDD makes every
        // downstream plan a trivial scan (r08: persist kept the full
        // source lineage in each of the three plans, and the CacheManager
        // walked every subsequent plan per analysis — measured
        // ~0.3 s/upsert of driver time at sf0.1, pure overhead) AND
        // source-scan determinism (a non-deterministic source read twice
        // is the anomaly Delta materializes merge sources against).
        // TRADE: localCheckpoint is NOT fault-tolerant — losing an
        // executor/block mid-upsert FAILS the upsert (caller retries the
        // idempotent txn) instead of silently recomputing a possibly
        // different source; blocks are freed deterministically in the
        // finally below. Recompute-on-loss would need reliable
        // checkpointing to shared storage — the wrong default for a
        // sub-second commit path.
        //
        // The first key's [min, max] (stats pruning + rebase conflict
        // range) and the source row count (broadcast decision below) RIDE
        // the checkpoint job as observed metrics — r9 ran a separate
        // range-aggregate job per upsert (~0.1 s of pure scheduler
        // round-trip at sf0.1; at cluster scale one fewer full source
        // pass). The string rendering stays Spark's own cast, exactly as
        // pruneCandidates computes it.
        val kf = keyField(tSchema, rawSource, keys.head)
        val obs = org.apache.spark.sql.Observation()
        val observed = kf match {
          case Some(f) => rawSource.observe(obs,
            org.apache.spark.sql.functions.min(col(f.name)).cast("string").as("__kmin"),
            org.apache.spark.sql.functions.max(col(f.name)).cast("string").as("__kmax"),
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("__nrows"))
          case None => rawSource.observe(obs,
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("__nrows"))
        }
        val source = observed.localCheckpoint()
        val metrics = obs.get
        val srcRows = metrics("__nrows").asInstanceOf[Long]
        val srcRange: Option[(String, String)] = kf.flatMap { _ =>
          Option(metrics("__kmin").asInstanceOf[String])
            .map(mn => (mn, metrics("__kmax").asInstanceOf[String]))
        }
        try {
          // SCHEMA ENFORCEMENT (Delta semantics): without evolveSchema a
          // drifted source is REJECTED loudly, not silently truncated —
          // extra columns and diverged types both refuse before any file
          // is staged, so the table is untouched. The conditional-merge
          // path (deleteWhen) is exempt from the extra-column check: its
          // CDC op flag is a source-side column by design and never
          // reaches the table.
          if (!evolveSchema) {
            val extras = source.schema.fieldNames
              .filterNot(tSchema.fieldNames.contains)
            require(deleteWhen.isDefined || extras.isEmpty,
              s"upsert('$name'): source carries columns absent from the " +
                s"table schema: ${extras.mkString(", ")} — pass " +
                "evolveSchema=true to add them")
            val diverged = source.schema.fields.flatMap { f =>
              tSchema.fields.find(_.name == f.name)
                .filter(_.dataType != f.dataType)
                .map(t => s"${f.name} (${f.dataType.simpleString} vs " +
                  s"table ${t.dataType.simpleString})")
            }
            require(diverged.isEmpty,
              s"upsert('$name'): source column types diverge from the " +
                s"table schema: ${diverged.mkString("; ")}")
          }
          val candidates = overlapping(entries, kf, srcRange)
          // which surviving files hold a matched key? (the only rows a
          // MERGE changes)
          // live (DV-filtered) view of the candidate files: a key whose
          // only occurrence is a deletion-vector-dead row must NOT count
          // as a hit — the merge would pointlessly rewrite the file (and
          // the rewrite below must not resurrect dead rows)
          // small churn feeds (the steady-state case) broadcast their
          // keys: the semi-join then probes each candidate split IN
          // PLACE — no exchange on the table side, no AQE replan stage.
          // Past the row bound the shuffle semi-join returns (a 100 TB
          // backfill feed must not be collected to the driver).
          val srcKeys = source.select(keys.map(col): _*)
          val probeKeys =
            if (srcRows <= BroadcastKeyRows)
              org.apache.spark.sql.functions.broadcast(srcKeys)
            else srcKeys
          import spark.implicits._
          val hitNames: Set[String] =
            if (candidates.isEmpty) Set.empty
            else readEntries(spark, name, tSchema, candidates, withMeta = true)
              .select(keys.map(col) :+ col("__file"): _*)
              // no distinct() on the probe side: left_semi dedups by
              // construction
              .join(probeKeys, keys, "left_semi")
              .select(col("__file")).as[String]
              // partition-LOCAL dedup instead of a distinct() exchange:
              // each task emits at most the file names its splits touch,
              // so the collect is Σ file-splits-sized (manifest-scale,
              // the same driver footprint as a Delta log replay), and the
              // job has no shuffle stage at all on the broadcast path
              .mapPartitions(it => it.toSet.iterator)
              .collect().toSet
          val hit = candidates.filter(e => hitNames.contains(e.file))
          val hitSet = hit.map(_.file).toSet
          val rewriteTarget =
            if (hit.isEmpty) emptyDf(spark, tSchema)
            else readEntries(spark, name, tSchema, hit)
          val (mTarget, mSource, outSchema) =
            if (!evolveSchema) (rewriteTarget, source, tSchema)
            else {
              val all = tSchema.fields ++
                source.schema.fields.filterNot(f => tSchema.fieldNames.contains(f.name))
              (align(rewriteTarget, all), align(source, all), StructType(all))
            }
          val merged = deleteWhen match {
            case Some(dw) => Merge.conditional(mTarget, mSource, keys, dw, updateWhen)
            case None => Merge.upsert(mTarget, mSource, keys)
          }
          // SIZE-GATED fast path for the merge write: both input sizes
          // are measured — the source count from the checkpoint's
          // observation, the hit side from the manifest's exact __rows
          // stats (absent stats → unknown → no fast path). When the
          // whole merge provably fits a handful of tasks, AQE is pure
          // overhead here (each exchange becomes its own stage-job plus
          // a replanning round-trip — the graph-superstep measurement),
          // so THIS action runs in the superstep scope at ~2M rows/task,
          // which also keeps the staged file count (and so manifest size
          // and footer reads) at the few files the data warrants instead
          // of shuffle.partitions many.
          // A merge beyond the gate keeps AQE — skew-split and runtime
          // coalescing matter exactly there, and the gate uses measured
          // sizes, never guesses.
          val hitRowsOpt = hit.foldLeft(Option(0L)) { (acc, e) =>
            for (a <- acc; r <- e.stats.get("__rows")) yield a + r._1.toLong }
          val tinyMergeRows = hitRowsOpt
            .filter(_ => srcRows <= BroadcastKeyRows)
            .map(_ + srcRows).filter(_ <= TinyMergeRows)
          val staged = tinyMergeRows match {
            case None => stageWithStats(merged, name)
            case Some(n) =>
              ConfScope.superstep(spark, rows = n, rowsPerTask = 2000000L) { _ =>
                stageWithStats(merged, name)
              }
          }
          // CHECK constraints vet the staged merge output (carried rows
          // were vetted when they entered or by addCheck's declaration
          // scan, so only churn-sized files pay the pass); a violation
          // deletes the staged files and refuses — table untouched.
          validateStaged(spark, name, outSchema, staged.map(_.file))
          // each rebase re-targets the SAME staged files onto the new head
          // — zero recompute — after proving the concurrent commit cannot
          // have touched this merge's rows
          val origBase = entries.map(_.file).toSet
          commitLoop("upsert", name, staged.map(_.file), addTxn = addTxn) { head =>
            val (headSchema, headEntries) = manifestWithStats(name, head)
            // conflict 1: the winner rewrote/removed a file this merge
            // also rewrote — true write-write conflict on the same rows.
            // A concurrent MOR delete that attached a deletion vector to
            // a hit file conflicts the same way: this merge's staged
            // rewrite materialized rows the winner just declared dead.
            if (touched(hit, headEntries))
              Refuse("concurrent commit rewrote or MOR-deleted in files this " +
                "merge also rewrote")
            // conflict 2: the winner changed the table schema — this
            // merge's staged output and manifest schema predate it
            else if (nullable(headSchema) != nullable(tSchema))
              Refuse("concurrent schema change")
            // conflict 3 (concurrent append, stats-conservative like
            // Delta's ConcurrentAppendException): a file ADDED since this
            // merge's base snapshot whose key range can contain a source
            // key might hold a row this merge should have matched —
            // committing anyway could duplicate the key. Files without a
            // usable key range conflict conservatively.
            else if (overlapping(headEntries.filterNot(e => origBase.contains(e.file)),
                kf, srcRange).nonEmpty)
              Refuse("concurrent commit added files overlapping this merge's key range")
            // disjoint (or still the base) — carry the head's untouched files
            else Commit(outSchema, headEntries.filterNot(e => hitSet.contains(e.file)) ++ staged)
          }
        } finally {
          // release the checkpoint's block-store partitions NOW (r9):
          // Dataset.unpersist is a no-op on a checkpoint and GC-driven
          // cleanup is unbounded across a long session of many upserts
          org.apache.spark.sql.graftx.Internals.freeLocalCheckpoint(source)
        }
    }

  /** DELETE WHERE, file-level: only files containing a matching row are
    * rewritten (without their matches); every other file carries over by
    * reference — Delta DELETE's rewrite set. Parquet row-group stats
    * keep the match scan cheap; the new files' stats are re-collected. */
  def delete(spark: SparkSession, name: String,
      condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
    val (tSchema, entries) = manifestWithStats(name, cur)
    // hit detection and the survivor rewrite both read the LIVE view:
    // rows already dead under a deletion vector neither trigger a
    // rewrite nor reappear in the rewritten file
    import spark.implicits._
    val hitNames: Set[String] =
      if (entries.isEmpty) Set.empty
      else readEntries(spark, name, tSchema, entries, withMeta = true)
        .filter(condition)
        // partition-local dedup (as in upsert's hit detect): one scan
        // job with no exchange; the collect is Σ file-splits-sized
        .select(col("__file")).as[String]
        .mapPartitions(it => it.toSet.iterator)
        .collect().toSet
    val hit = entries.filter(e => hitNames.contains(e.file))
    val hitSet = hit.map(_.file).toSet
    val survivors =
      if (hit.isEmpty) Seq.empty
      else stageWithStats(
        readEntries(spark, name, tSchema, hit)
          // SQL DELETE keeps rows where the predicate is false OR NULL:
          // a bare !condition maps NULL->NULL and filter() would drop
          // the row, silently deleting NULL-predicate rows that happen
          // to share a file with a true match
          .filter(!org.apache.spark.sql.functions.coalesce(
            condition, org.apache.spark.sql.functions.lit(false))), name)
    // optimistic commit: rebase onto concurrent commits that did not
    // touch the deleted files. Rows a concurrent writer ADDS that match
    // the predicate survive — snapshot semantics (Delta WriteSerializable:
    // DELETE removes what its snapshot contained).
    commitLoop("delete", name, survivors.map(_.file)) { head =>
      val (headSchema, headEntries) = manifestWithStats(name, head)
      if (touched(hit, headEntries) || nullable(headSchema) != nullable(tSchema))
        Refuse("concurrent commit touched the deleted files or schema")
      else Commit(tSchema, headEntries.filterNot(e => hitSet.contains(e.file)) ++ survivors)
    }
  }

  /** The vector file schema [[readVector]] parses: one row per dead row,
    * (`__file` data-file name, `__pos` physical row index). */
  private val DvSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    "message dv { required binary __file (STRING); required int64 __pos; }")

  /** Write `dead` as a deletion-vector parquet into `files/`, returning
    * its name. Positions are the parquet reader's stable
    * `_metadata.row_index` — data files are immutable, so a position
    * marked dead stays the same physical row forever. A vector is
    * deleted-rows-sized by construction (the whole point of merge-on-read
    * is that the delete is tiny next to the data), and the caller already
    * holds it on the driver as per-file bitmaps, so the driver writes the
    * one columnar file itself with parquet-mr, in file then position
    * order: no Spark job. Like a data file it is written under a
    * `_stage_*` dir and moved into `files/` whole. */
  private def stageDv(spark: SparkSession, name: String, dead: DeadRows): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val tok = newToken()
    val stageDir = new java.io.File(tdir(name), s"_stage_$tok")
    val staged = new java.io.File(stageDir, "dv.parquet")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(staged.getAbsolutePath))
      .withConf(spark.sessionState.newHadoopConf())
      .withType(DvSchema)
      .build()
    val rows = new SimpleGroupFactory(DvSchema)
    try dead.toSeq.sortBy(_._1).foreach { case (file, positions) =>
      val it = positions.getLongIterator
      while (it.hasNext) writer.write(rows.newGroup().append("__file", file)
        .append("__pos", it.next()))
    } finally writer.close()
    val fd = filesDir(name)
    fd.mkdirs()
    val nm = s"dv-$tok.parquet"
    java.nio.file.Files.move(staged.toPath, new java.io.File(fd, nm).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Fs.deleteRec(stageDir)
    nm
  }

  /** DELETE WHERE, merge-on-read: instead of rewriting the files that
    * hold matches ([[delete]]'s copy-on-write), commit a DELETION VECTOR
    * — the matches' (file, physical position) pairs — and attach it to
    * each hit file's manifest entry; reads drop the listed positions as
    * they scan each file ([[readEntries]]). This is Delta's
    * deletion-vector DELETE / Iceberg v2 position deletes: at 100 TB,
    * deleting 0.1% of rows scattered across every file would force
    * copy-on-write to rewrite the whole table, while merge-on-read writes
    * kilobytes and touches no data file. The call is one Spark job: the
    * (file, position) hits are collected once, and the driver builds the
    * per-file dead sets from them, writes the vector file from those sets
    * ([[stageDv]]) and fills the parsed-vector cache with them, so no
    * later read pays a job to load it; [[optimize]] compacts the debt
    * away (its rewrite reads through the vectors and stages clean files
    * with no dv association).
    *
    * Positions are computed on THIS snapshot's live view (already-dead
    * rows are excluded by the read path, though re-marking would be
    * harmless — the dead set only grows). Concurrency: the commit loop
    * rebases onto heads that still contain every hit file, taking the
    * HEAD's entry for each file so vectors attached by concurrent MOR
    * deletes union monotonically; a head that rewrote a hit file
    * (upsert/COW-delete/optimize) is a true write-write conflict and
    * refuses, matching [[delete]]'s semantics. Rows matching the
    * predicate that a concurrent writer ADDS survive — snapshot
    * semantics (Delta WriteSerializable). */
  def deleteMor(spark: SparkSession, name: String,
      condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
    val (tSchema, entries) = manifestWithStats(name, cur)
    if (entries.isEmpty) return cur
    // the one job: the hits, as per-file dead sets that give the hit
    // files, the vector file's rows and, once committed, the cached sets
    // every later read filters with
    val dv = deadRows(readEntries(spark, name, tSchema, entries, withMeta = true)
      .filter(condition)
      .select(col("__file"), col("__pos"))
      .collect().iterator
      .map(r => (r.getString(0), r.getLong(1))))
    val hitFiles = dv.keySet
    if (hitFiles.isEmpty) return cur
    val dvFile = stageDv(spark, name, dv)
    val v = commitLoop("deleteMor", name, Seq(dvFile)) { head =>
      val (headSchema, headEntries) = manifestWithStats(name, head)
      if (!hitFiles.subsetOf(headEntries.map(_.file).toSet) ||
          nullable(headSchema) != nullable(tSchema))
        Refuse("concurrent commit rewrote a file this delete marked rows in, " +
          "or changed the schema")
      else Commit(headSchema, headEntries.map { e =>
        if (hitFiles.contains(e.file) && !e.dvs.contains(dvFile))
          e.copy(dvs = e.dvs :+ dvFile)
        else e
      })
    }
    cacheVector(name, dvFile, dv)
    v
  }

  /** Candidate files an upsert on `key` would have to SCAN, after stats
    * pruning — the same [[keyField]] and [[overlapping]] rule upsert runs
    * (exposed for specs: proves skipping consults the manifest only). */
  def pruneCandidates(spark: SparkSession, name: String, source: DataFrame,
      key: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col, max, min}
    val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
    val (tSchema, entries) = manifestWithStats(name, cur)
    val kf = keyField(tSchema, source, key)
    // the source's key [min, max] in the string rendering upsert observes
    val range = kf.flatMap { f =>
      val r = source.agg(
        min(col(f.name)).cast("string"), max(col(f.name)).cast("string")).head()
      if (r.isNullAt(0)) None else Some((r.getString(0), r.getString(1)))
    }
    overlapping(entries, kf, range).map(_.file)
  }

  /** OPTIMIZE: compact the live snapshot's (typically many small,
    * upsert-accumulated) data files into `targetFiles`, committed as a
    * new version — Delta OPTIMIZE on the manifest store. With
    * `zorderBy`, rows are Z-curve-clustered first (OPTIMIZE ZORDER, ref:
    * dbc cmd16/17): each output file covers a compact curve segment, so
    * the manifest's per-file min/max stats — and therefore upsert/
    * delete pruning — skip on EVERY clustered dimension, not just
    * incidental write order. Rows are unchanged; history stays readable;
    * vacuum reclaims the small files once no retained manifest
    * references them. */
  def optimize(spark: SparkSession, name: String, targetFiles: Int = 1,
      zorderBy: Seq[String] = Seq.empty, bits: Int = 12): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    // OPTIMIZE rewrites the whole snapshot, so ANY concurrent data commit
    // invalidates its staged output — a lost race restarts the compaction
    // from the new head (it is idempotent maintenance, nothing to lose).
    commitLoop("optimize", name, retries = MaxRestageRetries) { head =>
      if (head == 0L) sys.error(s"no version for $name")
      val (schema, _) = manifestWithStats(name, head)
      val live = readVersion(spark, name, head)
      val compacted =
        if (zorderBy.isEmpty) live.coalesce(targetFiles)
        else graft.functions.ZOrder.cluster(live, zorderBy, bits, targetFiles)
      val staged = stageWithStats(compacted, name)
      Commit(schema, staged, fresh = staged.map(_.file))
    }
  }

  /** Read the given snapshot entries with their deletion vectors applied.
    * Dead rows drop out of the data scan itself: one [[RowLive]] filter
    * on (`_metadata.file_name`, `_metadata.row_index`) probes each row
    * against its file's dead set, taken from the cached vectors — no
    * vector scan, no join, and no Spark job beyond the data scan. The
    * scan keeps predicate pushdown intact (the filter rides beside the
    * caller's). `withMeta` adds the (`__file`, `__pos`) identity columns
    * for callers that need per-file row addressing (hit scans,
    * [[deleteMor]]). */
  private def readEntries(spark: SparkSession, name: String, schema: StructType,
      entries: Seq[FileEntry], withMeta: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (entries.isEmpty) {
      val base = emptyDf(spark, schema)
      return if (!withMeta) base
      else base
        .withColumn("__file", org.apache.spark.sql.functions.lit("").cast("string"))
        .withColumn("__pos", org.apache.spark.sql.functions.lit(0L))
        .limit(0)
    }
    val raw = spark.read.schema(schema)
      .parquet(entries.map(e => absPath(name, e.file)): _*)
    val dead = deadSets(spark, name, entries)
    val live =
      if (dead.isEmpty) raw
      else raw.filter(org.apache.spark.sql.graftx.GraftNative.rowLive(
        col("_metadata.file_name"), col("_metadata.row_index"), dead))
    if (!withMeta) return live
    // the row-identity columns are reserved (like Delta's _metadata
    // reservation): silently shadowing a user column would corrupt it
    require(!schema.fieldNames.contains("__file") &&
      !schema.fieldNames.contains("__pos"),
      s"readEntries('$name'): __file/__pos are reserved row-identity names")
    live
      .withColumn("__file", col("_metadata.file_name"))
      .withColumn("__pos", col("_metadata.row_index"))
  }

  /** OPTIMIZE with the small-file policy (Delta OPTIMIZE's actual
    * contract): compact ONLY files below `minBytes` on disk, plus any
    * file carrying deletion-vector debt (rewriting it retires the
    * vector); every right-sized clean file carries over by reference.
    * This is the form that survives 100 TB — the full-snapshot
    * [[optimize]] is a table rewrite, fine after bulk loads, while the
    * steady-state maintenance loop must only ever pay for the churn
    * tail that upserts/streaming commits accumulate. Lost commit races
    * restart from the new head like [[optimize]] (idempotent
    * maintenance). Returns the current version unchanged when nothing
    * qualifies. */
  def optimizeIncremental(spark: SparkSession, name: String,
      minBytes: Long, targetFiles: Int = 1): Long = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    commitLoop("optimizeIncremental", name, retries = MaxRestageRetries) { head =>
      if (head == 0L) sys.error(s"no version for $name")
      val (schema, entries) = manifestWithStats(name, head)
      val small = entries.filter(e =>
        e.dvs.nonEmpty || new java.io.File(absPath(name, e.file)).length < minBytes)
      if (small.size < 2 && small.forall(_.dvs.isEmpty)) Done(head)
      else {
        val staged = stageWithStats(
          readEntries(spark, name, schema, small).coalesce(targetFiles), name)
        val keep = entries.filterNot(e => small.exists(_.file == e.file))
        Commit(schema, keep ++ staged, fresh = staged.map(_.file))
      }
    }
  }

  /** COUNT(*) of the live snapshot without opening one DATA file and
    * without a Spark job: Σ per-file "__rows" manifest stats minus, per
    * entry, the distinct dead positions its OWN vectors list (the cached
    * dead sets reads filter with). A rewrite that retired a vector on one
    * of its files therefore subtracts nothing for the rewritten file, and
    * concurrent vectors that double-marked a position (both computed on
    * the same base snapshot) count it once. None when any entry predates
    * row-count stats — caller falls back to a scan. */
  def countMeta(spark: SparkSession, name: String): Option[Long] = {
    val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
    val (_, entries) = manifestWithStats(name, cur)
    val per = entries.map(_.stats.get("__rows").flatMap(_._1.toLongOption))
    if (per.exists(_.isEmpty)) return None
    val dead = deadSets(spark, name, entries).valuesIterator.map(_.getLongCardinality).sum
    Some(per.flatten.sum - dead)
  }

  // ---- manifest-stats data-skipping read -------------------------------

  /** Conservative may-match of a predicate against one file's manifest
    * stats: false ONLY when the stats PROVE no row can match. Handles
    * And/Or and the comparison shapes Delta's data skipping handles
    * (=, <, <=, >, >=, IN between a column and literals); anything else
    * is conservatively true. Stats are numeric decimal strings
    * (collectStats); unparseable stats never prune. */
  private def mayMatch(stats: Map[String, (String, String)],
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def name(x: Expression): Option[String] = x match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(u.name)
      case a: AttributeReference => Some(a.name)
      // NOT unwrapped: Cast changes comparison semantics (a double file
      // range [1.5, 1.9] proves nothing about CAST(c AS INT) = 1, which
      // a c = 1.9 row satisfies) — a cast column is un-prunable
      case _ => None
    }
    def bd(x: Expression): Option[BigDecimal] = x match {
      case l: Literal if l.value != null =>
        try Some(BigDecimal(l.value.toString)) catch { case _: NumberFormatException => None }
      case _ => None
    }
    def range(col: String): Option[(BigDecimal, BigDecimal)] =
      stats.get(col).flatMap { case (mn, mx) =>
        try Some((BigDecimal(mn), BigDecimal(mx)))
        catch { case _: NumberFormatException => None }
      }
    def cmp(a: Expression, b: Expression)(
        f: ((BigDecimal, BigDecimal), BigDecimal) => Boolean): Boolean =
      (name(a), bd(b)) match {
        case (Some(c), Some(v)) => range(c).forall(r => f(r, v))
        case _ => true
      }
    def eq2(a: Expression, b: Expression) =
      cmp(a, b) { case ((mn, mx), v) => mn <= v && v <= mx } &&
        cmp(b, a) { case ((mn, mx), v) => mn <= v && v <= mx }
    def lt2(a: Expression, b: Expression) =
      cmp(a, b) { case ((mn, _), v) => mn < v } &&
        cmp(b, a) { case ((_, mx), v) => v < mx }
    def le2(a: Expression, b: Expression) =
      cmp(a, b) { case ((mn, _), v) => mn <= v } &&
        cmp(b, a) { case ((_, mx), v) => v <= mx }
    def in2(a: Expression, list: Seq[Expression]) = name(a) match {
      case Some(c) =>
        val vals = list.map(bd)
        // every element must be a parseable literal to prune: a dropped
        // non-literal element could match inside the file's range
        if (vals.exists(_.isEmpty)) true
        else range(c).forall { case (mn, mx) =>
          vals.flatten.exists(v => mn <= v && v <= mx) }
      case None => true
    }
    e match {
      // the Column DSL converts to unresolved function calls — dispatch
      // by name (probed: and/or/</<=/>/>=/=/in)
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
        (f.nameParts.last.toLowerCase(java.util.Locale.ROOT), f.arguments) match {
          case ("and", Seq(l, r)) => mayMatch(stats, l) && mayMatch(stats, r)
          case ("or", Seq(l, r)) => mayMatch(stats, l) || mayMatch(stats, r)
          case ("=" | "==", Seq(a, b)) => eq2(a, b)
          case ("<", Seq(a, b)) => lt2(a, b)
          case ("<=", Seq(a, b)) => le2(a, b)
          case (">", Seq(a, b)) => lt2(b, a)
          case (">=", Seq(a, b)) => le2(b, a)
          case ("in", a +: rest) => in2(a, rest)
          case _ => true
        }
      // resolved forms (predicates built programmatically)
      case And(l, r) => mayMatch(stats, l) && mayMatch(stats, r)
      case Or(l, r) => mayMatch(stats, l) || mayMatch(stats, r)
      case EqualTo(a, b) => eq2(a, b)
      case LessThan(a, b) => lt2(a, b)
      case LessThanOrEqual(a, b) => le2(a, b)
      case GreaterThan(a, b) => lt2(b, a)
      case GreaterThanOrEqual(a, b) => le2(b, a)
      case In(a, list) => in2(a, list)
      case _ => true
    }
  }

  /** Data-skipping read (Delta/Iceberg scan planning on the manifest):
    * prune the snapshot's file list against `condition` using the
    * per-file min/max stats BEFORE any file is opened — at 100 TB with
    * millions of files this is the difference between listing/footer-
    * probing every file and touching only the clustered slice the
    * predicate names (pair with OPTIMIZE ZORDER so every clustered
    * dimension prunes). The surviving files still evaluate `condition`
    * exactly (stats pruning is conservative, never authoritative).
    * Returns (dataframe, files scanned, files total) so callers/specs
    * can assert the skip actually happened. */
  def readWhereDetailed(spark: SparkSession, name: String,
      condition: org.apache.spark.sql.Column): (DataFrame, Int, Int) = {
    val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
    val (schema, entries) = manifestWithStats(name, cur)
    val pruned = entries.filter(e => mayMatch(e.stats,
      org.apache.spark.sql.graftx.GraftNative.exprOf(condition)))
    val df =
      if (pruned.isEmpty) emptyDf(spark, schema)
      else readEntries(spark, name, schema, pruned)
    (df.filter(condition), pruned.size, entries.size)
  }

  def readWhere(spark: SparkSession, name: String,
      condition: org.apache.spark.sql.Column): DataFrame =
    readWhereDetailed(spark, name, condition)._1

  /** Read the live snapshot. */
  def read(spark: SparkSession, name: String): DataFrame =
    readVersion(spark, name,
      currentVersion(name).getOrElse(sys.error(s"no committed version for $name")))

  /** Time travel: read snapshot `v` (`VERSION AS OF v`). */
  def readVersion(spark: SparkSession, name: String, v: Long): DataFrame = {
    val (schema, entries) = manifestWithStats(name, v)
    if (entries.isEmpty) emptyDf(spark, schema)
    else readEntries(spark, name, schema, entries)
  }

  /** Commit wall-clock per version: the manifest file's mtime IS the
    * commit instant (the hard link lands atomically at commit; nothing
    * rewrites a committed manifest). Epoch millis, ascending with
    * version by construction. */
  def commitTimes(name: String): Seq[(Long, Long)] =
    history(name).map(v => v -> manifestFile(name, v).lastModified)

  /** Time travel by wall clock (`TIMESTAMP AS OF ts`, Delta analog):
    * read the newest snapshot committed at or before `tsMillis`.
    * Resolution walks version->mtime pairs (metadata only, no data I/O)
    * and picks max{v : commitTime(v) <= ts}; a timestamp earlier than
    * the first commit is an error, matching Delta's contract. */
  def readAsOf(spark: SparkSession, name: String, tsMillis: Long): DataFrame = {
    val at = commitTimes(name).filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"readAsOf('$name'): no snapshot committed at or before $tsMillis")
    readVersion(spark, name, at.map(_._1).max)
  }

  /** Change data feed between two committed versions (Delta CDF analog):
    * one row per key whose state changed, labeled insert / update /
    * delete. FILE-DIFF first: rows in data files SHARED by both
    * manifests are byte-identical and can never produce a change row, so
    * only each side's non-shared files enter the keyed full-outer join —
    * at 0.1% churn that is ~0.1% of the table through the shuffle. (The
    * file-maintenance paths rewrite a key's file whenever the key
    * changes, so a changed key is never hiding in a shared file.) One
    * shuffle on the key, no row-set subtraction passes. */
  def changes(spark: SparkSession, name: String, from: Long, to: Long,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val (schemaA, entriesA) = manifestWithStats(name, from)
    val (schemaB, entriesB) = manifestWithStats(name, to)
    // an entry is "shared" (can't produce a change row) only when file
    // AND deletion-vector list match: a MOR delete keeps the file name
    // but changes its live rows, so both versions must read it
    val shared = entriesA.map(e => (e.file, e.dvs)).toSet
      .intersect(entriesB.map(e => (e.file, e.dvs)).toSet)
    def side(schema: StructType, entries: Seq[FileEntry]): DataFrame = {
      val own = entries.filterNot(e => shared.contains((e.file, e.dvs)))
      if (own.isEmpty) emptyDf(spark, schema)
      else readEntries(spark, name, schema, own)
    }
    // align both sides to the UNION of their schemas first: columns
    // added by evolveSchema between the versions must participate in the
    // update comparison (a value appearing in a new column IS a change),
    // and comparing in either direction must resolve.
    val rawA = side(schemaA, entriesA)
    val rawB = side(schemaB, entriesB)
    val all = rawA.schema.fields ++
      rawB.schema.fields.filterNot(f => rawA.columns.contains(f.name))
    val a = align(rawA, all).withColumn("__a", lit(true))
    val b = align(rawB, all).withColumn("__b", lit(true))
    val cond = keys.map(k => a(k) <=> b(k)).reduce(_ && _)
    val nonKeys = all.map(_.name).filter(c => !keys.contains(c))
    val differs = nonKeys.map(c => !(a(c) <=> b(c))).reduceOption(_ || _)
      .getOrElse(lit(false))
    a.join(b, cond, "full_outer")
      .withColumn("change_type",
        when(b("__b").isNull, "delete")
          .when(a("__a").isNull, "insert")
          .when(differs, "update"))
      .filter(col("change_type").isNotNull)
      .select(keys.map(k => coalesce(a(k), b(k)).as(k)) :+ col("change_type"): _*)
  }

  /** RESTORE VERSION AS OF: re-commit snapshot `v`'s manifest as the
    * next version (Delta RESTORE — a bad deploy rolls back as a NEW
    * commit, history intact). Pure manifest copy: every data file is
    * shared by reference, zero data movement; streaming-writer txn
    * watermarks carry forward from the CURRENT version so exactly-once
    * replay protection survives the rollback. */
  def restore(name: String, v: Long): Long = {
    require(currentVersion(name).isDefined, s"no version for $name")
    val (schema, entries) = manifestWithStats(name, v)
    // an explicit rollback supersedes whatever it raced with: always
    // rebase to the newest head (pure manifest copy, nothing staged)
    commitLoop("restore", name)(_ => Commit(schema, entries))
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... CLONE` analog): create `dst`
    * at version 1 whose manifest lists the SAME immutable data files as
    * `src`'s head, hard-linked into the clone's file dir — zero bytes of
    * data copied, cost proportional to the FILE COUNT, never the table
    * size. Because data files are immutable by construction, the two
    * tables then evolve independently from the shared snapshot: each
    * side's upserts/deletes write only its own manifests and new files,
    * and vacuum is per-table — the filesystem's link count keeps a
    * shared inode alive until BOTH sides have dropped it. Per-file
    * stats entries carry over verbatim (they describe the shared file
    * contents), so the clone prunes/skips exactly like the source.
    * CHECK constraints are metadata and copy with the clone. */
  def shallowClone(src: String, dst: String): Long = {
    require(currentVersion(dst).isEmpty, s"shallowClone: target '$dst' already exists")
    val v = currentVersion(src).getOrElse(
      throw new IllegalArgumentException(s"shallowClone: source '$src' is empty"))
    val (schema, entries) = manifestWithStats(src, v)
    filesDir(dst).mkdirs()
    // deletion-vector files are part of the snapshot: link them with the
    // data files so the clone's reads apply the same dead-row filter
    val allFiles = (entries.map(_.file) ++ entries.flatMap(_.dvs)).distinct
    allFiles.foreach { f =>
      java.nio.file.Files.createLink(
        new java.io.File(absPath(dst, f)).toPath,
        new java.io.File(absPath(src, f)).toPath)
    }
    val cs = checks(src)
    if (cs.nonEmpty) writeChecks(dst, cs)
    commitLoop("shallowClone", dst, allFiles) {
      case 0L => Commit(schema, entries)
      case _ => throw new IllegalStateException(
        s"shallowClone: commit race on fresh table '$dst'")
    }
  }

  /** Incremental change feed: every per-commit change between
    * `fromVersion` (exclusive) and the live version, stamped with the
    * commit that produced it — the shape a polling consumer reads
    * (Delta CDF's `table_changes(from)`). Each adjacent pair diffs at
    * file level, so a poll after k commits of 0.1% churn costs k tiny
    * diffs, never k table scans. */
  def changesSince(spark: SparkSession, name: String, fromVersion: Long,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val versions = history(name).filter(_ >= fromVersion)
    require(versions.contains(fromVersion),
      s"$name has no version $fromVersion (history: ${history(name)})")
    val steps = versions.zip(versions.tail)
    if (steps.isEmpty)
      return changes(spark, name, fromVersion, fromVersion, keys)
        .withColumn("_commit_version", lit(fromVersion))
        .limit(0)
    steps.map { case (a, b) =>
      changes(spark, name, a, b, keys).withColumn("_commit_version", lit(b))
    }.reduce(_ union _)
  }

  /** Full rows of the data files ADDED to the live manifest since
    * `fromVersion` — the churn-file read backing incremental consumers
    * that need changed rows WITH their values (changesSince reports
    * keys only). File-diff pruned like changes(): at 0.1% churn this
    * reads ~0.1% of the table, never the snapshot. Rewritten files
    * also carry over unchanged rows, so pair this with a key semi-join
    * (e.g. changesSince's insert keys) to isolate true churn. */
  def newFileRows(spark: SparkSession, name: String, fromVersion: Long): DataFrame = {
    val cur = currentVersion(name).getOrElse(sys.error(s"no version for $name"))
    val (schema, curEntries) = manifestWithStats(name, cur)
    val oldSet = manifest(name, fromVersion)._2.toSet
    val fresh = curEntries.filterNot(e => oldSet.contains(e.file))
    if (fresh.isEmpty) emptyDf(spark, schema)
    else readEntries(spark, name, schema, fresh)
  }

  // ---- record-level key index (point-lookup acceleration) --------------

  private def indexDir(name: String, keyCol: String) =
    new java.io.File(tdir(name), s"_index_$keyCol")

  /** Build the record-level key→file index for the CURRENT version — the
    * Hudi record-index / Delta bloom-filter-index analog. The index is a
    * parquet table of distinct (k, file) pairs, range-clustered and
    * sorted on `k` so a point probe prunes index row groups by footer
    * stats; it is stamped with the version it describes and becomes
    * stale (never wrong) when a new version commits.
    *
    * Cost shape: ONE column-pruned scan of the table (the key column
    * plus the file identity pseudo-column), one distinct shuffle at the
    * (key, file) grain. At 100 TB the index is keys×16-bytes-ish — data-
    * proportional but column-narrow; rebuild is incremental by design if
    * driven per-commit (non-shared files only), though this
    * implementation rebuilds whole — the spec pins staleness semantics
    * so an incremental builder can swap in without API change. */
  def buildKeyIndex(spark: SparkSession, name: String, keyCol: String): Long =
    buildKeyIndexDetailed(spark, name, keyCol)._1

  /** As [[buildKeyIndex]], also reporting how many data files were
    * actually SCANNED. Maintenance is INCREMENTAL: index entries for
    * files shared with the newest prior index snapshot carry over by an
    * index-to-index copy (file-pruned parquet read of the old index —
    * no data file touched), and only files new to this version are
    * scanned. At 0.1% churn a refresh costs ~0.1% of the table plus an
    * index rewrite — the same cost law as the store's own upsert. */
  def buildKeyIndexDetailed(spark: SparkSession, name: String,
      keyCol: String): (Long, Int) = {
    import org.apache.spark.sql.functions._
    val v = currentVersion(name).getOrElse(sys.error(s"no committed version for $name"))
    val (schema, files) = manifest(name, v)
    require(schema.fieldNames.contains(keyCol), s"no column $keyCol in $name")
    val idir = indexDir(name, keyCol)
    val target = new java.io.File(idir, s"v$v")
    if (new java.io.File(target, "_SUCCESS").exists) return (v, 0)
    // newest prior snapshot whose version is still in history (its
    // manifest tells us exactly which files it indexed)
    val prior: Option[(Long, java.io.File)] =
      Option(idir.listFiles).getOrElse(Array.empty)
        .filter(d => d.isDirectory && new java.io.File(d, "_SUCCESS").exists)
        .flatMap(d => d.getName.drop(1).toLongOption.map(_ -> d))
        .filter { case (pv, _) => pv != v && history(name).contains(pv) }
        .sortBy(-_._1).headOption
    val priorFiles: Set[String] =
      prior.map { case (pv, _) => manifest(name, pv)._2.toSet }.getOrElse(Set.empty)
    val covered = priorFiles.intersect(files.toSet)
    val fresh = files.filterNot(covered)
    val scanned =
      if (fresh.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(Seq(StructField("k", nullable(schema)(keyCol).dataType),
            StructField("file", org.apache.spark.sql.types.StringType))))
      else spark.read.schema(nullable(schema)).parquet(fresh.map(absPath(name, _)): _*)
        .select(col(keyCol).as("k"), col("_metadata.file_name").as("file"))
        .distinct()
    val carried = prior match {
      case Some((_, pdir)) if covered.nonEmpty =>
        // exclusion list = prior files DROPPED from this manifest —
        // churn-sized by construction, unlike `covered`, which is
        // table-sized at the low-churn envelope and would bloat the
        // plan as an isin literal list
        val dropped = (priorFiles -- files.toSet).toSeq
        val old = spark.read.parquet(pdir.getAbsolutePath)
        if (dropped.isEmpty) old else old.filter(!col("file").isin(dropped: _*))
      case _ => scanned.limit(0)
    }
    scanned.union(carried)
      .repartitionByRange(col("k")).sortWithinPartitions("k")
      .write.mode(SaveMode.Overwrite).parquet(target.getAbsolutePath)
    (v, fresh.size)
  }

  /** Data files a point probe must read, via the key index: None when no
    * index exists for the CURRENT version (stale or never built) —
    * caller falls back to a full scan; the list preserves manifest
    * order. The index probe itself is `k IN (...)` over the sorted index
    * parquet (row-group pruned), and the collect is candidate-file-sized
    * — the per-lookup driver footprint of a Delta log replay. */
  private[graft] def lookupFiles(spark: SparkSession, name: String,
      keyCol: String, keys: Seq[Any]): Option[Seq[String]] = {
    import org.apache.spark.sql.functions._
    currentVersion(name).flatMap { v =>
      val target = new java.io.File(indexDir(name, keyCol), s"v$v")
      if (!new java.io.File(target, "_SUCCESS").exists) None
      else {
        val hit = spark.read.parquet(target.getAbsolutePath)
          .filter(col("k").isin(keys: _*))
          .select("file").distinct()
          .collect().map(_.getString(0)).toSet
        Some(manifest(name, v)._2.filter(hit))
      }
    }
  }

  /** Point lookup: rows of the current version whose `keyCol` is in
    * `keys`, reading ONLY index-pinned data files when a fresh index
    * exists (else the filtered full scan, where file-stats pruning still
    * applies through the scan's pushed predicate). Index-served and
    * fallback paths return identical rows by construction — the index
    * maps every (key, file) containment exactly. */
  def lookup(spark: SparkSession, name: String, keyCol: String,
      keys: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions._
    val pred = col(keyCol).isin(keys: _*)
    lookupFiles(spark, name, keyCol, keys) match {
      case Some(files) =>
        // the index maps CONTAINMENT (it may list keys whose only rows
        // are deletion-vector-dead — stale-but-never-wrong); the
        // DV-filtered read makes the served rows exact
        val (schema, entries) = manifestWithStats(name, currentVersion(name).get)
        val pinned = entries.filter(e => files.contains(e.file))
        if (pinned.isEmpty) emptyDf(spark, schema)
        else readEntries(spark, name, schema, pinned).filter(pred)
      case None => read(spark, name).filter(pred)
    }
  }

  /** Age past which vacuum treats a staging leftover as a crashed
    * writer's: a writer links its temp manifest within milliseconds,
    * and a stage dir shows fresh mtimes while
    * its write job runs ([[lastTouched]]). */
  private val StagingHorizonMillis = 30L * 60 * 1000

  /** Newest mtime of a staging leftover. A stage dir's own mtime changes
    * only when its write job sets up and commits; the running tasks write
    * under its `_temporary` subtree (Hadoop's output committer), so that
    * subtree counts too. */
  private def lastTouched(f: java.io.File): Long = {
    def newest(g: java.io.File): Long =
      (g.lastModified +: Option(g.listFiles).toSeq.flatten.map(newest)).max
    val tmp = new java.io.File(f, "_temporary")
    if (tmp.exists) math.max(f.lastModified, newest(tmp)) else f.lastModified
  }

  /** Retention: drop all but the latest `keep` manifests (Delta VACUUM
    * for history), then garbage-collect every data file no retained
    * manifest references — file sharing means deletion must be
    * reference-counted, exactly like Delta's vacuum walking the log. The
    * live version is always retained. Also sweeps the `_stage_*` dirs
    * and temp manifests of crashed writers once they are older than
    * [[StagingHorizonMillis]]. */
  def vacuumVersions(name: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the live version")
    val live = currentVersion(name).toSeq
    val drop = history(name).dropRight(keep).filterNot(live.contains)
    drop.foreach { v =>
      manifestFile(name, v).delete()
      // a vacuumed version can never be read again (the exists() probe
      // refuses it), so its parsed entries are dead weight — evict
      // (r10 ADVICE: the cache otherwise retains every dropped
      // version's full schema + file-stats seq forever)
      withCache(name)(_.remove(v))
    }
    // deletion-vector files are referenced like data files: a dv lives
    // while any retained manifest's entry names it
    val referenced = history(name).flatMap { v =>
      val es = manifestWithStats(name, v)._2
      es.map(_.file) ++ es.flatMap(_.dvs)
    }.toSet
    val fd = filesDir(name)
    if (fd.exists) {
      val gone = fd.listFiles.filter(f => !referenced.contains(f.getName))
      gone.foreach(_.delete())
      dvCache.synchronized(gone.foreach(f => dvCache.remove((name, f.getName))))
    }
    // stage dirs and temp manifests of crashed writers
    // (committed writers delete theirs in the same call); a younger one
    // may belong to a writer still at work, so it stays
    val stale = System.currentTimeMillis() - StagingHorizonMillis
    tdir(name).listFiles.filter { f =>
      val n = f.getName
      val leftover =
        if (f.isDirectory) n.startsWith("_stage_")
        else n.startsWith("_v") && n.endsWith(".tmp")
      leftover && lastTouched(f) < stale
    }.foreach(Fs.deleteRec)
    // key-index snapshots of vacuumed versions can never serve again
    val kept = history(name).toSet
    tdir(name).listFiles.filter(f => f.isDirectory && f.getName.startsWith("_index_"))
      .foreach { id =>
        id.listFiles.filter { d =>
          d.isDirectory && d.getName.startsWith("v") &&
            d.getName.drop(1).toLongOption.exists(!kept.contains(_))
        }.foreach(Fs.deleteRec)
      }
    drop
  }
}
