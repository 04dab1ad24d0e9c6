package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-pinned file layout for the persisted stores (KMV / CMS /
  * HLL / histogram sketch stores and the band index) — the
  * reader-isolation layer under [[Sketches.compactReplace]] (round-13
  * verdict "next round #3").
  *
  * A store directory optionally carries versioned manifest files
  * `_manifest-%08d`, each naming exactly the data files that make up
  * that version of the store (one name per line). Readers resolve the
  * HIGHEST version and read exactly those files; writers make a new
  * version visible with ONE atomic file rename (stage the content to a
  * dot-hidden scratch name, rename into place — readers can never see a
  * half-written manifest). That one rename is the commit point for
  * appends and compactions alike, which is what makes a compaction swap
  * atomic for readers: until the new manifest lands they serve the old
  * parts (still on disk — see the deferred-GC note below), after it
  * they serve the folded part. The same trick at production scale is a
  * transactional table format's log (Delta/Iceberg snapshot files);
  * this is the minimal two-hundred-line version of it for plain
  * directories, with the same snapshot-vs-vacuum trade.
  *
  * Directories with NO manifest (stores built by older rounds) serve
  * from the raw directory listing exactly as before — every layout
  * operation here degrades to the legacy behavior.
  *
  * Deferred GC / reader isolation window: a compaction never deletes
  * the parts it replaced in the same call — superseded parts are
  * recorded with a timestamp and swept by a LATER compaction only once
  * they have been superseded for at least [[Sketches.SuspectGraceMs]]
  * (wall clock), so a reader's resolved snapshot survives ANY number of
  * rapid valve-triggered compactions for at least the grace window (the
  * Delta VACUUM retention clock, not just a cycle count).
  *
  * Concurrency: manifest commits are create-if-absent, so concurrent
  * appends race benignly — the loser re-resolves the current version
  * and retries, and every committed manifest is a superset of the files
  * its writer appended. Compaction remains single-writer (two
  * concurrent compactions of the same store are a caller error).
  * Same-JVM writers are serialized internally; CROSS-JVM writers on a
  * plain local filesystem are refused by a `_writer_lock` lease
  * tripwire (see [[acquireWriterLease]]) because local-FS rename is not
  * atomic onto an existing target.
  *
  * Idempotent appends: a caller that passes a stable `batchId` to
  * [[appendRecorded]] gets an exactly-once retry contract — the batch's
  * part names are deterministic in the id, and a committed batch leaves
  * a marker in `_appends/` that makes any re-append of the same id a
  * no-op. Markers older than [[Sketches.SuspectGraceMs]] are pruned at
  * compaction; a pruned id is folded into the `_appends_pruned` bloom,
  * so a retry arriving after the window fails LOUDLY
  * ([[requireBatchNotPruned]]) instead of silently double-counting —
  * retries within the grace window (any sane retry policy is
  * seconds-to-minutes) land exactly once, later ones error.
  *
  * Metadata cache: the driver keeps ONE map ([[metaCache]]) of small,
  * unchanging store metadata, so a warm read of a store's metadata
  * starts no Spark job. Each entry is checked on every call against a
  * fingerprint taken with plain FS calls:
  *  - `_params` rows ([[readParams]]) and the ANN side tables (`_meta` +
  *    `_centroids`, `_codebooks`; [[cachedSide]]) on the (name, mtime,
  *    length) listing of their side directories;
  *  - the inferred schema of an explicit-file read ([[readFiles]]) on the
  *    first file's path, mtime and length;
  *  - the `_appends_pruned` ledger bloom on its file's (name, mtime,
  *    length), on the local FS only.
  * A load that throws caches nothing. The map is an access-order LRU of
  * 256 entries. Rows that carry big artifacts (the bloom bits of
  * [[Contamination]]'s and [[Dedup]]'s gate artifacts) are read
  * uncached; the ledger bloom is the one large value (about 3.4 MiB).
  */
private[graft] object StoreLayout {

  private val ManifestPrefix = "_manifest-"

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def fsFor(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  // ---- driver-side metadata cache ------------------------------------------

  /** The one driver-side metadata cache: key -> (fingerprint, value). A
    * hit needs the caller's freshly computed fingerprint to equal the
    * stored one, so an entry can be stale only while its files are
    * unchanged. A true access-order LRU at 256 entries: keys are store
    * paths, and tests create many temp stores.
    */
  private[graft] val metaCache: java.util.Map[String, (String, AnyRef)] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, (String, AnyRef)](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (String, AnyRef)]): Boolean =
          size > 256
      })

  /** `load` under `key`, reused while `fp` matches. A throwing load
    * caches nothing, so errors stay loud on every call.
    */
  private[graft] def cached[T <: AnyRef](key: String, fp: String)(
      load: => T): T =
    metaCache.get(key) match {
      case (oldFp, v) if oldFp == fp => v.asInstanceOf[T]
      case _ =>
        val v = load
        metaCache.put(key, (fp, v))
        v
    }

  /** (name, mtime, length) of every file under `path`'s side directories
    * `dirs`, from one listing each; an absent directory has its own
    * token, so creating it changes the fingerprint.
    */
  private def sideFingerprint(fs: FileSystem, p: Path,
      dirs: Seq[String]): String =
    dirs.flatMap { d =>
      try fs.listStatus(new Path(p, d)).toSeq
        .map(st => s"${st.getPath.getName}:${st.getModificationTime}:${st.getLen}")
      catch { case _: java.io.FileNotFoundException => Seq(s"$d:absent") }
    }.sorted.mkString("|")

  /** A small side table of the store at `path` (`_params`, `_centroids`,
    * ...), loaded by `load` and reused while the listing of `dirs` is
    * unchanged. Every rewrite of a side table writes new part-file names,
    * so it always misses.
    */
  private[graft] def cachedSide[T <: AnyRef](spark: SparkSession,
      path: String, kind: String, dirs: Seq[String])(load: => T): T = {
    val (fs, p) = fsFor(spark, path)
    cached(s"$path#$kind", sideFingerprint(fs, p, dirs))(load)
  }

  /** The one row of the store's `_params` sidecar. Throws Spark's
    * AnalysisException when there is none; callers turn it into their
    * own error and check the row themselves.
    */
  def readParams(spark: SparkSession, path: String): org.apache.spark.sql.Row =
    cachedSide(spark, path, "params", Seq("_params")) {
      readSidecar(spark, path, "_params").head()
    }

  /** The side table `name` (`_params`, `_meta`, `_centroids`, ...) of the
    * store at `path`, read from its listed data files. A directory read
    * of an underscore-named path gives the same rows but makes Spark log
    * `WARN DataSource: All paths were ignored` on every call. A missing
    * side table throws the PATH_NOT_FOUND AnalysisException a directory
    * read gives (the store loaders catch that type), and one with no
    * data files the UNABLE_TO_INFER_SCHEMA one.
    */
  def readSidecar(spark: SparkSession, path: String, name: String): DataFrame = {
    val (fs, p) = fsFor(spark, path)
    val dir = new Path(p, name)
    val files =
      try rawDataFiles(fs, dir)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new org.apache.spark.sql.AnalysisException("PATH_NOT_FOUND",
            Map("path" -> dir.toString), Some(e))
      }
    readFiles(spark, fs, dir, files)
  }

  /** Read exactly `files` (names relative to `dir`), with `basePath` for a
    * hive-partitioned layout so its partition columns are discovered.
    * The schema is inferred once and reused while the first file's
    * (mtime, length) is unchanged; a cached schema makes the read start
    * no Spark job. An empty list throws the same UNABLE_TO_INFER_SCHEMA
    * error a directory read of an unbuilt store does; a missing first
    * file reads uncached, so Spark's own path error surfaces.
    */
  def readFiles(spark: SparkSession, fs: FileSystem, dir: Path,
      files: Seq[String], basePath: Option[String] = None): DataFrame = {
    val paths = files.map(n => new Path(dir, n).toString)
    def reader = basePath.fold(spark.read)(spark.read.option("basePath", _))
    val fp = paths.headOption.flatMap { f =>
      try {
        val st = fs.getFileStatus(new Path(f))
        Some(s"${st.getModificationTime}:${st.getLen}")
      } catch { case _: java.io.FileNotFoundException => None }
    }
    fp match {
      case None => reader.parquet(paths: _*)
      case Some(fp) =>
        val key = s"${paths.head}#schema${basePath.fold("")("@" + _)}"
        val schema = cached(key, fp)(reader.parquet(paths: _*).schema)
        reader.schema(schema).parquet(paths: _*)
    }
  }

  /** Data file names a DIRECTORY LISTING would serve: non-underscore,
    * non-hidden plain files (sidecar dirs like `_params`, `_bands`, the
    * compaction scratch dir, `_SUCCESS` markers and `.crc` shadows are
    * all underscore/dot-prefixed).
    */
  def rawDataFiles(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName)

  private def readManifest(fs: FileSystem, dir: Path, v: Long): Seq[String] = {
    val in = fs.open(new Path(dir, f"$ManifestPrefix$v%08d"))
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    txt.split('\n').toSeq.filter(_.nonEmpty)
  }

  private def manifestVersions(fs: FileSystem, dir: Path): Seq[Long] =
    fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(ManifestPrefix))
      .flatMap(n => n.stripPrefix(ManifestPrefix).toLongOption)

  /** The newest committed manifest, if the store has one. A listed
    * version can vanish between the listing and the open — a racing
    * appender's [[pruneManifests]] (the append path prunes at >32
    * versions) deletes OLD versions, and the newest only vanishes when
    * a NEWER one was committed first — so a FileNotFound here just
    * means the listing is stale: re-list and retry instead of aborting
    * the caller (the ADVICE r14 transient-FNFE finding).
    */
  @annotation.tailrec
  def currentManifest(fs: FileSystem, dir: Path): Option[(Long, Seq[String])] = {
    val versions = manifestVersions(fs, dir)
    if (versions.isEmpty) None
    else {
      val v = versions.max
      val read =
        try Some(readManifest(fs, dir, v))
        catch { case _: java.io.FileNotFoundException => None }
      read match {
        case Some(files) => Some((v, files))
        case None => currentManifest(fs, dir)
      }
    }
  }

  /** Every file name referenced by a manifest version ≤ `maxVer` — the
    * compactor's "was committed no later than my snapshot" set. The cap
    * matters: a file referenced ONLY by a version NEWER than the
    * compactor's snapshot is a batch a racing append committed mid-fold
    * — treating it as "referenced but superseded" would DELETE a
    * just-published batch (the stale-snapshot race a review caught);
    * capped, it classifies as unreferenced and gets suspect grace
    * instead, then is spared next cycle when the fresher manifest is
    * inside the new snapshot. A data file present on disk but in NO
    * manifest ≤ maxVer is superseded garbage whose manifests were
    * pruned, a crashed writer's leftovers, or an in-flight append's
    * just-renamed parts — indistinguishable on sight, hence the
    * `_gc_suspects` grace. A manifest pruned away between the listing
    * and its read is skipped: a ref lost to pruning already degrades
    * soundly to the suspect-grace path.
    */
  def referencedEver(fs: FileSystem, dir: Path, maxVer: Long): Set[String] =
    manifestVersions(fs, dir).filter(_ <= maxVer)
      .flatMap { v =>
        try readManifest(fs, dir, v)
        catch { case _: java.io.FileNotFoundException => Seq.empty[String] }
      }.toSet

  /** How long a superseded manifest VERSION stays readable after newer
    * versions replace it — the time-travel retention clock for the
    * manifest files themselves, matching the data files' GC grace
    * ([[Sketches.SuspectGraceMs]]'s value, held separately to keep this
    * layer self-contained; var so tests can shrink it). Without this
    * gate a burst of appends could prune a version a reader pinned
    * seconds ago ("at least the grace window" would be false). The
    * clock runs from SUPERSESSION, not creation: a version's age is
    * measured by its earliest surviving successor's mtime (the moment
    * it stopped being current), so a version that was current for
    * hours still gets the full window after it is replaced — creation
    * mtime would prune it the instant a burst demotes it past keep-N
    * (a review caught that clock).
    *
    * Defaults to the DATA files' grace ([[Sketches.SuspectGraceMs]]) so
    * the two retention clocks agree out of the box: a manifest clock
    * longer than the data clock would advertise versions
    * ([[storeVersions]]) whose pinned reads fail with FileNotFound —
    * tune this knob apart from the data grace only with that trade in
    * view (shorter is always safe; longer widens the
    * advertised-but-unreadable window).
    */
  private[graft] var ManifestGraceMs: Long = Sketches.SuspectGraceMs

  /** The unconditional ceiling on manifest-file count: versions beyond
    * the newest 64 are pruned regardless of age, so a pathological
    * >64-appends-within-the-grace cadence bounds the directory's
    * metadata instead of growing it for the whole window. Pinned
    * readers under that cadence lose oldest-first — the documented
    * exception to the grace guarantee.
    */
  private val ManifestHardCap = 64

  /** Drop manifest versions beyond the newest `keep` — AGE-GATED: a
    * version younger than [[ManifestGraceMs]] survives (a reader that
    * just pinned it via [[storeVersions]]/[[readStoreAt]] gets the same
    * wall-clock isolation the data files get from the GC grace), except
    * past the [[ManifestHardCap]], which prunes unconditionally. A file
    * referenced only by a pruned manifest and absent from the current
    * one re-enters the world as "unreferenced" and is collected through
    * the suspect grace path — still sound, just one cycle slower.
    */
  def pruneManifests(fs: FileSystem, dir: Path, keep: Int): Unit = {
    // ONE listing carries every (version, mtime) pair — no per-file
    // stat round-trips (they add up on object stores when a crowded
    // store re-checks on every append)
    val pairs = fs.listStatus(dir).toSeq
      .flatMap(s => s.getPath.getName.stripPrefix(ManifestPrefix)
        .toLongOption.filter(_ => s.getPath.getName.startsWith(ManifestPrefix))
        .map(v => (v, s.getModificationTime)))
      .sortBy(_._1)
    val beyondHardCap = pairs.map(_._1).dropRight(ManifestHardCap).toSet
    val now = System.currentTimeMillis()
    pairs.dropRight(keep).zipWithIndex.foreach { case ((v, _), i) =>
      // superseded when its successor committed; the earliest SURVIVING
      // successor bounds that from above (a pruned true successor only
      // makes the estimate later = more conservative)
      val supersededAt = pairs.lift(i + 1).map(_._2).getOrElse(now)
      val inGrace = now - supersededAt <= ManifestGraceMs
      if (beyondHardCap(v) || !inGrace) {
        // surface the one documented exception to the grace guarantee
        // when it actually fires, so operators can correlate a pinned
        // read's later IllegalArgumentException with this eviction
        if (inGrace)
          log.warn(s"$dir: manifest hard cap ($ManifestHardCap) evicted " +
            s"version $v while still inside its ${ManifestGraceMs / 1000}s " +
            "retention grace (>64 newer versions landed within one " +
            "window) — a reader that pinned it will fail at read time")
        fs.delete(new Path(dir, f"$ManifestPrefix$v%08d"), false)
      }
    }
  }

  private val SuspectsName = "_gc_suspects"

  /** Names the previous compaction recorded as GC candidates (superseded
    * data files, unreferenced files, `_append_tmp-*` scratch dirs), each
    * with the epoch-millis it was FIRST recorded — the wall clock the
    * sweep's age gate runs on (a data file's own mtime is its append
    * time, which can predate its supersession by hours, so it cannot
    * bound reader isolation). Compactor-private, single-compactor
    * assumed. Pre-r15 files carried bare names; those parse as
    * "recorded now" (one extra grace period, sound).
    */
  def readSuspects(fs: FileSystem, dir: Path): Map[String, Long] = {
    val f = new Path(dir, SuspectsName)
    if (!fs.exists(f)) Map.empty
    else {
      val in = fs.open(f)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val now = System.currentTimeMillis()
      txt.split('\n').toSeq.filter(_.nonEmpty).map { line =>
        line.split('\t') match {
          case Array(n, t) => n -> t.toLongOption.getOrElse(now)
          case _ => line -> now
        }
      }.toMap
    }
  }

  def writeSuspects(fs: FileSystem, dir: Path,
      entries: Map[String, Long]): Unit = {
    val f = new Path(dir, SuspectsName)
    if (fs.exists(f)) fs.delete(f, false)
    val out = fs.create(f, true)
    try out.write(entries.toSeq.sortBy(_._1)
      .map { case (n, t) => s"$n\t$t" }.mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Record `names` in the suspects ledger NOW — called by the fold
    * commits ([[commitCarryForward]] call sites) for exactly the files
    * the new manifest replaced, so the GC grace clock runs from
    * SUPERSESSION time (the documented contract: "superseded for at
    * least the grace of wall clock"). Without this, a replaced file
    * entered the ledger only at the NEXT maintenance call's sweep —
    * silently adding one whole extra maintenance cycle before physical
    * erasure, and making "delete + one post-grace vacuum" a lie.
    * First-recorded timestamps win (a re-record never resets a clock).
    */
  def recordSuperseded(fs: FileSystem, dir: Path, names: Seq[String]): Unit = {
    if (names.isEmpty) return
    val prev = readSuspects(fs, dir)
    val now = System.currentTimeMillis()
    writeSuspects(fs, dir,
      prev ++ names.filterNot(prev.contains).map(_ -> now))
  }

  /** File names a reader should scan right now: the current manifest's
    * list, or (legacy store) the raw directory listing.
    */
  def servingFiles(fs: FileSystem, dir: Path): Seq[String] =
    currentManifest(fs, dir).map(_._2).getOrElse(rawDataFiles(fs, dir))

  /** Every manifest version currently on disk, oldest first — the
    * store's readable history. Retention: a superseded version's DATA
    * files survive for the compactor's grace window (age-gated GC), and
    * the manifest files themselves are age-gated the same way
    * ([[ManifestGraceMs]]; pruning keeps the newest 8 once a version is
    * past the grace) — so a pinned version is readable for at least the
    * grace window after it stops being current, and often much longer
    * (until the next sweep actually runs). The one exception is the
    * [[ManifestHardCap]]: more than 64 newer versions landing inside
    * one grace window evict the oldest manifests early. Same contract
    * shape as a lakehouse table's time travel vs VACUUM retention.
    */
  def storeVersions(spark: SparkSession, path: String): Seq[Long] = {
    val (fs, p) = fsFor(spark, path)
    manifestVersions(fs, p).sorted
  }

  /** Read a flat store PINNED to manifest version `version` — time
    * travel within the retention window ([[storeVersions]]): a pipeline
    * that resolves the current version once and passes it to every
    * reader gets one consistent snapshot across a whole multi-query
    * job, and a re-run against the same version is reproducible even
    * while appends land. Throws with the retention story if the
    * version's manifest was pruned or never existed; the read itself
    * fails (file not found) if the version's data files aged out of the
    * grace window and were swept.
    */
  def readStoreAt(spark: SparkSession, path: String, version: Long): DataFrame = {
    val (fs, p) = fsFor(spark, path)
    // zero files → the same UNABLE_TO_INFER_SCHEMA surface as
    // readStore's empty-current-manifest path
    readFiles(spark, fs, p, readManifestChecked(fs, p, version))
  }

  /** Manifest `version`'s file list, with a retention-aware error when
    * it is gone (shared by the flat-store and index time-travel reads).
    */
  def readManifestChecked(fs: FileSystem, dir: Path,
      version: Long): Seq[String] =
    try readManifest(fs, dir, version)
    catch {
      case _: java.io.FileNotFoundException =>
        val have = manifestVersions(fs, dir).sorted
        throw new IllegalArgumentException(
          s"$dir has no manifest version $version (available: " +
            s"${if (have.isEmpty) "none — legacy/unbuilt store" else have.mkString(", ")}). " +
            "Superseded manifests and data files are both retained for " +
            "the GC grace window (manifest pruning keeps the newest 8 " +
            "once past the grace; hard cap 64) — pin versions for at " +
            "most the retention window, or re-resolve the current one.")
    }

  /** Read a store pinned to ONE manifest resolution (or the raw listing
    * for a legacy store). A store whose CURRENT MANIFEST is empty reads
    * as zero files — NOT the raw listing, which could serve uncommitted
    * parts (crashed-append orphans) behind the manifest's back; the
    * zero-path read throws the same `UNABLE_TO_INFER_SCHEMA`
    * AnalysisException a never-built store directory does, so loader
    * error surfaces are unchanged (the ADVICE r14 empty-manifest
    * finding).
    */
  def readStore(spark: SparkSession, path: String): DataFrame = {
    val (fs, p) = fsFor(spark, path)
    currentManifest(fs, p) match {
      case None => spark.read.parquet(path)
      case Some((_, files)) => readFiles(spark, fs, p, files)
    }
  }

  // fixed stripes rather than a per-path map: a map entry per store
  // path would leak for the JVM's lifetime under churning temp stores;
  // 64 monitors give the same mutual exclusion with bounded memory
  // (false sharing between stores only serializes millisecond commits)
  private val CommitLockStripes = Array.fill(64)(new Object)
  private def commitLock(dir: Path): Object =
    CommitLockStripes(math.floorMod(dir.toString.hashCode, 64))

  /** Commit manifest version `ver` naming `files`. Atomic for readers:
    * content is fully written to a dot-hidden scratch file first, then
    * renamed into the versioned name — rename-to-fresh-target is atomic
    * on local filesystems and HDFS. Returns false (committing nothing)
    * if `ver` already exists — the optimistic-concurrency signal for
    * racing appends.
    *
    * Same-JVM commits to one store are SERIALIZED here, because the
    * local filesystem's rename is NOT atomic against an existing
    * target: the checksum/proxy local FS layers do a racy
    * check-then-act over a POSIX `rename(2)` that silently OVERWRITES,
    * so two unsynchronized committers can both "win" one version and
    * lose an update (observed: a 4-writer stress lost a commit in ~60%
    * of trials; sequentially the same rename correctly returns false).
    * HDFS refuses rename-onto-existing under its namespace lock —
    * atomic — so CROSS-JVM optimistic commits are sound there; a
    * plain-local-FS store's cross-JVM writers are refused up front by
    * the [[acquireWriterLease]] tripwire. Object stores without atomic
    * rename (classic S3A) need an external lock or a real table format
    * — the standard caveat for any manifest scheme without conditional
    * writes.
    */
  /** Filesystem schemes whose rename semantics make the manifest commit
    * protocol sound: `file` (same-JVM stripes + cross-JVM lease), `hdfs`
    * / `viewfs` (namespace-atomic rename that REFUSES an existing
    * target), `abfs`/`abfss` (ADLS Gen2 hierarchical namespace — atomic
    * rename). Everything else — most prominently classic S3A, where
    * rename is a non-atomic copy+delete and the local-FS lease is
    * skipped — would let two writers silently lose a manifest version,
    * so commits there are REFUSED up front unless the caller opts in
    * explicitly (system property `graft.store.unsafeCommits=true`, or
    * the test seam below). The production answer on such stores is an
    * external lock or a real transactional table format.
    */
  private val AtomicRenameSchemes =
    Set("file", "hdfs", "viewfs", "abfs", "abfss")

  @volatile private[graft] var UnsafeCommitsOptIn: Boolean = false

  private def requireCommitSoundScheme(fs: FileSystem, dir: Path): Unit = {
    // getUri.getScheme, not fs.getScheme: the base-class getScheme
    // THROWS UnsupportedOperationException for filesystems that never
    // override it — those should get this tripwire's explanation, not a
    // bare UOE. An unresolvable scheme ("") is NOT allowlisted: unknown
    // rename semantics are refused, never defaulted to sound.
    val scheme = fsScheme(fs)
    if (!AtomicRenameSchemes(scheme) && !UnsafeCommitsOptIn &&
        !sys.props.get("graft.store.unsafeCommits").contains("true"))
      throw new IllegalStateException(
        s"refusing to commit a store manifest on scheme '$scheme://' " +
          s"($dir): this layer's atomicity relies on rename refusing an " +
          "existing target (HDFS/ABFS) or on the local-FS writer lease — " +
          "on object stores without atomic rename (classic S3A) two " +
          "writers can silently lose a manifest version. Use an external " +
          "lock or a transactional table format (Delta/Iceberg) there, " +
          "or set -Dgraft.store.unsafeCommits=true to accept the risk " +
          "for a known-single-writer store.")
  }

  /** Early form of the tripwire for the BUILD and compaction faces: they
    * call this BEFORE their corpus-sized write, so an unsound substrate
    * is refused up front instead of after the whole store/fold has been
    * written and only the manifest commit balks (at 100 TB that ordering
    * wastes the entire write).
    */
  def requireCommitSound(spark: SparkSession, path: String): Unit = {
    val (fs, p) = fsFor(spark, path)
    requireCommitSoundScheme(fs, p)
  }

  def tryCommitManifest(fs: FileSystem, dir: Path, ver: Long,
      files: Seq[String]): Boolean = {
    requireCommitSoundScheme(fs, dir)
    commitLock(dir).synchronized {
      val target = new Path(dir, f"$ManifestPrefix$ver%08d")
      if (fs.exists(target)) return false
      val staged = new Path(dir,
        s".manifest-inprogress-$ver-${java.util.UUID.randomUUID()}")
      val out = fs.create(staged, false)
      try out.write((files.distinct.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      // a racing compactor's GC may sweep the staged file between the
      // write and this rename (stale-inprogress cleanup); a vanished
      // source is exactly "this commit did not land" — report false and
      // let the caller's loop retry, same as losing the version race
      try {
        if (fs.rename(staged, target)) true
        else { fs.delete(staged, false); false }
      } catch {
        case _: java.io.FileNotFoundException => false
      }
    }
  }

  // ---- cross-JVM writer lease (local-FS tripwire) -------------------------

  /** This JVM's writer identity — stable for the process lifetime,
    * unique across processes (PID@host plus a random component against
    * PID reuse).
    */
  private[graft] val JvmWriterId: String =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getName + "/" +
      java.util.UUID.randomUUID().toString.take(8)

  /** How stale another JVM's `_writer_lock` heartbeat must be before a
    * new writer may take the lease over. Var only so tests can shrink
    * the window; production value trades a false refusal (a second JVM
    * starting within the window of the first's LAST write) against the
    * tripwire's whole point — refusing a genuinely concurrent writer.
    */
  private[graft] var WriterLeaseMs: Long = 5L * 60 * 1000

  private val WriterLockName = "_writer_lock"

  /** Refuse a second JVM's writes to a plain-LOCAL-FS store while
    * another JVM's writer lease is fresh (r14 verdict: optimistic
    * manifest commits are only sound same-JVM on local FS, because its
    * rename silently overwrites existing targets — without this
    * tripwire a second JVM would silently LOSE a manifest version).
    * The lease is a heartbeat file: each acquire by the owner refreshes
    * its mtime; a foreign writer is refused while the heartbeat is
    * younger than [[WriterLeaseMs]] and takes the lease over once it is
    * older (crashed owner). Writers acquire at operation START and
    * RE-ACQUIRE immediately before their manifest commit: a data write
    * that outlasts the lease window can lose the lease to a takeover,
    * and the pre-commit re-acquire then throws on the fresh foreign
    * heartbeat — the stale writer fails loudly BEFORE committing
    * instead of silently overwriting the taker's manifest version.
    * Best-effort by design — two JVMs' FIRST writes can still race
    * through the create window — but it converts the common
    * silent-corruption cases into loud, actionable errors.
    * Non-local filesystems (HDFS: atomic namespace rename) skip it
    * entirely; same-JVM concurrency is already serialized by the
    * commit-lock stripes.
    */
  def acquireWriterLease(fs: FileSystem, dir: Path): Unit = {
    if (fsScheme(fs) != "file") return
    commitLock(dir).synchronized {
      val lock = new Path(dir, WriterLockName)
      def writeLease(overwrite: Boolean): Boolean =
        try {
          val out = fs.create(lock, overwrite)
          try out.write(JvmWriterId.getBytes("UTF-8")) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      val status =
        try Some(fs.getFileStatus(lock))
        catch { case _: java.io.FileNotFoundException => None }
      status match {
        case None =>
          writeLease(overwrite = false) // loser re-enters via next acquire
        case Some(st) =>
          val in = fs.open(lock)
          val holder =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
          if (holder == JvmWriterId) {
            // heartbeat: refresh the lease. setTimes over the checksum
            // local FS quietly no-ops on some layers — rewrite instead
            writeLease(overwrite = true)
          } else {
            val age = System.currentTimeMillis() - st.getModificationTime
            if (age <= WriterLeaseMs)
              throw new IllegalStateException(
                s"$dir is being written by another JVM (writer lease " +
                  s"'$holder', heartbeat ${age / 1000}s old ≤ lease " +
                  s"${WriterLeaseMs / 1000}s). Plain-local-FS manifest " +
                  "commits are not atomic across JVMs, so concurrent " +
                  "cross-JVM writers would silently lose versions. Wait " +
                  "for the lease to expire (crashed owner) or stop the " +
                  "other writer; delete _writer_lock only if you are " +
                  "certain no other writer is live.")
            writeLease(overwrite = true) // expired: take over
          }
      }
    }
  }

  // ---- idempotent-append batch markers -------------------------------------

  private val AppendsDirName = "_appends"

  /** Extracts the batch id from an `append-<id>-p%05d.parquet` name. */
  private[graft] val AppendFileName =
    "^append-(.+)-p\\d{5}\\.parquet$".r

  /** True iff `name` is one of batch `id`'s append files — EXACT id
    * equality on the regex-extracted id, never a prefix test: ids may
    * contain dashes, so `startsWith("append-b1-")` would also match
    * batch "b1-x"'s files (falsely skipping batch b1 forever, or a
    * retry's leftover sweep deleting a sibling batch's live parts — a
    * review-caught silent-loss pair).
    */
  def isBatchFile(name: String, id: String): Boolean =
    name match {
      case AppendFileName(bid) => bid == id
      case _ => false
    }

  private def markerPath(dir: Path, batchId: String): Path =
    new Path(new Path(dir, AppendsDirName), batchId)

  /** True iff `batchId` has a committed-batch marker under this store. */
  def hasBatchMarker(fs: FileSystem, dir: Path, batchId: String): Boolean =
    fs.exists(markerPath(dir, batchId))

  /** Record `batchId` as committed (idempotent; an existing marker or a
    * racing creator is success).
    */
  def writeBatchMarker(fs: FileSystem, dir: Path, batchId: String): Unit = {
    val m = markerPath(dir, batchId)
    fs.mkdirs(m.getParent)
    try fs.create(m, false).close()
    catch { case _: java.io.IOException => () } // already marked
  }

  /** Drop markers older than `olderThanMs` — called from compaction GC so
    * the `_appends` ledger stays bounded at one tiny file per RECENT
    * batch. Every pruned id is first folded into the `_appends_pruned`
    * bloom ([[requireBatchNotPruned]]), the O(1)-bytes third idempotence
    * trail: a retry arriving after BOTH the marker prune and a
    * compaction fold (which erased the manifest's `append-<id>` names)
    * used to silently double-append — the r15 verdict's "one place
    * exactly-once is time-boxed" — and now fails loudly instead.
    */
  def pruneBatchMarkers(fs: FileSystem, dir: Path, olderThanMs: Long): Unit = {
    val d = new Path(dir, AppendsDirName)
    if (!fs.exists(d)) return
    val now = System.currentTimeMillis()
    val stale = fs.listStatus(d).toSeq
      .filter(st => now - st.getModificationTime > olderThanMs)
    if (stale.isEmpty) return
    // bloom DURABLY BEFORE delete: the markers are removed only when the
    // bloom write landed, so a crash or failed write leaves the id with
    // both trails (marker wins, the retry no-ops) — never with neither.
    // On failure the markers simply survive to the next prune cycle.
    if (recordPrunedBatchIds(fs, dir, stale.map(_.getPath.getName)))
      stale.foreach(st => fs.delete(st.getPath, false))
    else
      log.warn(s"$dir: pruned-batch bloom update failed — keeping " +
        s"${stale.size} stale markers for the next cycle (idempotence " +
        "trails stay intact)")
  }

  // ---- pruned-batch bloom: the third idempotence trail ---------------------

  private val PrunedBloomName = "_appends_pruned"

  /** Sizing: spark-sketch derives the bit count for ~1M pruned ids at
    * 1e-6 fpp (~3.4 MiB). A false positive refuses ONE fresh id with a
    * re-key instruction — recoverable; a false NEGATIVE merely degrades
    * to the pre-bloom behavior for that id. Past the design capacity
    * the fp rate climbs until fresh ids are refused often — the error
    * text names the remediation (delete the sidecar to reset the
    * trail, re-accepting the pre-bloom window for already-pruned ids).
    */
  private val BloomCapacity = 1000000L
  private val BloomFpp = 1e-6

  private def fsScheme(fs: FileSystem): String =
    Option(fs.getUri).flatMap(u => Option(u.getScheme))
      .map(_.toLowerCase).getOrElse("")

  // the ledger bloom is cached in [[metaCache]] (the bloom only changes at
  // marker-prune time, and without the cache every batchId append would
  // re-read megabytes), on the LOCAL FS ONLY: there the writer lease
  // serializes cross-JVM writers, so a same-(name, mtime, len) rewrite
  // behind a cached reader's back cannot happen; on shared filesystems
  // (HDFS), where multi-JVM appenders are allowed and two prunes could
  // land inside one mtime tick, every read goes to the file
  private def bloomCacheable(fs: FileSystem): Boolean = fsScheme(fs) == "file"
  private def bloomKey(dir: Path): String = s"$dir#bloom"

  // The ledger is VERSIONED since r17: `_appends_pruned-%08d`, committed
  // create-exclusive like manifests, readers resolve the newest. The
  // pre-r17 unversioned `_appends_pruned` file is read as version 0 and
  // folded into v1 by the first versioned commit. The regex accepts
  // 8-OR-MORE digits: %08d grows past 99,999,999 and a version the
  // readers can't resolve would freeze the ledger at the previous one
  // (review-caught).
  private val PrunedBloomVersioned = (PrunedBloomName + "-(\\d{8,})").r

  /** Newest ledger version in `dir`: (version, path), the legacy
    * unversioned file counting as version 0. None = no ledger yet.
    * Server-side glob, not a listStatus of the whole store root — a
    * flat store can hold thousands of part files and this runs on
    * every batchId append (review-caught).
    */
  private def newestPrunedBloom(fs: FileSystem,
      dir: Path): Option[(Long, Path)] = {
    val listed =
      try Option(fs.globStatus(new Path(dir, PrunedBloomName + "*")))
        .map(_.toSeq).getOrElse(Seq.empty)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val versioned = listed.flatMap(st => st.getPath.getName match {
      case PrunedBloomVersioned(v) => Some((v.toLong, st.getPath))
      case _ => None
    })
    if (versioned.nonEmpty) Some(versioned.maxBy(_._1))
    else listed.find(_.getPath.getName == PrunedBloomName)
      .map(st => (0L, st.getPath))
  }

  /** Read the bloom at an already-resolved ledger file; None when it
    * vanished between resolution and open.
    */
  private def readBloomAt(fs: FileSystem, dir: Path,
      f: Path): Option[org.apache.spark.util.sketch.BloomFilter] = {
    val status =
      try Some(fs.getFileStatus(f))
      catch { case _: java.io.FileNotFoundException => None }
    status.flatMap { st =>
      // the NAME is part of the fingerprint: versioned commits never
      // rewrite a file in place, so (name, mtime, len) is stable
      val fp = s"${f.getName}:${st.getModificationTime}:${st.getLen}"
      def load(): org.apache.spark.util.sketch.BloomFilter = {
        val in = fs.open(f)
        try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
      }
      try Some(
        if (bloomCacheable(fs)) cached(bloomKey(dir), fp)(load())
        else load())
      catch { case _: java.io.FileNotFoundException => None }
    }
  }

  /** Newest ledger bloom. A file can vanish between the glob and the
    * open (a racing committer's sweep) — but at [[requireBatchNotPruned]]
    * a silent miss ADMITS a possibly-pruned batch, so a vanished file is
    * re-resolved (the racing commit left a NEWER file with a superset of
    * the bits) up to 3 times, mirroring the manifest reader's
    * vanished-version retry. None only when no ledger file exists at
    * all after a fresh look.
    */
  private def readPrunedBloom(fs: FileSystem,
      dir: Path): Option[org.apache.spark.util.sketch.BloomFilter] = {
    var attempt = 0
    while (attempt < 3) {
      newestPrunedBloom(fs, dir) match {
        case None => return None // genuinely no ledger
        case Some((_, f)) =>
          readBloomAt(fs, dir, f) match {
            case some @ Some(_) => return some
            case None => attempt += 1 // vanished: re-resolve the newer one
          }
      }
    }
    log.warn(s"$dir: pruned-batch ledger kept vanishing across 3 " +
      "re-resolutions — treating as absent for this one check")
    None
  }

  /** Fold `ids` into the store's pruned-batch bloom; true iff the update
    * is durably in place (the caller deletes markers ONLY then).
    *
    * CONCURRENCY (r16 ADVICE; protocol hardened in r17 after review):
    * this is a read-modify-write, and [[pruneBatchMarkers]] runs it on
    * every append path — two unsynchronized pruners folding DIFFERENT
    * stale id sets must not lose either set (a lost id's markers are
    * already deleted, so a late retry would silently double-append into
    * a linear store). The commit is therefore the MANIFEST protocol, not
    * a rewrite-in-place: read the newest `_appends_pruned-%08d`, union
    * the new ids, stage, and rename to version+1 — create-exclusive, so
    * on the allowlisted shared filesystems (HDFS: rename REFUSES an
    * existing target) a racing pruner's commit makes ours FAIL LOUDLY
    * instead of silently winning; the loser re-reads the winner's file
    * (which has the winner's ids), unions, and commits the next version
    * — an optimistic loop that converges to the superset with no window
    * in which a committed id can vanish. (The previous
    * write-then-verify-union scheme could still lose ids when a
    * competitor's overwrite landed AFTER a writer's successful verify —
    * the review-caught hole this versioning closes.) Same-JVM pruners
    * additionally serialize on [[commitLock]]; plain local FS (where
    * rename overwrites silently) is safe through lock + writer lease;
    * unsafe-opt-in object stores are single-writer by contract. After a
    * successful commit, versions older than the immediately previous one
    * are swept (a reader between listing and open survives a vanished
    * file as a one-check miss — [[readPrunedBloom]]). Every won commit is
    * additionally READ BACK from the newest resolved version before it
    * counts (r17 ADVICE): a local-FS cross-JVM overwrite of our just-won
    * version — already a lease violation — is detected as missing ids and
    * retried instead of silently losing them; only an overwrite landing
    * after the read-back survives, the residual window documented at the
    * verify site.
    */
  private def recordPrunedBatchIds(fs: FileSystem, dir: Path,
      ids: Seq[String]): Boolean = commitLock(dir).synchronized {
    if (ids.isEmpty) return true
    try {
      var attempts = 0
      while (attempts < 8) {
        attempts += 1
        // ONE resolution per attempt (the bloom read takes the resolved
        // path instead of re-globbing)
        val cur = newestPrunedBloom(fs, dir)
        val curVer = cur.map(_._1).getOrElse(-1L)
        val bloom = cur.flatMap { case (_, f) => readBloomAt(fs, dir, f) }
          .getOrElse(org.apache.spark.util.sketch.BloomFilter
            .create(BloomCapacity, BloomFpp))
        ids.foreach(bloom.putString)
        val target = new Path(dir, f"$PrunedBloomName-${curVer + 1}%08d")
        val tmp = new Path(dir,
          s".$PrunedBloomName-${java.util.UUID.randomUUID().toString.take(8)}")
        // any failure from create to rename deletes the staging file —
        // nothing else ever sweeps this dot-prefix (review-caught leak)
        val won =
          try {
            val out = fs.create(tmp, true)
            try bloom.writeTo(out) finally out.close()
            // create-exclusive commit: an existing target (a racing
            // pruner won this version) fails the rename on HDFS; the
            // pre-check covers local FS, whose rename silently
            // overwrites (there the stripe lock + writer lease make the
            // race impossible anyway)
            !fs.exists(target) && fs.rename(tmp, target)
          } catch {
            case scala.util.control.NonFatal(e) =>
              try fs.delete(tmp, false)
              catch { case scala.util.control.NonFatal(_) => () }
              throw e
          }
        if (!won) {
          fs.delete(tmp, false)
          // loop: re-read the winner's bloom (it has the winner's ids),
          // union ours in, try the next version
        } else {
          // READ-BACK VERIFY (r17 ADVICE): on local FS the
          // create-exclusive commit degrades to a non-atomic
          // exists-then-rename (local rename silently overwrites), so a
          // cross-JVM racer could have clobbered the version we just
          // committed. Re-resolve the newest ledger and confirm it still
          // holds every id BEFORE the caller deletes markers — our own
          // file, or a successor that unioned it, both pass; a clobber
          // loses some id and sends us back around the loop. Residual
          // window (documented, not closable from here): an overwrite
          // landing AFTER this read passes unverified — on the
          // allowlisted shared filesystems the create-exclusive rename
          // makes that impossible, and on local FS the commit-lock
          // stripe plus the writer lease make a concurrent cross-JVM
          // pruner a contract violation to begin with; the verify turns
          // the violation's most likely schedule from silent id loss
          // into a retry.
          val readBack = newestPrunedBloom(fs, dir) match {
            case Some((v2, f2)) if v2 > curVer =>
              readBloomAt(fs, dir, f2)
                .exists(b2 => ids.forall(b2.mightContainString))
            case _ => false // ledger regressed below our commit: retry
          }
          if (!readBack) {
            log.warn(s"$dir: pruned-batch ledger read-back after commit " +
              s"v${curVer + 1} is missing ids — a concurrent overwrite; " +
              "retrying the commit")
          } else {
          if (bloomCacheable(fs)) {
            val st = fs.getFileStatus(target)
            metaCache.put(bloomKey(dir),
              (s"${target.getName}:${st.getModificationTime}:${st.getLen}",
                bloom))
          }
          // sweep superseded versions, keeping the immediately previous
          // one as the in-flight readers' window; the legacy unversioned
          // file (readable only when curVer == 0) is folded in by
          // construction and swept too — a reader that raced the sweep
          // re-resolves to the newer superset file (readPrunedBloom)
          try {
            Option(fs.globStatus(new Path(dir, PrunedBloomName + "*")))
              .map(_.toSeq).getOrElse(Seq.empty).foreach { st =>
                st.getPath.getName match {
                  case PrunedBloomVersioned(v) if v.toLong < curVer =>
                    fs.delete(st.getPath, false)
                  case PrunedBloomName =>
                    fs.delete(st.getPath, false)
                  case _ => ()
                }
              }
          } catch { case scala.util.control.NonFatal(_) => () }
          return true
          }
        }
      }
      log.warn(s"$dir: pruned-batch bloom lost 8 consecutive version " +
        "races — keeping markers for the next cycle")
      false
    } catch {
      case scala.util.control.NonFatal(e) =>
        log.warn(s"$dir: pruned-batch bloom write failed: $e")
        false
    }
  }

  /** True iff `batchId` is in the pruned-marker bloom ledger — the
    * boolean face of [[requireBatchNotPruned]], for callers that need
    * the evidence signal without the refusal (the drop face's
    * was-it-ever-committed triage).
    */
  private[graft] def batchIdPruned(fs: FileSystem, dir: Path,
      batchId: String): Boolean =
    readPrunedBloom(fs, dir).exists(_.mightContainString(batchId))

  /** The loud-staleness gate both append paths run after the marker and
    * manifest-evidence checks miss: a batchId in the pruned bloom was
    * (all but certainly) committed earlier, folded by a compaction, and
    * its marker aged out — re-appending it would double-count in the
    * linear stores with no error, so refuse instead.
    */
  def requireBatchNotPruned(fs: FileSystem, dir: Path, batchId: String): Unit =
    if (batchIdPruned(fs, dir, batchId))
      throw new IllegalStateException(
        s"batch '$batchId' at $dir has no live idempotence evidence but " +
          "its id is in the pruned-marker ledger (_appends_pruned): it " +
          "was committed earlier and both its marker and its manifest " +
          "file names have since aged out (compaction fold + marker " +
          "prune past the grace window), so re-appending would silently " +
          "double-count. Retries must come within the grace window. If " +
          "this is genuinely a NEW batch (false positive, ~1e-6 within " +
          "the ledger's ~1M-id design capacity), use a different " +
          "batchId; if the store has pruned far beyond that capacity, " +
          "delete the _appends_pruned* sidecar files to reset the trail " +
          "(re-accepting the pre-bloom retry window for already-pruned " +
          "ids).")

  // ---- drop (retraction) completion markers ---------------------------------

  private val DropsDirName = "_drops"

  private def dropMarkerPath(dir: Path, batchId: String): Path =
    new Path(new Path(dir, DropsDirName), batchId)

  /** True iff `batchId` was dropped from this store by a COMPLETED
    * [[Sketches.dropBatchFromStore]] (the marker is the drop's
    * completion record, written after its manifest commit).
    */
  def hasDropMarker(fs: FileSystem, dir: Path, batchId: String): Boolean =
    fs.exists(dropMarkerPath(dir, batchId))

  /** Record `batchId` as dropped (idempotent). Drop markers are NEVER
    * pruned: retractions are orders of magnitude rarer than appends
    * (erasure requests, not batch cadence), so one empty file per drop
    * is bounded by the real-world event rate — and an unpruned marker
    * is what keeps a late drop retry a clean no-op forever instead of
    * the folded-or-dropped error a pruned trail would force.
    */
  def writeDropMarker(fs: FileSystem, dir: Path, batchId: String): Unit = {
    val m = dropMarkerPath(dir, batchId)
    fs.mkdirs(m.getParent)
    try fs.create(m, false).close()
    catch { case _: java.io.IOException => () } // already marked
  }

  /** Ensure every append batch whose files appear in `names` carries a
    * committed-batch marker — called by the compactor BEFORE its commit
    * replaces those names, closing the one idempotence hole: a batch
    * whose manifest commit landed but whose marker-create crashed would
    * otherwise lose both evidence trails when compaction rewrites the
    * manifest, and a late retry would double-append it.
    */
  def markBatchesIn(fs: FileSystem, dir: Path, names: Seq[String]): Unit =
    names.collect { case AppendFileName(id) => id }.distinct
      .foreach(writeBatchMarker(fs, dir, _))

  /** Append a batch's parts to `path`: `write` lands them in a PRIVATE
    * underscore-hidden scratch directory (so concurrent appends never
    * share a Hadoop committer `_temporary` — same-directory concurrent
    * `mode("append")` writes clobber each other's staging under
    * committer v1, which is exactly what a test of the naive form
    * caught), then the parts are renamed into the store under
    * append-unique names (boolean checked — a failed rename throws with
    * the scratch intact) and, if the store is manifested, the manifest
    * is extended with exactly those names (create-exclusive commit,
    * retried under racing appends — each committed version is a
    * superset of its writer's files). A legacy (manifest-less) store is
    * bootstrapped onto a manifest before the write, so EVERY appended
    * batch is all-or-nothing behind a manifest commit.
    *
    * `batchId` (optional) buys EXACTLY-ONCE RETRIES: part names become
    * deterministic in the id, a committed batch is recorded in
    * `_appends/<id>`, and a re-append of the same id is a no-op — checked
    * against the marker first, then against the current manifest's names
    * (covering a crash between manifest commit and marker create;
    * compaction writes markers for every append batch it folds, so the
    * evidence survives manifest rewrites). A retry after a crash MID-
    * append first sweeps the crashed attempt's renamed-but-unmanifested
    * parts (they were never served) and then lands the batch once. Ids
    * must be filename-safe; concurrent appends of the SAME id are a
    * caller error (distinct ids remain fully concurrent-safe).
    *
    * Crash windows (no batchId): before the renames — only hidden
    * scratch remains (never served; swept by compaction's suspect
    * grace); between rename and manifest commit — the parts are
    * unreferenced (never served, swept later), so the caller's retry
    * cannot double-count.
    *
    * BATCH IDS ARE PERMANENTLY CONSUMED per store — never recycle one
    * for genuinely new data. Once a committed id's marker ages out, the
    * id lives on in the `_appends_pruned` bloom ledger forever (bloom
    * bits cannot be unset), so a NEW batch reusing the string is
    * refused with a was-committed-earlier error even though its data
    * was never appended. The same holds for an id that only ever
    * no-op'd through the manifest-evidence repair path: the repaired
    * marker is pruned and bloomed like any other. Use monotonic or
    * UUID-derived ids (the streaming faces' `<queryId>-<batchId>` nonce
    * is the model). Resetting the ledger — deleting the
    * `_appends_pruned*` sidecar files — re-accepts the pre-bloom retry
    * window for EVERY already-pruned id and is a store-admin action,
    * not an append-path workaround.
    */
  def appendRecorded(spark: SparkSession, path: String,
      batchId: Option[String] = None)(
      write: String => Unit): Unit = {
    val (fs, p) = fsFor(spark, path)
    acquireWriterLease(fs, p)
    batchId.foreach(id =>
      require(id.nonEmpty && id.forall(c => c.isLetterOrDigit ||
        c == '-' || c == '_' || c == '.'),
        s"batchId must be filename-safe ([A-Za-z0-9._-]+): '$id'"))
    if (batchId.exists(hasBatchMarker(fs, p, _)))
      return // batch already committed
    // bootstrap a legacy (manifest-less) store onto a manifest FIRST:
    // without one, a crash mid-rename below would leave a PARTIAL batch
    // visible to the raw listing — strictly worse than the committer's
    // all-or-nothing job commit the old mode("append") write had. A
    // bare tryCommit (not initManifest, whose stale-cleanup could race
    // a concurrent bootstrapper's fresh v1) — the loser of a racing
    // bootstrap just reads the winner's
    if (currentManifest(fs, p).isEmpty)
      tryCommitManifest(fs, p, 1L, rawDataFiles(fs, p))
    val nonce = batchId.getOrElse(
      java.util.UUID.randomUUID().toString.take(8))
    // second idempotence trail: the manifest already names this batch
    // (crash landed between its commit and its marker) — repair the
    // marker and skip
    if (batchId.exists(id => currentManifest(fs, p).exists(_._2.exists(
        isBatchFile(_, id))))) {
      writeBatchMarker(fs, p, batchId.get)
      return
    }
    // third idempotence trail: loud refusal for a retry that outlived
    // BOTH the marker and the manifest evidence (post-fold, post-prune)
    batchId.foreach(requireBatchNotPruned(fs, p, _))
    // a PRIOR attempt's renamed-but-uncommitted leftovers would collide
    // with this attempt's deterministic names: sweep them (unreferenced
    // by the checks above — never served)
    batchId.foreach(id =>
      rawDataFiles(fs, p).filter(isBatchFile(_, id))
        .foreach(n => fs.delete(new Path(p, n), false)))
    val scratch = new Path(p, s"_append_tmp-$nonce")
    if (batchId.isDefined && fs.exists(scratch))
      fs.delete(scratch, true) // crashed attempt's scratch
    write(scratch.toString)
    val parts = fs.listStatus(scratch).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName.toString)
    val names = parts.indices.map(i => f"append-$nonce-p$i%05d.parquet")
    parts.zip(names).foreach { case (src, name) =>
      val dst = new Path(p, name)
      if (!fs.rename(src, dst))
        throw new java.io.IOException(
          s"appendRecorded: rename $src -> $dst failed (returned false); " +
            "the batch is intact in the scratch dir and nothing is " +
            "served — re-append to retry")
    }
    fs.delete(scratch, true)
    if (currentManifest(fs, p).isDefined && names.nonEmpty) {
      // re-acquire before committing: the data write above can outlast
      // the lease window, and a second JVM may have taken the lease
      // over mid-write — this refresh either re-asserts ownership or
      // THROWS on a fresh foreign heartbeat, so the stale writer fails
      // loudly before its commit instead of silently colliding
      acquireWriterLease(fs, p)
      extendManifest(fs, p, names)
      batchId.foreach(writeBatchMarker(fs, p, _))
      pruneCrowdedManifests(fs, p)
      // bound the marker ledger at append-rate × grace window even when
      // no compaction ever runs (an append-only store with the valve
      // off previously accumulated one marker file per batch FOREVER);
      // pruned ids fall into the _appends_pruned bloom, so late retries
      // still fail loudly (the IVF append path has done this since r15)
      pruneBatchMarkers(fs, p, Sketches.SuspectGraceMs)
    }
  }

  /** The compactor's garbage-collection step, shared by the flat-store
    * fold ([[Sketches.compactReplace]]) and the partitioned ANN index
    * fold ([[Similarity.compactIvfIndex]]). `raw` is the layout's own
    * data-file listing (flat names for a flat store, `__list=N/<file>`
    * relative names for an index — every check below resolves names
    * against `dir`, and the class-(b) prefix test matches the name's
    * LAST path segment, so both layouts share one rule set). Three
    * evidence classes, because a file on disk that the CURRENT manifest
    * doesn't name is not necessarily garbage — it may be an IN-FLIGHT
    * append's just-renamed parts, indistinguishable from a crashed
    * append's without a clock:
    *
    *  (a) SUPERSEDED — referenced by some manifest ≤ the compactor's
    *      snapshot version but not the current one (a part an earlier
    *      compaction replaced): definite garbage, but NOT swept on
    *      sight — recorded in `_gc_suspects` with a timestamp and
    *      deleted only once superseded for at least `graceMs` of WALL
    *      CLOCK. A cycle count alone was the r14 gap: the auto-compact
    *      valve can run two compactions seconds apart, vacuuming a slow
    *      reader's pinned snapshot mid-scan; the clock bounds reader
    *      isolation at the grace window regardless of compaction
    *      cadence. (The file's own mtime is its APPEND time — useless
    *      here, it can predate the supersession by hours.) The
    *      referenced-ever evidence is CAPPED at the snapshot version: a
    *      file referenced only by a NEWER manifest is a racing append's
    *      just-published batch — uncapped, it would read as "referenced
    *      but superseded" and be deleted while the current manifest
    *      names it.
    *  (b) THIS attempt's own debris — files wearing this version's
    *      compact-v prefix, swept only when the attempt marker
    *      (`_compact_tmp`) exists (a crashed/failed prior attempt). A
    *      foreign file squatting on a target name with no attempt in
    *      flight is NOT silently destroyed: the caller's rename fails
    *      loudly and the retry (tmp now present) sweeps it.
    *  (c) UNREFERENCED-BY-ANY-MANIFEST — crashed append leftovers OR a
    *      live append that has renamed its parts in but not yet
    *      committed its manifest. Swept only when recorded at least a
    *      full grace window ago AND the file's mtime is older than the
    *      grace too (a scratch dir's mtime refreshes as its write lands
    *      task files, so a LIVE append looks young by construction;
    *      recording time alone would sweep a long write's live
    *      scratch). The same rule covers `_append_tmp-*` scratch dirs
    *      and `.manifest-inprogress-*` strays at the store root.
    *
    * Survivors are re-recorded KEEPING their first-recorded timestamp
    * (re-stamping would reset the age clock forever under a fast
    * compaction cadence), and batch markers older than the grace are
    * pruned (retries must come within the window — [[appendRecorded]]'s
    * contract).
    */
  private[graft] def gcSweep(fs: FileSystem, p: Path, curVer: Long,
      curSet: Set[String], raw: Seq[String], attemptInFlight: Boolean,
      nextPrefix: String, graceMs: Long): Unit = {
    def leaf(n: String): String = n.split('/').last
    val everRef = referencedEver(fs, p, curVer)
    val now = System.currentTimeMillis()
    val prevSuspects = readSuspects(fs, p)
    def recordedOldEnough(n: String): Boolean =
      prevSuspects.get(n).exists(now - _ > graceMs)
    def mtimeOldEnough(n: String): Boolean =
      try now - fs.getFileStatus(new Path(p, n)).getModificationTime >
        graceMs
      catch { case _: java.io.FileNotFoundException => false }
    val superseded = raw.filter(n => everRef(n) && !curSet(n))   // (a)
    val sweptSuperseded = superseded.filter(recordedOldEnough)
    sweptSuperseded.foreach(n => fs.delete(new Path(p, n), true))
    if (attemptInFlight)                                          // (b)
      raw.filter(n => leaf(n).startsWith(nextPrefix))
        .foreach(n => fs.delete(new Path(p, n), true))
    val unref = raw.filterNot(n => everRef(n) ||                  // (c)
      (attemptInFlight && leaf(n).startsWith(nextPrefix)))
    val sweptUnref = unref.filter(n =>
      recordedOldEnough(n) && mtimeOldEnough(n))
    sweptUnref.foreach(n => fs.delete(new Path(p, n), true))
    val transient = fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("_append_tmp-") ||
        n.startsWith(".manifest-inprogress-"))
    val sweptTransient = transient.filter(n =>
      recordedOldEnough(n) && mtimeOldEnough(n))
    sweptTransient.foreach(n => fs.delete(new Path(p, n), true))
    val survivors = (superseded diff sweptSuperseded) ++
      (unref diff sweptUnref) ++ (transient diff sweptTransient)
    writeSuspects(fs, p,
      survivors.map(n => n -> prevSuspects.getOrElse(n, now)).toMap)
    pruneBatchMarkers(fs, p, graceMs)
  }

  /** The compactor's COMMIT — one atomic manifest create flips readers
    * over. CARRY-FORWARD MERGE: files the current manifest names that
    * were NOT part of the fold input (`foldedSet`) are batches appended
    * while the fold ran — they ride into the new manifest untouched, so
    * a racing append can never be un-published by the compaction's
    * commit. A version collision means an append just committed:
    * re-read and retry (single-COMPACTOR is still assumed; appends are
    * free).
    */
  private[graft] def commitCarryForward(fs: FileSystem, p: Path,
      newNames: Seq[String], foldedSet: Set[String], what: String): Unit = {
    var committed = false
    var attempts = 0
    while (!committed) {
      attempts += 1
      if (attempts > 50)
        throw new java.io.IOException(
          s"$what: could not commit a manifest for $p after " +
            "50 attempts (manifest versions kept advancing)")
      val (v2, cur2) = currentManifest(fs, p).get
      committed = tryCommitManifest(fs, p, v2 + 1,
        newNames ++ cur2.filterNot(foldedSet))
    }
  }

  /** Amortized manifest-file GC shared by every append path: an
    * append-forever store would otherwise accumulate one cumulative
    * manifest per append — O(n²) manifest bytes and an ever-longer
    * listing. Refs that existed only in pruned versions degrade to the
    * compactor's suspect grace, which is sound.
    */
  def pruneCrowdedManifests(fs: FileSystem, p: Path): Unit =
    if (manifestVersions(fs, p).size > 32) pruneManifests(fs, p, keep = 8)

  /** Extend the current manifest with `names` — the optimistic
    * create-exclusive commit loop shared by every append path: a
    * version collision means another writer just committed, so re-read
    * and retry; every committed version is a superset of this writer's
    * names.
    */
  def extendManifest(fs: FileSystem, p: Path, names: Seq[String]): Unit = {
    var committed = false
    var attempts = 0
    while (!committed) {
      attempts += 1
      if (attempts > 50)
        throw new java.io.IOException(
          s"extendManifest: could not commit a manifest for $p after " +
            "50 attempts (manifest versions kept advancing)")
      val (ver, cur) = currentManifest(fs, p).getOrElse((0L, Seq.empty))
      committed = tryCommitManifest(fs, p, ver + 1, cur ++ names)
    }
  }

  /** Bootstrap a manifest over a fresh/overwritten store directory
    * (called by the build faces right after their overwrite write):
    * version 1 names exactly the files just written.
    */
  def initManifest(spark: SparkSession, path: String): Unit = {
    val (fs, p) = fsFor(spark, path)
    initManifestNaming(fs, p, rawDataFiles(fs, p))
  }

  /** [[initManifest]] with an explicit file list — for layouts whose
    * data files are not flat root files (the hive-partitioned ANN
    * indexes name `__list=N/<file>` relative paths).
    */
  def initManifestNaming(fs: FileSystem, p: Path,
      files: Seq[String]): Unit = {
    // scheme tripwire BEFORE the destructive cleanup below — otherwise
    // an unsound-scheme build would delete the previous build's
    // manifests and only then be refused by the commit
    requireCommitSoundScheme(fs, p)
    // an overwrite may leave stale manifests from a previous build at
    // this path — remove them so v1 is the store's first version again
    fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(ManifestPrefix))
      .foreach(fs.delete(_, false))
    tryCommitManifest(fs, p, 1L, files)
  }
}
