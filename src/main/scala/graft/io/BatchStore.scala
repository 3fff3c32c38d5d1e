package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.TrainPrep.{pinTracked, unpinTracked}

/** The exactly-once, snapshot-isolated commit discipline shared by every
  * persisted incremental store in the engine (the media fingerprint
  * store, the MinHash band snapshot behind delta-dedup and the CDC chunk
  * store). One instance = one store root + its catalog subdirectories
  * (all parquet, flat per catalog).
  *
  * The lifecycle is written here once; a store supplies only its rows,
  * through three entry points:
  *   - [[bootstrap]]: one frame per catalog, written mode-overwrite and
  *     published as snapshot 0 with the frames' schemas;
  *   - [[append]]: a body that lands frames per catalog through the
  *     lander it is handed, run exactly once per batch tag;
  *   - [[vacuum]]: the live doc_ids, plus a key frame derived from them
  *     for a catalog not keyed by doc_id; rows whose key is live stay.
  * [[compact]], [[recover]] and [[reapRetired]] need no rows at all.
  *
  * == Append idempotence: namespaced batch flags ==
  *
  * Every append runs under a batch TAG, lands its rows as
  * `batch<tag>-*`-prefixed files in each catalog it touches, and commits
  * a root `_batch-<tag>` flag LAST. Committed tag → replay is a no-op;
  * uncommitted tag → the append first deletes the tag's files from
  * every catalog, restoring the exactly-before-this-batch state, and
  * redoes the whole batch — replay rewrites, never duplicates.
  * Tags live in two DISJOINT namespaces: caller-supplied ids (a
  * streaming sink's checkpointed batch ids) use the bare numeric tag;
  * self-allocating callers draw `m<N>` MANUAL tags — so an ad-hoc append
  * can never pre-commit the flag a restarted stream's next real batch id
  * would present. [[compact]] rolls each namespace's contiguous
  * committed prefix up into a `_batchmark-<ns><N>` watermark, keeping
  * the root listing O(exceptions) rather than O(batches ever ingested).
  *
  * == Reader snapshot isolation: metadata-pointer commits ==
  *
  * Committed files are never renamed or deleted by a completing
  * maintenance move. [[compact]]/[[vacuum]] land rewritten files
  * under `fold-<token>-*` names ALONGSIDE the originals, then commit by
  * publishing a root snapshot (`_snapfiles-<k>` file list + `_snap-<k>`
  * flag, max wins — one file-create is the atomic commit point). Readers
  * ([[readCat]]) resolve the max snapshot at plan time and scan exactly
  * its files plus any `batch<tag>-*` files appended after it, so a
  * DataFrame planned BEFORE a maintenance move materializes correctly
  * AFTER it. Displaced originals are RETIRED in the snapshot (stamped
  * with their retirement time) and reaped at the START of a later
  * maintenance move once BOTH graces pass: one full maintenance cycle
  * (the Iceberg-snapshot-expiry posture) AND `retainRetiredMs` of wall
  * clock — retired files younger than the knob carry forward into the
  * next snapshot's retired set, so two maintenance moves in quick
  * succession cannot reap files a slow reader still holds (the
  * `Ivf.vacuumStore(retainMs)` posture). The default knob is 0: grace
  * is exactly one maintenance cycle, a reader must not span two rounds.
  *
  * Crash recovery is rollback-trivial because originals never move: a
  * torn maintenance leaves only INVISIBLE junk (fold files no snapshot
  * references, stage dirs, the `_maint-inprogress-<token>` marker);
  * [[recover]] deletes the junk — or rolls FORWARD (cleanup only) when
  * the current snapshot shows the move actually committed.
  *
  * Concurrency contract: single maintainer, any number of
  * snapshot-isolated readers.
  *
  * == Why the IVF store does NOT ride this core ==
  *
  * [[graft.operators.Ivf]]'s persisted index is the one store on its
  * own lifecycle, deliberately. BatchStore models a FLAT catalog set
  * whose rows are forever current — maintenance rewrites files but
  * never reinterprets them, so one snapshot pointer (live + retired
  * names) is the whole read contract. The IVF store is a VERSIONED
  * index: retrain writes a whole new `v<N>/` tree (centroids + every
  * row re-assigned to new cells) whose rows are only meaningful
  * TOGETHER, published by an append-only `_ready-N` flag; reads pin
  * max-flag; per-version tombstones + a rewrite watermark give each
  * version its own as-of delete semantics. Forcing that into flat
  * catalogs would either make "version" a column (so every serve
  * filters the corpus on it — a full-scan predicate where a directory
  * prune is free) or make each version a catalog (so the catalog LIST
  * mutates, which is exactly the metadata BatchStore assumes fixed).
  * The two stores share the POSTURE — flag-last commits, replay
  * idempotence under `ingest_batch`/`batch<tag>` landing, grace-then-
  * reap retention (`Ivf.vacuumStore(retainMs)` is `retainRetiredMs`'s
  * model), deletion-safe recovery — but not the metadata shape; the
  * shape IS the design, so the code stays separate.
  */
final case class BatchStore(dir: String, catalogs: Seq[String],
    retainRetiredMs: Long = 0L) {
  import BatchStore._

  private def fsOf(s: SparkSession) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------------
  // Bootstrap and append
  // ------------------------------------------------------------------

  /** Build the store from scratch: drop the root metadata a previous
    * life left (see [[cleanRootMetadata]] for `dropBatchFlags`), write
    * each catalog's frame mode-overwrite — concurrently, so one
    * catalog's write back-fills the executors another's tail leaves
    * idle — then publish snapshot 0 with the written frames' schemas,
    * the commit point [[snapshotExists]] reads. A torn bootstrap re-runs
    * idempotently.
    */
  def bootstrap(s: SparkSession, frames: Map[String, DataFrame],
      dropBatchFlags: Boolean): Unit = {
    require(frames.keySet == catalogs.toSet,
      s"bootstrap of $dir: frames for ${frames.keys.mkString(", ")}, " +
        s"catalogs ${catalogs.mkString(", ")}")
    cleanRootMetadata(s, dropBatchFlags)
    graft.Par.all(frames.toSeq.map { case (cat, df) =>
      () => df.write.mode("overwrite").parquet(s"$dir/$cat") })
    val live = catalogs.map(cat => cat ->
      Readers.parquetFiles(s, s"$dir/$cat").map(_.getPath.getName).toSet).toMap
    // a parquet read sees every column nullable, so the line says so too
    val ddl = frames.map { case (cat, df) =>
      cat -> StructType(df.schema.fields.map(_.copy(nullable = true))).toDDL }
    publishSnapshot(s, Snapshot(0L, "bootstrap", live,
      catalogs.map(_ -> Map.empty[String, Long]).toMap, ddl))
  }

  /** Run one batch exactly once under `batchId` (≥ 0: the caller's
    * stream-namespace id; −1: the next free MANUAL tag). A committed tag
    * is a no-op. Otherwise a torn maintenance move is rolled back and a
    * crashed attempt's `batch<tag>-*` remnants are deleted — restoring
    * the exactly-before-this-batch state, so `body` sees no row of its
    * own earlier attempt — then `body` lands its frames through the
    * lander it is handed (`land(catalog, frame)`), and the flag commits
    * LAST. A body that throws leaves only remnants its replay removes.
    */
  def append(s: SparkSession, batchId: Long)(
      body: ((String, DataFrame) => Unit) => Unit): Unit = {
    val flags = loadFlags(s)
    val tag = if (batchId >= 0L) batchId.toString else s"m${flags.nextManualId}"
    if (flags.committed(tag)) return
    recover(s)
    catalogs.foreach(cat => deleteGlob(s, s"$cat/batch$tag-*"))
    body((cat, df) => landBatchFiles(s, df, cat, tag))
    commitFlag(s, tag)
  }

  /** Land `df`'s rows in `$dir/$cat` as `batch<tag>-*`-named files: write
    * to a staging dir, rename each data file in with the batch prefix,
    * drop the stage. The prefix is what makes a crashed batch's remnants
    * identifiable (and deletable) on replay — a bare mode("append")
    * write scatters anonymous part files that no retry could take back.
    */
  private def landBatchFiles(s: SparkSession, df: DataFrame, cat: String,
      tag: String): Unit = {
    val stage = s"$dir/.append-staged-$cat"
    df.write.mode("overwrite").parquet(stage)
    renameStagedIn(s, stage, cat, s"batch$tag")
  }

  /** Rename a staged write's parquet files into `cat` as
    * `<prefix>-<i>-<name>`, drop the stage, return the new names.
    */
  private def renameStagedIn(s: SparkSession, stage: String, cat: String,
      prefix: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(s)
    fs.mkdirs(new Path(s"$dir/$cat"))
    val names = Readers.parquetFiles(s, stage).map(_.getPath).zipWithIndex.map {
      case (p, i) =>
        val name = s"$prefix-$i-${p.getName}"
        require(fs.rename(p, new Path(s"$dir/$cat", name)),
          s"rename $p into $dir/$cat failed")
        name
    }
    fs.delete(new Path(stage), true)
    names
  }

  // ------------------------------------------------------------------
  // Batch flags
  // ------------------------------------------------------------------

  private def loadFlags(s: SparkSession): Flags = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(s)
    val flags = fs.globStatus(new Path(s"$dir/_batch-*"))
    val marks = fs.globStatus(new Path(s"$dir/_batchmark-*"))
    val explicit =
      if (flags == null) Set.empty[String]
      else flags.map(_.getPath.getName.stripPrefix("_batch-")).toSet
    val (sm, mm) =
      if (marks == null || marks.isEmpty) (-1L, -1L)
      else {
        val parsed = marks.toSeq
          .map(_.getPath.getName.stripPrefix("_batchmark-"))
          .map(splitTag)
        (parsed.collect { case ("", n) => n }.foldLeft(-1L)(math.max),
          parsed.collect { case ("m", n) => n }.foldLeft(-1L)(math.max))
      }
    Flags(explicit, sm, mm)
  }

  /** Is this caller-supplied (stream-namespace) batch id committed —
    * either its `_batch-<id>` flag survives, or compact rolled it into
    * the stream watermark?
    */
  def batchCommitted(s: SparkSession, batchId: Long): Boolean =
    loadFlags(s).committed(batchId.toString)

  /** Commit a tag's flag — the LAST step of an append, and the whole
    * of a streaming bootstrap leg's batch commit.
    */
  def commitFlag(s: SparkSession, tag: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_batch-$tag")
    val fs = fsOf(s)
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  // ------------------------------------------------------------------
  // Snapshots
  // ------------------------------------------------------------------

  private def currentSnapshot(s: SparkSession): Option[Snapshot] = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(s)
    val flags = fs.globStatus(new Path(s"$dir/_snap-*"))
    if (flags == null || flags.isEmpty) return None
    val k = flags.map(_.getPath.getName.stripPrefix("_snap-").toLong).max
    val in = fs.open(new Path(s"$dir/_snapfiles-$k"))
    val text =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    var token = ""
    val live = scala.collection.mutable.Map[String, Set[String]]()
      .withDefaultValue(Set.empty)
    val retired = scala.collection.mutable.Map[String, Map[String, Long]]()
      .withDefaultValue(Map.empty)
    val schemas = scala.collection.mutable.Map[String, String]()
    text.linesIterator.filter(_.nonEmpty).foreach { line =>
      line.split('\t') match {
        case Array("token", t) => token = t
        case Array(cat, "L", name) => live(cat) = live(cat) + name
        // retired entries carry their retirement epoch-millis (ts before
        // name so a parse failure is loud, not a silent name corruption);
        // the two-field form is the pre-retention legacy (ts 0 = any
        // retention has already expired)
        case Array(cat, "R", ts, name) =>
          retired(cat) = retired(cat) + (name -> ts.toLong)
        case Array(cat, "R", name) =>
          retired(cat) = retired(cat) + (name -> 0L)
        case Array(cat, "S", ddl @ _*) => schemas(cat) = ddl.mkString("\t")
        case other => sys.error(
          s"corrupt snapshot line in $dir/_snapfiles-$k: ${other.mkString("\t")}")
      }
    }
    Some(Snapshot(k, token, live.toMap.withDefaultValue(Set.empty),
      retired.toMap.withDefaultValue(Map.empty), schemas.toMap))
  }

  /** Publish a snapshot: write the file list, then create the
    * `_snap-<k>` flag — the single atomic commit point. Metadata older
    * than the immediate predecessor is dropped AFTER the flag (the
    * predecessor is retained so a reader that resolved the max flag just
    * before the publish can still open its `_snapfiles`; a reader
    * spanning TWO publishes is outside the grace contract anyway).
    */
  private def publishSnapshot(s: SparkSession, snap: Snapshot): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(s)
    val sb = new StringBuilder
    sb.append("token\t").append(snap.token).append('\n')
    for (cat <- catalogs) {
      snap.live(cat).toSeq.sorted
        .foreach(n => sb.append(cat).append("\tL\t").append(n).append('\n'))
      snap.retired(cat).toSeq.sortBy(_._1).foreach { case (n, ts) =>
        sb.append(cat).append("\tR\t").append(ts).append('\t').append(n)
          .append('\n')
      }
      snap.schemas.get(cat).foreach(ddl =>
        sb.append(cat).append("\tS\t").append(ddl).append('\n'))
    }
    val out = fs.create(new Path(s"$dir/_snapfiles-${snap.k}"), true)
    try out.write(sb.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.create(new Path(s"$dir/_snap-${snap.k}"), true).close()
    Seq("_snap-", "_snapfiles-").foreach { pre =>
      val old = fs.globStatus(new Path(s"$dir/$pre*"))
      if (old != null) old
        .filter(_.getPath.getName.stripPrefix(pre).toLong < snap.k - 1)
        .foreach(f => fs.delete(f.getPath, false))
    }
  }

  /** Drop every piece of root maintenance metadata a PREVIOUS life of
    * this store left behind — the re-bootstrap pre-clean. `dropBatchFlags`
    * decides the fate of committed-batch history: a bootstrap that runs
    * INSIDE a live stream's lifetime (the fingerprint store's
    * first-non-empty-batch leg) keeps `_batch-*` flags — the same
    * checkpoint that committed them is still driving; an explicit
    * START-FRESH seeding (the MinHash snapshot's and chunk store's
    * bootstraps) drops them — a NEW stream with a new checkpoint restarts
    * batch ids at 0, and stale flags would silently no-op its first
    * batches.
    *
    * NOTE there is deliberately no migration from the pre-snapshot
    * (r16 trash-dance) layout: stores live no longer than their
    * fixtures; a store written by the old scheme is re-bootstrapped,
    * not recovered.
    */
  private def cleanRootMetadata(s: SparkSession,
      dropBatchFlags: Boolean): Unit = {
    // flags and watermarks are ONE unit of committed-batch history:
    // compact rolls flags INTO watermarks, so keeping flags while
    // dropping marks would silently un-commit every rolled-up id
    val globs = Seq("_maint-inprogress-*", "_snap-*", "_snapfiles-*") ++
      (if (dropBatchFlags) Seq("_batch-*", "_batchmark-*") else Nil)
    (globs :+ ".append-staged-*").foreach(deleteGlob(s, _))
  }

  /** Recursively delete every entry matching `glob` under the root. */
  private def deleteGlob(s: SparkSession, glob: String): Unit = {
    val fs = fsOf(s)
    val hits = fs.globStatus(new org.apache.hadoop.fs.Path(s"$dir/$glob"))
    if (hits != null) hits.foreach(h => fs.delete(h.getPath, true))
  }

  /** Read `files` of `cat` with the persisted `S` schema when the
    * snapshot has one, else with the schema of one footer.
    */
  private def scan(s: SparkSession, snap: Option[Snapshot], cat: String,
      files: Seq[String]): DataFrame =
    Readers.parquet(s, files, snap.flatMap(_.schemas.get(cat)).map(StructType.fromDDL))

  /** The files a fresh read of `cat` scans: the current snapshot's live
    * list, plus `batch<tag>-*` files appended after it whose tag's flag
    * COMMITTED (present in the listing, referenced by no snapshot). The
    * committed check is what makes a batch visible atomically at flag
    * commit — without it a reader observes the rows of a crashed,
    * never-committed append until its replay, a dirty-read window that
    * would contradict the snapshot-isolation contract. Pre-snapshot
    * stores fall back to the raw listing.
    */
  def liveFiles(s: SparkSession, cat: String): Seq[String] =
    liveFilesIn(s, currentSnapshot(s), loadFlags(s), cat)

  /** [[liveFiles]] against an already-loaded snapshot + flag view —
    * multi-catalog operations (dataFileCount, maintenance) load both
    * ONCE and resolve every catalog against them instead of re-reading
    * root metadata per catalog (each read is a round trip on an object
    * store).
    */
  private def liveFilesIn(s: SparkSession, snapshot: Option[Snapshot],
      flags: Flags, cat: String): Seq[String] = {
    val catDir = s"$dir/$cat"
    if (!fsOf(s).exists(new org.apache.hadoop.fs.Path(catDir)))
      return Nil
    val listing = Readers.parquetFiles(s, catDir).map(_.getPath.toString)
    snapshot match {
      case None => listing
      case Some(snap) =>
        val (live, retired) = (snap.live(cat), snap.retired(cat))
        listing.filter { f =>
          val n = nameOf(f)
          live(n) || (n.startsWith("batch") && !retired.contains(n) &&
            flags.committed(tagOfBatchFile(n)))
        }
    }
  }

  /** Has this store ever committed a snapshot — i.e. completed a
    * bootstrap under the snapshot scheme? The bootstrapped-or-not probe
    * a streaming sink uses (the snapshot flag is a bootstrap's LAST
    * step, so a torn bootstrap reads false and re-runs idempotently).
    */
  def snapshotExists(s: SparkSession): Boolean = {
    val flags = fsOf(s).globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/_snap-*"))
    flags != null && flags.nonEmpty
  }

  /** Snapshot-resolved catalog read — retired-but-retained files are
    * invisible the instant the new snapshot commits, and a post-snapshot
    * batch file is invisible until its flag commits. The read carries
    * the snapshot's persisted `S` schema, so planning it runs no Spark
    * job. A snapshot whose
    * live set is EMPTY (a vacuum that killed every row of the catalog)
    * reads as an empty frame with the catalog's schema off the
    * snapshot's persisted `S` line — inferring off the raw listing there
    * would trip over torn-junk zero-byte files, and falling back to the
    * raw dir would resurrect the retired originals until the reap. Only
    * a store with no snapshot at all (pre-bootstrap/legacy) reads the
    * raw dir.
    */
  def readCat(s: SparkSession, cat: String): DataFrame = {
    val snap = currentSnapshot(s)
    val files = liveFilesIn(s, snap, loadFlags(s), cat)
    if (files.nonEmpty) return scan(s, snap, cat, files)
    snap match {
      case Some(sn) =>
        sn.schemas.get(cat) match {
          case Some(ddl) => s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType.fromDDL(ddl))
          case None =>
            // snapshot predates the persisted-schema line: infer off
            // snapshot-REFERENCED files only (never raw-listing junk)
            val refd = (sn.live(cat) ++ sn.retired(cat).keys).toSeq.sorted
              .map(n => s"$dir/$cat/$n")
              .filter(f =>
                fsOf(s).exists(new org.apache.hadoop.fs.Path(f)))
            if (refd.nonEmpty) Readers.parquet(s, refd).limit(0)
            else sys.error(
              // schema unknowable: a raw-dir fallback here could
              // resurrect retired/torn junk as the catalog's "schema"
              s"$dir/$cat: snapshot ${sn.k} predates schema persistence " +
                "and references no surviving file; re-bootstrap the store")
        }
      case None => Readers.parquet(s, s"$dir/$cat") // pre-snapshot/legacy
    }
  }

  /** Count of live data files across the catalogs — the [[compact]]
    * trigger a live ingest loop polls (listing + snapshot read only).
    */
  def dataFileCount(s: SparkSession): Int = {
    val snap = currentSnapshot(s)
    val flags = loadFlags(s)
    catalogs.map(cat => liveFilesIn(s, snap, flags, cat).length).sum
  }

  // ------------------------------------------------------------------
  // Maintenance
  // ------------------------------------------------------------------

  /** One maintenance move. It starts by staking the
    * `_maint-inprogress-<token>` marker, rolling back any PRIOR torn
    * maintenance, reaping retired files whose grace has expired (one
    * full maintenance cycle AND `retainRetiredMs` of wall clock —
    * younger retirees survive and carry into the next snapshot, see
    * class doc), and deleting remnants of torn appends so an uncommitted
    * batch's rows can never be folded into a snapshot its replay
    * couldn't take back.
    *
    * Then, per catalog, `rewrite(cat, liveFiles, read)` returns the live
    * files it replaces and the frame that replaces them (`read` scans
    * files with the snapshot's schema), or None to leave the catalog
    * alone. The frame lands as `fold-<token>-*` files, invisible until
    * the new snapshot — published only IF some catalog retired files —
    * references them. Newly retired names are stamped with the current
    * time; prior retirees whose grace hasn't expired carry forward with
    * their ORIGINAL stamp, so back-to-back maintenance rounds extend
    * nobody's window and shrink nobody's. Committed batch flags then
    * roll up into the per-namespace watermarks, crash-monotone: the new
    * mark is created BEFORE the flags it covers (and the older mark) are
    * deleted, so no crash point ever makes a committed batch look
    * uncommitted. The marker is dropped last.
    */
  private def maintain(s: SparkSession, kind: String)(
      rewrite: (String, Seq[String], Seq[String] => DataFrame) =>
        Option[(Seq[String], DataFrame)]): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(s)
    recover(s)
    val token = java.util.UUID.randomUUID().toString
    fs.create(new Path(s"$dir/_maint-inprogress-$token"), true).close()
    val prior = currentSnapshot(s)
    val now = System.currentTimeMillis()
    prior.foreach { snap =>
      catalogs.foreach { cat =>
        snap.retired(cat).foreach { case (n, ts) =>
          if (now - ts >= retainRetiredMs)
            fs.delete(new Path(s"$dir/$cat/$n"), false)
        }
      }
    }
    val before = loadFlags(s)
    catalogs.foreach { cat =>
      val hits = fs.globStatus(new Path(s"$dir/$cat/batch*"))
      if (hits != null) hits.foreach { h =>
        if (!before.committed(tagOfBatchFile(h.getPath.getName)))
          fs.delete(h.getPath, false)
      }
    }
    val moves = catalogs.map { cat =>
      val files = liveFilesIn(s, prior, before, cat)
      val names = files.map(nameOf).toSet
      cat -> rewrite(cat, files, scan(s, prior, cat, _)).fold(
        (names, Set.empty[String])) { case (replaced, frame) =>
        val stage = s"$dir/.$kind-staged-$cat"
        frame.write.mode("overwrite").parquet(stage)
        val gone = replaced.map(nameOf).toSet
        (names -- gone ++ renameStagedIn(s, stage, cat, s"fold-$token"), gone)
      }
    }.toMap
    if (moves.valuesIterator.exists(_._2.nonEmpty)) {
      val stamped = System.currentTimeMillis()
      val retired = catalogs.map { cat =>
        // survived-the-reap = still on disk (exact regardless of clock
        // drift between the reap and now)
        val carried = prior.fold(Map.empty[String, Long])(_.retired(cat))
          .filter { case (n, _) => fs.exists(new Path(s"$dir/$cat/$n")) }
        cat -> (carried ++ moves(cat)._2.map(_ -> stamped))
      }.toMap
      publishSnapshot(s, Snapshot(prior.fold(0L)(_.k + 1L), token,
        moves.map { case (cat, m) => cat -> m._1 }, retired,
        prior.fold(Map.empty[String, String])(_.schemas)))
    }
    val flags = loadFlags(s)
    Seq("", "m").foreach { ns =>
      val mark = if (ns == "m") flags.manualMark else flags.streamMark
      val ids = flags.explicit.iterator.map(splitTag)
        .collect { case (`ns`, id) if id >= 0 => id }.toArray.sorted
      var wm = mark
      ids.foreach(id => if (id == wm + 1) wm = id)
      if (wm > mark) {
        fs.create(new Path(s"$dir/_batchmark-$ns$wm"), true).close()
        ids.takeWhile(_ <= wm).foreach(id =>
          fs.delete(new Path(s"$dir/_batch-$ns$id"), false))
        if (mark >= 0)
          fs.delete(new Path(s"$dir/_batchmark-$ns$mark"), false)
      }
    }
    fs.delete(new Path(s"$dir/_maint-inprogress-$token"), false)
  }

  /** Fold the per-batch file sprawl back to a BYTES-derived file count
    * (~128 MB each) per catalog — the small-files maintenance move a
    * live ingest loop needs. Folded replacements land as `fold-<token>-*`
    * files alongside the originals, invisible until the snapshot
    * publishes; batch flags roll up into the watermark (see class doc).
    */
  def compact(s: SparkSession): Unit = {
    val fs = fsOf(s)
    maintain(s, "compact") { (_, files, read) =>
      // fold to a BYTES-derived file count, not the scan's partitioning:
      // Spark splits a small-file read into defaultParallelism
      // partitions, so a bare rewrite would reproduce the sprawl it is
      // meant to fold
      val bytes = files.map(f =>
        fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
      val target = math.max(1, (bytes / (128L << 20)).toInt)
      if (files.length > target) Some((files, read(files).coalesce(target)))
      else None
    }
  }

  /** Roll back (or forward) a maintenance move that crashed mid-way.
    * Because committed files never move under the snapshot scheme, a
    * torn maintenance leaves only INVISIBLE junk; recovery is deletion,
    * never restoration: for each surviving `_maint-inprogress-<token>`
    * marker, either the current snapshot carries that token (the move
    * committed — roll FORWARD by dropping the marker) or the token's
    * `fold-<token>-*` files are deleted. Stage dirs of all kinds
    * (`.append-staged-*`, `.compact-staged-*`, `.vacuum-staged-*`) are
    * dropped unconditionally. Returns true when a marker was processed.
    */
  def recover(s: SparkSession): Boolean = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(s)
    Seq("append", "compact", "vacuum")
      .foreach(kind => deleteGlob(s, s".$kind-staged-*"))
    val markers = fs.globStatus(new Path(s"$dir/_maint-inprogress-*"))
    if (markers == null || markers.isEmpty) return false
    val committedToken = currentSnapshot(s).map(_.token)
    markers.foreach { m =>
      val token = m.getPath.getName.stripPrefix("_maint-inprogress-")
      if (!committedToken.contains(token))
        catalogs.foreach(cat => deleteGlob(s, s"$cat/fold-$token-*"))
      fs.delete(m.getPath, false)
    }
    true
  }

  /** Drop every row whose key is absent from the live set — the
    * right-to-be-forgotten move. The live set is `liveDocs`' doc_ids;
    * a catalog keyed otherwise gets its key frame from `keysFrom`,
    * built from the pinned doc_id frame (the chunk store keeps the
    * chunks its surviving manifest slots reference). Key frames are
    * pinned for the move and released after it. Cost rides the DIRTY
    * file set: one key-only pass per catalog yields the dead count and
    * the dirty file list together, only dirty files are re-read (with
    * the snapshot's schema) and rewritten, clean files are never moved.
    * The swap is the snapshot-pointer commit, so concurrent readers —
    * including ones planned before the vacuum — are never broken
    * mid-scan. NOTE the privacy consequence of grace: the forgotten
    * rows' bytes leave disk one maintenance move later, not at vacuum
    * return ([[reapRetired]] forces it eagerly when the deletion SLA
    * demands). Returns the counts per catalog.
    */
  def vacuum(s: SparkSession, liveDocs: DataFrame,
      keysFrom: Map[String, DataFrame => DataFrame] = Map.empty)
      : Map[String, VacuumStats] = {
    var pins = Set.empty[Int]
    def pinned(df: DataFrame): DataFrame = {
      val (out, ids) = pinTracked(df)
      pins ++= ids
      out
    }
    try {
      val ids = pinned(liveDocs.select("doc_id").distinct())
      val keys = catalogs.map(cat =>
        cat -> keysFrom.get(cat).fold(ids)(f => pinned(f(ids)))).toMap
      val stats = scala.collection.mutable.Map[String, VacuumStats]()
      maintain(s, "vacuum") { (cat, files, read) =>
        val key = keys(cat)
        val kc = key.columns.toSeq
        val deadPerFile =
          if (files.isEmpty) Map.empty[String, Long]
          else read(files)
            .withColumn("f", StatsManifest.normalizedInputFile())
            .select((kc :+ "f").map(col): _*)
            .join(key, kc, "left_anti")
            .groupBy("f").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        val dirty = deadPerFile.keys.toSeq
        stats(cat) = VacuumStats(deadPerFile.values.sum, dirty.size,
          files.size - dirty.size)
        // the staging scan opens ONLY the dirty files — a filter on the
        // input_file_name-derived column over the full-store frame would
        // read every clean file's pages too (UDF filters don't push down)
        if (dirty.isEmpty) None
        else Some((dirty, read(dirty).join(key, kc, "left_semi")))
      }
      stats.toMap
    } finally unpinTracked(s, pins)
  }

  /** [[vacuum]] for a store whose catalogs all carry `doc_id`, its
    * counts summed across catalogs.
    */
  def vacuumByDocId(s: SparkSession, liveDocs: DataFrame): VacuumStats = {
    val byCat = vacuum(s, liveDocs).values
    VacuumStats(byCat.map(_.droppedRows).sum, byCat.map(_.rewrittenFiles).sum,
      byCat.map(_.untouchedFiles).sum)
  }

  /** Eagerly reap the CURRENT snapshot's retired files without waiting
    * for the next maintenance move — the hook a hard deletion SLA calls
    * after [[vacuum]] returns, once in-flight readers planned
    * before the vacuum have drained (the caller owns that quiesce).
    * Publishes a successor snapshot with an empty retired set so a later
    * maintenance doesn't re-reap.
    */
  def reapRetired(s: SparkSession): Int = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(s)
    currentSnapshot(s) match {
      case None => 0
      case Some(snap) =>
        val n = catalogs.map { cat =>
          val names = snap.retired(cat)
          names.keysIterator
            .foreach(nm => fs.delete(new Path(s"$dir/$cat/$nm"), false))
          names.size
        }.sum
        if (n > 0)
          publishSnapshot(s, Snapshot(snap.k + 1L, snap.token, snap.live,
            catalogs.map(_ -> Map.empty[String, Long]).toMap,
            snap.schemas))
        n
    }
  }
}

object BatchStore {

  /** The committed-batch view: explicit flags plus the per-namespace
    * watermarks compact folds old flags into.
    */
  private final case class Flags(explicit: Set[String],
      streamMark: Long, manualMark: Long) {
    def committed(tag: String): Boolean =
      explicit(tag) || {
        val (ns, id) = splitTag(tag)
        id >= 0 && id <= (if (ns == "m") manualMark else streamMark)
      }
    def nextManualId: Long = {
      val flagged = explicit.iterator.filter(_.startsWith("m"))
        .flatMap(t => t.stripPrefix("m").toLongOption)
      (flagged ++ Iterator.single(manualMark)).max + 1L
    }
  }

  /** `"m12"` → ("m", 12); `"7"` → ("", 7); anything unparseable → id −1
    * (never watermark-covered, so only an explicit flag commits it).
    */
  private def splitTag(tag: String): (String, Long) =
    if (tag.startsWith("m"))
      ("m", tag.stripPrefix("m").toLongOption.getOrElse(-1L))
    else ("", tag.toLongOption.getOrElse(-1L))

  /** One committed snapshot: per catalog, the live file NAMES it
    * references, the retired names awaiting reap (each stamped with its
    * retirement epoch-millis — the `retainRetiredMs` clock), and the
    * catalog's persisted schema (DDL — how an all-rows-vacuumed catalog
    * still reads as a correctly-typed empty frame). `token` is the
    * maintenance token that published it (how [[BatchStore.recover]]
    * tells a committed move from a torn one).
    */
  private final case class Snapshot(k: Long, token: String,
      live: Map[String, Set[String]],
      retired: Map[String, Map[String, Long]],
      schemas: Map[String, String] = Map.empty)

  /** `batch<tag>-<i>-<orig>` → `<tag>` — the name an append lands. */
  private def tagOfBatchFile(name: String): String =
    name.stripPrefix("batch").takeWhile(_ != '-')

  private def nameOf(file: String): String =
    new org.apache.hadoop.fs.Path(file).getName

  /** Vacuum report: rows dropped, files rewritten vs left untouched
    * (summed across catalogs).
    */
  final case class VacuumStats(droppedRows: Long, rewrittenFiles: Int,
      untouchedFiles: Int)

  /** The root `entries` of a layout a store's catalogs replaced (a
    * persisted-format change) and `hint`, the call that re-bootstraps a
    * store still in it.
    */
  final case class Legacy(entries: Seq[String], hint: String) {
    /** `st`, refused when its root holds a legacy entry and none of its
      * catalogs — read as the current catalogs it would serve empty ones.
      */
    def refuse(s: SparkSession, st: BatchStore): BatchStore = {
      def has(e: String) = st.fsOf(s).exists(new org.apache.hadoop.fs.Path(s"${st.dir}/$e"))
      if (!st.catalogs.exists(has) && entries.exists(has))
        throw new IllegalStateException(s"store at ${st.dir} has a legacy layout " +
          s"(${entries.mkString("/ ")}/, no ${st.catalogs.mkString("/ ")}/); " +
          s"re-bootstrap it with $hint")
      st
    }

    /** Delete the legacy entries — the bootstrap leg that replaces the layout. */
    def drop(s: SparkSession, st: BatchStore): Unit = entries.foreach(e =>
      st.fsOf(s).delete(new org.apache.hadoop.fs.Path(s"${st.dir}/$e"), true))
  }
}
