package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Iceberg-style table layer over Parquet (SURVEY.md §7 environment note: no
  * Iceberg runtime jar offline, so v1 ships this thin equivalent; the API is
  * shaped so a real Iceberg catalog drops in unchanged on a cluster).
  *
  * Layout:
  * {{{
  *   <dir>/data/run=<runId>/bucket=NN/part-....parquet  // hidden bucket(B, url)
  *   <dir>/snapshots/v<00001>.json                // manifest: files + counts
  *   <dir>/snapshots/current                      // atomic pointer (rename)
  * }}}
  *
  * Semantics:
  *  - a run writes data files under its own run= prefix, then COMMITS by
  *    writing a new manifest (previous manifest's files + its own) and
  *    atomically swapping the `current` pointer (write tmp + ATOMIC_MOVE);
  *  - readers resolve `current` → manifest → exact file list; files from
  *    uncommitted (killed) runs are invisible;
  *  - resume = anti-join input urls against committed output urls
  *    (north_rule checkpoint-resume), see [[doneUrls]].
  */
object SnapshotTable {

  final case class Snapshot(id: Long, files: Seq[String], rows: Long, runIds: Seq[String])

  private def snapDir(dir: String): Path = Paths.get(dir, "snapshots")
  private def currentPtr(dir: String): Path = snapDir(dir).resolve("current")

  /** The COMMIT POINT is the existence of the versioned manifest file (the
    * Iceberg HadoopTableOperations model): `current` is only a discovery
    * HINT — the authoritative current snapshot is the max-id v*.json. This
    * is what makes the link-publish CAS in [[commitRun]] crash-safe: a
    * committer that dies between manifest creation and pointer swap has
    * COMMITTED (its data files were fully written before commitRun), and
    * the next reader/committer discovers its manifest by listing instead of
    * wedging on the stale pointer.
    */
  // %05d pads to a MINIMUM of 5 digits — the match must accept more, or
  // the table wedges silently at snapshot 100000
  private val manifestName = "^v(\\d{5,})\\.json$".r

  private def listManifests(sd: Path): Vector[(Long, Path)] = {
    val ids = scala.collection.mutable.ArrayBuffer.empty[(Long, Path)]
    val stream = Files.list(sd)
    try {
      val it = stream.iterator()
      while (it.hasNext) {
        val p = it.next()
        p.getFileName.toString match {
          case manifestName(idStr) => ids += ((idStr.toLong, p))
          case _ => ()
        }
      }
    } finally stream.close()
    ids.toVector
  }

  /** Highest manifest id present by NAME, parseable or not — the id
    * allocator must skip past garbage files (a foreign torn write at
    * v<max>.json must not hold the CAS token forever).
    */
  private def maxManifestId(dir: String): Long = {
    val sd = snapDir(dir)
    if (!Files.exists(sd)) 0L
    else listManifests(sd).foldLeft(0L)((m, ip) => math.max(m, ip._1))
  }

  def currentSnapshot(dir: String): Option[Snapshot] = {
    val sd = snapDir(dir)
    if (!Files.exists(sd)) return None
    val ids = listManifests(sd)
    // newest first; a manifest that fails to parse may be a torn in-flight
    // write (bytes land moments after CREATE_NEW makes the name visible):
    // retry briefly, then fall back to the next-newest parseable manifest.
    // NOTE plain while loops, no closure: a `return` inside a foreach lambda
    // would throw NonLocalReturnControl straight into the catch below.
    def tryParse(manifest: Path): Option[Snapshot] =
      try {
        val m = Json.parse(
          new String(Files.readAllBytes(manifest), StandardCharsets.UTF_8))
          .asInstanceOf[Map[String, Any]]
        Some(Snapshot(
          m("snapshot_id").asInstanceOf[Long],
          m("files").asInstanceOf[Vector[Any]].map(_.asInstanceOf[String]),
          m("rows").asInstanceOf[Long],
          m("run_ids").asInstanceOf[Vector[Any]].map(_.asInstanceOf[String])))
      } catch { case scala.util.control.NonFatal(_) => None }
    val sorted = ids.sortBy(-_._1)
    var k = 0
    while (k < sorted.length) {
      var tries = 0
      while (tries < 5) {
        tryParse(sorted(k)._2) match {
          case Some(s) => return Some(s)
          case None =>
            tries += 1
            if (tries < 5) Thread.sleep(20)
        }
      }
      k += 1
    }
    None
  }

  /** Append `df` as a new committed snapshot. `bucketBy` hidden-partitions on
    * hash(urlCol) % buckets — the bucket(B, url) layout of the north rule
    * (targeted re-runs read a bucket subset; skewed hosts spread uniformly
    * because the hash covers the full url).
    */
  def append(df: DataFrame, dir: String, runId: String,
      urlCol: String = "url", buckets: Int = 16): Snapshot = {
    // duplicate-runId guard BEFORE the destructive overwrite: re-appending a
    // committed runId would first DELETE the committed part files (overwrite
    // mode) and only then fail in commitRun, leaving the manifest pointing
    // at dead paths
    val prev = currentSnapshot(dir)
    require(!prev.exists(_.runIds.contains(runId)),
      s"runId '$runId' is already committed in snapshot ${prev.map(_.id).getOrElse(-1L)}")
    val runPath = Paths.get(dir, "data", s"run=$runId")
    df.withColumn("bucket", pmod(xxhash64(col(urlCol)), lit(buckets)))
      .write.partitionBy("bucket").mode("overwrite").parquet(runPath.toString)
    commitRun(dir, runId)
  }

  /** Row count of a parquet file from its FOOTER metadata only (no data
    * pages read) — how Iceberg manifests carry counts; the commit cost is
    * O(files of the run), never a table scan.
    */
  def parquetRowCount(file: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), conf)
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try rd.getRecordCount finally rd.close()
  }

  /** Commit whatever data files exist under run=<runId> as a new snapshot
    * (split from [[append]] so tests can simulate a kill between write and
    * commit).
    *
    * Concurrency (ADVICE r1): the manifest is published atomically (tmp
    * write + hard link, see below) and its existence IS the commit — two
    * concurrent committers race on the
    * same v<id> name, the loser gets FileAlreadyExistsException, re-reads
    * the (now discoverable by listing) current snapshot and retries with
    * the next id (optimistic CAS). A crash between manifest creation and
    * the pointer write is a completed commit, not an orphan — see
    * [[currentSnapshot]]. Re-committing an already-committed runId is
    * rejected (duplicate data files would be double-counted).
    */
  def commitRun(dir: String, runId: String): Snapshot = {
    val runPath = Paths.get(dir, "data", s"run=$runId")
    val newFiles =
      if (Files.exists(runPath)) {
        val walk = Files.walk(runPath)
        try walk.iterator().asScala
          .filter(p => p.toString.endsWith(".parquet"))
          .map(_.toString).toVector.sorted
        finally walk.close()
      } else Seq.empty
    val newRows = newFiles.map(parquetRowCount).sum
    var attempt = 0
    while (attempt < 64) {
      val prev = currentSnapshot(dir)
      require(!prev.exists(_.runIds.contains(runId)),
        s"runId '$runId' is already committed in snapshot ${prev.map(_.id).getOrElse(-1L)}")
      // allocate PAST any manifest name already on disk, parseable or not —
      // an unparseable v<max>.json (foreign/legacy torn write) must not
      // permanently collide with prev.id + 1
      val id = math.max(prev.map(_.id + 1).getOrElse(1L), maxManifestId(dir) + 1)
      val files = prev.map(_.files).getOrElse(Seq.empty) ++ newFiles
      val runIds = prev.map(_.runIds).getOrElse(Seq.empty) :+ runId
      // rows propagate only when the whole history is counted (-1 = unknown
      // legacy manifest; never silently under-report)
      val rows = prev match {
        case Some(s) if s.rows < 0 => -1L
        case Some(s) => s.rows + newRows
        case None => newRows
      }
      val snap = Snapshot(id, files, rows, runIds)
      Files.createDirectories(snapDir(dir))
      val name = f"v$id%05d.json"
      val json = {
        val fs = files.map(Json.quote).mkString("[", ",", "]")
        val rs = runIds.map(Json.quote).mkString("[", ",", "]")
        s"""{"snapshot_id":$id,"files":$fs,"rows":$rows,"run_ids":$rs,"committed_at_ms":${System.currentTimeMillis()}}"""
      }
      // ADVICE r2: a crash mid-Files.write(CREATE_NEW) leaves a torn v<max>
      // .json whose NAME holds the CAS token forever — every later commit
      // collides on it and the table wedges. Publish atomically instead:
      // write the FULL manifest to a private tmp file, then hard-link it to
      // the versioned name. link(2) fails with EEXIST atomically (unlike
      // Files.move without REPLACE_EXISTING, whose exists-check + rename is
      // two syscalls, and unlike ATOMIC_MOVE, whose rename(2) silently
      // replaces on Linux) — so the CAS is kept AND a visible manifest is
      // always complete (Iceberg's rename-based commit, done with link).
      val tmp = snapDir(dir).resolve(s".$name.$runId.$attempt.tmp")
      try {
        Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
        try Files.createLink(snapDir(dir).resolve(name), tmp)
        finally Files.deleteIfExists(tmp)
        val ptrTmp = snapDir(dir).resolve(s"current.$runId.tmp")
        Files.write(ptrTmp, name.getBytes(StandardCharsets.UTF_8))
        Files.move(ptrTmp, currentPtr(dir), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        return snap
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          attempt += 1 // lost the race: re-read current, retry with next id
          // brief backoff: the winner's pointer swap may not be visible yet,
          // and re-reading the stale pointer would collide on the same name
          Thread.sleep(math.min(200L, 5L * attempt))
      }
    }
    sys.error(s"commitRun: lost the snapshot CAS race 64 times (dir=$dir)")
  }

  /** Read the committed table (empty DataFrame with no snapshot). */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    currentSnapshot(dir).filter(_.files.nonEmpty).map { s =>
      spark.read.parquet(s.files: _*)
    }

  /** urls already extracted under the current snapshot (for resume
    * anti-join). Column-pruned scan: only `url` is read from parquet.
    */
  def doneUrls(spark: SparkSession, dir: String): Option[DataFrame] =
    read(spark, dir).map(_.select("url"))
}
