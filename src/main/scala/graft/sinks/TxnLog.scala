package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.HadoopFs

/** Minimal transaction-log table format ("graft log") giving the
  * reference's delete-then-insert sinks (SURVEY S18/R9) snapshot
  * isolation and atomic commits — the semantics Delta Lake's _delta_log
  * provides, built from first principles on plain parquet + JSON:
  *
  *  - A table is a directory: `data/` holds immutable parquet files,
  *    `_graft_log/` holds numbered commit files `v<20-digit>.json`.
  *  - Each commit lists `add` entries (path, rows, min/max of the merge
  *    key) and `remove` paths. A snapshot at version V = replay of all
  *    commits <= V. Readers NEVER list `data/` — the log is the source
  *    of truth, so a reader pinned to V is isolated from concurrent
  *    writers (files are immutable, removes are logical).
  *  - Commit atomicity: write to a temp file, then CLAIM the next
  *    version number. If the claim fails, another writer won — re-read
  *    the log and retry (optimistic concurrency). A crash before the
  *    claim leaves only unreferenced temp/data files; the table is
  *    never half-committed.
  *
  * == Filesystem contract ==
  * All I/O goes through `org.apache.hadoop.fs.FileSystem`, resolved
  * from the table path's own scheme, so the log lives wherever the
  * parquet does. The claim — the one operation whose atomicity the
  * whole design rests on — has two implementations:
  *
  *  - `file:` / local paths: POSIX hard link (`Files.createLink` fails
  *    atomically with EEXIST when the version exists). The strongest
  *    primitive available, and the one the racing-writer stress test
  *    exercises.
  *  - schemes with ATOMIC fail-if-exists rename (hdfs, viewfs,
  *    webhdfs by default; extend via the `graft.txnlog.renameSafeSchemes`
  *    session conf): `FileSystem.rename` of the fully-written temp file
  *    onto the version path — the same claim Delta Lake's HDFSLogStore
  *    uses. Readers never observe a partially-written commit because
  *    the bytes are complete before the name appears.
  *  - any OTHER scheme (s3a, gs, ...) REFUSES to commit rather than
  *    guess: object-store rename is typically copy+delete and cannot
  *    reject an existing destination atomically, so two racing writers
  *    could both "win" a version and silently lose one commit (the
  *    reason Delta needs a DynamoDB-backed LogStore on S3). A user who
  *    knows their connector's rename is fail-if-exists-atomic opts the
  *    scheme in via the conf; nothing is silently assumed.
  *  - `replaceByKey` prunes by the per-file [min,max] key-range stats in
  *    the log: files whose range cannot contain a replaced key are kept
  *    verbatim (no read, no rewrite). At 100 TB this file-skipping is
  *    the difference between a merge touching gigabytes and one touching
  *    the whole table; with keys clustered by write batch (typical for
  *    per-document pipelines) most files prune away.
  *
  * Stats keys are compared on the STRING form of the merge key — range
  * pruning therefore needs a prefix-comparable rendering; numeric keys
  * are zero-padded to 20 chars so lexicographic order matches numeric
  * order. Correctness never depends on pruning (a kept file by
  * definition holds no replaced key).
  */
object TxnLog {

  case class AddFile(path: String, rows: Long, minKey: String,
      maxKey: String)
  case class Commit(version: Long, add: Seq[AddFile], remove: Seq[String])

  /** FileSystem for `tableDir`, resolved by the dir's own scheme
    * against the active (else default) session's Hadoop conf, or a
    * bare Hadoop conf when no session exists. */
  private def fsFor(tableDir: String): FileSystem =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(HadoopFs(_, tableDir)._1)
      .getOrElse(new Path(tableDir)
        .getFileSystem(new org.apache.hadoop.conf.Configuration()))

  private def logDir(tableDir: String) = new Path(tableDir, "_graft_log")
  private def dataDir(tableDir: String) = new Path(tableDir, "data")

  private def versionFile(tableDir: String, v: Long): Path =
    new Path(logDir(tableDir), f"v$v%020d.json")

  private def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  private def writeBytes(fs: FileSystem, p: Path,
      bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def isLocalFs(fs: FileSystem): Boolean =
    fs.getScheme == "file"

  /** Schemes whose FileSystem.rename atomically fails when the
    * destination exists (the property the non-local claim rests on).
    * Hadoop's own HDFS family qualifies; everything else must be opted
    * in explicitly — see the class doc. */
  private def renameSafeSchemes: Set[String] = {
    val defaults = "hdfs,viewfs,webhdfs"
    val conf = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .flatMap(s =>
        s.conf.getOption("graft.txnlog.renameSafeSchemes"))
      .getOrElse(defaults)
    conf.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
  }

  /** Atomically claim `target` with the fully-written bytes at `tmp`.
    * True = this writer owns the version; false = lost the race (the
    * caller re-reads the log and retries). Throws on filesystems whose
    * rename cannot make the claim atomic — see the class doc's
    * filesystem contract. */
  private[graft] def claim(fs: FileSystem, tmp: Path,
      target: Path): Boolean = {
    if (isLocalFs(fs)) {
      // POSIX hard link: atomic EEXIST rejection. Paths on the local FS
      // are URI-addressable files.
      try {
        Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else if (renameSafeSchemes.contains(fs.getScheme.toLowerCase)) {
      // fail-if-exists rename (atomic on the whitelisted schemes); the
      // exists() probe only short-circuits the common lost-race case
      !fs.exists(target) && fs.rename(tmp, target)
    } else {
      throw new UnsupportedOperationException(
        s"TxnLog cannot commit atomically on scheme '${fs.getScheme}': " +
          "its rename does not reject an existing destination, so two " +
          "racing writers could silently lose a commit. If this " +
          "connector's rename IS fail-if-exists-atomic, opt it in via " +
          "the graft.txnlog.renameSafeSchemes session conf; object " +
          "stores like s3a need an external coordination service " +
          "instead (Delta's LogStore precedent).")
    }
  }

  /** Render a key value so lexicographic compare matches the key's
    * native order (numbers zero-padded; negatives get a '-' prefix block
    * that sorts before all non-negatives). Only integral and string keys
    * have an order-preserving rendering — for any other type the file
    * range degrades to "always overlaps" (WideMin/WideMax) so pruning
    * stays conservative and correctness never depends on it. */
  private[graft] val WideMin = ""
  private[graft] val WideMax = "￿"

  private[graft] def statKey(v: Any): String = v match {
    case null => WideMin
    case n: Long => if (n < 0) f"-${n + Long.MaxValue + 1}%019d"
      else f"0$n%019d"
    case n: Int => statKey(n.toLong)
    case n: Short => statKey(n.toLong)
    case n: Byte => statKey(n.toLong)
    case s: String => s
    case _ => WideMin // paired with WideMax by the caller: never prunes
  }

  private def statable(v: Any): Boolean = v match {
    case null => false
    case _: Long | _: Int | _: Short | _: Byte => true
    // ASCII-only strings: Java's UTF-16 compare and Spark's UTF-8 binary
    // min/max agree. Beyond ASCII they diverge for supplementary chars
    // (UTF-8 orders U+FFFF < U+10000, UTF-16 code units the reverse), so
    // non-ASCII keys degrade to the never-prunes wide range.
    case s: String => s.forall(_ < 0x80)
    case _ => false
  }

  // -- log serialization (hand-rolled JSON lines: no schema evolution
  // -- needed for 4 fields, and no extra deps) --

  // escape/unescape are exact inverses: backslash first on escape, last
  // on unescape; newlines MUST be escaped (commits are line-delimited, a
  // raw \n in a string key would corrupt the log), and parse must
  // unescape or stored stats would compare escaped-vs-raw and mis-prune
  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")

  private def unesc(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 't' => sb.append('\t'); i += 2
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case other => sb.append(c).append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def renderCommit(c: Commit): String = {
    val adds = c.add.map(a =>
      s"""{"add":{"path":"${esc(a.path)}","rows":${a.rows},""" +
        s""""min":"${esc(a.minKey)}","max":"${esc(a.maxKey)}"}}""")
    val removes = c.remove.map(r => s"""{"remove":"${esc(r)}"}""")
    (adds ++ removes).mkString("\n")
  }

  // a JSON string field: any run of non-quote-non-backslash chars or
  // backslash-escaped pairs — an escaped quote inside a key does not
  // terminate the field
  private val S = """((?:[^"\\]|\\.)*)"""
  private val AddRe =
    ("""\{"add":\{"path":"""" + S + """","rows":(\d+),"min":"""" + S +
      """","max":"""" + S + """"\}\}""").r
  private val RemoveRe = ("""\{"remove":"""" + S + """"\}""").r

  private def parseCommit(version: Long, text: String): Commit = {
    val adds = mutable.ArrayBuffer.empty[AddFile]
    val removes = mutable.ArrayBuffer.empty[String]
    text.split("\n").filter(_.nonEmpty).foreach {
      case AddRe(p, n, mn, mx) =>
        adds += AddFile(unesc(p), n.toLong, unesc(mn), unesc(mx))
      case RemoveRe(p) => removes += unesc(p)
      case other => throw new IllegalStateException(
        s"corrupt log line in v$version: $other")
    }
    Commit(version, adds.toSeq, removes.toSeq)
  }

  /** All committed versions, ascending. */
  def versions(tableDir: String): Seq[Long] = {
    val fs = fsFor(tableDir)
    val ld = logDir(tableDir)
    if (!fs.exists(ld)) Seq.empty
    else fs.listStatus(ld).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("v\\d{20}\\.json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong)
      .sorted
  }

  def latestVersion(tableDir: String): Option[Long] =
    versions(tableDir).lastOption

  /** Active files at `asOf` (defaults to latest): replay the log from
    * the newest checkpoint at-or-before the target (bounded replay no
    * matter how many commits the table has accumulated). */
  def snapshot(tableDir: String, asOf: Option[Long] = None): Seq[AddFile] = {
    val vs = versions(tableDir)
    val upTo = asOf.map(v => vs.filter(_ <= v)).getOrElse(vs)
    val active = mutable.LinkedHashMap.empty[String, AddFile]
    val fs = fsFor(tableDir)
    val ckpt = upTo.lastOption.flatMap { hi =>
      checkpointVersions(tableDir).filter(_ <= hi).lastOption
    }
    ckpt.foreach { cv =>
      val text = new String(readBytes(fs, new Path(logDir(tableDir),
        f"v$cv%020d.checkpoint.json")), StandardCharsets.UTF_8)
      parseCommit(cv, text).add.foreach(a => active(a.path) = a)
    }
    upTo.filter(v => ckpt.forall(_ < v)).foreach { v =>
      val text = new String(readBytes(fs, versionFile(tableDir, v)),
        StandardCharsets.UTF_8)
      val c = parseCommit(v, text)
      c.remove.foreach(active.remove)
      c.add.foreach(a => active(a.path) = a)
    }
    active.values.toSeq
  }

  /** Read the table (optionally as of an old version — time travel).
    * An empty snapshot needs a schema-less empty frame: caller supplies
    * nothing; we return None so the caller distinguishes "no table". */
  def read(spark: SparkSession, tableDir: String,
      asOf: Option[Long] = None): Option[DataFrame] = {
    val files = snapshot(tableDir, asOf)
    if (files.isEmpty) None
    else Some(spark.read.parquet(
      files.map(f => s"$tableDir/data/${f.path}"): _*))
  }

  /** Atomically commit; returns the committed version. Retries on
    * version collision (another writer committed first). `validate` is
    * re-run against the fresh log state on every attempt so conflicting
    * concurrent merges can abort instead of clobbering. */
  def commit(tableDir: String, add: Seq[AddFile], remove: Seq[String],
      validate: Seq[AddFile] => Unit = _ => ()): Long = {
    val fs = fsFor(tableDir)
    fs.mkdirs(logDir(tableDir))
    var attempt = 0
    while (true) {
      attempt += 1
      if (attempt > 50) throw new IllegalStateException(
        "txn commit: 50 consecutive version collisions")
      // `next` first: the snapshot read after it holds every commit
      // before `next`, so none of them escapes validation (read the
      // other way round, a commit landing in between would)
      val next = latestVersion(tableDir).getOrElse(-1L) + 1
      validate(snapshot(tableDir))
      val tmp = new Path(logDir(tableDir),
        s".commit-${java.util.UUID.randomUUID().toString.take(12)}.tmp")
      writeBytes(fs, tmp,
        renderCommit(Commit(next, add, remove))
          .getBytes(StandardCharsets.UTF_8))
      // atomic claim (hard link on local, fail-if-exists rename on
      // HDFS-like — see the class doc). A plain overwriting rename
      // would let two racing writers clobber each other's commit.
      if (claim(fs, tmp, versionFile(tableDir, next))) {
        fs.delete(tmp, false)
        return next
      }
      fs.delete(tmp, false) // lost the race; retry
    }
    -1L // unreachable
  }

  /** Write `df` as new immutable data files; returns their AddFile
    * entries (with key-range stats) without committing them. Stats for
    * ALL part files come from ONE job grouped by input_file_name() — a
    * per-file agg loop would run hundreds of driver-sequential jobs on
    * a wide append. */
  private def writeDataFiles(spark: SparkSession, tableDir: String,
      df: DataFrame, key: String): Seq[AddFile] = {
    val fs = fsFor(tableDir)
    val batchId = java.util.UUID.randomUUID().toString.take(8)
    val out = new Path(dataDir(tableDir), s"batch-$batchId")
    df.write.parquet(out.toString)
    val parts = fs.listStatus(out).toSeq.map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
    val statRows = spark.read.parquet(out.toString)
      .groupBy(input_file_name().as("__file"))
      .agg(count(lit(1)), min(col(key)), max(col(key)))
      .collect()
    val byName = statRows.map { r =>
      val name = r.getString(0).split("/").last
      val entry =
        if (statable(r.get(2)) && statable(r.get(3)))
          (r.getLong(1), statKey(r.get(2)), statKey(r.get(3)))
        else (r.getLong(1), WideMin, WideMax)
      name -> entry
    }.toMap
    parts.toSeq.sorted.flatMap { name =>
      byName.get(name) match {
        case Some((rows, mn, mx)) =>
          Some(AddFile(s"batch-$batchId/$name", rows, mn, mx))
        case None => // zero-row part: drop it instead of logging a
          // stat-less file every merge would needlessly rewrite
          fs.delete(new Path(out, name), false)
          None
      }
    }
  }

  /** Append `df` to the table (creates it if absent). */
  def append(spark: SparkSession, tableDir: String, df: DataFrame,
      key: String): Long = {
    val adds = writeDataFiles(spark, tableDir, df, key)
    commit(tableDir, adds, Seq.empty)
  }

  /** S18 delete-then-insert with snapshot isolation: replace every row
    * whose `key` appears in `replacement`. Files whose [min,max] key
    * range cannot contain a replaced key are kept without being read.
    * Readers at older versions are untouched (removes are logical). */
  def replaceByKey(spark: SparkSession, tableDir: String,
      replacement: DataFrame, key: String): Long = {
    if (latestVersion(tableDir).isEmpty)
      return append(spark, tableDir, replacement, key)

    val repKeys = replacement.select(key).distinct()
    val keyStats = repKeys.agg(min(col(key)), max(col(key))).head()
    val (repMin, repMax) =
      if (statable(keyStats.get(0)) && statable(keyStats.get(1)))
        (statKey(keyStats.get(0)), statKey(keyStats.get(1)))
      else (WideMin, WideMax)

    val current = snapshot(tableDir)
    // prune: a file overlaps only if its range intersects the
    // replacement's [min,max] envelope; wide (stat-less) ranges on
    // either side always overlap — conservative, never skips a file
    // that could hold a replaced key
    def wide(lo: String, hi: String) = lo == WideMin && hi == WideMax
    val touched = current.filter(f =>
      wide(f.minKey, f.maxKey) || wide(repMin, repMax) ||
        (f.maxKey >= repMin && f.minKey <= repMax))
    val survivors =
      if (touched.isEmpty) None
      else {
        val touchedDf = spark.read.parquet(
          touched.map(f => s"$tableDir/data/${f.path}"): _*)
        val kept = touchedDf.join(repKeys, Seq(key), "left_anti")
        Some(kept)
      }
    val newAdds =
      survivors.map(s => writeDataFiles(spark, tableDir, s, key))
        .getOrElse(Seq.empty) ++
        writeDataFiles(spark, tableDir, replacement, key)
    val removed = touched.map(_.path)
    // conflict rule: abort if a concurrent commit removed one of the
    // files this merge read (its survivors were computed from a stale
    // snapshot)
    commit(tableDir, newAdds, removed, validate = fresh => {
      val freshPaths = fresh.map(_.path).toSet
      val missing = removed.filterNot(freshPaths.contains)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"txn conflict: files ${missing.mkString(",")} were replaced " +
          "by a concurrent commit")
    })
  }

  /** Compact small files (the chronic failure mode of micro-batch
    * merge tables: every commit adds files, and a 100 TB table drowns
    * in KB-sized parquet). Files under `smallThresholdRows` are
    * rewritten RANGE-CLUSTERED on the merge key (repartitionByRange +
    * sortWithinPartitions), so each output file covers a near-disjoint
    * key range — which directly sharpens replaceByKey's [min,max]
    * pruning. One transactional commit (remove smalls, add merged);
    * aborts via the conflict validator if a concurrent merge touched a
    * compacted file. Returns the committed version (or the current one
    * when there is nothing to do). */
  def optimize(spark: SparkSession, tableDir: String, key: String,
      smallThresholdRows: Long, targetRowsPerFile: Long = 500000): Long = {
    val current = snapshot(tableDir)
    val small = current.filter(_.rows < smallThresholdRows)
    if (small.size < 2)
      return latestVersion(tableDir).getOrElse(-1L)
    val df = spark.read.parquet(
      small.map(f => s"$tableDir/data/${f.path}"): _*)
    val totalRows = small.map(_.rows).sum
    val nOut = math.max(1,
      math.ceil(totalRows.toDouble / targetRowsPerFile).toInt)
    val clustered = df.repartitionByRange(nOut, col(key))
      .sortWithinPartitions(col(key))
    val adds = writeDataFiles(spark, tableDir, clustered, key)
    val removed = small.map(_.path)
    commit(tableDir, adds, removed, validate = fresh => {
      val freshPaths = fresh.map(_.path).toSet
      val missing = removed.filterNot(freshPaths.contains)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"optimize conflict: ${missing.mkString(",")} changed underneath")
    })
  }

  /** Write a checkpoint of version `v`'s full active-file list (or the
    * latest version when omitted). `snapshot` replays from the newest
    * checkpoint at-or-before its target instead of from v0 — without
    * this, snapshot cost grows linearly with table lifetime (a
    * micro-batch pipeline commits thousands of versions). The
    * checkpoint is just a commit-shaped file alongside the log
    * (`v<N>.checkpoint.json`); writing it is idempotent and racing
    * writers converge on identical bytes. */
  def checkpoint(tableDir: String, asOf: Option[Long] = None): Long = {
    val v = asOf.orElse(latestVersion(tableDir)).getOrElse(
      throw new IllegalStateException("checkpoint of an empty table"))
    val files = snapshot(tableDir, Some(v))
    val fs = fsFor(tableDir)
    val target = new Path(logDir(tableDir), f"v$v%020d.checkpoint.json")
    val tmp = new Path(logDir(tableDir),
      s".ckpt-${java.util.UUID.randomUUID().toString.take(12)}.tmp")
    writeBytes(fs, tmp, renderCommit(Commit(v, files, Seq.empty))
      .getBytes(StandardCharsets.UTF_8))
    // racing checkpointers converge on identical bytes — losing the
    // claim is success, not failure
    claim(fs, tmp, target)
    fs.delete(tmp, false)
    v
  }

  private def checkpointVersions(tableDir: String): Seq[Long] = {
    val fs = fsFor(tableDir)
    val ld = logDir(tableDir)
    if (!fs.exists(ld)) Seq.empty
    else fs.listStatus(ld).toSeq
      .map(_.getPath.getName)
      .filter(_.matches("v\\d{20}\\.checkpoint\\.json"))
      .map(_.stripPrefix("v").stripSuffix(".checkpoint.json").toLong)
      .sorted
  }

  /** Physically delete data files no longer referenced by ANY log
    * version at or after `retainVersions` back from latest. With the
    * default 0, everything unreferenced by the LATEST snapshot goes —
    * callers that want time travel keep more. Files younger than
    * `minAgeMs` are NEVER deleted: a concurrent writer stages its data
    * files BEFORE claiming a log version, so a zero-grace vacuum could
    * delete an in-flight commit's files and leave the log pointing at
    * nothing (Delta's retention-window rule). Returns deleted count. */
  def vacuum(tableDir: String, retainVersions: Int = 0,
      minAgeMs: Long = 3600000L): Int = {
    val vs = versions(tableDir)
    if (vs.isEmpty) return 0
    val keepFrom = vs.drop(math.max(0, vs.length - 1 - retainVersions)).head
    val referenced = vs.filter(_ >= keepFrom)
      .flatMap(v => snapshot(tableDir, Some(v)).map(_.path)).toSet
    val fs = fsFor(tableDir)
    val dd = dataDir(tableDir)
    if (!fs.exists(dd)) return 0
    var deleted = 0
    fs.listStatus(dd).foreach { batch =>
      if (batch.isDirectory) {
        val cutoff = System.currentTimeMillis() - minAgeMs
        fs.listStatus(batch.getPath).foreach { f =>
          val name = f.getPath.getName
          val rel = s"${batch.getPath.getName}/$name"
          if (name.endsWith(".parquet") && !referenced.contains(rel)
              && f.getModificationTime < cutoff) {
            if (fs.delete(f.getPath, false)) deleted += 1
          }
        }
        if (fs.listStatus(batch.getPath)
            .forall(f => !f.getPath.getName.endsWith(".parquet")))
          fs.delete(batch.getPath, true)
      }
    }
    deleted
  }
}
