package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/** Snapshot-manifest table layout — the MERGE-style commit semantics
  * of an Iceberg table (overwrite-partition + snapshot isolation),
  * implemented on plain files because the Iceberg runtime jar cannot
  * be vendored in this sandbox (ROUND3_NOTES #7):
  *
  *  - data for partition `p`, attempt `t` lives under
  *    `<root>/data/p_<p>/a_<t>/` — attempts NEVER overwrite in place;
  *  - `<root>/snapshots/v<N>.manifest` is an immutable JSON-lines file
  *    listing every partition's current data path + lineage metrics;
  *  - a commit writes the new data dir, then writes the next manifest
  *    to a temp name and RENAMES it to `v<N+1>.manifest` — rename to a
  *    fresh name is atomic on HDFS/local, so a manifest either exists
  *    completely or not at all;
  *  - the current snapshot IS the max-N manifest (no mutable pointer
  *    file — nothing is ever overwritten, so no swap race);
  *  - readers pin a version: `read(version)` unions exactly that
  *    manifest's paths — a consistent view no concurrent commit can
  *    tear (snapshot isolation); a killed run leaves at most orphan
  *    data dirs and `_tmp.` files, never a visible half-commit;
  *  - re-committing a partition points the new manifest at the new
  *    attempt dir — the overwrite-partition MERGE, as metadata only.
  *
  * Single-writer (the driver), like the reference's one-pipeline-per-
  * corpus marker protocol (ocr_pipeline.py:160-199).
  */
final class SnapshotStore(spark: SparkSession, root: String) {

  /** One manifest line: a partition's committed state. `nFailures`
    * (manifest key `n_failures`) is the writer's failure count;
    * `ExtractMain` stores its unestimated-doc count there
    * (`docs_unestimated`) and labels it `unestimated` in its lineage
    * print. `schemaHash` (manifest key `schema`, required) fingerprints
    * the data files' Spark schema (md5 of schema JSON) so reads can
    * decide cheaply whether a cross-partition schema merge is needed.
    * `summary` (manifest key `summary`, optional) is
    * an opaque string the writer stores with the entry: the store
    * carries it forward without reading it (`ExtractMain` keeps the
    * partition's report statistics there; see
    * [[graft.stages.ReportParts]]); empty when the writer stored none. */
  final case class Entry(part: Int, path: String, nDocs: Long,
      nSpans: Long, nFailures: Long, committedAt: String,
      schemaHash: String, summary: String = "")

  private val snapDir = s"$root/snapshots"
  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fresh (never-reused) data location for an attempt at partition p. */
  def newDataPath(part: Int): String =
    s"$root/data/p_$part/a_${System.nanoTime()}"

  /** Highest committed snapshot version, if any. */
  def currentVersion(): Option[Long] = {
    val dir = new Path(snapDir)
    if (!fs.exists(dir)) None
    else {
      val vs = fs.listStatus(dir).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
        .map(_.stripPrefix("v").stripSuffix(".manifest").toLong)
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** The entries of a snapshot (default: current). */
  def entries(version: Option[Long] = None): Map[Int, Entry] = {
    val v = version.orElse(currentVersion()).getOrElse(return Map.empty)
    val in = fs.open(new Path(snapDir, s"v$v.manifest"))
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(parseLine).map(e => e.part -> e).toMap
    } finally in.close()
  }

  /** Commit partition `part` at `dataPath` into a new snapshot:
    * carries every other partition's entry forward, replaces this
    * partition's (MERGE/overwrite-partition). Returns the version.
    * A `dataPath` that does not exist or holds no data file, or whose
    * schema cannot be read, throws before anything is written: a
    * manifest never names data no reader could open. */
  def commit(part: Int, dataPath: String, nDocs: Long, nSpans: Long,
      nFailures: Long, summary: String = ""): Long = {
    requireData(Seq(dataPath))
    // one footer read per COMMIT buys every future read() the right
    // to skip Spark's all-files schema-merge pass (see read())
    val hash = SnapshotStore.schemaHash(spark.read.parquet(dataPath).schema)
    publish(Seq(Entry(part, dataPath, nDocs, nSpans, nFailures, "", hash, summary)))
  }

  /** Commit several partitions into ONE new snapshot: every given
    * entry replaces its partition's, every other partition's entry is
    * carried forward, and all of them become visible with one atomic
    * rename. `committedAt` is stamped here, one instant for the whole
    * commit; `schemaHash` is the caller's (see
    * [[SnapshotStore.schemaHash]]) and must be set, so no footer is
    * read. Every path is checked to hold data before anything is
    * written. Returns the version. */
  def commitAll(entries: Seq[Entry]): Long = {
    require(entries.nonEmpty, "nothing to commit")
    require(entries.map(_.part).distinct.size == entries.size,
      s"one entry per partition: ${entries.map(_.part).mkString(",")}")
    require(entries.forall(_.schemaHash.nonEmpty),
      s"no schema hash: part ${entries.filter(_.schemaHash.isEmpty).map(_.part).mkString(",")}")
    requireData(entries.map(_.path))
    publish(entries)
  }

  /** Every path exists and, if a dir, holds a data file: one whose
    * name starts with neither `_` (`_SUCCESS`) nor `.` (checksums). */
  private def requireData(paths: Seq[String]): Unit = paths.foreach { p =>
    val path = new Path(p)
    val problem =
      if (!fs.exists(path)) Some("does not exist")
      else if (fs.getFileStatus(path).isDirectory && !fs.listStatus(path)
          .map(_.getPath.getName).exists(n => !n.startsWith("_") && !n.startsWith(".")))
        Some("holds no data file")
      else None
    problem.foreach(why => throw new java.io.IOException(s"cannot commit: $p $why"))
  }

  /** Writes the next manifest: the current entries with `changed`
    * replacing theirs, all stamped with one commit time. */
  private def publish(changed: Seq[Entry]): Long = {
    val cur = currentVersion()
    val next = cur.getOrElse(0L) + 1
    val now = java.time.Instant.now.toString
    val merged = entries(cur) ++ changed.map(e => e.part -> e.copy(committedAt = now))
    val tmp = new Path(snapDir, s"_tmp.v$next.${System.nanoTime()}")
    fs.mkdirs(new Path(snapDir))
    val out = fs.create(tmp, true)
    try {
      val w = new java.io.OutputStreamWriter(out, "UTF-8")
      merged.values.toSeq.sortBy(_.part).foreach { e =>
        w.write(s"""{"part":${e.part},"path":${json(e.path)},"n_docs":${e.nDocs},""" +
          s""""n_spans":${e.nSpans},"n_failures":${e.nFailures},""" +
          s""""committed_at":${json(e.committedAt)},""" +
          s""""schema":${json(e.schemaHash)}""" +
          (if (e.summary.isEmpty) "" else s""","summary":${json(e.summary)}""") +
          "}\n")
      }
      w.flush()
    } finally out.close()
    // atomic publish: rename to a name that does not exist yet. The
    // store is SINGLE-WRITER by contract (the driver); this check is
    // best-effort lost-update detection, not a lock — HDFS rename
    // refuses an existing target, but a POSIX local rename would
    // silently replace it, so we probe first (TOCTOU-narrow, which is
    // acceptable for a misconfiguration guard).
    val target = new Path(snapDir, s"v$next.manifest")
    if (fs.exists(target) || !fs.rename(tmp, target))
      throw new java.io.IOException(s"snapshot v$next publish failed (concurrent writer?)")
    next
  }

  /** Partitions committed as of the current snapshot. */
  def done(): Set[Int] = entries().keySet

  /** Consistent read of the table at a snapshot (default: current):
    * exactly the manifest's paths, immune to concurrent commits.
    * SCHEMA EVOLUTION: when the manifest's schema fingerprints show
    * the partitions diverge (a column added by a newer release),
    * `mergeSchema` unions them (nulls backfill) — and a
    * version-pinned read still sees exactly the schema of ITS files
    * (time travel includes the schema). When all fingerprints agree —
    * the overwhelmingly common case — the merge pass (a footer read
    * of EVERY data file) is skipped. */
  def read(version: Option[Long] = None): DataFrame = {
    val es = entries(version)
    require(es.nonEmpty, "empty table: no committed snapshot")
    val needMerge = es.values.map(_.schemaHash).toSet.size > 1
    spark.read.option("mergeSchema", needMerge.toString)
      .parquet(es.values.toSeq.sortBy(_.part).map(_.path): _*)
  }

  /** Compact a partition's data files (the `rewrite_data_files`
    * maintenance op — incremental ticks accumulate small files):
    * rewrite the current attempt dir into `targetFiles` files at a
    * FRESH attempt path and commit the swap, the whole entry (lineage,
    * schema hash, summary) carried over, so no footer is read.
    * Content-identical, metadata-only
    * replacement — readers pinned to older versions keep the old files
    * until [[expire]] garbage-collects them. */
  def compact(part: Int, targetFiles: Int = 1): Long = {
    val e = entries().getOrElse(part,
      throw new NoSuchElementException(s"partition $part not committed"))
    val dest = newDataPath(part)
    spark.read.parquet(e.path).coalesce(targetFiles)
      .write.parquet(dest)
    commitAll(Seq(e.copy(path = dest)))
  }

  /** Expire history (the `expire_snapshots` maintenance op): keep the
    * newest `keepLast` manifests, delete older ones, then garbage-
    * collect every attempt dir no surviving manifest references.
    * Readers pinned to an expired version lose time travel — that is
    * the retention trade; the current view is untouched. Returns
    * (#manifests deleted, #data dirs deleted). */
  def expire(keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val dir = new Path(snapDir)
    if (!fs.exists(dir)) return (0, 0)
    val versions = fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(_.stripPrefix("v").stripSuffix(".manifest").toLong)
      .sorted(Ordering.Long.reverse)
    // no manifests → an empty referenced-set would GC EVERY data dir;
    // a store with no committed snapshot has nothing safe to expire
    if (versions.isEmpty) return (0, 0)
    val (keep, drop) = versions.splitAt(keepLast)
    // fully qualify BOTH sides before comparing: manifest entries may
    // hold relative or scheme-less paths while listStatus returns
    // qualified ones — a string mismatch here would GC live data
    val referenced = keep.flatMap(v => entries(Some(v)).values.map(_.path))
      .map(p => fs.makeQualified(new Path(p)).toString).toSet
    drop.foreach(v => fs.delete(new Path(snapDir, s"v$v.manifest"), false))
    // orphan GC: attempt dirs under data/p_*/ not referenced by any
    // surviving manifest
    val dataDir = new Path(s"$root/data")
    var removed = 0
    if (fs.exists(dataDir)) {
      fs.listStatus(dataDir).filter(_.isDirectory).foreach { pDir =>
        fs.listStatus(pDir.getPath).filter(_.isDirectory)
          .filterNot(a => referenced.contains(fs.makeQualified(a.getPath).toString))
          .foreach { a =>
            fs.delete(a.getPath, true)
            removed += 1
          }
      }
    }
    (drop.size, removed)
  }

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def parseLine(line: String): Entry = {
    def grabNum(k: String): Long = {
      val m = java.util.regex.Pattern.compile("\"" + k + "\":(-?\\d+)").matcher(line)
      require(m.find(), s"bad manifest line: $line"); m.group(1).toLong
    }
    def grabStr(k: String, required: Boolean = true): String = {
      val m = java.util.regex.Pattern
        .compile("\"" + k + "\":\"((?:[^\"\\\\]|\\\\.)*)\"").matcher(line)
      if (!m.find()) {
        require(!required, s"bad manifest line (no $k): $line")
        return "" // an entry stored without a summary
      }
      unjson(m.group(1))
    }
    Entry(grabNum("part").toInt, grabStr("path"), grabNum("n_docs"),
      grabNum("n_spans"), grabNum("n_failures"), grabStr("committed_at"),
      grabStr("schema"), grabStr("summary", required = false))
  }

  /** Inverse of [[json]] on a string body: quote, backslash and the
    * four-hex-digit escapes of control characters. */
  private def unjson(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s(i) == '\\' && i + 1 < s.length) {
        if (s(i + 1) == 'u') {
          b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
        } else { b += s(i + 1); i += 2 }
      } else { b += s(i); i += 1 }
    }
    b.toString
  }
}

object SnapshotStore {

  /** Fingerprint of a data dir's Spark schema (md5 of its JSON), as the
    * parquet reader reports it: every field nullable. A writer hashes
    * the schema of the DataFrame it wrote and gets the hash a footer
    * read of the written files would give. */
  def schemaHash(schema: StructType): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(Bridge.asNullable(schema).json.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
