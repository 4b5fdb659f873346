package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{coalesce, count, lit, pmod, size, sum, when, xxhash64}

import graft.io.{Checkpoint, SnapshotStore}
import graft.model.{Doc, Span}
import graft.run.ExtractMain
import graft.stages.ProcessedDoc

/** Checkpoint/resume protocol (T1/J1): kill-resume idempotence — a
  * re-run after losing commits reprocesses exactly the uncommitted
  * partitions and converges to the same corpus output — plus the
  * snapshot-manifest guarantees (MERGE-style replace, isolation). */
class CheckpointSpec extends SparkSpecBase {

  test("resume reprocesses only uncommitted partitions, output identical") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-ckpt").toString
    val spansPath = s"$tmp/spans"
    val outRoot = s"$tmp/out"

    graft.gen.CorpusGen.docs(spark, 200, "interleaved")
      .write.mode(SaveMode.Overwrite).parquet(spansPath)

    ExtractMain.run(spark, spansPath, outRoot, nParts = 4)
    val snap = new SnapshotStore(spark, outRoot)
    assert(snap.done() == Set(0, 1, 2, 3))
    assert(snap.currentVersion().contains(1L)) // one snapshot per run
    val full = snap.read()
      .select($"doc_id", $"hit_ratio", $"n_words").as[(String, Double, Int)]
      .collect().sortBy(_._1).toSeq
    assert(full.size == 200)

    // rebuild the state a per-partition release killed after two of its
    // four commits leaves behind: drop the run's manifest, then commit
    // two of its entries one by one (v1, v2; a killed run can never
    // leave a half-written manifest — publish is a rename to a fresh
    // name)
    val run1 = snap.entries()
    new java.io.File(s"$outRoot/snapshots/v1.manifest").delete()
    run1.values.toSeq.sortBy(_.part).take(2).foreach { e =>
      snap.commit(e.part, e.path, e.nDocs, e.nSpans, e.nFailures)
    }
    assert(snap.currentVersion().contains(2L))
    assert(snap.done().size == 2)
    val survivors = snap.done()

    ExtractMain.run(spark, spansPath, outRoot, nParts = 4)
    assert(snap.done() == Set(0, 1, 2, 3))
    val resumed = snap.read()
      .select($"doc_id", $"hit_ratio", $"n_words").as[(String, Double, Int)]
      .collect().sortBy(_._1).toSeq
    assert(resumed == full)

    // snapshot isolation: the v2 view still reads exactly the two
    // surviving partitions — replaced/added commits never touched its
    // attempt dirs
    val v2 = snap.read(Some(2L))
    assert(v2.count() < 200 && v2.count() > 0)
    assert(snap.entries(Some(2L)).keySet == survivors)

    // MERGE semantics: re-committing a partition repoints the manifest
    // at a new attempt dir instead of overwriting data in place
    val before = snap.entries(Some(2L))
    val after = snap.entries()
    survivors.foreach { p => assert(before(p).path == after(p).path) }

    // the manifest is the only lineage record: its metrics match the
    // committed data, and no legacy marker dir is written
    val es = snap.entries().values
    assert(es.map(_.nDocs).sum == 200)
    val spanTotal = snap.read().select(sum(size($"spans"))).as[Long].head()
    assert(es.map(_.nSpans).sum == spanTotal)
    assert(!new java.io.File(s"$outRoot/state").exists())
  }

  test("expire keeps the current view, GCs unreferenced attempt dirs") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-expire").toString
    val snap = new SnapshotStore(spark, tmp)
    def write(path: String, n: Int): String = {
      spark.range(n).select($"id").write.parquet(path); path
    }
    // v1: part 0 attempt A; v2: part 1; v3: part 0 REPLACED by attempt B
    val a = write(snap.newDataPath(0), 3)
    snap.commit(0, a, 3, 3, 0)
    val b = write(snap.newDataPath(1), 5)
    snap.commit(1, b, 5, 5, 0)
    val c = write(snap.newDataPath(0), 4)
    snap.commit(0, c, 4, 4, 0)
    assert(snap.read().count() == 9) // 4 + 5

    val (mDropped, dirsDropped) = snap.expire(keepLast = 1)
    assert(mDropped == 2)
    assert(dirsDropped == 1, "exactly the replaced attempt dir is orphaned")
    assert(!new java.io.File(a).exists())
    assert(new java.io.File(b).exists() && new java.io.File(c).exists())
    // current view intact; expired versions are gone
    assert(snap.read().count() == 9)
    assert(snap.currentVersion().contains(3L))
    intercept[Exception](snap.read(Some(1L)).count())
  }

  test("compact rewrites a partition's small files, content-identical") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-compact").toString
    val snap = new SnapshotStore(spark, tmp)
    val p = snap.newDataPath(0)
    spark.range(1000).select($"id").repartition(8).write.parquet(p)
    snap.commit(0, p, 1000, 1000, 0)
    def files(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files(p) == 8)
    val before = snap.read().as[Long].collect().sorted.toSeq

    val v = snap.compact(0, targetFiles = 1)
    assert(v == 2L)
    val after = snap.entries()(0)
    assert(after.path != p, "compaction must write a fresh attempt dir")
    assert(files(after.path) == 1)
    assert(snap.read().as[Long].collect().sorted.toSeq == before)
    assert(after.nDocs == 1000) // lineage carried through

    // the pre-compaction view still reads the old files until expire()
    assert(snap.read(Some(1L)).count() == 1000)
    val (_, gced) = snap.expire(keepLast = 1)
    assert(gced == 1 && !new java.io.File(p).exists())
    assert(snap.read().count() == 1000)
  }

  test("manifest publish is atomic: tmp files are invisible to readers") {
    val tmp = Files.createTempDirectory("graft-snap").toString
    val snap = new SnapshotStore(spark, tmp)
    assert(snap.currentVersion().isEmpty && snap.done().isEmpty)
    // a crashed writer leaves only a _tmp. file — readers ignore it
    val dir = new java.io.File(s"$tmp/snapshots"); dir.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/snapshots/_tmp.v1.123"), "{half")
    assert(snap.currentVersion().isEmpty)
    // a real commit then publishes v1 with the entry
    spark.range(1).write.parquet(s"$tmp/data/p_7/a_1")
    val v = snap.commit(7, s"$tmp/data/p_7/a_1", 10, 20, 0)
    assert(v == 1L)
    assert(snap.done() == Set(7))
    assert(snap.entries()(7).nSpans == 20)
  }

  test("commit refuses a data path it cannot read, before writing anything") {
    val tmp = Files.createTempDirectory("graft-missing").toString
    val snap = new SnapshotStore(spark, tmp)
    val ok = snap.newDataPath(0)
    spark.range(3).write.parquet(ok)
    snap.commit(0, ok, 3, 3, 0)
    def tmpFiles = new java.io.File(s"$tmp/snapshots").list().count(_.startsWith("_tmp."))
    val tmpBefore = tmpFiles

    val missing = s"$tmp/data/p_1/a_never_written"
    val e = intercept[java.io.IOException](snap.commit(1, missing, 5, 5, 0))
    assert(e.getMessage.contains(missing))
    // an existing dir with no parquet in it: the footer read fails
    val empty = new java.io.File(snap.newDataPath(2)); empty.mkdirs()
    intercept[Exception](snap.commit(2, empty.toString, 1, 1, 0))

    assert(snap.currentVersion().contains(1L))
    assert(snap.done() == Set(0))
    assert(tmpFiles == tmpBefore)
  }

  test("a rerun over a grown input warns with both counts and commits nothing") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-grown").toString
    val spansPath = s"$tmp/spans"
    val outRoot = s"$tmp/out"
    graft.gen.CorpusGen.docs(spark, 40, "interleaved").write.parquet(spansPath)
    ExtractMain.run(spark, spansPath, outRoot, nParts = 4)
    val snap = new SnapshotStore(spark, outRoot)
    val v = snap.currentVersion()
    def ids = snap.read().select($"doc_id").as[String].collect().sorted.toSeq
    val before = ids
    assert(before.size == 40)
    def rerun(): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(buf)(ExtractMain.run(spark, spansPath, outRoot, nParts = 4))
      buf.toString("UTF-8")
    }
    // unchanged input: nothing pending, nothing to warn about
    assert(!rerun().contains("WARNING"))

    graft.gen.CorpusGen.docs(spark, 50, "interleaved")
      .filter($"doc_id" >= "doc_000000000040")
      .write.mode(SaveMode.Append).parquet(spansPath)
    val warnings = rerun().linesIterator.filter(_.startsWith("[extract] WARNING")).toSeq
    assert(warnings.size == 1, warnings)
    assert(warnings.head.contains("50") && warnings.head.contains("40"), warnings.head)
    assert(snap.currentVersion() == v)
    assert(ids == before)
  }

  test("schema evolution: later snapshots add a column; time travel keeps the old schema") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft-evo").toString
    val snap = new SnapshotStore(spark, tmp)
    // v1: partition 0 under the original schema
    val p0 = snap.newDataPath(0)
    Seq(("a", 1), ("b", 2)).toDF("doc_id", "n").write.parquet(p0)
    snap.commit(0, p0, 2, 2, 0)
    // v2: partition 1 committed by a NEWER release with an added column
    val p1 = snap.newDataPath(1)
    Seq(("c", 3, "de")).toDF("doc_id", "n", "lang").write.parquet(p1)
    snap.commit(1, p1, 1, 1, 0)

    // current read merges schemas: old rows null-backfill the new column
    val cur = snap.read()
    assert(cur.columns.toSet == Set("doc_id", "n", "lang"))
    assert(cur.count() == 3)
    assert(cur.filter(col("lang").isNull).count() == 2)
    // time travel to v1: the old schema, no phantom column
    val v1 = snap.read(Some(1L))
    assert(v1.columns.toSet == Set("doc_id", "n"))
    assert(v1.count() == 2)

    // MERGE partition 0 up to the evolved schema, then expire history:
    // the current view survives with the merged schema intact
    val p0b = snap.newDataPath(0)
    Seq(("a", 1, "en"), ("b", 2, "en")).toDF("doc_id", "n", "lang").write.parquet(p0b)
    snap.commit(0, p0b, 2, 2, 0)
    assert(snap.read().filter(col("lang").isNull).count() == 0)
    val (m, d) = snap.expire(1)
    assert(m == 2 && d >= 1)
    assert(snap.read().count() == 3)
    assert(snap.read().columns.toSet == Set("doc_id", "n", "lang"))
  }

  test("legacy marker-only layout: backfill adopts data, expire GCs superseded files") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-legacy").toString
    val spansPath = s"$tmp/spans"
    val outRoot = s"$tmp/out"
    graft.gen.CorpusGen.docs(spark, 60, "interleaved")
      .write.mode(SaveMode.Overwrite).parquet(spansPath)

    // simulate the pre-manifest release: run normally, write each
    // partition's marker from its manifest entry, then strip the
    // manifests and flatten each attempt dir up into data/p_N (the
    // legacy layout: parquet files directly under the partition dir)
    ExtractMain.run(spark, spansPath, outRoot, nParts = 2)
    val snap = new SnapshotStore(spark, outRoot)
    val full = snap.read().select($"doc_id", $"n_words").as[(String, Int)]
      .collect().sortBy(_._1).toSeq
    val ckpt = new Checkpoint(spark, outRoot)
    snap.entries().values.foreach { e =>
      ckpt.commit(e.part, e.nDocs, e.nSpans, e.nFailures)
    }
    new java.io.File(s"$outRoot/snapshots").listFiles().foreach(_.delete())
    (0 until 2).foreach { p =>
      val pDir = new java.io.File(s"$outRoot/data/p_$p")
      val attempt = pDir.listFiles().filter(_.isDirectory).head
      attempt.listFiles().foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(pDir, f.getName).toPath)
      }
      attempt.delete()
    }
    assert(snap.currentVersion().isEmpty)

    // resume: the backfill must ADOPT the legacy data — loose files
    // move into a synthetic a_legacy attempt dir (NOT data/p_N itself,
    // which is the parent of future attempts) and the corpus is
    // byte-identical, not rebuilt
    ExtractMain.run(spark, spansPath, outRoot, nParts = 2)
    assert(snap.done() == Set(0, 1))
    assert(snap.entries().values.forall(_.path.endsWith("a_legacy")),
      s"reprocessed instead of adopting: ${snap.entries()}")
    assert(snap.entries().values.map(_.nDocs).sum == 60) // marker lineage carried
    val resumed = snap.read().select($"doc_id", $"n_words").as[(String, Int)]
      .collect().sortBy(_._1).toSeq
    assert(resumed == full)

    // the nesting regression this layout prevents: a version pinned
    // BEFORE a later recommit must keep reading exactly its own files
    val vAdopt = snap.currentVersion().get
    snap.compact(0)
    assert(snap.read(Some(vAdopt)).count() == 60,
      "time-travel read double-counts after recommit")
    assert(snap.read().count() == 60)

    // expire then GCs the superseded a_legacy dir like any attempt —
    // and still sweeps loose files under a partition dir no manifest
    // references (a warned, never-backfilled root)
    val stray = new java.io.File(s"$outRoot/data/p_9")
    stray.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(stray, "orphan.parquet").toPath, "x")
    val (_, removed) = snap.expire(1)
    assert(removed >= 2, s"expected a_legacy dir + stray file GC'd: $removed")
    assert(!new java.io.File(s"$outRoot/data/p_0/a_legacy").exists())
    assert(new java.io.File(s"$outRoot/data/p_9").listFiles().forall(_.isDirectory))
    assert(snap.read().count() == 60)
  }

  test("one write job commits every pending partition, empty ones included") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-sparse").toString
    Seq("a", "b", "c").map(id => Doc(id, Seq(Span(Span.KindText, s"wort $id", "line://b/l0", 0))))
      .toDF().write.parquet(s"$tmp/in")
    ExtractMain.run(spark, s"$tmp/in", s"$tmp/out", nParts = 16)
    val snap = new SnapshotStore(spark, s"$tmp/out")
    assert(snap.done() == (0 until 16).toSet)
    assert(snap.read().count() == 3)
    val es = snap.entries().values
    assert(es.map(_.nDocs).sum == 3)
    assert(es.map(_.schemaHash).toSet.size == 1 && es.head.schemaHash.nonEmpty)
    // each attempt dir holds parquet files plus _SUCCESS, like any
    // committed attempt; nothing of the staging write is left behind
    assert(es.forall(e => new java.io.File(e.path, "_SUCCESS").exists()))
    val data = new java.io.File(s"$tmp/out/data")
    assert(data.list().toSet == (0 until 16).map(p => s"p_$p").toSet)
    val leftovers = data.listFiles().flatMap(_.listFiles()).flatMap(_.list())
      .filter(n => n.startsWith("part=") || n.startsWith("_staging"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  test("a killed write's staging leftovers change nothing; expire collects them") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-staging").toString
    val spansPath = s"$tmp/spans"
    graft.gen.CorpusGen.docs(spark, 40, "interleaved").write.parquet(spansPath)
    def rows(root: String) = new SnapshotStore(spark, root).read()
      .as[ProcessedDoc].collect().sortBy(_.doc_id).toSeq
    ExtractMain.run(spark, spansPath, s"$tmp/clean", nParts = 4)

    // what a run killed during its write leaves: an unreferenced
    // staging attempt with partition subdirs
    val stale = new java.io.File(s"$tmp/out/data/_staging/a_1")
    new java.io.File(stale, "part=0").mkdirs()
    Files.writeString(new java.io.File(stale, "part=0/x.parquet").toPath, "x")
    ExtractMain.run(spark, spansPath, s"$tmp/out", nParts = 4)
    val snap = new SnapshotStore(spark, s"$tmp/out")
    assert(snap.done() == Set(0, 1, 2, 3))
    val out = rows(s"$tmp/out")
    assert(out.size == 40 && out == rows(s"$tmp/clean"))

    val (_, removed) = snap.expire(1)
    assert(removed == 1 && !stale.exists())
    assert(rows(s"$tmp/out") == out)
  }

  test("each manifest entry's lineage counts exactly its own partition") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-lineage").toString
    val spansPath = s"$tmp/spans"
    // the edge profile has empty docs, so some docs stay unestimated
    graft.gen.CorpusGen.docs(spark, 200, "edge").write.parquet(spansPath)
    ExtractMain.run(spark, spansPath, s"$tmp/out", nParts = 4)
    val snap = new SnapshotStore(spark, s"$tmp/out")
    val want = snap.read()
      .groupBy(pmod(xxhash64($"doc_id"), lit(4)).cast("int"))
      .agg(count(lit(1)), coalesce(sum(size($"spans")), lit(0L)),
        count(when($"hit_ratio" === -1.0, 1)))
      .as[(Int, Long, Long, Long)].collect()
      .map { case (p, d, s, u) => p -> ((d, s, u)) }.toMap
    val got = snap.entries().map { case (p, e) => p -> ((e.nDocs, e.nSpans, e.nFailures)) }
    assert(got == want)
    assert(got.values.map(_._3).sum > 0, "corpus has no unestimated doc")
    snap.entries().values.foreach(e => assert(spark.read.parquet(e.path).count() == e.nDocs))
  }
}
