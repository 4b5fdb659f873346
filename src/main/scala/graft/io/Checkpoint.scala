package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Adapter for the pre-manifest output layout — the marker-only
  * release's twin of the reference's marker-file choreography
  * (`ocr_pipeline_open` → `busy` → `done`/`fail`,
  * ocr_pipeline.py:160-199, :338-365).
  *
  * Legacy layout: `<root>/state/p_<p>/` holds one tiny parquet marker
  * per committed partition with its lineage metrics, written
  * atomically by Spark's output committer (temp + rename, `_SUCCESS`
  * last). No current job writes markers: the snapshot manifest
  * ([[SnapshotStore]]) is the only commit and lineage record.
  * `ExtractMain.backfillLegacy` reads markers through [[lineage]] to
  * adopt a legacy root's data into the manifest; [[commit]] writes
  * that layout, for building legacy roots and for probing its cost.
  *
  * [[backupPath]] names the S7 pre-image location, which is not part
  * of the legacy layout and is still written.
  */
final class Checkpoint(spark: SparkSession, root: String) {

  private val statePath = s"$root/state"

  /** S7 — pre-image audit location for partition `p`: the input
    * snapshot written before the stage output overwrites anything
    * (the reference's `<label>_before_<StepClass>.xml` backup,
    * lib/ocr_step.py:230-243). */
  def backupPath(part: Int): String = s"$root/backup/p_$part"

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Atomically write the legacy marker for partition `p` with its
    * lineage metrics (docs parsed, spans emitted, parse failures). */
  def commit(p: Int, docs: Long, spans: Long, failures: Long): Unit = {
    import spark.implicits._
    Seq((p, docs, spans, failures, java.time.Instant.now.toString))
      .toDF("part", "n_docs", "n_spans", "n_failures", "committed_at")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$statePath/p_$p")
  }

  /** Lineage table of the COMMITTED markers only: a dir counts when
    * its committer run completed (`_SUCCESS`). A crash can leave a
    * file-less p_N dir; the bare glob would either surface that
    * half-commit or fail schema inference when it is the only dir. */
  def lineage(): DataFrame = {
    val p = new Path(statePath)
    val committed =
      if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).toSeq
        .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
        .map(_.getPath.toString)
    if (committed.isEmpty) {
      import spark.implicits._
      Seq.empty[(Int, Long, Long, Long, String)]
        .toDF("part", "n_docs", "n_spans", "n_failures", "committed_at")
    } else spark.read.parquet(committed: _*).orderBy(col("part"))
  }
}
