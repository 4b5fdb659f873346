package graft.io

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Writer of the pre-manifest marker layout — the marker-only
  * release's twin of the reference's marker-file choreography
  * (`ocr_pipeline_open` → `busy` → `done`/`fail`,
  * ocr_pipeline.py:160-199, :338-365): `<root>/state/p_<p>/` holds one
  * tiny parquet marker per committed partition with its lineage
  * metrics, written atomically by Spark's output committer.
  *
  * No job writes or reads this layout: the snapshot manifest
  * ([[SnapshotStore]]) is the only commit and lineage record, and
  * `ExtractMain` refuses a root in this layout. [[commit]] stays only
  * for perfbench's `io.Checkpoint.commit.wall_s` probe, and goes when
  * perfbench stops measuring it (ROADMAP direction 2).
  */
final class Checkpoint(spark: SparkSession, root: String) {

  /** Atomically write the marker for partition `p` with its lineage
    * metrics (docs parsed, spans emitted, parse failures). */
  def commit(p: Int, docs: Long, spans: Long, failures: Long): Unit = {
    import spark.implicits._
    Seq((p, docs, spans, failures, java.time.Instant.now.toString))
      .toDF("part", "n_docs", "n_spans", "n_failures", "committed_at")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$root/state/p_$p")
  }
}
