package graft.run

/** The span kind of a parse-failure row: [[IngestAny.parseDocs]] turns
  * a row it cannot parse into one `kind='error'` span carrying the
  * message instead of aborting the job — the engine equivalent of the
  * reference's per-file StepException skip (ocr_pipeline.py:426-431).
  */
object IngestXml {

  val KindError = "error"
}
