package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** sha256 fingerprints of the driver-contract oracle SQL
  * ([[SparkEntry.oracleSql]]), so a refactor of the code that writes
  * the SQL text shows any change to the text itself. The text is
  * normalised first: each whitespace run becomes one space, whitespace
  * right after `(` and right before `)` is dropped, and the ends are
  * trimmed. Layout changes pass; any change to a token fails.
  *
  * The committed table is `src/test/resources/oracle/sql_fingerprints.tsv`
  * (`name<TAB>sha256`, sorted by name), checked by [[SparkEntrySpec]].
  * Regenerate it only when an oracle is meant to change:
  *
  *   sbt "Test/runMain graft.OracleFingerprints"
  */
object OracleFingerprints {

  val TsvPath = "src/test/resources/oracle/sql_fingerprints.tsv"

  def normalize(sql: String): String =
    sql.replaceAll("\\s+", " ").replace("( ", "(").replace(" )", ")").trim

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  /** `name -> sha256(normalize(oracle))`, sorted by name. */
  def current: Seq[(String, String)] =
    SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (name, sql) => name -> sha256(normalize(sql)) }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(TsvPath)
    val lines = current.map { case (n, h) => s"$n\t$h" }
    Files.write(Paths.get(out), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    println(s"wrote ${lines.size} oracle fingerprints to $out")
  }
}
