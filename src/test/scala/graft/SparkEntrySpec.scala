package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The driver contract itself: entry() returns rows at sf0.001, every
  * query name has a runnable function and an oracle, and every
  * oracle's SQL text matches its committed fingerprint. */
class SparkEntrySpec extends SparkSpecBase {

  test("entry() smoke: flagship pipeline returns rows at sf0.001") {
    assume(new java.io.File("/root/testdata/sf0.001").isDirectory)
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries; names are stable") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"orphan oracles: ${os.diff(qs)}")
    assert(qs.forall(_.matches("q\\d{2}_[a-z0-9_]+")), s"bad names: $qs")
    assert(qs.size == 65 && os.size == 65)
  }

  test("every oracle's normalised SQL text matches its committed sha256") {
    val committed = Files.readAllLines(Paths.get(OracleFingerprints.TsvPath), UTF_8)
      .asScala.filter(_.nonEmpty).map { line =>
        val Array(name, sha) = line.split("\t")
        name -> sha
      }.toMap
    val current = OracleFingerprints.current.toMap
    assert(current.keySet == committed.keySet,
      s"queries without a fingerprint: ${current.keySet.diff(committed.keySet)}; " +
        s"fingerprints without a query: ${committed.keySet.diff(current.keySet)}")
    val changed = current.keys.toSeq.sorted.filter(n => current(n) != committed(n))
    assert(changed.isEmpty, s"oracle SQL changed for: ${changed.mkString(", ")}")
  }

  test("fingerprint normalisation ignores layout only") {
    import OracleFingerprints.normalize
    assert(normalize("  SELECT a,\n\t b FROM ( SELECT 1 AS a )  ") ==
      "SELECT a, b FROM (SELECT 1 AS a)")
    assert(normalize("SELECT a FROM t") != normalize("SELECT a  FROM t2"))
  }
}
