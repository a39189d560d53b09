package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** STRUCTURAL doc/count sync guard (VERDICT r11 item 1): the catalog
  * counts quoted in README.md, COVERAGE.md, and SURVEY.md are derived
  * here from `SparkEntry.queries` / `SparkEntry.oracleSql` at test
  * time and the suite FAILS when any doc disagrees — manual sync
  * discipline failed three rounds running, so the numbers are now
  * load-bearing test assertions, not prose.
  *
  * Doc contract (the exact phrases this guard pins):
  *  - README.md:      "<Q> queries; <O> DuckDB-hash-gated"
  *  - COVERAGE.md:    "full <Q>-query catalog",
  *                    "<O>/<O> oracled queries match", and a citation
  *                    of EVERY gated query id
  *  - SURVEY.md:      "<Q> gated queries" (the §2 evidence paragraph)
  */
class DocsSyncSpec extends AnyFunSuite {

  private val nQueries = SparkEntry.queries.size
  private val nOracled = SparkEntry.oracleSql.size
  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)

  test("README.md catalog counts match SparkEntry") {
    val want = s"$nQueries queries; $nOracled DuckDB-hash-gated"
    assert(read("README.md").contains(want),
      s"README.md must state '$want' (derived from SparkEntry)")
  }

  test("COVERAGE.md header counts match SparkEntry") {
    val t = read("COVERAGE.md")
    assert(t.contains(s"full $nQueries-query catalog"),
      s"COVERAGE.md must state 'full $nQueries-query catalog'")
    assert(t.contains(s"$nOracled/$nOracled oracled queries match"),
      s"COVERAGE.md must state '$nOracled/$nOracled oracled queries match'")
  }

  test("SURVEY.md §2 evidence paragraph matches SparkEntry") {
    assert(read("SURVEY.md").contains(s"$nQueries gated queries"),
      s"SURVEY.md must state '$nQueries gated queries'")
  }

  test("COVERAGE.md cites every gated query id") {
    val t = read("COVERAGE.md")
    // a range citation "q10–q13" (en-dash or hyphen) covers every
    // numbered id inside it, letter suffixes included (q71–q71j
    // covers q71h)
    val ranges = """q(\d+)[a-z]*\s*[–-]\s*q?(\d+)""".r
      .findAllMatchIn(t)
      .map(m => (m.group(1).toInt, m.group(2).toInt)).toSeq
    val ids = SparkEntry.queries.keySet.map(_.split("_")(0))
    val missing = ids.filterNot { id =>
      val n = id.drop(1).takeWhile(_.isDigit).toInt
      ("(?<![\\w])" + java.util.regex.Pattern.quote(id) + "(?![\\w])")
        .r.findFirstIn(t).isDefined ||
        ranges.exists { case (a, b) => a <= n && n <= b }
    }
    assert(missing.isEmpty,
      s"COVERAGE.md has no row citing: ${missing.toSeq.sorted.mkString(", ")}")
  }
}
