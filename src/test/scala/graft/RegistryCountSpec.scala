package graft

import org.scalatest.funsuite.AnyFunSuite

/** README's "N of the M queries" oracle claim, checked against the
  * registry: every oracle entry names a registered query, and the
  * registered queries without one are exactly the sketches README names.
  */
class RegistryCountSpec extends AnyFunSuite {

  test("README's oracle count and sketch list match the registry") {
    val readme = java.nio.file.Files.readString(java.nio.file.Paths.get("README.md"))
      .replaceAll("\\s+", " ")
    def find(pattern: String): scala.util.matching.Regex.Match =
      pattern.r.findFirstMatchIn(readme).getOrElse(fail(s"README lacks /$pattern/"))
    val claim = find("""(\d+) of the (\d+) queries in `SparkEntry\.queries`""")
    val (oracled, total) = (claim.group(1).toInt, claim.group(2).toInt)
    val sketches = find("""the (\d+) rest are approximate sketches (.*?) and are error-envelope""")
    val named = "`([a-z0-9_]+)`".r.findAllMatchIn(sketches.group(2)).map(_.group(1)).toSet

    val queries = SparkEntry.queries.keySet
    val oracle = SparkEntry.oracleSql.keySet
    assert(queries.size === total)
    assert(oracle.subsetOf(queries), s"oracle SQL for unregistered ${oracle -- queries}")
    assert(oracle.size === oracled)
    assert(sketches.group(1).toInt === named.size)
    assert(queries -- oracle === named)
  }
}
