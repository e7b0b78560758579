package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry consistency, checked without a Spark session. */
class RegistrySpec extends AnyFunSuite {

  test("every oracle key names a registered query") {
    // A dangling oracle is how a silently dropped query would hide
    // behind a wrong correctness denominator.
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracle keys without queries: ${dangling.mkString(",")}")
  }
}
