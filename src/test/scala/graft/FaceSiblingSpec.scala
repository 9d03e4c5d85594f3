package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Machine-checks the coverage invariant that was previously prose in
 * COVERAGE.md: every registered query either has its own DuckDB oracle
 * (the driver hash-compares it) or is a declared production FACE of a
 * named oracle-verified SIBLING. Adding a rows-only query without
 * declaring a sibling — or declaring a sibling that is not itself
 * oracled — fails the build, so the "116/116 hard-oracle-verified"
 * claim cannot silently rot.
 */
class FaceSiblingSpec extends AnyFunSuite {

  private val queries = SparkEntry.queries.keySet
  private val oracled = SparkEntry.oracleSql.keySet
  private val faces = SparkEntry.faceSiblings

  test("every rows-only query is a declared face of an oracled sibling") {
    val rowsOnly = queries -- oracled
    val undeclared = rowsOnly -- faces.keySet
    assert(undeclared.isEmpty,
      s"rows-only queries with no declared oracle sibling: ${undeclared.toSeq.sorted}")
  }

  test("every declared sibling has a DuckDB oracle entry") {
    val unoracledSiblings = faces.values.toSet -- oracled
    assert(unoracledSiblings.isEmpty,
      s"declared siblings without an oracleSql row: ${unoracledSiblings.toSeq.sorted}")
  }

  test("face declarations are not stale (each face exists and is rows-only)") {
    val missing = faces.keySet -- queries
    assert(missing.isEmpty, s"declared faces not in queries: ${missing.toSeq.sorted}")
    val oracledFaces = faces.keySet & oracled
    assert(oracledFaces.isEmpty,
      s"declared faces that now have their own oracle (drop from faceSiblings): " +
        s"${oracledFaces.toSeq.sorted}")
  }

  test("every oracleSql entry has a runnable query") {
    val dangling = oracled -- queries
    assert(dangling.isEmpty,
      s"oracleSql entries with no queries entry: ${dangling.toSeq.sorted}")
  }

  test("every query name is declared once (the maps would collapse a repeat)") {
    val repeated = SparkEntry.specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    assert(repeated.isEmpty, s"query names declared more than once: ${repeated.toSeq.sorted}")
  }
}
