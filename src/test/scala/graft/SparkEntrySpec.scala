package graft

import org.scalatest.funsuite.AnyFunSuite

/** Key selection shared by the entry points, and how Verify reports a
  * failed key.
  */
class SparkEntrySpec extends AnyFunSuite {

  private val all = SparkEntry.queries.keySet

  test("no selection, or one naming no key, selects every declared key") {
    assert(SparkEntry.selectKeys(None) === all)
    assert(SparkEntry.selectKeys(Some("")) === all)
    assert(SparkEntry.selectKeys(Some(" , ,")) === all)
  }

  test("a comma-separated list selects exactly its keys, blanks and spaces ignored") {
    assert(SparkEntry.selectKeys(Some(" join_bloom,,ppdb_lookup , ")) ===
      Set("join_bloom", "ppdb_lookup"))
  }

  test("unknown keys throw, listing every unknown key and no known one") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selectKeys(Some("join_blom,ppdb_lookup,nope"))
    }
    assert(e.getMessage.endsWith("unknown query keys: join_blom, nope"), e.getMessage)
  }

  test("Verify describes a failure by class and message, with its root cause") {
    val root = new java.io.IOException()
    val e = new RuntimeException(new IllegalStateException("inner", root))
    val d = Verify.describe(e)
    assert(d.startsWith("java.lang.RuntimeException: java.lang.IllegalStateException: inner"), d)
    assert(d.endsWith("(root cause java.io.IOException: null)"), d)
    assert(Verify.describe(root) === "java.io.IOException")
  }
}
