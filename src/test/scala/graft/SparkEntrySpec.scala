package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query-name filter Bench and Verify share. */
class SparkEntrySpec extends AnyFunSuite {

  test("select: no names select every query") {
    assert(SparkEntry.select(Nil).keySet == SparkEntry.queries.keySet)
  }

  test("select: an include list selects exactly the named queries") {
    assert(SparkEntry.select(Seq("q1_pricing,q6_revenue")).keySet ==
      Set("q1_pricing", "q6_revenue"))
    assert(SparkEntry.select(Seq("q1_pricing", "q6_revenue")).keySet ==
      Set("q1_pricing", "q6_revenue"))
  }

  test("select: a leading '-' makes the list an exclude list") {
    val all = SparkEntry.queries.keySet
    assert(SparkEntry.select(Seq("-q1_pricing,q6_revenue")).keySet ==
      all -- Set("q1_pricing", "q6_revenue"))
  }

  test("select: unknown names fail loudly in both forms, listing each") {
    for (arg <- Seq("q1_pricng,q6_revenue,zz_nope", "-q1_pricng,q6_revenue,zz_nope")) {
      val e = intercept[IllegalArgumentException](SparkEntry.select(Seq(arg)))
      assert(e.getMessage.contains("q1_pricng, zz_nope"), e.getMessage)
    }
  }
}
