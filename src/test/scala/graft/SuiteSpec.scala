package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The shared runner's pure parts: query selection, the tranche split and
  * the JSON string escaper. PlanSpec pins that a run leaves the session
  * conf unchanged.
  */
class SuiteSpec extends AnyFunSuite {

  private def names(spec: Option[String]): Seq[String] =
    Suite.select(spec, "TEST").map(_.name)

  test("select: names trimmed, empties dropped, sorted; blank or absent selects every query") {
    assert(names(Some(" filters , ,adamic_adar,")) === Seq("adamic_adar", "filters"))
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(names(None) === all)
    assert(names(Some(" , ")) === all)
  }

  test("select: unknown names are rejected with the names listed") {
    val e = intercept[IllegalArgumentException](
      names(Some("filters,zz_nope, aa_typo")))
    assert(e.getMessage.contains("TEST names unknown queries: aa_typo, zz_nope"))
  }

  test("tranche: ceiling split into contiguous slices; malformed or empty tranches rejected") {
    val ten = (0 until 10).toSeq
    assert(Suite.tranche(ten, "0/3") === (0 until 4))
    assert(Suite.tranche(ten, "1/3") === (4 until 8))
    assert(Suite.tranche(ten, " 2 / 3 ") === Seq(8, 9))
    assert(Suite.tranche(ten, "0/1") === ten)
    val five = (0 until 5).toSeq
    assert(Suite.tranche(five, "2/4") === Seq(4))
    // 5 names at N=4 split 2,2,1 — tranche 3 would be a silent no-op
    val empty = intercept[IllegalArgumentException](Suite.tranche(five, "3/4"))
    assert(empty.getMessage.contains("tranche 3/4 selects no queries"))
    Seq("2", "a/4", "1/2/3", "4/4", "0/0", "-1/4", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](Suite.tranche(five, bad))
      assert(e.getMessage.contains(s"must be i/N with 0 <= i < N, got '$bad'"))
    }
  }

  test("json: quote, backslash and control characters round-trip through a JSON parser") {
    val mapper = new ObjectMapper()
    Seq("plain", "a\"b", "back\\slash", "tab\there", "cr\rlf\n",
      "ctl\u0001\u001f", "\"\\\t\r\u0001").foreach { s =>
      val lit = Suite.json(s)
      assert(!lit.drop(1).dropRight(1).exists(_ < ' '), s"raw control char in $lit")
      assert(mapper.readValue(lit, classOf[String]) === s)
    }
  }
}
