package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The one JSON string escaper behind the Bench record and Verify's
  * oracle_sql.json: a standard JSON parser must read back exactly the
  * string that went in, control characters and non-ASCII included. */
class JsonStringSpec extends GraftSuite {

  test("jsonString round-trips through a JSON parser") {
    val mapper = new ObjectMapper()
    val inputs = Seq("", "plain", "a\"b", "back\\slash", "line\nbreak",
      "cr\rlf", "tab\there", "ctl\u0001x", "РЕКРУТ",
      "all \" \\ \n \r \t \u0001 РЕКРУТ")
    inputs.foreach { in =>
      val json = SparkEntry.jsonString(in)
      assert(!json.exists(_ < ' '), s"raw control char in $json")
      assert(mapper.readValue(json, classOf[String]) == in, s"round-trip of $json")
    }
  }
}
