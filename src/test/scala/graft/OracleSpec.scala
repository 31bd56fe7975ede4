package graft

import com.fasterxml.jackson.core.`type`.TypeReference
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.oracle.Oracle

/** The oracle artifact: the `oracle_sql.json` text Verify writes is
  * strict JSON that parses back to exactly the oracle map. Needs no
  * Spark session. */
class OracleSpec extends AnyFunSuite {
  private def parse(json: String): Map[String, String] =
    new ObjectMapper()
      .readValue(json, new TypeReference[java.util.Map[String, String]] {})
      .asScala.toMap

  test("oracle_sql.json parses back to the oracle map, control chars included") {
    assert(parse(Oracle.json()) === Oracle.sql)
    // Jackson rejects raw control chars, so this also proves they are escaped.
    val planted = Oracle.sql + ("planted" -> "SELECT 'a\tb\r\n\"q\" \\ \u0001' AS x")
    assert(parse(Oracle.json(planted)) === planted)
  }
}
