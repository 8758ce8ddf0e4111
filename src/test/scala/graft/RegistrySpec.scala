package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The query registry and the oracle file the correctness gate reads. */
class RegistrySpec extends AnyFunSuite {

  test("registry names are distinct") {
    val names = SparkEntry.registry.map(_._1)
    assert(names.diff(names.distinct).isEmpty)
  }

  test("oracle_sql.json parses back to SparkEntry.oracleSql") {
    def parse(json: String): Map[String, String] =
      new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]]).asScala.toMap
    assert(parse(Verify.oracleJson(SparkEntry.oracleSql)) == SparkEntry.oracleSql)
    val awkward = Map("q\"\\\u0001" -> "a\tb\r\nc\u001f é 😀")
    assert(parse(Verify.oracleJson(awkward)) == awkward)
  }
}
