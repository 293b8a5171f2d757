package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.SimilarityQueries
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `graft.Verify`'s query selection, checked without `Verify.main` (which
  * stops the Spark session): a filtered run covers exactly the named
  * queries, its oracle_sql.json holds exactly their oracles, and a name
  * the registry does not know is refused. */
class VerifySpec extends AnyFunSuite {

  private def oracleKeys(json: String): Map[String, String] = {
    val node = new ObjectMapper().readTree(json)
    node.fieldNames.asScala.map(k => k -> node.get(k).asText).toMap
  }

  test("a filtered Verify runs and writes oracles for exactly the named " +
    "queries") {
    val names = SimilarityQueries.defs.map(_.name).toSet
    val selected = Verify.select(Some(names))
    assert(selected.keySet === names)
    assert(oracleKeys(Verify.oracleJson(selected.keySet)) ===
      SparkEntry.oracleSql.filter { case (k, _) => names(k) })
  }

  test("an unfiltered Verify covers the whole registry and every oracle") {
    val all = Verify.select(None)
    assert(all.keySet === SparkEntry.queries.keySet)
    assert(oracleKeys(Verify.oracleJson(all.keySet)) === SparkEntry.oracleSql)
  }

  test("an unknown query name in the filter is refused") {
    val e = intercept[IllegalArgumentException](
      Verify.select(Some(Set("ann_topk_ivf", "ann_topk_ivff"))))
    assert(e.getMessage.endsWith("unknown queries: ann_topk_ivff"))
  }
}
