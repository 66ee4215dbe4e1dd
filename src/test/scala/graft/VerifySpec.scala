package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Verify`'s oracle file lists every gate, however narrow the run. */
class VerifySpec extends AnyFunSuite {

  test("oracle_sql.json holds every gate's oracle SQL, verbatim") {
    val out = Files.createTempDirectory("graft_verify_oracle")
    Verify.writeOracleSql(out.toString)
    val json = new ObjectMapper().readTree(out.resolve("oracle_sql.json").toFile)
    val written = json.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    assert(written == SparkEntry.oracleSql)
    assert(SparkEntry.queries.keySet.subsetOf(written.keySet),
      s"gates without oracle SQL: ${SparkEntry.queries.keySet -- written.keySet}")
  }
}
