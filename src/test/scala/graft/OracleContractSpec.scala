package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.oracleSql` and the gate names are a frozen contract:
  * graft.Verify dumps every gate and its oracle SQL for replay, so any
  * restructuring of the gate code must leave both byte-identical. The
  * digests below pin them; a change that is meant to alter the contract
  * has to update them on purpose. */
class OracleContractSpec extends AnyFunSuite {
  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("oracle SQL and gate names are byte-identical to the frozen contract") {
    val sqlDigest = sha256(SparkEntry.oracleSql.toSeq.sorted
      .map { case (name, sql) => name + "\u0000" + sql }.mkString("\n"))
    val gateDigest = sha256(SparkEntry.queries.keys.toSeq.sorted.mkString("\n"))
    assert(sqlDigest ==
      "5ff5606550eca040ecebefb029ad1a6b14336219bad3010ab7ffd4c50c7a6145",
      "oracle SQL changed")
    assert(gateDigest ==
      "41fdc0d6c50a4dffa4704a26fc42cd4e1896bc0fabc61cc1c1c5b9dc1940b2e1",
      "gate names changed")
  }

  test("oracle_sql.json bytes as Verify writes them are frozen") {
    // the exact string graft.Verify serialises: map iteration order, not
    // sorted, so a change to how the map is built shows up here too
    def q(s: String): String = "\"" + Bench.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    assert(sha256(json) ==
      "7ee51609fcaf9932471dee6aee6f2431640a1165aa04a53fc87100fb15027ead",
      "oracle_sql.json bytes changed")
  }
}
