package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the oracle contract: the md5 of [[DumpContract.json]] (the text
  * of `oracle_sql.json`, the DuckDB reference every entry is checked
  * against). A refactor of the shared SQL fragments must leave it
  * byte-identical; a deliberate oracle change updates the pin here and
  * says so in CHANGES.md. Pure map dump — starts no Spark job. */
class ContractPinSpec extends AnyFunSuite {
  private val pinned = "d4c33fe3260bc760dd37cf3c1e07315a"

  test("oracle_sql.json is byte-identical to the pinned contract") {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(DumpContract.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(md5 == pinned,
      "oracle SQL changed: if intended, update the pin and say so in CHANGES.md")
  }
}
