package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The harness helpers every main shares: the JSON string escape that
  * writes `oracle_sql.json`, the fuzz-file reader and the core-count parse. */
class GraftSessionSpec extends AnyFunSuite {
  import GraftSession.{jstr, parseCpus}

  private val json = new ObjectMapper()

  test("jstr round-trips control characters, quotes, backslashes and non-ASCII through a JSON parser") {
    val specials = "\t\r\n\u0000\"\\é€\u001f\u007f"
    val fixed = Seq(specials, "SELECT 'a\tb'\r\nFROM t -- \"q\" \\ ü", "", "plain")
    // deterministic fuzz: strings drawn from the specials plus random
    // BMP characters outside the surrogate range
    val rnd = new scala.util.Random(7)
    def char(): Char =
      if (rnd.nextInt(3) == 0) specials(rnd.nextInt(specials.length))
      else { val c = rnd.nextInt(0xD800); c.toChar }
    val fuzzed = Seq.fill(500)(String.valueOf(Array.fill(rnd.nextInt(40))(char())))
    (fixed ++ fuzzed).foreach { s =>
      assert(json.readValue(jstr(s), classOf[String]) == s, s"escaped: ${jstr(s)}")
    }
  }

  test("fuzz-file reader keeps only fz* queries, sorted, with SQL intact") {
    val f = java.nio.file.Files.createTempFile("fuzz", ".json")
    try {
      val sqls = Seq("fz002" -> "SELECT 2\tAS x", "fz001" -> "SELECT 'é\\n'", "meta" -> "x")
      java.nio.file.Files.writeString(f,
        sqls.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",\n", "}"))
      assert(FuzzVerify.readQueries(f.toString) ==
        Seq("fz001" -> "SELECT 'é\\n'", "fz002" -> "SELECT 2\tAS x"))
      java.nio.file.Files.writeString(f, """{"meta": "x"}""")
      intercept[IllegalArgumentException](FuzzVerify.readQueries(f.toString))
    } finally java.nio.file.Files.delete(f)
  }

  test("SPARK_GRAFT_CPUS parse accepts a padded positive count and rejects anything else") {
    assert(parseCpus(" 8 ").contains(8))
    assert(parseCpus("32").contains(32))
    Seq("0", "-1", "abc", "4/../x", "", "  ", "4.0").foreach { raw =>
      assert(parseCpus(raw).isEmpty, s"accepted '$raw'")
    }
  }
}
