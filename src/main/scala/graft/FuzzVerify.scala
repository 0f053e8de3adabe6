package graft

import graft.GraftSession.{jstr, rootLine}
import scala.jdk.CollectionConverters._

/** Differential-fuzzing runner: executes a generated common-subset SQL set
  * (scripts/fuzzgen.py) through `spark.sql` and dumps results in the same
  * layout `graft.Verify` uses — each query's SQL text doubles as its own
  * DuckDB oracle, so `scripts/selfcheck.py` compares the two engines
  * value-for-value with zero extra plumbing.
  *
  * Not part of the driver contract: this is the repo's own confidence
  * harness for the relational surface (the FtsSpec randomized-differential
  * idea, generalized to SQL). Usage:
  *
  *   python3 scripts/fuzzgen.py 42 150 /tmp/fuzz.json
  *   sbt "runMain graft.FuzzVerify /root/testdata/sf0.01 /tmp/fuzzout /tmp/fuzz.json"
  *   python3 scripts/selfcheck.py /root/testdata/sf0.01 /tmp/fuzzout
  */
object FuzzVerify {
  /** The `fz*` queries of a fuzzgen.py file (a flat {"name": "sql"} JSON
    * object), sorted by name; fails when there are none. */
  def readQueries(queryFile: String): Seq[(String, String)] = {
    val all = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(queryFile), classOf[java.util.Map[String, Object]])
    val qs = all.asScala.toSeq.collect {
      case (name, sql: String) if name.startsWith("fz") => name -> sql
    }.sortBy(_._1)
    require(qs.nonEmpty, s"no fz* queries parsed from $queryFile")
    qs
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, queryFile) = (args(0), args(1), args(2))
    val spark = GraftSession.local(GraftSession.cpus(8))
    Tables.register(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    val qs = readQueries(queryFile)

    var failed = 0
    qs.foreach { case (name, sql) =>
      try spark.sql(sql).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[fuzz] $name failed: ${rootLine(e)}")
      }
    }
    // oracle_sql.json: identity — the query IS its own oracle
    val json = qs.map { case (n, s) => s"${jstr(n)}: ${jstr(s)}" }
      .mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "oracle_sql.json"), json.getBytes("UTF-8"))
    println(s"[fuzz] ran ${qs.size} queries, $failed spark-side failures")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
