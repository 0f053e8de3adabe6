package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session is wired: the engine's planner rules
  * (`GraftExtensions`), the `lance` catalog, and the config `graft.Bench`
  * is graded under. Every main and the test suites build their session
  * here, so a tool's numbers and plans are the bench's numbers and plans.
  * The benchmark harness's `session` (`lancebench/.../Main.scala`) mirrors
  * this config and keeps its own copy, since it builds as a separate
  * project.
  *
  * Also holds the small helpers the mains share: the `SPARK_GRAFT_CPUS`
  * parse, the JSON string escape and the one-line root cause.
  */
object GraftSession {

  /** A `local[cpus]` session with one shuffle partition per core.
    * `compressShuffle` is off for sf0.1-sized runs (tmpfs-fast disks: the
    * codec CPU is the bottleneck) and on for decade runs, which are
    * disk-bound (d28's pair dump sorts ~560M rows at sf10; uncompressed,
    * the spill exhausts the disk). */
  def local(cpus: Int, compressShuffle: Boolean = false): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.lance", "graft.sources.lance.LanceCatalog")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // single-file testdata tables: split scans at row-group grain so a
      // 10x-SF table still fans out across cores (at cluster scale the
      // many-files default of 128m is right; this matches the fixtures'
      // one-file-per-table layout)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // runtime coalescing + skew-join are the 100 TB posture
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // local-mode floor trim: no locality wait (single host)
      .config("spark.locality.wait", "0")
      .config("spark.shuffle.compress", compressShuffle.toString)
      .config("spark.shuffle.spill.compress", compressShuffle.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A positive core count, or None (blank, zero, negative, not a number). */
  def parseCpus(raw: String): Option[Int] = raw.trim.toIntOption.filter(_ > 0)

  /** `SPARK_GRAFT_CPUS`, or `default` when unset; an invalid value prints
    * the usage line and exits 2. */
  def cpus(default: Int): Int = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)
    parseCpus(raw).getOrElse {
      System.err.println(
        s"usage: SPARK_GRAFT_CPUS must be a positive integer core count (got '$raw')")
      sys.exit(2)
    }
  }

  /** JSON string literal: escapes quote, backslash and ALL control chars
    * (< 0x20) — a tab or CR in a query's SQL must reach `oracle_sql.json`
    * intact, or the oracle runs different SQL from the one Spark ran. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Class plus the first two message lines (≤ 300 chars): the root cause
    * a reader needs, on one line so a tail of stdout keeps it. */
  def rootLine(t: Throwable): String = {
    val msg = Option(t.getMessage).getOrElse("").linesIterator.take(2).mkString(" ").take(300)
    s"${t.getClass.getSimpleName}: $msg"
  }
}
