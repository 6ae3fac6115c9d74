package graft.util

import org.apache.spark.sql.SparkSession

/** What the entry-point mains ([[graft.Bench]], [[graft.Verify]]) share: one
  * session config, one wall-clock timer and one JSON string quote. */
object Driver {
  /** The local session both mains run under: `local[cpus]`, one shuffle
    * partition per core, no UI, UTC session time (so Bench times the same
    * date and timestamp results Verify checks), WARN logging. `conf` adds
    * settings that only one main needs. */
  def session(cpus: String, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wall-clock seconds `body` took. */
  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `s` as a JSON string literal (RFC 8259): quote, backslash and every
    * control char escaped. Paths from the environment and builder-written
    * SQL pass through here, and one tab or CR left raw would make every
    * downstream `json.load` of the file fail. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
