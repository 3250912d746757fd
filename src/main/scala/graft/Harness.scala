package graft

import org.apache.spark.sql.SparkSession

/** What the dev mains share: the session they run on and the JSON
  * string escape their artifacts are written with. */
object Harness {
  /** `local[n]` with n shuffle partitions, n = `SPARK_GRAFT_CPUS` or else
    * the machine's core count. Catalog state (warehouse, derby) lives
    * under /tmp so no main leaves it in its working directory, and the
    * session time zone is UTC, which `Tables.normalizeEventTs` and the
    * result parquet's TIMESTAMP_NTZ columns assume. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    System.setProperty("derby.system.home", "/tmp/graft_derby")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      // the default FileContext-based checkpoint manager forks a
      // readlink/chmod subprocess per metadata op on the local scheme
      // (no libhadoop.so); the FileSystem-based one stays in the JVM
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A JSON string literal. Escapes backslash, quote and ALL control
    * chars (<0x20): a tab or CR in a gate's oracle SQL or an exception
    * message would otherwise make a consumer's json.load fail. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
