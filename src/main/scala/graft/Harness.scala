package graft

import org.apache.spark.sql.SparkSession

/** What the harness mains (Verify, Bench, Plans, ScaleCheck,
  * ScaleCorpus, StreamBench, EntrySmoke) share: one local session, one
  * query-name filter and one JSON string escaper. */
object Harness {

  /** SPARK_GRAFT_CPUS: local slots and shuffle partitions; the host's
    * core count when unset. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every main runs on: `local[cpus]` with as many shuffle
    * partitions, UTC, AQE on, no UI, WARN logging. `extraConf` carries
    * only what one main needs beyond that. */
  def session(extraConf: (String, String)*): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(extraConf.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** SPARK_GRAFT_ONLY=a,b,c: the names a main restricts its run to;
    * None runs all of them. */
  val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Which of the `known` names to run: those in `names` (all when
    * None). A name that is not `known` fails here, at startup, rather
    * than quietly running nothing. */
  def select(known: Iterable[String],
      names: Option[Set[String]] = only): String => Boolean = {
    names.foreach { ns =>
      val unknown = ns -- known
      require(unknown.isEmpty,
        s"unknown queries in SPARK_GRAFT_ONLY: ${unknown.toSeq.sorted.mkString(",")}")
    }
    name => names.forall(_(name))
  }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character escaped, so a tab or CR in a query's SQL or an error
    * message cannot break the reader's `json.load`. */
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
