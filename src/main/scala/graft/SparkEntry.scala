package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §2 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_feeder_load")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.registry.map(q => q.key -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys are non-SQL-expressible
    * (rows-only check; covered by ScalaTest specs instead). */
  def oracleSql: Map[String, String] =
    Queries.registry.flatMap(q => q.oracle.map(q.key -> _)).toMap

  /** Headline set for Bench (excludes driver-side-fabrication queries
    * like the zip fixture builder and the test-semantics pager). */
  def benchQueries: Seq[String] =
    Queries.registry.filter(_.bench).map(_.key)

  /** `s` as a quoted JSON string for the Bench and Verify records:
    * escapes quote, backslash and ALL control chars (< 0x20) — a tab or
    * CR in builder-authored SQL would otherwise make the driver's
    * json.load fail and silently zero the round's correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
