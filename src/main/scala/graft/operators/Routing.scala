package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Table filtering and rename routing (SURVEY P5/P6, §1.3;
  * `utils/filter/filter.go:18-44` wildcard include/exclude rules;
  * routing rules applied to schema/table/column names before migration).
  */
object Routing {

  /** fnmatch-style wildcard → regex: `*` any run, `?` one char,
    * `[seq]` char class (passed through). Case-insensitive like the
    * reference's matcher.
    */
  private def wildcardRegex(pattern: String): String =
    "(?i)" + pattern.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.^$+{}()|".contains(c) => "\\" + c
      case c => c.toString
    }

  /** Include/exclude table filter: a name passes if it matches any
    * include rule (empty includes = match all) and no exclude rule.
    */
  final case class TableFilter(include: Seq[String], exclude: Seq[String] = Nil) {
    private val inc = include.map(p => wildcardRegex(p).r)
    private val exc = exclude.map(p => wildcardRegex(p).r)
    def matches(name: String): Boolean =
      (inc.isEmpty || inc.exists(_.matches(name))) && !exc.exists(_.matches(name))
    /** Filter a catalog DataFrame by its table_name column. */
    def apply(catalog: DataFrame, nameCol: String = "table_name"): DataFrame = {
      val keep = org.apache.spark.sql.functions.udf((n: String) => matches(n))
      catalog.where(keep(col(nameCol)))
    }
  }
}
