package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog key: the query it runs and, when the result is
  * hash-exact, the DuckDB SQL the driver compares it against. A
  * rows-only key (ANN, LSH, sketch and trained forms) has no oracle;
  * the driver only checks that it returns rows.
  */
final case class Key(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Key {
  def exact(name: String, run: (SparkSession, String) => DataFrame, sql: String): Key =
    Key(name, run, Some(sql))

  def rowsOnly(name: String, run: (SparkSession, String) => DataFrame): Key =
    Key(name, run, None)

  /** Keys by name; throws, naming each offender, if a name is declared
    * twice — a plain `Map ++` would let one silently shadow the other.
    */
  def byName(keys: Seq[Key]): Map[String, Key] = {
    val dups = keys.groupBy(_.name).collect { case (n, ks) if ks.size > 1 => n }
    require(dups.isEmpty, s"catalog key declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    keys.map(k => k.name -> k).toMap
  }
}
