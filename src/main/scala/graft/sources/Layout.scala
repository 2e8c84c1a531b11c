package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The declared columns of one parquet dataset: a table, or an index
  * artifact whose writer and reader share it so the two cannot
  * disagree. A writer selects exactly these columns at exactly these
  * types; a reader scans with this schema instead of inferring one,
  * which would cost a footer-reading Spark job per read. Partition
  * columns come last, as a partitioned read returns them.
  */
final case class Layout(ddl: String) {
  val schema: StructType = StructType.fromDDL(ddl)

  def conform(df: DataFrame): DataFrame =
    df.select(schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)

  def read(s: SparkSession, path: String): DataFrame = s.read.schema(schema).parquet(path)
}
