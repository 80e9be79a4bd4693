package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One served query, declared once: its name, its Spark plan over
  * (session, sf dir), and the DuckDB SQL the driver hash-checks it
  * against — `None` for the rows-only sketch/ANN queries, which their
  * exact twins or accuracy gates cover instead. */
final case class QueryDef(name: String,
                          plan: (SparkSession, String) => DataFrame,
                          oracle: Option[String])

object QueryDef {
  /** name → definition. A name declared twice is refused: a Map built
    * from pairs would keep the last one and silently drop the other. */
  def byName(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val repeated = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(repeated.isEmpty,
      s"query name declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    defs.map(q => q.name -> q).toMap
  }
}
