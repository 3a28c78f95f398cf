package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query registry: every operator from SURVEY.md §2 is declared as a named
  * query plus (where SQL-expressible) a DuckDB oracle for the driver's
  * correctness gate. Names are stable across rounds — BENCH_r{N}.json keys
  * off them.
  */
object Registry {
  /** One inventory entry. `oracle` is ANSI SQL DuckDB runs over the same
    * parquet (bare table names, see TESTDATA.md); None → rows-only check. */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  def groups: Seq[Seq[Q]] = Seq(
    RelationalQueries.all,
    RelationalQueries2.all,
    RelationalQueries5.all,
    TextQueries.all,
    SimilarityQueries.all,
    CurationQueries.all,
    PipelineQueries.all,
    LayoutQueries.all,
    BpeQueries.all)

  lazy val all: Seq[Q] = {
    val qs = groups.flatten
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: $dup")
    qs
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
