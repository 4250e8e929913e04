package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark build over (session,
  * sf directory), and either its DuckDB twin SQL (`Right`, a thunk so
  * that building a query never builds the SQL) or the reason it is
  * checked by row count only (`Left`). */
final case class QuerySpec(name: String, build: QuerySpec.Build,
                           twin: Either[String, () => String])

object QuerySpec {
  type Build = (SparkSession, String) => DataFrame

  /** A query with a DuckDB twin that must return the same rows. */
  def Q(name: String, build: Build)(sql: => String): QuerySpec =
    QuerySpec(name, build, Right(() => sql))

  /** A query whose result no SQL engine can reproduce; `reason` says why. */
  def RowsOnly(name: String, reason: String)(build: Build): QuerySpec =
    QuerySpec(name, build, Left(reason))
}

/** The query registry: one entry per name, in registration order.
  * Construction throws on a repeated name (a `Map` literal would keep
  * the last one silently). `queries` and `oracleSql` are derived once
  * each; only `oracleSql` runs the twin thunks. */
final class QueryRegistry(val specs: Seq[QuerySpec]) {
  locally {
    val repeated = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(repeated.isEmpty,
      s"query registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
  }

  lazy val queries: Map[String, QuerySpec.Build] =
    specs.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    specs.collect { case QuerySpec(n, _, Right(sql)) => n -> sql() }.toMap

  /** The specs named by `only` (all of them when `None`), in
    * registration order. Throws, naming them, when `only` holds a name
    * that is not registered, so a mistyped filter fails before any
    * query runs instead of running nothing. */
  def select(only: Option[Set[String]]): Seq[QuerySpec] = only match {
    case None => specs
    case Some(names) =>
      val unknown = names -- queries.keySet
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      specs.filter(q => names.contains(q.name))
  }
}

object QueryRegistry {
  def apply(specs: QuerySpec*): QueryRegistry = new QueryRegistry(specs)
}
