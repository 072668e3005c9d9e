package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A fixture helper registry queries read, named after its fixture
  * directory; `build` makes the fixture current for an sfDir. */
final case class Prebuild(name: String, build: (SparkSession, String) => Any)

/** One registry query, side by side: `id` (`q<NN>_<what>`), `build`
  * (`(spark, sfDir) => result`), `oracle` (`sfDir => SQL` DuckDB runs over
  * the same tables; sfDir matters only to oracles that read an SF-scoped
  * fixture) and the `fixtures` `build` reads, which
  * [[graft.SparkEntry.prebuildFixtures]] builds untimed.
  */
final case class Query(
    id: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String => String,
    fixtures: Seq[Prebuild] = Nil)

object Query {

  /** The records of every family, in order. A repeated id throws instead
    * of letting one query overwrite another.
    */
  def assemble(families: Seq[Query]*): Seq[Query] = {
    val all = families.flatten
    val repeated = all.groupBy(_.id).collect { case (id, qs) if qs.size > 1 => id }
    require(repeated.isEmpty, s"repeated registry ids: ${repeated.toSeq.sorted.mkString(", ")}")
    all
  }

  /** The ordered, duplicate-free union of `queries`' fixtures. */
  def fixtures(queries: Seq[Query]): Seq[Prebuild] = queries.flatMap(_.fixtures).distinct
}
