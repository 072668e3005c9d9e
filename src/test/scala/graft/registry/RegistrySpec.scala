package graft.registry

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The registry's assembly contract: one record per id, a repeated id
  * fails loudly instead of overwriting a query, and the derived prebuild
  * list runs each fixture helper once.
  */
class RegistrySpec extends AnyFunSuite {

  private def probe(id: String, fixtures: Prebuild*) =
    Query(id, (s, _) => s.emptyDataFrame, _ => "SELECT 1", fixtures)

  test("the assembled registry has 131 distinct ids") {
    val ids = SparkEntry.registry.map(_.id)
    assert(ids.size == 131)
    assert(ids.distinct.size == ids.size, s"repeated: ${ids.diff(ids.distinct)}")
    assert(SparkEntry.queries.keySet == ids.toSet)
  }

  test("assembling a record list with a repeated id throws") {
    val e = intercept[IllegalArgumentException](
      Query.assemble(Seq(probe("q00_probe")), Seq(probe("q01_other"), probe("q00_probe"))))
    assert(e.getMessage.contains("q00_probe"))
  }

  test("the prebuild union holds no fixture helper twice") {
    val union = Query.fixtures(SparkEntry.registry)
    assert(union.nonEmpty)
    val names = union.map(_.name)
    assert(names.distinct.size == names.size, s"declared twice: ${names.diff(names.distinct)}")
    // a helper two records declare enters the union once
    val fx = Prebuild("probe_fixture", (_, _) => ())
    assert(Query.fixtures(Seq(probe("q00_a", fx), probe("q01_b", fx))) == Seq(fx))
  }
}
