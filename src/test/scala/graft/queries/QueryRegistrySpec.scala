package graft.queries

import graft.SparkEntry
import graft.queries.QueryPack.registry
import org.scalatest.funsuite.AnyFunSuite

/** The one query list: unique names, an oracle for every query, the
  * negative controls, and the shared query filter of the mains. */
class QueryRegistrySpec extends AnyFunSuite {

  private val controls =
    Set("x_ann_ivf_hier", "x_simhash_pairs", "x_ann_lsh", "x_ann_ivf")

  test("registry names are unique and are SparkEntry's keys") {
    val names = registry.map(_.name)
    assert(names.distinct == names)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("every query carries non-blank oracle SQL") {
    assert(registry.filter(_.oracleSql.trim.isEmpty).map(_.name) == Nil)
  }

  test("the negative controls are exactly the four flagged queries") {
    assert(SparkEntry.negativeControls == controls)
  }

  test("a list with a duplicated name is rejected") {
    val q = registry.head
    val e = intercept[IllegalArgumentException](
      QueryPack.registryOf(q, registry(1), q.copy(oracleSql = "SELECT 1")))
    assert(e.getMessage.contains(s"duplicate query name(s): ${q.name}"))
  }

  test("the query filter rejects unknown names, listed sorted") {
    val e = intercept[IllegalArgumentException](
      QueryPack.filterNames("q1_agg, zz_nope,aa_nope"))
    assert(e.getMessage.contains("unknown query name(s): aa_nope, zz_nope"))
  }

  test("the query filter keeps a named negative control") {
    val only = QueryPack.filterNames(" x_ann_ivf_hier,q1_agg,,")
    assert(only == Set("x_ann_ivf_hier", "q1_agg"))
    // Bench's and PlanDump's selection: controls only when named
    def picked(only: Option[Set[String]]) =
      registry.filter(q => only.fold(!q.negativeControl)(_(q.name))).map(_.name).toSet
    assert(picked(Some(only)) == only)
    assert(picked(None) == registry.map(_.name).toSet -- controls)
  }
}
