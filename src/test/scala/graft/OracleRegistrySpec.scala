package graft

import java.lang.reflect.Modifier

import org.scalatest.funsuite.AnyFunSuite

/** The query ↔ oracle registry and the shared oracle fragments, checked
  * without a Spark session. `check_correctness.py` walks oracle keys only,
  * so a query that loses its oracle, or an oracle whose key has a typo,
  * would drop out of the correctness gate without an error.
  */
class OracleRegistrySpec extends AnyFunSuite {

  test("every oracle names a query, and only the ML fits go without one") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((oracles -- queries).isEmpty, "oracles without a query")
    assert(queries -- oracles ===
      Set("q40_ml_lr_auc", "q41_ml_rf_auc", "q42_ml_gbt_rmse", "q43_ml_kmeans"))
  }

  test("every OracleSql fragment occurs in at least two rendered oracles") {
    val rendered = SparkEntry.oracleSql.values.toSeq
    // public fragment methods; a parameterised one is rendered at its
    // smallest argument, which every larger rendering contains
    val fragments = OracleSql.getClass.getDeclaredMethods.toSeq
      .filter(m => Modifier.isPublic(m.getModifiers) && !m.getName.contains("$")
        && m.getReturnType == classOf[String])
      .map { m =>
        val args = m.getParameterTypes.toSeq.map {
          case java.lang.Integer.TYPE => Int.box(1)
          case t => fail(s"${m.getName}: unexpected parameter type $t")
        }
        m.getName -> m.invoke(OracleSql, args: _*).asInstanceOf[String]
      }
    assert(fragments.size >= 50, fragments.map(_._1))
    for ((name, text) <- fragments)
      assert(rendered.count(_.contains(text)) >= 2, name)
  }
}
