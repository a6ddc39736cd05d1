package graft

import org.scalatest.funsuite.AnyFunSuite

/** A query key is one [[QueryDef]] in the registry; `queries` and
  * `oracleSql` are views of it, and every hand-kept key list elsewhere must
  * name keys the registry defines.
  */
class QueryDefSpec extends AnyFunSuite {

  test("every key name is defined once") {
    val dups = SparkEntry.all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"keys defined more than once: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("every oracle is non-empty and holds no null CTE") {
    SparkEntry.all.foreach { q =>
      q.oracle.foreach { sql =>
        assert(sql.trim.nonEmpty, s"${q.name}: empty oracle")
        // a CTE read before its object finished initializing renders as
        // the word "null" (the oracles spell SQL's NULL in upper case)
        assert("""\bnull\b""".r.findFirstIn(sql).isEmpty,
          s"${q.name}: oracle holds an uninitialized CTE:\n$sql")
      }
    }
  }

  test("queries and oracleSql are derived from the registry") {
    assert(SparkEntry.queries.size == SparkEntry.all.size)
    assert(SparkEntry.oracleSql.size == SparkEntry.all.count(_.oracle.isDefined))
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("the hand-kept key lists name registered keys") {
    Seq("Bench.CalibrationPanel" -> Bench.CalibrationPanel,
      "ScalingBench.PanelKeys" -> ScalingBench.PanelKeys,
      "EmptyInputSpec.globalAggs" -> EmptyInputSpec.globalAggs.toSeq
    ).foreach { case (list, names) =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      assert(unknown.isEmpty, s"$list names unregistered keys: ${unknown.mkString(", ")}")
    }
  }
}
