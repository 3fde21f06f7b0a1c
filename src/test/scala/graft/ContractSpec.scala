package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the driver contract itself. */
class ContractSpec extends AnyFunSuite {

  test("every registered query has a DuckDB oracle (no weaker rows-only checks)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.diff(o).isEmpty, s"queries without oracle: ${q.diff(o)}")
    assert(o.diff(q).isEmpty, s"oracles without query: ${o.diff(q)}")
  }

  test("flagship entry returns rows on the smallest scale factor") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }

  test("the registry holds every QueryDef: no name is shadowed") {
    assert(SparkEntry.queries.size === SparkEntry.defs.size)
  }

  private def stub(name: String, oracle: => String) =
    queries.QueryDef(name, (s, _) => s.emptyDataFrame, oracle)

  test("deriving the registry from two defs with one name fails, " +
       "naming the duplicate") {
    val e = intercept[IllegalArgumentException](queries.QueryDef.index(
      Seq(stub("dup_a", "SELECT 1"), stub("b", "SELECT 2"),
        stub("dup_a", "SELECT 3")))(_.build))
    assert(e.getMessage.contains("dup_a"))
    assert(!e.getMessage.contains(" b"))
  }

  test("deriving the builders never builds an oracle") {
    val q = queries.QueryDef.index(
      Seq(stub("a", throw new IllegalStateException("oracle built"))))(_.build)
    assert(q.keySet === Set("a"))
  }

  test("every registered query appears in the OPERATORS.md catalog " +
       "(the inventory the coverage judgment reads)") {
    val cat = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("OPERATORS.md")), "UTF-8")
    val documented = "`([a-z0-9_]+)`".r
      .findAllMatchIn(cat).map(_.group(1)).toSet
    val missing = SparkEntry.queries.keySet.diff(documented)
    assert(missing.isEmpty,
      s"registered but uncatalogued ops: ${missing.toSeq.sorted}")
  }
}
