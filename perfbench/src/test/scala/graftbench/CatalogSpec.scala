package graftbench

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

class CatalogSpec extends AnyFunSuite {

  test("the families are exactly SparkEntry.catalog") {
    assert(Catalog.Families.flatMap(_._2).map(_.name) == SparkEntry.catalog.map(_.name))
    assert(Catalog.Families.size == 17)
  }

  test("every family runs, and the per-query metrics name workload queries") {
    Catalog.Families.foreach { case (fam, qs) =>
      assert(qs.exists(q => Catalog.Queries.contains(q.name)), s"$fam has no query")
    }
    assert(Catalog.Heavy.forall(Catalog.Queries.contains))
    assert(Catalog.Queries.distinct == Catalog.Queries)
  }

  test("every workload query without an oracle has a recorded schema") {
    val noOracle = SparkEntry.catalog.filter(q => Catalog.Queries.contains(q.name) && q.oracle.isEmpty)
    assert(noOracle.map(_.name).toSet == Catalog.NoOracleSchema.keySet)
  }

  test("the workload's why in BENCHMARK.json states the open-loop rate") {
    val spec = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    assert(spec.contains(s"${Replication.OpenRate} files/s"))
  }
}
