package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Registry invariants, enforced at test time so a future query-pack
  * addition cannot silently ship outside the correctness gate: every
  * registered query MUST carry a DuckDB oracle (the driver's per-round
  * compare covers exactly the intersection — an oracle-less query would
  * look green forever without ever being checked), and every oracle must
  * point at a real query. A failing run prints the offending names. */
class RegistrySpec extends AnyFunSuite {

  test("every registered query has an oracle, and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty,
      s"queries with NO oracle (unchecked forever): ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty,
      s"oracles without a query (dead weight): ${(o -- q).toSeq.sorted}")
  }

  test("query names are unique across packs (no silent Map collisions)") {
    // SparkEntry.queries is a Map built by concatenating pack maps — a
    // duplicated name would silently drop one implementation. Guard by
    // summing the pack sizes and comparing with the merged size.
    val packs = SparkEntry.packs
    val total = packs.map(_.queries.size).sum
    assert(total == SparkEntry.queries.size,
      "two query packs register the same query name")
    val oracleTotal = packs.map(_.oracles.size).sum
    assert(oracleTotal == SparkEntry.oracleSql.size,
      "two query packs register the same oracle name")
  }

  test("the engine reads only the deployment/path SPARK_GRAFT_* variables") {
    // A/B-only plan switches are deleted, not kept behind env knobs: the
    // DuckDB oracle decides equivalence. A new knob must be a deployment
    // or path setting and be added here deliberately.
    val allowed = Set("CPUS", "SF_DIR", "BENCH_FILTER", "BENCH_OUT",
      "WARM_DIR", "SCALE_NOTES")
    val knob = "SPARK_GRAFT_([A-Z0-9_]+)".r
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no sources at $root")
    val files = java.nio.file.Files.walk(root)
    val found = try {
      files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { f =>
          knob.findAllMatchIn(java.nio.file.Files.readString(f))
            .map(m => m.group(1) -> root.relativize(f).toString)
        }.toSeq
    } finally files.close()
    val stray = found.filterNot { case (name, _) => allowed(name) }
    assert(found.nonEmpty, s"no SPARK_GRAFT_* reads found under $root")
    assert(stray.isEmpty, s"unlisted SPARK_GRAFT_* knobs: ${stray.distinct}")
  }
}
