package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** Registry hygiene: invariants of the driver contract that need no
  * SparkSession. */
class RegistrySpec extends AnyFunSuite {

  test("every registered query carries a DuckDB oracle (no rows-only checks)") {
    // q55 was the last no_oracle row (closed round 5 via the frozen
    // golden signatures) — a new rows-only query is a regression
    val missing = Registry.all.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty,
      s"queries without an oracle (driver degrades to rows-only): $missing")
  }

  test("query names are unique and follow the qNN_ convention") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size == names.size, "duplicate query names")
    assert(names.forall(_.matches("q\\d{2,3}_[a-z0-9_]+")), {
      val bad = names.filterNot(_.matches("q\\d{2,3}_[a-z0-9_]+"))
      s"non-conforming names: $bad"
    })
  }

  test("oracles end with a deterministic ORDER BY (driver hash compare)") {
    // single-row outputs need no order; everything else must carry one.
    // Allowlist kept minimal and stale-checked like PlanAuditSpec's.
    val singleRow = Set(
      "q57_catalog_staleness", // one staleness report row
      "q81_funnel",            // one funnel row
      "q87_event_interval_join", // one count row
      "q225_metadata_agg")     // one table-wide aggregate row
    val unordered = Registry.all
      .filter(q => q.oracle.exists(!_.toUpperCase.contains("ORDER BY")))
      .map(_.name).toSet
    assert((unordered -- singleRow).isEmpty,
      s"oracles without any ORDER BY: ${unordered -- singleRow}")
    assert((singleRow -- unordered).isEmpty,
      s"stale single-row exemptions (oracle gained an ORDER BY): ${singleRow -- unordered}")
  }

  test("no oracle SQL changed: every oracle's SHA-256 matches golden/oracle_sql.sha256") {
    // The DuckDB oracles are the fixed side of the parity gate: a change
    // to the engine must never edit one to pass. Lines are
    // "<sha256 of SparkEntry.oracleSql(name) as UTF-8>  <name>", sorted
    // by name, with the checkout's absolute path (q55 reads a golden
    // file under it) spelled "<repo>" so the digest holds in any copy.
    // A change that means to add or edit an oracle regenerates the file,
    // from the repo root, out of graft.Verify's oracle_sql.json:
    //   python3 -c 'import hashlib,json,os,sys; d=json.load(open(sys.argv[1])); print("\n".join(hashlib.sha256(d[k].replace(os.getcwd(), "<repo>").encode()).hexdigest() + "  " + k for k in sorted(d)))' <verifyOut>/oracle_sql.json > golden/oracle_sql.sha256
    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.replace(sys.props("user.dir"), "<repo>").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    val golden = Files.readAllLines(Paths.get("golden/oracle_sql.sha256"))
      .asScala.filter(_.nonEmpty).map { line =>
        val Array(hash, name) = line.split("  ", 2)
        name -> hash
      }.toMap
    val now = SparkEntry.oracleSql.map { case (name, sql) => name -> sha256(sql) }
    val changed = (golden.keySet intersect now.keySet).filter(n => golden(n) != now(n))
    assert(changed.isEmpty && golden.keySet == now.keySet,
      s"oracle SQL changed: ${changed.toSeq.sorted}; added: " +
        s"${(now.keySet -- golden.keySet).toSeq.sorted}; removed: " +
        s"${(golden.keySet -- now.keySet).toSeq.sorted}")
  }
}
