package graft

import graft.queries.{Entry, Registry}

/** Meta-spec for the driver contract: every query the engine claims is
  * one `Entry` carrying its DuckDB oracle, so a query cannot lose its
  * oracle (or an oracle its query) to a rename — the registry rejects a
  * duplicate name instead of silently keeping the last one. */
class EntryContractSpec extends SparkTestBase {

  // pin the exact count so an accidental deletion of a whole entry can't
  // shrink the contract silently. Update alongside intentional additions.
  private val ContractSize = 155

  test("the contract holds exactly the expected number of queries") {
    assert(SparkEntry.queries.size == ContractSize,
      s"query count drifted from $ContractSize — if intentional, " +
        "update ContractSize; if not, a query+oracle pair was dropped")
    assert(SparkEntry.oracleSql.size == ContractSize)
  }

  test("the registry rejects a roster with a duplicate name") {
    val first = SparkEntry.registry.entries.head
    val clash = first.copy(oracle = "SELECT 1")
    val e = intercept[IllegalArgumentException](
      new Registry(SparkEntry.registry.entries :+ clash))
    assert(e.getMessage.contains(first.name))
  }

  test("every entry carries a non-blank oracle") {
    val blank = SparkEntry.registry.entries.collect {
      case Entry(name, _, oracle) if oracle == null || oracle.trim.isEmpty => name
    }
    assert(blank.isEmpty, s"entries without oracle SQL: $blank")
  }

  test("flagship entry returns rows on the smallest scale factor") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // BENCH_r01..r03 all came back `parsed: null`: the harness keeps only
  // the last ~2000 chars of stdout, and the full per-query map overflowed
  // it. Pin the compact line below the window for the REAL query set (plus
  // slack for growth) so adding queries can't silently break parsing again.
  test("bench compact line fits the harness stdout-tail window") {
    // allBenchQueries = contract queries + bench-only extras: the line
    // must fit with EVERYTHING the bench can emit
    val results = Bench.allBenchQueries.keySet.toSeq.sorted
      .map(n => Bench.QTime(n, 123.456789, 123.456789, None))
    val line = Bench.renderCompact(results, "/root/testdata/sf0.1", "32", 3)
    assert(line.length < 1800, s"compact bench line too long: ${line.length}")
    assert(line.startsWith("{") && line.endsWith("}"))
    assert(line.contains("\"n_err\":0"))
    // the r13 incremental checkpoints print partial-marked lines too —
    // on a timed-out run one of THOSE is what the harness parses, so
    // the budget must hold with the marker attached
    val partial = Bench.renderCompact(results, "/root/testdata/sf0.1",
      "32", 3, partial = Some((37, 38)))
    assert(partial.length < 1800,
      s"partial compact line too long: ${partial.length}")
  }

  test("bench line records a failing query as err, not a fast success") {
    val results = Seq(
      Bench.QTime("q_ok", 1.0, 1.0, None),
      Bench.QTime("q_bad", 0.001, 0.001, Some("SparkException: boom")))
    val compact = Bench.renderCompact(results, "sf", "4", 1)
    val full = Bench.renderFull(results, "sf", "4", 1)
    assert(compact.contains("\"n_err\":1"))
    assert(full.contains("\"q_bad\":\"SparkException: boom\""))
    // a failed run must not contribute to the headline total
    assert(full.contains("\"value\":1.0"))
  }

  test("every query builds a plan against sf0.001 (no analysis errors)") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      // plan construction + analysis only — execution is Verify's job
      val schema = fn(spark, dir).schema
      assert(schema.fields.nonEmpty, s"$name produced an empty schema")
    }
  }
}
