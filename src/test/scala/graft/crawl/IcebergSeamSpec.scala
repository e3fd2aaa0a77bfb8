package graft.crawl

import org.scalatest.funsuite.AnyFunSuite

/** Golden-text pins for the Iceberg production binding's emitted SQL.
  *
  * The sandbox ships no `iceberg-spark-runtime` jar (verified against
  * /opt/spark/jars), so [[IcebergFrontierStore]] cannot EXECUTE here —
  * it is written entirely against Spark's own `DataFrameWriterV2` /
  * catalog / SQL surface so it compiles without Iceberg. What CAN be
  * falsified offline is the exact text the binding hands to
  * `spark.sql`/`where`, and the partition spec it hands to
  * `partitionedBy` — all routed through [[IcebergFrontierStore.Sql]]
  * pure functions and pinned here verbatim. A change to any emitted
  * string now fails a test instead of silently altering the production
  * seam. The live half of the contract is the one-command cluster
  * smoke test documented in SCALE.md §10.
  */
class IcebergSeamSpec extends AnyFunSuite {
  import IcebergFrontierStore.Sql

  test("fully-qualified names: catalog.namespace.table, commits table name") {
    assert(Sql.fq("prod", "graft", "articles") == "prod.graft.articles")
    assert(Sql.commitsTable == "graft_commits")
    assert(Sql.fq("prod", "graft", Sql.commitsTable) == "prod.graft.graft_commits")
  }

  test("commits DDL is the atomic-commit manifest schema, USING iceberg") {
    // schema must stay in lockstep with commit()'s DataFrame columns:
    // (wave, tbl, rows) + ts — one append row per table per wave
    assert(Sql.commitsDdl("prod.graft.graft_commits") ==
      "CREATE TABLE IF NOT EXISTS prod.graft.graft_commits " +
        "(wave INT, tbl STRING, rows BIGINT, ts TIMESTAMP) USING iceberg")
  }

  test("rollback deletes manifest rows strictly AFTER the kept wave") {
    assert(Sql.rollback("prod.graft.graft_commits", 3) ==
      "DELETE FROM prod.graft.graft_commits WHERE wave > 3")
    // wave -1 = full rollback: every committed wave is > -1
    assert(Sql.rollback("c.n.graft_commits", -1) ==
      "DELETE FROM c.n.graft_commits WHERE wave > -1")
  }

  test("manifest filters: committed probe") {
    assert(Sql.committedFilter(7) == "wave = 7")
  }

  test("data filters: single-wave read and committed-delta IN list") {
    assert(Sql.waveFilter(2) == "_wave = 2")
    assert(Sql.deltaFilter(Seq(0, 1, 2)) == "_wave IN (0,1,2)")
    assert(Sql.deltaFilter(Seq(5)) == "_wave IN (5)")
  }

  test("partition specs: _wave always first; bucket second only for bucket-keyed tables") {
    // _wave first keeps wave-level overwritePartitions/prune coarse;
    // bucket second is what turns the seenurls anti-join's bucket
    // IN-filter into Iceberg partition pruning
    assert(Sql.partitionCols(bucketed = false) == Seq("_wave"))
    assert(Sql.partitionCols(bucketed = true) == Seq("_wave", "bucket"))
  }
}
